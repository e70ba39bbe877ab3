"""``live``: a closed loop of ingest-then-search rounds.

One epoch is a fresh warehouse and ``ROUNDS`` rounds. Each round
appends a small pages delta, runs ``Pipeline.run``, rebinds the HTTP
server to the just-committed sinks (``serve_background`` binds one
frame) and sends a fixed request mix from one client: a filtered
search, a narrow-window search, that filtered search's cursor page 2,
and facets. Per-round fixed costs dominate: rollback and manifest
reads, the aggregate recomputed over all sink state, and searches over
every routed file. Latencies grow with the round, so every epoch runs
the same number of rounds. Three rounds of 500 pages are far fewer
than the long-lived service this stands for, cut to fit the run
budget: each round writes 3 routed files, so the round-3 searches read
only 9. Search latency still about doubles from round 1 to round 3.
"""

from __future__ import annotations

import http.client
import json
import os
import time
from contextlib import nullcontext

from logzilla_spark import server
from logzilla_spark.operators.route import read_all_sinks

from perfbench import logs

ROUNDS = 3
PAGES_PER_ROUND = 500
LIMIT = 50
COLUMNS = ["id", "timestamp", "level", "source", "message", "category"]
WEEK = {"start": "2024-01-01T00:00:00Z", "end": "2024-01-08T00:00:00Z"}
SEARCH = {
    **WEEK,
    "node": {"or": [
        {"field": "level", "op": "eq", "value": "ERROR"},
        {"field": "message", "op": "like", "value": "%timeout%"},
    ]},
    "limit": LIMIT,
    "select_columns": COLUMNS,
}
NARROW = {
    "start": "2024-01-03T10:00:00Z",
    "end": "2024-01-03T11:00:00Z",
    "limit": LIMIT,
    "select_columns": COLUMNS,
}
FACETS = {**WEEK, "facets": ["level", "source"], "histogram": "hour", "top_k": 10}


def setup(bench) -> dict:
    n_total = ROUNDS * PAGES_PER_ROUND
    deltas = []
    os.makedirs(bench.path("pages"))
    for r in range(ROUNDS):
        path = bench.path("pages", f"delta-{r:03d}.parquet")
        logs.write_pages(
            bench.spark, path, PAGES_PER_ROUND,
            start=bench.seed * n_total + r * PAGES_PER_ROUND,
        )
        deltas.append(path)
    state = {
        "deltas": deltas,
        "glob": bench.path("pages", "delta-*.parquet"),
        "epochs": 0,
        "probes": {},
        "oracles": {},
        "samples": {"fresh": [], "search": [], "facets": []},
    }
    t0 = time.perf_counter()
    _epoch(bench, state, rounds=1, record=False)  # warm-up
    bench.put("warmup_s", time.perf_counter() - t0, "s")
    return state


def post(port: int, path: str, body: dict) -> tuple[float, int, dict]:
    """One client-timed request on a fresh loopback connection."""
    data = json.dumps(body).encode()
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, body=data, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        payload = resp.read()
    finally:
        conn.close()
    return time.perf_counter() - t0, resp.status, json.loads(payload)


def _requests(bench, port: int, traced: bool) -> list[tuple[str, float, dict, dict]]:
    """The fixed mix; returns (kind, latency, response, body) per
    successful request."""
    tracer = bench.tracer
    out = []
    page1 = None
    for kind, path, body in (
        ("search", "/api/logs/search", SEARCH),
        ("narrow", "/api/logs/search", NARROW),
        ("page2", "/api/logs/search", None),
        ("facets", "/api/logs/facets", FACETS),
    ):
        if kind == "page2":
            cursor = page1 and page1["metadata"]["cursor"]
            if not cursor:
                bench.op(False, "search page 1 returned no cursor")
                continue
            body = {**SEARCH, "cursor": cursor}
        with tracer.span(f"request.{kind}") if traced else nullcontext() as rs:
            if traced:
                tracer.remote_parent = rs["id"]
            try:
                dt, status, payload = post(port, path, body)
            finally:
                if traced:
                    tracer.remote_parent = None
        ok = status == 200 and payload.get("success") is True
        if bench.op(ok, f"{kind}: HTTP {status} {payload.get('message')}"):
            out.append((kind, dt, payload, body))
            if kind == "search":
                page1 = payload
    return out


def _epoch(bench, state: dict, traced: bool = False, rounds: int = ROUNDS,
           record: bool = True) -> list[float]:
    spark, tracer = bench.spark, bench.tracer
    e = state["epochs"]
    state["epochs"] += 1
    pipe = logs.new_pipeline(spark, bench.path(f"epoch{e}"))
    walls, fresh, lat, last = [], [], [], []
    for r in range(rounds):
        op = f"epoch{e}.round{r}"
        delta = state["deltas"][r]
        if traced:
            state["probes"][op] = logs.prefix_probe(spark, pipe, delta)
            tracer.op, tracer.enabled = op, True
        try:
            with tracer.span("round") if traced else nullcontext():
                t0 = time.perf_counter()
                with tracer.span("ingest") if traced else nullcontext():
                    pipe.ingest_pages(spark.read.parquet(delta))
                pipe.run()
                fresh.append(time.perf_counter() - t0)
                with tracer.span("bind") if traced else nullcontext():
                    srv, thread = server.serve_background(read_all_sinks(spark, pipe.cat))
                try:
                    last = _requests(bench, srv.server_address[1], traced)
                    walls.append(time.perf_counter() - t0)
                finally:
                    srv.shutdown()
                    srv.server_close()
                    thread.join()
        finally:
            if traced:
                tracer.enabled = False
                state["probes"][op]["files_live"] = logs.files_live(pipe.cat)
        bench.op(True, "")
        lat.extend((k, dt) for k, dt, _, _ in last)
    bad = _check(state, pipe, last, rounds)
    if bad:
        bench.fail(rounds, f"epoch {e}: " + "; ".join(bad))
    elif record and not traced:
        s = state["samples"]
        s["fresh"].extend(fresh)
        s["search"].extend(dt for k, dt in lat if k != "facets")
        s["facets"].extend(dt for k, dt in lat if k == "facets")
    return walls


def _check(state: dict, pipe, last: list, rounds: int) -> list[str]:
    """Sinks and aggregates against the oracle over the pages appended
    so far (the warm-up's first delta, or all of them); the last
    round's search hits against the search oracle."""
    pages = state["glob"] if rounds == ROUNDS else state["deltas"][0]
    if pages not in state["oracles"]:
        state["oracles"][pages] = logs.PagesOracle(pages)
    bad = state["oracles"][pages].check(pipe)
    for kind, _dt, payload, body in last:
        if kind != "facets" and logs.hit_rows(payload, COLUMNS) != logs.search_oracle_rows(
            pages, body
        ):
            bad.append(f"{kind}: hits differ from the search oracle")
    return bad


def measure(bench, state: dict) -> None:
    bench.run_ops(lambda traced: _epoch(bench, state, traced), min_ops=ROUNDS)
    s = state["samples"]
    if s["fresh"]:  # none when every epoch failed its check
        bench.put_timing("fresh", s["fresh"], "s")
        bench.put_timing("search", s["search"], "ms", scale=1000)
        bench.put_timing("facets", s["facets"], "ms", scale=1000)
    bench.put("rounds_per_epoch", ROUNDS, "rounds")
    bench.put("pages_per_round", PAGES_PER_ROUND, "pages")


def layers(bench, state: dict, per_span: dict, plans: dict) -> dict:
    return logs.layer_metrics(bench.tracer.spans, state["probes"], per_span, plans)
