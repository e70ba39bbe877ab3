"""Log-pipeline pieces of the ``live`` workload: seeded pages inputs,
the DuckDB oracle check of routed sinks and windowed aggregates, and
the pipeline layers' spans and roll-up."""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from logzilla_spark import api, oracle, server, testdata
from logzilla_spark.operators.parse import (
    explode_lines,
    hybrid_needs_python,
    parse_records,
)
from logzilla_spark.operators.enrich import enrich_records
from logzilla_spark.operators.query import search_oracle_sql
from logzilla_spark.operators.route import sink_name
from logzilla_spark.plans import pipeline
from logzilla_spark.sources.catalog import LocalCatalog

from perfbench.common import median, noop_write, timed
from perfbench.tracing import engine_counters, files_read, self_times


def write_pages(spark, path: str, n: int, start: int) -> None:
    """Pages ``start .. start+n-1`` to parquet; the read-back count
    must equal ``n``."""
    pdf = testdata.generate_pages_pdf(n, start=start)
    table = pa.Table.from_pandas(
        pdf, schema=testdata._pages_arrow_schema(), preserve_index=False
    )
    pq.write_table(table, path, row_group_size=testdata.PAGES_ROW_GROUP)
    got = spark.read.parquet(path).count()
    if got != n:
        raise RuntimeError(f"{path}: read back {got} pages, wrote {n}")


def new_pipeline(spark, warehouse: str) -> pipeline.Pipeline:
    """A product-default Pipeline (hybrid parse) over an empty warehouse."""
    pipe = pipeline.Pipeline(spark, LocalCatalog(warehouse))
    pipe.set_dims(
        spark.createDataFrame(testdata.dim_lang_pdf()),
        spark.createDataFrame(testdata.dim_severity_pdf()),
    )
    return pipe


def table_files(cat: LocalCatalog, name: str) -> list[str]:
    sid = cat.last_snapshot_id(name)
    if sid is None:
        return []
    return [f for g in cat._groups(name, sid) for f in g["files"]]


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


class PagesOracle:
    """DuckDB's routed counts and windowed aggregates over the same
    pages parquet (a path or glob) the pipeline ingested."""

    def __init__(self, pages: str):
        con = _duck()
        self.pages = pages
        self.route = {
            c: (n, ids) for c, n, ids in con.sql(oracle.route_counts_sql(pages)).fetchall()
        }
        self.windows = Counter(con.sql(oracle.windowed_counts_sql(pages)).fetchall())

    def check(self, pipe: pipeline.Pipeline) -> list[str]:
        """Mismatches between the committed sinks/aggregates and the oracle."""
        con = _duck()
        bad = []
        got_windows: Counter = Counter()
        for c in pipe.categories:
            files = table_files(pipe.cat, sink_name(c))
            got = (0, 0)
            if files:
                got = con.sql(
                    "SELECT count(*), count(DISTINCT id) FROM read_parquet($f)",
                    params={"f": files},
                ).fetchone()
            if got != self.route.get(c, (0, 0)):
                bad.append(f"sink {c}: rows/ids {got} != oracle {self.route.get(c)}")
            agg = table_files(pipe.cat, f"agg_{c}")
            if agg:
                got_windows.update(con.sql(
                    "SELECT CAST(window_start AS TIMESTAMP), CAST(window_end AS TIMESTAMP),"
                    " category, level, lang, n FROM read_parquet($f)",
                    params={"f": agg},
                ).fetchall())
        if got_windows != self.windows:
            diff = (got_windows - self.windows) + (self.windows - got_windows)
            bad.append(f"windowed aggregates: {sum(diff.values())} rows differ")
        return bad


def search_oracle_rows(pages: str, body: dict) -> list[tuple]:
    """The oracle's hits for a search body, as the server serializes them."""
    q = api.decode_query(json.dumps(body))
    sql = f"WITH {oracle.records_cte(pages)}\n{search_oracle_sql('records', q)}"
    con = _duck()
    return [tuple(str(v) for v in r) for r in con.sql(sql).fetchall()]


def hit_rows(resp: dict, columns: list[str]) -> list[tuple]:
    return [tuple(str(h[c]) for c in columns) for h in resp["data"]]


# --------------------------------------------------------------------------
# tracing: spans on the pipeline layers, prefix probes, roll-up
# --------------------------------------------------------------------------


def instrument(tracer) -> None:
    """Wrap the pipeline, routing, aggregate, catalog and API entry points."""
    def table_arg(i):
        return lambda sp, a, kw, out: sp.update(table=kw.get("name", a[i] if len(a) > i else None))

    def routed(sp, a, kw, snaps):
        cat = a[1]
        files = [f for c, sid in snaps.items() for f in cat._groups(sink_name(c), sid)[-1]["files"]]
        sp.update(files=len(files), bytes=sum(os.path.getsize(f) for f in files))

    def ran(sp, a, kw, rep):
        sp.update(routed=sum(rep.rows_routed.values()))

    def hits(sp, a, kw, resp):
        sp.update(hits=len(resp.get("data") or []))

    tracer.wrap(pipeline.Pipeline, "run", "pipeline.run", ran)
    tracer.wrap(pipeline, "route_to_sinks_single_pass", "route.write", routed)
    tracer.wrap(pipeline, "windowed_counts", "aggregate.plan")
    tracer.wrap(LocalCatalog, "append", "catalog.append", table_arg(2))
    tracer.wrap(LocalCatalog, "append_external", "catalog.append", table_arg(1))
    tracer.wrap(LocalCatalog, "overwrite", "catalog.overwrite", table_arg(2))
    tracer.wrap(LocalCatalog, "_stage_write", "catalog.stage_write", table_arg(2))
    tracer.wrap(LocalCatalog, "read", "catalog.read", table_arg(2))
    tracer.wrap(LocalCatalog, "read_incremental", "catalog.read", table_arg(2))
    tracer.wrap(LocalCatalog, "rollback", "catalog.rollback", table_arg(1))
    # the server resolves search_request at import and facets_request
    # at call time, so each is wrapped where the server looks it up
    tracer.wrap(server, "search_request", "api.search", hits)
    tracer.wrap(api, "facets_request", "api.facets")


def prefix_probe(spark, pipe: pipeline.Pipeline, pages: str) -> dict:
    """Parse and enrich run lazily inside the routing write, so their
    cost is measured apart, before the op, as noop materializations of
    growing prefixes over the delta's rows: scan, +parse, +enrich.
    Also counts lines, rows that cross into the Python parser, and
    rows parsed ok."""
    delta = spark.read.parquet(pages)
    parsed = parse_records(delta, impl=pipe.parse_impl, use_html=pipe.use_html)
    enriched = enrich_records(
        parsed,
        pipe.cat.read(spark, "dim_lang"),
        pipe.cat.read(spark, "dim_severity"),
    )
    scan_s, _ = timed(noop_write, delta)
    parse_s, _ = timed(noop_write, parsed)
    enrich_s, _ = timed(noop_write, enriched)
    lines = explode_lines(delta, use_html=pipe.use_html)
    return {
        "scan_s": scan_s,
        "parse_prefix_s": parse_s,
        "enrich_prefix_s": enrich_s,
        "lines": lines.count(),
        "python_rows": lines.filter(hybrid_needs_python(lines["line"])).count(),
        "parsed_ok": parsed.filter("parse_ok").count(),
    }


def files_live(cat: LocalCatalog) -> int:
    return sum(len(table_files(cat, t)) for t in cat.tables())


def layer_metrics(spans: list[dict], probes: dict[str, dict], per_span: dict,
                  plans: dict) -> dict:
    """Per-layer metrics of the traced ops, as means per op.

    ``probes``: op -> prefix-probe results plus ``files_live``;
    ``per_span``: span id -> event-log task counters;
    ``plans``: span id -> the SQL plans its queries ran.
    """
    selft = self_times(spans)
    ops = sorted(probes)
    per_op: dict[str, Counter] = {op: Counter() for op in ops}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    requests = []
    for s in spans:
        if "end" not in s or s.get("op") not in per_op:
            continue
        c = per_op[s["op"]]
        name = s["name"]
        if name == "pipeline.run":
            c["pipeline.run_s"] += dur(s)
            c["pipeline.self_s"] += selft[s["id"]]
            c["routed"] += s.get("routed", 0)
        elif name == "route.write":
            c["route.self_s"] += selft[s["id"]]
            c["route.files_written"] += s.get("files", 0)
            c["route.bytes_written"] += s.get("bytes", 0)
        elif name == "catalog.stage_write" and str(s.get("table")).startswith("agg_"):
            c["aggregate.s"] += dur(s)
            c["aggregate.rows_reread"] += per_span.get(s["id"], Counter())["input_records"]
        elif name == "aggregate.plan":
            c["aggregate.s"] += dur(s)
        elif name in ("catalog.append", "catalog.overwrite", "catalog.read", "catalog.rollback"):
            c[name + ".s"] += selft[s["id"]]
        elif name.startswith("api."):
            requests.append(s)
    for op in ops:
        c, p = per_op[op], probes[op]
        c["parse.self_s"] = p["parse_prefix_s"] - p["scan_s"]
        c["enrich.self_s"] = p["enrich_prefix_s"] - p["parse_prefix_s"]
        c["route.write_s"] = c.pop("route.self_s", 0) - p["enrich_prefix_s"]
        c["parse.lines"] = p["lines"]
        c["parse.python_rows"] = p["python_rows"]
        c["parse.ok_ratio"] = p["parsed_ok"] / p["lines"] if p["lines"] else 0
        c["catalog.files_live"] = p["files_live"]
        c["aggregate.reread_per_delta_row"] = (
            c["aggregate.rows_reread"] / c["routed"] if c["routed"] else 0
        )
        c.pop("routed", None)
    out: dict = defaultdict(float, engine_counters(spans, per_span))
    for op in ops:
        for k, v in per_op[op].items():
            out[k] += v / len(ops)
    if requests:
        by_id = {s["id"]: s for s in spans}
        searches = [s for s in requests if s["name"] == "api.search"]
        scanned = sum(per_span.get(s["id"], Counter())["input_records"] for s in searches)
        n_hits = sum(s.get("hits", 0) for s in searches)
        out["api.request.s"] = sum(dur(s) for s in requests) / len(requests)
        out["query.rows_scanned_per_hit"] = scanned / n_hits if n_hits else 0
        out["server.overhead_ms"] = 1000 * median(
            [dur(by_id[s["parent"]]) - dur(s) for s in requests]
        )
        if searches:
            out["query.files_read"] = sum(
                files_read(p) for s in searches for p in plans.get(s["id"], [])
            ) / len(searches)
    return dict(out)
