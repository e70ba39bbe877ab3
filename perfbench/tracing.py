"""Spans around the engine's public entry points, and their roll-up.

Spans are recorded from the benchmark process only: :class:`Tracer`
wraps module and class attributes of ``logzilla_spark`` for the
duration of a traced run and restores them afterwards, so no engine
code changes. Each span tags the Spark jobs it launches with its own
job group; after the session stops, :func:`read_event_log` sums the
event log's task metrics and SQL plan metrics per job group, which
attributes CPU, GC, shuffle, spill, task counts and plan row counts
to the span that caused them.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter, defaultdict

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb-span-"


class Tracer:
    """In-memory span recorder; written out once, at the end of a run.

    A span records name, start, end, parent id, the op (round or pass)
    it belongs to, and free-form attributes. Parents follow
    the calling thread's span stack; a span opened on a thread with an
    empty stack (an HTTP handler thread) takes ``remote_parent``, the
    client-side request span that caused it.
    """

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self.remote_parent: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self._compile_ns = codegen.CodeGenerator.compileTime

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` by a spanned call while tracing is on.

        ``on_exit(span, args, kwargs, result)`` may add attributes.
        """
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_exit is not None:
                    on_exit(sp, args, kwargs, out)
                return out

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer = tracer
        self.rec = {"name": name, **attrs}

    def __enter__(self) -> dict:
        t = self.tracer
        if not t.enabled:
            return self.rec
        stack = t._stack()
        with t._lock:
            sid = len(t.spans)
            t.spans.append(self.rec)
        self.rec.update(
            id=sid,
            parent=stack[-1]["id"] if stack else t.remote_parent,
            op=t.op,
        )
        stack.append(self.rec)
        t.spark.sparkContext.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        self._compile0 = t._compile_ns()
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if "id" not in self.rec:
            return
        self.rec["end"] = time.perf_counter()
        self.rec["compile_s"] = (t._compile_ns() - self._compile0) / 1e9
        stack = t._stack()
        stack.pop()
        parent_group = f"{GROUP_PREFIX}{stack[-1]['id']}" if stack else None
        t.spark.sparkContext.setLocalProperty(GROUP_KEY, parent_group)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover.

    Children of one span run one after another (one client, one
    thread per request), so their durations are summed.
    """
    child = Counter()
    for s in spans:
        if "end" in s and s.get("parent") is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {
        s["id"]: (s["end"] - s["start"]) - child[s["id"]]
        for s in spans
        if "end" in s
    }


def span_table(spans: list[dict], per_span: dict) -> list[dict]:
    """One row per span name: calls, total and self seconds, codegen
    compile seconds and Spark counters; largest self time first."""
    selft = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        if "end" not in s:
            continue
        r = rows.setdefault(s["name"], {
            "span": s["name"], "calls": 0, "total_s": 0.0, "self_s": 0.0,
            "compile_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        })
        r["calls"] += 1
        r["total_s"] += s["end"] - s["start"]
        r["self_s"] += selft[s["id"]]
        r["compile_s"] += s["compile_s"]
        ev = per_span.get(s["id"])
        if ev:
            r["cpu_s"] += ev["cpu_ns"] / 1e9
            r["gc_s"] += ev["gc_ms"] / 1e3
            r["tasks"] += ev["tasks"]
            r["shuffle_write_bytes"] += ev["shuffle_write_bytes"]
            r["spill_bytes"] += ev["spill_bytes"]
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def engine_counters(spans: list[dict], per_span: dict) -> dict:
    """Spark task counters and codegen compile time, as means per op."""
    ops = {s["op"] for s in spans if s.get("op") is not None}
    out = Counter()
    for s in spans:
        if s.get("parent") is None and "compile_s" in s:
            out["jvm.codegen_compile_s"] += s["compile_s"]
        ev = per_span.get(s.get("id"))
        if ev:
            out["spark.cpu_s"] += ev["cpu_ns"] / 1e9
            out["spark.gc_s"] += ev["gc_ms"] / 1e3
            out["spark.shuffle_write_bytes"] += ev["shuffle_write_bytes"]
            out["spark.spill_bytes"] += ev["spill_bytes"]
            out["spark.tasks"] += ev["tasks"]
    return {k: v / max(1, len(ops)) for k, v in out.items()}


# --------------------------------------------------------------------------
# event log roll-up
# --------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def read_event_log(path: str) -> tuple[dict[int, Counter], dict[int, list[dict]]]:
    """Per span id: summed task metrics, and the final SQL plans
    (with summed metric values) of the queries the span ran."""
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    plans: dict[int, dict] = {}
    accum: Counter = Counter()
    per_span: dict[int, Counter] = defaultdict(Counter)

    def span_of(props: dict) -> int | None:
        g = (props or {}).get(GROUP_KEY) or ""
        return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = sid
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sid = span_of(props)
                eid = props.get("spark.sql.execution.id")
                if sid is not None and eid is not None:
                    exec_span.setdefault(int(eid), sid)
            elif kind == "SparkListenerTaskEnd":
                for acc in ev["Task Info"].get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (
                        isinstance(upd, str) and upd.lstrip("-").isdigit()
                    ):
                        accum[acc["ID"]] += int(upd)
                sid = stage_span.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if sid is None or not tm:
                    continue
                c = per_span[sid]
                c["tasks"] += 1
                c["cpu_ns"] += tm.get("Executor CPU Time", 0)
                c["gc_ms"] += tm.get("JVM GC Time", 0)
                c["spill_bytes"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                )
                c["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["input_records"] += tm.get("Input Metrics", {}).get("Records Read", 0)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, val in ev["accumUpdates"]:
                    accum[acc_id] += val

    span_plans: dict[int, list[dict]] = defaultdict(list)
    for eid, sid in exec_span.items():
        if eid in plans:
            span_plans[sid].append(_with_values(plans[eid], accum))
    return per_span, span_plans


def _with_values(node: dict, accum: Counter) -> dict:
    return {
        "name": node["nodeName"],
        "metrics": {m["name"]: accum.get(m["accumulatorId"], 0) for m in node["metrics"]},
        "children": [_with_values(c, accum) for c in node["children"]],
    }


def rows_out(node: dict) -> int:
    """Rows a plan node produced: its own row metric, else its first
    descendant's (projections and exchanges carry no row count)."""
    m = node["metrics"]
    if "number of output rows" in m:
        return m["number of output rows"]
    return rows_out(node["children"][0]) if node["children"] else 0


def join_candidates(plan: dict) -> int:
    """Rows the largest join of a plan evaluated: the output of an
    equi-join (every row it emits is a candidate pair), or left x
    right for a nested-loop join, whose condition filters pairs
    inside the join."""
    best = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        stack.extend(node["children"])
        if "NestedLoopJoin" in node["name"] or "CartesianProduct" in node["name"]:
            left, right = node["children"][:2]
            best = max(best, rows_out(left) * rows_out(right))
        elif "Join" in node["name"]:
            best = max(best, rows_out(node))
    return best


def files_read(plan: dict) -> int:
    """Files the scans of a plan read, from their SQL metric."""
    total, stack = 0, [plan]
    while stack:
        node = stack.pop()
        stack.extend(node["children"])
        total += node["metrics"].get("number of files read", 0)
    return total
