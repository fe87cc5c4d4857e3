"""Layer spans for the traced perfbench run.

The tracer wraps the public functions each layer exposes (the operator
functions ``plans.frontier_loop`` imports, the ``SnapshotTable`` methods,
``scheduling.aimd_budgets``, the width-knob sketch job and the crawl round
itself). Each wrapper materializes the function's result with an eager
local checkpoint, so the layer's Spark work runs inside its span, records
a span (name, start, end, parent, thread) and tags the Spark jobs the call
starts with the span id through a thread-local Spark property. After the
session stops, the file event log attributes jobs, stages, executor time
and shuffle bytes to the spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPAN_PROP = "perfbench.span"
NO_SPAN = "-"  # tag for the tracer's own row counts
CODEGEN_FALLBACK = "Code grows beyond 64 KB"
STATE_TABLES = ("frontier", "url_seen", "documents", "fetch_log", "host_health")
STATE_OPS = ("commit", "read", "compact", "expire_snapshots")


class Tracer:
    def __init__(self, spark, jvm_log: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_log = jvm_log
        self.spans: list[dict] = []
        self.checkpoints: list[DataFrame] = []
        self.default_parent: int | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.active = True

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": stack[-1] if stack else self.default_parent,
                "thread": threading.current_thread().name,
                "start": time.perf_counter(),
                "end": None,
                "attrs": dict(attrs),
            }
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, prev)

    @contextlib.contextmanager
    def untagged(self):
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, NO_SPAN)
        try:
            yield
        finally:
            self.sc.setLocalProperty(SPAN_PROP, prev)

    @contextlib.contextmanager
    def paused(self):
        """The wrapped functions run as if unwrapped and their Spark jobs
        are untagged: for the benchmark's own work, such as the output
        check, inside a traced pass."""
        self.active = False
        try:
            with self.untagged():
                yield
        finally:
            self.active = True

    def _materialize(self, out):
        if isinstance(out, DataFrame):
            out = out.localCheckpoint(eager=True)
            self.checkpoints.append(out)
            return out
        if isinstance(out, tuple):
            return tuple(self._materialize(o) for o in out)
        return out

    def release(self) -> None:
        from webcrawler_go_spark.operators.components import (
            _unpersist_local_checkpoint,
        )

        for df in self.checkpoints:
            _unpersist_local_checkpoint(df)
        self.checkpoints.clear()

    # -- wrappers ------------------------------------------------------------

    def wrap(self, name, fn, counts=None):
        """``fn`` inside a span, its DataFrame results materialized;
        ``counts(args, kwargs, out)`` returns the span's row counts and runs
        after the span closes, untagged. ``name`` is a string or a function
        of the call's positional arguments."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span_name = name(args) if callable(name) else name
            with tracer.span(span_name) as rec:
                out = tracer._materialize(fn(*args, **kwargs))
            if counts is not None:
                with tracer.untagged():
                    rec["attrs"].update(counts(args, kwargs, out))
            return out

        return traced

    def patch(self, owner, attr, name, counts=None) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, counts))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install_crawl(self) -> None:
        from webcrawler_go_spark.operators import scheduling
        from webcrawler_go_spark.plans import frontier_loop as fl
        from webcrawler_go_spark.state import SnapshotTable

        def rows_in_out(args, kwargs, out):
            return {"rows_in": args[0].count(), "rows_out": out.count()}

        def fetch_counts(args, kwargs, out):
            row = out.agg(
                F.count("*").alias("rows"),
                F.sum(
                    F.when(
                        (F.col("status") == 200)
                        & ~F.col("blocked")
                        & F.col("error_class").isNull(),
                        1,
                    ).otherwise(0)
                ).alias("ok"),
                F.sum(F.when(F.col("error_class").isNotNull(), 1).otherwise(0)).alias(
                    "errors"
                ),
                F.sum(F.when(F.col("blocked"), 1).otherwise(0)).alias("blocked"),
                F.sum("bytes").alias("bytes"),
            ).first()
            return {k: int(row[k] or 0) for k in ("rows", "ok", "errors", "blocked", "bytes")}

        def schedule_counts(args, kwargs, out):
            return {
                "scheduled": out[0].count(),
                "overflow": out[1].count(),
                "salted": int(bool(kwargs.get("salted", False))),
            }

        ops = "operators"
        self.patch(fl, "fetch_frontier", f"{ops}.fetch.fetch_frontier", fetch_counts)
        self.patch(
            fl, "next_frontier_candidates", f"{ops}.extract.next_frontier_candidates",
            lambda a, k, out: {"links_out": out.count()},
        )
        self.patch(fl, "documents_from_fetch", f"{ops}.extract.documents_from_fetch")
        self.patch(fl, "first_discovery", f"{ops}.dedup.first_discovery", rows_in_out)
        self.patch(fl, "dedup_against_seen", f"{ops}.dedup.dedup_against_seen", rows_in_out)
        self.patch(fl, "schedule_round", f"{ops}.politeness.schedule_round", schedule_counts)
        self.patch(
            scheduling, "aimd_budgets", f"{ops}.scheduling.aimd_budgets",
            lambda a, k, out: {"ledger_rows": a[0].count()},
        )
        self.patch(fl.CrawlEngine, "_sketch_width_knobs", f"{ops}.sketches.width_knobs")
        for op in STATE_OPS:
            self.patch(SnapshotTable, op, _state_span_name(op))
        self._patch_round(fl.CrawlEngine)

    def _patch_round(self, engine_cls) -> None:
        orig = engine_cls.run_round
        tracer = self
        self._patches.append((engine_cls, "run_round", orig))

        @functools.wraps(orig)
        def run_round(eng, r):
            if not tracer.active:
                return orig(eng, r)
            log_from = _file_size(tracer.jvm_log)
            outer = tracer.default_parent
            with tracer.span("plans.frontier_loop.round", round=r) as rec:
                tracer.default_parent = rec["id"]
                try:
                    st = orig(eng, r)
                finally:
                    tracer.default_parent = outer
            rec["attrs"]["log_span"] = [log_from, _file_size(tracer.jvm_log)]
            rec["attrs"]["scheduled"] = st.scheduled
            return st

        engine_cls.run_round = run_round

    # -- results -------------------------------------------------------------

    def job_stats(self, event_log_dir: str) -> dict[int, dict]:
        """Per-span Spark jobs, stages, task run time and shuffle bytes,
        from the file event log of the stopped session."""
        stage_span: dict[int, int] = {}
        per = defaultdict(lambda: defaultdict(int))
        for fn in sorted(os.listdir(event_log_dir)):
            with open(os.path.join(event_log_dir, fn)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        tag = (ev.get("Properties") or {}).get(SPAN_PROP)
                        if tag is None or tag == NO_SPAN:
                            continue
                        sid = int(tag)
                        per[sid]["spark_jobs"] += 1
                        for st in ev.get("Stage IDs", []):
                            stage_span.setdefault(st, sid)
                    elif kind == "SparkListenerStageCompleted":
                        sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                        if sid is not None:
                            per[sid]["spark_stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        sid = stage_span.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics")
                        if sid is None or not m:
                            continue
                        per[sid]["executor_run_ms"] += m.get("Executor Run Time", 0)
                        per[sid]["shuffle_bytes"] += (
                            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        )
        return {k: dict(v) for k, v in per.items()}

    def dump(self, path: str, stamp: dict, jobs: dict[int, dict]) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            rec = dict(s)
            rec["start"] = round(s["start"] - t0, 6)
            rec["end"] = round((s["end"] or s["start"]) - t0, 6)
            rec["spark"] = jobs.get(s["id"], {})
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"stamp": stamp, "spans": out}, f)


def _state_span_name(op: str):
    return lambda args: f"state.{args[0].name}.{op}"


def _file_size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def crawl_layer_metrics(tracer: Tracer, jobs: dict[int, dict]) -> dict[str, float]:
    """Aggregate the crawl spans of one traced pass into per-layer metrics."""
    by_name = defaultdict(list)
    children = defaultdict(list)
    for s in tracer.spans:
        by_name[s["name"]].append(s)
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def dur(s):
        return (s["end"] or s["start"]) - s["start"]

    def total(name, key=None):
        spans = by_name.get(name, [])
        if key is None:
            return sum(dur(s) for s in spans)
        if key in ("spark_jobs", "spark_stages", "shuffle_bytes"):
            return sum(jobs.get(s["id"], {}).get(key, 0) for s in spans)
        return sum(s["attrs"].get(key, 0) for s in spans)

    def subtree(sid, key):
        n = jobs.get(sid, {}).get(key, 0)
        return n + sum(subtree(c["id"], key) for c in children.get(sid, []))

    m: dict[str, float] = {}
    fetch = "operators.fetch.fetch_frontier"
    m[f"{fetch}.s"] = total(fetch)
    for k in ("rows", "ok", "errors", "blocked", "bytes"):
        m[f"{fetch}.{k}"] = total(fetch, k)
    nfc = "operators.extract.next_frontier_candidates"
    m[f"{nfc}.s"] = total(nfc)
    m[f"{nfc}.links_out"] = total(nfc, "links_out")
    m["operators.extract.documents_from_fetch.s"] = total(
        "operators.extract.documents_from_fetch"
    )
    for fn in ("first_discovery", "dedup_against_seen"):
        name = f"operators.dedup.{fn}"
        m[f"{name}.s"] = total(name)
        for k in ("rows_in", "rows_out", "shuffle_bytes"):
            m[f"{name}.{k}"] = total(name, k)
    das = "operators.dedup.dedup_against_seen"
    m["operators.dedup.new_ratio"] = (
        m[f"{das}.rows_out"] / m[f"{das}.rows_in"] if m[f"{das}.rows_in"] else 0.0
    )
    sched = "operators.politeness.schedule_round"
    m[f"{sched}.s"] = total(sched)
    for k in ("scheduled", "overflow", "salted"):
        m[f"{sched}.{k}"] = total(sched, k)
    for t in STATE_TABLES:
        for op in STATE_OPS:
            m[f"state.{t}.{op}.s"] = total(f"state.{t}.{op}")
    aimd = "operators.scheduling.aimd_budgets"
    m[f"{aimd}.s"] = total(aimd)
    m[f"{aimd}.ledger_rows"] = total(aimd, "ledger_rows")
    m["operators.sketches.width_knobs.s"] = total("operators.sketches.width_knobs")

    rounds = by_name.get("plans.frontier_loop.round", [])
    loop = "plans.frontier_loop"
    m[f"{loop}.round_s"] = sum(dur(s) for s in rounds)
    m[f"{loop}.driver_s"] = sum(
        dur(s)
        - _covered(
            [(c["start"], c["end"] or c["start"]) for c in children.get(s["id"], [])],
            s["start"],
            s["end"],
        )
        for s in rounds
    )
    m[f"{loop}.spark_jobs"] = sum(subtree(s["id"], "spark_jobs") for s in rounds)
    m[f"{loop}.spark_stages"] = sum(subtree(s["id"], "spark_stages") for s in rounds)
    m[f"{loop}.codegen_fallbacks"] = count_codegen_fallbacks(
        tracer.jvm_log, [s["attrs"].get("log_span", [0, 0]) for s in rounds]
    )
    return m


def count_codegen_fallbacks(jvm_log: str, slices: list[list[int]]) -> int:
    """Whole-stage codegen fallbacks ("Code grows beyond 64 KB") the JVM
    logged inside the given byte ranges of its stderr log."""
    if not os.path.exists(jvm_log):
        return 0
    n = 0
    with open(jvm_log, "rb") as f:
        for lo, hi in slices:
            f.seek(lo)
            n += f.read(max(0, hi - lo)).decode("utf-8", "replace").count(
                CODEGEN_FALLBACK
            )
    return n
