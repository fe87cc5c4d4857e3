"""Crawl and query benchmark for the webcrawler_go_spark engine.

    python3 perfbench/run.py --workload crawl|query_mix --seed N --seconds S --trace 0|1

Run from the repository root. Spark runs on local[nproc] with the engine's
defaults. The run warms up, measures as many whole passes of the workload
as fit in ``--seconds`` (at least one), checks every output against an
oracle, and prints a stamp line and then, as the last line of stdout, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` adds an
untraced and a traced pass, reports the per-layer metrics instead, and
writes the traced pass's spans to
``perfbench/out/spans-<workload>-seed<N>.json``. Workload parameters are
in ``perfbench/spec.json``; the benchmark's tests run with
``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if not __package__:
    # run as a script: the benchmark's modules are imported as the
    # ``perfbench`` package, so the checkout root replaces this script's
    # directory on the module path
    sys.path[0] = ROOT

from perfbench.common import (  # noqa: E402
    OUT_DIR,
    Log,
    last_stage_id,
    median,
    peak_exec_mb,
    peak_rss_mb,
    start_session,
    stamp,
    stop_session,
)

WATCHDOG_S = 170
QUERY_PARTS = ("build_s", "exec_s", "shuffle_bytes")
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "live_heap_mb": "MB",
    "peak_exec_mb": "MB",
}


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def per_layer_units(spec: dict) -> dict[str, str]:
    """Every per-layer metric name with its unit, for every workload."""
    from perfbench.tracing import STATE_OPS, STATE_TABLES

    units = {}
    fetch = "operators.fetch.fetch_frontier"
    units[f"{fetch}.s"] = "s"
    for k in ("rows", "ok", "errors", "blocked"):
        units[f"{fetch}.{k}"] = "count"
    units[f"{fetch}.bytes"] = "B"
    units["operators.extract.next_frontier_candidates.s"] = "s"
    units["operators.extract.next_frontier_candidates.links_out"] = "count"
    units["operators.extract.documents_from_fetch.s"] = "s"
    for fn in ("first_discovery", "dedup_against_seen"):
        units[f"operators.dedup.{fn}.s"] = "s"
        units[f"operators.dedup.{fn}.rows_in"] = "count"
        units[f"operators.dedup.{fn}.rows_out"] = "count"
        units[f"operators.dedup.{fn}.shuffle_bytes"] = "B"
    units["operators.dedup.new_ratio"] = "ratio"
    units["operators.politeness.schedule_round.s"] = "s"
    for k in ("scheduled", "overflow", "salted"):
        units[f"operators.politeness.schedule_round.{k}"] = "count"
    for t in STATE_TABLES:
        for op in STATE_OPS:
            units[f"state.{t}.{op}.s"] = "s"
    for t in STATE_TABLES:
        units[f"state.{t}.files"] = "count"
        units[f"state.{t}.bytes"] = "B"
    units["operators.scheduling.aimd_budgets.s"] = "s"
    units["operators.scheduling.aimd_budgets.ledger_rows"] = "count"
    units["operators.sketches.width_knobs.s"] = "s"
    for k, u in (
        ("round_s", "s"), ("driver_s", "s"), ("spark_jobs", "count"),
        ("spark_stages", "count"), ("codegen_fallbacks", "count"),
    ):
        units[f"plans.frontier_loop.{k}"] = u
    units["crawl.resume_s"] = "s"
    units["crawl.peak_round_urls_per_s"] = "1/s"
    units["crawl.state_bytes_per_url"] = "B/url"
    for name in spec["workloads"]["query_mix"]["queries"]:
        for part in QUERY_PARTS:
            units[f"query.{name}.{part}"] = "B" if part == "shuffle_bytes" else "s"
    units["run.op_s_p50"] = "s"
    units["run.work_per_s"] = "1/s"
    units["process.peak_rss_mb"] = "MB"
    units["setup.session_s"] = "s"
    units["setup.warmup_s"] = "s"
    units["trace.overhead_s"] = "s"
    units["trace.overhead_ratio"] = "ratio"
    return units


def make_workload(name, spark, spec, seed, run_dir, log, **hooks):
    """``hooks`` are the tests' corruption seams: ``tamper`` (crawl) and
    ``expected`` (query_mix)."""
    params = spec["workloads"][name]
    if name == "crawl":
        from perfbench.crawl_workload import CrawlWorkload

        return CrawlWorkload(spark, params, seed, run_dir, log, **hooks)
    from perfbench.query_workload import QueryWorkload

    return QueryWorkload(spark, params, seed, run_dir, log, **hooks)


def measure(wl, seconds: float) -> dict:
    """As many whole passes as fit in ``seconds``, and at least one: the
    next pass starts only if, taking as long as the last, it would end in
    time, so the pass count does not flip with small speed changes."""
    passes = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        passes.append(wl.run_pass())
        now = time.perf_counter()
        if now - t0 + (now - t) > seconds:
            break
    outcomes = [wl.outcome(p) for p in passes]
    ops = [s for p in passes for s in wl.ops(p)]
    wall = sum(p.wall_s for p in passes)
    done = [p.wall_s for p in passes if p.wall_s]
    setups = wl.setup_samples(passes)
    return {
        "passes": passes,
        "attempted": sum(a for a, _ in outcomes),
        "failed": sum(f for _, f in outcomes),
        "pass_s": median(done) if done else 0.0,
        "run.work_per_s": sum(wl.work(p) for p in passes) / wall if wall else 0.0,
        "run.op_s_p50": median(ops) if ops else 0.0,
        "setup_unit_s": median(setups),
        "samples": {
            "setup_s": len(setups),
            "pass_s": len(done),
            "live_heap_mb": len(wl.heap.readings),
            "run.work_per_s": len(ops),
            "run.op_s_p50": len(ops),
        },
    }


def crawl_extras(passes) -> dict[str, float]:
    good = [p for p in passes if not p.failed_rounds]
    if not good:
        return {}
    m = {
        "crawl.resume_s": median([p.resume_s for p in good]),
        "crawl.peak_round_urls_per_s": max(
            u / s for p in good for u, s in zip(p.round_urls, p.round_s) if s
        ),
        "crawl.state_bytes_per_url": median(
            [p.state_bytes / p.seen_rows for p in good if p.seen_rows]
        ),
    }
    for table, (files, size) in good[-1].sizes.items():
        m[f"state.{table}.files"] = files
        m[f"state.{table}.bytes"] = size
    return m


def traced_pass(wl, spark, jvm_log, m: dict):
    """One untraced pass, then the same pass with every layer wrapped;
    returns the tracer. The overhead compares the two neighbouring passes,
    so warm-up still going on across passes does not read as overhead."""
    from perfbench.tracing import Tracer

    passes = [wl.run_pass()]
    tracer = Tracer(spark, jvm_log)
    if wl.name == "crawl":
        tracer.install_crawl()
    try:
        with tracer.span(f"{wl.name}.pass"):
            passes.append(wl.run_pass(tracer))
    finally:
        tracer.uninstall()
        tracer.release()
    for p in passes:
        attempted, failed = wl.outcome(p)
        m["attempted"] += attempted
        m["failed"] += failed
    untraced_s, traced_s = (p.wall_s for p in passes)
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.overhead_ratio"] = traced_s / untraced_s - 1 if untraced_s else 0.0
    return tracer


def run(args, spec: dict, run_dir: str, jvm_log: str, log, **hooks) -> dict:
    # engine defaults: no SPARK_GRAFT_* switch from the environment applies
    switches = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in switches:
        del os.environ[k]
    if switches:
        log(f"ignoring engine switches from the environment: {switches}")
    trace = bool(args.trace)
    event_dir = os.path.join(run_dir, "eventlog") if trace else None
    spark = start_session(run_dir, event_dir)
    session_s = time.perf_counter() - T_START
    tracer = None
    try:
        st = stamp(spark, args.workload, args.seed, trace)
        print(json.dumps({"stamp": st}), flush=True)
        log(f"session up in {session_s:.2f} s: {st}")
        wl = make_workload(args.workload, spark, spec, args.seed, run_dir, log, **hooks)
        t = time.perf_counter()
        warm_attempted, warm_failed = wl.warmup()
        warmup_s = time.perf_counter() - t
        log(f"warm-up done in {warmup_s:.2f} s")
        first_stage = last_stage_id(spark)
        m = measure(wl, args.seconds)
        m["peak_exec_mb"] = peak_exec_mb(spark, first_stage)
        for p in m["passes"]:
            log(f"pass: {p}")
        m["attempted"] += warm_attempted
        m["failed"] += warm_failed
        m["setup.session_s"] = session_s
        m["setup.warmup_s"] = warmup_s
        if trace:
            tracer = traced_pass(wl, spark, jvm_log, m)
        m["live_heap_mb"] = wl.heap.peak_mb
        log(f"heap probes, MB: {[round(x, 1) for x in wl.heap.readings]}")
        m["process.peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        t = time.perf_counter()
        stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t:.2f} s")

    attempted, failed = m["attempted"], m["failed"]
    log(
        f"{args.workload}: {failed}/{attempted} operations failed "
        f"(ops_failed_ratio {failed / max(1, attempted):.4f})"
    )
    if not trace:
        values = {
            "setup_s": session_s + m["setup_unit_s"],
            "pass_s": m["pass_s"],
            "live_heap_mb": m["live_heap_mb"],
            "peak_exec_mb": m["peak_exec_mb"],
        }
        units = END_TO_END_UNITS
    else:
        from perfbench.query_workload import query_layer_metrics
        from perfbench.tracing import crawl_layer_metrics

        jobs = tracer.job_stats(event_dir)
        values = {}
        if wl.name == "crawl":
            values.update(crawl_layer_metrics(tracer, jobs))
            values.update(crawl_extras(m["passes"]))
        else:
            values.update(query_layer_metrics(wl.names, tracer, jobs))
        for k in (
            "run.work_per_s", "run.op_s_p50",
            "setup.session_s", "setup.warmup_s", "process.peak_rss_mb",
            "trace.overhead_s", "trace.overhead_ratio",
        ):
            values[k] = m[k]
        os.makedirs(OUT_DIR, exist_ok=True)
        spans_path = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(spans_path, st, jobs)
        log(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        units = per_layer_units(spec)
    metrics = {
        k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
    }
    for k, v in metrics.items():
        n = m["samples"].get(k)
        log(f"  {k:55s} {v['value']:14.4f} {v['unit']:6s}" + (f" n={n}" if n else ""))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _watchdog(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    run_dir = os.path.join(OUT_DIR, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    jvm_log = os.path.join(run_dir, "jvm-stderr.log")
    log = Log(os.fdopen(os.dup(2), "w"))
    # the JVM inherits fd 2: its log lines and progress bars go to a file
    # in the run directory, where the traced run counts codegen fallbacks
    saved_fd2 = os.dup(2)
    with open(jvm_log, "ab") as f:
        os.dup2(f.fileno(), 2)
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(WATCHDOG_S)
    try:
        result = run(args, spec, run_dir, jvm_log, log)
    finally:
        signal.alarm(0)
        os.dup2(saved_fd2, 2)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
