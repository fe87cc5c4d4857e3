"""Tests of the benchmark itself: every workload prints all of its metric
names with units, BENCHMARK.json lists exactly those names, and a
corrupted output counts as a failed operation.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
Each run below starts its own Spark session on a tiny world.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil

import pytest

from perfbench import run as bench
from perfbench.common import OUT_DIR, Log, ROOT


def _tiny_spec() -> dict:
    spec = copy.deepcopy(bench.load_spec())
    crawl = spec["workloads"]["crawl"]
    crawl.update(
        world={"n_hosts": 8, "pages_per_host": 40, "max_links": 30},
        n_seeds=4,
        rounds=2,
        resume_at=1,
    )
    crawl["engine"]["default_host_budget"] = 10
    crawl["warmup"].update(
        world={"n_hosts": 4, "pages_per_host": 10, "max_links": 4}, n_seeds=2
    )
    spec["workloads"]["query_mix"]["queries"] = ["events_sessionize", "html_text_extract"]
    return spec


def _run(workload: str, trace: int, **hooks) -> dict:
    run_dir = os.path.join(OUT_DIR, f"test-{workload}-{trace}")
    os.makedirs(run_dir, exist_ok=True)
    args = argparse.Namespace(workload=workload, seed=3, seconds=0.0, trace=trace)
    try:
        with open(os.devnull, "w") as sink:
            return bench.run(
                args, _tiny_spec(), run_dir, os.path.join(run_dir, "jvm.log"),
                Log(sink), **hooks,
            )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _assert_all_metrics(res: dict, units: dict) -> None:
    assert set(res["metrics"]) == set(units)
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], float), name


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.per_layer_units(
        bench.load_spec()
    )
    assert [w["name"] for w in spec["workloads"]] == list(bench.load_spec()["workloads"])


@pytest.mark.parametrize("workload", ["crawl", "query_mix"])
def test_traced_smoke_run_is_correct_and_prints_every_layer(workload):
    res = _run(workload, trace=1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    _assert_all_metrics(res, bench.per_layer_units(_tiny_spec()))
    if workload == "crawl":
        assert res["metrics"]["operators.fetch.fetch_frontier.rows"]["value"] > 0
        assert res["metrics"]["plans.frontier_loop.spark_jobs"]["value"] > 0
    else:
        assert res["metrics"]["query.events_sessionize.exec_s"]["value"] > 0
    spans = os.path.join(OUT_DIR, f"spans-{workload}-seed3.json")
    with open(spans) as f:
        assert json.load(f)["stamp"]["workload"] == workload


def test_crawl_missing_seen_url_fails_the_run():
    res = _run("crawl", trace=0, tamper=lambda out: out["seen"].pop())
    _assert_all_metrics(res, bench.END_TO_END_UNITS)
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0


def test_query_with_altered_oracle_hash_fails_the_run():
    from perfbench.query_workload import HASH_FILE

    with open(HASH_FILE) as f:
        expected = json.load(f)
    expected["events_sessionize"]["hash"] = "0" * 16
    res = _run("query_mix", trace=0, expected=expected)
    _assert_all_metrics(res, bench.END_TO_END_UNITS)
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0


def test_codegen_fallbacks_are_counted_inside_round_byte_ranges(tmp_path):
    from perfbench.tracing import CODEGEN_FALLBACK, count_codegen_fallbacks

    log = tmp_path / "jvm.log"
    before = "ERROR CodeGenerator: Failed to compile\n"
    fallback = f"Caused by: InternalCompilerException: {CODEGEN_FALLBACK}\n"
    log.write_text(before + fallback + fallback + "other\n" + fallback)
    start = len(before)
    two = start + 2 * len(fallback)
    assert count_codegen_fallbacks(str(log), [[start, two]]) == 2
    assert count_codegen_fallbacks(str(log), [[0, start], [two, log.stat().st_size]]) == 1
    assert count_codegen_fallbacks(str(tmp_path / "missing.log"), [[0, 10]]) == 0
