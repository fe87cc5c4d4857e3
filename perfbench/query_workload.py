"""The ``query_mix`` workload: a fixed list of ``__spark_entry__.queries()``
run on the benchmark's own input tables, each checked against its stored
DuckDB oracle hash."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from perfbench.common import HERE, HeapProbe, maybe_span

DATA_DIR = os.path.join(HERE, "data", "sf0.001")
HASH_FILE = os.path.join(HERE, "oracle", "query_hashes.json")


def pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    """Columns and rows of a pandas frame with nulls normalized the way
    ``tools/check_oracles.py`` normalizes both engines' results."""
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]


@dataclass
class PassResult:
    op_s: dict[str, float] = field(default_factory=dict)
    wall_s: float = 0.0
    failed: int = 0


class QueryWorkload:
    name = "query_mix"

    def __init__(self, spark, params: dict, seed: int, run_dir: str, log, expected=None):
        import __spark_entry__ as entry_mod

        self.spark = spark
        self.p = params
        self.log = log
        self.entry = entry_mod
        # fixed tables and a fixed order: the seed does not change this
        # workload's inputs (it only varies the crawl's world)
        self.names = list(params["queries"])
        if expected is None:
            with open(HASH_FILE) as f:
                expected = json.load(f)
        self.expected = expected
        self.qs = entry_mod.queries()
        self.heap = HeapProbe(spark)

    def setup_once(self) -> float:
        """What a caller does before the first query can plan: build the
        query registry and resolve the input tables' schemas."""
        t = time.perf_counter()
        self.qs = self.entry.queries()
        for fn in sorted(os.listdir(DATA_DIR)):
            self.spark.read.parquet(os.path.join(DATA_DIR, fn)).schema
        return time.perf_counter() - t

    def setup_samples(self, passes) -> list[float]:
        return [self.setup_once() for _ in range(self.p["setup_reps"])]

    def outcome(self, p) -> tuple[int, int]:
        return len(self.names), p.failed

    def ops(self, p) -> list[float]:
        return list(p.op_s.values())

    def work(self, p) -> int:
        return len(p.op_s)

    def warmup(self) -> tuple[int, int]:
        """Untimed warm pass: plans, compiles and runs every query once and
        compares its rows with the stored oracle hash. Returns
        (attempted, failed)."""
        from tools.check_oracles import value_hash

        failed = 0
        for name in self.names:
            try:
                cols, rows = pandas_rows(self.qs[name](self.spark, DATA_DIR).toPandas())
            except Exception as e:  # noqa: BLE001 — a failed query is a counted outcome
                self.log(f"query {name} failed: {type(e).__name__}: {str(e)[:200]}")
                failed += 1
                continue
            want = self.expected.get(name, {})
            got = {"rows": len(rows), "hash": value_hash(cols, rows)}
            if got != {"rows": want.get("rows"), "hash": want.get("hash")}:
                self.log(f"query {name} differs from its oracle: {got} vs {want}")
                failed += 1
        return len(self.names), failed

    def run_pass(self, tracer=None) -> PassResult:
        res = PassResult()
        t0 = time.perf_counter()
        results = []  # held to the end of the pass, for the heap probe
        for name in self.names:
            try:
                t = time.perf_counter()
                with maybe_span(tracer, f"query.{name}.build"):
                    df = self.qs[name](self.spark, DATA_DIR)
                with maybe_span(tracer, f"query.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                res.op_s[name] = time.perf_counter() - t
                results.append(df)
            except Exception as e:  # noqa: BLE001 — a failed query is a counted outcome
                self.log(f"query {name} failed: {type(e).__name__}: {str(e)[:200]}")
                res.failed += 1
        res.wall_s = time.perf_counter() - t0
        if tracer is None:
            self.heap.probe()
        return res


def query_layer_metrics(names, tracer, jobs) -> dict[str, float]:
    m = {}
    for name in names:
        for part in ("build", "exec"):
            spans = [s for s in tracer.spans if s["name"] == f"query.{name}.{part}"]
            m[f"query.{name}.{part}_s"] = sum(s["end"] - s["start"] for s in spans)
        m[f"query.{name}.shuffle_bytes"] = sum(
            jobs.get(s["id"], {}).get("shuffle_bytes", 0)
            for s in tracer.spans
            if s["name"].startswith(f"query.{name}.")
        )
    return m
