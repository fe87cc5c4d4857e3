"""The ``crawl`` workload: a resumed multi-round crawl through the public
``CrawlEngine`` API, checked against the sequential oracle."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench.common import CACHE_DIR, ROOT, HeapProbe, maybe_span

SEED_SCHEMA = "url string, priority double, seq int"


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def span_hash(spans) -> str:
    """sha256 of one document's span sequence (kind, text, media_ref,
    offset); ``engine_outputs`` computes the same value inside Spark."""
    return hashlib.sha256(
        "\x1e".join("\x1f".join(map(str, s)) for s in spans).encode()
    ).hexdigest()


def output_digests(seen, sequences, doc_hashes) -> dict[str, str]:
    """sha256 digests of the three parity artifacts: the url_seen set, the
    per-host fetch sequences and the per-document span sequences."""
    return {
        "seen": _digest(seen),
        "sequences": _digest(json.dumps([h, list(s)]) for h, s in sequences.items()),
        "documents": _digest(f"{d}\t{h}" for d, h in doc_hashes.items()),
    }


def engine_outputs(eng) -> dict:
    from pyspark.sql import functions as F

    spans = F.transform(
        "spans",
        lambda s: F.concat_ws(
            "\x1f", s["kind"], s["text"], s["media_ref"], s["offset"].cast("string")
        ),
    )
    docs = eng.documents().select("doc_id", F.sha2(F.concat_ws("\x1e", spans), 256).alias("h"))
    return {
        "seen": {r.url_norm for r in eng.url_seen().select("url_norm").collect()},
        "sequences": {
            r["host"]: list(r["fetch_sequence"])
            for r in eng.per_host_sequences().collect()
        },
        "documents": {r.doc_id: r.h for r in docs.collect()},
    }


def state_sizes(state_dir: str) -> dict[str, tuple[int, int]]:
    """(parquet files, bytes on disk) per state table."""
    out = {}
    for table in sorted(os.listdir(state_dir)):
        tdir = os.path.join(state_dir, table)
        if not os.path.isdir(tdir):
            continue
        files = size = 0
        for d, _, names in os.walk(tdir):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += n.endswith(".parquet")
        out[table] = (files, size)
    return out


@dataclass
class PassResult:
    setup_s: float
    round_s: list[float] = field(default_factory=list)
    round_urls: list[int] = field(default_factory=list)
    wall_s: float = 0.0
    resume_s: float = 0.0
    failed_rounds: int = 0
    ok: bool = False
    state_bytes: int = 0
    seen_rows: int = 0
    sizes: dict = field(default_factory=dict)


class CrawlWorkload:
    name = "crawl"

    def __init__(self, spark, params: dict, seed: int, run_dir: str, log, tamper=None):
        from webcrawler_go_spark.worldgen import World, seeds as gen_seeds

        self.spark = spark
        self.p = params
        self.seed = seed
        self.run_dir = run_dir
        self.log = log
        self.tamper = tamper  # tests: corrupt the engine outputs before the check
        self.world = World(seed=seed, **params["world"])
        self.seed_rows = gen_seeds(self.world, params["n_seeds"])
        self._dirs = 0
        self._oracle = None
        self.heap = HeapProbe(spark)

    # -- engine -------------------------------------------------------------

    def _state_dir(self) -> str:
        self._dirs += 1
        d = os.path.join(self.run_dir, f"state-{self._dirs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _engine(self, state_dir, world=None, budget=None):
        from webcrawler_go_spark.config import CrawlConfig
        from webcrawler_go_spark.plans.frontier_loop import CrawlEngine

        e = self.p["engine"]
        cfg = CrawlConfig(
            max_rounds=self.p["rounds"],
            default_host_budget=budget or e["default_host_budget"],
        )
        return CrawlEngine(
            self.spark, cfg, state_dir,
            world=world or self.world,
            adaptive_budget=e["adaptive_budget"],
            maintenance_interval=e["maintenance_interval"],
            collect_stats=e["collect_stats"],
        )

    def setup_once(self, state_dir: str):
        t = time.perf_counter()
        eng = self._engine(state_dir)
        eng.seed(self.spark.createDataFrame(self.seed_rows, SEED_SCHEMA))
        return eng, time.perf_counter() - t

    def warmup(self) -> tuple[int, int]:
        """A short crawl of a tiny world: pays JIT, codegen and Python
        worker start-up before the measured passes. Nothing in it is
        checked."""
        from webcrawler_go_spark.worldgen import World, seeds as gen_seeds

        w = self.p["warmup"]
        world = World(seed=self.seed, **w["world"])
        d = self._state_dir()
        eng = self._engine(d, world=world, budget=w["default_host_budget"])
        eng.seed(self.spark.createDataFrame(gen_seeds(world, w["n_seeds"]), SEED_SCHEMA))
        for r in range(w["rounds"]):
            eng.run_round(r)
        shutil.rmtree(d, ignore_errors=True)
        return 0, 0

    def setup_samples(self, passes) -> list[float]:
        """The passes' own set-ups, topped up to ``setup_reps`` samples."""
        samples = [p.setup_s for p in passes if not p.failed_rounds]
        while len(samples) < self.p["setup_reps"]:
            d = self._state_dir()
            samples.append(self.setup_once(d)[1])
            shutil.rmtree(d, ignore_errors=True)
        return samples

    def outcome(self, p) -> tuple[int, int]:
        """(rounds attempted, rounds failed): a pass whose outputs differ
        from the oracle fails all its rounds."""
        n = self.p["rounds"]
        return n, p.failed_rounds or (0 if p.ok else n)

    def ops(self, p) -> list[float]:
        return [] if p.failed_rounds else p.round_s

    def work(self, p) -> int:
        return 0 if p.failed_rounds else sum(p.round_urls)

    # -- one measured pass ----------------------------------------------------

    def run_pass(self, tracer=None) -> PassResult:
        state_dir = self._state_dir()
        n_rounds, resume_at = self.p["rounds"], self.p["resume_at"]
        res = PassResult(setup_s=0.0)
        try:
            eng, res.setup_s = self.setup_once(state_dir)
            t0 = time.perf_counter()
            probe_s = 0.0
            for r in range(n_rounds):
                t = time.perf_counter()
                if r == resume_at:
                    # drop the engine; a fresh one resumes from the state dir
                    with maybe_span(tracer, "crawl.resume"):
                        eng = self._engine(state_dir)
                        stats = eng.resume(max_rounds=r + 1)
                    res.resume_s = time.perf_counter() - t
                else:
                    stats = [eng.run_round(r)]
                res.round_s.append(time.perf_counter() - t)
                res.round_urls.append(sum(s.scheduled for s in stats))
                if tracer is None:
                    # the tracer's checkpoints would count as the engine's
                    probe_s += self.heap.probe()
            res.wall_s = time.perf_counter() - t0 - probe_s
        except Exception as e:  # noqa: BLE001 — a failed round is a counted outcome
            self.log(f"crawl round {len(res.round_s)} failed: {type(e).__name__}: {e}")
            res.failed_rounds = n_rounds - len(res.round_s)
            return res
        t = time.perf_counter()
        # the check's reads are the benchmark's, not the engine's: no spans
        with tracer.paused() if tracer is not None else contextlib.nullcontext():
            try:
                res.ok = self.check(eng)
            except Exception as e:  # noqa: BLE001 — unreadable output fails the pass
                self.log(f"crawl output check failed: {type(e).__name__}: {e}")
        self.log(f"crawl check took {time.perf_counter() - t:.2f} s")
        res.sizes = state_sizes(state_dir)
        res.state_bytes = sum(b for _, b in res.sizes.values())
        head = eng.seen_t.current_snapshot()
        res.seen_rows = head["total_rows"] if head else 0
        shutil.rmtree(state_dir, ignore_errors=True)
        return res

    # -- correctness ----------------------------------------------------------

    def _oracle_key(self) -> str:
        h = hashlib.sha256(json.dumps(self.p, sort_keys=True).encode())
        h.update(str(self.seed).encode())
        pkg = os.path.join(ROOT, "webcrawler_go_spark")
        for rel in ("oracle/sequential.py", "worldgen.py", "config.py"):
            with open(os.path.join(pkg, rel), "rb") as f:
                h.update(f.read())
        return h.hexdigest()[:20]

    def oracle_digests(self) -> dict[str, str]:
        """Digests of the sequential oracle's crawl of this world, computed
        once per (parameters, world seed, oracle source) and cached."""
        if self._oracle is not None:
            return self._oracle
        path = os.path.join(CACHE_DIR, f"crawl-{self._oracle_key()}.json")
        if os.path.exists(path):
            with open(path) as f:
                self._oracle = json.load(f)["digests"]
            return self._oracle
        from webcrawler_go_spark.config import CrawlConfig
        from webcrawler_go_spark.oracle import sequential

        e = self.p["engine"]
        t = time.perf_counter()
        o = sequential.crawl(
            self.world,
            self.seed_rows,
            CrawlConfig(max_rounds=self.p["rounds"], default_host_budget=e["default_host_budget"]),
            max_rounds=self.p["rounds"],
            adaptive_budget=e["adaptive_budget"],
        )
        secs = time.perf_counter() - t
        self._oracle = output_digests(
            o.seen,
            o.sequences,
            {d: span_hash(spans) for d, spans in o.documents.items()},
        )
        self.log(f"sequential oracle: {secs:.2f} s single-threaded, {len(o.seen)} URLs seen")
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump({"digests": self._oracle, "oracle_s": secs, "seen": len(o.seen)}, f)
        os.replace(tmp, path)
        return self._oracle

    def check(self, eng) -> bool:
        out = engine_outputs(eng)
        if self.tamper is not None:
            self.tamper(out)
        got = output_digests(out["seen"], out["sequences"], out["documents"])
        want = self.oracle_digests()
        bad = [k for k in want if got[k] != want[k]]
        if bad:
            self.log(f"crawl output differs from the sequential oracle: {bad}")
        return not bad
