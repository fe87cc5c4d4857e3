"""Session, process and stamp helpers shared by the perfbench workloads."""

from __future__ import annotations

import contextlib
import gc
import hashlib
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")
CACHE_DIR = os.path.join(OUT_DIR, "cache")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs))


def maybe_span(tracer, name: str):
    """``tracer.span(name)``, or a no-op outside the traced pass."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


class Log:
    """Progress messages on the original stderr, which stays readable
    after the JVM's stderr is redirected into the run directory."""

    def __init__(self, stream):
        self.stream = stream

    def __call__(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=self.stream, flush=True)


def start_session(run_dir: str, event_log_dir: str | None = None):
    """SparkSession on local[nproc] with the engine's defaults. Only the
    places Spark writes to are pointed into ``run_dir`` (and, for a traced
    run, the file event log is switched on)."""
    from webcrawler_go_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        # a 2 GB driver heap (the engine's default is 8 GB): the runs share
        # the machine's memory, and a bounded heap keeps VmHWM steady
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        # no perf-data file under the system's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = nproc()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def proc_status_mb(field: str, pid: int | str = "self") -> float:
    """A memory field of /proc/<pid>/status (VmHWM, VmRSS) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver Python process plus the JVM."""
    return proc_status_mb("VmHWM") + proc_status_mb("VmHWM", jvm_pid(spark))


class HeapProbe:
    """JVM heap the workload holds, in MB: heap in use once full
    collections stop freeing anything, read inside a pass between its
    operations (the crawl engine between rounds, the query results at the
    end of a pass). ``peak_mb`` is the largest reading; ``probe()``
    returns its own duration, which the workloads leave out of their
    timings."""

    SETTLE_S = 0.2
    MAX_COLLECTIONS = 12

    def __init__(self, spark):
        jvm = spark._jvm
        self.system = jvm.java.lang.System
        self.runtime = jvm.java.lang.Runtime.getRuntime()
        self.readings: list[float] = []

    @property
    def peak_mb(self) -> float:
        return max(self.readings, default=0.0)

    def _used_mb(self) -> float:
        self.system.gc()
        return (self.runtime.totalMemory() - self.runtime.freeMemory()) / 2**20

    def probe(self) -> float:
        t = time.perf_counter()
        gc.collect()  # release Python proxies of JVM objects first
        # a collection only queues the blocks of dropped DataFrames for
        # Spark's cleaner thread, which frees them a batch at a time, so
        # one reading can hold 100 MB of garbage: collect until two
        # collections in a row free nothing more
        used, idle = self._used_mb(), 0
        for _ in range(self.MAX_COLLECTIONS - 1):
            time.sleep(self.SETTLE_S)
            prev, used = used, self._used_mb()
            idle = idle + 1 if prev - used < 0.5 else 0
            if idle == 2:
                break
        self.readings.append(used)
        return time.perf_counter() - t


def _stages(spark) -> list:
    """Spark's status-store records of the session's stages."""
    jvm = spark._jvm
    seq = spark._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    return [seq.apply(i) for i in range(seq.length())]


def last_stage_id(spark) -> int:
    return max((st.stageId() for st in _stages(spark)), default=-1)


def peak_exec_mb(spark, after_stage: int) -> float:
    """Largest execution memory (sort, aggregation and join buffers) of one
    stage, in MB: each task's peak, summed over the stage's tasks, for the
    stages after ``after_stage``. Spark's memory accounting, not the
    collector's, sets it, so it does not depend on when a collection ran."""
    return max(
        (st.peakExecutionMemory() for st in _stages(spark) if st.stageId() > after_stage),
        default=0,
    ) / 2**20


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and the Python workers it
    started) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def source_digest() -> str:
    """sha256 over the engine's Python sources: identifies the code under
    test when the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    pkg = os.path.join(ROOT, "webcrawler_go_spark")
    for d, _, files in os.walk(pkg):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def stamp(spark, workload: str, seed: int, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "nproc": nproc(),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python": sys.version.split()[0],
    }
