"""SparkSession factory with scale-oriented defaults.

Configs chosen for the 100 TB design point (and safe at local[32]):

* AQE on — runtime coalescing of shuffle partitions + skew-join splitting
  (hot hosts in the frontier are Zipf-skewed; see operators/politeness.py
  for the explicit salting that AQE alone cannot provide because the
  politeness Window forces ``partitionBy(host)``).
* Arrow on — every Python kernel in this engine is a vectorized
  pandas/Arrow UDF (SURVEY.md §2.8); no per-row Python anywhere.
* shuffle.partitions default sized for local mode; a real cluster run via
  ``spark-submit --py-files`` overrides it to ~2-3× total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "webcrawler-go-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller simply omits it and lets spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 5k-row Arrow batches, NOT the 10k default: with many concurrent
        # Python workers the per-worker resident batch buffers are the
        # dominant memory-bus/allocator pressure — at local[32] the
        # zero-parse fetch kernel measured 5-19 s at 10k rows/batch vs a
        # stable ~3 s at 5 k (and 40k made it 2× worse again); 8-way is
        # unchanged-to-better. Smaller batches also pipeline IPC more
        # smoothly on a real cluster's per-executor buses.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        # iterative frontier loop: keep plans from growing without bound
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # deterministic results matter more than rounding niceties here
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
