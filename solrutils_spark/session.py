"""SparkSession factory with engine-appropriate defaults.

Defaults are tuned for correctness-at-scale first:

- AQE on (runtime coalesce + skew-join splitting — the 100 TB safety net),
- Arrow execution for pandas UDFs (the engine's hot path is Arrow batches),
- shuffle partitions sized for local testing but overridable via env/conf for
  cluster runs (at 100 TB you want O(2-3x total cores), set by the submitter).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "solrutils-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit decide.
    """
    # Python workers unpickle our UDFs, so the package root goes on THEIR
    # path: Spark merges spark.executorEnv.PYTHONPATH into each worker's
    # PYTHONPATH. The caller's environment (and so its later subprocesses)
    # is left alone. On a real cluster this is `spark-submit --py-files`
    # (north_rule).
    conf = dict(extra_conf or {})
    worker_path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [str(Path(__file__).resolve().parent.parent),
         *([worker_path] if worker_path else [])])

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 4× cores: with shuffle partitions == cores, hashing G groups into
        # exactly `cores` partitions leaves balls-in-bins imbalance (the
        # slowest task carries ~2× the mean) — 4× averages it out and AQE
        # coalesces the excess for big shuffles anyway
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", 4 * int(cpus))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by shuffle BYTES and is blind to per-row Python-kernel
        # CPU: a few-MB postings shuffle feeding a WAND/applyInPandas stage
        # would collapse to ~bytes/1MB tasks (measured: 5 concurrent kernels
        # on local[16]). 64k lets parallelism-first coalescing keep ~core-count
        # partitions for small-bytes/heavy-CPU stages; big shuffles still
        # coalesce toward the advisory size.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # v2 commits rename task outputs as they finish instead of a serial
        # driver-side pass at job end — measurable at high task counts, and
        # our own index/lineage writes are task-atomic anyway
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # zstd parquet: ~2x smaller than snappy on postings/docs at modest
        # CPU — the write phases of a build are disk-bandwidth-bound on a
        # single-disk node (and shrink shuffle spill on a cluster), so bytes
        # saved convert ~1:1 into wall time where cores outnumber spindles
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
