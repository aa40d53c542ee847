"""SparkSession factory with the engine's tuned defaults.

Local mode here stands in for a multi-executor cluster: parallelism is
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run on),
shuffle partitions sized to cores (not the 200 default), AQE on for runtime
coalesce/skew handling, Arrow enabled with a bounded batch size so a batch
of decoded pages (~0.5 MB each) never blows executor memory (SURVEY.md §4.3
spill/memory budget).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 64  # pages per Arrow batch through mapInArrow

# Runtime-settable SQL confs (everything the engine needs that does NOT
# require a JVM restart).  Applied by get_spark() at build time and by
# apply_engine_conf() to sessions the engine did not create — in particular
# the spark-submit job entry, where master/memory come from the submit conf
# but a bare getOrCreate() would otherwise run with the 4096-row vectorized
# reader batch that OOMs on ~0.5 MB binary cells (see inline notes below).
_SQL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
    "spark.sql.parquet.columnarReaderBatchSize": "256",
}


def apply_engine_conf(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Submit-time tuning stays authoritative: any key the user passed via
    ``--conf`` (visible in the SparkContext's SparkConf) is left alone —
    a production job that sets ``spark.sql.files.maxPartitionBytes=128m``
    or its own shuffle partitioning must not be clobbered by the engine's
    local-scale defaults.
    """
    submitted = spark.sparkContext.getConf()
    for k, v in _SQL_CONFS.items():
        if not submitted.contains(k):
            spark.conf.set(k, v)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    elif not submitted.contains("spark.sql.shuffle.partitions"):
        # 200-partition default is wrong at both ends; cores is the sane floor
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    return spark


def get_spark(
    app: str = "tableextraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    warehouse_dir: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    if warehouse_dir:  # static conf — must be set before session creation
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    # _SQL_CONFS rationale:
    # - maxPartitionBytes 8m / openCost 1m: test-scale parquet is tiny but
    #   row-heavy (10 MB ≈ 600k rows) and compute-per-row dominates; small
    #   splits keep all cores busy.  At production scale (100 TB, 128 MB row
    #   groups) retune toward the 128m default — the knob, not the plan,
    #   changes.
    # - columnarReaderBatchSize 256: media blobs are ~0.5 MB binary cells;
    #   the vectorized reader's default 4096-row batch would reserve ~2.3 GB
    #   contiguous per task (observed OutOfMemoryError at 14k pages).  256
    #   rows ≈ 140 MB worst-case per scan task — the SURVEY §4.3 page-pixel
    #   budget applied to the scan side.
    for k, v in _SQL_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
