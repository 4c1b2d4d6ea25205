"""SparkSession factory with scale-appropriate defaults.

AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (every pandas UDF hop is batched), shuffle
partitions sized for the local harness (32 cores) — on a real cluster
set spark.sql.shuffle.partitions ~ 2-3x total cores and let AQE
coalesce.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "8g",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # This engine's scans are CPU-heavy (regex, hashing, serialization)
    # over well-compressed string parquet, so scan splits must be sized
    # from the INPUT, not a fixed constant: Spark's split formula is
    # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum))
    # with minPartitionNum defaulting to the core count. Keeping
    # maxPartitionBytes at the 128 MB default and shrinking the per-file
    # open cost to 64 KB lets bytes/cores size the splits: a 9 MB graph
    # table scans ~cores-way instead of in <=8 tasks (the previous fixed
    # 8 MB / 512 KB pair), while a 100 TB input still gets full 128 MB
    # splits instead of 12.5M tiny tasks.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(64 * 1024),
    # Same CPU-heavy-per-byte reasoning for POST-SHUFFLE stages: AQE's
    # coalescer floors partitions at max(bytes/parallelism, minSize).
    # The default 1 MB floor collapses this engine's few-MB shuffles to
    # a handful of partitions, so regex/explode/hash stages run on 3-8
    # of 32 cores (measured: per_turn_triples 0.93s -> 0.64s, index
    # aggregate 0.78s -> 0.54s at sf0.1 with a 64k floor). At scale
    # bytes/parallelism >> 64k, so the floor never produces small
    # shuffle partitions or small files on real inputs.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # PySpark's DataFrame debugging captures the Python call site of
    # every functions.*/Column call and ships it to the JVM: 2-3 extra
    # py4j round trips per call (pyspark/errors/utils.py::_with_origin),
    # which made building the writer's pass-2 plans 5,387 round trips
    # instead of 2,237. The cost of turning it off: analysis errors no
    # longer name the Python line that built the failing expression.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# v2 commits rename task output during (parallel) task commit instead
# of serially on the driver at job commit — the serial v1 rename loop
# is pure fixed overhead that grows with file count and dilutes scaling
# on short jobs. The trade-off: a failed/partial job can leave partial
# output visible (v1 is atomic at job commit), so v2 is NOT a session
# default — bench/scaling entry points opt in via
# ``get_spark(extra_conf=FAST_WRITE_CONF)``; user-facing paths (CLI,
# GraphTableWriter) keep the safe v1 committer, and the lineage layer's
# manifest-last commit protocol makes torn writes re-runnable anyway.
FAST_WRITE_CONF = {
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Sort-free dynamic-partition writes (guide §6): planned writes
    # insert a per-task sort by the partition column before every
    # partitionBy() write; the graph table's pred_part column has two
    # values (plans/lineage.py::predicate_partition_col), so each task
    # instead keeps at most two open part writers and skips the sort
    # entirely (measured: partitioned write 2.96s -> 2.57s at sf0.1).
    "spark.sql.optimizer.plannedWrite.enabled": "false",
    "spark.sql.maxConcurrentOutputFileWriters": "64",
}


# Keys the cluster launcher owns in spark-submit entry points (driver
# memory via --driver-memory, UI per cluster policy) — everything else
# in DEFAULTS is engine semantics and applies everywhere.
SUBMIT_EXCLUDED = ("spark.driver.memory", "spark.ui.enabled")


def get_submit_spark(app_name: str) -> SparkSession:
    """Session for spark-submit entry points (jobs/*.py): master and
    driver resources left to the launcher, and each engine default
    applied only where the launcher (``--conf``, ``--properties-file``)
    set no value of its own. Single source of truth — job scripts must
    not re-apply DEFAULTS by hand."""
    # The launcher's settings reach the gateway JVM as system
    # properties, which SparkConf() reads; a key set on the builder
    # would override them. Static keys cannot be set once the context
    # exists, so this check runs before the builder does.
    SparkContext._ensure_initialized()
    launcher = SparkConf()
    builder = SparkSession.builder.appName(app_name)
    for k, v in DEFAULTS.items():
        if k not in SUBMIT_EXCLUDED and not launcher.contains(k):
            builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark(
    master: str | None = None,
    app_name: str = "tripsu-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(master or f"local[{cpus}]").appName(app_name)
    conf = dict(DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
