"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a large cluster but safe on local[N]:
  * AQE on (runtime coalesce, skew-join splitting — word histograms are
    Zipfian, so skewed shuffle keys are the norm, not the exception).
  * Arrow on (every pandas_udf ships columnar batches, not pickled rows).
  * UTC session timezone so timestamp-derived columns are engine-stable
    (the DuckDB oracle uses naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Half the box's physical memory, capped at 16g. A heap the size of
    RAM is not safe: G1 grows toward it, and on a 16 GB box the
    driver JVM's RSS passed 14 GB and was killed for lack of memory."""
    try:
        half_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (2 << 20)
    except (ValueError, OSError):  # sysconf name unknown on this OS
        return "16g"
    return f"{min(half_mib, 16 << 10)}m"


def get_spark(
    app_name: str = "sfa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (guide §3.1/§9, r8): let the planner pick a
        # shuffled-hash join when one side fits a per-partition hash
        # map — SMJ's sort pass is pure overhead for the keyed MERGE/
        # diff shapes (measured sf0.1: q_merge_changes 0.65 → 0.50 s,
        # SMJ→SHJ in-plan). AQE additionally rewrites SMJ→SHJ at
        # runtime when every post-shuffle partition is under the local
        # map threshold. A cluster with small executor memory can
        # restore sort-merge through extra_conf (preferSortMergeJoin
        # "true", the local map threshold "0"): sort-merge spills
        # gracefully, hash maps must fit — §3.1's documented trade.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata parquet carries TIMESTAMP(NANOS) — read as
        # bigint nanoseconds (ordering-compatible; DuckDB oracle uses
        # epoch_ns() to agree).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # local[N] runs driver+executors in ONE JVM; on a real cluster
        # executor memory is configured separately.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap(),
        )
        .config("spark.ui.enabled", "false")
        # the status store retains full plan-description strings per SQL
        # execution EVEN with the UI off (default 1000 executions); the
        # grid fits issue dozens of executions with multi-MB AQE plans,
        # which reads as a multi-GB driver "leak" on long sessions.
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
