"""Sources: parquet tables and the events → canonical-series adapters.

Reference parity: TimeSeriesLoader.loadDataset / loadMultivariateDatset
(`/root/reference/src/main/java/sfa/timeseries/TimeSeriesLoader.java:31-223`)
parse files into in-memory TimeSeries[]. Here the equivalent is a scan +
one shuffle into the canonical long form; order inside a series is
positional (the reference discards timestamps too,
TimeSeriesLoader.java:197-198) but we keep a deterministic (ts, tiebreak)
sort so results are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def ensure_session_compat(spark: SparkSession) -> None:
    """Runtime-settable confs the engine depends on, applied defensively
    so queries also work on a session we did not build (e.g. the
    driver's): nanos-parquet reading (events.ts), UTC timestamp
    semantics (oracle parity), Arrow batching for pandas UDFs."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — static conf on some builds; keep going
            pass


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Canonicalize an event-time column to bigint NANOSECONDS.

    The testdata parquet has shipped `ts` two ways: TIMESTAMP(NANOS)
    (read as bigint ns via nanosAsLong) and TIMESTAMP(MICROS) (read as
    a proper timestamp). Engine-wide convention is bigint ns — every
    window/gap query does plain integer arithmetic on it, which is the
    cheap, codegen-friendly form at scale.
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if col in df.columns and isinstance(
        df.schema[col].dataType, (TimestampType, TimestampNTZType)
    ):
        return df.withColumn(
            col,
            (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).cast(
                "bigint"
            ),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_compat(spark)
    return normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Guard heavy per-row compute against an under-split scan (guide
    §2.5 "input skew: one huge unsplittable file — repartition
    immediately after the read").

    Single-row-group parquet gives a scan exactly ONE task per file no
    matter what maxPartitionBytes / minPartitionNum say (row groups are
    the split unit), so an expensive narrow chain attached to it —
    shingling, per-token hashing, per-pair folds — runs serially on
    one core. Measured at sf0.1 (one-file tables, 32 cores): the
    entire MinHash signature stage ran in the lone scan task, and
    8-core ≈ 32-core walltime for the whole dedup family (VERDICT r8
    item 3).

    The rule: a file input of fewer files than defaultParallelism is
    hash-repartitioned by ``keys`` (deterministic under retry, unlike a
    rand-derived key). It reads only the plan's file list, so it plans
    nothing and runs no job. A frame with no input files (local or
    generated data) or whose last step is already a repartition keeps
    the partitioning it was made with. The explicit partition count
    pins the exchange against AQE's byte-based coalescing, which would
    fold a small but compute-dense input back onto one core (its 1
    MB/partition floor measures bytes, not work). Downstream
    groupBy/window keyed on a superset of ``keys`` reuses the
    partitioning, so the chain gains NO second exchange — the one that
    previously ran AFTER the heavy compute moves in front of it and
    carries the raw rows instead.

    Scale behaviour: any real multi-file table has >= cores files and
    this is the identity — no extra pass of the corpus at 100 TB, where
    the input split count, not this guard, provides the parallelism.
    Streaming inputs pass through untouched.
    """
    if df.isStreaming:
        return df
    root = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    target = df.sparkSession.sparkContext.defaultParallelism
    if root.startswith("Repartition") or not 0 < len(df.inputFiles()) < target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def series_from_events(
    events: DataFrame,
    series_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Long-form canonical series from an event log.

    Output: (series_id bigint, pos bigint, value double, n bigint).

    Scale: exactly ONE shuffle (partition by series_id); both window
    functions below share the same partitioning spec, so Catalyst plans a
    single Exchange + Sort. At 100 TB the event log is typically already
    bucketed/partitioned by entity — then even that Exchange disappears.
    """
    w_ord = Window.partitionBy("series_id").orderBy(*order_cols)
    w_all = Window.partitionBy("series_id")
    return (
        events.select(
            F.col(series_col).cast("bigint").alias("series_id"),
            *[F.col(c) for c in order_cols],
            F.col(value_col).cast("double").alias("value"),
        )
        .withColumn("pos", (F.row_number().over(w_ord) - F.lit(1)).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(w_all).cast("bigint"))
        .select("series_id", "pos", "value", "n")
    )


def series_arrays_from_events(
    events: DataFrame,
    series_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Array form gathered DIRECTLY from the event log — value-identical
    to ``series_to_arrays(series_from_events(events))`` but one pass
    shorter: ``pos`` exists only to order the gather, and
    ``sort_array(collect_list(struct(*order_cols, value)))`` applies
    exactly that order (struct comparison is lexicographic and
    ``order_cols`` is a unique key, so ``value`` never participates in
    a comparison) inside the aggregate itself. The long-form path pays
    Exchange → Sort → Window(row_number, count) → HashAggregate; this
    is Exchange → HashAggregate — the Sort over every event row and
    both WindowExecs disappear (guide §2.4: remove passes the result
    never needed). ``n`` = size of the gathered array == count(*).

    Same memory caveat as series_to_arrays: one series must fit in
    executor memory (classification corpora; not indexing-scale).

    spread_scan (r9): the map-side partial collect_list otherwise
    gathers EVERY event's struct inside the scan task(s) — serial
    list-building plus a shuffle of the built lists when the file
    layout under-splits; spreading first moves the same-sized shuffle
    in front of the gather and the groupBy(series_id) then aggregates
    in place (partitioning reused, no second exchange)."""
    events = spread_scan(events, series_col)
    return (
        events.select(
            F.col(series_col).cast("bigint").alias("series_id"),
            *[F.col(c) for c in order_cols],
            F.col(value_col).cast("double").alias("value"),
        )
        .groupBy("series_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(*order_cols, "value"))
                ),
                lambda s: s["value"],
            ).alias("values"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


def series_to_arrays(long_df: DataFrame) -> DataFrame:
    """Gather long form into array form (series_id, values array<double>).

    Uses sort_array(collect_list(struct(pos, value))) so the gather is a
    single aggregation — no window sort needed. Only safe when a single
    series fits in executor memory (true for classification corpora;
    indexing-scale single series stay in long form / chunked form).
    """
    return (
        long_df.groupBy("series_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "value"))),
                lambda s: s["value"],
            ).alias("values"),
            F.max("n").alias("n"),
        )
    )
