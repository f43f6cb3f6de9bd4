"""Driver-facing query registry: each SURVEY §2 operator demonstrated
end-to-end on the driver testdata tables.

Conventions (must mirror sfa_spark/oracles.py exactly):
  * series come from `events`: series_id = user_id, ordered by (ts,
    event_id), value = value.
  * synthetic class label = series_id % 3 (deterministic stand-in for
    the reference's dataset labels).
  * train/test split: series_id % 5 == 0 → test, else train.
  * every float output column is round()ed the same on both sides;
    integer outputs are cast bigint/int identically.

Flagship parameters: window w=16, PAA length l=4, alphabet a=4
(2 bits/symbol → 8-bit packed words).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sfa_spark.operators import bags, folds, knn, quantize, select, tfidf, window, words
from sfa_spark.sources.events import (
    load_table,
    series_arrays_from_events,
    series_from_events,
)

W, L, A = 16, 4, 4
ROLL_W = 8
N_LABELS = 3
TEST_MOD = 5
TOPK = 3


# ---------------------------------------------------------------- helpers

def rnd(col, p: int = 4):
    """Engine-stable rounding (mirrored in oracles.py): the +1e-9 nudge
    pushes exact decimal-lattice values off the rounding boundary (where
    Spark/DuckDB aggregation-order ulp differences would flip the digit),
    and +0.0 normalizes -0.0 to 0.0."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.round(c + F.lit(1e-9), p) + F.lit(0.0)


def dec_sum(col):
    """Exact DECIMAL(18,6) sum cast back to double — bit-identical
    across engines for fixed-decimal inputs (no float accumulation-order
    effects); the 100 TB answer to nondeterministic double sums."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast("decimal(18,6)")).cast("double")


# ---------------------------------------------------------------- building blocks

def series_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return series_from_events(load_table(spark, sf_dir, "events"))


def _coef_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(series_id, coefs array<array<double>>), one row per series of at
    least W values: coefs[seg][win] is the PAA coefficient of segment
    seg of sliding window win, z-normalized per window (words.window_paa,
    the oracle's row-z-norm spec). One Arrow pass per series over
    series_arrays_from_events; shorter series are dropped."""

    @pandas_udf("array<array<double>>")
    def _paa(vals: pd.Series) -> pd.Series:
        return vals.map(
            lambda v: words.window_paa(np.asarray(v, dtype=np.float64), W, L).T.tolist()
        )

    arrays = series_arrays_from_events(load_table(spark, sf_dir, "events"))
    return arrays.where(F.col("n") >= W).select("series_id", _paa("values").alias("coefs"))


def coef_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long form (series_id, win bigint, seg int, coef) of every sliding
    window's PAA coefficients: _coef_arrays through two posexplodes."""
    return (
        _coef_arrays(spark, sf_dir)
        .select("series_id", F.posexplode("coefs").alias("seg", "_c"))
        .select("series_id", F.posexplode("_c").alias("win", "coef"), "seg")
        .select("series_id", F.col("win").cast("bigint").alias("win"), "seg", "coef")
    )


def _word_pass(spark: SparkSession, sf_dir: str, bag: bool) -> DataFrame:
    """Equi-width words of _coef_arrays in a second Arrow pass per
    series: (series_id, win, word) rows, or with `bag` its bag of
    patterns (series_id, word, cnt) after numerosity reduction.

    The coefficient frame (one row per series) is persisted and read
    twice: once by the one-row aggregate of every segment's min and max
    (the equi-width fit), broadcast into the pass, and once by the pass
    itself, which quantizes with words.equi_width_words and counts with
    bags.bag_counts. Every integer output equals the SQL chain's
    (equi_width_symbols → pack_words → numerosity_reduce →
    bag_of_words): the bins are the min/max of the same doubles and the
    symbol rule keeps its operation order. No window rows reach Spark."""
    arr = _coef_arrays(spark, sf_dir).persist()
    segs = [F.col("coefs")[s] for s in range(L)]
    bins = arr.agg(
        F.array(*[F.min(F.array_min(c)) for c in segs]).alias("vmin"),
        F.array(*[F.max(F.array_max(c)) for c in segs]).alias("vmax"),
    )

    names = ("series_id", "word", "cnt") if bag else ("series_id", "win", "word")

    def run(batches):
        for pdf in batches:
            parts = []
            for sid, c, lo, hi in zip(pdf["series_id"], pdf["coefs"], pdf["vmin"], pdf["vmax"]):
                wd = words.equi_width_words(np.stack(c, axis=1), lo, hi, A)
                x, y = bags.bag_counts(wd) if bag else (np.arange(len(wd)), wd)
                parts.append((np.full(len(x), sid), x, y))
            if parts:
                yield pd.DataFrame(
                    {n: np.concatenate(v).astype(np.int64) for n, v in zip(names, zip(*parts))}
                )

    return arr.crossJoin(F.broadcast(bins)).mapInPandas(
        run, ", ".join(f"{n} bigint" for n in names)
    )


def words_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(series_id, win, word): every sliding window's packed SFA word
    (equi-width symbols, A letters, L segments) — _word_pass."""
    return _word_pass(spark, sf_dir, bag=False)


def bag_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(series_id, word, cnt): each series' bag of patterns after
    numerosity reduction — _word_pass, with no window rows in Spark."""
    return _word_pass(spark, sf_dir, bag=True)


def _label(col="series_id"):
    return (F.col(col) % N_LABELS).cast("bigint").alias("label")


# ---------------------------------------------------------------- P: windowing

def q_znorm(spark, sf_dir):
    s = window.znorm(series_df(spark, sf_dir))
    return s.select(
        "series_id", "pos", rnd("value_z", 4).alias("znorm")
    )


def q_rolling_stats(spark, sf_dir):
    r = window.rolling_stats(series_df(spark, sf_dir), ROLL_W)
    return r.where(F.col("valid_start")).select(
        "series_id",
        "pos",
        rnd("r_mean", 4).alias("r_mean"),
        rnd("r_std", 4).alias("r_std"),
    )


def q_sliding_count(spark, sf_dir):
    sw = window.sliding_long(series_df(spark, sf_dir), W)
    return sw.groupBy("series_id").agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("win").cast("bigint").alias("n_windows"),
    )


def q_disjoint_paa(spark, sf_dir):
    s = series_df(spark, sf_dir)
    d = window.window_znorm(window.disjoint_long(s, W))
    p = words.paa_long(d, W, L)
    return p.select(
        "series_id", "win", "seg", rnd("coef", 4).alias("paa")
    )


# ---------------------------------------------------------------- Q/B: SFA words & bags

def q_sfa_words(spark, sf_dir):
    return words_df(spark, sf_dir).select("series_id", "win", "word")


def q_bag_topk(spark, sf_dir):
    bag = bag_df(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy(
        F.col("cnt").desc(), F.col("word").asc()
    )
    return (
        bag.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= TOPK)
        .select("series_id", "word", "cnt", "rk")
    )


def q_equi_depth_bins(spark, sf_dir):
    coef = coef_df(spark, sf_dir)
    b = quantize.fit_equi_depth_bins(coef, A)
    return b.select(
        "seg", F.posexplode("bins").alias("idx", "boundary")
    ).select(
        "seg",
        (F.col("idx") + 1).cast("bigint").alias("bin_idx"),
        rnd("boundary", 3).alias("boundary"),
    )


def q_equi_depth_hist(spark, sf_dir):
    coef = coef_df(spark, sf_dir)
    sym = quantize.equi_depth_symbols(coef, A)
    return sym.groupBy("seg", "symbol").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def q_word_bigrams(spark, sf_dir):
    wd = words_df(spark, sf_dir)
    keys = bags.weasel_keys(wd, window_length=W, bigrams=True)
    b = bags.bag_of_keys(keys)
    return b.groupBy("key").agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_series"),
    )


def q_sfa_words_equidepth(spark, sf_dir):
    """Flagship chain with rank-based equi-depth symbols (Q2a end to
    end): deterministic ntile tie-break (coef, series_id, win)."""
    coef = coef_df(spark, sf_dir)
    sym = quantize.equi_depth_symbols(coef, A)
    wd = words.pack_words(sym.select("series_id", "win", "seg", "symbol"), A)
    return bags.bag_of_words(bags.numerosity_reduce(wd))


def q_derivatives(spark, sf_dir):
    """S4 derivative channels on the events series: dim 0 = value,
    dim 1 = |first difference| (length n−1)."""
    from sfa_spark.sources.multivariate import derivatives

    s = series_df(spark, sf_dir).withColumn("dim", F.lit(0).cast("int"))
    mv = derivatives(s.select("series_id", "dim", "pos", "value", "n"), n_dims=1)
    return mv.groupBy("series_id", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        rnd(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------- selection / models

def q_chi2(spark, sf_dir):
    bag = bag_df(spark, sf_dir).persist().withColumn("label", _label())
    chi = select.chi_squared(bag, limit=0.0, word_limit=None)
    return chi.select("word", rnd("chi2", 3).alias("chi2"))


CHI2_CAP = 25


def q_chi2_capped(spark, sf_dir):
    """χ² selection with the WORD_LIMIT cap ENGAGED over the WEASEL
    unigram+bigram keyspace — unigrams (key < 2³²) and bigrams capped
    separately at CHI2_CAP each, ranked by χ² desc then key asc
    (WEASEL.java:287-324). Plans as TakeOrderedAndProject, never a
    global-sort window."""
    wd = words_df(spark, sf_dir)
    keys = bags.weasel_keys(wd, window_length=W, bigrams=True)
    kb = bags.bag_of_keys(keys).withColumn("label", _label())
    chi = select.chi_squared(
        kb, limit=0.0, word_limit=CHI2_CAP, key_col="key",
        split_unigram_bigram=True,
    )
    return chi.select("key", rnd("chi2", 3).alias("chi2"))


def q_anova_f(spark, sf_dir):
    coef = coef_df(spark, sf_dir).withColumn("label", _label())
    f = select.anova_f(coef.select("seg", "coef", "label"))
    ranked = select.top_coefficients(f, L)
    return ranked.select(
        "seg", rnd("f_stat", 3).alias("f_stat"), F.col("rank").cast("int").alias("rank")
    )


def q_tfidf_fit(spark, sf_dir):
    # the class count is fit_tfidf's in-plan scalar over the cached bag
    bag = bag_df(spark, sf_dir).persist().withColumn("label", _label())
    m = tfidf.fit_tfidf(bag)
    return m.select("label", "word", rnd("weight", 4).alias("weight"))


def _split_bags(spark, sf_dir):
    # persist: the bag feeds multiple plan branches (train/test filters,
    # tf totals, distance probes) — run the word pass once. Bag size is
    # bounded (≤ series × vocab), safe to cache.
    bag = bag_df(spark, sf_dir).persist()
    test = bag.where(F.col("series_id") % TEST_MOD == 0)
    train = bag.where(F.col("series_id") % TEST_MOD != 0)
    return train, test


def q_tfidf_predict(spark, sf_dir):
    train, test = _split_bags(spark, sf_dir)
    model = tfidf.fit_tfidf(train.withColumn("label", _label()))
    pred = tfidf.score_tfidf(test, model)
    return pred.select("series_id", F.col("pred_label").cast("bigint").alias("pred_label"))


def q_tfidf_accuracy(spark, sf_dir):
    pred = q_tfidf_predict(spark, sf_dir).withColumn("label", _label())
    return folds.accuracy(pred)


def _adaptive_chunks(
    spark, sf_dir: str, table: str = "events", target_bytes: int = 512 << 10
) -> int:
    """Scale-adaptive chunk count for the blocked kNN (guide §2:
    derive partitioning from input size, not a constant tuned for one
    deployment): one chunk per `target_bytes` of the source table's
    on-disk footprint — a driver-side stat, no Spark job — clamped to
    [1, defaultParallelism]. Small inputs get few chunks (each chunk
    replicates the query side once and pays an applyInPandas group),
    large inputs saturate the cluster; a non-listable path (object
    store) falls back to full parallelism, the operator default.
    512 KB/chunk measured best across the decade: sf0.1 (2 MB) → 4
    chunks, sf1 (16 MB) → 30, sf10+ → clamped to the core count (a
    first cut at 4 MB/chunk under-parallelized the sf1 GEMM —
    q_boss_1nn 5.5 s → 12.1 s — because the blocked distance work
    grows quadratically while the stat grows linearly; err toward
    more chunks once the corpus outgrows a few MB)."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        return spark.sparkContext.defaultParallelism
    par = spark.sparkContext.defaultParallelism
    return max(1, min(par, int(size // target_bytes)))


def q_boss_1nn(spark, sf_dir):
    """BOSS 1-NN over the corpus split (knn.boss_1nn: the corpus is
    hash-chunked, each bag ships once per chunk, block argmins are two
    exact GEMMs). The chunk count adapts to the input size instead of
    pinning to the core count, which cuts fixed per-task overhead at
    small scale; at sf10 it still saturates the cluster (clamped to
    defaultParallelism)."""
    train, test = _split_bags(spark, sf_dir)
    nn = knn.boss_1nn(test, train, n_chunks=_adaptive_chunks(spark, sf_dir))
    return nn.select("series_id", "nn_id", F.col("dist").cast("bigint").alias("dist"))


def q_folds(spark, sf_dir):
    labeled = (
        series_df(spark, sf_dir)
        .select("series_id")
        .distinct()
        .withColumn("label", _label())
    )
    f = folds.stratified_folds(labeled, 10)
    return f.groupBy("label", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


# ---------------------------------------------------------------- relational anchors

def q_tpch_pricing(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


def q_top_customers(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dec_sum("o_totalprice").alias("revenue"))
    )
    # top-k via orderBy().limit() → TakeOrderedAndProject (parallel
    # partial top-k); ranks 1..k attach by a row_number over the k-row
    # limit output (operators/topk.py)
    from sfa_spark.operators.topk import ranked_top_k

    return ranked_top_k(
        rev.select("c_custkey", "c_name", "revenue"),
        [("revenue", True), ("c_custkey", False)],
        10,
    ).select("c_custkey", "c_name", "revenue", "rk")


def q_daily_revenue(spark, sf_dir):
    """Time-bucketed lineitem revenue (l_shipdate is a plain timestamp,
    unlike events.ts — bucketed via epoch-seconds // 86400)."""
    li = load_table(spark, sf_dir, "lineitem")
    day = F.floor(F.unix_timestamp(F.col("l_shipdate").cast("timestamp")) / 86400).cast("bigint")
    daily = li.groupBy(day.alias("day")).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )
    from sfa_spark.operators.topk import ranked_top_k

    return ranked_top_k(daily, [("revenue", True), ("day", False)], 10)


def q_revenue_by_nation(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            dec_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
        )
    )


def q_sessionize(spark, sf_dir):
    # ts arrives as bigint nanoseconds (see session.py nanosAsLong)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    sess = (
        ev.withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > 1_800_000_000_000), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_new")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
    )
    return sess.groupBy(
        F.col("user_id").cast("bigint").alias("series_id"), "session_id"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )


def q_asof_join(spark, sf_dir):
    """As-of enrichment: each purchase event joined to the user's
    latest error at or before it (left-outer; lag in ns). The Spark
    side is the union-sort-fill plan (operators/temporal.asof_join —
    one Exchange + Sort, no range-join blow-up); the oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from sfa_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("err_value"))
    )
    j = asof_join(
        purchases, errors, by="user_id", on="ts", right_cols=["err_value"]
    )
    return j.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("ts").alias("ts_ns"),
        "value",
        "err_value",
        (F.col("ts") - F.col("ts_right")).alias("lag_ns"),
    )


def q_interval_join(spark, sf_dir):
    """Range join: purchases inside ±60-minute error-incident windows
    of the same user. The Spark side is the bucketized interval join
    (operators/temporal.interval_join — equi-join on (user, bucket) +
    residual BETWEEN, never a nested-loop range join); the oracle is
    the plain BETWEEN join DuckDB can afford at oracle scale."""
    from sfa_spark.operators.temporal import interval_join

    ev = load_table(spark, sf_dir, "events")
    one_hour = 3_600_000_000_000
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("ts_ns"), "value",
    )
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"), "user_id",
        (F.col("ts") - one_hour).alias("w_start"),
        (F.col("ts") + one_hour).alias("w_end"),
    )
    j = interval_join(
        purchases, incidents, by="user_id", t="ts_ns",
        start="w_start", end="w_end", bucket_width=7_200_000_000_000,
    )
    return j.select(
        "purchase_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts_ns", "value", "incident_id", "w_start", "w_end",
    )


def q_funnel(spark, sf_dir):
    """Ordered conversion funnel signup → click → purchase per user:
    one row per completed stage with its greedy earliest completion
    time (operators/temporal.funnel — one shuffle, k chained
    conditional window minima, no join/explode)."""
    from sfa_spark.operators.temporal import funnel

    ev = load_table(spark, sf_dir, "events")
    out = funnel(
        ev, by="user_id", t="ts", type_col="event_type",
        steps=["signup", "click", "purchase"],
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "stage",
        F.col("step_ts").alias("step_ts_ns"),
    )


def q_retention(spark, sf_dir):
    """Cohort retention triangle over events: users cohorted by first
    active day, n_active per (cohort, day_offset) cell
    (operators/temporal.retention — one wide shuffle with map-side
    period dedup, calendar-bounded per-user state)."""
    from sfa_spark.operators.temporal import retention

    ev = load_table(spark, sf_dir, "events")
    day_ns = 86_400_000_000_000
    return retention(ev, by="user_id", t="ts", period=day_ns)


def q_latency_quantiles(spark, sf_dir):
    """Exact interpolated p50/p90/p99 of event value per event type —
    the distribution summary a pipeline dashboard tracks. Spark's
    `percentile` and DuckDB's `quantile_cont` share the linear-
    interpolation definition, so the oracle matches to the ulp."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", [0.5, 0.9, 0.99]).alias("_p"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return q.select(
        "event_type", "n",
        rnd(F.col("_p")[0], 4).alias("p50"),
        rnd(F.col("_p")[1], 4).alias("p90"),
        rnd(F.col("_p")[2], 4).alias("p99"),
    )


def q_value_outliers(spark, sf_dir):
    """Group-wise z-score anomalies (|z| > 3 within event type):
    one tiny stats aggregate broadcast back over the corpus
    (operators/temporal.zscore_outliers — the events are never
    re-shuffled)."""
    from sfa_spark.operators.temporal import zscore_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = zscore_outliers(ev, by="event_type", value="value", z=3.0)
    return out.select(
        "event_id", "event_type", "value", rnd("zscore", 4).alias("zscore")
    )


def q_latest_state(spark, sf_dir):
    """Changelog compaction / upsert materialization: the LATEST event
    per user (argmax by (ts, event_id)) — the state table a CDC
    pipeline materializes from an append log. One hash aggregate with
    map-side partial max_by: no sort, no window over the full log; at
    100 TB this is the standard compaction pass before a snapshot
    export."""
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("event_id"),
        F.max("ts").alias("ts"),
        F.max_by("event_type", key).alias("event_type"),
        rnd(F.max_by("value", key), 4).alias("value"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )


def q_salted_revenue(spark, sf_dir):
    """Events ⋈ customer on user_id = c_custkey through the SALTED
    skew join (operators/skew.py — hot keys spread over 8 sub-keys),
    aggregated to per-nation event revenue. Output is identical to
    the plain equi-join, so the oracle is the unsalted SQL join."""
    from sfa_spark.operators import skew
    from sfa_spark.sources.events import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    j = skew.salted_join(ev, cust, "user_id", "c_custkey", n_salts=8)
    return (
        j.groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dec_sum("value").alias("revenue"),
        )
        .select("nationkey", "n_events", rnd("revenue", 4).alias("revenue"))
    )


def q_tpch_shipping(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): revenue of orders placed
    before the cutoff whose lineitems shipped after it — orders dim
    broadcast into the lineitem fact scan, top-10 via
    TakeOrderedAndProject + a row_number over the 10-row limit output
    (no window over the raw input)."""
    from sfa_spark.operators.topk import ranked_top_k

    cut = F.lit("1998-01-01").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < cut
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").cast("timestamp") > cut
    )
    rev = (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )
    return ranked_top_k(
        rev.select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_orderpriority",
            rnd("revenue", 4).alias("revenue"),
        ),
        [("revenue", True), ("o_orderkey", False)],
        10,
    )


def q_tpch_local_supplier(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation with the customer-nation ==
    supplier-nation co-location filter — one fact scan, every dim
    broadcast; revenue per nation."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    )
    return (
        j.groupBy("n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
        .select("n_name", rnd("revenue", 4).alias("revenue"), "n_items")
    )


def q_json_props(spark, sf_dir):
    """Semi-structured extraction: parse the events `props` JSON column
    with an EXPLICIT schema (`from_json` — no inference pass, malformed
    rows become NULL instead of failing the job) and aggregate the
    extracted field. The scale-safe pattern for JSON payload columns:
    schema-on-read stays a row-local projection, the whole plan is one
    map-side-combinable groupBy."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.withColumn("_p", F.from_json("props", "k INT"))
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("_p.k").isNull().cast("long")).cast("bigint").alias("n_bad"),
        F.countDistinct("_p.k").cast("bigint").alias("n_k"),
        rnd(F.avg("_p.k")).alias("avg_k"),
        F.sum(
            F.when(F.col("_p.k") >= 50, F.col("value"))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        )
        .cast("double")
        .alias("hi_value"),
    )


def q_scd2_history(spark, sf_dir):
    """SCD2 dimension history from the events changelog: per-user
    validity intervals [valid_from, valid_to) with version numbers and
    an is_current flag — the as-of-queryable companion of the
    latest-state compaction."""
    from sfa_spark.operators.temporal import scd2_history

    ev = load_table(spark, sf_dir, "events")
    h = scd2_history(ev.where(F.col("user_id") < 20))
    return h.select(
        "user_id", "event_id", "event_type", "version",
        "valid_from", "valid_to", "is_current",
        rnd("value", 4).alias("value"),
    )


def q_scd2_apply(spark, sf_dir):
    """Incremental SCD2 maintenance (temporal.scd2_apply): the
    dimension history is built from each user's changelog MINUS its
    last two events, then the day's delta (those last two) folds in —
    open rows close at the delta's arrival, new versions continue the
    numbering, untouched keys pass through. The oracle recomputes the
    FULL history from scratch, so a hash match proves
    apply(history(prefix), batch(suffix)) == rebuild(prefix ∪ suffix)
    exactly — the same O(delta)-equals-recompute certificate as
    q_incremental_agg."""
    from sfa_spark.operators.temporal import scd2_apply, scd2_history

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    wo = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = ev.withColumn("_rn", F.row_number().over(wo)).withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    prefix = ranked.where(F.col("_rn") <= F.col("_cnt") - 2).drop("_rn", "_cnt")
    batch = ranked.where(F.col("_rn") > F.col("_cnt") - 2).drop("_rn", "_cnt")
    nxt = scd2_apply(scd2_history(prefix), batch)
    return nxt.select(
        "user_id", "event_id", "event_type", "version",
        "valid_from", "valid_to", "is_current",
        rnd("value", 4).alias("value"),
    )


def q_rollup_revenue(spark, sf_dir):
    """Hierarchical totals in ONE pass: revenue by (nation, order
    year) with ROLLUP — per-(nation, year) rows, per-nation subtotals,
    and the grand total, distinguished by grouping_id. Spark computes
    all levels in a single shuffle (partial aggregation covers every
    grouping set); the naive alternative is three jobs and three scans."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
    )
    return (
        j.rollup("n_name", "o_year")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            dec_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .select("n_name", "o_year", "gid", "revenue", "n_orders")
    )


def q_corr_pricing(spark, sf_dir):
    """Pairwise Pearson correlations over the lineitem numerics in ONE
    scan: every moment (Σx, Σx², Σxy) is a decimal-summed aggregate of
    the same pass, and the correlation is assembled from the exact
    moments with the identical closed form in both engines — the
    multi-statistic profiling pass of a feature-engineering pipeline,
    without per-pair jobs."""
    li = load_table(spark, sf_dir, "lineitem")

    def dsum(c):
        return F.sum(c.cast("decimal(38,12)")).cast("double")

    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q).alias("sq"), dsum(p).alias("sp"), dsum(d).alias("sd"),
        dsum(q * q).alias("sqq"), dsum(p * p).alias("spp"),
        dsum(d * d).alias("sdd"), dsum(q * p).alias("sqp"),
        dsum(q * d).alias("sqd"), dsum(p * d).alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        num = n * F.col(sxy) - F.col(sx) * F.col(sy)
        den = F.sqrt(n * F.col(sxx) - F.col(sx) * F.col(sx)) * F.sqrt(
            n * F.col(syy) - F.col(sy) * F.col(sy)
        )
        return num / den

    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        rnd(corr("sqp", "sq", "sp", "sqq", "spp")).alias("corr_qty_price"),
        rnd(corr("sqd", "sq", "sd", "sqq", "sdd")).alias("corr_qty_disc"),
        rnd(corr("spd", "sp", "sd", "spp", "sdd")).alias("corr_price_disc"),
    )


def q_observed_quality(spark, sf_dir):
    """Data-quality metrics harvested from an Observation riding the
    analytics job itself (df.observe — no second scan): row count and
    per-column null counts over events, returned as a one-row frame.
    The oracle recomputes the same counts in SQL, so a hash match
    proves the instrumentation reports exactly what the job consumed."""
    from sfa_spark.operators.audit import with_observation

    ev = load_table(spark, sf_dir, "events")
    inst, obs = with_observation(ev, "ev_quality", ["event_type", "value"])
    # the action the pipeline was running anyway — here, the daily agg
    inst.groupBy("event_type").count().collect()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["nulls_event_type"]),
                int(m["nulls_value"]),
            )
        ],
        "n_rows bigint, nulls_event_type bigint, nulls_value bigint",
    )


def q_event_cooccurrence(spark, sf_dir):
    """Market-basket association mining over the event log: for every
    unordered pair of event types, the number of users exhibiting both
    (support) and the lift vs independence. Shapes that scale: the
    corpus collapses to DISTINCT (user, type) first (map-side dedup),
    the pair join is keyed on user_id, and the per-type counts
    broadcast back — pair volume is bounded by users × (types per
    user choose 2), never |events|²."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ut.select("user_id").distinct().count()
    singles = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("event_type").alias("type_a"),
                                       F.col("cnt").alias("cnt_a"))),
            "type_a",
        )
        .join(
            F.broadcast(singles.select(F.col("event_type").alias("type_b"),
                                       F.col("cnt").alias("cnt_b"))),
            "type_b",
        )
        .select(
            "type_a", "type_b", "support", "cnt_a", "cnt_b",
            rnd(
                F.col("support") * F.lit(float(n_users))
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
    )


def q_twap(spark, sf_dir):
    """Time-weighted average value per user (TWAP): each event's value
    is weighted by the time it was 'in effect' (until the next event).
    One keyed shuffle + one sorted window; dt stays integer
    nanoseconds and the weighted sums are decimal-exact, so the oracle
    reproduces it bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.withColumn("dt", F.lead("ts").over(w) - F.col("ts")).where(
        F.col("dt").isNotNull()
    )
    # value × seconds as decimal: dt ≤ days (≪ 1e6 s), value ~1e2 →
    # products fit decimal(38,12) comfortably at any event count
    num = F.sum(
        (F.col("value") * (F.col("dt") / F.lit(1e9))).cast("decimal(38,12)")
    ).cast("double")
    den = F.sum((F.col("dt") / F.lit(1e9)).cast("decimal(38,12)")).cast("double")
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        rnd(num / den).alias("twap"),
    )


def q_pattern_click_purchase(spark, sf_dir):
    """Sequence-pattern detection (MATCH_RECOGNIZE-style): every click
    matched to the user's NEXT purchase with NO error strictly between
    — the negative condition a funnel cannot express. One shuffle, two
    conditional window minima."""
    from sfa_spark.operators.temporal import pattern_detect

    ev = load_table(spark, sf_dir, "events")
    return pattern_detect(ev, start="click", then="purchase", without="error")


def q_pivot_activity(spark, sf_dir):
    """Wide-format activity report: per-user event counts PIVOTed into
    one column per event type (values enumerated explicitly — at scale
    an unpivoted groupBy is one pass either way, but enumerating skips
    Spark's distinct-values pre-job), plus the per-user total. The
    crosstab/reporting surface over the same single shuffle as a plain
    groupBy."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    total = sum((F.col(t) for t in types), F.lit(0))
    return wide.select(
        "user_id",
        *[F.col(t).cast("bigint").alias(f"n_{t}") for t in types],
        total.cast("bigint").alias("n_total"),
    )


def q_mad_outliers(spark, sf_dir):
    """Robust per-type outliers: |v − median| > 3 · 1.4826 · MAD — the
    cutoff is immune to the outliers it hunts (unlike z-scores)."""
    from sfa_spark.operators.temporal import mad_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    res = mad_outliers(ev, k=3.0)
    return res.select(
        "event_id", "event_type", "value",
        rnd("mad_score", 4).alias("mad_score"),
    )


def q_unpivot_metrics(spark, sf_dir):
    """Melt (unpivot) wide aggregates back to long form: per-returnflag
    totals of three lineitem measures as (flag, metric, total) rows —
    the wide↔long reporting bridge (pivot's inverse); unpivot is a
    row-local Expand, no extra shuffle beyond the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dec_sum("l_quantity").alias("qty"),
        dec_sum("l_extendedprice").alias("price"),
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "disc_price"
        ),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "disc_price"],
        variableColumnName="metric",
        valueColumnName="total",
    ).select("l_returnflag", "metric", rnd("total", 4).alias("total"))


def q_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch — THE 100 TB quantile operator: one
    pass of approx_percentile (Greenwald-Khanna, map-side mergeable,
    accuracy=1000 → rank error ≤ n/1000) per event_type for
    p ∈ {0.5, 0.95, 0.99}, next to the exact percentile the oracle can
    recompute. The sketch answers are validated by their RANK, not
    their value (the GK guarantee): count(v < approx) must not exceed
    ⌈(p+ε)·n⌉ and count(v ≤ approx) must reach ⌊(p−ε)·n⌋ — emitted as
    a constant-TRUE `sketch_ok` per group so any sketch regression
    fails the hash. Exact quantiles ride the certified
    percentile == quantile_cont bridge. Scale shape: two
    map-side-combinable aggregates (sketch pass + one broadcast-join
    rank-count pass); no window, no sort of the data."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    ps = [0.5, 0.95, 0.99]
    acc = 1000
    # cache: the (group-cardinality-sized) sketch aggregate feeds BOTH
    # the broadcast into the rank-count pass and the final join — one
    # subtree ends in a BroadcastExchange so ReuseExchange can't dedupe
    # them; without the cache the full scan+sketch would run twice
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            f"percentile_approx(value, array({','.join(map(str, ps))}), {acc})"
        ).alias("approx"),
        F.expr(
            f"percentile(value, array({','.join(map(str, ps))}))"
        ).alias("exact"),
    ).cache()
    j = ev.join(
        F.broadcast(agg.select("event_type", "approx")), "event_type"
    )
    ranks = j.groupBy("event_type").agg(
        *[
            F.sum(
                (F.col("value") < F.element_at("approx", i + 1)).cast("long")
            ).alias(f"_lt{i}")
            for i in range(len(ps))
        ],
        *[
            F.sum(
                (F.col("value") <= F.element_at("approx", i + 1)).cast("long")
            ).alias(f"_le{i}")
            for i in range(len(ps))
        ],
    )
    eps = 1.0 / acc
    out = agg.join(ranks, "event_type")
    ok = F.lit(True)
    for i, p in enumerate(ps):
        hi = F.ceil((F.lit(p) + F.lit(eps)) * F.col("n")).cast("long")
        lo = F.floor((F.lit(p) - F.lit(eps)) * F.col("n")).cast("long")
        ok = ok & (F.col(f"_lt{i}") <= hi) & (F.col(f"_le{i}") >= lo)
    return out.select(
        "event_type",
        "n",
        rnd(F.element_at("exact", 1), 4).alias("exact_p50"),
        rnd(F.element_at("exact", 2), 4).alias("exact_p95"),
        rnd(F.element_at("exact", 3), 4).alias("exact_p99"),
        ok.alias("sketch_ok"),
    )


def q_value_histogram(spark, sf_dir):
    """Equi-width value histogram per event type (16 fixed buckets over
    the global [min, max]) — the numeric-profiling pass before range
    partitioning or quality cuts. Two tiny aggregates: the global range
    broadcast back, then one map-side-combinable bucket count."""
    ev = load_table(spark, sf_dir, "events")
    r = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = ev.crossJoin(F.broadcast(r)).select(
        "event_type",
        F.least(
            F.lit(15),
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / F.lit(16.0))
            ).cast("int"),
        ).alias("bucket"),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def q_snapshot_diff(spark, sf_dir):
    """Table-version diff (audit.snapshot_diff): classify rows between
    two snapshots of `orders` as added / removed / changed. The
    snapshots are deterministic slices of the same table — old drops
    keys % 97 == 3 and perturbs o_totalprice where % 89 == 7; new
    drops keys % 101 == 5 — so added/removed/changed are all
    exercised. One projected full-outer join on the key; unchanged
    rows (the 100 TB bulk) never leave the plan."""
    from sfa_spark.operators.audit import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 97 != 3).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 7, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    new = orders.where(F.col("o_orderkey") % 101 != 5)
    return snapshot_diff(
        old,
        new,
        ["o_orderkey"],
        ["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


def q_column_profile(spark, sf_dir):
    """One-pass table profile (the ANALYZE-TABLE shape): row count plus
    per-column null count, min/max, and exact distinct count for the
    profiled columns of events, in a SINGLE aggregate — Spark plans the
    multi-distinct via one Expand + partial aggregation (one scan, one
    shuffle), not one job per column. At 100 TB swap count_distinct for
    the repo's register-exact HLL (operators/sketch.hll_estimate_by)
    when ±2% suffices; the query keeps the exact form so the oracle is
    exact too."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("nulls_value"),
        rnd(F.min("value"), 6).alias("min_value"),
        rnd(F.max("value"), 6).alias("max_value"),
        F.count_distinct("event_type").cast("bigint").alias("nd_event_type"),
        F.count_distinct("user_id").cast("bigint").alias("nd_user_id"),
        F.min("event_type").alias("min_event_type"),
        F.max("event_type").alias("max_event_type"),
    )


def q_tpch_order_priority(spark, sf_dir):
    """TPC-H Q4-shaped priority check: orders from one quarter that had
    at least one late lineitem (l_shipdate > o_orderdate), counted per
    priority. The EXISTS predicate plans as a LEFT SEMI join — the
    fact table is filtered, never widened; no duplicate-inducing inner
    join + distinct."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    late = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).where(F.col("l_shipdate") > F.col("o_orderdate")).select("l_orderkey")
    sel = o.join(
        late, o.o_orderkey == late.l_orderkey, "left_semi"
    )
    return sel.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


def q_tpch_returned_revenue(spark, sf_dir):
    """TPC-H Q10-shaped returned-item report: revenue lost to returned
    lineitems (l_returnflag = 'R') per customer nation — lineitem
    filtered FIRST (predicate pushdown to the scan), orders joined on
    the key, dims broadcast, one groupBy with exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return j.groupBy("n_name").agg(
        dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("lost_revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    ).select("n_name", rnd("lost_revenue", 4).alias("lost_revenue"), "n_items")


def q_debounce(spark, sf_dir):
    """Telemetry debounce: drop an event when the SAME (user, type)
    fired within the last hour (lag-to-previous rule — row-local after
    one per-key sort, SQL-mirrorable; the greedy keep-anchored variant
    needs sequential state and lives in streaming). Output keeps the
    survivor rows only (~4% suppressed at sf0.01)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    return (
        ev.withColumn("_gap", gap)
        .where(F.col("_gap").isNull() | (F.col("_gap") > 3_600_000_000_000))
        .select("event_id", "user_id", "event_type", "ts")
    )


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per-user recency (last event ts),
    frequency (event count), monetary (value sum), each scored 1-4 by
    global quartile boundaries computed EXACTLY (percentile ==
    quantile_cont bridge) and broadcast back — never ntile, whose tie
    behavior is engine-specific. One per-user aggregate, one 1-row
    quantile aggregate, row-local scoring."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("monetary"),
    )
    bounds = per_user.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c}_q{i}")
            for c in ("last_ts", "freq", "monetary")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(c):
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{c}_q1")).cast("int")
            + (F.col(c) > F.col(f"{c}_q2")).cast("int")
            + (F.col(c) > F.col(f"{c}_q3")).cast("int")
        ).cast("int")

    return per_user.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "freq",
        rnd("monetary", 4).alias("monetary"),
        score("last_ts").alias("r_score"),
        score("freq").alias("f_score"),
        score("monetary").alias("m_score"),
    )


def q_winsorize(spark, sf_dir):
    """Per-type winsorization of events.value at the exact p01/p99
    (temporal.winsorize): tails clamp to the group quantile, `clipped`
    marks the affected rows — the standard pre-featurization pass, one
    quantile aggregate + row-local clip."""
    from sfa_spark.operators.temporal import winsorize

    ev = load_table(spark, sf_dir, "events")
    w = winsorize(ev, by="event_type", value="value")
    return w.select(
        "event_id",
        "event_type",
        rnd("value_w", 4).alias("value_w"),
        "clipped",
    )


def q_incremental_agg(spark, sf_dir):
    """Materialized-aggregate maintenance (temporal.merge_aggregates):
    a per-(type, user) revenue/count aggregate over the first ~90% of
    events (the frozen nightly materialization) is refreshed with the
    last ~10% (the day's delta) WITHOUT rescanning history — prior agg
    rows union the delta's partial aggregate, one keyed re-sum. The
    oracle recomputes from scratch, so a hash match proves
    O(delta) == O(corpus) recompute."""
    from sfa_spark.operators.temporal import merge_aggregates

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.lit(1).cast("bigint").alias("n"),
    )
    hist = ev.where(F.col("event_id") % 10 != 7)
    delta = ev.where(F.col("event_id") % 10 == 7)
    prior = hist.groupBy("event_type", "user_id").agg(
        F.sum("v").alias("v"), F.sum("n").alias("n")
    )
    merged = merge_aggregates(
        prior, delta, ["event_type", "user_id"], ["v", "n"]
    )
    return merged.select(
        "event_type",
        "user_id",
        rnd(F.col("v").cast("double"), 4).alias("total_value"),
        F.col("n").cast("bigint").alias("n_events"),
    )


def q_event_transitions(spark, sf_dir):
    """Markov-style path analytics: counts and row-conditional
    probabilities of (prev_type → type) transitions within each user's
    event timeline — the journey matrix behind funnel design. One
    per-user lag window over (ts, event_id) order, one pair groupBy,
    singles broadcast back for P(next | prev). No self-join — the lag
    window reads each row once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    prev_totals = pairs.groupBy("prev_type").agg(
        F.sum("cnt").cast("bigint").alias("prev_cnt")
    )
    return pairs.join(F.broadcast(prev_totals), "prev_type").select(
        "prev_type",
        "next_type",
        "cnt",
        rnd(F.col("cnt") / F.col("prev_cnt"), 6).alias("p_next"),
    )


def q_tpch_market_share(spark, sf_dir):
    """TPC-H Q8-shaped market share: per order year, the fraction of
    total discounted lineitem revenue supplied by NATION_3's suppliers.
    Join shape at 100 TB: lineitem ⋈ orders on orderkey is the one
    big-big join (bucket both by orderkey to elide its Exchange);
    supplier and nation broadcast; then ONE year groupBy with exact
    decimal sums — numerator as a conditional sum so share needs no
    second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            rev.alias("rev"),
            (F.col("n_name") == "NATION_3").alias("is_target"),
        )
    )
    agg = j.groupBy("o_year").agg(
        dec_sum(F.when(F.col("is_target"), F.col("rev")).otherwise(0.0)).alias(
            "nation_rev"
        ),
        dec_sum("rev").alias("total_rev"),
    )
    return agg.select(
        "o_year",
        rnd("nation_rev", 4).alias("nation_rev"),
        rnd("total_rev", 4).alias("total_rev"),
        rnd(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
    )


def q_drift_psi(spark, sf_dir):
    """Data-drift alarm between two corpus versions (audit.drift_psi):
    PSI over events.value with the 'new' version deterministically
    shifted (odd event_ids, value × 1.25 + 0.5) so every drift bucket
    is exercised. One side-tagged union, one bucket groupBy, single-row
    range/total aggregates broadcast back — no snapshot-vs-snapshot
    join."""
    from sfa_spark.operators.audit import drift_psi

    ev = load_table(spark, sf_dir, "events")
    old = ev.where(F.col("event_id") % 2 == 0).select("value")
    new = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.25 + 0.5).alias("value")
    )
    d = drift_psi(old, new, "value", n_buckets=10)
    return d.select(
        "bucket",
        "n_old",
        "n_new",
        rnd("share_old", 6).alias("share_old"),
        rnd("share_new", 6).alias("share_new"),
        rnd("psi_term", 6).alias("psi_term"),
    )


def q_drift_psi_quantile(spark, sf_dir):
    """PSI with QUANTILE buckets (audit.drift_psi buckets='quantile'):
    bin edges are the exact deciles of the OLD (reference) side — the
    outlier-robust binning (one extreme value can collapse equi-width
    buckets to a single occupied bin; decile edges don't move). Same
    deterministic drift injection as q_drift_psi; edges from one
    percentile-array aggregate (Spark percentile == DuckDB
    quantile_cont, the certified bridge), rounded to 6 dp on both
    engines, assignment JVM-side via size(filter(edges, e -> v > e))."""
    from sfa_spark.operators.audit import drift_psi

    ev = load_table(spark, sf_dir, "events")
    old = ev.where(F.col("event_id") % 2 == 0).select("value")
    new = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.25 + 0.5).alias("value")
    )
    d = drift_psi(old, new, "value", n_buckets=10, buckets="quantile")
    return d.select(
        "bucket",
        "n_old",
        "n_new",
        rnd("share_old", 6).alias("share_old"),
        rnd("share_new", 6).alias("share_new"),
        rnd("psi_term", 6).alias("psi_term"),
    )


def q_merge_changes(spark, sf_dir):
    """Batch MERGE INTO (audit.apply_changes): apply a CDC batch to the
    orders snapshot — upserts (update + insert), deletes, and same-key
    conflicts resolved by highest (seq, op). The batch is synthesized
    deterministically from orders itself: seq-1 updates for keys
    % 7 == 1, seq-2 deletes for keys % 13 == 2 (so keys % 91 == 15 get
    BOTH and the delete wins), seq-3 re-updates for keys % 21 == 15
    (update-over-update, last wins), and brand-new keys (+10^7) for
    keys % 97 == 0 (pure inserts). One max_by collapse + one keyed
    full-outer join."""
    from sfa_spark.operators.audit import apply_changes

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    u1 = base.where(k % 7 == 1).select(
        k.alias("o_orderkey"),
        F.lit(1).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
        F.lit("U1").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
    )
    d = base.where(k % 13 == 2).select(
        k.alias("o_orderkey"),
        F.lit(2).cast("bigint").alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    u2 = base.where(k % 21 == 15).select(
        k.alias("o_orderkey"),
        F.lit(3).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
        F.lit("U2").alias("o_orderstatus"),
        (F.col("o_totalprice") + 200.0).alias("o_totalprice"),
    )
    ins = base.where(k % 97 == 0).select(
        (k + 10_000_000).alias("o_orderkey"),
        F.lit(1).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
        F.lit("NEW").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    changes = u1.unionByName(d).unionByName(u2).unionByName(ins)
    nxt = apply_changes(base, changes, ["o_orderkey"])
    return nxt.select(
        "o_orderkey", "o_orderstatus", rnd("o_totalprice", 4).alias("o_totalprice")
    )


def q_skew_profile(spark, sf_dir):
    """Join-key skew diagnostics (audit.skew_profile) on
    events.event_type: top-10 heaviest keys with share and skew ratio
    (count / mean-per-key) — the pre-flight that sizes the salt factor
    for operators/skew.salted_join before a 100 TB shuffle."""
    from sfa_spark.operators.audit import skew_profile

    ev = load_table(spark, sf_dir, "events")
    p = skew_profile(ev, "event_type", top_n=10)
    return p.select(
        "event_type",
        "cnt",
        "rk",
        "total_rows",
        "n_keys",
        rnd("share", 6).alias("share"),
        rnd("skew_ratio", 6).alias("skew_ratio"),
    )


def q_tpch_shipmode_priority(spark, sf_dir):
    """TPC-H Q12-shaped dual conditional count, adapted to this schema:
    per lineitem linestatus, how many lines belong to HIGH-priority
    orders (1-URGENT / 2-HIGH) vs the rest, over one ship-year. The
    essence of Q12 at 100 TB: ONE big-big join (lineitem ⋈ orders on
    orderkey — bucket both to elide the Exchange, the layout proven in
    tests/test_bucketed_plans.py) feeding CASE-conditional counts in a
    single groupBy; the year filter pushes to the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_linestatus", hi.alias("is_high")
    )
    return j.groupBy("l_linestatus").agg(
        F.sum(F.col("is_high").cast("long")).cast("bigint").alias("high_line_count"),
        F.sum((~F.col("is_high")).cast("long")).cast("bigint").alias("low_line_count"),
    )


def q_tpch_big_orders(spark, sf_dir):
    """TPC-H Q18-shaped large-volume orders: orders whose total
    lineitem quantity exceeds a threshold, with customer attribution.
    Shape at 100 TB: the HAVING pre-aggregates lineitem per orderkey
    FIRST (map-side combinable, output is order-sized not line-sized),
    then only the tiny surviving key set joins orders and the customer
    dim (broadcast) — never orders ⋈ lineitem before the filter."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 100.0)
    )
    j = orders.join(
        big, orders.o_orderkey == big.l_orderkey
    ).join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    return j.select(
        "c_name",
        "o_orderkey",
        rnd("o_totalprice", 4).alias("o_totalprice"),
        rnd("total_qty", 4).alias("total_qty"),
    )


def q_tpch_supplier_variety(spark, sf_dir):
    """TPC-H Q16-shaped supplier variety: distinct supplier count per
    (p_brand, size class) over the lineitem-derived part-supplier
    relation, EXCLUDING blacklisted suppliers (negative account
    balance) via a LEFT ANTI join — the NOT-IN-subquery shape planned
    as an anti join on the small exclusion list (broadcast), never a
    NOT-IN scan. The part dim broadcasts; one distinct-aggregate
    shuffle on the group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    excl = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    )
    return (
        ps.groupBy("p_brand", (F.col("p_size") % 5).cast("int").alias("size_class"))
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


def q_tpch_small_qty(spark, sf_dir):
    """TPC-H Q17-shaped small-quantity revenue: for small parts, the
    would-be average yearly revenue from lineitems whose quantity is
    under half the part's own average — the correlated-scalar-subquery
    shape, decorrelated the way an optimizer must at scale: the
    per-part average is ONE map-side-combinable pre-aggregate joined
    back on the part key (lineitem and the part-sized aggregate
    co-shuffle on l_partkey; the filtered part dim broadcasts). The
    average uses an exact decimal sum / count double division so the
    `quantity < 0.5*avg` boundary cannot flip on accumulation-order
    ulps between engines (the dec_sum discipline).
    Reference anchor for the shape: TPC-H spec Q17 (public)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sel = part.where(F.col("p_size") <= 10).select("p_partkey", "p_brand")
    # per-part average as a WINDOW after the part semi-join (r8): the
    # pre-aggregate + join-back form scanned lineitem TWICE (the pavg
    # branch aggregated EVERY part, then the join pruned — 2 lineitem
    # scans, 0 ReusedExchange in plans/r08/q_tpch_small_qty_before
    # .txt). The broadcast part filter drops whole parts, never rows
    # within a part, so the window average over the filtered rows is
    # the identical per-part average (same dec_sum/count expression,
    # decimal addition is order-independent); one lineitem scan, one
    # l_partkey exchange.
    w_part = Window.partitionBy("l_partkey")
    j = (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(sel), F.col("l_partkey") == sel.p_partkey)
        .withColumn(
            "avg_qty",
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).over(w_part)
            .cast("double")
            / F.count(F.lit(1)).over(w_part).cast("double"),
        )
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
    )
    return j.groupBy("p_brand").agg(
        rnd(dec_sum("l_extendedprice") / F.lit(7.0), 4).alias("avg_yearly")
    )


def q_tpch_waiting_supplier(spark, sf_dir):
    """TPC-H Q21-shaped sole-late-supplier count, adapted to this
    schema (no receipt/commit dates): a supplier 'kept an order
    waiting' if it shipped a finalized multi-supplier order more than
    90 days after the order date while EVERY other supplier on the
    order shipped on time. The EXISTS / NOT-EXISTS pair becomes a
    LEFT SEMI + LEFT ANTI join on the distinct (order, supplier)
    relation — both co-shuffle on the order key (bucketable), no
    correlated subquery, no row explosion; the supplier dim broadcasts
    for naming. Reference anchor for the shape: TPC-H spec Q21."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    o = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    # ONE distinct aggregation carries the late flag (max over the
    # pair's lines); both the EXISTS relation and the late relation
    # derive from it, so the expensive pair-dedup shuffle happens once
    # (ReusedExchange under AQE) instead of twice
    pairs = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    so = pairs.select("l_orderkey", "l_suppkey")
    late = pairs.where("late").select("l_orderkey", "l_suppkey")
    l2 = so.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    sole_late = (
        late.join(  # EXISTS: another supplier on the same order
            l2,
            (late.l_orderkey == l2.o2) & (late.l_suppkey != l2.s2),
            "left_semi",
        ).join(  # NOT EXISTS: another LATE supplier on the same order
            l3,
            (late.l_orderkey == l3.o3) & (late.l_suppkey != l3.s3),
            "left_anti",
        )
    )
    agg = sole_late.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("numwait")
    )
    return agg.join(
        F.broadcast(supplier), agg.l_suppkey == supplier.s_suppkey
    ).select("s_name", "numwait")


def q_tpch_sales_opportunity(spark, sf_dir):
    """TPC-H Q22-shaped sales opportunity, adapted (no phone country
    codes → nation names): per nation, the count and total balance of
    above-average-balance customers who have never ordered. The scalar
    subquery (global positive-balance average) is ONE single-row
    aggregate broadcast into the filter; 'has never placed an URGENT
    order' (this corpus's every customer has SOME order) is a LEFT
    ANTI join against the distinct urgent-order custkeys — the NOT-IN
    shape that stays an anti join at 100 TB, with the priority filter
    pushed to the orders scan; the nation dim broadcasts. The average
    uses dec_sum/count so the balance cutoff is engine-exact.
    Reference anchor for the shape: TPC-H spec Q22."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        (
            dec_sum("c_acctbal") / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    never = rich.join(
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct(),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        never.join(
            F.broadcast(nation), never.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            rnd(dec_sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


def q_tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15-shaped top supplier: the supplier(s) whose discounted
    revenue over one ship-year equals the global maximum. The revenue
    view is ONE map-side-combinable groupBy (supplier-sized output);
    the scalar max is a single-row aggregate broadcast back as a
    cross join — the HAVING-equals-subquery shape with no window and
    no second scan of lineitem. Revenue uses the exact decimal sum
    (dec_sum) so the equality against the max cannot miss on
    accumulation-order ulps. Reference anchor: TPC-H spec Q15."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    # NO persist (r9, reverting r8): rev feeds both the scalar max and
    # the equality filter, and r8 persisted it to halve the lineitem
    # scan — but the interleaved noop A/B is a LOSS at both measured
    # scales (sf0.1: 0.85× in the r8 driver bench; sf1: min 0.853 s
    # persisted vs 0.772 s two-scan, 3 rounds). Mechanism: the two
    # scan+agg subtrees run fully parallel and the filtered one-year
    # scan is cheap, while the persist serializes the consumers behind
    # a materialization barrier and pays the cache write. Guide §5's
    # own test — "reused AND recomputing costs more than the memory
    # pressure" — fails here; recomputation is the cheaper side.
    rev = li.groupBy("l_suppkey").agg(
        dec_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    top = rev.crossJoin(F.broadcast(mx)).where(
        F.col("total_revenue") == F.col("max_revenue")
    )
    return top.join(
        F.broadcast(supplier), top.l_suppkey == supplier.s_suppkey
    ).select(
        "s_suppkey", "s_name", rnd("total_revenue", 4).alias("total_revenue")
    )


def q_tpch_forecast_revenue(spark, sf_dir):
    """TPC-H Q6-shaped revenue-change forecast: discount revenue that
    would be recovered by dropping a discount band, over one ship-year
    and a quantity cap. The whole query is ONE scan with every
    predicate PUSHED to parquet (shipdate range, discount band,
    quantity cap are all row-local min/max-prunable) feeding a
    map-side-combinable global sum — the canonical predicate-pushdown
    showcase; at 100 TB the scan reads only row groups whose stats
    overlap the year. dec_sum keeps the single output value
    engine-exact. Reference anchor: TPC-H spec Q6 (public)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        rnd(dec_sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        )
    )


def q_tpch_volume_shipping(spark, sf_dir):
    """TPC-H Q7-shaped bilateral volume shipping: discounted revenue
    flowing between two nations, per (supplier nation, customer
    nation, ship year), both directions. Shape at 100 TB: the nation
    pair filter lands on the two DIM sides first (supplier⋈nation and
    customer⋈nation both broadcast — nation is tiny, the filtered
    supplier/customer key lists are small), so the two big-big joins
    (lineitem ⋈ orders on orderkey, then the broadcast probes) never
    carry rows outside the pair; one final groupBy on three low-card
    keys. Reference anchor: TPC-H spec Q7 (public)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # 4-nation trading bloc (a 2-nation pair yields zero rows at the
    # smallest test scale; the disjoint supp<>cust shape is identical)
    pair = ("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    sn = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .where(F.col("n_name").isin(*pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .where(F.col("n_name").isin(*pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(F.broadcast(cn), orders.o_custkey == cn.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            rnd(
                dec_sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                4,
            ).alias("revenue")
        )
    )


def q_tpch_product_profit(spark, sf_dir):
    """TPC-H Q9-shaped product-line profit, adapted to this schema (no
    partsupp, so supply cost is stood in by a fixed fraction of the
    part's retail price): per (supplier nation, order year), the sum of
    discounted revenue minus stand-in cost over parts whose name
    contains a token. Shape at 100 TB: the p_name filter shrinks the
    part dim BEFORE it broadcasts into the lineitem scan (the probe
    side never widens); supplier→nation is a second broadcast chain;
    the only big-big join is lineitem ⋈ orders on the order key
    (bucketable), and the final groupBy has nation×year cardinality.
    The per-row amount is computed in DOUBLE (deterministic IEEE per
    row) and summed via dec_sum. Reference anchor: TPC-H spec Q9."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("red")
    )
    sn = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount = F.col("l_extendedprice") * (
        F.lit(1.0) - F.col("l_discount")
    ) - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.groupBy(
            "nation", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(rnd(dec_sum(amount), 4).alias("sum_profit"))
    )


def q_tpch_customer_distribution(spark, sf_dir):
    """TPC-H Q13-shaped customer order-count distribution: how many
    customers placed exactly k qualifying orders, INCLUDING the
    zero-order customers — the left-outer-join-then-double-aggregate
    shape. At 100 TB the first aggregate (orders per custkey, with the
    priority exclusion pushed to the orders scan) is map-side
    combinable and customer-sized; the LEFT join against the customer
    key set preserves never-ordered customers as count 0; the second
    groupBy is on the tiny count domain. No correlated subquery, no
    row explosion. Reference anchor: TPC-H spec Q13 (public)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("k")
    )
    c_counts = (
        customer.select("c_custkey")
        .join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("k"), F.lit(0)).cast("bigint").alias("c_count"))
    )
    return c_counts.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


def q_tpch_promo_effect(spark, sf_dir):
    """TPC-H Q14-shaped promotion effect: the percentage of one ship-
    month's discounted revenue that came from PROMO-type parts. Shape
    at 100 TB: the month filter pushes to the lineitem scan; the part
    dim broadcasts; ONE conditional aggregate produces both the promo
    and total sums in a single pass (no second scan, no join back).
    Both sums are exact decimals; only the final ratio is a double
    division, rounded — so the percentage cannot drift on
    accumulation order. Reference anchor: TPC-H spec Q14 (public)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        rnd(
            F.lit(100.0)
            * dec_sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / dec_sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


def q_tpch_discounted_brands(spark, sf_dir):
    """TPC-H Q19-shaped disjunctive-predicate revenue: discounted
    revenue per brand over three (brand, quantity band, size band)
    predicate groups OR'd together. The classic disjunction shape: the
    OR cannot push past the join as a whole, but its brand/size legs
    prune the PART side and the union of quantity bands prunes the
    LINEITEM scan (row-local conjuncts Catalyst extracts as common
    filters); the joined disjunction then runs as one CASE-free
    boolean filter on the broadcast-joined rows — never three scans
    unioned. Reference anchor: TPC-H spec Q19 (public)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") >= 1.0) & (F.col("l_quantity") <= 30.0)
    )
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & (F.col("p_size") >= 1)
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    grp = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("l_quantity").between(1.0, 11.0)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("l_quantity").between(10.0, 20.0)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("l_quantity").between(20.0, 30.0)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        j.where(grp)
        .groupBy("p_brand")
        .agg(
            rnd(
                dec_sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                4,
            ).alias("revenue")
        )
    )


def _partsupp(li):
    """Deterministic partsupp stand-in (this schema ships no partsupp
    table): one row per OBSERVED (partkey, suppkey) pair in lineitem,
    with the pair's exact shipped quantity plus a key-derived supply
    cost and stock level — pure integer arithmetic on the keys, so any
    engine derives the identical relation. Supplier-sized output from
    one map-side-combinable groupBy; at 100 TB this is the standard
    trick of materializing a missing dimension from the fact table's
    own key domain."""
    return (
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(dec_sum("l_quantity").alias("ps_shipped_qty"))
        .select(
            "ps_partkey",
            "ps_suppkey",
            "ps_shipped_qty",
            (
                ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 17) % 1000)
                .cast("double")
                / F.lit(100.0)
                + F.lit(1.0)
            ).alias("ps_supplycost"),
            (((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7) % 50) + 1)
            .cast("bigint")
            .alias("ps_availqty"),
        )
    )


def q_tpch_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2-shaped minimum-cost supplier: for each LARGE part, the
    European supplier(s) offering it at the region's minimum cost.
    The correlated MIN subquery decorrelated the way Q17's average
    was: one part-keyed MIN pre-aggregate joined back on the part key
    (both sides co-partition on ps_partkey); the supplier⋈nation⋈
    region dim chain broadcasts INTO the partsupp derivation so
    non-European pairs never reach the aggregate; the part filter
    broadcasts. Reference anchor: TPC-H spec Q2 (public)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    eu = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    # the dim chain lands BELOW the pair aggregate (r8, closing the r7
    # plan/docstring mismatch): a broadcast left-semi on the fact's own
    # l_suppkey drops non-European rows before the groupBy — the
    # dominant shuffle shrinks to one region's share (~5x at 100 TB).
    # Safe because the filter key IS a grouping key: it keeps or drops
    # whole (partkey, suppkey) groups, never changes a survivor's sum.
    li_eu = li.join(
        F.broadcast(eu.select("s_suppkey")),
        li.l_suppkey == eu.s_suppkey,
        "left_semi",
    )
    ps = _partsupp(li_eu).join(
        F.broadcast(eu), F.col("ps_suppkey") == eu.s_suppkey
    )
    # per-part MIN as a WINDOW over ps instead of a groupBy + join-back
    # (r8): the join-back form planned the whole lineitem→semi-join→
    # pair-aggregate subtree TWICE (column pruning made the two copies
    # non-identical, so exchange reuse never fired — 0 ReusedExchange,
    # 2 lineitem scans in plans/r08/q_tpch_min_cost_supplier_before
    # .txt). The window computes the identical min over the identical
    # partition (exact doubles, key-derived costs) in ONE pass; the
    # equality filter keeps exactly the same rows. Guide §2.4: two
    # operations keyed the same way share one exchange.
    w_part = Window.partitionBy("ps_partkey")
    sel = part.where(F.col("p_type") == "LARGE").select("p_partkey", "p_brand")
    return (
        ps.withColumn("min_cost", F.min("ps_supplycost").over(w_part))
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .join(F.broadcast(sel), F.col("ps_partkey") == sel.p_partkey)
        .select(
            "ps_partkey",
            "p_brand",
            "s_name",
            "n_name",
            rnd("ps_supplycost", 4).alias("supplycost"),
        )
    )


def q_tpch_important_stock(spark, sf_dir):
    """TPC-H Q11-shaped important stock: per part, the stock value
    (supplycost × availqty over Asian suppliers), keeping parts whose
    value exceeds 2× the mean part value — the share-of-global HAVING:
    the global scalar (total value / part count) is ONE single-row
    aggregate broadcast back into the filter, never a second scan of
    the fact side. Reference anchor: TPC-H spec Q11 (public)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    # Asian-supplier semi-join BELOW the pair aggregate (r8): the
    # grouping-key filter commutes with the groupBy (whole pairs kept
    # or dropped), and the dominant shuffle carries one region's rows.
    li_asia = li.join(
        F.broadcast(asia), li.l_suppkey == asia.s_suppkey, "left_semi"
    )
    # persist (r8): val feeds BOTH the scalar mean and the HAVING
    # filter; without it the lineitem→semi-join→pair-aggregate subtree
    # ran twice (0 ReusedExchange — see q_tpch_min_cost_supplier's
    # identical pattern). Part-sized — bounded at any scale.
    val = _partsupp(li_asia).groupBy("ps_partkey").agg(
        dec_sum(F.col("ps_supplycost") * F.col("ps_availqty")).alias("value")
    ).persist()
    mean = val.agg(
        (dec_sum("value") / F.count(F.lit(1)).cast("double")).alias("mean_value")
    )
    return (
        val.crossJoin(F.broadcast(mean))
        .where(F.col("value") > 2.0 * F.col("mean_value"))
        .select("ps_partkey", rnd("value", 4).alias("value"))
    )


def q_tpch_excess_stock_supplier(spark, sf_dir):
    """TPC-H Q20-shaped excess-stock supplier: American suppliers
    holding more stock of some red part than half of what they ever
    shipped of it. Q20's nested EXISTS chain flattened: the correlated
    half-of-shipped threshold is row-local on the derived partsupp
    (the pair's shipped quantity is already aggregated there); the red
    part filter is a broadcast SEMI join; suppliers with ≥1 passing
    pair reach the output through ONE distinct-aggregate, with the
    nation dim broadcast for naming. Reference anchor: TPC-H spec Q20
    (public)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    red = part.where(F.col("p_name").contains("red")).select("p_partkey")
    am = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    # both grouping-key filters land BELOW the pair aggregate (r8):
    # red parts on l_partkey, American suppliers on l_suppkey — each a
    # broadcast left-semi that keeps or drops whole (partkey, suppkey)
    # groups, so the aggregate sees only the qualifying slice.
    li_f = li.join(
        F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi"
    ).join(
        F.broadcast(am.select("s_suppkey")),
        F.col("l_suppkey") == am.s_suppkey,
        "left_semi",
    )
    ps = _partsupp(li_f).where(
        F.col("ps_availqty").cast("double") > 0.5 * F.col("ps_shipped_qty")
    )
    hits = ps.groupBy("ps_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_excess_parts")
    )
    return hits.join(
        F.broadcast(am), hits.ps_suppkey == am.s_suppkey
    ).select("s_name", "n_name", "n_excess_parts")
