"""MTEASER early multivariate time-series classification (SURVEY §2.7 C11).

Reference: MTEASERClassifier
(`src/main/java/sfa/classification/MTEASERClassifier.java`), the TEASER
control flow (`TEASERClassifier.java:138-195,273-363`) over
multivariate series:
  * fit — S prefix snapshots (equal steps, capped at 250); a slave
    classifier per snapshot; a master filter deciding whether to trust
    the slave; then a grid over v (consecutive identical accepted
    predictions) choosing the v that maximizes the harmonic mean of
    train accuracy and earliness.
  * predict — walk snapshots ascending, count consecutive identical
    accepted predictions, emit at streak ≥ v; forced decision at the
    last snapshot.

Deviations (documented): the slave is a per-dimension tf-idf (BOSS VS)
scorer with the class scores summed over dimensions, where the
reference uses a MUSE slave; the master accepts a snapshot prediction
iff its normalized top score ≥ the q-quantile of top scores among
CORRECTLY-classified train samples at that snapshot, where the
reference fits a ν-one-class SVM. The univariate TEASER with the
reference's WEASEL slaves and one-class SVM master is
ml/teaser_weasel.py.

The predict path is pure DataFrame ops: per-snapshot scores → accept
flag → gaps-and-islands streak → first qualifying snapshot (or forced
final). The batch streak rule is the same one the streaming
teaser_accept (streaming/scoring.py) applies incrementally.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sfa_spark.operators import bags, sfa, tfidf
from sfa_spark.operators.words import mask_word


def _decide(
    snap: DataFrame, plen_map: dict[int, int], v: int, n_snapshots: int
) -> DataFrame:
    """snapshot predictions (series_id, s, pred_label, accepted) →
    one decision per series: first snapshot whose accepted streak of
    identical predictions reaches v; else forced at the last snapshot.
    plen_map: snapshot → prefix length; earliness is the decision
    snapshot's prefix over the longest one. Gaps-and-islands with
    window functions — no driver loop."""
    w = Window.partitionBy("series_id").orderBy("s")
    total = max(plen_map.values())
    chg = (
        F.when(~F.col("accepted"), F.lit(1))
        .when(F.col("pred_label") != F.lag("pred_label").over(w), F.lit(1))
        .when(F.lag("accepted").over(w).isNull() | ~F.lag("accepted").over(w), F.lit(1))
        .otherwise(F.lit(0))
    )
    runs = snap.withColumn("chg", chg).withColumn(
        "run", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    streaks = runs.withColumn(
        "streak",
        F.when(
            F.col("accepted"),
            F.row_number().over(Window.partitionBy("series_id", "run").orderBy("s")),
        ).otherwise(F.lit(0)),
    )
    hit = streaks.where(F.col("streak") >= v)
    first_hit = (
        hit.withColumn(
            "rn", F.row_number().over(Window.partitionBy("series_id").orderBy("s"))
        )
        .where(F.col("rn") == 1)
        .select("series_id", "s", "pred_label")
    )
    forced = (
        snap.where(F.col("s") == n_snapshots)
        .select("series_id", F.col("pred_label").alias("forced_label"))
    )
    plen_df = snap.sparkSession.createDataFrame(
        list(plen_map.items()), "s int, plen int"
    )
    return (
        forced.join(first_hit, "series_id", "left")
        .withColumn("s", F.coalesce("s", F.lit(n_snapshots)))
        .withColumn("pred_label", F.coalesce("pred_label", "forced_label"))
        .join(F.broadcast(plen_df), "s")
        .select(
            "series_id",
            "pred_label",
            (F.col("plen") / F.lit(float(total))).alias("earliness"),
        )
    )


@dataclass
class MTeaserSlave:
    snapshot: int
    prefix_len: int
    parts: list  # [(dim, SFAModel, word_length, tfidf DataFrame)]
    tau: float


@dataclass
class MTeaserModel:
    slaves: list[MTeaserSlave]
    v: int
    n_snapshots: int


def _mv_prefix(mv_arrays: DataFrame, plen: int) -> DataFrame:
    """Per-dimension truncated prefix, re-z-normalized per dim —
    MultiVariateTimeSeries.getSubsequence norm()s every dimension's
    fresh slice (MultiVariateTimeSeries.java:32-39)."""
    from sfa_spark.ml.teaser_weasel import java_norm_expr

    return mv_arrays.select(
        "series_id",
        "dim",
        java_norm_expr(F.slice("values", 1, plen)).alias("values"),
    )


def _mslave_scores(slave: MTeaserSlave, mv_arrays: DataFrame) -> DataFrame:
    """Multivariate slave: per-dim tf-idf scores summed over dims
    (reference MTEASER uses a MUSE slave — same shape: per-dim features
    pooled into one class score)."""
    parts = []
    for dim, model, wl, m in slave.parts:
        arr = mv_arrays.where(F.col("dim") == dim).select("series_id", "values")
        words = sfa.transform_windowing(model, arr)
        masked = words.withColumn("word", mask_word(F.col("word"), wl, model.alphabet))
        bag = bags.bag_of_words(bags.numerosity_reduce(masked))
        parts.append(
            bag.join(F.broadcast(m), "word")
            .groupBy("series_id", "label")
            .agg(F.sum(F.col("cnt") * F.col("weight")).alias("score"))
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    scored = allp.groupBy("series_id", "label").agg(F.sum("score").alias("score"))
    w = Window.partitionBy("series_id")
    rk = Window.partitionBy("series_id").orderBy(F.col("score").desc(), F.col("label").asc())
    return (
        scored.withColumn("total", F.sum("score").over(w))
        .withColumn("rn", F.row_number().over(rk))
        .where(F.col("rn") == 1)
        .select(
            "series_id",
            F.col("label").alias("pred_label"),
            F.when(F.col("total") > 0, F.col("score") / F.col("total"))
            .otherwise(F.lit(0.0))
            .alias("top"),
        )
    )


def mteaser_fit(
    mv_arrays: DataFrame,
    labels: DataFrame,
    n_snapshots: int = 4,
    window: int = 16,
    word_length: int = 4,
    alphabet: int = 4,
    accept_quantile: float = 0.1,
    v_grid: tuple[int, ...] = (1, 2, 3),
) -> MTeaserModel:
    """MTEASER (reference MTEASERClassifier.java): TEASER control flow
    with a multivariate slave per snapshot."""
    dims = [r["dim"] for r in mv_arrays.select("dim").distinct().orderBy("dim").collect()]
    series_len = mv_arrays.select(F.min(F.size("values"))).collect()[0][0]
    step_base = min(series_len, 250)  # MTEASERClassifier.java:37,164-166
    slaves: list[MTeaserSlave] = []
    snaps = []
    for s in range(1, n_snapshots + 1):
        plen = max(window, step_base * s // n_snapshots)
        pref = _mv_prefix(mv_arrays, plen).cache()
        parts = []
        for d in dims:
            arr = pref.where(F.col("dim") == d).select("series_id", "values")
            model = sfa.fit(
                arr, window=window, word_length=word_length, alphabet=alphabet,
                histogram="equi_depth",
            )
            words = sfa.transform_windowing(model, arr)
            bag = bags.bag_of_words(bags.numerosity_reduce(words))
            m = tfidf.fit_tfidf(bag.join(labels, "series_id")).cache()
            parts.append((d, model, word_length, m))
        slave = MTeaserSlave(s, plen, parts, tau=0.0)
        sc = _mslave_scores(slave, pref).join(labels, "series_id").cache()
        correct = sc.where(F.col("pred_label") == F.col("label")).select("top")
        try:
            tau = correct.agg(F.percentile("top", F.lit(accept_quantile))).collect()[0][0]
        except Exception:  # noqa: BLE001
            tau = None
        slave.tau = float(tau) if tau is not None else 0.0
        slaves.append(slave)
        snaps.append(
            sc.select("series_id", F.lit(s).alias("s"), "pred_label", "top")
            .withColumn("accepted", F.col("top") >= F.lit(slave.tau))
        )
    snap = snaps[0]
    for x in snaps[1:]:
        snap = snap.unionByName(x)
    snap = snap.cache()
    best_v, best_hm = v_grid[0], -1.0
    plen_map = {sl.snapshot: sl.prefix_len for sl in slaves}
    for v in v_grid:
        dec = _decide(snap, plen_map, v, n_snapshots)
        ev = dec.join(labels, "series_id").agg(
            F.avg((F.col("pred_label") == F.col("label")).cast("double")).alias("acc"),
            F.avg("earliness").alias("e"),
        ).collect()[0]
        acc, earl = ev["acc"] or 0.0, 1.0 - (ev["e"] or 1.0)
        hm = 2 * acc * earl / (acc + earl) if (acc + earl) > 0 else 0.0
        if hm > best_hm:
            best_hm, best_v = hm, v
    return MTeaserModel(slaves, best_v, n_snapshots)


def mteaser_predict(model: MTeaserModel, mv_arrays: DataFrame) -> DataFrame:
    parts = []
    for sl in model.slaves:
        pref = _mv_prefix(mv_arrays, sl.prefix_len)
        sc = _mslave_scores(sl, pref)
        parts.append(
            sc.select("series_id", F.lit(sl.snapshot).alias("s"), "pred_label", "top")
            .withColumn("accepted", F.col("top") >= F.lit(sl.tau))
        )
    snap = parts[0]
    for p in parts[1:]:
        snap = snap.unionByName(p)
    plen_map = {sl.snapshot: sl.prefix_len for sl in model.slaves}
    return _decide(snap, plen_map, model.v, model.n_snapshots)
