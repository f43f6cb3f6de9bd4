"""Grid-as-data classifier fitting (SURVEY §2.7 C1/C2/C5 with the
reference's FULL default grids).

The reference fits its ensembles with nested driver loops — norm ∈
{T,F} × window ∈ [10..250] × word length f ∈ {6..16} × (for BOSS VS)
10 CV folds — over an in-memory array (BOSSEnsembleClassifier.java:
83-180, BOSSVSClassifier.java:88-200). A literal port would launch
thousands of tiny Spark jobs. Here every grid axis becomes a COLUMN:

  * (nm, w)      — emitted by one mapInPandas over the series
  * seg          — bins fit per (nm, w, seg) in one keyed aggregate
  * f            — a broadcast cross join + bit-mask re-words the same
                   packed table per word length (the reference's
                   "compute words once at maxF, re-mask per f" trick,
                   BOSS.java:125 — here for ALL windows at once)
  * fold         — CV becomes 10 tagged copies of the bag table

so the ENTIRE grid fit is a fixed number of distributed jobs (one
words pass, one bins pass, one 1-NN / tf-idf cascade, one collect of
the grid-sized score table) regardless of grid size — the shape that
survives 1000 executors and 100 TB, while matching the reference's
selection semantics bit for bit.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from sfa_spark.functions import spectral
from sfa_spark.operators import bags, folds, knn, quantize, select, sfa, tfidf
from sfa_spark.operators.words import binlog

__all__ = [
    "boss_windows",
    "bossvs_windows",
    "shotgun_windows",
    "boss_ensemble_grid_fit",
    "bossvs_grid_fit",
    "shotgun_grid_fit",
    "weasel_windows",
    "weasel_grid_fit",
    "BossGridModel",
    "BossVSGridModel",
    "ShotgunGridModel",
    "WeaselGridModel",
    "muse_grid_fit",
    "MuseGridModel",
]

COEF_SCHEMA = (
    "series_id bigint, nm boolean, w int, wins array<array<double>>"
)


def boss_windows(max_len: int, min_w: int = 10, max_w: int = 250) -> list[int]:
    """Every integer window length (BOSSEnsembleClassifier.java:89-92)."""
    return list(range(min_w, min(max_w, max_len) + 1))


def bossvs_windows(max_len: int, min_w: int = 10, max_w: int = 250) -> list[int]:
    """BOSS VS equi-distance window sampling (BOSSVSClassifier.java:
    97-104): c starts at min and the Java `c += distance` compound
    assignment TRUNCATES the double sum back to int each step."""
    maxw = min(max_w, max_len)
    if maxw <= min_w:
        return [min_w]
    distance = (maxw - min_w) / math.sqrt(maxw)
    ws, c = [], min_w
    while c <= maxw:
        ws.append(c)
        c = int(c + distance)
    return ws


def _multi_coefs(
    arrays: DataFrame,
    combos: list[tuple[bool, int]] | list[tuple[bool, int, int]],
    l: int | None,
    sliding: bool,
    lower_bounding: bool = True,
    seg_map: dict[tuple[bool, int], list[int]] | None = None,
    apply_z_norm: bool = True,
) -> DataFrame:
    """One mapInPandas pass → MFT values for EVERY (norm, window) combo.

    sliding=True: all sliding windows (reference transformWindowing);
    sliding=False: disjoint chunks, each chunk z-normed then DFT'd (the
    fitWindowing sample set, SFA.java:281-291 + TimeSeries.java:256-270).
    Combos are (nm, w) with a shared word length `l`, or (nm, w, l)
    triples for per-combo lengths (the supervised path); l=None → l=w
    (every coefficient, SFASupervised.fitTransform's full-length DFT).
    seg_map[(nm, w)] = selected coefficient indices in RANK order: only
    those columns are emitted and `seg` becomes the rank position —
    this keeps the exploded row count at #selected × #windows instead
    of w × #windows (the supervised transform path would otherwise
    materialize Σ_w w·(n−w) rows).
    Output: (series_id, nm, w, wins array<array<double>>) — the nested
    array explodes JVM-side to (series_id, nm, w, win, coefs).
    """
    norm3 = [
        (c[0], c[1], (c[2] if len(c) > 2 else (l if l is not None else c[1])))
        for c in combos
    ]
    norm3 = sorted(set(norm3))

    def gen(batches):
        for pdf in batches:
            out_sid, out_nm, out_w, out_wins = [], [], [], []
            for sid, vals in zip(pdf["series_id"], pdf["values"]):
                x = np.asarray(vals, dtype=np.float64)
                for nm, w, lc in norm3:
                    if len(x) < w:
                        continue  # reference emits no windows for short series
                    if sliding:
                        m = spectral.mft_all_windows(
                            x, w, lc, norm_mean=nm, lower_bounding=lower_bounding,
                            apply_z_norm=apply_z_norm,
                        )
                    else:
                        k = len(x) // w
                        if k == 0:
                            continue
                        m = np.vstack(
                            [
                                spectral.mft_all_windows(
                                    x[i * w : (i + 1) * w], w, lc,
                                    norm_mean=nm, lower_bounding=lower_bounding,
                                    apply_z_norm=apply_z_norm,
                                )
                                for i in range(k)
                            ]
                        )
                    if seg_map is not None:
                        segs = seg_map.get((nm, w))
                        if segs is None:
                            continue
                        m = m[:, segs]
                    out_sid.append(sid)
                    out_nm.append(nm)
                    out_w.append(w)
                    out_wins.append(m.tolist())
            yield pd.DataFrame(
                {
                    "series_id": pd.Series(out_sid, dtype="int64"),
                    "nm": pd.Series(out_nm, dtype="bool"),
                    "w": pd.Series(out_w, dtype="int32"),
                    "wins": pd.Series(out_wins, dtype="object"),
                }
            )

    nested = arrays.select("series_id", "values").mapInPandas(gen, COEF_SCHEMA)
    return nested.select(
        "series_id", "nm", "w", F.posexplode("wins").alias("win", "coefs")
    ).select(
        "series_id", "nm", "w", F.col("win").cast("bigint").alias("win"),
        F.posexplode("coefs").alias("seg", "coef"),
    ).withColumn("seg", F.col("seg").cast("int"))


GRID_KEYS = ("nm", "w")


def _local_frame(spark, rows: list, schema: str) -> DataFrame:
    """A driver-side table built from pandas, so it plans as a local
    relation (LocalTableScan); a list of rows would plan as a scan of
    a Python RDD, and broadcasting it costs a Python job."""
    names = DataType.fromDDL(schema).names
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def fit_grid_bins(
    train_arrays: DataFrame,
    combos: list[tuple[bool, int]],
    max_f: int,
    alphabet: int,
) -> DataFrame:
    """Equi-depth bins per (nm, w, seg) fit on disjoint chunks with the
    reference's 2-decimal orderline rounding (SFA.java:402). Returns
    (nm, w, seg, bins) — grid-sized, broadcastable."""
    long = _multi_coefs(train_arrays, combos, max_f, sliding=False).withColumn(
        "coef", F.round("coef", 2)
    )
    return quantize.fit_equi_depth_bins(
        long, alphabet, keys=GRID_KEYS
    )


def transform_grid_words(
    bins: DataFrame,
    arrays: DataFrame,
    combos: list[tuple[bool, int]],
    max_f: int,
    alphabet: int,
) -> DataFrame:
    """Sliding SFA words at max_f for every (nm, w):
    (nm, w, series_id, win, word). One MFT pass + one broadcast
    quantize join + one pack aggregate."""
    from sfa_spark.operators.words import pack_words

    long = _multi_coefs(arrays, combos, max_f, sliding=True)
    sym = quantize.quantize_with_bins(long, bins, keys=GRID_KEYS)
    return pack_words(
        sym.select("series_id", "nm", "w", "win", "seg", "symbol"),
        alphabet,
        keys=GRID_KEYS,
    )


def masked_grid_bags(
    words: DataFrame, f_values: list[int], alphabet: int
) -> DataFrame:
    """words × f (broadcast cross join) → mask → numerosity-reduce →
    bag counts per (nm, w, f, series_id, word). The f axis costs one
    row-multiplication of the packed words, not a recompute."""
    spark = words.sparkSession
    bits = binlog(alphabet)
    f_df = _local_frame(spark, [(int(f),) for f in f_values], "f int")
    masked = words.join(F.broadcast(f_df)).withColumn(
        "word",
        F.expr(f"word & (shiftleft(cast(1 as bigint), {bits} * f) - 1)"),
    )
    keys = ("nm", "w", "f")
    reduced = bags.numerosity_reduce(masked, keys=keys)
    return bags.bag_of_words(reduced, keys=keys)


@dataclass
class GridMember:
    nm: bool
    w: int
    f: int
    train_correct: int  # reference vote weight = training correct COUNT


@dataclass
class BossGridModel:
    members: list[GridMember]
    bins: DataFrame  # (nm, w, seg, bins) restricted to member combos
    train_bags: DataFrame  # (nm, w, f, series_id, word, cnt) member combos
    train_labels: DataFrame
    max_f: int
    alphabet: int

    def predict(self, test_arrays: DataFrame) -> DataFrame:
        spark = test_arrays.sparkSession
        combos = sorted({(m.nm, m.w) for m in self.members})
        words = transform_grid_words(
            self.bins, test_arrays, combos, self.max_f, self.alphabet
        )
        member_df = F.broadcast(
            _local_frame(
                spark,
                [(m.nm, m.w, m.f, m.train_correct) for m in self.members],
                "nm boolean, w int, f int, weight long",
            )
        )
        test_bags = masked_grid_bags(
            words, sorted({m.f for m in self.members}), self.alphabet
        ).join(member_df.select("nm", "w", "f"), ["nm", "w", "f"], "left_semi")
        nn = knn.boss_1nn(test_bags, self.train_bags, keys=("nm", "w", "f"))
        votes = (
            nn.join(
                self.train_labels.select(
                    F.col("series_id").alias("nn_id"),
                    F.col("label").alias("pred_label"),
                ),
                "nn_id",
            )
            .join(member_df, ["nm", "w", "f"])
            .select("series_id", "pred_label", F.col("weight").cast("double").alias("weight"))
        )
        return folds.weighted_vote(votes)


def _pick_members(
    acc_rows: list, f_values: list[int], factor: float
) -> dict[bool, list[GridMember]]:
    """Driver-side selection over the collected grid-score table,
    replicating the reference loop order exactly: per (nm, w) the best
    f is the SMALLEST f with maximal correct count (strict >,
    BOSSEnsembleClassifier.java:147-158); per nm keep combos with
    correct ≥ best · factor (filterByFactor)."""
    correct = {(r["nm"], r["w"], r["f"]): r["correct"] for r in acc_rows}
    per_norm: dict[bool, list[GridMember]] = {True: [], False: []}
    for nm in (True, False):
        ws = sorted({w for (n, w, _) in correct if n == nm})
        cands: list[GridMember] = []
        for w in ws:
            best_f, best_c = None, 0
            for f in sorted(f_values):
                c = correct.get((nm, w, f), 0)
                if best_f is None or c > best_c:
                    best_f, best_c = f, c
            if best_f is not None:
                cands.append(GridMember(nm, w, best_f, best_c))
        if not cands:
            continue
        top = max(c.train_correct for c in cands)
        per_norm[nm] = [c for c in cands if c.train_correct >= top * factor]
    return per_norm


def boss_ensemble_grid_fit(
    train_arrays: DataFrame,
    labels: DataFrame,
    windows: list[int] | None = None,
    word_lengths: tuple[int, ...] = (6, 8, 10, 12, 14, 16),
    alphabet: int = 4,
    factor: float = 0.92,
) -> BossGridModel:
    """BOSS Ensemble fit over the reference's FULL default grid in a
    bounded number of Spark jobs.

    Reference: BOSSEnsembleClassifier.fit (java:83-112) — windows
    10..min(250, len) × norm {T,F}; per (norm, w) pick best f by LOO
    1-NN train count; filterByFactor(0.92) per norm; then the norm
    whose ensemble VOTE train accuracy is best wins (normMean=true on
    ties — strict `<` at java:101).
    """
    spark = train_arrays.sparkSession
    if windows is None:
        max_len = train_arrays.agg(F.max(F.size("values"))).collect()[0][0]
        windows = boss_windows(max_len)
    combos = [(nm, w) for nm in (True, False) for w in windows]
    max_f = max(word_lengths)

    bins = fit_grid_bins(train_arrays, combos, max_f, alphabet).cache()
    words = transform_grid_words(bins, train_arrays, combos, max_f, alphabet)
    all_bags = masked_grid_bags(words, list(word_lengths), alphabet).cache()

    keys = ("nm", "w", "f")
    nn = knn.boss_1nn(all_bags, all_bags, loo=True, keys=keys)
    lab = labels.select("series_id", "label")
    nn_lab = lab.select(
        F.col("series_id").alias("nn_id"), F.col("label").alias("nn_label")
    )
    acc_rows = (
        nn.join(lab, "series_id")
        .join(nn_lab, "nn_id")
        .groupBy(*keys)
        .agg(F.sum((F.col("label") == F.col("nn_label")).cast("long")).alias("correct"))
        .collect()
    )
    per_norm = _pick_members(acc_rows, list(word_lengths), factor)

    # ensemble vote train accuracy per norm — one vote plan, keyed by nm
    member_rows = [
        (m.nm, m.w, m.f, m.train_correct)
        for nm in (True, False)
        for m in per_norm[nm]
    ]
    member_df = F.broadcast(
        _local_frame(spark, member_rows, "nm boolean, w int, f int, weight long")
    )
    votes = (
        nn.join(member_df.select("nm", "w", "f"), ["nm", "w", "f"], "left_semi")
        .join(nn_lab, "nn_id")
        .join(member_df, ["nm", "w", "f"])
        .select(
            "nm", "series_id",
            F.col("nn_label").alias("pred_label"),
            F.col("weight").cast("double").alias("weight"),
        )
    )
    vote_acc = {
        r["nm"]: r["correct"]
        for r in folds.weighted_vote(votes, keys=("nm",))
        .join(lab, "series_id")
        .groupBy("nm")
        .agg(F.sum((F.col("pred_label") == F.col("label")).cast("long")).alias("correct"))
        .collect()
    }
    best_nm, best_c = True, -1
    for nm in (True, False):  # reference NORMALIZATION order; strict >
        c = vote_acc.get(nm, 0)
        if c > best_c:
            best_nm, best_c = nm, c
    members = per_norm[best_nm]

    # Reference fit() MUTATES the winning ensemble's highest-scoring
    # member's Score.training to the ensemble-vote train-correct count
    # (BOSSEnsembleClassifier.java:100-104: `bestScore =
    # model.getHighestScoringModel().score; bestScore.training =
    # pred.correct.get()`), and predict() then uses that same Score as
    # the member's TEST vote weight (java:268: `score.score.training`).
    # Looks accidental, but the published goldens encode it — on Beef it
    # is exactly the one-test-sample gap (weight 20 vs 18 flips sample
    # 12 from 4.0 to 3.0). "Highest" ties break to the larger window
    # (Score.compareTo, Classifier.java:300-308).
    if members:
        top = max(members, key=lambda m: (m.train_correct, m.w))
        top.train_correct = int(best_c)

    mdf = F.broadcast(
        _local_frame(
            spark, [(m.nm, m.w, m.f) for m in members], "nm boolean, w int, f int"
        )
    )
    train_bags = all_bags.join(mdf, ["nm", "w", "f"], "left_semi").cache()
    member_combos = _local_frame(
        spark, [(m.nm, m.w) for m in members], "nm boolean, w int"
    )
    kept_bins = bins.join(F.broadcast(member_combos), ["nm", "w"], "left_semi").cache()
    all_bags.unpersist()
    return BossGridModel(
        members=members,
        bins=kept_bins,
        train_bags=train_bags,
        train_labels=lab,
        max_f=max_f,
        alphabet=alphabet,
    )


# ---------------------------------------------------------------- BOSS VS grid

@dataclass
class BossVSGridModel:
    members: list[GridMember]
    bins: DataFrame
    tfidf: DataFrame  # (nm, w, f, label, word, weight) member models
    max_f: int
    alphabet: int

    def predict(self, test_arrays: DataFrame) -> DataFrame:
        spark = test_arrays.sparkSession
        combos = sorted({(m.nm, m.w) for m in self.members})
        words = transform_grid_words(
            self.bins, test_arrays, combos, self.max_f, self.alphabet
        )
        member_df = F.broadcast(
            _local_frame(
                spark,
                [(m.nm, m.w, m.f, m.train_correct) for m in self.members],
                "nm boolean, w int, f int, weight long",
            )
        )
        test_bags = masked_grid_bags(
            words, sorted({m.f for m in self.members}), self.alphabet
        ).join(member_df.select("nm", "w", "f"), ["nm", "w", "f"], "left_semi")
        pred = tfidf.score_tfidf(test_bags, self.tfidf, keys=("nm", "w", "f"))
        votes = pred.join(member_df, ["nm", "w", "f"]).select(
            "series_id", "pred_label", F.col("weight").cast("double").alias("weight")
        )
        return folds.weighted_vote(votes)


def bossvs_grid_fit(
    train_arrays: DataFrame,
    labels: DataFrame,
    windows: list[int] | None = None,
    word_lengths: tuple[int, ...] = (4, 6, 8, 10, 12, 14, 16),
    alphabet: int = 4,
    factor: float = 0.95,
    n_folds: int = 10,
) -> BossVSGridModel:
    """BOSS VS fit with the reference's √-spaced windows and 10-fold CV
    run as DATA (fold = a column; all (nm, w, f, fold) tf-idf models
    fit in one keyed aggregate cascade).

    Reference: BOSSVSClassifier.fit/fitEnsemble (java:88-200) — f from
    minF to min(w, maxF) step 2; CV correct summed over folds; best f
    strict >; filterByFactor(0.95); norm tie → normMean=false (`<=` at
    java:113).
    """
    spark = train_arrays.sparkSession
    if windows is None:
        max_len = train_arrays.agg(F.max(F.size("values"))).collect()[0][0]
        windows = bossvs_windows(max_len)
    combos = [(nm, w) for nm in (True, False) for w in windows]
    max_f = max(word_lengths)
    n_classes = labels.select("label").distinct().count()

    bins = fit_grid_bins(train_arrays, combos, max_f, alphabet).cache()
    words = transform_grid_words(bins, train_arrays, combos, max_f, alphabet)
    all_bags = masked_grid_bags(words, list(word_lengths), alphabet).cache()
    # reference: f only ranges up to the window length (java:159)
    all_bags = all_bags.where(F.col("f") <= F.col("w"))

    lab = labels.select("series_id", "label")
    folded = folds.stratified_folds(lab, n_folds).select("series_id", "fold")
    fold_df = _local_frame(spark, [(int(s),) for s in range(n_folds)], "s int")
    keys = ("nm", "w", "f")
    bl = all_bags.join(F.broadcast(folded), "series_id").join(lab, "series_id")
    # CV-as-data: tag each bag row with every fold id s; train slice =
    # fold != s, scored slice = fold == s
    tagged = bl.join(F.broadcast(fold_df))
    cv_keys = (*keys, "s")
    models = tfidf.fit_tfidf(
        tagged.where(F.col("fold") != F.col("s")), keys=cv_keys, n_classes=n_classes
    )
    scored = tfidf.score_tfidf(
        tagged.where(F.col("fold") == F.col("s")).select(
            *cv_keys, "series_id", "word", "cnt"
        ),
        models,
        keys=cv_keys,
    )
    acc_rows = (
        scored.join(lab, "series_id")
        .groupBy(*keys)
        .agg(F.sum((F.col("pred_label") == F.col("label")).cast("long")).alias("correct"))
        .collect()
    )
    # selection: best f per (nm, w) — smallest f on ties (strict >)
    per_norm = _pick_members(acc_rows, list(word_lengths), factor)

    member_rows = [
        (m.nm, m.w, m.f, m.train_correct)
        for nm in (True, False)
        for m in per_norm[nm]
    ]
    member_df = F.broadcast(
        _local_frame(spark, member_rows, "nm boolean, w int, f int, weight long")
    )
    # final per-member tf-idf on ALL train data
    final_models = tfidf.fit_tfidf(
        all_bags.join(member_df.select("nm", "w", "f"), ["nm", "w", "f"], "left_semi")
        .join(lab, "series_id"),
        keys=keys,
        n_classes=n_classes,
    ).cache()
    # norm choice by ensemble vote train accuracy, tie → normMean=false
    pred = tfidf.score_tfidf(
        all_bags.join(member_df.select("nm", "w", "f"), ["nm", "w", "f"], "left_semi"),
        final_models,
        keys=keys,
    )
    votes = pred.join(member_df, ["nm", "w", "f"]).select(
        "nm", "series_id", "pred_label", F.col("weight").cast("double").alias("weight")
    )
    vote_acc = {
        r["nm"]: r["correct"]
        for r in folds.weighted_vote(votes, keys=("nm",))
        .join(lab, "series_id")
        .groupBy("nm")
        .agg(F.sum((F.col("pred_label") == F.col("label")).cast("long")).alias("correct"))
        .collect()
    }
    best_nm, best_c = True, -1
    for nm in (True, False):  # `<=` in the reference → False wins ties
        if vote_acc.get(nm, 0) >= best_c:
            best_nm, best_c = nm, vote_acc.get(nm, 0)
    members = per_norm[best_nm]

    # reference fit() score-mutation: winning ensemble's top member's
    # train score := vote correct count, later its test vote weight
    # (BOSSVSClassifier.java:113-117; see boss_ensemble_grid_fit note)
    if members:
        top = max(members, key=lambda m: (m.train_correct, m.w))
        top.train_correct = int(best_c)

    mdf = F.broadcast(
        _local_frame(
            spark, [(m.nm, m.w, m.f) for m in members], "nm boolean, w int, f int"
        )
    )
    kept_models = final_models.join(mdf, ["nm", "w", "f"], "left_semi").cache()
    member_combos = _local_frame(
        spark, [(m.nm, m.w) for m in members], "nm boolean, w int"
    )
    kept_bins = bins.join(F.broadcast(member_combos), ["nm", "w"], "left_semi").cache()
    all_bags.unpersist()
    return BossVSGridModel(
        members=members,
        bins=kept_bins,
        tfidf=kept_models,
        max_f=max_f,
        alphabet=alphabet,
    )


# ---------------------------------------------------------------- Shotgun grid

def shotgun_windows(max_len: int, min_w: int = 5, max_w: int = 250) -> list[int]:
    """Every integer window length (ShotgunClassifier.java:106-109)."""
    return list(range(min_w, min(max_w, max_len) + 1))


def _shotgun_nn_frame(
    queries: DataFrame,
    corpus: DataFrame,
    combos: list[tuple[bool, int]],
    loo: bool,
) -> DataFrame:
    """Shotgun-distance 1-NN for every (nm, w) combo in one grouped
    applyInPandas pass.

    Reference ShotgunClassifier.predict (java:152-237): the query is
    cut into DISJOINT windows of length min(len, w), each z-normed
    (σ-divide; mean-subtract iff nm — TimeSeries.norm); candidates
    expose all SLIDING windows normalized as (x − mean·[nm])·(1/σ or 1)
    (calcMeansStds java:240-258); dist = Σ_q-windows min_c-window ED²;
    the argmin candidate in TRAIN ORDER wins ties (strict <).

    Grid-as-data: the (small, replicate-everywhere) series set is
    broadcast-joined against the combo list, so each (nm, w) group
    holds all series and one numpy matmul cascade resolves that
    combo's whole 1-NN — 1000-executor-shaped: combos spread across
    the cluster, no driver loop.
    """
    spark = queries.sparkSession
    combo_df = F.broadcast(
        _local_frame(spark, sorted(set(combos)), "nm boolean, w int")
    )
    q = queries.select(
        "series_id", "values", F.lit(True).alias("is_q")
    )
    c = corpus.select("series_id", "values", F.lit(False).alias("is_q"))
    if loo:
        both = q  # same frame serves both roles; identity-skip inside
    else:
        both = q.unionByName(c)
    tagged = both.join(combo_df)

    def _group(kv, pdf):
        nm, w = bool(kv[0]), int(kv[1])
        sub = pdf.sort_values("series_id")
        if loo:
            q_rows = list(zip(sub["series_id"], sub["values"]))
            c_rows = q_rows
        else:
            q_rows = list(
                zip(sub.loc[sub["is_q"], "series_id"], sub.loc[sub["is_q"], "values"])
            )
            c_rows = list(
                zip(sub.loc[~sub["is_q"], "series_id"], sub.loc[~sub["is_q"], "values"])
            )
        if not q_rows or not c_rows:
            return pd.DataFrame(
                {"nm": [], "w": [], "series_id": [], "nn_id": [], "dist": []}
            )

        # query disjoint windows, z-normed per window (TimeSeries.norm)
        q_wins, q_owner_ofs = [], [0]
        for _, vals in q_rows:
            x = np.asarray(vals, dtype=np.float64)
            wq = min(len(x), w)
            k = len(x) // wq
            m = x[: k * wq].reshape(k, wq).astype(np.float64)
            mu = m.mean(axis=1, keepdims=True)
            sd = m.std(axis=1, keepdims=True)
            inv = np.where(sd != 0, 1.0 / np.where(sd == 0, 1.0, sd), 1.0)
            m = (m - mu) * inv if nm else m * inv
            q_wins.append(m)
            q_owner_ofs.append(q_owner_ofs[-1] + k)

        # candidate sliding windows, (x − mean·[nm]) · (1/σ or 1)
        c_mats = []
        for _, vals in c_rows:
            x = np.asarray(vals, dtype=np.float64)
            if len(x) < w:
                c_mats.append(None)
                continue
            sw = np.lib.stride_tricks.sliding_window_view(x, w).astype(np.float64)
            mu = sw.mean(axis=1, keepdims=True)
            sd = sw.std(axis=1, keepdims=True)
            inv = np.where(sd > 0, 1.0 / np.where(sd <= 0, 1.0, sd), 1.0)
            c_mats.append((sw - mu) * inv if nm else sw * inv)

        out_sid, out_nn, out_dist = [], [], []
        for qi, (qid, _) in enumerate(q_rows):
            Q = q_wins[qi]
            q2 = (Q * Q).sum(axis=1)
            best_dist, best_id = np.inf, None
            for cj, (cid, _) in enumerate(c_rows):
                if loo and cid == qid:
                    continue  # reference `ts != query` object identity
                C = c_mats[cj]
                if C is None or C.shape[1] != Q.shape[1]:
                    continue
                d = (
                    q2[:, None]
                    + (C * C).sum(axis=1)[None, :]
                    - 2.0 * (Q @ C.T)
                )
                total = np.maximum(d, 0.0).min(axis=1).sum()
                if total < best_dist:
                    best_dist, best_id = total, cid
            if best_id is not None:
                out_sid.append(qid)
                out_nn.append(best_id)
                out_dist.append(float(best_dist))
        return pd.DataFrame(
            {
                "nm": np.repeat(nm, len(out_sid)),
                "w": np.repeat(np.int32(w), len(out_sid)),
                "series_id": pd.Series(out_sid, dtype="int64"),
                "nn_id": pd.Series(out_nn, dtype="int64"),
                "dist": pd.Series(out_dist, dtype="float64"),
            }
        )

    return tagged.groupBy("nm", "w").applyInPandas(
        _group,
        schema="nm boolean, w int, series_id bigint, nn_id bigint, dist double",
    )


@dataclass
class ShotgunGridModel:
    members: list[GridMember]  # f unused (0); single-model = 1 member
    train_arrays: DataFrame
    train_labels: DataFrame

    def predict(self, test_arrays: DataFrame) -> DataFrame:
        spark = test_arrays.sparkSession
        combos = sorted({(m.nm, m.w) for m in self.members})
        nn = _shotgun_nn_frame(test_arrays, self.train_arrays, combos, loo=False)
        member_df = F.broadcast(
            _local_frame(
                spark,
                [(m.nm, m.w, m.train_correct) for m in self.members],
                "nm boolean, w int, weight long",
            )
        )
        votes = (
            nn.join(member_df, ["nm", "w"])
            .join(
                self.train_labels.select(
                    F.col("series_id").alias("nn_id"),
                    F.col("label").alias("pred_label"),
                ),
                "nn_id",
            )
            .select(
                "series_id", "pred_label",
                F.col("weight").cast("double").alias("weight"),
            )
        )
        return folds.weighted_vote(votes)


def shotgun_grid_fit(
    train_arrays: DataFrame,
    labels: DataFrame,
    windows: list[int] | None = None,
    factor: float = 1.0,
    ensemble: bool = False,
) -> ShotgunGridModel:
    """Shotgun fit over the full window grid (5..min(250, len)) × both
    norms in ONE distributed 1-NN pass.

    factor=1.0 + ensemble=False → the single best model (reference
    ShotgunClassifier.fit: best train count, ties → larger window
    because getWindowsBetween enumerates max→min and
    getHighestScoringModel takes the first inserted; norm ties →
    normMean=true, strict `<` java:87).
    ensemble=True + factor=0.92 → ShotgunEnsembleClassifier.fit
    (java:56-77): filterByFactor per norm, overall vote train accuracy
    picks the norm (`<=` → normMean=false wins ties).
    """
    spark = train_arrays.sparkSession
    if windows is None:
        max_len = train_arrays.agg(F.max(F.size("values"))).collect()[0][0]
        windows = shotgun_windows(max_len)
    combos = [(nm, w) for nm in (True, False) for w in windows]

    nn = _shotgun_nn_frame(train_arrays, train_arrays, combos, loo=True).cache()
    lab = labels.select("series_id", "label")
    nn_lab = lab.select(
        F.col("series_id").alias("nn_id"), F.col("label").alias("nn_label")
    )
    acc_rows = (
        nn.join(lab, "series_id")
        .join(nn_lab, "nn_id")
        .groupBy("nm", "w")
        .agg(F.sum((F.col("label") == F.col("nn_label")).cast("long")).alias("correct"))
        .collect()
    )
    correct = {(r["nm"], r["w"]): r["correct"] for r in acc_rows}

    per_norm: dict[bool, list[GridMember]] = {}
    for nm in (True, False):
        cands = [
            GridMember(nm, w, 0, correct.get((nm, w), 0)) for w in sorted(windows)
        ]
        best = max((c.train_correct for c in cands), default=0)
        per_norm[nm] = [c for c in cands if c.train_correct >= best * factor]

    if not ensemble:
        # single best model per norm: max count, tie → larger window
        choice: dict[bool, GridMember] = {}
        for nm in (True, False):
            ms = per_norm[nm]
            best = max(ms, key=lambda m: (m.train_correct, m.w))
            choice[nm] = best
        best_nm, best_c = True, -1
        for nm in (True, False):  # strict > — normMean=true wins ties
            if choice[nm].train_correct > best_c:
                best_nm, best_c = nm, choice[nm].train_correct
        members = [choice[best_nm]]
    else:
        # per-norm ensembles; norm picked by overall vote train accuracy
        member_rows = [
            (m.nm, m.w, m.train_correct)
            for nm in (True, False)
            for m in per_norm[nm]
        ]
        member_df = F.broadcast(
            _local_frame(spark, member_rows, "nm boolean, w int, weight long")
        )
        votes = (
            nn.join(member_df, ["nm", "w"])
            .join(nn_lab, "nn_id")
            .select(
                "nm", "series_id",
                F.col("nn_label").alias("pred_label"),
                F.col("weight").cast("double").alias("weight"),
            )
        )
        vote_acc = {
            r["nm"]: r["correct"]
            for r in folds.weighted_vote(votes, keys=("nm",))
            .join(lab, "series_id")
            .groupBy("nm")
            .agg(
                F.sum((F.col("pred_label") == F.col("label")).cast("long")).alias(
                    "correct"
                )
            )
            .collect()
        }
        best_nm, best_c = True, -1
        for nm in (True, False):  # `<=` in the reference → False wins ties
            if vote_acc.get(nm, 0) >= best_c:
                best_nm, best_c = nm, vote_acc.get(nm, 0)
        members = per_norm[best_nm]
        # reference fit() score-mutation: winning ensemble's top member
        # re-weighted with the vote correct count
        # (ShotgunEnsembleClassifier.java:67-71; see boss_ensemble note)
        if members:
            top = max(members, key=lambda m: (m.train_correct, m.w))
            top.train_correct = int(best_c)
    nn.unpersist()
    return ShotgunGridModel(
        members=members,
        train_arrays=train_arrays.select("series_id", "values").cache(),
        train_labels=lab,
    )


# ---------------------------------------------------------------- WEASEL grid

def weasel_windows(max_len: int, norm: bool, min_w: int = 2, max_w: int = 350) -> list[int]:
    """Every window length MIN..min(350, len); norm raises min to 3
    (WEASELClassifier.getWindowLengths, java:202-212)."""
    lo = max(3, min_w) if norm and min_w <= 2 else min_w
    return list(range(lo, min(max_w, max_len) + 1))


def fit_supervised_sfa(
    arrays: DataFrame,
    labels: DataFrame,
    combos: list[tuple[bool, int]],
    word_length: int,
    alphabet: int,
    lower_bounding: bool = False,
) -> dict[tuple[bool, int], sfa.SFAModel]:
    """Supervised SFA (SFASupervised.fitTransform, java:70-96) for
    every (nm, w) in one keyed plan: full-length DFT of disjoint chunks
    → ANOVA-F per (nm, w, seg) (select.anova_f: NaN dropped, ±inf kept)
    → top word_length segs per (nm, w) (F desc, seg asc — the stable
    descending sort of Indices) → IG bins per (nm, w, rank) on
    2-dp-rounded coefs.

    The labelled long form is cached across the ANOVA and the bin fit;
    the driver reads the ranked segs (≤ word_length per combo) once and
    the bins once, so the job count does not grow with len(combos).
    Each model has best_segs in rank order, fit_l = max kept seg + 1
    rounded up to even (the sliding transform's maxWordLength), and
    bin_arrays already set. A combo whose every F is NaN gets no model.
    """
    spark = arrays.sparkSession
    dis = _multi_coefs(
        arrays, combos, l=None, sliding=False, lower_bounding=lower_bounding
    )
    labeled = (
        dis.join(F.broadcast(labels.select("series_id", "label")), "series_id")
        .select("nm", "w", "seg", "coef", "label")
        .cache()
    )
    try:
        rk = Window.partitionBy(*GRID_KEYS).orderBy(
            F.col("f_stat").desc(), F.col("seg").asc()
        )
        ranked = (
            select.anova_f(labeled, keys=GRID_KEYS)
            .withColumn("rank", F.row_number().over(rk))
            .where(F.col("rank") <= word_length)
            .select("nm", "w", "seg", (F.col("rank") - 1).cast("int").alias("rank"))
            .collect()
        )
        if not ranked:
            return {}
        rank_map = _local_frame(spark, ranked, "nm boolean, w int, seg int, rank int")
        kept = labeled.join(F.broadcast(rank_map), ["nm", "w", "seg"]).select(
            "nm", "w",
            F.col("rank").alias("seg"),
            F.round("coef", 2).alias("coef"),  # orderline rounding
            "label",
        )
        bin_rows = quantize.fit_ig_bins(kept, alphabet, keys=GRID_KEYS).collect()
    finally:
        labeled.unpersist()

    segs: dict[tuple[bool, int], list[int]] = {}
    for r in sorted(ranked, key=lambda r: (r["nm"], r["w"], r["rank"])):
        segs.setdefault((r["nm"], r["w"]), []).append(r["seg"])
    bins: dict[tuple[bool, int], dict[int, list[float]]] = {}
    for r in bin_rows:
        bins.setdefault((r["nm"], r["w"]), {})[r["seg"]] = r["bins"]
    models = {}
    for (nm, w), best_segs in segs.items():
        ml = max(best_segs) + 1
        models[(nm, w)] = sfa.SFAModel(
            word_length=word_length,
            alphabet=alphabet,
            window=w,
            norm_mean=nm,
            lower_bounding=lower_bounding,
            bin_arrays={
                seg: np.asarray(v, dtype=np.float64)
                for seg, v in sorted(bins.get((nm, w), {}).items())
            },
            best_segs=best_segs,
            fit_l=ml + ml % 2,
        )
    return models


def _weasel_grid_keys(
    arrays: DataFrame,
    seg_map: dict,
    bins: DataFrame,
    lens: dict,
    combos: list[tuple[bool, int]],
    f_values: list[int],
    alphabet: int,
    lower_bounding: bool = False,
) -> DataFrame:
    """Sliding supervised words for every (nm, w) → masked per f →
    window-tagged unigram + bigram keys → key bags per (nm, f).

    Bigrams pair each window with the one `w` positions earlier
    (WEASEL.java:160-170); the variable per-combo offset rules out a
    window-function lag, so it's an equi-join on
    (series_id, nm, f, w, win − w) instead. The window-length tag
    lives in the low 9 bits of every key, so per-window χ² caps can
    regroup on `key & 511` later.
    """
    from sfa_spark.operators.words import pack_words

    combos_l = [(nm, w, lens[(nm, w)]) for nm, w in combos if (nm, w) in lens]
    # seg_map slices the selected coefficients inside the UDF, so `seg`
    # arrives already in rank order — no per-row rank join, and the
    # exploded size is #selected × #windows, not w × #windows
    sliding = _multi_coefs(
        arrays, combos_l, l=None, sliding=True,
        lower_bounding=lower_bounding, seg_map=seg_map,
    )
    sym = quantize.quantize_with_bins(sliding, bins, keys=GRID_KEYS)
    words = pack_words(
        sym.select("series_id", "nm", "w", "win", "seg", "symbol"),
        alphabet,
        keys=GRID_KEYS,
    )
    spark = arrays.sparkSession
    bits = binlog(alphabet)
    f_df = _local_frame(spark, [(int(f),) for f in f_values], "f int")
    masked = words.join(F.broadcast(f_df)).withColumn(
        "word", F.expr(f"word & (shiftleft(cast(1 as bigint), {bits} * f) - 1)")
    )
    uni_key = F.expr("shiftleft(word, 9)").bitwiseOR(F.col("w").cast("bigint"))
    uni = masked.select("series_id", "nm", "f", uni_key.alias("key"))
    prev = masked.select(
        "series_id", "nm", "f", "w",
        F.col("win").alias("prev_win"), F.col("word").alias("prev_word"),
    )
    cur = masked.withColumn("prev_win", F.col("win") - F.col("w"))
    bi = (
        cur.join(prev, ["series_id", "nm", "f", "w", "prev_win"])
        .where(F.col("prev_word") != 0)
        .select(
            "series_id", "nm", "f",
            F.expr("shiftleft(prev_word, 32)").bitwiseOR(uni_key).alias("key"),
        )
    )
    allk = uni.unionByName(bi)
    return allk.groupBy("series_id", "nm", "f", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


@dataclass
class WeaselGridModel:
    nm: bool
    f: int
    seg_map: dict  # (nm, w) → selected segs in rank order
    bins: DataFrame  # (nm, w, seg=rank, bins)
    lens: dict
    combos: list
    weights: DataFrame  # (key bigint, w array<double> per class)
    intercept: list[float]
    label_map: list[float]
    alphabet: int = 4
    lower_bounding: bool = False
    # 'softmax' (driver multinomial — the WEASEL-standalone path) or
    # 'liblinear_lr' (one-vs-rest sigmoid-normalized, the calibration
    # Linear.predictProbability produces; TEASER forces this)
    prob_mode: str = "softmax"

    def _score(self, test_arrays: DataFrame) -> DataFrame:
        """Distributed scoring as a BROADCAST join: bag keys ⋈ the
        vocab-sized weight table, per-class sums, softmax in SQL. No
        per-row vector assembly — unseen keys drop out of the join
        (zero weight), empty bags score intercept-only via the left
        join."""
        key_bags = _weasel_grid_keys(
            test_arrays, self.seg_map, self.bins, self.lens,
            [(self.nm, w) for (n, w) in self.combos if n == self.nm],
            [self.f], self.alphabet, lower_bounding=self.lower_bounding,
        ).select("series_id", "key", "cnt")
        k = len(self.label_map)
        scored = key_bags.join(F.broadcast(self.weights), "key")
        # decimal logit sums: double partial-sum merges race on task
        # order; the ulp noise flips the one-class master's accept
        # decisions for probabilities near the SVM boundary (TEASER
        # earliness wobbled run-to-run). Exact order-free addition
        # makes scoring bit-stable under any scheduling.
        dec = "decimal(38,18)"
        per = scored.groupBy("series_id").agg(
            *[
                F.sum((F.col("cnt") * F.col("w")[c]).cast(dec))
                .cast("double")
                .alias(f"_s{c}")
                for c in range(k)
            ]
        )
        base = (
            test_arrays.select("series_id").distinct()
            .join(per, "series_id", "left")
            .fillna(0.0)
        )
        z = [F.col(f"_s{c}") + F.lit(float(self.intercept[c])) for c in range(k)]
        if self.prob_mode == "liblinear_lr":
            # Linear.predictProbability: per-class sigmoid, normalized
            e = [F.lit(1.0) / (F.lit(1.0) + F.exp(-zc)) for zc in z]
        else:
            m = F.greatest(*z) if k > 1 else z[0]
            e = [F.exp(zc - m) for zc in z]
        denom = e[0]
        for ec in e[1:]:
            denom = denom + ec
        probs = F.array(*[ec / denom for ec in e])
        # first max wins ties — same as a sequential argmax (both links
        # are monotone in the decision value, so argmax prob == argmax
        # decision, the reference predictValues rule)
        idx = F.array_position(probs, F.array_max(probs)) - 1
        labels = F.array(*[F.lit(float(l)) for l in self.label_map])
        return base.select(
            "series_id",
            F.element_at(labels, idx.cast("int") + 1).alias("pred_label"),
            probs.alias("probs"),
        )

    def predict(self, test_arrays: DataFrame) -> DataFrame:
        return self._score(test_arrays).select("series_id", "pred_label")

    def predict_proba(self, test_arrays: DataFrame) -> DataFrame:
        """(series_id, pred_label, probs array<double> in label_map
        order) — the slave output TEASER's master consumes (reference
        WEASELClassifier.predictProbabilities, java:175-200)."""
        return self._score(test_arrays)


def weasel_grid_fit(
    train_arrays: DataFrame,
    labels: DataFrame,
    max_windows: int = 350,
    word_lengths: tuple[int, ...] = (4, 6),
    alphabet: int = 4,
    chi_limit: float = 2.0,
    word_limit: int = 1000,
    n_folds: int = 10,
    max_iter: int = 100,
    reg_param: float = 1.0,
    lower_bounding: bool = False,
    prob_mode: str = "softmax",
    solver_eps: float = 1e-8,
) -> WeaselGridModel:
    """WEASEL fit with the reference's full defaults
    (WEASELClassifier.fitWeasel, java:214-263): windows 2..min(350,len)
    (3.. when normed), per-window supervised SFA + per-window χ² with
    separate 1000-unigram/1000-bigram caps, norm × f grid scored by
    k-fold CV of the linear model, early exit on a perfect score,
    winner refit on all data.

    Featurization for EVERY (nm, w, f) runs as one keyed plan; only the
    (4-combo × fold) linear solves loop on the driver — they are the
    reference's liblinear calls (single-node, WEASELClassifier.java:35),
    run as driver-local numpy softmax+L-BFGS solves (ml/linear.py). One
    collect per combo replaces ~10⁵ per-iteration treeAggregate jobs
    that a distributed LR would schedule for a 30 × vocab matrix.
    """
    from sfa_spark.ml import linear

    spark = train_arrays.sparkSession
    max_len = train_arrays.agg(F.max(F.size("values"))).collect()[0][0]
    combos = [
        (nm, w)
        for nm in (True, False)
        for w in weasel_windows(max_len, nm, max_w=max_windows)
    ]
    max_f = max(word_lengths)
    lab = labels.select("series_id", "label")

    models = fit_supervised_sfa(
        train_arrays, lab, combos, max_f, alphabet, lower_bounding=lower_bounding
    )
    seg_map = {c: m.best_segs for c, m in models.items()}
    lens = {c: m.fit_l for c, m in models.items()}
    bins = spark.createDataFrame(
        pd.DataFrame(
            [
                (nm, w, seg, v)
                for (nm, w), m in models.items()
                for seg, v in m.bin_arrays.items()
            ],
            columns=["nm", "w", "seg", "bins"],
        ),
        "nm boolean, w int, seg int, bins array<double>",
    )
    key_bags = _weasel_grid_keys(
        train_arrays, seg_map, bins, lens, combos, list(word_lengths), alphabet,
        lower_bounding=lower_bounding,
    ).cache()

    # per-window chi-squared with split unigram/bigram caps: the window
    # tag is the low 9 bits of every key
    selected = select.chi_squared(
        key_bags.join(F.broadcast(lab), "series_id").withColumn(
            "wtag", F.col("key").bitwiseAND(F.lit(511))
        ),
        limit=chi_limit,
        word_limit=word_limit,
        key_col="key",
        split_unigram_bigram=True,
        keys=("nm", "f", "wtag"),
    ).select("nm", "f", "key")
    kept = key_bags.join(
        F.broadcast(selected), ["nm", "f", "key"], "left_semi"
    ).cache()
    kept.count()
    key_bags.unpersist()

    # fold splits + labels collected ONCE (train-set sized); each combo
    # collects its bag table once, then every fold solve is local
    folded = folds.stratified_folds(lab, n_folds).select("series_id", "fold")
    fold_of = {r["series_id"]: r["fold"] for r in folded.collect()}
    label_rows = lab.collect()
    label_map = sorted({r["label"] for r in label_rows})
    lab_idx = {l: i for i, l in enumerate(label_map)}
    y_of = {r["series_id"]: lab_idx[r["label"]] for r in label_rows}
    sids = sorted(y_of)
    n_train, k = len(sids), len(label_map)
    row_of = {sid: i for i, sid in enumerate(sids)}
    y = np.asarray([y_of[s] for s in sids], dtype=np.int64)
    if prob_mode == "liblinear_lr":
        # reference trainLibLinear CV folds: java-Random(1) Fisher-Yates
        # permutation over SAMPLE ORDER + contiguous slices
        # (Classifier.java:355-383) — not stratified round-robin; the
        # split decides bestF/bestNorm, which TEASER's slaves inherit
        from sfa_spark.ml.oneclass import JavaRandom

        rand = JavaRandom(1)
        perm = list(range(n_train))
        for i in range(n_train):
            j = i + rand.next_int(n_train - i)
            perm[i], perm[j] = perm[j], perm[i]
        nf = min(n_folds, n_train)
        fold_arr = np.empty(n_train, dtype=np.int64)
        fold_start = [i * n_train // nf for i in range(nf + 1)]
        for s in range(nf):
            for p in perm[fold_start[s] : fold_start[s + 1]]:
                fold_arr[p] = s
    else:
        fold_arr = np.asarray([fold_of[s] for s in sids], dtype=np.int64)
    # liblinear parity (L2R_LR, C=1, bias=1 — WEASELClassifier:31-36):
    # liblinear minimizes C·Σloss + ½‖w‖²; the local objective is
    # (1/n)Σloss + λ·½‖w‖² → λ = 1/(C·n)
    lam = 1.0 / (reg_param * n_train)

    def _fit(Xm, ym):
        if prob_mode == "liblinear_lr":
            # TEASER parity: OvR L2R_LR, C=reg_param, regularized bias=1.
            # solver_eps exposes liblinear's stopping rule (eps=0.1 in
            # WEASELClassifier.java:34) — see fit_ovr_lr's convergence
            # note for why the default stays at the unique optimum
            return linear.fit_ovr_lr(
                Xm, ym, k, C=reg_param, max_iter=max_iter * 2, eps=solver_eps
            )
        return linear.fit_softmax(Xm, ym, k, lam, max_iter=max_iter)

    def _combo_matrix(nm, f):
        pdf = (
            kept.where((F.col("nm") == nm) & (F.col("f") == f))
            .select("series_id", "key", "cnt")
            .toPandas()
        )
        keys = np.unique(pdf["key"].to_numpy(dtype=np.int64))
        ri = pdf["series_id"].map(row_of).to_numpy(dtype=np.int64)
        ci = np.searchsorted(keys, pdf["key"].to_numpy(dtype=np.int64))
        v = pdf["cnt"].to_numpy(dtype=np.float64)
        # size-gated: dense BLAS for fixture-scale combos (bit-stable
        # goldens), COO index arrays once #train × vocab would exceed
        # the driver budget — memory ∝ nnz (r2 verdict's dense ceiling)
        if n_train * max(len(keys), 1) * 8 > linear.DENSE_BUDGET_BYTES:
            return keys, linear.CooRows(ri, ci, v, (n_train, len(keys)))
        X = np.zeros((n_train, len(keys)), dtype=np.float64)
        if len(pdf):
            X[ri, ci] = v
        return keys, X

    best_key, best_correct = None, -1
    stop = False
    for nm in (True, False):  # reference NORMALIZATION order
        if stop:
            break
        for f in sorted(word_lengths):
            _, X = _combo_matrix(nm, f)
            correct = 0
            for s in range(n_folds):
                te = fold_arr == s
                tr = ~te
                if not te.any() or not tr.any():
                    continue
                m = _fit(X[tr], y[tr])
                correct += int((m.predict_idx(X[te]) == y[te]).sum())
            if correct > best_correct:
                best_correct, best_key = correct, (nm, f)
            if correct >= n_train:  # reference early exit on perfect CV
                stop = True
                break

    nm, f = best_key
    keys, X = _combo_matrix(nm, f)
    final = _fit(X, y)
    weights = _local_frame(
        spark,
        [(int(key), final.W[:, j].tolist()) for j, key in enumerate(keys)],
        "key bigint, w array<double>",
    )
    kept.unpersist()
    return WeaselGridModel(
        nm=nm, f=f, seg_map=seg_map, bins=bins, lens=lens, combos=combos,
        weights=weights, intercept=final.b.tolist(), label_map=label_map,
        alphabet=alphabet, lower_bounding=lower_bounding, prob_mode=prob_mode,
    )


# ---------------------------------------------------------------- MUSE grid

MUSE_KEYS = ("nm", "w", "dim")


def _muse_arr2(mv_arrays: DataFrame, ndims: int) -> DataFrame:
    """(series_id, dim, values) → (series_id2, values) with the dim
    folded into a synthetic series key so the whole (window × dim) grid
    runs through the ONE-pass _multi_coefs machinery."""
    return mv_arrays.select(
        (F.col("series_id") * ndims + F.col("dim")).alias("series_id"), "values"
    )


def muse_grid_words(
    mv_arrays: DataFrame,
    bins: DataFrame,
    combos: list[tuple[bool, int]],
    max_f: int,
    alphabet: int,
    ndims: int,
) -> DataFrame:
    """Sliding MUSE words at max_f for every (nm, w, dim):
    (nm, w, dim, series_id2, win, word). MUSE conventions
    (MUSEClassifier.java:50 + MUSE ctor): APPLY_Z_NORM=false (no
    per-window 1/σ), lowerBounding=false (no 1/√w)."""
    from sfa_spark.operators.words import pack_words

    arr2 = _muse_arr2(mv_arrays, ndims)
    long = _multi_coefs(
        arr2, combos, max_f, sliding=True,
        lower_bounding=False, apply_z_norm=False,
    ).withColumn("dim", (F.col("series_id") % ndims).cast("int"))
    sym = quantize.quantize_with_bins(long, bins, keys=MUSE_KEYS)
    return pack_words(
        sym.select("series_id", "nm", "w", "dim", "win", "seg", "symbol"),
        alphabet,
        keys=MUSE_KEYS,
    )


def muse_words_with_prev(words: DataFrame) -> DataFrame:
    """Attach the UNMASKED word one window-length earlier (the MUSE
    bigram partner, MUSE.java:261-266 `offset − windowLengths[w]`) —
    ONCE at max_f: masking commutes with the lag (low-bit masks), so
    every f re-derives its bigrams from this one frame with narrow ops
    instead of a per-f shuffle of the words table. The lag distance is
    the window length itself (a column), so it is an equi-join on the
    shifted window index rather than a literal-count lag()."""
    prev = words.select(
        "series_id", "nm", "w", "dim",
        (F.col("win") + F.col("w")).alias("win"),
        F.col("word").alias("prev_word"),
    )
    return words.join(prev, ["series_id", "nm", "w", "dim", "win"], "left")


def muse_grid_keys(
    words_prev: DataFrame,
    f: int,
    alphabet: int,
    ndims: int,
    bigrams: bool,
    keep_nm: bool = False,
) -> DataFrame:
    """Masked MuseWord struct keys for word length f from a
    muse_words_with_prev frame:
    (series_id[, nm], key struct<w,d,word,word2>) with one row per
    occurrence (MUSE has NO numerosity reduction — MUSE.java:248-268).
    Unigrams word2=0 (MuseWord ctor default); bigram emitted where the
    lagged word exists; windows shorter than f emit nothing
    (`windowLengths[w] >= wordLength`). Pure narrow ops — the only
    shuffle on this path is muse_words_with_prev's one-time join."""
    bits = binlog(alphabet)
    mask = f"(shiftleft(cast(1 as bigint), {bits} * {f}) - 1)"
    masked = (
        words_prev.where(F.col("w") >= f)
        .withColumn("mword", F.expr(f"word & {mask}"))
        .withColumn("mprev", F.expr(f"prev_word & {mask}"))
    )
    sid = (F.col("series_id") / ndims).cast("bigint").alias("series_id")
    extra = [F.col("nm")] if keep_nm else []
    uni = masked.select(
        sid,
        *extra,
        F.struct(
            F.col("w").alias("w"),
            F.col("dim").alias("d"),
            F.col("mword").alias("word"),
            F.lit(0).cast("bigint").alias("word2"),
        ).alias("key"),
    )
    if not bigrams:
        return uni
    bi = masked.where(F.col("prev_word").isNotNull()).select(
        sid,
        *extra,
        F.struct(
            F.col("w").alias("w"),
            F.col("dim").alias("d"),
            F.col("mprev").alias("word"),
            F.col("mword").alias("word2"),
        ).alias("key"),
    )
    return uni.unionByName(bi)


@dataclass
class MuseGridModel:
    hist: str
    nm: bool
    f: int
    bins: DataFrame  # (nm, w, dim, seg, bins) for the winning (hist, nm)
    weights: DataFrame  # (key struct, w array<double>)
    intercept: list[float]
    label_map: list[float]
    windows: list[int]
    max_f: int
    alphabet: int
    ndims: int
    bigrams: bool

    def _features(self, test_mv: DataFrame) -> DataFrame:
        combos = [(self.nm, w) for w in self.windows]
        words = muse_grid_words(
            test_mv, self.bins, combos, self.max_f, self.alphabet, self.ndims
        )
        keys = muse_grid_keys(
            muse_words_with_prev(words), self.f, self.alphabet, self.ndims,
            self.bigrams,
        )
        return bags.bag_of_keys(keys)

    def predict(self, test_mv: DataFrame, with_scores: bool = False) -> DataFrame:
        from sfa_spark.ml.classifiers import _score_with_weights

        return _score_with_weights(
            self._features(test_mv),
            test_mv.select("series_id").distinct(),
            self.weights,
            self.intercept,
            self.label_map,
            with_scores=with_scores,
        )


def muse_grid_fit(
    mv_arrays: DataFrame,
    labels: DataFrame,
    hist_types: tuple[str, ...] = ("equi_depth", "equi_width"),
    f_values: tuple[int, ...] = (2, 4, 6),
    alphabet: int = 4,
    min_window: int = 2,
    max_window: int = 450,
    chi_limit: float = 2.0,
    n_folds: int = 10,
    max_iter: int = 50,
    reg_param: float = 1.0,
    max_windows: int | None = None,
) -> MuseGridModel:
    """MUSE fit over the reference's FULL default grid
    (MUSEClassifier.fitMuse, java:163-268): histType {equi-depth,
    equi-width} × norm {true,false} × f {2,4,6}; windows = EVERY length
    from max(3 if norm, MIN=2)..min(450, series length); 10-fold CV
    picks the combo (ties → smaller f, java:202); early exit on a
    perfect CV score; bigrams iff max window < 200.

    Words are computed ONCE per (hist, nm, w, dim) at max_f and masked
    per f — exactly what the reference's transformWindowingInt(maxF) +
    bag mask does, so the per-f refits it performs are redundant by
    construction. max_windows (ours) evenly subsamples the window set
    for test budgets; None = the reference's full envelope."""
    from sfa_spark.ml import linear
    from sfa_spark.ml.classifiers import _collect_bags

    spark = mv_arrays.sparkSession
    lab = labels.select("series_id", "label")
    dims = [r["dim"] for r in mv_arrays.select("dim").distinct().orderBy("dim").collect()]
    ndims = len(dims)
    assert dims == list(range(ndims)), f"dims must be dense 0..{ndims-1}: {dims}"
    arr2 = _muse_arr2(mv_arrays, ndims)
    max_len = arr2.agg(F.max(F.size("values"))).collect()[0][0]

    def _windows(nm: bool) -> list[int]:
        lo = max(3, min_window) if (nm and min_window <= 2) else min_window
        ws = list(range(lo, min(max_window, max_len) + 1))
        if max_windows is not None and len(ws) > max_windows:
            idx = np.linspace(0, len(ws) - 1, max_windows).round().astype(int)
            ws = sorted({ws[i] for i in idx})
        return ws

    win_by_nm = {nm: _windows(nm) for nm in (True, False)}
    combos = [(nm, w) for nm in (True, False) for w in win_by_nm[nm]]
    max_f = max(f_values)
    bigrams = max(win_by_nm[True] + win_by_nm[False]) < 200  # MUSE.java:261

    fit_long = (
        _multi_coefs(
            arr2, combos, max_f, sliding=False,
            lower_bounding=False, apply_z_norm=False,
        )
        .withColumn("dim", (F.col("series_id") % ndims).cast("int"))
        .withColumn("coef", F.round("coef", 2))  # orderline rounding
        .cache()
    )
    bins_by_hist = {}
    for hist in hist_types:
        fitter = (
            quantize.fit_equi_depth_bins
            if hist == "equi_depth"
            else quantize.fit_equi_width_bins
        )
        bins_by_hist[hist] = fitter(fit_long, alphabet, keys=MUSE_KEYS).cache()

    words_by_hist = {
        hist: muse_words_with_prev(
            muse_grid_words(
                mv_arrays, bins_by_hist[hist], combos, max_f, alphabet, ndims
            )
        ).cache()
        for hist in hist_types
    }
    fit_long.unpersist()

    # fold splits + labels collected once (train-set sized)
    folded = folds.stratified_folds(lab, n_folds).select("series_id", "fold")
    fold_of = {r["series_id"]: r["fold"] for r in folded.collect()}
    label_rows = lab.collect()
    label_map = sorted({r["label"] for r in label_rows})
    lab_idx = {l: i for i, l in enumerate(label_map)}
    all_sids = sorted({r["series_id"] for r in label_rows})
    y = np.asarray(
        [lab_idx[r["label"]] for r in sorted(label_rows, key=lambda r: r["series_id"])],
        dtype=np.int64,
    )
    fold_arr = np.asarray([fold_of[s] for s in all_sids], dtype=np.int64)
    n_train = len(all_sids)
    lam = 1.0 / (reg_param * max(n_train, 1))

    def _kept_bags(hist: str) -> DataFrame:
        """ALL (nm, f) combos' χ²-filtered bags in ONE keyed cascade
        (grid-as-data: the per-combo Spark jobs of the naive loop
        collapse into a single aggregation + χ² keyed by (nm, f))."""
        parts = [
            muse_grid_keys(
                words_by_hist[hist], f, alphabet, ndims, bigrams, keep_nm=True
            ).withColumn("f", F.lit(int(f)))
            for f in sorted(f_values)
        ]
        allk = parts[0]
        for pt in parts[1:]:
            allk = allk.unionByName(pt)
        kb = allk.groupBy("series_id", "nm", "f", "key").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        selected = select.chi_squared(
            kb.join(F.broadcast(lab), "series_id"),
            limit=chi_limit, word_limit=None, key_col="key",
            keys=("nm", "f"),
        ).select("nm", "f", "key")
        kept = kb.join(F.broadcast(selected), ["nm", "f", "key"], "left_semi").cache()
        kept.count()
        return kept

    kept_by_hist = {hist: _kept_bags(hist) for hist in hist_types}

    best = None  # (hist, nm, f)
    best_correct = -1
    stop = False
    for hist in hist_types:  # reference histTypes order
        if stop:
            break
        for nm in (True, False):  # NORMALIZATION order
            if stop:
                break
            for f in sorted(f_values):
                kept = kept_by_hist[hist].where(
                    (F.col("nm") == nm) & (F.col("f") == f)
                ).select("series_id", "key", "cnt")
                _, X = _collect_bags(kept, all_sids)
                correct = 0
                for s in range(n_folds):
                    te = fold_arr == s
                    tr = ~te
                    if not te.any() or not tr.any():
                        continue
                    m = linear.fit_softmax(X[tr], y[tr], len(label_map), lam, max_iter=max_iter)
                    correct += int((m.predict_idx(X[te]) == y[te]).sum())
                # java:202: `correct > maxCorrect || correct == maxCorrect && f < bestF`
                if correct > best_correct or (
                    best is not None and correct == best_correct and f < best[2]
                ):
                    best_correct, best = correct, (hist, nm, f)
                if correct >= n_train:  # `break optimize` on perfect CV
                    stop = True
                    break

    hist, nm, f = best
    kept = kept_by_hist[hist].where(
        (F.col("nm") == nm) & (F.col("f") == f)
    ).select("series_id", "key", "cnt")
    keys_list, X = _collect_bags(kept, all_sids)
    final = linear.fit_softmax(X, y, len(label_map), lam, max_iter=max_iter)
    weights = _local_frame(
        spark,
        [
            (dict(zip(("w", "d", "word", "word2"), map(int, k))), final.W[:, j].tolist())
            for j, k in enumerate(keys_list)
        ],
        "key struct<w:int,d:int,word:bigint,word2:bigint>, w array<double>",
    )
    model_bins = bins_by_hist[hist].where(F.col("nm") == nm).cache()
    for h in hist_types:
        words_by_hist[h].unpersist()
        kept_by_hist[h].unpersist()
    return MuseGridModel(
        hist=hist, nm=nm, f=f, bins=model_bins,
        weights=weights, intercept=final.b.tolist(), label_map=label_map,
        windows=win_by_nm[nm], max_f=max_f, alphabet=alphabet,
        ndims=ndims, bigrams=bigrams,
    )
