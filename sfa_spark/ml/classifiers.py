"""Classifiers (SURVEY §2.7): BOSS Ensemble, BOSS VS, WEASEL.

Reference parity:
  * BOSS Ensemble — BOSSEnsembleClassifier.fit/predict
    (`/root/reference/src/main/java/sfa/classification/BOSSEnsembleClassifier.java:83-278`):
    grid over windows; per window compute words ONCE at max f and
    re-mask per f (word & mask, BOSS.java:125); score by leave-one-out
    1-NN train accuracy; keep members within factor=0.92 of best;
    predict by weighted majority vote (weight = train score).
  * BOSS VS — BOSSVSClassifier (`BOSSVSClassifier.java:88-263`):
    same grid shape, tf-idf model + cosine-ish scoring, factor 0.95.
  * WEASEL — WEASELClassifier (`WEASELClassifier.java:214-309`):
    per window length: supervised SFA (ANOVA+IG) words → unigram+bigram
    keys → union over windows → χ² selection → dictionary → sparse
    features → logistic regression (liblinear → driver-local softmax solve,
    ml/linear.py — the reference solves single-node too).

Spark shape: the parameter grid is a driver-side loop (small, as in the
reference) but EVERY per-parameter step is a set-oriented Spark job
over all series at once; per-window words are cached and re-masked per
f exactly like the reference. Distances/scores are integer/rational →
deterministic model selection.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sfa_spark.ml import grid
from sfa_spark.operators import bags, folds, knn, sfa, select, tfidf
from sfa_spark.operators.words import mask_word


def _loo_accuracy(bag: DataFrame, labels: DataFrame) -> float:
    """Leave-one-out 1-NN train accuracy over a bag table.

    Queries with no accepted neighbor (reference predicts null) count
    as incorrect — divide by the full sample count, not matched rows.
    """
    nn = knn.boss_1nn(bag, bag, loo=True)
    correct = (
        nn.join(labels, "series_id")
        .join(
            labels.select(
                F.col("series_id").alias("nn_id"), F.col("label").alias("nn_label")
            ),
            "nn_id",
        )
        .agg(F.sum((F.col("label") == F.col("nn_label")).cast("long")))
        .collect()[0][0]
        or 0
    )
    total = labels.count()
    return correct / total if total else 0.0


@dataclass
class BossMember:
    window: int
    word_length: int
    score: float
    model: sfa.SFAModel
    train_bags: DataFrame
    train_labels: DataFrame


@dataclass
class BossEnsembleModel:
    members: list[BossMember]

    def predict(self, test_arrays: DataFrame) -> DataFrame:
        votes = []
        for m in self.members:
            words = sfa.transform_windowing(m.model, test_arrays)
            masked = words.withColumn(
                "word", mask_word(F.col("word"), m.word_length, m.model.alphabet)
            )
            bag = bags.bag_of_words(bags.numerosity_reduce(masked))
            nn = knn.boss_1nn(bag, m.train_bags)
            v = nn.join(
                m.train_labels.select(
                    F.col("series_id").alias("nn_id"), F.col("label").alias("pred_label")
                ),
                "nn_id",
            ).select("series_id", "pred_label", F.lit(m.score).alias("weight"))
            votes.append(v)
        allv = votes[0]
        for v in votes[1:]:
            allv = allv.unionByName(v)
        return folds.weighted_vote(allv)


def boss_ensemble_fit(
    train_arrays: DataFrame,
    labels: DataFrame,
    windows: list[int],
    word_lengths: tuple[int, ...] = (6, 8, 10, 12, 14, 16),
    alphabet: int = 4,
    factor: float = 0.92,
    norm_mean: bool = False,
) -> BossEnsembleModel:
    """Grid fit. Words per window computed once at max f, re-masked per
    f (exactly the reference's caching trick); best f kept per window;
    members below best·factor dropped."""
    max_f = max(word_lengths)
    candidates: list[BossMember] = []
    for w in windows:
        model = sfa.fit(
            train_arrays, window=w, word_length=max_f, alphabet=alphabet,
            histogram="equi_depth", norm_mean=norm_mean,
        )
        words = sfa.transform_windowing(model, train_arrays).cache()
        best: BossMember | None = None
        for f in word_lengths:
            masked = words.withColumn("word", mask_word(F.col("word"), f, alphabet))
            bag = bags.bag_of_words(bags.numerosity_reduce(masked)).cache()
            acc = _loo_accuracy(bag, labels)
            if best is None or acc > best.score:
                best = BossMember(w, f, acc, model, bag, labels)
        if best is not None:
            best.train_bags = best.train_bags.cache()
            candidates.append(best)
        words.unpersist()
    top = max(c.score for c in candidates)
    members = [c for c in candidates if c.score >= top * factor]
    return BossEnsembleModel(members)


@dataclass
class BossVSMember:
    window: int
    word_length: int
    score: float
    model: sfa.SFAModel
    tfidf: DataFrame


@dataclass
class BossVSModel:
    members: list[BossVSMember]
    alphabet: int = 4

    def predict(self, test_arrays: DataFrame) -> DataFrame:
        votes = []
        for m in self.members:
            words = sfa.transform_windowing(m.model, test_arrays)
            masked = words.withColumn(
                "word", mask_word(F.col("word"), m.word_length, m.model.alphabet)
            )
            bag = bags.bag_of_words(bags.numerosity_reduce(masked))
            pred = tfidf.score_tfidf(bag, m.tfidf)
            votes.append(
                pred.select("series_id", "pred_label", F.lit(m.score).alias("weight"))
            )
        allv = votes[0]
        for v in votes[1:]:
            allv = allv.unionByName(v)
        return folds.weighted_vote(allv)


def bossvs_fit(
    train_arrays: DataFrame,
    labels: DataFrame,
    windows: list[int],
    word_lengths: tuple[int, ...] = (4, 6, 8),
    alphabet: int = 4,
    factor: float = 0.95,
    n_folds: int = 3,
    norm_mean: bool = False,
) -> BossVSModel:
    """Grid fit scored by stratified k-fold CV accuracy of the tf-idf
    scorer (reference uses 10 folds; configurable here)."""
    max_f = max(word_lengths)
    folded = folds.stratified_folds(labels, n_folds).cache()
    candidates: list[BossVSMember] = []
    for w in windows:
        model = sfa.fit(
            train_arrays, window=w, word_length=max_f, alphabet=alphabet,
            histogram="equi_depth", norm_mean=norm_mean,
        )
        words = sfa.transform_windowing(model, train_arrays).cache()
        best: BossVSMember | None = None
        for f in word_lengths:
            masked = words.withColumn("word", mask_word(F.col("word"), f, alphabet))
            bag = bags.bag_of_words(bags.numerosity_reduce(masked)).cache()
            labeled = bag.join(folded, "series_id")
            correct, total = 0.0, 0.0
            for i in range(n_folds):
                tr = labeled.where(F.col("fold") != i)
                te = labeled.where(F.col("fold") == i).select("series_id", "word", "cnt")
                mdl = tfidf.fit_tfidf(tr.select("series_id", "word", "cnt", "label"))
                pred = tfidf.score_tfidf(te, mdl).join(labels, "series_id")
                r = pred.agg(
                    F.sum((F.col("pred_label") == F.col("label")).cast("double")),
                    F.count(F.lit(1)),
                ).collect()[0]
                correct += r[0] or 0.0
                total += r[1]
            acc = correct / total if total else 0.0
            if best is None or acc > best.score:
                full = tfidf.fit_tfidf(bag.join(labels, "series_id"))
                best = BossVSMember(w, f, acc, model, full.cache())
        if best is not None:
            candidates.append(best)
        words.unpersist()
    top = max(c.score for c in candidates)
    return BossVSModel([c for c in candidates if c.score >= top * factor], alphabet)


# ---------------------------------------------------------------- WEASEL

@dataclass
class WeaselModel:
    sfa_models: dict[int, sfa.SFAModel]  # window length → supervised SFA
    weights: DataFrame  # (key, w array<double> per class)
    intercept: list[float]
    label_map: list[float]  # index → label


def _collect_bags(kept: DataFrame, all_sids: list):
    """Collect a (series_id, key, cnt) bag table into a #series × vocab
    matrix (keys factorized in sorted order) — dense below the driver
    budget, CooRows (COO index arrays, memory ∝ nnz) above it. Struct
    keys (MUSE) land as Row — normalized to tuples for sorting."""
    from sfa_spark.ml import linear

    pdf = kept.select("series_id", "key", "cnt").toPandas()

    def _norm_key(k):
        if isinstance(k, dict):  # struct keys arrive as dicts (field order)
            return tuple(k.values())
        return k if np.isscalar(k) else tuple(k)

    norm = [_norm_key(k) for k in pdf["key"].tolist()]
    keys = sorted(set(norm))
    kidx = {kk: j for j, kk in enumerate(keys)}
    row_of = {sid: i for i, sid in enumerate(all_sids)}
    ri = np.asarray([row_of[sid] for sid in pdf["series_id"]], dtype=np.int64)
    ci = np.asarray([kidx[kk] for kk in norm], dtype=np.int64)
    v = pdf["cnt"].to_numpy(dtype=np.float64)
    if len(all_sids) * max(len(keys), 1) * 8 > linear.DENSE_BUDGET_BYTES:
        return keys, linear.CooRows(ri, ci, v, (len(all_sids), len(keys)))
    X = np.zeros((len(all_sids), len(keys)), dtype=np.float64)
    X[ri, ci] = v
    return keys, X


def _fit_local_softmax(
    kept: DataFrame,
    labels: DataFrame,
    key_schema: str,
    max_iter: int,
    reg_param: float,
):
    """The reference's liblinear call, as a driver-local numpy solve
    (WEASELClassifier.java:35 — the solve is single-node there too;
    featurization and scoring stay distributed): one collect of the
    labels, one of the kept bag, then linear.fit_softmax on the driver.
    Returns (weights_df, intercept, label_map)."""
    from sfa_spark.ml import linear

    label_rows = labels.select("series_id", "label").collect()
    label_map = sorted({r["label"] for r in label_rows})
    lab_idx = {l: i for i, l in enumerate(label_map)}
    all_sids = sorted({r["series_id"] for r in label_rows})
    y = np.asarray(
        [lab_idx[r["label"]] for r in sorted(label_rows, key=lambda r: r["series_id"])],
        dtype=np.int64,
    )
    keys, X = _collect_bags(kept, all_sids)
    lam = 1.0 / (reg_param * max(len(all_sids), 1))
    model = linear.fit_softmax(X, y, len(label_map), lam, max_iter=max_iter)
    weights = _weights_frame(kept.sparkSession, keys, model.W, key_schema)
    return weights, model.b.tolist(), label_map


def _weights_frame(spark, keys: list, W: np.ndarray, key_schema: str) -> DataFrame:
    """(key, w array<double>): column j of the k × d matrix W is key
    j's per-class weights. Built from pandas, so it plans as a local
    relation (LocalTableScan); from a list of rows it would plan as a
    scan of a Python RDD."""
    return spark.createDataFrame(
        pd.DataFrame({"key": keys, "w": list(np.asarray(W, dtype=float).T)}),
        f"key {key_schema}, w array<double>",
    )


def _score_with_weights(
    key_bags: DataFrame,
    all_ids: DataFrame,
    weights: DataFrame,
    intercept: list[float],
    label_map: list[float],
    with_scores: bool = False,
) -> DataFrame:
    """Distributed scoring: bag keys ⋈ broadcast weight table →
    per-class sums → softmax argmax in SQL. Unseen keys drop out of
    the join; empty bags score intercept-only via the left join.
    with_scores=True additionally exports the per-class logit array
    (`scores`, label_map order) — the decision artifact the surrogate
    oracles check argmax-consistency against."""
    k = len(label_map)
    # decimal logit sums — order-free exact addition, bit-stable under
    # any task scheduling (same rationale as WeaselGridModel._score)
    dec = "decimal(38,18)"
    per = (
        key_bags.join(F.broadcast(weights), "key")
        .groupBy("series_id")
        .agg(
            *[
                F.sum((F.col("cnt") * F.col("w")[c]).cast(dec))
                .cast("double")
                .alias(f"_s{c}")
                for c in range(k)
            ]
        )
    )
    base = all_ids.join(per, "series_id", "left").fillna(0.0)
    z = [F.col(f"_s{c}") + F.lit(float(intercept[c])) for c in range(k)]
    arr = F.array(*z)
    idx = F.array_position(arr, F.array_max(arr)) - 1
    labels_arr = F.array(*[F.lit(float(l)) for l in label_map])
    extra = [arr.alias("scores")] if with_scores else []
    return base.select(
        "series_id",
        F.element_at(labels_arr, idx.cast("int") + 1).alias("pred_label"),
        *extra,
    )


def _weasel_features(
    sfa_models: dict[int, sfa.SFAModel], arrays: DataFrame
) -> DataFrame:
    """Unigram+bigram key bags across all window lengths:
    (series_id, key bigint, cnt bigint). One Arrow pass per series:
    words per window length (SFAModel.word_kernel, as
    transform_windowing), keys (bags.weasel_key_array, as
    weasel_keys), counts by np.unique (as bag_of_keys) — no window-lag
    sort and no shuffle. Keys of different window lengths never collide
    (the window tag), so one count over their concatenation is the
    union of the per-window bags."""
    # tags first: a window too wide for the key format fails here on the
    # driver, before any model is read or any job runs
    tags = {w: bags.weasel_tag(w) for w in sfa_models}
    kernels = [(w, tags[w], m.word_kernel()) for w, m in sfa_models.items()]

    @pandas_udf("struct<key:array<bigint>,cnt:array<bigint>>")
    def _bag(vals: pd.Series) -> pd.DataFrame:
        keys, cnts = [], []
        for v in vals:
            x = np.asarray(v, dtype=np.float64)
            k, c = np.unique(
                np.concatenate(
                    [bags.weasel_key_array(kern(x), w, t) for w, t, kern in kernels]
                ),
                return_counts=True,
            )
            keys.append(k)
            cnts.append(c.astype(np.int64))
        return pd.DataFrame({"key": keys, "cnt": cnts})

    return arrays.select("series_id", _bag("values").alias("b")).select(
        "series_id", F.inline(F.arrays_zip("b.key", "b.cnt"))
    )


def weasel_fit(
    train_arrays: DataFrame,
    labels: DataFrame,
    windows: list[int],
    word_length: int = 4,
    alphabet: int = 4,
    chi2_limit: float = 2.0,
    word_limit: int = 10000,
    max_iter: int = 25,
    reg_param: float = 1.0,
) -> WeaselModel:
    """Fit WEASEL: supervised SFA for every window in one keyed plan
    (grid.fit_supervised_sfa) → key bags → χ² → driver-local softmax
    solve (the liblinear L2R_LR analogue — single-node in the reference
    too, WEASELClassifier.java:35)."""
    fitted = grid.fit_supervised_sfa(
        train_arrays, labels, [(False, w) for w in windows], word_length,
        alphabet, lower_bounding=True,
    )
    sfa_models = {w: m for (_, w), m in fitted.items()}
    key_bags = _weasel_features(sfa_models, train_arrays).cache()
    selected = select.chi_squared(
        key_bags.join(labels, "series_id"),
        limit=chi2_limit, word_limit=word_limit, key_col="key",
    )
    kept = select.filter_bags(key_bags, selected, key_col="key")
    weights, intercept, label_map = _fit_local_softmax(
        kept, labels, "bigint", max_iter, reg_param
    )
    key_bags.unpersist()
    return WeaselModel(sfa_models, weights, intercept, label_map)


def weasel_predict(
    model: WeaselModel, test_arrays: DataFrame, with_scores: bool = False
) -> DataFrame:
    key_bags = _weasel_features(model.sfa_models, test_arrays)
    return _score_with_weights(
        key_bags,
        test_arrays.select("series_id").distinct(),
        model.weights,
        model.intercept,
        model.label_map,
        with_scores=with_scores,
    )
