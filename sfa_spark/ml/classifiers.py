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
from pyspark.sql import DataFrame, Window
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


def sqrt_spaced_windows(min_w: int, max_w: int, count: int) -> list[int]:
    """BOSS VS's √-spaced window sampling (BOSSVSClassifier.java:98-103):
    denser at small windows, sparser at large — √-scale interpolation."""
    import math

    if count <= 1 or max_w <= min_w:
        return [min_w]
    lo, hi = math.sqrt(min_w), math.sqrt(max_w)
    ws = {int(round((lo + (hi - lo) * i / (count - 1)) ** 2)) for i in range(count)}
    return sorted(max(min_w, min(max_w, w)) for w in ws)


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
    import numpy as np

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


# Above this estimated COO footprint (24 bytes per nnz: row + col +
# value) the χ²-kept bag no longer fits the driver and the solve routes
# to MLlib LogisticRegression over distributed SparseVectors instead of
# a toPandas() collect. Module-level so tests can lower the gate.
SOLVE_NNZ_BUDGET_BYTES = 2 << 30


def _fit_mllib_lr(
    kept: DataFrame,
    labels: DataFrame,
    key_schema: str,
    max_iter: int,
    reg_param: float,
):
    """Distributed escape hatch for the linear solve: same objective as
    linear.fit_softmax ((1/n)Σ CE + λ·½‖W‖², intercept free, λ =
    1/(C·n) — the documented MLlib-parity objective in ml/linear.py),
    fit by MLlib's multinomial LogisticRegression on SparseVectors
    assembled in-plan. The bag table is NEVER collected: only the
    vocab-sized key index and the final (vocab × k) weight matrix touch
    the driver — both are the same size as the weights table every
    scoring path broadcasts anyway. Trade-off: ~1 treeAggregate job per
    L-BFGS iteration vs. zero jobs for the driver solve — only worth it
    past the nnz gate (SURVEY §2.6 M4/M5; PLANS.md row)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.functions import udf

    # Vector assembly must cross into Python (no JVM SQL constructor
    # for sparse vectors), but not row-at-a-time over pickle:
    # useArrow=True ships the grouped (cidx, cnt) arrays to the worker
    # as Arrow batches. A @pandas_udf cannot be used here — Arrow-based
    # pandas serialization rejects UDT return types (VectorUDT), while
    # the arrow-optimized scalar UDF carries the UDT through its SQL
    # representation. This is the one Python boundary on the
    # distributed-solve path; it runs once per training series.

    spark = kept.sparkSession
    n_train = labels.select("series_id").distinct().count()
    label_map = [
        r["label"] for r in labels.select("label").distinct().orderBy("label").collect()
    ]
    lab_idx_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {"label": label_map, "yidx": np.arange(len(label_map), dtype=float)}
            ),
            "label double, yidx double",
        )
    )
    # deterministic vocab index: vocab is χ²/WORD_LIMIT-capped, so the
    # single-partition row_number sort is bounded (and the weight table
    # it indexes is driver-broadcast downstream regardless)
    kidx = (
        kept.select("key").distinct()
        .withColumn("cidx", F.row_number().over(Window.orderBy("key")) - 1)
    ).cache()
    d = kidx.count()

    @udf(VectorUDT(), useArrow=True)
    def _to_vec(iv):
        iv = sorted((int(i), float(c)) for i, c in iv or [])
        return Vectors.sparse(d, [i for i, _ in iv], [c for _, c in iv])

    feats = (
        kept.join(F.broadcast(kidx), "key")
        .groupBy("series_id")
        .agg(F.collect_list(F.struct("cidx", "cnt")).alias("_iv"))
    )
    train = (
        labels.select("series_id", "label").join(lab_idx_df, "label")
        .join(feats, "series_id", "left")
        .select("series_id", "yidx", _to_vec("_iv").alias("features"))
    )
    lam = 1.0 / (reg_param * max(n_train, 1))
    lr = LogisticRegression(
        featuresCol="features", labelCol="yidx", family="multinomial",
        standardization=False, fitIntercept=True, regParam=lam,
        elasticNetParam=0.0, maxIter=max_iter, tol=1e-7,
    )
    m = lr.fit(train)
    W = m.coefficientMatrix.toArray()  # k × d
    b = list(m.interceptVector.toArray())
    key_rows = kidx.orderBy("cidx").collect()
    kidx.unpersist()
    weights = _weights_frame(
        spark, [r["key"] for r in key_rows], W[:, [r["cidx"] for r in key_rows]], key_schema
    )
    return weights, b, label_map, None, None, None, None


def _fit_local_softmax(
    kept: DataFrame,
    labels: DataFrame,
    key_schema: str,
    max_iter: int,
    reg_param: float,
):
    """The reference's liblinear call, as a driver-local numpy solve
    (WEASELClassifier.java:35 — the solve is single-node there too;
    featurization and scoring stay distributed). Returns
    (weights_df, intercept, label_map, keys, X, y, all_sids).

    Above SOLVE_NNZ_BUDGET_BYTES of estimated COO footprint the solve
    routes to _fit_mllib_lr — no driver collect of the bags at all."""
    from sfa_spark.ml import linear

    spark = kept.sparkSession
    # persisted: the count and the bag collect (or the MLlib fit) would
    # each re-run the whole χ² selection chain
    kept = kept.persist()
    try:
        if kept.count() * 24 > SOLVE_NNZ_BUDGET_BYTES:
            return _fit_mllib_lr(kept, labels, key_schema, max_iter, reg_param)
        label_rows = labels.select("series_id", "label").collect()
        label_map = sorted({r["label"] for r in label_rows})
        lab_idx = {l: i for i, l in enumerate(label_map)}
        all_sids = sorted({r["series_id"] for r in label_rows})
        y = np.asarray(
            [lab_idx[r["label"]] for r in sorted(label_rows, key=lambda r: r["series_id"])],
            dtype=np.int64,
        )
        keys, X = _collect_bags(kept, all_sids)
    finally:
        kept.unpersist()
    lam = 1.0 / (reg_param * max(len(all_sids), 1))
    model = linear.fit_softmax(X, y, len(label_map), lam, max_iter=max_iter)
    weights = _weights_frame(spark, keys, model.W, key_schema)
    return weights, model.b.tolist(), label_map, keys, X, y, all_sids


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
    weights, intercept, label_map, *_ = _fit_local_softmax(
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


# ---------------------------------------------------------------- MUSE

@dataclass
class MuseModel:
    sfa_models: dict[tuple[int, int], sfa.SFAModel]  # (dim, window) → SFA
    weights: DataFrame  # (key struct, w array<double> per class)
    intercept: list[float]
    label_map: list[float]


def _muse_keys(words: DataFrame, dim: int, window: int, bigrams: bool) -> DataFrame:
    """MUSE struct key {w, dim, word, word2} (reference MuseWord,
    MUSE.java:152-183); unigrams have word2 = -1."""
    uni = words.select(
        "series_id",
        F.struct(
            F.lit(window).alias("w"),
            F.lit(dim).alias("d"),
            F.col("word").alias("word"),
            F.lit(-1).cast("bigint").alias("word2"),
        ).alias("key"),
    )
    if not bigrams:
        return uni
    wspec = Window.partitionBy("series_id").orderBy("win")
    bi = (
        words.withColumn("prev", F.lag("word", window).over(wspec))
        .where(F.col("prev").isNotNull())
        .select(
            "series_id",
            F.struct(
                F.lit(window).alias("w"),
                F.lit(dim).alias("d"),
                F.col("prev").alias("word"),
                F.col("word").alias("word2"),
            ).alias("key"),
        )
    )
    return uni.unionByName(bi)


def muse_fit(
    mv_arrays: DataFrame,
    labels: DataFrame,
    windows: list[int],
    word_length: int = 4,
    alphabet: int = 4,
    histogram: str = "equi_depth",
    chi2_limit: float = 2.0,
    bigrams: bool = True,
    max_iter: int = 25,
    reg_param: float = 1.0,
) -> MuseModel:
    """MUSE (multivariate WEASEL, reference MUSEClassifier.java:163-268):
    per (dimension × window) unsupervised SFA words → struct keys →
    χ² → driver-local softmax solve.

    mv_arrays: (series_id, dim, values array<double>)."""
    dims = [r["dim"] for r in mv_arrays.select("dim").distinct().orderBy("dim").collect()]
    sfa_models: dict[tuple[int, int], sfa.SFAModel] = {}
    parts = []
    for d in dims:
        arr_d = mv_arrays.where(F.col("dim") == d).select("series_id", "values")
        for w in windows:
            m = sfa.fit(
                arr_d, window=w, word_length=word_length, alphabet=alphabet,
                histogram=histogram,
            )
            sfa_models[(d, w)] = m
            words = sfa.transform_windowing(m, arr_d)
            parts.append(_muse_keys(words, d, w, bigrams))
    allk = parts[0]
    for p in parts[1:]:
        allk = allk.unionByName(p)
    key_bags = bags.bag_of_keys(allk).cache()
    selected = select.chi_squared(
        key_bags.join(labels, "series_id"), limit=chi2_limit,
        word_limit=10000, key_col="key",
    )
    kept = select.filter_bags(key_bags, selected, key_col="key")
    weights, intercept, label_map, *_ = _fit_local_softmax(
        kept, labels, "struct<w:int,d:int,word:bigint,word2:bigint>",
        max_iter, reg_param,
    )
    key_bags.unpersist()
    return MuseModel(sfa_models, weights, intercept, label_map)


def muse_predict(model: MuseModel, mv_arrays: DataFrame, bigrams: bool = True) -> DataFrame:
    parts = []
    for (d, w), m in model.sfa_models.items():
        arr_d = mv_arrays.where(F.col("dim") == d).select("series_id", "values")
        words = sfa.transform_windowing(m, arr_d)
        parts.append(_muse_keys(words, d, w, bigrams))
    allk = parts[0]
    for p in parts[1:]:
        allk = allk.unionByName(p)
    key_bags = bags.bag_of_keys(allk)
    return _score_with_weights(
        key_bags,
        mv_arrays.select("series_id").distinct(),
        model.weights,
        model.intercept,
        model.label_map,
    )
