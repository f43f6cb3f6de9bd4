"""tf-idf, χ², ANOVA-F, 1-NN, folds — checked against tiny hand
computations / numpy references."""

import math

import pytest
from pyspark.sql import functions as F

from sfa_spark.operators import folds, knn, select, tfidf


def test_tfidf_weights_manual(spark):
    # 2 classes; word 1 only in class 0, word 2 in both
    bag = spark.createDataFrame(
        [
            (0, 1, 2, 0),
            (1, 2, 1, 0),
            (2, 2, 3, 1),
        ],
        "series_id long, word long, cnt long, label long",
    )
    m = {(r["label"], r["word"]): r["weight"] for r in tfidf.fit_tfidf(bag).collect()}
    # class 0: w1 tf=2 df=1 → (1+log10 2)·log10(1+2/1); w2 tf=1 df=2 → 0 (in all classes)
    w1 = (1 + math.log10(2)) * math.log10(3)
    assert abs(m[(0, 1)] - 1.0) < 1e-9  # L2-normalized single nonzero → 1
    assert m[(0, 2)] == 0.0 and m[(1, 2)] == 0.0


def test_tfidf_fit_builds_with_at_most_one_job(spark, sf_dir):
    """Building q_tfidf_fit runs at most one Spark job (the parquet
    schema read): the class count is fit_tfidf's in-plan scalar over the
    cached bag, not a driver-side collect."""
    from sfa_spark import queries as Q

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "tfidf-build")
    try:
        df = Q.q_tfidf_fit(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("tfidf-build")) <= 1
    assert df.count() > 0
    spark.catalog.clearCache()


def test_tfidf_predict_argmax(spark):
    model = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.1), (1, 2, 0.9), (1, 3, 0.3)],
        "label long, word long, weight double",
    )
    test = spark.createDataFrame(
        [(10, 1, 3), (10, 2, 1), (11, 3, 2)],
        "series_id long, word long, cnt long",
    )
    pred = {r["series_id"]: r["pred_label"] for r in tfidf.score_tfidf(test, model).collect()}
    assert pred == {10: 0, 11: 1}


def test_anova_f_matches_scipy_formula(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    groups = {0.0: rng.normal(0, 1, 30), 1.0: rng.normal(1.5, 1, 30)}
    rows = [(0, float(v), lbl) for lbl, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "seg int, coef double, label double")
    f_spark = select.anova_f(df).collect()[0]["f_stat"]
    try:
        from scipy.stats import f_oneway

        f_ref = f_oneway(groups[0.0], groups[1.0]).statistic
    except ImportError:
        a, b = groups[0.0], groups[1.0]
        n = len(a) + len(b)
        gm = (a.sum() + b.sum()) / n
        ssb = len(a) * (a.mean() - gm) ** 2 + len(b) * (b.mean() - gm) ** 2
        ssw = ((a - a.mean()) ** 2).sum() + ((b - b.mean()) ** 2).sum()
        f_ref = (ssb / 1) / (ssw / (n - 2))
    assert abs(f_spark - f_ref) < 1e-6


def _anova(spark, rows, keys=()):
    ks = "".join(f"{k} {t}, " for k, t in keys)
    df = spark.createDataFrame(rows, f"{ks}seg int, coef double, label double")
    return select.anova_f(df, keys=tuple(k for k, _ in keys))


def test_anova_f_edge_rules(spark):
    """f_oneway's double semantics, with no divide error under ANSI: a
    seg with one class or one sample per class has NaN F and no row; a
    constant seg (0/0) has no row; zero within-class spread between
    distinct class means is +inf and ranks first."""
    one_class = [(0, v, 0.0) for v in (1.0, 2.0, 4.0)]
    assert _anova(spark, one_class).collect() == []
    one_each = [(0, 1.0, 0.0), (0, 2.0, 1.0), (0, 5.0, 2.0)]
    assert _anova(spark, one_each).collect() == []

    constant = [(0, 1.5, float(i % 2)) for i in range(6)]
    separating = [(1, 1.0 + 2.0 * (i % 2), float(i % 2)) for i in range(6)]
    noisy = [(2, float(v), float(i % 2)) for i, v in enumerate([1, 2, 4, 3, 2, 6])]
    f = _anova(spark, constant + separating + noisy)
    got = {r["seg"]: r["f_stat"] for r in f.collect()}
    assert sorted(got) == [1, 2]
    assert got[1] == math.inf and 0 < got[2] < math.inf
    ranked = select.top_coefficients(f, 2).orderBy("rank").collect()
    assert [r["seg"] for r in ranked] == [1, 2]


def test_anova_f_keyed_matches_per_group(spark):
    """keys=(nm, w) gives each key group the F of a one-key call on
    that group alone."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (nm, w, seg, float(rng.normal(lbl * (seg + w % 3), 1.0)), float(lbl))
        for nm in (True, False)
        for w in (8, 12)
        for seg in range(3)
        for lbl in (0, 1, 2)
        for _ in range(5)
    ]
    keyed = {
        (r["nm"], r["w"], r["seg"]): r["f_stat"]
        for r in _anova(spark, rows, (("nm", "boolean"), ("w", "int"))).collect()
    }
    alone = {}
    for nm in (True, False):
        for w in (8, 12):
            group = [r[2:] for r in rows if r[:2] == (nm, w)]
            for r in _anova(spark, group).collect():
                alone[(nm, w, r["seg"])] = r["f_stat"]
    assert len(keyed) == 12 and keyed == alone


def test_chi2_uniform_is_zero(spark):
    # identical distribution across classes → chi2 ≈ 0 (kept only with limit 0)
    bag = spark.createDataFrame(
        [(0, 1, 5, 0), (1, 1, 5, 1), (2, 2, 3, 0), (3, 2, 3, 1)],
        "series_id long, word long, cnt long, label long",
    )
    rows = select.chi_squared(bag, limit=-1.0, word_limit=None).collect()
    assert all(abs(r["chi2"]) < 1e-9 for r in rows)


def _brute_boss_1nn(test, train, loo):
    """Pure-Python BOSSEnsembleClassifier.predict (java:184-236): the
    asymmetric distance over the query's words, a candidate accepted
    only when dist != the no-match distance (sumsq of the query) and
    dist > 0, ties to the smaller id, no entry without an accepted
    candidate."""
    out = {}
    for qid, q in test.items():
        no_match = sum(v * v for v in q.values())
        best = None
        for cid in sorted(train):
            if loo and cid == qid:
                continue
            d = sum((qv - train[cid].get(w, 0)) ** 2 for w, qv in q.items())
            if d != no_match and d > 0 and (best is None or d < best[1]):
                best = (cid, d)
        if best is not None:
            out[qid] = best
    return out


def test_boss_1nn_vs_bruteforce(spark):
    """knn.boss_1nn against an independent brute force, over loo, key
    columns and chunk counts (1, 3, 4: the chunk merge), with word ids
    ≥ 2^22 and < 0 (the group's own word index takes any bigint).
    Planted per key group: a candidate identical to a query's bag
    (dist 0), one sharing no word with any query (corr 0), one whose
    only shared word cancels to the no-match distance (c = 2q), and an
    exact tie between two candidates."""
    import numpy as np

    rng = np.random.default_rng(7)
    vocab = np.unique(
        np.concatenate(
            [
                rng.choice(40, 10, replace=False),
                rng.integers(1 << 22, 1 << 40, 10),
                rng.integers(-(1 << 40), 0, 10),
            ]
        )
    )
    spare = [int(vocab.max()) + 1 + i for i in range(4)]  # no query holds these

    def corpus(seed):
        r = np.random.default_rng(seed)
        bag = lambda: {
            int(w): int(r.integers(1, 6)) for w in r.choice(vocab, 8, replace=False)
        }
        test = {100 + i: bag() for i in range(10)}
        train = {i: bag() for i in range(30)}
        train[200] = dict(test[100])
        train[201] = {w: 3 for w in spare[1:]}
        w0 = next(iter(test[102]))
        train[202] = {w0: 2 * test[102][w0], spare[0]: 1}
        near = dict(test[101])
        near[next(iter(near))] += 1
        train[300], train[301] = dict(near), dict(near)
        return test, train

    key_cases = {(): [()], ("nm", "f"): [(True, 6), (True, 8), (False, 8)]}
    for keys, groups in key_cases.items():
        data = {g: corpus(i) for i, g in enumerate(groups)}
        for loo in (False, True):
            expected, rows_q, rows_c = {}, [], []
            for g, (test, train) in data.items():
                if loo:
                    test = train = {**test, **train}
                for qid, hit in _brute_boss_1nn(test, train, loo).items():
                    expected[(*g, qid)] = hit
                rows_q += [(*g, s, w, c) for s, b in test.items() for w, c in b.items()]
                rows_c += [(*g, s, w, c) for s, b in train.items() for w, c in b.items()]
            # the planted candidates really are skipped or tie-broken
            for g in groups:
                assert expected[(*g, 100)][0] != 200
                assert expected[(*g, 101)] == (300, 1)
                assert expected[(*g, 102)][0] != 202
                assert (*g, 201) not in expected
                assert all(v[0] != 201 for v in expected.values())
            schema = "".join(f"{k} {t}, " for k, t in zip(keys, ("boolean", "int")))
            schema += "series_id long, word long, cnt long"
            q_df = spark.createDataFrame(rows_q, schema)
            c_df = q_df if loo else spark.createDataFrame(rows_c, schema)
            for n_chunks in (1, 3, 4):
                got = {
                    (*(r[k] for k in keys), r["series_id"]): (r["nn_id"], r["dist"])
                    for r in knn.boss_1nn(
                        q_df, c_df, loo=loo, keys=keys, n_chunks=n_chunks
                    ).collect()
                }
                assert got == expected, (keys, loo, n_chunks)


def _boss_bags_df(spark, bags):
    return spark.createDataFrame(
        [(sid, w, c) for sid, b in bags.items() for w, c in b.items()],
        "series_id long, word long, cnt long",
    )


def test_boss_1nn_blocked_dense_vocab(spark):
    """A dense small vocabulary (every query word shared by many
    candidates) gives the same exact integer distances, argmin,
    acceptance rule (zero-overlap and identical-bag candidates
    skipped) and smaller-nn_id tie-break as the brute force, with one
    and with several corpus chunks, so the chunk merge is exercised."""
    import numpy as np

    rng = np.random.default_rng(7)
    n_train, n_test, vocab = 40, 15, 30
    train = {
        i: {int(w): int(rng.integers(1, 6)) for w in rng.choice(vocab, 8, replace=False)}
        for i in range(n_train)
    }
    test = {
        100 + i: {int(w): int(rng.integers(1, 6)) for w in rng.choice(vocab, 8, replace=False)}
        for i in range(n_test)
    }
    # planted edge cases: a candidate identical to one query's bag
    # (dist 0 → skipped) and a candidate with no word overlap with any
    # query (corr 0 → skipped)
    train[200] = dict(test[100])
    train[201] = {w + vocab: 3 for w in range(4)}

    expected = _brute_boss_1nn(test, train, loo=False)
    assert expected.get(100, (None,))[0] != 200
    assert all(nn != 201 for nn, _ in expected.values())
    for n_chunks in (1, 3, 4):
        got = {
            r["series_id"]: (r["nn_id"], r["dist"])
            for r in knn.boss_1nn(
                _boss_bags_df(spark, test), _boss_bags_df(spark, train), n_chunks=n_chunks
            ).collect()
        }
        assert got == expected, n_chunks


def test_boss_1nn_blocked_loo(spark):
    """loo=True skips self-matches with the corpus split into chunks."""
    bags = {0: {1: 2, 2: 1}, 1: {1: 2, 2: 1}, 2: {1: 5}}
    df = _boss_bags_df(spark, bags)
    got = {
        r["series_id"]: (r["nn_id"], r["dist"])
        for r in knn.boss_1nn(df, df, loo=True, n_chunks=2).collect()
    }
    assert got == _brute_boss_1nn(bags, bags, loo=True)
    assert all(qid != nn for qid, (nn, _) in got.items())


def test_stratified_folds_balanced(spark):
    labeled = spark.createDataFrame(
        [(i, i % 3) for i in range(60)], "series_id long, label long"
    )
    f = folds.stratified_folds(labeled, 10)
    per = f.groupBy("label", "fold").count().collect()
    assert all(r["count"] == 2 for r in per)  # 20 per label / 10 folds


def test_weighted_vote_tie_breaks_larger_label(spark):
    votes = spark.createDataFrame(
        [(1, 0.0, 1.0), (1, 2.0, 1.0)], "series_id long, pred_label double, weight double"
    )
    got = folds.weighted_vote(votes).collect()[0]["pred_label"]
    assert got == 2.0


def test_chi2_sf_matches_known_values():
    from sfa_spark.operators.select import chi2_sf

    # reference points (R: pchisq(x, df, lower.tail=FALSE))
    known = [
        (3.841, 1, 0.05), (5.991, 2, 0.05), (7.815, 3, 0.05),
        (6.635, 1, 0.01), (9.210, 2, 0.01), (13.277, 4, 0.01),
    ]
    for x, dof, p in known:
        assert abs(chi2_sf(x, dof) - p) < 5e-4, (x, dof)


def test_chi2_pvalue_selection(spark):
    from sfa_spark.operators import select

    # words 1/2 perfectly separate the classes (10-of-20 samples each
    # → presence χ² = 10, p ≈ 0.0016); word 3 is uniform (χ² = 0).
    # Presence-count semantics (reference trainChiSquared): cnt
    # magnitude is irrelevant, sample membership is what counts.
    bag = spark.createDataFrame(
        [(i, 1, 30, 0) for i in range(10)]
        + [(10 + i, 2, 30, 1) for i in range(10)]
        + [(i, 3, 10, 0 if i < 10 else 1) for i in range(20)],
        "series_id long, word long, cnt long, label long",
    )
    sel = select.chi_squared_pvalues(bag, p_limit=0.01)
    kept = {r["word"] for r in sel.collect()}
    assert 1 in kept and 2 in kept  # separating words survive
    assert 3 not in kept  # uniform word filtered
