"""Golden-style accuracy tests on seeded CBF (mirrors the reference's
AbstractClassifierTest: accuracy within a tolerance on a known
dataset; here synthetic CBF with a conservative floor)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sfa_spark.ml import classifiers as C
from sfa_spark.ml import grid
from sfa_spark.sources.cbf import cbf_dataset


@pytest.fixture(scope="module")
def cbf(spark):
    train_arrays, train_labels = cbf_dataset(spark, n_per_class=8, seed=1)
    test_arrays, test_labels = cbf_dataset(spark, n_per_class=15, seed=2, id_offset=1000)
    return (
        train_arrays.cache(), train_labels.cache(),
        test_arrays.cache(), test_labels.cache(),
    )


def _accuracy(pred, labels):
    joined = pred.join(labels, "series_id")
    return joined.agg(
        F.avg((F.col("pred_label") == F.col("label")).cast("double"))
    ).collect()[0][0]


def test_boss_ensemble_cbf(spark, cbf):
    tr_a, tr_l, te_a, te_l = cbf
    model = C.boss_ensemble_fit(
        tr_a, tr_l, windows=[16, 24, 32], word_lengths=(6, 8), alphabet=4
    )
    assert len(model.members) >= 1
    acc = _accuracy(model.predict(te_a), te_l)
    assert acc >= 0.75, f"BOSS ensemble CBF accuracy {acc}"


def test_bossvs_cbf(spark, cbf):
    tr_a, tr_l, te_a, te_l = cbf
    model = C.bossvs_fit(
        tr_a, tr_l, windows=[16, 32], word_lengths=(4, 6), alphabet=4, n_folds=3
    )
    acc = _accuracy(model.predict(te_a), te_l)
    assert acc >= 0.7, f"BOSS VS CBF accuracy {acc}"


def test_weasel_cbf(spark, cbf):
    tr_a, tr_l, te_a, te_l = cbf
    model = C.weasel_fit(
        tr_a, tr_l, windows=[12, 20, 28], word_length=4, alphabet=4
    )
    pred = C.weasel_predict(model, te_a)
    acc = _accuracy(pred, te_l)
    assert acc >= 0.75, f"WEASEL CBF accuracy {acc}"


def _fit_jobs(spark, cbf, windows):
    """(models, #jobs) of one supervised SFA fit on the CBF train set."""
    tr_a, tr_l, _, _ = cbf
    tr_a.count(), tr_l.count()  # the fixture cache is not the fit's work
    sc = spark.sparkContext
    group = f"supervised-sfa-{len(windows)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        models = grid.fit_supervised_sfa(
            tr_a, tr_l, [(False, w) for w in windows], 4, 4, lower_bounding=True
        )
        return models, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_supervised_sfa_fit_jobs_do_not_grow_with_windows(spark, cbf):
    """One keyed plan fits every window: three windows cost the same
    jobs as one, and every model leaves the fit with its bins already
    on the driver, so transforming with it reads no bins table."""
    one, jobs_one = _fit_jobs(spark, cbf, [12])
    three, jobs_three = _fit_jobs(spark, cbf, [12, 20, 28])
    assert sorted(three) == [(False, 12), (False, 20), (False, 28)]
    assert jobs_one == jobs_three <= 12, (jobs_one, jobs_three)
    for m in [*one.values(), *three.values()]:
        assert "bin_arrays" in vars(m)
        assert len(m.best_segs) == 4 and sorted(m.bin_arrays) == [0, 1, 2, 3]


# Reference values for the supervised step of the WEASEL grid on the
# CBF train set (windows 12/20/28 under both norms, word length 4,
# alphabet 4), recorded from the grid plan that fit_supervised_sfa
# replaced: rank-ordered segs, maxWordLength and IG bins per rank.
_CBF_SEG_MAP = {
    (False, 12): [2, 5, 3, 7], (False, 20): [8, 3, 14, 12],
    (False, 28): [3, 6, 5, 21], (True, 12): [0, 3, 1, 5],
    (True, 20): [6, 1, 12, 10], (True, 28): [1, 4, 3, 19],
}
_CBF_LENS = {
    (False, 12): 8, (False, 20): 16, (False, 28): 22,
    (True, 12): 6, (True, 20): 14, (True, 28): 20,
}
_CBF_BINS = {  # window → rank → bins; both norms give the same bins
    12: [[-4.48, -4.01, -1.0], [-4.11, 1.25, 4.18],
         [-3.26, -2.6, -2.4], [-3.52, 5.4, 5.93]],
    20: [[-3.69, 5.16, 5.52], [-9.79, -5.27, -4.84],
         [-2.59, -1.92, -1.58], [2.35, 3.33, 4.7]],
    28: [[-5.07, 1.89, 13.46], [-4.75, -3.8, -2.88],
         [-8.5, -1.04, 8.94], [-6.41, -2.15, 4.91]],
}


def test_supervised_sfa_matches_previous_grid_plan_on_cbf(spark, cbf):
    tr_a, tr_l, _, _ = cbf
    combos = [(nm, w) for nm in (True, False) for w in (12, 20, 28)]
    models = grid.fit_supervised_sfa(tr_a, tr_l, combos, 4, 4)
    assert {c: m.best_segs for c, m in models.items()} == _CBF_SEG_MAP
    assert {c: m.fit_l for c, m in models.items()} == _CBF_LENS
    for (nm, w), m in models.items():
        assert {s: v.tolist() for s, v in m.bin_arrays.items()} == dict(
            enumerate(_CBF_BINS[w])
        ), (nm, w)
        assert all(v.dtype == np.float64 for v in m.bin_arrays.values())


def test_mllib_pipeline_composition(spark, cbf):
    """SURVEY §2.10: engine stages compose in a pyspark.ml Pipeline."""
    from pyspark.ml import Pipeline

    from sfa_spark.ml.pipeline import BagOfPatterns, SFAWords

    tr_a, _, te_a, _ = cbf
    pipe = Pipeline(stages=[SFAWords(window=16, wordLength=4), BagOfPatterns()])
    fitted = pipe.fit(tr_a)
    out = fitted.transform(te_a)
    assert set(out.columns) == {"series_id", "word", "cnt"}
    assert out.count() > 0
    # same series set in, same out
    assert out.select("series_id").distinct().count() == te_a.count()


def test_local_solve_collects_once_and_plans_weights_locally(spark, plan_node_names):
    """The linear solve is one collect of the labels and one of the
    kept bag, then a numpy solve on the driver: on a small kept frame
    (an aggregate, so its collect runs a shuffle map job and a result
    job) it starts at most 3 jobs. The weights table, which every
    scoring broadcasts, plans as a local relation, not a scan of a
    Python RDD, and it scores the training bags well."""
    rng = np.random.RandomState(17)
    rows, lab_rows = [], []
    for sid in range(60):
        label = float(sid % 3)
        lab_rows.append((sid, label))
        for j in range(12):
            key = int(rng.randint(0, 40))
            cnt = int(rng.randint(1, 4)) + (3 if key % 3 == int(label) else 0)
            rows.append((sid, key, cnt))
    kept = spark.createDataFrame(rows, "series_id long, key bigint, cnt long") \
        .groupBy("series_id", "key").agg(F.sum("cnt").alias("cnt"))
    labels = spark.createDataFrame(lab_rows, "series_id long, label double")

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "local-solve")
    try:
        weights, intercept, label_map = C._fit_local_softmax(
            kept, labels, "bigint", 100, 1.0
        )
        jobs = sc.statusTracker().getJobIdsForGroup("local-solve")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 3, sorted(jobs)
    assert label_map == [0.0, 1.0, 2.0] and len(intercept) == 3
    names = plan_node_names(weights)
    assert "LocalTableScanExec" in names and "RDDScanExec" not in names, names

    ids = labels.select("series_id").distinct()
    pred = C._score_with_weights(kept, ids, weights, intercept, label_map)
    assert _accuracy(pred, labels) >= 0.95


def test_weasel_features_match_sql_key_bags(spark, cbf, plan_node_names):
    """The one-pass Arrow featurization equals the SQL composition it
    replaced (transform_windowing → weasel_keys → union → bag_of_keys)
    for windows [12, 16], and its executed plan has no shuffle."""
    from sfa_spark.operators import bags, sfa

    tr_a, tr_l, te_a, _ = cbf
    fitted = grid.fit_supervised_sfa(
        tr_a, tr_l, [(False, 12), (False, 16)], 4, 4, lower_bounding=True
    )
    models = {w: m for (_, w), m in fitted.items()}
    parts = [
        bags.weasel_keys(sfa.transform_windowing(m, te_a), window_length=w)
        for w, m in models.items()
    ]
    want = bags.bag_of_keys(parts[0].unionByName(parts[1]))
    got = C._weasel_features(models, te_a)
    assert got.columns == ["series_id", "key", "cnt"]
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    names = plan_node_names(got)
    assert "ShuffleExchangeExec" not in names, names


def test_weasel_features_reject_wide_window_before_any_job(spark, cbf):
    """A window too wide for the key's tag bits raises ValueError from
    _weasel_features itself, on the driver, before any Spark job — not
    from a worker at the first action. The model is a window-12 fit
    keyed under 600, so only the tag is out of range."""
    tr_a, tr_l, te_a, _ = cbf
    model = grid.fit_supervised_sfa(
        tr_a, tr_l, [(False, 12)], 4, 4, lower_bounding=True
    )[(False, 12)]
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "weasel-wide-window")
    try:
        with pytest.raises(ValueError, match="window tag 600"):
            C._weasel_features({600: model}, te_a)
        assert sc.statusTracker().getJobIdsForGroup("weasel-wide-window") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
