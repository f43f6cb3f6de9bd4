"""Grid-as-data classifier unit tests (small grids on synthetic data;
the reference's FULL default grids run in tests/test_goldens.py
against the published fixture accuracies)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sfa_spark.ml import grid

# Slow tier: iterative grid-search fits. Deselected by the default gate
# (pytest.ini addopts); run explicitly with `pytest -m grid`.
pytestmark = pytest.mark.grid


def _mk(n, label, seed, length=64):
    out = []
    r = np.random.default_rng(seed)
    t = np.arange(length)
    for i in range(n):
        if label == 0:
            v = np.sin(t / 6.0) + r.normal(0, 0.3, length)
        elif label == 1:
            v = ((t > 20) & (t < 44)).astype(float) * 1.5 + r.normal(0, 0.3, length)
        else:
            v = (t / 40.0) + r.normal(0, 0.3, length)
        out.append((seed * 1000 + i, float(label), [float(x) for x in v]))
    return out


@pytest.fixture(scope="module")
def synth(spark):
    train = _mk(8, 0, 1) + _mk(8, 1, 2) + _mk(8, 2, 3)
    test = _mk(5, 0, 11) + _mk(5, 1, 12) + _mk(5, 2, 13)
    tr = spark.createDataFrame(
        train, "series_id long, label double, values array<double>"
    ).cache()
    te = spark.createDataFrame(
        test, "series_id long, label double, values array<double>"
    ).cache()
    return tr, te


def _acc(pred, te):
    r = pred.join(te.select("series_id", "label"), "series_id", "right").agg(
        F.avg((F.col("pred_label") == F.col("label")).cast("double"))
    ).collect()[0][0]
    return r or 0.0


def test_boss_grid_ensemble(synth, plan_node_names):
    tr, te = synth
    m = grid.boss_ensemble_grid_fit(
        tr.select("series_id", "values"),
        tr.select("series_id", "label"),
        windows=list(range(10, 33)),
    )
    assert len(m.members) >= 1
    # all members share the winning norm
    assert len({x.nm for x in m.members}) == 1
    pred = m.predict(te.select("series_id", "values"))
    assert _acc(pred, te) >= 0.8
    # the member and word-length tables are local relations, not scans
    # of a Python RDD
    assert plan_node_names(pred)["RDDScanExec"] == 0


def test_bossvs_grid(synth):
    tr, te = synth
    m = grid.bossvs_grid_fit(
        tr.select("series_id", "values"),
        tr.select("series_id", "label"),
        windows=[10, 16, 22, 28],
        n_folds=5,
    )
    assert len(m.members) >= 1
    assert _acc(m.predict(te.select("series_id", "values")), te) >= 0.8


def test_shotgun_grid_single_and_ensemble(synth):
    tr, te = synth
    single = grid.shotgun_grid_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"),
        windows=list(range(5, 33)),
    )
    assert len(single.members) == 1
    ens = grid.shotgun_grid_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"),
        windows=list(range(5, 33)), factor=0.92, ensemble=True,
    )
    assert len(ens.members) >= len(single.members)
    assert _acc(single.predict(te.select("series_id", "values")), te) >= 0.8
    assert _acc(ens.predict(te.select("series_id", "values")), te) >= 0.8


def test_weasel_grid(synth):
    tr, te = synth
    m = grid.weasel_grid_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"),
        max_windows=32, n_folds=3, max_iter=20,
    )
    assert m.weights.count() > 1
    assert _acc(m.predict(te.select("series_id", "values")), te) >= 0.8


def test_weasel_grid_sparse_path_matches_dense(synth, monkeypatch):
    """Force the CooRows featurization (budget=0) and check the fitted
    grid picks the same combo and predicts the same labels as the dense
    path — the size gate must be a memory decision, not a model one."""
    from sfa_spark.ml import linear

    tr, te = synth
    kwargs = dict(max_windows=32, n_folds=3, max_iter=20)
    m_dense = grid.weasel_grid_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"), **kwargs
    )
    monkeypatch.setattr(linear, "DENSE_BUDGET_BYTES", 0)
    m_sparse = grid.weasel_grid_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"), **kwargs
    )
    assert (m_sparse.nm, m_sparse.f) == (m_dense.nm, m_dense.f)
    pd_ = {
        r["series_id"]: r["pred_label"]
        for r in m_dense.predict(te.select("series_id", "values")).collect()
    }
    ps = {
        r["series_id"]: r["pred_label"]
        for r in m_sparse.predict(te.select("series_id", "values")).collect()
    }
    assert pd_ == ps


def test_weasel_grid_fit_is_run_deterministic(synth):
    """Two fits on the same data must agree exactly: the ANOVA
    sufficient statistics are decimal-summed (order-independent), so
    task scheduling cannot flip near-tied seg ranks and change the
    vocabulary (the r4 TEASER-Coffee earliness wobble)."""
    tr, _ = synth
    kwargs = dict(max_windows=24, n_folds=3, max_iter=15)
    m1 = grid.weasel_grid_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"), **kwargs
    )
    m2 = grid.weasel_grid_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"), **kwargs
    )
    assert (m1.nm, m1.f) == (m2.nm, m2.f)
    assert m1.seg_map == m2.seg_map
    w1 = {r["key"]: r["w"] for r in m1.weights.collect()}
    w2 = {r["key"]: r["w"] for r in m2.weights.collect()}
    assert set(w1) == set(w2)


def test_teaser_weasel_early_and_accurate(synth):
    from sfa_spark.ml import teaser_weasel as tw

    tr, te = synth
    m = tw.teaser_weasel_fit(
        tr.select("series_id", "values"), tr.select("series_id", "label"),
        s_total=5,
        weasel_kw=dict(n_folds=3, max_iter=15, max_windows=32),
    )
    assert m.snapshots and m.threshold in (2, 3, 4, 5)
    pred = tw.teaser_weasel_predict(m, te.select("series_id", "values"))
    r = pred.join(te.select("series_id", "label"), "series_id", "right").agg(
        F.avg((F.col("pred_label") == F.col("label")).cast("double")),
        F.avg("earliness"),
        F.count(F.lit(1)),
    ).collect()[0]
    assert (r[0] or 0) >= 0.8, f"teaser acc {r[0]}"
    assert r[1] is not None and r[1] <= 1.0
    assert r[2] == te.count()  # every test series gets a decision
