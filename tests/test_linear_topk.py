"""Unit tests for the driver-local softmax solver and the
window-free ranked top-k."""

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from sfa_spark.ml import linear
from sfa_spark.operators.topk import ranked_top_k


def test_softmax_separable_converges():
    rng = np.random.RandomState(7)
    X = np.vstack([rng.randn(40, 5) + 4 * off for off in (-1, 0, 1)])
    y = np.repeat([0, 1, 2], 40)
    m = linear.fit_softmax(X, y, 3, lam=1e-4)
    assert (m.predict_idx(X) == y).mean() == 1.0
    p = m.predict_proba(X)
    assert np.allclose(p.sum(axis=1), 1.0)
    assert p[np.arange(len(y)), y].min() > 0.5


def test_softmax_l2_shrinks_weights():
    rng = np.random.RandomState(0)
    X = rng.randn(30, 4)
    y = (X[:, 0] > 0).astype(int)
    w_small = linear.fit_softmax(X, y, 2, lam=1e-6).W
    w_big = linear.fit_softmax(X, y, 2, lam=10.0).W
    assert np.abs(w_big).sum() < np.abs(w_small).sum()


def test_softmax_matches_reference_gradient():
    """Finite-difference check of the objective/gradient pair."""
    rng = np.random.RandomState(3)
    X, k, d = rng.randn(12, 6), 3, 6
    y = rng.randint(0, k, 12)
    Y = np.zeros((12, k))
    Y[np.arange(12), y] = 1.0
    theta = rng.randn(k * d + k) * 0.1
    f0, g = linear._fun_grad(theta, X, Y, 0.5, k, d)
    eps = 1e-6
    for i in rng.choice(len(theta), 5, replace=False):
        t = theta.copy()
        t[i] += eps
        f1, _ = linear._fun_grad(t, X, Y, 0.5, k, d)
        assert abs((f1 - f0) / eps - g[i]) < 1e-4


def _random_coo(rng, n, d, nnz):
    idx = rng.choice(n * d, size=nnz, replace=False)
    ri, ci = idx // d, idx % d
    v = rng.randn(nnz)
    return linear.CooRows(ri, ci, v, (n, d))


def test_coo_matvecs_match_dense():
    rng = np.random.RandomState(11)
    Xs = _random_coo(rng, 50, 20, 300)
    Xd = Xs.toarray()
    W = rng.randn(3, 20)
    G = rng.randn(50, 3)
    assert np.allclose(Xs.dot_wt(W), Xd @ W.T)
    assert np.allclose(Xs.gt_dot(G), G.T @ Xd)
    mask = rng.rand(50) > 0.4
    assert np.allclose(Xs[mask].toarray(), Xd[mask])


def test_fit_softmax_sparse_matches_dense():
    """The CooRows path must reproduce the dense solve (same objective,
    same matvec results up to float summation order)."""
    rng = np.random.RandomState(5)
    Xs = _random_coo(rng, 90, 30, 600)
    Xd = Xs.toarray()
    y = rng.randint(0, 3, 90)
    md = linear.fit_softmax(Xd, y, 3, lam=0.01)
    ms = linear.fit_softmax(Xs, y, 3, lam=0.01)
    assert (md.predict_idx(Xd) == ms.predict_idx(Xs)).all()
    assert np.allclose(md.W, ms.W, atol=1e-5)
    assert np.allclose(md.b, ms.b, atol=1e-5)


def test_fit_softmax_sparse_at_scale():
    """10⁵ series × 3000 vocab (dense would be 2.4 GB — over the
    driver budget) fits through the sparse path: memory ∝ nnz."""
    rng = np.random.RandomState(1)
    n, d, nnz = 100_000, 3000, 400_000
    assert n * d * 8 > linear.DENSE_BUDGET_BYTES
    ri = rng.randint(0, n, nnz)
    ci = rng.randint(0, d, nnz)
    # aggregate colliding (row, col) pairs — CooRows requires unique
    # keys (real bag featurizations arrive pre-aggregated)
    key, first = np.unique(ri.astype(np.int64) * d + ci, return_index=True)
    ri, ci = ri[first], ci[first]
    y = rng.randint(0, 4, n)
    # label-correlated signal so the fit does something
    v = rng.rand(len(ri)) + (ci % 4 == y[ri]) * 2.0
    Xs = linear.CooRows(ri, ci, v, (n, d))
    m = linear.fit_softmax(Xs, y, 4, lam=0.1, max_iter=5)
    assert m.W.shape == (4, d)
    acc = (m.predict_idx(Xs) == y).mean()
    assert acc > 0.3  # beats the 0.25 uniform-guess floor


def test_tron_tight_eps_reaches_optimum():
    """With a tight eps the TRON port must land at the true optimum of
    the liblinear L2R_LR primal (gradient ≈ 0) — validates the
    fun/grad/Hv plumbing independent of the loose-eps parity mode."""
    rng = np.random.RandomState(3)
    X = rng.randn(60, 8)
    y = (X[:, 0] - X[:, 1] + 0.3 * rng.randn(60) > 0).astype(int)
    m = linear.fit_ovr_lr(X, y, 2, C=1.0, eps=1e-10, max_iter=5000)
    fo = linear._L2rLrFun(X, np.where(y == 0, 1.0, -1.0), 1.0, 1.0)
    theta = np.concatenate([m.W[0], [m.b[0]]])
    fo.fun(theta)
    assert np.linalg.norm(fo.grad(theta)) < 1e-6


def test_tron_loose_eps_stops_at_liblinear_rule():
    """With eps=0.1 (liblinear's literal setting,
    WEASELClassifier.java:34) TRON must stop at
    ‖g‖ ≤ eps·max(min(pos,neg),1)/l·‖g(0)‖, genuinely short of the
    optimum. The production default is the tight optimum (see
    fit_ovr_lr's convergence note); this pins the opt-in loose rule."""
    rng = np.random.RandomState(4)
    X = rng.randn(80, 10)
    y = (X[:, 0] > 0).astype(int)
    ysign = np.where(y == 0, 1.0, -1.0)
    m = linear.fit_ovr_lr(X, y, 2, C=1.0, eps=0.1)
    fo = linear._L2rLrFun(X, ysign, 1.0, 1.0)
    fo.fun(np.zeros(11))
    gnorm0 = np.linalg.norm(fo.grad(np.zeros(11)))
    pos = int((ysign > 0).sum())
    tol = 0.1 * max(min(pos, 80 - pos), 1) / 80 * gnorm0
    theta = np.concatenate([m.W[0], [m.b[0]]])
    fo.fun(theta)
    gn = np.linalg.norm(fo.grad(theta))
    assert gn <= tol
    # and it genuinely stops early: the loose solution is NOT optimal
    m_tight = linear.fit_ovr_lr(X, y, 2, C=1.0, eps=1e-10, max_iter=5000)
    assert not np.allclose(m.W[0], m_tight.W[0], atol=1e-6)


def test_ovr_lr_binary_mirror_and_probs():
    """k=2 trains ONE binary like liblinear's nr_class==2 branch and
    mirrors the weights; probabilities are per-class sigmoids
    normalized (Linear.predictProbability), summing to 1."""
    rng = np.random.RandomState(6)
    X = rng.randn(50, 5)
    y = (X[:, 2] > 0).astype(int)
    m = linear.fit_ovr_lr(X, y, 2, C=1.0)
    assert np.allclose(m.W[1], -m.W[0]) and np.isclose(m.b[1], -m.b[0])
    p = m.predict_proba(X)
    assert np.allclose(p.sum(axis=1), 1.0)
    y3 = rng.randint(0, 3, 50)
    p3 = linear.fit_ovr_lr(X, y3, 3, C=1.0).predict_proba(X)
    assert np.allclose(p3.sum(axis=1), 1.0)


def test_ovr_lr_sparse_matches_dense():
    rng = np.random.RandomState(9)
    Xs = _random_coo(rng, 70, 25, 500)
    Xd = Xs.toarray()
    y = rng.randint(0, 2, 70)
    ms = linear.fit_ovr_lr(Xs, y, 2, C=1.0)
    md = linear.fit_ovr_lr(Xd, y, 2, C=1.0)
    assert np.allclose(ms.W, md.W, atol=1e-8)
    assert np.allclose(ms.b, md.b, atol=1e-8)


def test_ranked_top_k_matches_window_rank(spark):
    rng = np.random.RandomState(1)
    rows = [
        (int(i), float(v))
        for i, v in enumerate(rng.randint(0, 50, size=200).astype(float))
    ]
    df = spark.createDataFrame(rows, "id bigint, v double")
    got = {
        (r["id"], r["rk"])
        for r in ranked_top_k(df, [("v", True), ("id", False)], 10).collect()
    }
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("v").desc(), F.col("id").asc())
    want = {
        (r["id"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 10)
        .collect()
    }
    assert got == want


def test_ranked_top_k_fewer_rows_than_k(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 9.0)], "id bigint, v double")
    got = sorted(
        (r["rk"], r["id"])
        for r in ranked_top_k(df, [("v", True), ("id", False)], 10).collect()
    )
    assert got == [(1, 2), (2, 1)]

def test_ranked_top_k_single_pass_plan(spark, plan_node_names):
    """r9: the rank attach must consume the top-k limit output exactly
    once — one TakeOrderedAndProject, one source scan, and the window
    sits above the limit (bounded by k rows), so the upstream pipeline
    is never replayed for a second rank-join reference and no cache
    entry is created (a persist here leaked warm final answers across
    a harness's repeated runs of the same query)."""
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 37).cast("double").alias("v")
    )
    out = ranked_top_k(df, [("v", True), ("id", False)], 10)
    out.collect()
    names = plan_node_names(out)
    assert names["TakeOrderedAndProjectExec"] == 1, names
    assert names["RangeExec"] == 1, names
    assert names["WindowExec"] >= 1, names
    assert "InMemoryTableScanExec" not in names, names
