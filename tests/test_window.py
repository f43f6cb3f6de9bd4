"""Windowing invariants (mirrors reference SFAWordsWindowingTest-style
checks: window counts, per-window normalization properties)."""

import math

import pytest
from pyspark.sql import functions as F

from sfa_spark.operators import window
from sfa_spark.sources.synthetic import random_walk


@pytest.fixture(scope="module")
def walks(spark):
    return random_walk(spark, n_series=5, length=64, seed=7).cache()


def test_znorm_mean_zero_std_one(spark, walks):
    z = window.znorm(walks)
    stats = (
        z.groupBy("series_id")
        .agg(F.avg("value_z").alias("m"), F.stddev_pop("value_z").alias("s"))
        .collect()
    )
    for r in stats:
        assert abs(r["m"]) < 1e-9
        assert abs(r["s"] - 1.0) < 1e-9


def test_sliding_window_count(spark, walks):
    w = 16
    sw = window.sliding_long(walks, w)
    counts = sw.groupBy("series_id").agg(
        F.countDistinct("win").alias("nw"), F.max("n").alias("n")
    )
    for r in counts.collect():
        assert r["nw"] == r["n"] - w + 1  # n-w+1 windows, reference invariant


def test_sliding_window_offsets_complete(spark, walks):
    w = 8
    sw = window.sliding_long(walks, w)
    per_win = sw.groupBy("series_id", "win").agg(
        F.count(F.lit(1)).alias("c"),
        F.min("off").alias("lo"),
        F.max("off").alias("hi"),
    )
    bad = per_win.where(
        (F.col("c") != w) | (F.col("lo") != 0) | (F.col("hi") != w - 1)
    ).count()
    assert bad == 0


def test_disjoint_drops_partial_tail(spark):
    walks = random_walk(spark, n_series=2, length=37, seed=3)
    d = window.disjoint_long(walks, 16)
    assert d.groupBy("series_id").count().collect()[0]["count"] == 32  # 2 windows
    assert d.agg(F.max("win")).collect()[0][0] == 1


def test_window_znorm_normalizes_each_window(spark, walks):
    sw = window.window_znorm(window.sliding_long(walks, 16))
    stats = sw.groupBy("series_id", "win").agg(
        F.avg("value_z").alias("m"), F.stddev_pop("value_z").alias("s")
    )
    rows = stats.collect()
    assert all(abs(r["m"]) < 1e-9 for r in rows)
    assert all(abs(r["s"] - 1.0) < 1e-9 or r["s"] == 0.0 for r in rows)


def test_rolling_stats_match_python(spark):
    walks = random_walk(spark, n_series=1, length=32, seed=11)
    vals = [r["value"] for r in walks.orderBy("pos").collect()]
    w = 8
    rs = window.rolling_stats(walks, w).where("valid_start").orderBy("pos").collect()
    for r in rs:
        seg = vals[r["pos"] : r["pos"] + w]
        m = sum(seg) / w
        s = math.sqrt(sum((x - m) ** 2 for x in seg) / w)
        assert abs(r["r_mean"] - m) < 1e-9
        assert abs(r["r_std"] - s) < 1e-9


def test_constant_series_flagship_chain(spark):
    """All-constant series: znorm guard (std 0 → 1) keeps the chain
    NaN-free; all windows quantize to symbol 0 → one word after
    numerosity reduction."""
    from sfa_spark.operators import bags, quantize, words

    const = spark.createDataFrame(
        [(1, p, 5.0, 40) for p in range(40)],
        "series_id long, pos long, value double, n long",
    )
    sw = window.window_znorm(window.sliding_long(const, 16))
    coef = words.paa_long(sw, 16, 4)
    assert coef.where("isnan(coef)").count() == 0
    sym = quantize.equi_width_symbols(coef, 4)
    wd = words.pack_words(sym.select("series_id", "win", "seg", "symbol"), 4)
    bag = bags.bag_of_words(bags.numerosity_reduce(wd))
    rows = bag.collect()
    assert len(rows) == 1 and rows[0]["word"] == 0 and rows[0]["cnt"] == 1


def test_short_series_dropped_everywhere(spark):
    short = spark.createDataFrame(
        [(1, p, float(p), 5) for p in range(5)],
        "series_id long, pos long, value double, n long",
    )
    assert window.sliding_long(short, 16).count() == 0
    assert window.disjoint_long(short, 16).count() == 0


def test_coef_large_mean_stability(spark, tmp_path):
    """r9 (ADVICE): the coef combine must not lose precision
    to E[x²]−E[x]² cancellation. Values of magnitude 1e8 with
    unit-scale structure make the old form's S2/C − mean² lose ~all
    significant digits of the window variance (1e16·ulp ≈ O(1)); the
    centered Chan combine must still match an exact two-pass numpy
    z-norm/PAA reference to ~1e-7."""
    import numpy as np

    from sfa_spark import queries as Q

    rng = np.random.default_rng(7)
    n = 48
    vals = 1e8 + np.cumsum(rng.normal(0.0, 1.0, n))
    rows = [(1, int(i), int(i), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, value double"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    W, L = Q.W, Q.L
    seg_len = W // L
    ref = {}
    for win in range(n - W + 1):
        w = vals[win : win + W]
        mean, std = w.mean(), w.std()
        if std < 1e-8:
            std = 1.0
        for seg in range(L):
            seg_mean = w[seg * seg_len : (seg + 1) * seg_len].mean()
            ref[(1, win, seg)] = (seg_mean - mean) / std
    got = {
        (r["series_id"], r["win"], r["seg"]): r["coef"]
        for r in Q.coef_df(spark, sf).collect()
    }
    assert got.keys() == ref.keys()
    for k, v in ref.items():
        assert got[k] == pytest.approx(v, abs=5e-7), k


def test_asof_join_semantics(spark):
    """Hand-checkable as-of: inclusive ties, latest-preceding pick,
    left-outer nulls, per-entity isolation."""
    from sfa_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "uid long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 6, 60.0), (1, 10, 100.0), (1, 15, 150.0), (2, 11, 110.0)],
        "uid long, t long, v double",
    )
    out = {
        (r["uid"], r["t"]): (r["v"], r["t_right"])
        for r in asof_join(left, right, by="uid", on="t", right_cols=["v"]).collect()
    }
    assert out[(1, 10)] == (100.0, 10)   # inclusive tie
    assert out[(1, 20)] == (150.0, 15)   # latest preceding
    assert out[(1, 5)] == (None, None)   # nothing precedes
    assert out[(2, 10)] == (None, None)  # other entity's rows invisible
    assert len(out) == 4


def test_asof_join_plan_single_exchange(spark):
    """Scale contract: the union-sort-fill as-of plans ONE shuffle on
    the entity key — no join operator, no range-explosion."""
    from sfa_spark.operators.temporal import asof_join

    left = spark.range(100).select(
        (F.col("id") % 5).alias("uid"), F.col("id").alias("t")
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("uid"), (F.col("id") * 2).alias("t"),
        F.rand(7).alias("v"),
    )
    out = asof_join(left, right, by="uid", on="t", right_cols=["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan


def test_interval_join_semantics_and_plan(spark):
    """Bucketized range join: exact BETWEEN semantics (boundaries
    inclusive, overlapping intervals multiply, cross-entity isolated)
    with NO nested-loop join in the plan — equi-join on (by, bucket)
    plus residual filter, each pair emitted exactly once even when an
    interval spans many buckets."""
    from sfa_spark.operators.temporal import interval_join

    ev = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 20), (3, 1, 100), (4, 2, 20)],
        "eid long, uid long, t long",
    )
    iv = spark.createDataFrame(
        # second interval spans many buckets at width 8; two intervals
        # overlap t=20
        [(100, 1, 10, 20), (101, 1, 15, 95), (102, 2, 0, 50)],
        "iid long, uid long, s long, e long",
    )
    out = interval_join(ev, iv, by="uid", t="t", start="s", end="e", bucket_width=8)
    got = sorted((r["eid"], r["iid"]) for r in out.collect())
    assert got == [(1, 100), (2, 100), (2, 101), (4, 102)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_funnel_order_and_ties(spark):
    """Greedy ordered funnel: out-of-order steps don't count, repeat
    occurrences pick the earliest valid one, same-instant chains
    complete (inclusive >=), depth per entity = completed prefix."""
    from sfa_spark.operators.temporal import funnel

    rows = [
        # u1: full funnel, with a too-early click at t=1 (before signup)
        (1, 1, "click"), (1, 2, "signup"), (1, 5, "click"), (1, 9, "purchase"),
        # u2: purchase before click → depth 2 (signup, click) only
        (2, 1, "signup"), (2, 3, "purchase"), (2, 4, "click"),
        # u3: same-instant signup+click chain completes at t=7
        (3, 7, "signup"), (3, 7, "click"),
        # u4: never signs up
        (4, 2, "click"), (4, 3, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "uid long, t long, ty string")
    out = funnel(ev, by="uid", t="t", type_col="ty",
                 steps=["signup", "click", "purchase"])
    got = {(r["uid"], r["stage"]): r["step_ts"] for r in out.collect()}
    assert got == {
        (1, 1): 2, (1, 2): 5, (1, 3): 9,
        (2, 1): 1, (2, 2): 4,
        (3, 1): 7, (3, 2): 7,
    }
