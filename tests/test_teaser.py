"""TEASER golden-style test: accuracy floor + meaningful earliness on
seeded CBF (reference asserts accuracy AND earliness, e.g. CBF
1.0/0.982/0.64)."""

from pyspark.sql import functions as F

from sfa_spark.ml import teaser_weasel as TW
from sfa_spark.sources.cbf import cbf_dataset


def test_teaser_cbf_accuracy_and_earliness(spark):
    tr_a, tr_l = cbf_dataset(spark, n_per_class=8, seed=5)
    te_a, te_l = cbf_dataset(spark, n_per_class=10, seed=6, id_offset=500)
    model = TW.teaser_weasel_fit(
        tr_a.cache(), tr_l.cache(), s_total=4,
        weasel_kw=dict(n_folds=3, max_iter=15, max_windows=32),
    )
    dec = TW.teaser_weasel_predict(model, te_a.cache()).cache()
    joined = dec.join(te_l, "series_id")
    acc = joined.agg(
        F.avg((F.col("pred_label") == F.col("label")).cast("double"))
    ).collect()[0][0]
    earliness = joined.agg(F.avg("earliness")).collect()[0][0]
    assert dec.count() == 30  # one decision per test series
    assert acc >= 0.6, f"TEASER CBF accuracy {acc}"
    assert 0.0 < earliness <= 1.0
    # at least some series decide before the full length
    early = dec.where(F.col("earliness") < 0.99).count()
    assert early > 0, "no early decisions at all"


def test_mteaser_multivariate(spark):
    import numpy as np

    from sfa_spark.ml.teaser import mteaser_fit, mteaser_predict

    rng = np.random.default_rng(13)
    rows, labels = [], []
    for i in range(28):
        label = float(i % 2)
        t = np.linspace(0, 6 * np.pi, 64)
        d0 = rng.normal(0, 1, 64)
        d1 = np.sin(t * (4 if label else 1)) + rng.normal(0, 0.2, 64)
        rows += [(i, 0, d0.tolist()), (i, 1, d1.tolist())]
        labels.append((i, label))
    arrays = spark.createDataFrame(rows, "series_id long, dim int, values array<double>").cache()
    lab = spark.createDataFrame(labels, "series_id long, label double").cache()
    tr = lab.where("series_id < 20")
    tr_a = arrays.join(tr.select("series_id"), "series_id")
    te_a = arrays.join(lab.where("series_id >= 20").select("series_id"), "series_id")

    model = mteaser_fit(tr_a, tr, n_snapshots=3, window=16, word_length=4)
    dec = mteaser_predict(model, te_a).cache()
    joined = dec.join(lab, "series_id")
    from pyspark.sql import functions as F

    acc = joined.agg(F.avg((F.col("pred_label") == F.col("label")).cast("double"))).collect()[0][0]
    assert dec.count() == 8
    assert acc >= 0.6, f"MTEASER accuracy {acc}"
