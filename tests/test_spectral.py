"""Spectral properties — mirrors the reference's MFTTest
(windowed MFT ≡ per-window DFT; DFT distance lower-bounds ED) and
SFAWordsTest/SFAWordsWindowingTest invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sfa_spark.functions import spectral
from sfa_spark.ml import grid
from sfa_spark.operators import sfa
from sfa_spark.sources.synthetic import random_walk
from sfa_spark.sources.events import series_to_arrays


def _ref_window_dft(win, l, lower_bounding=True, norm_mean=False, std_norm=True):
    """Straight per-window rfft with the reference conventions."""
    w = len(win)
    spec = np.fft.rfft(win)
    start = 1 if norm_mean else 0
    ks = np.arange(start, start + (l + 1) // 2)
    ks = ks[ks < len(spec)]
    vals = np.zeros(l)
    inter = np.empty(2 * len(ks))
    inter[0::2] = spec[ks].real
    inter[1::2] = -spec[ks].imag
    vals[: len(inter)] = inter[:l]
    norm = 1 / np.sqrt(w) if lower_bounding else 1.0
    if std_norm:
        s = win.std()
        norm *= 1 / s if s > 0 else 1.0
    return vals * norm


@pytest.mark.parametrize("method", ["fft", "recurrence"])
def test_mft_windows_equal_per_window_dft(method):
    rng = np.random.default_rng(5)
    x = rng.normal(0, 1, 200)
    w, l = 32, 8
    out = spectral.mft_all_windows(x, w, l, norm_mean=True, method=method)
    assert out.shape == (200 - 32 + 1, l)
    for t in [0, 1, 50, 168]:
        ref = _ref_window_dft(x[t : t + w], l, norm_mean=True)
        assert np.allclose(out[t], ref, atol=1e-8), f"window {t} ({method})"


def test_mft_recurrence_matches_fft_method():
    rng = np.random.default_rng(6)
    x = rng.normal(0, 1, 500)
    a = spectral.mft_all_windows(x, 64, 12, method="fft")
    b = spectral.mft_all_windows(x, 64, 12, method="recurrence")
    assert np.allclose(a, b, atol=1e-7)


def test_mft_odd_window_packed_tail_at_p_equals_w():
    """Odd w with l + offset == w reaches the packed kstar pair once the
    reference evenizes wordLength (w → w+1), so slot w−1 must carry the
    recurrence-mutated Re[kstar] for t ≥ 1 — not the true per-window
    DFT value (ADVICE r3: condition is P >= w, not P >= w+1)."""
    rng = np.random.default_rng(11)
    w, l = 15, 15  # norm_mean=False → offset 0, P = 15 == w
    x = rng.normal(0, 1, 40)
    out = spectral.mft_all_windows(
        x, w, l, norm_mean=False, apply_z_norm=False, method="fft"
    )
    kstar = (w - 1) // 2
    phi = np.exp(2j * np.pi * kstar / w)
    X = complex(np.fft.rfft(x[:w])[kstar].real, 0.0)  # half-fake (Re, 0)
    norm = 1.0 / np.sqrt(w)
    assert np.isclose(out[0, 2 * kstar], X.real * norm)
    for t in range(1, len(out)):
        X = phi * (X + (x[t + w - 1] - x[t - 1]))  # reference recurrence
        assert np.isclose(out[t, 2 * kstar], X.real * norm), t
        true_re = np.fft.rfft(x[t : t + w])[kstar].real * norm
        if t == 3:  # generically differs from the true coefficient
            assert not np.isclose(out[t, 2 * kstar], true_re)


def test_dft_distance_lower_bounds_euclidean():
    """Parseval: 2·Σ|ΔX_k|²/N over kept coefficients ≤ Σ(a−b)²
    for z-normalized series (reference MFTTest.testMFTLowerBound)."""
    rng = np.random.default_rng(7)
    for _ in range(10):
        a = rng.normal(0, 1, 64)
        b = rng.normal(0, 1, 64)
        a = (a - a.mean()) / a.std()
        b = (b - b.mean()) / b.std()
        ed2 = ((a - b) ** 2).sum()
        for l in (4, 8, 16):
            da = spectral.dft_values(a, l, pad_pow2=True)
            db = spectral.dft_values(b, l, pad_pow2=True)
            lb = 2 * ((da - db) ** 2).sum()
            assert lb <= ed2 + 1e-9


def test_dft_spark_matches_numpy(spark):
    rng = np.random.default_rng(8)
    data = [(i, rng.normal(0, 1, 32).tolist()) for i in range(5)]
    df = spark.createDataFrame(data, "series_id long, values array<double>")
    got = {r["series_id"]: np.array(r["coefs"]) for r in spectral.dft(df, 8).collect()}
    for sid, vals in data:
        assert np.allclose(got[sid], spectral.dft_values(np.array(vals), 8), atol=1e-12)


@pytest.fixture(scope="module")
def walk_arrays(spark):
    return series_to_arrays(random_walk(spark, n_series=8, length=96, seed=13)).cache()


def test_sfa_words_invariants(spark, walk_arrays):
    w, l, a = 24, 6, 4
    model = sfa.fit(walk_arrays, window=w, word_length=l, alphabet=a,
                    histogram="equi_depth", norm_mean=True)
    bins = {s: b.tolist() for s, b in model.bin_arrays.items()}
    assert set(bins) == set(range(l))
    for bs in bins.values():
        assert len(bs) == a - 1
        assert bs == sorted(bs)  # monotone boundaries (SFAWordsTest)
    wd = sfa.transform_windowing(model, walk_arrays)
    cnt = wd.groupBy("series_id").count().collect()
    assert all(r["count"] == 96 - w + 1 for r in cnt)  # n-w+1 windows
    max_word = wd.agg(F.max("word")).collect()[0][0]
    assert max_word < (1 << (2 * l))  # symbols within alphabet bits


def test_sfa_model_save_load_roundtrip(spark, walk_arrays, tmp_path):
    model = sfa.fit(walk_arrays, window=16, word_length=4, alphabet=4)
    words1 = sfa.transform_windowing(model, walk_arrays).orderBy("series_id", "win")
    model.save(str(tmp_path / "m"))
    model2 = sfa.SFAModel.load(str(tmp_path / "m"))
    words2 = sfa.transform_windowing(model2, walk_arrays).orderBy("series_id", "win")
    assert [r["word"] for r in words1.collect()] == [r["word"] for r in words2.collect()]


def test_sfa_supervised_prefers_separating_coefficient(spark):
    # two classes differing in low-frequency content
    rng = np.random.default_rng(9)
    rows, labels = [], []
    for i in range(20):
        t = np.linspace(0, 4 * np.pi, 64)
        label = float(i % 2)
        sig = np.sin(t) * (3.0 if label else 0.3) + rng.normal(0, 0.2, 64)
        rows.append((i, sig.tolist()))
        labels.append((i, label))
    arrays = spark.createDataFrame(rows, "series_id long, values array<double>")
    lab = spark.createDataFrame(labels, "series_id long, label double")
    model = grid.fit_supervised_sfa(
        arrays, lab, [(False, 64)], 4, 4, lower_bounding=True
    )[(False, 64)]
    assert model.best_segs is not None and len(model.best_segs) == 4
    wd = sfa.transform_windowing(model, arrays)
    assert wd.count() == 20  # one window per series (n == w)


def test_variable_length_series_words(spark):
    """Reference SFAWordsVariableLengthTest: series of different lengths
    all transform; window count = n-w+1 per series; too-short dropped."""
    import numpy as np

    rng = np.random.default_rng(43)
    lengths = [40, 56, 64, 30, 10]  # 10 < w → dropped
    data = [(i, rng.normal(0, 1, n).tolist()) for i, n in enumerate(lengths)]
    arrays = spark.createDataFrame(data, "series_id long, values array<double>")
    w = 16
    usable = arrays.where(F.size("values") >= w)
    model = sfa.fit(usable, window=w, word_length=4, alphabet=4)
    words = sfa.transform_windowing(model, usable)
    counts = {r["series_id"]: r["count"] for r in words.groupBy("series_id").count().collect()}
    assert counts == {0: 25, 1: 41, 2: 49, 3: 15}


def _bins_frame(spark, model):
    """The model's bin arrays as a (seg, bins) table for
    quantize_with_bins, built from pandas (a local relation)."""
    import pandas as pd

    b = model.bin_arrays
    return spark.createDataFrame(
        pd.DataFrame({"seg": list(b), "bins": list(b.values())}),
        "seg int, bins array<double>",
    )


def _long_form_words(model, arrays):
    """The pre-fusion composition, kept as the reference for the fused
    transform: mft_sliding → coefs_to_long → rank remap → broadcast
    quantize_with_bins → pack_words."""
    from sfa_spark.operators import quantize, words

    coefs = spectral.mft_sliding(
        arrays,
        w=model.window,
        l=model.fit_l if model.best_segs else model.word_length,
        norm_mean=model.norm_mean,
        lower_bounding=model.lower_bounding,
    )
    long = spectral.coefs_to_long(coefs)
    if model.best_segs is not None:
        seg_rank = arrays.sparkSession.createDataFrame(
            [(s, i) for i, s in enumerate(model.best_segs)], "seg int, rank int"
        )
        long = (
            long.join(F.broadcast(seg_rank), "seg")
            .drop("seg")
            .withColumnRenamed("rank", "seg")
        )
    sym = quantize.quantize_with_bins(long, _bins_frame(arrays.sparkSession, model))
    return words.pack_words(
        sym.select("series_id", "win", "seg", "symbol"), model.alphabet
    )


@pytest.fixture(scope="module")
def ragged_arrays(spark):
    """Random walks of variable length (one shorter than every window
    below), plus a copy of one walk with a NaN in the middle."""
    rng = np.random.default_rng(17)
    rows = [
        (i, np.cumsum(rng.normal(0, 1, n)).tolist())
        for i, n in enumerate([64, 40, 57, 33, 90, 48, 71, 36, 5])
    ]
    nan_walk = list(rows[0][1])
    nan_walk[30] = float("nan")
    rows.append((99, nan_walk))
    return spark.createDataFrame(rows, "series_id long, values array<double>")


def _fit_case(ragged_arrays, case):
    clean = ragged_arrays.where(
        (F.col("series_id") != 99) & (F.size("values") >= 16)
    )
    if case == "equi_depth":
        return sfa.fit(clean, window=12, word_length=6, alphabet=4,
                       histogram="equi_depth")
    if case == "equi_width_norm_mean":
        return sfa.fit(clean, window=16, word_length=8, alphabet=8,
                       histogram="equi_width", norm_mean=True)
    if case == "odd_window_kstar":  # l + offset >= w → packed kstar pair
        return sfa.fit(clean, window=7, word_length=8, alphabet=4,
                       histogram="equi_depth")
    labels = clean.select(
        "series_id", (F.col("series_id") % 2).cast("double").alias("label")
    )
    return grid.fit_supervised_sfa(
        clean, labels, [(False, 12)], 4, 4, lower_bounding=True
    )[(False, 12)]


@pytest.mark.parametrize(
    "case", ["equi_depth", "equi_width_norm_mean", "odd_window_kstar", "supervised_ig"]
)
def test_fused_transform_windowing_matches_long_form(
    spark, ragged_arrays, plan_node_names, case
):
    model = _fit_case(ragged_arrays, case)
    fused = sfa.transform_windowing(model, ragged_arrays)
    got = sorted(tuple(r) for r in fused.collect())
    want = sorted(tuple(r) for r in _long_form_words(model, ragged_arrays).collect())
    assert got == want
    assert [f.dataType.simpleString() for f in fused.schema.fields[1:]] == [
        "bigint", "bigint"
    ]
    # every series has words: the 5-point walk as one zero-padded window
    assert {r[0] for r in got} == set(range(9)) | {99}
    names = plan_node_names(fused)
    assert "ShuffleExchangeExec" not in names, names
    assert "ArrowEvalPythonExec" in names


def test_equi_width_constant_coefficient_matches_quantize(spark):
    """DFT value 1 (the imaginary part of the mean term) is 0 in every
    window, so its equi-width orderline is constant. sfa.fit bins it as
    quantize.fit_equi_width_bins does: every boundary equals the value,
    which quantizes to the top symbol (the reference's
    `value < bins[c]` scan falls through every boundary)."""
    from sfa_spark.operators import quantize
    from sfa_spark.operators import words as WD

    rng = np.random.default_rng(5)
    arrays = spark.createDataFrame(
        [(i, np.cumsum(rng.normal(0, 1, 48)).tolist()) for i in range(6)],
        "series_id long, values array<double>",
    )
    A, w, l = 4, 16, 4
    model = sfa.fit(arrays, window=w, word_length=l, alphabet=A,
                    histogram="equi_width")
    long = spectral.coefs_to_long(
        sfa._disjoint_window_coefs(arrays, w, l, False, True)
    ).withColumn("coef", F.round("coef", 2))
    helper = quantize.fit_equi_width_bins(long, A)
    want = {r["seg"]: list(r["bins"]) for r in helper.collect()}
    got = {s: list(b) for s, b in model.bin_arrays.items()}
    assert got == want
    assert got[1] == [0.0] * (A - 1)

    bits = WD.binlog(A)
    words = sfa.transform_windowing(model, arrays).collect()
    assert words
    assert {(r["word"] >> bits) & ((1 << bits) - 1) for r in words} == {A - 1}
    sym = quantize.quantize_with_bins(long.where("seg = 1"), helper)
    assert {r["symbol"] for r in sym.collect()} == {A - 1}


def _long_form_whole(model, arrays):
    """The long-form whole-series composition: dft → coefs_to_long →
    quantize_with_bins, regathered per series in seg order."""
    from sfa_spark.operators import quantize

    long = quantize.quantize_with_bins(
        spectral.coefs_to_long(spectral.dft(arrays, model.word_length)),
        _bins_frame(arrays.sparkSession, model),
    )
    return long.groupBy("series_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("seg", "coef"))), lambda s: s["coef"]
        ).alias("dft"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("seg", "symbol"))), lambda s: s["symbol"]
        ).alias("syms"),
    )


@pytest.mark.parametrize("histogram", ["equi_width", "equi_depth"])
def test_transform_whole_matches_long_form(spark, plan_node_names, histogram):
    """Row for row, the whole-series transform (whole_dft, then
    symbols) gives a dft bit-equal and syms equal to the long form's, on random walks of length 64, lengths 50
    and 37 (zero-padded to 64), a constant series and a series with a
    NaN value (null DFT values, symbol 0 in both)."""
    rng = np.random.default_rng(11)
    rows = [(i, np.cumsum(rng.normal(0, 1, 64)).tolist()) for i in range(20)]
    rows += [
        (50, np.cumsum(rng.normal(0, 1, 50)).tolist()),
        (37, np.cumsum(rng.normal(0, 1, 37)).tolist()),
        (60, [2.5] * 64),
        (70, [1.0, float("nan")] + np.cumsum(rng.normal(0, 1, 62)).tolist()),
    ]
    arrays = spark.createDataFrame(rows, "series_id long, values array<double>")
    dfts = sfa.whole_dft(arrays, 8)
    model = sfa.fit_whole(dfts, word_length=8, alphabet=8, histogram=histogram)
    fused = dfts.withColumn("syms", F.array(*sfa.symbols(model, "dft")))
    assert fused.columns == ["series_id", "values", "dft", "syms"]
    assert [f.dataType.simpleString() for f in fused.schema.fields[2:]] == [
        "array<double>", "array<int>"
    ]

    def bits(r):
        return (
            [None if v is None else v.hex() for v in r["dft"]],
            list(r["syms"]),
        )

    got = {r["series_id"]: bits(r) for r in fused.collect()}
    want = {r["series_id"]: bits(r) for r in _long_form_whole(model, arrays).collect()}
    assert got == want
    assert set(got) == {r[0] for r in rows}
    assert all(len(d) == 8 for d, _ in got.values())
    # the DC term is dropped, so a constant series has an all-zero DFT
    assert all(float.fromhex(h) == 0.0 for h in got[60][0])
    assert got[70] == ([None] * 8, [0] * 8)
    names = plan_node_names(fused)
    assert "ShuffleExchangeExec" not in names, names
    assert not {n for n in names if "Join" in n or "Aggregate" in n}, names
    assert "ArrowEvalPythonExec" in names

