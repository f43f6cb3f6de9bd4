"""SFA word packing, quantization, bags — invariants from the
reference's SFAWordsTest (symbols in range, bins monotonic, word
equality) and BOSS numerosity-reduction semantics."""

import pytest
from pyspark.sql import functions as F

from sfa_spark.operators import bags, quantize, words


def test_pack_unpack_roundtrip(spark):
    rows = [
        (1, 0, [0, 1, 2, 3]),
        (1, 1, [3, 3, 3, 3]),
        (2, 0, [0, 0, 0, 0]),
        (2, 1, [1, 0, 2, 0]),
    ]
    sym = spark.createDataFrame(
        [(s, w, i, v) for (s, w, syms) in rows for i, v in enumerate(syms)],
        "series_id long, win long, seg int, symbol int",
    )
    packed = words.pack_words(sym, alphabet=4)
    got = {
        (r["series_id"], r["win"]): r["syms"]
        for r in packed.select(
            "series_id", "win", words.unpack_word("word", 4, 4).alias("syms")
        ).collect()
    }
    for s, w, syms in rows:
        assert got[(s, w)] == syms


def test_mask_word_prefix(spark):
    sym = spark.createDataFrame(
        [(1, 0, i, v) for i, v in enumerate([1, 2, 3, 1])],
        "series_id long, win long, seg int, symbol int",
    )
    full = words.pack_words(sym, 4)
    masked = full.select(words.mask_word(F.col("word"), 2, 4).alias("w2")).collect()
    assert masked[0]["w2"] == 1 | (2 << 2)  # first two symbols only


def test_equi_width_symbols_range_and_monotone(spark):
    import random

    random.seed(0)
    data = [(i // 50, i % 50, 0, random.gauss(0, 1)) for i in range(200)]
    df = spark.createDataFrame(data, "series_id long, win long, seg int, coef double")
    sym = quantize.equi_width_symbols(df, alphabet=8)
    rows = sym.collect()
    assert all(0 <= r["symbol"] <= 7 for r in rows)
    ordered = sorted(rows, key=lambda r: r["coef"])
    syms = [r["symbol"] for r in ordered]
    assert syms == sorted(syms)  # symbol monotone in value
    assert syms[0] == 0 and syms[-1] == 7


def test_quantize_with_bins_matches_searchsorted(spark):
    import numpy as np

    vals = np.linspace(-2, 2, 41)
    df = spark.createDataFrame(
        [(0, int(i), 0, float(v)) for i, v in enumerate(vals)],
        "series_id long, win long, seg int, coef double",
    )
    bins = spark.createDataFrame([(0, [-1.0, 0.0, 1.0])], "seg int, bins array<double>")
    sym = quantize.quantize_with_bins(df, bins).collect()
    for r in sym:
        assert r["symbol"] == int(np.searchsorted([-1.0, 0.0, 1.0], r["coef"], side="right"))


def test_numerosity_reduction(spark):
    seq = [5, 5, 5, 7, 7, 5, 9, 9, 9, 9]
    df = spark.createDataFrame(
        [(1, i, w) for i, w in enumerate(seq)], "series_id long, win long, word long"
    )
    kept = [r["word"] for r in bags.numerosity_reduce(df).orderBy("win").collect()]
    assert kept == [5, 7, 5, 9]  # adjacent repeats dropped, re-occurrence kept


def test_bag_counts(spark):
    df = spark.createDataFrame(
        [(1, i, w) for i, w in enumerate([5, 7, 5, 9, 5])],
        "series_id long, win long, word long",
    )
    bag = {r["word"]: r["cnt"] for r in bags.bag_of_words(df).collect()}
    assert bag == {5: 3, 7: 1, 9: 1}


def test_weasel_bigram_offset(spark):
    # windows 0..4 with word = win; bigram at win pairs word[win-w_len]
    df = spark.createDataFrame(
        [(1, i, 100 + i) for i in range(5)], "series_id long, win long, word long"
    )
    keys = bags.weasel_keys(df, window_length=2, bigrams=True)
    uni = {(100 + i) << 9 | 2 for i in range(5)}
    bi = {((100 + i) << 32) | ((100 + i + 2) << 9 | 2) for i in range(3)}
    got = {r["key"] for r in keys.collect()}
    assert got == uni | bi


def test_weasel_bigram_skips_zero_prev(spark):
    # reference WEASEL.java:166 guards prevWord != 0 — word 0 never
    # anchors a bigram
    df = spark.createDataFrame(
        [(1, 0, 0), (1, 1, 7), (1, 2, 8)], "series_id long, win long, word long"
    )
    keys = bags.weasel_keys(df, window_length=1, bigrams=True)
    uni = {0 << 9 | 1, 7 << 9 | 1, 8 << 9 | 1}
    bi = {(7 << 32) | (8 << 9 | 1)}  # 0->7 bigram suppressed
    assert {r["key"] for r in keys.collect()} == uni | bi


def test_ig_bins_separate_labels(spark):
    # two clearly separated label clusters → one split between them
    data = [(0, float(v), 0.0) for v in [1, 2, 3]] + [
        (0, float(v), 1.0) for v in [10, 11, 12]
    ]
    df = spark.createDataFrame(data, "seg int, coef double, label double")
    bins = quantize.fit_ig_bins(df, alphabet=4).collect()[0]["bins"]
    assert any(3 < b <= 10 for b in bins)
    assert bins == sorted(bins)


def test_approx_equi_depth_close_to_exact(spark):
    """The documented 100 TB mode: percentile_approx bins must land
    near the exact-percentile bins (and identical at tiny epsilon)."""
    import numpy as np

    from sfa_spark.operators import quantize

    rng = np.random.default_rng(51)
    df = spark.createDataFrame(
        [(0, int(i), 0, float(v)) for i, v in enumerate(rng.normal(0, 1, 4000))],
        "series_id long, win long, seg int, coef double",
    )
    exact = quantize.fit_equi_depth_bins(df, 8, relative_error=0.0).collect()[0]["bins"]
    approx = quantize.fit_equi_depth_bins(df, 8, relative_error=1e-4).collect()[0]["bins"]
    assert len(exact) == len(approx) == 7
    for e, a in zip(exact, approx):
        assert abs(e - a) < 0.05, (e, a)  # tight at eps=1e-4 on 4k samples


def test_weasel_key_array_matches_spark_key_bag(spark):
    """The numpy key builder + np.unique counts against weasel_keys +
    bag_of_keys over two window lengths. Words are drawn from 0..3 so
    zero prev words (suppressed bigrams) are frequent; series lengths
    n give n - w + 1 windows, from one window (n < w) through fewer
    than w + 1 windows (n < 2w: no bigram at all) to many."""
    import numpy as np

    rng = np.random.default_rng(29)
    windows = [12, 16]
    lengths = {1: 8, 2: 20, 3: 27, 4: 31, 5: 33, 6: 64, 7: 100}
    words_of = {
        (sid, w): rng.integers(0, 4, max(n - w + 1, 1)).astype(np.int64)
        for sid, n in lengths.items()
        for w in windows
    }
    parts = []
    for w in windows:
        df = spark.createDataFrame(
            [
                (sid, i, int(x))
                for sid in lengths
                for i, x in enumerate(words_of[(sid, w)])
            ],
            "series_id long, win long, word long",
        )
        parts.append(bags.weasel_keys(df, window_length=w, bigrams=True))
    want = {
        (r["series_id"], r["key"]): r["cnt"]
        for r in bags.bag_of_keys(parts[0].unionByName(parts[1])).collect()
    }
    got = {}
    for sid in lengths:
        keys = np.concatenate(
            [
                bags.weasel_key_array(words_of[(sid, w)], w, bags.weasel_tag(w))
                for w in windows
            ]
        )
        k, c = np.unique(keys, return_counts=True)
        got.update({(sid, int(kk)): int(cc) for kk, cc in zip(k, c)})
    assert got == want
    suppressed = sum(
        int((ws[:-w] == 0).sum()) for (_, w), ws in words_of.items() if len(ws) > w
    )
    assert suppressed > 0  # the data exercises the prev == 0 guard
    assert any(key >= 1 << 32 for _, key in got)  # and emits bigrams


def test_weasel_tag_rejects_wide_tag():
    assert bags.weasel_tag(511) == 511
    assert bags.weasel_tag(600, window_tag=3) == 3
    with pytest.raises(ValueError, match="window tag 600"):
        bags.weasel_tag(600)
