"""SFA word packing & PAA (SURVEY §2.3 T6, §2.4 Q7).

Reference parity:
  * PAA          — PAA.transform (`/root/reference/src/main/java/sfa/transformation/PAA.java:28-50`)
  * word packing — Words.createWord / Classifier.createWord
                   (`/root/reference/src/main/java/sfa/classification/Classifier.java:163-192`)
                   binlog(alphabet) bits per symbol, low coefficient in
                   the low bits, packed into one bigint.

bigint word keys are deliberate: they shuffle/compare as primitives
(Tungsten-optimal), exactly why the reference bit-packs too.

window_paa and equi_width_words are the numpy twins of the SQL chain
window_znorm → paa_long → quantize.equi_width_symbols → pack_words over
ONE series' sliding windows, for per-series Arrow passes (the batch BOSS
chain in queries.py, the streaming words operator).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfa_spark.operators.quantize import EPS
from sfa_spark.operators.window import EPS as STD_EPS


def binlog(alphabet: int) -> int:
    bits = 0
    a = alphabet - 1
    while a > 0:
        bits += 1
        a >>= 1
    return max(bits, 1)


def paa_long(win_long: DataFrame, w: int, l: int, value_col: str = "value_z") -> DataFrame:
    """PAA over exploded windows: l segment means per (series, win).

    seg = floor(off*l/w); exact reference semantics when l | w (the
    fractional-frame case falls back to this integer mapping; the
    spectral pandas_udf path implements exact fractional PAA).
    Pure groupBy — map-side partial aggregation, one shuffle on
    (series_id, win) that downstream packing reuses.
    """
    return (
        win_long.withColumn(
            "seg", F.floor(F.col("off") * l / w).cast("int")
        )
        .groupBy("series_id", "win", "seg")
        .agg(F.avg(value_col).alias("coef"))
    )


def window_paa(vals: np.ndarray, w: int, l: int) -> np.ndarray:
    """(n − w + 1, l) PAA coefficients of every sliding window of vals
    by the row-z-norm spec: each window's mean and two-pass population
    std (std < 1e-8 → 1), z-normalize its values, then the mean of each
    of l equal segments (l | w). A series shorter than w has none."""
    if len(vals) < w:
        return np.zeros((0, l))
    wins = np.lib.stride_tricks.sliding_window_view(vals, w)
    mean = wins.mean(axis=1, keepdims=True)
    std = wins.std(axis=1, keepdims=True)
    z = (wins - mean) / np.where(std < STD_EPS, 1.0, std)
    return z.reshape(len(wins), l, w // l).mean(axis=2)


def equi_width_words(
    coefs: np.ndarray, vmin: np.ndarray, vmax: np.ndarray, alphabet: int
) -> np.ndarray:
    """Packed int64 words of (windows, l) coefficients against per-seg
    [vmin, vmax]: quantize.equi_width_symbols' rule in its operation
    order, clamp(floor(((c − vmin)·a) / rng), 0, a − 1), symbol 0 when
    rng < EPS, then pack_words' bit layout."""
    bits = binlog(alphabet)
    out = np.zeros(len(coefs), dtype=np.int64)
    for seg in range(coefs.shape[1]):
        rng = vmax[seg] - vmin[seg]
        if rng < EPS:
            continue
        sym = np.floor(((coefs[:, seg] - vmin[seg]) * alphabet) / rng)
        out |= np.clip(sym, 0, alphabet - 1).astype(np.int64) << (bits * seg)
    return out


def pack_words(
    sym_long: DataFrame, alphabet: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """(series_id, win, seg, symbol[, *keys]) → (series_id, win, word).

    word = Σ symbol_seg << (bits·seg). Disjoint bit ranges, so SUM is a
    bit-OR; pure SQL aggregate. `keys` carry grid columns.
    """
    bits = binlog(alphabet)
    return (
        sym_long.groupBy("series_id", *keys, "win")
        .agg(
            F.sum(
                F.expr(f"shiftleft(cast(symbol as bigint), {bits} * seg)")
            ).alias("word")
        )
    )


def unpack_word(word_col_name: str, length: int, alphabet: int):
    """Column expression: bigint word column (by name) → array<int>."""
    bits = binlog(alphabet)
    mask = (1 << bits) - 1
    return F.expr(
        f"transform(sequence(0, {length - 1}), "
        f"i -> cast(shiftright({word_col_name}, cast(i * {bits} as int)) & {mask} as int))"
    )


def mask_word(word_col, length: int, alphabet: int):
    """Truncate a packed word to its first `length` symbols — the BOSS
    f-grid re-masks one word table per f instead of recomputing
    (BOSS.java:125: word & ((1<<(bits*len))-1))."""
    bits = binlog(alphabet)
    return word_col.bitwiseAND(F.lit((1 << (bits * length)) - 1))
