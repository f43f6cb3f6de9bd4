"""Spectral transforms (SURVEY §2.3 T1-T5): DFT / MFT as Arrow-batched
pandas UDFs over the array form.

Reference parity (behavioral, re-derived in numpy):
  * DFT.transform (`/root/reference/src/main/java/sfa/transformation/DFT.java:17-51`):
    zero-pad to next pow-2, real FFT, zero the packed Re[n/2] slot,
    take l values from startOffset=2 (drops DC), scale 1/√N, negate
    imaginary entries (conjugate/e^{+i} storage convention).
  * MFT.transform (`.../transformation/MFT.java:65-88`): FFT of the
    first windowSize points (no padding), startOffset = 2 if normMean
    else 0, norm = 1/√w if lowerBounding.
  * MFT.transformWindowing (`MFT.java:102-161`): one transform per
    sliding window; incremental recurrence
    X_k(t) = (X_k(t−1) + x[t+w−1] − x[t−1]) · e^{+2πik/w},
    then per-window 1/σ_t normalization (normalizeFT, `MFT.java:267-276`).

Scale notes: parallelism is across series (one Arrow batch holds many
series); within a batch everything is vectorized numpy. Two methods for
the all-windows transform:
  * 'fft'        — sliding_window_view + rfft: O(n·w log w), fastest
                   for the classification regime (short windows).
  * 'recurrence' — the reference's O(n·l) update, vectorized over k;
                   wins when w >> l (long windows over long series).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def dft_values(x: np.ndarray, l: int, pad_pow2: bool = True) -> np.ndarray:
    """Reference DFT.transform for one series → l interleaved values
    [Re X_1, −Im X_1, Re X_2, −Im X_2, …] · (1/√N)."""
    n = len(x)
    size = _next_pow2(n) if pad_pow2 else n
    buf = np.zeros(size)
    buf[: min(n, size)] = x[: min(n, size)]
    spec = np.fft.rfft(buf)
    # interleave, conjugate convention, drop DC (startOffset=2)
    out = np.zeros(l)
    ks = np.arange(1, 1 + l // 2)
    ks = ks[ks < len(spec)]
    re = spec[ks].real
    im = -spec[ks].imag
    inter = np.empty(2 * len(ks))
    inter[0::2] = re
    inter[1::2] = im
    out[: len(inter)] = inter
    return out / np.sqrt(size)


def mft_all_windows(
    x: np.ndarray,
    w: int,
    l: int,
    norm_mean: bool = False,
    lower_bounding: bool = True,
    apply_z_norm: bool = True,
    method: str = "fft",
) -> np.ndarray:
    """All sliding-window Fourier values for one series.

    Returns shape (n−w+1, l): per window, l interleaved values starting
    at coefficient startOffset/2 (startOffset = 2 if norm_mean), scaled
    by norm·(1/σ_t), imaginary parts negated — exactly the reference's
    transformWindowing output.
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    end = max(1, n - w + 1)
    start_offset = 2 if norm_mean else 0
    norm = 1.0 / np.sqrt(w) if lower_bounding else 1.0
    n_coefs = w // 2 + 1  # every rfft coefficient of a w-point window

    if method == "recurrence":
        ks = np.arange(n_coefs)
        phi = np.exp(2j * np.pi * ks / w)  # e^{+2πik/w}, reference phis
        spec = np.empty((end, n_coefs), dtype=np.complex128)
        first = np.fft.rfft(x[:w] if n >= w else np.pad(x, (0, w - n)))
        cur = first.copy()
        spec[0] = cur
        for t in range(1, end):
            cur = (cur + (x[t + w - 1] - x[t - 1])) * phi
            spec[t] = cur
    else:
        if n < w:
            buf = np.zeros(w)
            buf[:n] = x
            wins = buf[None, :]
        else:
            wins = np.lib.stride_tricks.sliding_window_view(x, w)
        spec = np.fft.rfft(wins, axis=1)

    # Replicate the reference's jTransforms PACKED layout exactly
    # (MFT.java:102-161 + 65-88): slot 2k = Re[k], slot 2k+1 = Im[k],
    # and slot 1 — the packed slot holding Re[w/2] (even w) / Im[(w−1)/2]
    # (odd w) — is ZEROED ("data[1] = 0"). Consequences the BOSS grids
    # depend on when l exceeds the window's spectral content:
    #   * even w: the Nyquist coefficient is dropped entirely; output
    #     values beyond w − startOffset are zero-padding, so bags
    #     plateau for f past the usable length;
    #   * odd w with l + startOffset ≥ w + 1: the last coefficient
    #     k* = (w−1)/2 enters the O(1) sliding recurrence with its
    #     TRUE Re but a zeroed Im (the packed slot), and every later
    #     window rotates that half-fake state — a deliberate-looking
    #     artifact of the reference's packed arithmetic that its
    #     grids (e.g. BOSS ensemble on Beef) measurably depend on.
    #     Closed form: X(t) = φ^t · (X(0) + Σ_{s≤t} d_s φ^{−(s−1)}),
    #     exactly the recurrence the reference iterates.
    P = l + start_offset
    packed = np.zeros((end, max(P, 2)))
    packed[:, 0] = spec[:, 0].real
    ks_re = np.arange(1, (w - 1) // 2 + 1)
    ks_re = ks_re[2 * ks_re < P]
    if len(ks_re):
        packed[:, 2 * ks_re] = spec[:, ks_re].real
    ks_im = np.arange(1, (w - 1) // 2 + 1)
    ks_im = ks_im[(2 * ks_im + 1 <= w - 1) & (2 * ks_im + 1 < P)]
    if len(ks_im):
        packed[:, 2 * ks_im + 1] = spec[:, ks_im].imag
    # reachable once the EVENIZED word length min(w, P)→even covers the
    # kstar pair: for odd w that is already P == w (w evenizes to w+1),
    # not just P >= w+1 — slot w−1 then carries the recurrence-mutated
    # Re[kstar], matching the reference for windows t >= 1.
    if w % 2 == 1 and P >= w and end > 1:
        kstar = (w - 1) // 2
        x0 = complex(spec[0, kstar].real, 0.0)
        d = x[w:] - x[: end - 1]
        t = np.arange(1, end)
        cum = x0 + np.cumsum(d * np.exp(-2j * np.pi * kstar * (t - 1) / w))
        xt = np.exp(2j * np.pi * kstar * t / w) * cum
        packed[1:, 2 * kstar] = xt.real
        packed[0, 2 * kstar] = x0.real
        if 2 * kstar + 1 < packed.shape[1]:  # P == w keeps only Re
            packed[1:, 2 * kstar + 1] = xt.imag
            packed[0, 2 * kstar + 1] = 0.0
    out = packed[:, start_offset : start_offset + l].copy()
    if out.shape[1] < l:
        out = np.pad(out, ((0, 0), (0, l - out.shape[1])))
    out[:, 1::2] *= -1.0  # normalizeFT sign alternation (odd indices)

    if apply_z_norm:
        # per-window stddev normalization (normalizeFT)
        if n >= w:
            c = np.concatenate([[0.0], np.cumsum(x)])
            c2 = np.concatenate([[0.0], np.cumsum(x * x)])
            means = (c[w:] - c[:-w]) / w
            var = (c2[w:] - c2[:-w]) / w - means * means
            stds = np.sqrt(np.maximum(var, 0.0))
        else:
            stds = np.array([x.std()])
        factor = np.where(stds > 0, 1.0 / np.where(stds > 0, stds, 1.0), 1.0)
        out *= factor[:, None]
    return out * norm


def dft_udf(l: int, pad_pow2: bool = True):
    """Arrow-batched scalar UDF: values array → its l dft_values."""

    @pandas_udf("array<double>")
    def _dft(vals: pd.Series) -> pd.Series:
        return vals.map(lambda v: dft_values(np.asarray(v, dtype=np.float64), l, pad_pow2))

    return _dft


def dft(arrays: DataFrame, l: int, pad_pow2: bool = True) -> DataFrame:
    """(series_id, values) → (series_id, coefs array<double> of length l)."""
    return arrays.select("series_id", dft_udf(l, pad_pow2)("values").alias("coefs"))


def mft_sliding(
    arrays: DataFrame,
    w: int,
    l: int,
    norm_mean: bool = False,
    lower_bounding: bool = True,
    method: str = "fft",
) -> DataFrame:
    """(series_id, values) → (series_id, win, coefs) for every sliding
    window. The UDF emits array<array<double>> per series; posexplode
    assigns window ids — all Arrow-batched, no Python row loop."""

    @pandas_udf("array<array<double>>")
    def _mft(vals: pd.Series) -> pd.Series:
        return vals.map(
            lambda v: mft_all_windows(
                np.asarray(v, dtype=np.float64), w, l,
                norm_mean=norm_mean, lower_bounding=lower_bounding, method=method,
            ).tolist()
        )

    exploded = arrays.select(
        "series_id", F.posexplode(_mft("values")).alias("win", "coefs")
    )
    return exploded.select(
        "series_id", F.col("win").cast("bigint").alias("win"), "coefs"
    )


def coefs_to_long(coef_arrays: DataFrame, win_col: str = "win") -> DataFrame:
    """(series_id[, win], coefs) → long form (series_id, win, seg, coef)."""
    cols = ["series_id"]
    if win_col in coef_arrays.columns:
        cols.append(win_col)
    else:
        coef_arrays = coef_arrays.withColumn(win_col, F.lit(0).cast("bigint"))
        cols.append(win_col)
    return coef_arrays.select(
        *cols, F.posexplode("coefs").alias("seg", "coef")
    ).withColumn("seg", F.col("seg").cast("int"))
