"""SFA: Symbolic Fourier Approximation as a fit/transform estimator
(SURVEY §2.4 Q1-Q8).

Reference parity:
  * fit            — SFA.fitWindowing / fitTransformDouble
    (`/root/reference/src/main/java/sfa/transformation/SFA.java:260-291,354-377`):
    train bins on the DFT of DISJOINT windows of every series; orderline
    values rounded to 2 decimals before binning (SFA.java:402).
  * transform      — SFA.transformWindowing (`SFA.java:303-338`):
    sliding MFT → quantize → bit-pack.
  * supervised     — SFASupervised.fitTransform
    (`.../transformation/SFASupervised.java:70-96`): rank coefficients
    by one-way ANOVA F, keep the best `word_length` indices, quantize
    only those with IG bins. One fit serves every caller:
    ml/grid.fit_supervised_sfa fits all requested (norm, window) pairs
    in one keyed plan and returns an SFAModel per pair, with best_segs,
    fit_l and bin_arrays set.

Spark shape: fit = pandas-UDF MFT → explode to coefficient long form →
group-aggregate binning (equi-width pure SQL, equi-depth exact
percentile; the supervised fit's IG bins are a grouped applyInPandas). The fitted model is a tiny bins
table (at most word_length rows), read to the driver once per model;
the supervised fit reads the bins of all its windows in one collect
and hands each model its bin_arrays, so no later job reads them.
The sliding transform is one Arrow-batched scalar UDF per series
(MFT → rank-order column pick → searchsorted quantize → bit-pack)
followed by one posexplode: no coefficient explode, no join, no
shuffle. The whole-series index transform is one Arrow-batched scalar
UDF per series too (DFT → searchsorted quantize), returning the DFT
values next to the symbols, since the index's lower bounds need both.
Both transforms quantize with one rule, quantize_symbols. No
driver-side loops over series anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sfa_spark.functions import spectral
from sfa_spark.operators import quantize as QZ
from sfa_spark.operators import words as WD

HISTOGRAMS = ("equi_depth", "equi_width")


def quantize_symbols(bins: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Symbols of values v against ascending boundaries: the count of
    boundaries <= v, quantize_with_bins' rule (the reference's first
    bin > value). NaN gets symbol 0, as quantize_with_bins gives a
    null value."""
    return np.where(np.isnan(v), 0, np.searchsorted(bins, v, side="right"))


@dataclass
class SFAModel:
    word_length: int
    alphabet: int
    window: int
    norm_mean: bool
    lower_bounding: bool
    bins: DataFrame  # (seg int, bins array<double>) — alphabet-1 ascending boundaries
    best_segs: list[int] | None = None  # supervised: kept value indices (rank order)
    fit_l: int | None = None  # supervised: number of Fourier values ranked at fit

    @cached_property
    def bin_arrays(self) -> dict[int, np.ndarray]:
        """seg → ascending boundaries, read from the bins table on first
        use and kept for the model's lifetime."""
        return {
            r["seg"]: np.asarray(r["bins"], dtype=np.float64)
            for r in self.bins.collect()
        }

    def word_kernel(self):
        """numpy kernel for one series: values → one packed word per
        sliding window, int64, in window order (see transform_windowing)."""
        w, norm_mean, lower_bounding = self.window, self.norm_mean, self.lower_bounding
        supervised = self.best_segs is not None
        l = self.fit_l if supervised else self.word_length
        cols = self.best_segs if supervised else list(range(self.word_length))
        bits = WD.binlog(self.alphabet)
        bins = self.bin_arrays
        # (value column, packed position, boundaries); a position with
        # no bins row contributes nothing, as the inner bins join did
        plan = [(c, pos, bins[pos]) for pos, c in enumerate(cols) if pos in bins]

        def kernel(x: np.ndarray) -> np.ndarray:
            coefs = spectral.mft_all_windows(
                x, w, l, norm_mean=norm_mean, lower_bounding=lower_bounding
            )
            word = np.zeros(len(coefs), dtype=np.int64)
            for c, pos, b in plan:
                word += quantize_symbols(b, coefs[:, c]).astype(np.int64) << (bits * pos)
            return word

        return kernel

    def whole_kernel(self):
        """numpy kernel for a batch of whole series: list of value
        arrays → (dft, syms), each (n, word_length): the DFT values of
        each zero-padded series and their symbols (see transform_whole)."""
        l = self.word_length
        plan = [(pos, self.bin_arrays[pos]) for pos in range(l)]

        def kernel(xs: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
            dft = np.zeros((len(xs), l))
            for i, x in enumerate(xs):
                dft[i] = spectral.dft_values(x, l, pad_pow2=True)
            syms = np.zeros((len(xs), l), dtype=np.int32)
            for pos, b in plan:
                syms[:, pos] = quantize_symbols(b, dft[:, pos])
            return dft, syms

        return kernel

    def save(self, path: str) -> None:
        """Persist as parquet (reference uses Kryo; parquet is the
        Spark-native artifact: columnar, schema'd, partition-prunable)."""
        meta = self.bins.sparkSession.createDataFrame(
            [
                (
                    self.word_length,
                    self.alphabet,
                    self.window,
                    self.norm_mean,
                    self.lower_bounding,
                    self.best_segs,
                    self.fit_l,
                )
            ],
            "word_length int, alphabet int, window int, norm_mean boolean, "
            "lower_bounding boolean, best_segs array<int>, fit_l int",
        )
        self.bins.write.mode("overwrite").parquet(f"{path}/bins")
        meta.write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "SFAModel":
        bins = spark.read.parquet(f"{path}/bins")
        m = spark.read.parquet(f"{path}/meta").collect()[0]
        return cls(
            word_length=m["word_length"],
            alphabet=m["alphabet"],
            window=m["window"],
            norm_mean=m["norm_mean"],
            lower_bounding=m["lower_bounding"],
            bins=bins,
            best_segs=list(m["best_segs"]) if m["best_segs"] is not None else None,
            fit_l=m["fit_l"],
        )


def _disjoint_window_coefs(
    arrays: DataFrame, window: int, word_length: int, norm_mean: bool, lower_bounding: bool
) -> DataFrame:
    """DFT coefficients of all DISJOINT windows (the reference's
    fitWindowing sample set): slice each series into n//w chunks via
    higher-order functions, then one pandas-UDF DFT per chunk."""
    chunks = arrays.select(
        "series_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.size("values") / window).cast("int") - 1),
                lambda i: F.slice("values", i * window + 1, window),
            )
        ).alias("values"),
    ).where(F.size("values") == window)
    # per-chunk z-norm stddev scaling matches the MFT path (normalizeFT);
    # each chunk has length == window, so mft_sliding yields exactly one
    # window per chunk (win=0). series_id is kept so label joins work;
    # duplicate (series_id, win) keys are fine — binning never groups on
    # them.
    return spectral.mft_sliding(
        chunks, w=window, l=word_length,
        norm_mean=norm_mean, lower_bounding=lower_bounding,
    )


def fit(
    arrays: DataFrame,
    window: int,
    word_length: int = 8,
    alphabet: int = 4,
    histogram: str = "equi_depth",
    norm_mean: bool = False,
    lower_bounding: bool = True,
    quantile_error: float = 0.0,
) -> SFAModel:
    """Fit SFA bins on disjoint windows of the corpus.

    histogram: equi_depth (exact percentile, or approx with
    quantile_error>0 at scale) or equi_width. Information-gain bins
    are supervised: ml/grid.fit_supervised_sfa fits them.
    quantile_error is a model parameter, not a plan switch: an
    approximate percentile gives different bins.
    Orderline rounding to 2 decimals replicated (SFA.java:402).
    """
    if histogram not in HISTOGRAMS:
        raise ValueError(f"histogram must be one of {HISTOGRAMS}")
    coefs = _disjoint_window_coefs(arrays, window, word_length, norm_mean, lower_bounding)
    long = spectral.coefs_to_long(coefs).withColumn(
        "coef", F.round("coef", 2)  # reference orderline rounding
    )
    if histogram == "equi_width":
        bins = QZ.fit_equi_width_bins(long, alphabet)
    else:
        bins = QZ.fit_equi_depth_bins(long, alphabet, relative_error=quantile_error)
    return SFAModel(
        word_length=word_length,
        alphabet=alphabet,
        window=window,
        norm_mean=norm_mean,
        lower_bounding=lower_bounding,
        bins=bins.cache(),
    )


def fit_whole(
    arrays: DataFrame,
    word_length: int = 16,
    alphabet: int = 8,
    histogram: str = "equi_width",
    quantile_error: float = 0.0,
) -> SFAModel:
    """Fit bins on WHOLE-series DFTs (the indexing path: reference
    buildIndexWholeMatching fits on each full series, SFATrie.java:108-133;
    equi-width, alphabet 8 are the trie defaults)."""
    coefs = spectral.dft(arrays, word_length, pad_pow2=True)
    long = spectral.coefs_to_long(coefs).withColumn("coef", F.round("coef", 2))
    if histogram == "equi_width":
        bins = QZ.fit_equi_width_bins(long, alphabet)
    else:
        bins = QZ.fit_equi_depth_bins(long, alphabet, relative_error=quantile_error)
    return SFAModel(
        word_length=word_length,
        alphabet=alphabet,
        window=0,
        norm_mean=False,
        lower_bounding=True,
        bins=bins.cache(),
    )


def transform_whole(model: SFAModel, arrays: DataFrame) -> DataFrame:
    """Whole-series transform keeping both DFT values and symbols: the
    input's columns plus dft array<double> and syms array<int>, each
    word_length long — the indexing path needs the DFT values for
    lower-bound distances, not just the word.

    One Arrow-batched scalar UDF over `values` runs the model's
    whole_kernel (dft_values on the zero-padded series, then
    quantize_symbols per position); a NaN DFT value reaches Spark as
    null. Row-for-row equal to the long-form
    composition dft → coefs_to_long → quantize_with_bins regathered by
    seg (tests/test_spectral.py), with no explode, join or shuffle.
    """
    kernel = model.whole_kernel()

    @pandas_udf("dft array<double>, syms array<int>")
    def _sfa(vals: pd.Series) -> pd.DataFrame:
        dft, syms = kernel([np.asarray(v, dtype=np.float64) for v in vals])
        return pd.DataFrame({"dft": list(dft), "syms": list(syms)})

    return arrays.select("*", _sfa("values").alias("_sfa")).select(
        *arrays.columns, "_sfa.dft", "_sfa.syms"
    )


def transform_windowing(model: SFAModel, arrays: DataFrame) -> DataFrame:
    """Sliding words for every series: (series_id, win bigint, word bigint).

    One Arrow-batched scalar UDF over `values` runs the model's
    word_kernel per series — MFT, quantize each kept value with
    searchsorted(bins, v, side="right") (the count of boundaries <= v;
    a NaN value gets symbol 0), bit-pack with binlog(alphabet) bits per
    symbol — and one posexplode assigns window ids. For supervised
    models only best_segs are quantized, and the packed position is the
    coefficient's RANK (reference quantizes bestValues in rank order,
    SFASupervised.java:38-54).
    Row-for-row equal to the long-form composition mft_sliding →
    coefs_to_long → rank remap → quantize_with_bins → pack_words
    (tests/test_spectral.py), without its 8× explode, joins and
    shuffle. Series shorter than the window yield one zero-padded
    window, as mft_all_windows does.
    """
    kernel = model.word_kernel()

    @pandas_udf("array<bigint>")
    def _words(vals: pd.Series) -> pd.Series:
        return vals.map(lambda v: kernel(np.asarray(v, dtype=np.float64)))

    return arrays.select(
        "series_id", F.posexplode(_words("values")).alias("win", "word")
    ).select("series_id", F.col("win").cast("bigint").alias("win"), "word")

