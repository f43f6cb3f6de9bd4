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
percentile; the supervised fit's IG bins are a grouped applyInPandas),
read to the driver in one collect. A fitted model holds its bins only
as driver-side numpy arrays (bin_arrays, at most word_length of them)
and saves to one small JSON file, so no later job reads or writes them.
The sliding transform is one Arrow-batched scalar UDF per series
(MFT → rank-order column pick → searchsorted quantize → bit-pack)
followed by one posexplode: no coefficient explode, no join, no
shuffle. The whole-series index path computes each series' DFT in one
Arrow-batched scalar UDF (whole_dft); fit_whole fits its bins from
that frame, and symbols() quantizes it in the JVM. Both quantize with
quantize_symbols' rule. No driver-side loops over series anywhere.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
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
    bin_arrays: dict[int, np.ndarray]  # seg → alphabet-1 ascending boundaries
    best_segs: list[int] | None = None  # supervised: kept value indices (rank order)
    fit_l: int | None = None  # supervised: number of Fourier values ranked at fit

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
        # no bins contributes nothing
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

    def save(self, path: str) -> None:
        """Write the model as one small JSON file from the driver (the
        reference uses Kryo): a few hundred numbers need no Spark job.
        Python's float repr round-trips every boundary exactly."""
        doc = {f.name: getattr(self, f.name) for f in fields(self)}
        doc["bin_arrays"] = {str(s): b.tolist() for s, b in self.bin_arrays.items()}
        with open(path, "w") as fh:
            json.dump(doc, fh)

    @classmethod
    def load(cls, path: str) -> "SFAModel":
        with open(path) as fh:
            doc = json.load(fh)
        doc["bin_arrays"] = _as_arrays(doc["bin_arrays"].items())
        return cls(**doc)


def _as_arrays(pairs) -> dict[int, np.ndarray]:
    """(seg, boundaries) pairs, e.g. the rows of a (seg, bins) table →
    seg → float64 array, in seg order."""
    pairs = sorted((int(s), b) for s, b in pairs)
    return {s: np.asarray(b, dtype=np.float64) for s, b in pairs}


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
        bin_arrays=_as_arrays(bins.collect()),
    )


def whole_dft(arrays: DataFrame, word_length: int) -> DataFrame:
    """The input's columns plus dft array<double>: the first
    word_length DFT values of each zero-padded series (dft_values), one
    Arrow-batched scalar UDF over `values`. A NaN DFT value reaches
    Spark as null."""
    return arrays.select("*", spectral.dft_udf(word_length)("values").alias("dft"))


def fit_whole(
    dfts: DataFrame,
    word_length: int = 16,
    alphabet: int = 8,
    histogram: str = "equi_width",
    quantile_error: float = 0.0,
) -> SFAModel:
    """Fit bins on WHOLE-series DFTs (the indexing path: reference
    buildIndexWholeMatching fits on each full series, SFATrie.java:108-133;
    equi-width, alphabet 8 are the trie defaults). `dfts` carries each
    series' dft (whole_dft's output), so the caller that also quantizes
    them runs the DFT once.

    Equi-width reads the per-position min and max of the 2-dp-rounded
    values in one aggregate and sets boundaries vmin + width·c on the
    driver, the same double arithmetic as quantize.fit_equi_width_bins;
    equi-depth runs quantize.fit_equi_depth_bins on the long form."""
    if histogram == "equi_width":
        vals = [F.round(F.element_at("dft", i + 1), 2) for i in range(word_length)]
        r = dfts.agg(*map(F.min, vals), *map(F.max, vals)).first()
        bins = {
            i: _equi_width(r[i], r[word_length + i], alphabet) for i in range(word_length)
        }
    else:
        long = spectral.coefs_to_long(
            dfts.select("series_id", F.col("dft").alias("coefs"))
        ).withColumn("coef", F.round("coef", 2))
        bins = _as_arrays(
            QZ.fit_equi_depth_bins(long, alphabet, relative_error=quantile_error).collect()
        )
    return SFAModel(
        word_length=word_length,
        alphabet=alphabet,
        window=0,
        norm_mean=False,
        lower_bounding=True,
        bin_arrays=bins,
    )


def _equi_width(vmin: float | None, vmax: float | None, alphabet: int) -> np.ndarray:
    """alphabet-1 boundaries vmin + width·c, width = (vmax − vmin) /
    alphabet; all NaN for a position with no values (null min/max)."""
    if vmin is None:
        return np.full(alphabet - 1, np.nan)
    width = (vmax - vmin) / alphabet
    return np.array([vmin + width * float(c) for c in range(1, alphabet)])


def symbols(model: SFAModel, dft: str) -> list[Column]:
    """Per position, the int symbol of array column `dft`'s value by
    quantize_symbols' rule, in the JVM: the count of boundaries <= v, 0
    for null or NaN (Spark orders NaN above every number). The index's
    data and query sides both quantize here. One parsed SQL CASE per
    position: built from Columns it cost 0.3 s of py4j calls per use;
    CAST('repr' AS DOUBLE) round-trips every boundary exactly."""

    def sym(i: int) -> Column:
        v = f"element_at(`{dft}`, {i + 1})"
        hits = [
            f"CASE WHEN {v} >= CAST('{float(b)!r}' AS DOUBLE) THEN 1 ELSE 0 END"
            for b in model.bin_arrays.get(i, ())
        ]
        return F.expr(
            f"CAST(CASE WHEN isnan({v}) THEN 0 ELSE {' + '.join(hits) or '0'} END AS INT)"
        )

    return [sym(i) for i in range(model.word_length)]


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

