"""Binning & quantization (SURVEY §2.4, Q1-Q3).

Reference parity:
  * equi-width bins  — SFA.divideEquiWidthHistogram (`/root/reference/src/main/java/sfa/transformation/SFA.java:416-431`)
  * equi-depth bins  — SFA.divideEquiDepthHistogram (`SFA.java:436-450`)
  * quantization     — SFA.quantization (`SFA.java:194-231`)
  * IG bins          — SFA.divideHistogramInformationGain (`SFA.java:455-567`)

All fit steps are group aggregates over the coefficient long form
(series_id, win, seg, coef double [, label]); the fitted bins table is
tiny (n_coefficients × alphabet rows) and is broadcast into the
quantize join — no shuffle of the big side.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-12


def equi_width_symbols(coef_long: DataFrame, alphabet: int) -> DataFrame:
    """Assign symbols by uniform [min,max] splits per coefficient index.

    symbol = clamp(floor((v - min) * a / (max - min)), 0, a-1), per seg.
    Pure SQL: one tiny groupBy(seg) aggregate, broadcast-joined back.
    """
    stats = coef_long.groupBy("seg").agg(
        F.min("coef").alias("vmin"), F.max("coef").alias("vmax")
    )
    rng = F.col("vmax") - F.col("vmin")
    sym = F.when(rng < EPS, F.lit(0)).otherwise(
        F.least(
            F.lit(alphabet - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("coef") - F.col("vmin")) * alphabet / rng).cast("int"),
            ),
        )
    )
    return coef_long.join(F.broadcast(stats), "seg").withColumn(
        "symbol", sym.cast("int")
    )


def equi_depth_symbols(coef_long: DataFrame, alphabet: int) -> DataFrame:
    """Rank-based equi-depth symbols: ntile(a) per coefficient index.

    Deterministic tie-break on (coef, series_id, win) so engines agree.
    Scale: a full sort per seg — at 100 TB swap in percentile_approx
    boundaries (same downstream quantize join); exact ntile kept for
    oracle parity at test scale.
    """
    w = Window.partitionBy("seg").orderBy("coef", "series_id", "win")
    return coef_long.withColumn(
        "symbol", (F.ntile(alphabet).over(w) - F.lit(1)).cast("int")
    )


def fit_equi_width_bins(
    coef_long: DataFrame, alphabet: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Equi-width bin BOUNDARIES per ([*keys], seg): uniform splits of
    [min, max] of the (2dp-rounded) orderline — the reference's
    divideEquiWidthHistogram (SFA.java:416-431; enum EQUI_FREQUENCY,
    the naming swap documented in SURVEY §2.4). bins[c] = first +
    width·(c+1), c = 0..alphabet−2; a constant orderline yields width 0
    → every boundary = the value → quantization gives alphabet−1, same
    as the reference's 'value < bins[c]' scan. Output shape matches
    fit_equi_depth_bins so quantize_with_bins applies unchanged."""
    ks = list(keys)
    stats = coef_long.groupBy(*ks, "seg").agg(
        F.min("coef").alias("vmin"), F.max("coef").alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / alphabet
    bins = F.transform(
        F.sequence(F.lit(1), F.lit(alphabet - 1)),
        lambda c: F.col("vmin") + width * c.cast("double"),
    )
    return stats.select(*ks, "seg", bins.alias("bins"))


def fit_equi_depth_bins(
    coef_long: DataFrame,
    alphabet: int,
    relative_error: float = 0.0,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Fit equi-depth bin BOUNDARIES per coefficient.

    Returns (seg, bins array<double>) with ≤ alphabet-1 upper boundaries.

    Modes:
      * relative_error > 0 → percentile_approx with that ε — the 100 TB
        mode (exact per-seg scans don't scale; downstream quantize join
        is identical).
      * relative_error = 0 (default) — exact parity with
        SFA.divideEquiDepthHistogram (`SFA.java:436-450`): walk the
        sorted orderline, set bins[pos] to the value at the first
        1-based position > ceil(depth·(pos+1)), skipping values equal
        to the previous boundary (duplicate suppression). Grouped
        applyInPandas per seg — group size is #series × #windows for
        ONE coefficient, the same bounded shape as fit_ig_bins.
    """
    ks = list(keys)
    qs = [i / alphabet for i in range(1, alphabet)]
    if relative_error > 0:
        acc = max(1, int(1.0 / relative_error))
        agg = F.percentile_approx("coef", F.array(*[F.lit(q) for q in qs]), acc)
        return coef_long.groupBy(*ks, "seg").agg(agg.alias("bins"))

    import math

    def _scan(kv, pdf):
        v = pdf["coef"].sort_values(kind="mergesort").to_numpy()
        depth = len(v) / alphabet
        bins: list[float] = []
        pos, count = 0, 0
        for val in v:
            count += 1
            if pos >= alphabet - 1:
                break
            if count > math.ceil(depth * (pos + 1)) and (
                pos == 0 or bins[-1] != val
            ):
                bins.append(float(val))
                pos += 1
        out = {c: [k] for c, k in zip([*ks, "seg"], kv)}
        out["bins"] = [bins]
        return pd.DataFrame(out)

    in_schema = coef_long.select(*ks, "seg").schema
    key_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema)
    return coef_long.select(*ks, "seg", "coef").groupBy(*ks, "seg").applyInPandas(
        _scan, schema=f"{key_fields}, bins array<double>"
    )


def quantize_with_bins(
    coef_long: DataFrame, bins: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """symbol = #boundaries <= value (reference 'first bin > value').

    Broadcast the tiny bins table; symbol via a higher-order filter —
    stays in whole-stage codegen, no Python. `keys` are extra join
    columns (grid dimensions) so one join quantizes every combination.
    """
    return coef_long.join(F.broadcast(bins), [*keys, "seg"]).withColumn(
        "symbol",
        F.size(F.filter("bins", lambda b: F.col("coef") >= b)).cast("int"),
    )


def fit_ig_bins(
    coef_labeled: DataFrame, alphabet: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Information-gain bin boundaries per coefficient (supervised).

    Reference: recursive best-entropy split on the (value,label)
    orderline, splitting only where the label changes, gain rounded to
    3 decimals (SFA.java:497-557, :529). Inherently sequential per
    coefficient → grouped applyInPandas; each group is only
    (#series × #windows) rows for ONE coefficient, so group size is
    bounded and skew is benign. `keys` add grid columns to the group.

    Input: ([*keys], seg int, coef double, label double).
    Output: ([*keys], seg, bins).
    """
    ks = list(keys)

    def _split(pdf: pd.DataFrame) -> pd.DataFrame:
        # orderline: sort by (rounded value, label) as the reference does
        # (SFA.java:392-411 rounds to 2 decimals before sorting).
        vals = pdf["coef"].round(2).to_numpy()
        order = pdf.assign(_v=vals).sort_values(["_v", "label"], kind="mergesort")
        v = order["_v"].to_numpy()
        y = order["label"].to_numpy()
        import math

        def entropy(counts, total):
            e = 0.0
            for c in counts.values():
                if c > 0:
                    p = c / total
                    e -= p * math.log2(p)
            return e

        splits: list[float] = []

        def find_best(lo: int, hi: int, remaining: int):
            # best single split of [lo, hi) by information gain,
            # candidates only at label-change points (SFA.java:507-514)
            if remaining <= 0 or hi - lo < 2:
                return
            total = hi - lo
            right: dict[float, int] = {}
            for i in range(lo, hi):
                right[y[i]] = right.get(y[i], 0) + 1
            base = entropy(right, total)
            left: dict[float, int] = {}
            best_gain, best_i = -1.0, -1
            for i in range(lo, hi - 1):
                left[y[i]] = left.get(y[i], 0) + 1
                right[y[i]] -= 1
                if y[i] == y[i + 1] and v[i] == v[i + 1]:
                    continue
                nl = i - lo + 1
                nr = total - nl
                gain = base - (nl / total) * entropy(left, nl) - (
                    nr / total
                ) * entropy(right, nr)
                gain = round(gain, 3)  # SFA.java:529 rounding
                if gain > best_gain:
                    best_gain, best_i = gain, i
            if best_i < 0:
                return
            splits.append(float(v[best_i + 1]))
            rem = remaining - 1
            # recurse into larger half first with half the budget each
            find_best(lo, best_i + 1, rem // 2)
            find_best(best_i + 1, hi, rem - rem // 2)

        find_best(0, len(v), alphabet - 1)
        bins = sorted(splits)[: alphabet - 1]
        out = {c: [pdf[c].iloc[0]] for c in ks}
        out["seg"] = [int(pdf["seg"].iloc[0])]
        out["bins"] = [bins]
        return pd.DataFrame(out)

    in_schema = coef_labeled.select(*ks).schema
    key_fields = "".join(
        f"{f.name} {f.dataType.simpleString()}, " for f in in_schema
    )
    return coef_labeled.groupBy(*ks, "seg").applyInPandas(
        _split, schema=f"{key_fields}seg int, bins array<double>"
    )
