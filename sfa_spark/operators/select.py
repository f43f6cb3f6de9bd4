"""Feature selection: χ² and ANOVA-F (SURVEY §2.4 Q8, §2.5 B5).

Reference parity:
  * χ² word selection — WEASEL.trainChiSquared
    (`/root/reference/src/main/java/sfa/transformation/WEASEL.java:217-339`):
    observed = per-(class, word) PRESENCE count (each sample counts 1
    per word it contains — WEASEL.java:237-241); expected = p(class) ·
    featureCount(word); every class×word cell is evaluated including
    obs = 0 cells; a word survives when any cell's (obs − exp)²/exp ≥
    limit; cap at WORD_LIMIT by χ² desc, unigrams (key < 2³²) and
    bigrams capped separately (WEASEL.java:304-323).
  * ANOVA F ranking  — SFASupervised.getFoneway
    (`.../transformation/SFASupervised.java:105-219`, a port of sklearn
    f_oneway): rank coefficient indices by F, keep top word_length.
    anova_f is the one F statistic in the engine: q_anova_f calls it
    with no keys, and the supervised SFA fit (ml/grid.fit_supervised_sfa)
    calls it keyed by (nm, w), so every window ranks in one plan.

Both are pure group-aggregate cascades — Catalyst plans them as two
hash aggregations + a broadcast join; at 100 TB the per-word/per-coef
side is vocabulary-sized, not data-sized.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chi_squared(
    bags_labeled: DataFrame,
    limit: float = 2.0,
    word_limit: int | None = 10000,
    key_col: str = "word",
    split_unigram_bigram: bool = False,
    cell_agg: str = "max",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """(series_id, word, cnt, label) → (word, chi2) surviving selection.

    Reference semantics (WEASEL.trainChiSquared):
      * presence counts, not term frequencies — a sample contributes 1
        per word it contains (`featureCount.putOrAdd(key, 1, 1)`)
      * the full class×word grid is evaluated — obs = 0 cells contribute
        (0 − exp)²/exp and are exactly the discriminative ones
      * selection keeps a word when ANY cell ≥ limit ⇔ max cell ≥ limit
        (cell_agg="max"); trainChiSquared_new sums cells (cell_agg="sum")
      * the reference ranks capped words by the first passing cell in
        hash-iteration order (nondeterministic); we rank by the same
        cell_agg statistic — identical surviving set, deterministic cap.

    The cap is orderBy().limit() — Catalyst plans TakeOrderedAndProject
    (parallel partial top-k), never a single-partition global window.
    With split_unigram_bigram, unigram (key < 2³²) and bigram keys are
    capped separately at word_limit each (WEASEL.java:304-323).
    """
    ks = list(keys)
    pres = bags_labeled.where(F.col("cnt") > 0).select(
        *ks, "series_id", key_col, "label"
    ).distinct()
    per_cw = pres.groupBy(*ks, "label", key_col).agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    per_w = per_cw.groupBy(*ks, key_col).agg(F.sum("obs").alias("tot_w"))
    # class priors over SAMPLES (all series, whatever words they hold)
    per_c = (
        pres.select(*ks, "series_id", "label")
        .distinct()
        .groupBy(*ks, "label")
        .agg(F.count(F.lit(1)).cast("double").alias("n_c"))
    )
    # grand totals stay in-plan (broadcast aggregates) — a driver-side
    # count() here would recompute the upstream bag chain as extra jobs
    total = per_c.groupBy(*ks).agg(F.sum("n_c").alias("n_samples"))
    agg_fn = F.max if cell_agg == "max" else F.sum
    grid = per_w.join(F.broadcast(per_c), ks) if ks else per_w.crossJoin(
        F.broadcast(per_c)
    )
    grid = grid.join(F.broadcast(total), ks) if ks else grid.crossJoin(
        F.broadcast(total)
    )
    chi = (
        grid.join(per_cw, [*ks, key_col, "label"], "left")
        .withColumn("exp", F.col("n_c") / F.col("n_samples") * F.col("tot_w"))
        .withColumn(
            "term",
            (F.coalesce(F.col("obs"), F.lit(0.0)) - F.col("exp")) ** 2 / F.col("exp"),
        )
        .groupBy(*ks, key_col)
        .agg(agg_fn("term").alias("chi2"))
        .where(F.col("chi2") >= limit)
    )
    if word_limit is not None:
        order = [F.col("chi2").desc(), F.col(key_col).asc()]
        if ks:
            # per-group cap: partitioned row_number (parallel across the
            # grid key space — never a single global sort)
            def _cap(df):
                w = Window.partitionBy(*ks).orderBy(*order)
                return (
                    df.withColumn("_rk", F.row_number().over(w))
                    .where(F.col("_rk") <= word_limit)
                    .drop("_rk")
                )
        else:
            def _cap(df):
                return df.orderBy(*order).limit(word_limit)
        if split_unigram_bigram:
            uni = _cap(chi.where(F.col(key_col) < F.lit(1 << 32)))
            bi = _cap(chi.where(F.col(key_col) >= F.lit(1 << 32)))
            chi = uni.unionByName(bi)
        else:
            chi = _cap(chi)
    return chi


def chi2_sf(x: float, dof: int) -> float:
    """Survival function of the χ² distribution for integer dof —
    pure-python (no scipy in this environment; reference uses
    commons-math ChiSquaredDistribution, WEASEL.java:346-475).

    Even dof: closed form exp(−x/2)·Σ_{k<dof/2} (x/2)^k/k!.
    Odd dof: recurrence seeded by erfc(√(x/2))."""
    import math

    if x <= 0:
        return 1.0
    h = x / 2.0
    if dof % 2 == 0:
        term, acc = 1.0, 1.0
        for k in range(1, dof // 2):
            term *= h / k
            acc += term
        return min(1.0, math.exp(-h) * acc)
    # odd dof: P(X > x) = erfc(√h) + exp(−h)·Σ ... via Q(a+1) = Q(a) + h^a e^−h / Γ(a+1)
    sf = math.erfc(math.sqrt(h))
    a = 0.5
    for _ in range(dof // 2):
        sf += math.exp(a * math.log(h) - h - math.lgamma(a + 1.0))
        a += 1.0
    return min(1.0, sf)


def chi_squared_pvalues(
    bags_labeled: DataFrame,
    p_limit: float = 0.05,
    key_col: str = "word",
) -> DataFrame:
    """trainChiSquared_new: keep keys whose χ² p-value ≤ p_limit.
    The χ² statistic is the cell SUM (WEASEL.java:382-396 accumulates
    chiSquareSum over all class cells); the p-value map is a scalar
    pandas UDF over it (dof = #classes − 1)."""
    from pyspark.sql.functions import pandas_udf

    n_classes = bags_labeled.select("label").distinct().count()
    dof = max(1, n_classes - 1)
    stats = chi_squared(
        bags_labeled, limit=-1.0, word_limit=None, key_col=key_col, cell_agg="sum"
    )

    @pandas_udf("double")
    def _sf(xs: pd.Series) -> pd.Series:
        return xs.map(lambda x: chi2_sf(float(x), dof))

    return stats.withColumn("p_value", _sf("chi2")).where(
        F.col("p_value") <= p_limit
    )


def filter_bags(bags: DataFrame, selected: DataFrame, key_col: str = "word") -> DataFrame:
    """Prune bags to the selected vocabulary (reference filterChiSquared).
    Broadcast semi-join — the selected set is vocabulary-sized."""
    return bags.join(
        F.broadcast(selected.select(key_col)), key_col, "left_semi"
    )


def anova_f(coef_labeled: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """One-way ANOVA F statistic per coefficient index (per key group).

    Input: ([*keys], seg int, coef double, label). Output: ([*keys],
    seg, f_stat). Sufficient statistics only — Σv, Σv², count per
    ([*keys], seg, label):
      ssbn = Σ_groups (Σv)²/n_g − (Σ_all v)²/N      (between-group)
      sswn = (Σ_all v² − (Σ_all v)²/N) − ssbn       (within-group)
      F    = (ssbn/(k−1)) / (sswn/(N−k))
    the reference f_oneway's arithmetic, with its double semantics where
    Spark's ANSI mode would raise: sswn = 0 gives +inf (ranks first)
    or −inf, and a seg with one class (k ≤ 1), one sample per class
    (N ≤ k) or 0/0 gives NaN, which is dropped, as the reference drops
    NaN F values.
    """
    ks = list(keys)
    # DECIMAL sums: double aggregation merges partials in task-
    # completion order, so f_stat carried run-to-run ulp noise that
    # FLIPPED near-tied seg ranks (different vocabulary → different
    # model → TEASER earliness wobbled 0.48↔0.53 on Coffee). Decimal
    # addition is exact and order-independent; each per-row term is
    # deterministic, so f_stat is bit-stable under any scheduling.
    dec = "decimal(38,18)"
    g = coef_labeled.groupBy(*ks, "seg", "label").agg(
        F.sum(F.col("coef").cast(dec)).cast("double").alias("s"),
        F.sum((F.col("coef") * F.col("coef")).cast(dec)).cast("double").alias("ss"),
        F.count(F.lit(1)).cast("double").alias("m"),
    )
    if ks:
        # one exchange on the keys alone serves the per-seg totals below
        # and a caller's per-key rank window (each needs only clustering
        # by the keys), so ranking adds no shuffle; g is vocabulary-sized
        g = g.repartition(*ks)
    tot = g.groupBy(*ks, "seg").agg(
        F.sum(F.col("s").cast(dec)).cast("double").alias("S"),
        F.sum(F.col("ss").cast(dec)).cast("double").alias("SS"),
        F.sum("m").alias("N"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum((F.col("s") * F.col("s") / F.col("m")).cast(dec))
        .cast("double")
        .alias("sq_over_m"),
    )
    ssbn = F.col("sq_over_m") - F.col("S") * F.col("S") / F.col("N")
    sswn = (F.col("SS") - F.col("S") * F.col("S") / F.col("N")) - ssbn
    dfwn = F.col("N") - F.col("k")
    f_expr = (
        F.when((F.col("k") <= 1) | (dfwn <= 0), F.lit(float("nan")))
        .when(sswn != 0, (ssbn / (F.col("k") - 1)) / (sswn / dfwn))
        .when(ssbn > 0, F.lit(float("inf")))
        .when(ssbn < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan")))
    )
    return tot.select(*ks, "seg", f_expr.alias("f_stat")).where(~F.isnan("f_stat"))


def top_coefficients(f_stats: DataFrame, word_length: int) -> DataFrame:
    """Keep the word_length best coefficient indices by F desc
    (tie → seg asc), as the reference's bestValues array."""
    from sfa_spark.operators.topk import ranked_top_k

    ranked = ranked_top_k(
        f_stats, [("f_stat", True), ("seg", False)], word_length
    )
    return ranked.withColumn("rank", F.col("rk").cast("long")).drop("rk")
