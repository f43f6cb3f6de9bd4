"""Stratified folds, accuracy & ensemble voting (SURVEY §2.7 C4, C12-C13).

Reference parity:
  * folds    — Classifier.generateIndices round-robin per label
               (`/root/reference/src/main/java/sfa/classification/Classifier.java:666-746`)
  * accuracy — Classifier.evalLabels, 3-decimal rounding (:116-139, :349-351)
  * vote     — Classifier.score: weighted majority, tie → larger label
               (:569-615)

Classifier.filterByFactor (keep score ≥ best·factor, :550-567) filters a
handful of grid members, so each fit applies it on the driver
(grid._pick_members, grid.shotgun_grid_fit, classifiers.boss_ensemble_fit,
classifiers.bossvs_fit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_folds(labeled: DataFrame, n_folds: int = 10) -> DataFrame:
    """Round-robin per-label fold assignment; deterministic by series_id.
    Pure window expression — (label) partitions are vocabulary-small."""
    w = Window.partitionBy("label").orderBy("series_id")
    return labeled.withColumn(
        "fold", ((F.row_number().over(w) - F.lit(1)) % n_folds).cast("int")
    )


def accuracy(pred_vs_true: DataFrame) -> DataFrame:
    """(pred_label, label) → one-row accuracy, reference 3-dp rounding."""
    return pred_vs_true.agg(
        F.round(
            F.avg((F.col("pred_label") == F.col("label")).cast("double")), 3
        ).alias("acc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def weighted_vote(votes: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """(series_id, pred_label, weight[, *keys]) per ensemble member →
    (series_id[, *keys], pred_label) by weighted majority; tie → larger
    label. `keys` let one call tally separate ensembles (e.g. per-norm)."""
    tally = votes.groupBy(*keys, "series_id", "pred_label").agg(
        F.sum("weight").alias("w")
    )
    rk = Window.partitionBy(*keys, "series_id").orderBy(
        F.col("w").desc(), F.col("pred_label").desc()
    )
    return (
        tally.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select(*keys, "series_id", "pred_label")
    )

