"""fastText-style linear document classifier over hashed bag-of-ngram
features — the trainable half of corpus curation (language routing,
quality keep/drop, domain tagging) next to the heuristic passes in
operators/text.py.

Architecture (Joulin et al. 2017, "Bag of Tricks for Efficient Text
Classification", re-expressed Spark-first):

  * featurization — token unigrams (+ bigrams) hashed into a fixed
    bucket space (the hashing trick): one row-local explode + xxhash64
    mod D, then a per-doc (bucket, cnt) aggregate. Fully distributed,
    map-side combinable; vocabulary never materializes.
  * solve — the same driver-local solve as WEASEL
    (ml/classifiers._fit_local_softmax, and weasel_grid_fit /
    muse_grid_fit in ml/grid.py): one collect of the bags, then a
    numpy softmax solve, dense below linear.DENSE_BUDGET_BYTES and
    CooRows (driver memory ∝ nnz) above it. The reference's liblinear
    solve is single-node too (WEASELClassifier.java:35); this reuses
    that exact machinery on text bags instead of SFA-word bags.
  * scoring — broadcast weight join → per-doc decimal-summed logits →
    argmax (ml/classifiers._score_with_weights): distributed, one
    keyed join, never doc × vocab.

At 100 TB: featurization is embarrassingly parallel; the bag aggregate
shuffles once on doc_id; the solve holds the non-zeros of the bag on
the driver (24 bytes each as COO).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfa_spark.ml.classifiers import _fit_local_softmax, _score_with_weights
from sfa_spark.operators.text import with_tokens


def hashed_ngram_bags(
    docs: DataFrame, n_buckets: int = 1 << 18, bigrams: bool = True
) -> DataFrame:
    """(doc_id, key, cnt): token unigram (+ bigram) counts hashed into
    `n_buckets` buckets. xxhash64 is engine-internal here (features
    never need an external-engine mirror), pmod keeps buckets
    non-negative."""
    d = with_tokens(docs)
    grams = F.col("toks")
    if bigrams:
        bi = F.when(
            F.size("toks") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            ),
        ).otherwise(F.array())
        grams = F.concat(grams, bi)
    return (
        d.select("doc_id", F.explode(grams).alias("g"))
        .select(
            "doc_id",
            F.pmod(F.xxhash64("g"), F.lit(n_buckets)).alias("key"),
        )
        .groupBy("doc_id", "key")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


class QualityModel:
    def __init__(self, weights, intercept, classes, n_buckets, bigrams):
        self.weights = weights  # (key bigint, w array<double>)
        self.intercept = intercept
        self.classes = classes  # original label values, sorted
        self.n_buckets = n_buckets
        self.bigrams = bigrams

    def predict(self, docs: DataFrame) -> DataFrame:
        """(doc_id, pred) — distributed broadcast-join scoring; the
        class index decodes back to the original label value."""
        bags = hashed_ngram_bags(docs, self.n_buckets, self.bigrams).withColumnRenamed(
            "doc_id", "series_id"
        )
        ids = docs.select(F.col("doc_id").alias("series_id"))
        scored = _score_with_weights(
            bags, ids, self.weights, self.intercept,
            list(range(len(self.classes))),
        )
        classes_arr = F.array(*[F.lit(c) for c in self.classes])
        return scored.select(
            F.col("series_id").alias("doc_id"),
            F.element_at(
                classes_arr, F.col("pred_label").cast("int") + 1
            ).alias("pred"),
        )


def quality_fit(
    docs: DataFrame,
    labels: DataFrame,
    n_buckets: int = 1 << 18,
    bigrams: bool = True,
    C: float = 1.0,
    max_iter: int = 100,
) -> QualityModel:
    """Fit on (doc_id, label) supervision — labels may be any orderable
    type (language codes, keep/drop booleans, domain tags); they are
    index-encoded for the solver and decoded at predict time."""
    classes = sorted(
        r["label"] for r in labels.select("label").distinct().collect()
    )
    idx = {c: float(i) for i, c in enumerate(classes)}
    enc = F.lit(None).cast("double")
    for c in reversed(classes):
        enc = F.when(F.col("label") == F.lit(c), F.lit(idx[c])).otherwise(enc)
    lab = labels.select(
        F.col("doc_id").alias("series_id"), enc.alias("label")
    )
    bags = hashed_ngram_bags(docs, n_buckets, bigrams).withColumnRenamed(
        "doc_id", "series_id"
    )
    weights, intercept, _ = _fit_local_softmax(
        bags, lab, "bigint", max_iter=max_iter, reg_param=C
    )
    return QualityModel(weights, intercept, classes, n_buckets, bigrams)
