"""Index-path driver queries: the prefix-partitioned SFA index answers
k-NN and ε-range over the embeddings table; the DuckDB oracles
recompute via brute-force linear scans — cross-implementation checks of
the whole probe → box-prune → row-LB → verify plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sfa_spark.plans.index import SFAIndex
from sfa_spark.queries import rnd
from sfa_spark.sources.events import load_table
from sfa_spark.tempdirs import process_tmpdir

IDX_K = 3
IDX_QUERIES = 10
RANGE_EPS = 10.0

_INDEX_CACHE: dict[str, SFAIndex] = {}


def _vec_arrays(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("series_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("values"),
    )


def _index(spark, sf_dir) -> SFAIndex:
    """Build once per (process, sf_dir) — the driver may run several
    index queries in one session; the index is the shared artifact
    (exactly how it would be persisted in production)."""
    if sf_dir not in _INDEX_CACHE:
        arrays = _vec_arrays(spark, sf_dir)
        path = process_tmpdir("sfa_index_")
        _INDEX_CACHE[sf_dir] = SFAIndex.build(
            arrays, path, word_length=8, alphabet=8, prefix_len=2
        )
    return _INDEX_CACHE[sf_dir]


def q_index_knn(spark, sf_dir):
    idx = _index(spark, sf_dir)
    res = idx.knn(_vec_arrays(spark, sf_dir).where(F.col("series_id") < IDX_QUERIES), k=IDX_K)
    return res.select("q_id", "nn_id", rnd("dist", 4).alias("dist"), "rk")


def q_index_range(spark, sf_dir):
    """ε-range search (I7): box-filtered partitions + exact residual;
    oracle is the full linear scan with the same threshold."""
    idx = _index(spark, sf_dir)
    res = idx.range_search(
        _vec_arrays(spark, sf_dir).where(F.col("series_id") < IDX_QUERIES),
        epsilon=RANGE_EPS,
    )
    return res.select("q_id", "nn_id", rnd("dist", 4).alias("dist"))
