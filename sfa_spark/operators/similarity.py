"""Similarity search over embedding columns (BASELINE.json north star).

  * brute-force cosine top-k — the correctness baseline, one arm. The
    dot product is a JVM-side zip_with/aggregate fold (deterministic
    left-to-right summation — reproducible across runs AND mirrorable
    in an oracle), no Python, no construction-time collect; the same
    fold scores hard-negative mining.
  * sign-bucket IVF — the scale path: a cheap coarse quantizer (sign
    bits of the first b dims) buckets vectors; queries probe only their
    bucket. Same two-phase signature→partition→verify shape as the SFA
    trie index and MinHash LSH. Recall/probe-count trade documented at
    the call site; exact re-rank inside the bucket.

At 100 TB: broadcast the (small) query set, scan the corpus once,
per-query top-k via aggregation — no shuffle of the corpus. The bucket
variant prunes the scan with partition pruning when the corpus is
written partitionBy(bucket).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm (JVM fold, deterministic order)."""
    return emb.withColumn("norm", norm_expr(_as_double(F.col(vec_col))))


def norm_expr(a):
    """sqrt(Σ a[i]²) as a deterministic left-to-right JVM fold."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def dot_expr(a, b):
    """Σ a[i]·b[i] as a deterministic left-to-right JVM fold."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def sqdist_expr(a, b):
    """Σ (a[i]−b[i])² as a deterministic left-to-right JVM fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _brute_cosine_rank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    nn_id: str = "nn_id",
    q_carry: list[str] = (),
    c_carry: list[str] = (),
    excl_pair: tuple[str, str] | None = None,
) -> DataFrame:
    """Shared exact-scan core: broadcast the (small) query side, scan
    the corpus once, score cosine with the JVM dot-product fold, rank
    per query. ``q_carry``/``c_carry`` pass extra columns through;
    ``excl_pair=(q_col, c_col)`` prunes pairs whose carried values are
    EQUAL before ranking (hard_negatives' same-label exclusion).

    Lazy and streaming-safe: no construction-time collect and no
    Python worker. The fold evaluates one lambda per vector element
    per pair, linear in |C|·|Q|·d: ~10 s per million 64-dim corpus
    rows (measured r9), where one BLAS matmul per Arrow batch would
    win. No corpus here comes near that: the optimizer estimates the
    sf1 embeddings (20k rows) at 5.6 MB."""
    from sfa_spark.sources.events import spread_scan

    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.col("norm").alias("qn"),
        *q_carry,
    )
    # spread_scan (r9): the per-pair dot-product folds run in the
    # corpus scan's narrow chain — serial on a single-row-group file;
    # identity at cluster scale (guide §2.5).
    corpus = spread_scan(corpus, id_col)
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias(nn_id),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col("norm").alias("cn"),
        *c_carry,
    )
    pairs = c.crossJoin(F.broadcast(q)).where(F.col("q_id") != F.col(nn_id))
    if excl_pair is not None:
        pairs = pairs.where(F.col(excl_pair[0]) != F.col(excl_pair[1]))
    scored = pairs.select(
        "q_id",
        *q_carry,
        nn_id,
        *c_carry,
        (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col(nn_id).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (q_id, nn_id, cosine, rk). Skips self-matches. The query
    side is broadcast — the corpus is scanned exactly once."""
    return _brute_cosine_rank(queries, corpus, k, vec_col, id_col)


def scalar_quantize(
    emb: DataFrame,
    alphabet: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """SQ compression — the SFA idea applied to embeddings (SURVEY §7:
    'SFA words over embedding coordinates generalize to vector
    quantization'): per DIMENSION, equi-width bins over the corpus;
    each float becomes a small int symbol (alphabet≤256 → int8-sized).

    Returns (codes, stats):
      codes = (vec_id, codes array<int>) — 4-8× smaller than float32;
      stats = (dim, vmin, vmax) — the tiny codebook.
    Distances on reconstructed values (bin centers) approximate true
    distances; exact re-rank on the float column is the verify phase.
    """
    dims = emb.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
        F.col(id_col).alias("vid"),
    )
    stats = dims.groupBy("dim").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    rng = F.col("vmax") - F.col("vmin")
    sym = F.when(rng < 1e-12, F.lit(0)).otherwise(
        F.least(
            F.lit(alphabet - 1),
            F.greatest(
                F.lit(0), F.floor((F.col("v") - F.col("vmin")) * alphabet / rng).cast("int")
            ),
        )
    )
    coded = (
        dims.join(F.broadcast(stats), "dim")
        .select("vid", "dim", sym.cast("int").alias("sym"))
        .groupBy("vid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "sym"))),
                lambda s: s["sym"],
            ).alias("codes")
        )
        .select(F.col("vid").alias(id_col), "codes")
    )
    return coded, stats


def sq_reconstructed_topk(
    codes: DataFrame,
    stats: DataFrame,
    k: int,
    alphabet: int = 16,
    n_queries: int = 10,
) -> DataFrame:
    """Approximate top-k by squared ED between RECONSTRUCTED vectors
    (bin centers): recon = vmin + (sym + 0.5)·step. All arithmetic on
    the compressed codes — the float column is never read.

    The codebook (one (vmin, step) per dimension) is collected and
    inlined as literal arrays, reconstruction is a per-row transform,
    and each (q, c) pair is ONE row with a zip_with/aggregate fold —
    never a per-dimension join (which would meet every corpus row 64×).
    The broadcast-queries × corpus scan is the same shape as
    cosine_topk: corpus read once, no corpus shuffle.
    """
    rows = sorted(
        stats.collect(), key=lambda r: r["dim"]
    )  # codebook: #dims rows — driver-size by construction
    vmins = [float(r["vmin"]) for r in rows]
    steps = [
        0.0
        if (r["vmax"] - r["vmin"]) < 1e-12
        else (r["vmax"] - r["vmin"]) / alphabet
        for r in rows
    ]
    vmin_arr = F.array(*[F.lit(v) for v in vmins])
    step_arr = F.array(*[F.lit(s) for s in steps])
    recon = F.zip_with(
        F.zip_with(
            F.transform("codes", lambda c: c.cast("double")),
            step_arr,
            lambda c, s: (c + 0.5) * s,
        ),
        vmin_arr,
        lambda x, v: x + v,
    )
    r = codes.select("vec_id", recon.alias("r"))
    q = r.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("r").alias("qr")
    )
    c = r.select(F.col("vec_id").alias("nn_id"), F.col("r").alias("cr"))
    d = (
        c.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("nn_id"))
        .select(
            "q_id",
            "nn_id",
            sqdist_expr(F.col("qr"), F.col("cr")).alias("sqdist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sqdist").asc(), F.col("nn_id").asc())
    return d.withColumn("rk", F.row_number().over(w).cast("int")).where(
        F.col("rk") <= k
    )


def sign_bucket(col, n_bits: int = 6):
    """Coarse quantizer: bucket = Σ (v[i] > 0) << i over the first
    n_bits dims. Cheap, deterministic, SQL-portable. n_bits is a static
    plan constant, so the sum unrolls into codegen'd expressions."""
    b = F.lit(0).cast("bigint")
    for j in range(n_bits):
        b = b + F.when(F.element_at(col, j + 1) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        ).cast("bigint")
    return b


def probe_buckets_expr(vec_col: str, n_bits: int, n_probes: int):
    """Column: the query's multi-probe bucket list.

    Multi-probe LSH: beyond the query's own sign bucket, probe the
    buckets reached by flipping the sign bits with the SMALLEST
    absolute coordinate (the least-confident signs — where the true
    neighbors leak to). Probe sequence: own, flip(b1), flip(b2),
    flip(b1,b2), truncated to n_probes. Pure SQL expressions; with the
    corpus written partitionBy(bucket), the probe-bucket join prunes to
    n_probes partitions per query.
    """
    assert 1 <= n_probes <= 4
    ms = (
        f"array_sort(transform(sequence(0, {n_bits - 1}), "
        f"j -> struct(abs(cast(element_at({vec_col}, j + 1) as double)) as m, j as j)))"
    )
    own = f"_pb_bucket"
    f1 = f"shiftleft(cast(1 as bigint), {ms}[0].j)"
    f2 = f"shiftleft(cast(1 as bigint), {ms}[1].j)"
    return F.expr(
        f"slice(array({own}, {own} ^ {f1}, {own} ^ {f2}, {own} ^ {f1} ^ {f2}), 1, {n_probes})"
    )


def cosine_topk_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_bits: int = 6,
    n_probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe sign-bucket ANN: each query probes its own bucket
    plus the n_probes−1 nearest flips; exact cosine re-rank over the
    union of probed buckets. Output: (q_id, nn_id, cosine, rk).

    Recall beats single-probe at the same index (candidates ∝
    n_probes/2^n_bits of the corpus); every candidate appears in
    exactly one bucket so no dedup pass is needed. The corpus side is
    untouched — at 100 TB this is a broadcast of (query × n_probes)
    rows against a bucket-partitioned corpus scan with partition
    pruning.
    """
    q = (
        with_norm(queries, vec_col)
        .select(
            F.col(id_col).alias("q_id"),
            _as_double(F.col(vec_col)).alias("qv"),
            F.col("norm").alias("qn"),
        )
        .withColumn("_pb_bucket", sign_bucket(F.col("qv"), n_bits))
        .withColumn("probes", probe_buckets_expr("qv", n_bits, n_probes))
        .select(
            "q_id", "qv", "qn", F.explode("probes").alias("bucket")
        )
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nn_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col("norm").alias("cn"),
        sign_bucket(_as_double(F.col(vec_col)), n_bits).alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket").where(F.col("q_id") != F.col("nn_id"))
    scored = pairs.select(
        "q_id",
        "nn_id",
        (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("nn_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
    )


def cosine_topk_bucketed(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_bits: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: probe only the query's sign bucket, exact
    cosine re-rank inside. Output: (q_id, nn_id, bucket, cosine, rk)."""
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("q_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.col("norm").alias("qn"),
        sign_bucket(_as_double(F.col(vec_col)), n_bits).alias("bucket"),
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nn_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col("norm").alias("cn"),
        sign_bucket(_as_double(F.col(vec_col)), n_bits).alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket").where(F.col("q_id") != F.col("nn_id"))
    scored = pairs.select(
        "q_id",
        "nn_id",
        "bucket",
        (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("nn_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
    )


# ---------------------------------------------------------------------------
# Learned coarse quantizer: k-means IVF (Faiss-style IVFFlat re-expressed
# as DataFrame ops). Train on a bounded deterministic sample (driver
# numpy Lloyd — the sample is bounded no matter the corpus size, same
# shape as fit_equi_depth_bins' driver-side summaries), assign each
# corpus vector to its nearest centroid, write partitionBy(centroid_id),
# probe the n nearest centroids per query with exact re-rank inside.
# Candidates ∝ n_probes/C of the corpus; the probe join prunes
# partitions when the corpus is written partitioned by centroid.


def kmeans_fit(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_limit: int = 65536,
    iters: int = 10,
) -> DataFrame:
    """Lloyd k-means on a deterministic bounded sample; returns a small
    DataFrame (centroid_id int, cvec array<double>).

    Sample = top `sample_limit` rows by xxhash64(id) — uniform and
    deterministic at ANY corpus size (plans as TakeOrderedAndProject,
    no full shuffle). Init = the n_centroids sampled vectors with the
    smallest ids (so `iters=0` yields data-derived centroids an
    external oracle can reproduce). Empty clusters keep their previous
    centroid. Driver cost is O(sample × C × d) numpy — bounded."""
    import numpy as np

    spark = corpus.sparkSession
    # fetch one extra row so exactly-sample_limit-sized tables (full
    # coverage, valid oracle contract) are distinguishable from
    # truncation — limit(N) alone can't tell ==N from >N
    rows = (
        corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        .orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(sample_limit + 1)
        .collect()
    )
    if iters == 0:
        # the iters=0 oracle contract ("centroids = the C smallest-id
        # vectors") only holds when the sample saw the WHOLE table
        assert len(rows) <= sample_limit, (
            f"kmeans_fit(iters=0) needs the full table inside "
            f"sample_limit={sample_limit}; got more rows — raise "
            f"sample_limit or use iters>0 (non-oracle path)"
        )
    rows = rows[:sample_limit]
    rows.sort(key=lambda r: r["id"])
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    cent = x[:n_centroids].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(n_centroids):
            m = assign == j
            if m.any():
                cent[j] = x[m].mean(axis=0)
    return spark.createDataFrame(
        [(int(j), [float(v) for v in cent[j]]) for j in range(n_centroids)],
        "centroid_id int, cvec array<double>",
    )


# max total inlined doubles (C × dim) for ivf_assign's literal
# array-of-structs form; beyond this Catalyst analysis/codegen cost
# dominates and the pandas-UDF path wins
LITERAL_BUDGET = 32768


def _ivf_assign_pandas(df, rows, v, n_probes):
    """Row-local IVF assignment via Arrow-batched pandas UDF: vectorized
    ||x−c||² over a closure-captured (C, dim) numpy matrix; ties break
    to the smallest centroid_id (lexsort), matching the literal path."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    cents = np.array([r["cvec"] for r in rows], dtype=np.float64)
    cids = np.array([int(r["centroid_id"]) for r in rows], dtype=np.int64)
    c_sq = (cents * cents).sum(axis=1)

    @pandas_udf("array<int>")
    def _probe(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        d2 = (x * x).sum(axis=1)[:, None] - 2.0 * x @ cents.T + c_sq[None, :]
        if n_probes == 1:
            best = cids[np.argmin(d2, axis=1)]
            return pd.Series([[int(b)] for b in best])
        out = []
        for i in range(len(x)):
            order = np.lexsort((cids, d2[i]))[:n_probes]
            out.append([int(c) for c in cids[order]])
        return pd.Series(out)

    probed = df.withColumn("_probes", _probe(v))
    if n_probes == 1:
        return (
            probed.withColumn("centroid_id", F.col("_probes")[0])
            .withColumn("crk", F.lit(1).cast("int"))
            .drop("_probes")
        )
    return (
        probed.select("*", F.posexplode("_probes"))
        .withColumn("centroid_id", F.col("col"))
        .withColumn("crk", (F.col("pos") + 1).cast("int"))
        .drop("_probes", "pos", "col")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probes: int = 1,
) -> DataFrame:
    """Attach the n_probes nearest centroid ids to each vector.

    Output: (id_col, vec_col…, centroid_id, crk) with crk = 1..n_probes
    (crk 1 is the home centroid — the IVF list assignment).

    ROW-LOCAL: the centroid table is driver-sized by construction
    (kmeans_fit returns C rows), so it inlines as literal arrays — the
    same trick pq_encode uses for its codebook — and the per-row argmin
    is a codegen'd `array_min` over `(dist, centroid_id)` structs. No
    join, no shuffle, one corpus scan: at 10⁹ vectors the former
    crossJoin+window form exchanged C× the corpus for what this computes
    in place. Ties break to the smallest centroid_id (struct ordering =
    (dist asc, centroid_id asc)), identical to the previous window
    `row_number` semantics, so results are bit-for-bit unchanged.

    Above LITERAL_BUDGET total C×dim literals the inlined expression
    would stress Catalyst (Janino 64KB method fallback, slow analysis),
    so large centroid sets switch to an equally row-local Arrow-batched
    pandas UDF over a closure-captured numpy matrix — same output, same
    tie-break, still zero joins/exchanges.
    """
    rows = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    v = _as_double(F.col(vec_col))
    dim = len(rows[0]["cvec"]) if rows else 0
    if len(rows) * dim > LITERAL_BUDGET:
        return _ivf_assign_pandas(df, rows, v, n_probes)
    darr = F.array(
        *[
            F.struct(
                sqdist_expr(
                    v, F.array(*[F.lit(float(x)) for x in r["cvec"]])
                ).alias("d"),
                F.lit(int(r["centroid_id"])).cast("int").alias("centroid_id"),
            )
            for r in rows
        ]
    )
    if n_probes == 1:
        return df.withColumn(
            "centroid_id", F.array_min(darr)["centroid_id"]
        ).withColumn("crk", F.lit(1).cast("int"))
    probes = F.slice(F.array_sort(darr), 1, n_probes)
    return (
        df.withColumn("_probes", probes)
        .select("*", F.posexplode("_probes"))
        .withColumn("centroid_id", F.col("col")["centroid_id"])
        .withColumn("crk", (F.col("pos") + 1).cast("int"))
        .drop("_probes", "pos", "col")
    )


def cosine_topk_kmeans(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probes: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-Flat ANN: corpus vectors live in their home centroid's list;
    each query probes its n_probes nearest centroids with an exact
    cosine re-rank over the union. Output (q_id, nn_id, cosine, rk).

    At 100 TB: centroids broadcast, corpus assigned once (and ideally
    written partitionBy(centroid_id) — see test for pruning evidence),
    queries broadcast into the probed lists only."""
    c = ivf_assign(
        with_norm(corpus, vec_col), centroids, vec_col, id_col, n_probes=1
    ).select(
        F.col(id_col).alias("nn_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col("norm").alias("cn"),
        "centroid_id",
    )
    q = ivf_assign(
        with_norm(queries, vec_col), centroids, vec_col, id_col, n_probes=n_probes
    ).select(
        F.col(id_col).alias("q_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.col("norm").alias("qn"),
        "centroid_id",
    )
    pairs = c.join(F.broadcast(q), "centroid_id").where(
        F.col("q_id") != F.col("nn_id")
    )
    # each (q, nn) pair occurs at most once: a corpus vector lives in
    # exactly ONE home list, so no dedup pass is needed before ranking
    scored = pairs.select(
        "q_id",
        "nn_id",
        (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("nn_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., IVFADC family): split the vector
# into m subspaces, learn a tiny per-subspace codebook, store each
# vector as m small codes (m bytes at ksub<=256 — 32x smaller than
# float32 at d=64, m=4). Queries compute an asymmetric-distance lookup
# table (LUT) per subspace ONCE, then every candidate distance is m
# array lookups — no float vector is read at scan time. This is the
# compressed-domain ANN tier between SQ (per-dim, weaker) and exact
# re-rank; compose with the k-means IVF for IVF-PQ.


def pq_fit(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_limit: int = 65536,
    iters: int = 10,
) -> DataFrame:
    """Per-subspace Lloyd k-means on the same deterministic bounded
    sample as kmeans_fit. Returns (sub int, code int, svec
    array<double>) — m*ksub rows, a broadcast-sized codebook.

    iters=0 makes code c of every subspace the subvector of the c-th
    smallest-id sampled vector — externally reproducible (the oracle
    trick shared with q_cosine_kmeans)."""
    import numpy as np

    spark = corpus.sparkSession
    rows = (
        corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        .orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(sample_limit + 1)
        .collect()
    )
    if iters == 0:
        # same oracle contract as kmeans_fit: code c of each subspace =
        # the c-th smallest-id vector's subvector requires full coverage.
        # Probe with limit+1 so a table of exactly sample_limit rows
        # (full coverage, valid contract) does not false-fail.
        assert len(rows) <= sample_limit, (
            f"pq_fit(iters=0) needs the full table inside "
            f"sample_limit={sample_limit}; got more rows — raise "
            f"sample_limit or use iters>0 (non-oracle path)"
        )
    rows = rows[:sample_limit]
    rows.sort(key=lambda r: r["id"])
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    d = x.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    out = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        cent = xs[:ksub].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ksub):
                mask = assign == j
                if mask.any():
                    cent[j] = xs[mask].mean(axis=0)
        out.extend(
            (s, int(j), [float(v) for v in cent[j]]) for j in range(ksub)
        )
    return spark.createDataFrame(
        out, "sub int, code int, svec array<double>"
    )


def _codebook_literals(codebook: DataFrame):
    """Collect the (m*ksub)-row codebook into per-subspace literal
    arrays-of-arrays; driver-sized by construction."""
    rows = codebook.collect()
    bysub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        bysub.setdefault(r["sub"], {})[r["code"]] = list(r["svec"])
    m = len(bysub)
    cb = []
    for s in range(m):
        codes = bysub[s]
        cb.append(
            F.array(
                *[
                    F.array(*[F.lit(float(v)) for v in codes[c]])
                    for c in sorted(codes)
                ]
            )
        )
    dsub = len(bysub[0][0])
    return cb, m, dsub


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, pq_codes array<int>): per subspace, the code of
    the nearest codeword (ties → smallest code, matching the oracle's
    (dist, code) ordering). The codebook inlines as literal arrays, so
    encoding is a ROW-LOCAL codegen'd expression — one corpus scan, no
    join, no shuffle; exactly how a 100 TB encode pass should plan.
    `keep_cols` pass through untouched so callers (ivfpq_encode) can
    carry e.g. centroid_id without a re-join."""
    cb, m, dsub = _codebook_literals(codebook)
    v = _as_double(F.col(vec_col))
    codes = []
    for s in range(m):
        sub = F.slice(v, s * dsub + 1, dsub)
        dists = F.transform(cb[s], lambda c: sqdist_expr(sub, c))
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return df.select(
        F.col(id_col).alias(id_col),
        *[F.col(c) for c in keep_cols],
        F.array(*codes).alias("pq_codes"),
    )


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query materializes
    its per-subspace LUT (m × ksub squared distances to every codeword)
    as a row-local array expression; every candidate distance is then
    Σ_s LUT[s][code_s] — m element_at lookups per pair, the float
    corpus column never read.

    Output: (q_id, nn_id, adc_dist, rk). Queries broadcast; the encoded
    corpus (m small ints per vector) is scanned once. At 100 TB the
    scan reads ~3% of the float bytes — the whole point of PQ."""
    cb, m, dsub = _codebook_literals(codebook)
    qv = _as_double(F.col(vec_col))
    lut = F.array(
        *[
            F.transform(
                cb[s],
                (lambda _s: (lambda c: sqdist_expr(F.slice(qv, _s * dsub + 1, dsub), c)))(s),
            )
            for s in range(m)
        ]
    )
    q = queries.select(F.col(id_col).alias("q_id"), lut.alias("lut"))
    pairs = encoded.select(
        F.col(id_col).alias("nn_id"), "pq_codes"
    ).crossJoin(F.broadcast(q)).where(F.col("q_id") != F.col("nn_id"))
    dist = F.aggregate(
        F.zip_with(
            F.col("lut"),
            F.transform("pq_codes", lambda c: c.cast("int")),
            lambda l, c: F.element_at(l, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select("q_id", "nn_id", dist.alias("adc_dist"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("nn_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).where(
        F.col("rk") <= k
    )


def pq_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    codebook: DataFrame,
    k: int,
    shortlist: int = 25,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """The production PQ shape: ADC over codes builds a per-query
    shortlist (compressed-domain scan — ~3% of the float bytes), then
    EXACT squared-ED re-rank reads floats for shortlist rows only.

    Output: (q_id, nn_id, sqdist, rk ≤ k). The shortlist (#queries ×
    shortlist rows) broadcasts into the float-corpus join, so the full
    float column is touched for candidate ids alone — at 100 TB that is
    the difference between scanning 100 TB and scanning ~3 TB of codes
    plus point-reads of candidates. Pass `encoded` (a persisted
    pq_encode output — the on-disk code index) to skip re-encoding the
    corpus on every search call."""
    enc = encoded if encoded is not None else pq_encode(
        corpus, codebook, vec_col, id_col
    )
    short = pq_adc_topk(queries, enc, codebook, k=shortlist, vec_col=vec_col, id_col=id_col)
    cand = short.select("q_id", "nn_id")
    c = corpus.select(
        F.col(id_col).alias("nn_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    exact = (
        c.join(F.broadcast(cand), "nn_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", "nn_id", sqdist_expr(F.col("qv"), F.col("cv")).alias("sqdist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sqdist").asc(), F.col("nn_id").asc())
    return exact.withColumn("rk", F.row_number().over(w).cast("int")).where(
        F.col("rk") <= k
    )


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC): PQ over RESIDUALS v − centroid(v) inside k-means
# lists. Residuals concentrate near zero, so the same codebook bits buy
# more precision than plain PQ; the coarse quantizer prunes the scan to
# n_probes lists and the ADC scan inside a list reads codes only.


def residuals(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid_id, resid array<double>): each vector minus its
    home centroid. Broadcast centroid join + row-local zip_with."""
    assigned = ivf_assign(df, centroids, vec_col, id_col, n_probes=1)
    return (
        assigned.join(F.broadcast(centroids), "centroid_id")
        .select(
            F.col(id_col),
            "centroid_id",
            F.zip_with(
                _as_double(F.col(vec_col)), F.col("cvec"), lambda x, c: x - c
            ).alias("resid"),
        )
    )


def ivfpq_fit(
    corpus: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 10,
    sample_limit: int = 65536,
) -> DataFrame:
    """PQ codebook trained on residuals (the IVFADC convention —
    one shared codebook across lists). Returns (sub, code, svec)."""
    res = residuals(corpus, centroids, vec_col, id_col).select(
        F.col(id_col), F.col("resid")
    )
    return pq_fit(
        res, m=m, ksub=ksub, vec_col="resid", id_col=id_col,
        iters=iters, sample_limit=sample_limit,
    )


def ivfpq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid_id, pq_codes): home list + residual PQ codes —
    the complete compressed index entry (one int + m small ints per
    vector). Residuals are computed ONCE and centroid_id rides through
    pq_encode as a pass-through column — fully row-local after the
    broadcast centroid join, no corpus-wide re-join; written
    partitionBy(centroid_id) this IS the on-disk IVF-PQ index."""
    res = residuals(corpus, centroids, vec_col, id_col)
    return pq_encode(
        res, codebook, vec_col="resid", id_col=id_col, keep_cols=("centroid_id",)
    )


def ivfpq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    k: int,
    n_probes: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search over the IVF-PQ index: each query probes its n_probes
    nearest lists; within a probed list the query's residual (q − that
    list's centroid) builds the LUT, and every candidate distance is m
    lookups. Output: (q_id, nn_id, adc_dist, rk).

    The per-(query, probed-list) LUT is a row-local array expression on
    the broadcast query side — list-specific, as IVFADC requires (the
    residual depends on which centroid the query is probing)."""
    cb, m, dsub = _codebook_literals(codebook)
    q_assigned = ivf_assign(queries, centroids, vec_col, id_col, n_probes=n_probes)
    qres = (
        q_assigned.join(F.broadcast(centroids), "centroid_id")
        .select(
            F.col(id_col).alias("q_id"),
            "centroid_id",
            F.zip_with(
                _as_double(F.col(vec_col)), F.col("cvec"), lambda x, c: x - c
            ).alias("qr"),
        )
    )
    lut = F.array(
        *[
            F.transform(
                cb[s],
                (lambda _s: (lambda c: sqdist_expr(
                    F.slice(F.col("qr"), _s * dsub + 1, dsub), c
                )))(s),
            )
            for s in range(m)
        ]
    )
    q = qres.select("q_id", "centroid_id", lut.alias("lut"))
    pairs = (
        encoded.select(
            F.col(id_col).alias("nn_id"), "centroid_id", "pq_codes"
        )
        .join(F.broadcast(q), "centroid_id")
        .where(F.col("q_id") != F.col("nn_id"))
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("lut"),
            F.transform("pq_codes", lambda c: c.cast("int")),
            lambda l, c: F.element_at(l, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select("q_id", "nn_id", dist.alias("adc_dist"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("nn_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).where(
        F.col("rk") <= k
    )


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic random projection (sparse-JL / SimHash-style
    dimensionality reduction to `out_dim` dims): y[k] = Σ_j x[j]·s(j,k)
    with a ±1 sign matrix DERIVED, not stored — s(j,k) is bit 16 of the
    Knuth multiplicative hash of the flat index j·out_dim+k, so any
    engine (and the DuckDB oracle) reproduces the same matrix from the
    formula alone. Cosine distances are preserved in expectation
    (Johnson–Lindenstrauss); downstream LSH/clustering runs on the
    16-dim sketch at 1/4 the bytes of the 64-dim float input.

    Output: (id, k, val) exploded long-form, val = the k-th projected
    coordinate (unrounded; round at the query edge).

    Shape: fully row-local JVM codegen — nested higher-order functions
    (transform over k, fold over j), zero shuffles, zero Python, no
    broadcast (the matrix is a formula). At 100 TB this is a pure map
    stage; projection cost is D·out_dim multiply-adds per row."""
    K = int(out_dim)
    # s(j,k) = 1 - 2·bit16((j·K + k) · 2654435761 mod 2^32): the low
    # bits of a multiplicative hash alternate, bit 16 is well mixed
    sign = (
        f"(1 - 2 * ((((((j * {K}) + k) * 2654435761) % 4294967296) "
        f"DIV 65536) % 2))"
    )
    proj = F.expr(
        f"transform(sequence(0, {K - 1}), k -> "
        f"  aggregate("
        f"    zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
        f"             (x, j) -> CAST(x AS DOUBLE) * {sign}), "
        f"    CAST(0 AS DOUBLE), (acc, y) -> acc + y))"
    )
    return emb.select(
        id_col, F.posexplode(proj).alias("k", "val")
    ).select(id_col, F.col("k").cast("int").alias("k"), "val")


# ------------------------------------------------------------------
# On-disk IVF-PQ index lifecycle: write once, append increments, read
# for search. The layout (parquet partitionBy centroid_id) is what
# ivfpq_topk's probe join prunes against; append keeps it valid
# because codebooks and centroids are FROZEN after fit — new vectors
# encode row-locally against the same artifacts and land in their
# list's partition as new files. Re-fit (drift) = rewrite, by design:
# a changed codebook invalidates every stored code, same as FAISS.


def ivfpq_write(encoded: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize an ivfpq_encode() result as the partitioned index."""
    encoded.write.partitionBy("centroid_id").mode(mode).parquet(path)


def ivfpq_append(
    new_vectors: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode a new vector batch with the FROZEN centroids/codebook
    and append it to the on-disk index — a row-local map job plus a
    partitioned write; the existing index files are untouched. Caller
    contract: ids in the batch must be new (the index is append-only;
    dedup upstream or compact with ivfpq_write(mode='overwrite'))."""
    enc = ivfpq_encode(new_vectors, centroids, codebook, vec_col, id_col)
    ivfpq_write(enc, path, mode="append")


def ivfpq_read(spark, path: str) -> DataFrame:
    """Scan of the on-disk index, partition-prunable on centroid_id."""
    return spark.read.parquet(path)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each query, the k corpus vectors MOST similar by cosine that carry
    a DIFFERENT label (same-label rows are positives, not negatives —
    mining them would poison the loss). Output: (q_id, q_label,
    neg_id, neg_label, cosine, rk).

    Exact top-k via the same broadcast-query scan as cosine_topk (the
    corpus is read once; the label filter prunes pairs before scoring
    so positives never reach the window). At 100 TB swap the exact
    scan for the IVF probe: ivf_assign both sides, join on
    centroid_id, apply the same label filter — identical downstream
    ranking, candidates ∝ list size."""
    return _brute_cosine_rank(
        queries.withColumn("q_label", F.col(label_col)),
        corpus.withColumn("neg_label", F.col(label_col)),
        k,
        vec_col,
        id_col,
        nn_id="neg_id",
        q_carry=["q_label"],
        c_carry=["neg_label"],
        excl_pair=("q_label", "neg_label"),
    ).select("q_id", "q_label", "neg_id", "neg_label", "cosine", "rk")
