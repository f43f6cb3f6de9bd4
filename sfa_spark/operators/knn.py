"""Bag-space and Shotgun 1-NN (SURVEY §2.7 C2, C8).

Reference parity:
  * BOSS 1-NN — BOSSEnsembleClassifier.predict
    (`/root/reference/src/main/java/sfa/classification/BOSSEnsembleClassifier.java:184-236`):
    asymmetric squared distance over the TEST bag's words only:
    dist(q, c) = Σ_{w ∈ bag(q)} (tf_q[w] − tf_c[w])²; argmin candidate.
    The reference accepts a neighbor only when `distance !=
    noMatchDistance && distance > 0` (line 216) — candidates sharing no
    word (or whose cross terms cancel to the no-match distance, or with
    an identical bag projection) are SKIPPED; a query with no accepted
    candidate gets no prediction (null label → scored incorrect).
  * Shotgun 1-NN — ShotgunClassifier.java:161-238.

Both run on one chunked plan (`_chunked_1nn`): the corpus is
hash-chunked, the queries are replicated to every chunk, each
(*keys, chunk) group resolves its LOCAL argmin in numpy, and a final
min(struct(dist, nn_id)) merges chunks. Shuffle volume is |Q|·n_chunks
+ |C| input rows — linear in the corpus, never pairs. A word-join
would instead materialize Σ_w df_test(w)·df_train(w) pair rows: SFA
bags draw from a small fixed vocabulary, so that join is quadratic in
series count (measured at sf10, 150k series: ~78 GB of shuffle spill).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def _chunked_1nn(
    queries: DataFrame,
    corpus: DataFrame,
    keys: tuple[str, ...],
    n_chunks: int,
    block,
    dist_type,
) -> DataFrame:
    """Shared 1-NN skeleton. `queries`/`corpus` carry (*keys,
    series_id, payload...); every query row is replicated to each of
    `n_chunks` chunks, every corpus row goes to the chunk its
    series_id hashes to. `block(q_pdf, c_pdf)` returns the group's
    (q_ids, c_ids, dists) argmin arrays, or None for no row; ties must
    go to the smaller c_id, as the chunk merge's struct min does.
    Output: (*keys, series_id, nn_id, dist)."""
    spark = queries.sparkSession
    ks = list(keys)
    P = int(n_chunks)
    chunks = spark.range(P).select(F.col("id").cast("int").alias("chunk"))
    both = (
        queries.withColumn("is_q", F.lit(True))
        .join(F.broadcast(chunks))
        .unionByName(
            corpus.withColumn("is_q", F.lit(False)).withColumn(
                "chunk", F.pmod(F.hash("series_id"), F.lit(P)).cast("int")
            )
        )
    )
    schema = StructType(
        [queries.schema[k] for k in ks]
        + [
            StructField("q_id", LongType()),
            StructField("c_id", LongType()),
            StructField("dist", dist_type),
        ]
    )

    def _group(kv, pdf):
        is_q = pdf["is_q"].to_numpy(dtype=bool)
        res = block(pdf[is_q], pdf[~is_q]) if is_q.any() and not is_q.all() else None
        q_ids, c_ids, dist = ([], [], []) if res is None else res
        out = {k: [v] * len(q_ids) for k, v in zip(ks, kv)}
        out.update(q_id=q_ids, c_id=c_ids, dist=dist)
        return pd.DataFrame(out)

    local = both.groupBy(*ks, "chunk").applyInPandas(_group, schema)
    if P == 1:  # one group per key: its argmin is already final
        return local.select(
            *ks, F.col("q_id").alias("series_id"), F.col("c_id").alias("nn_id"), "dist"
        )
    return (
        local.groupBy(*ks, "q_id")
        .agg(F.min(F.struct("dist", "c_id")).alias("b"))
        .select(
            *ks,
            F.col("q_id").alias("series_id"),
            F.col("b.c_id").alias("nn_id"),
            F.col("b.dist").alias("dist"),
        )
    )


def _dense(sids: np.ndarray, cols: np.ndarray, cnt: np.ndarray, n_cols: int):
    """Long (series, column, count) rows → (sorted ids, dense matrix)."""
    ids, rows = np.unique(np.asarray(sids, dtype=np.int64), return_inverse=True)
    m = np.zeros((len(ids), n_cols))
    m[rows, cols] = np.asarray(cnt, dtype=np.float64)
    return ids, m


def boss_1nn(
    test_bags: DataFrame,
    train_bags: DataFrame,
    loo: bool = False,
    keys: tuple[str, ...] = (),
    n_chunks: int | None = None,
) -> DataFrame:
    """1-NN by BOSS distance. Inputs: (series_id, word, cnt[, *keys]).

    Output: (*keys, series_id, nn_id, dist bigint). loo=True skips
    self-matches (leave-one-out over a single corpus). `keys` are extra
    partition columns (e.g. norm/window/word-length) so one call
    resolves 1-NN for EVERY grid combination in a single plan — the
    grid-as-data ensemble fit path.

    Each (*keys, chunk) group is two GEMMs per query slice:

        dist(q, c) = sumsq(q) − 2·(Q Cᵀ)[q,c] + (M_q (C∘C)ᵀ)[q,c]

    with M_q = (Q > 0) the query's word mask (the asymmetric "test
    words only" term). The group indexes its own words: only the
    query side's words get a column, since a candidate word no query
    holds adds nothing to any distance, so word ids may be any bigint
    (hashed or 32-bit grid words included). Counts are small ints, so
    float64 GEMMs are exact and dist is an exact bigint.

    Reference acceptance (BOSSEnsembleClassifier.java:216): zero-overlap
    candidates have corr == 0, identical-projection candidates dist
    == 0; both are skipped. Ties go to the smaller nn_id; queries with
    no accepted candidate emit no row (reference predicts null).

    n_chunks defaults to defaultParallelism for an unkeyed call and to
    1 for a keyed one, whose key groups already spread the work (the
    grid fits ran fastest so; q_boss_1nn sizes it from its input).
    """
    spark = test_bags.sparkSession
    if n_chunks is None:
        n_chunks = 1 if keys else spark.sparkContext.defaultParallelism

    def _block(qs, cs):
        # the group's word index: the query side's words only
        words, q_col = np.unique(qs["word"].to_numpy(np.int64), return_inverse=True)
        c_word = cs["word"].to_numpy(np.int64)
        c_col = np.minimum(np.searchsorted(words, c_word), len(words) - 1)
        hit = words[c_col] == c_word
        if not hit.any():
            return None
        q_ids, Q = _dense(qs["series_id"], q_col, qs["cnt"], len(words))
        c_ids, C = _dense(cs["series_id"][hit], c_col[hit], cs["cnt"][hit], len(words))
        CC, CT = (C * C).T, C.T
        # Slice the query side so the block distance matrix stays ~32 MB:
        # the full |Q|×|C| matrix at 30k×4k is ~1 GB/task and with 32
        # concurrent tasks thrashed memory (measured 339 s at sf10 for
        # what is ~25 s of GEMM). The slices reuse the same C factors.
        qstep = max(256, int(4_000_000 / len(c_ids)))
        out_q, out_c, out_d = [], [], []
        for s in range(0, len(q_ids), qstep):
            Qs, qi = Q[s : s + qstep], q_ids[s : s + qstep]
            corr = (Qs > 0).astype(np.float64) @ CC - 2.0 * (Qs @ CT)
            dist = (Qs * Qs).sum(axis=1)[:, None] + corr
            invalid = (corr == 0.0) | (dist <= 0.0)
            if loo:
                invalid |= qi[:, None] == c_ids[None, :]
            dist[invalid] = np.inf
            # c_ids ascend and argmin takes the FIRST minimum → the
            # smaller nn_id on ties
            j = dist.argmin(axis=1)
            best = dist[np.arange(len(qi)), j]
            keep = np.isfinite(best)
            out_q.append(qi[keep])
            out_c.append(c_ids[j[keep]])
            out_d.append(best[keep])
        return (
            np.concatenate(out_q),
            np.concatenate(out_c),
            np.concatenate(out_d).astype(np.int64),
        )

    cols = [*keys, "series_id", F.col("word").cast("bigint").alias("word"), "cnt"]
    return _chunked_1nn(
        test_bags.select(*cols),
        train_bags.select(*cols),
        keys,
        n_chunks,
        _block,
        LongType(),
    )


def shotgun_1nn(
    query_arrays: DataFrame,
    corpus_arrays: DataFrame,
    window: int,
    norm_mean: bool = True,
    n_chunks: int | None = None,
) -> DataFrame:
    """Shotgun distance 1-NN (reference ShotgunClassifier.java:161-238):
    the query is cut into DISJOINT windows; each window's best (min) ED
    against ALL sliding windows of the candidate; distances summed;
    argmin candidate. Window normalization: σ-divide with σ < 1e-8 → 1,
    mean-subtract iff norm_mean.

    Runs on the chunked 1-NN plan: each chunk group resolves its local
    argmin with a numpy matmul per (query, candidate) pair. Work is the
    same O(|Q|·|C|·n·w) as the reference's nested loop, spread over
    n_chunks (default defaultParallelism) partitions with BLAS
    constants; each series array ships once per chunk.

    Output: (series_id, nn_id, dist).
    """
    spark = query_arrays.sparkSession
    w_len, nm = int(window), bool(norm_mean)

    def _norm(m):
        mu = m.mean(axis=1, keepdims=True)
        sd = m.std(axis=1, keepdims=True)
        inv = 1.0 / np.where(sd < 1e-8, 1.0, sd)
        return (m - mu) * inv if nm else m * inv

    def _block(qs, cs):
        qs, cs = qs.sort_values("series_id"), cs.sort_values("series_id")
        c_mats = []
        for cid, vals in zip(cs["series_id"], cs["values"]):
            x = np.asarray(vals, dtype=np.float64)
            sw = np.lib.stride_tricks.sliding_window_view(x, w_len)
            c_mats.append((int(cid), _norm(sw.astype(np.float64))))
        out_q, out_c, out_d = [], [], []
        for qid, vals in zip(qs["series_id"], qs["values"]):
            x = np.asarray(vals, dtype=np.float64)
            k = len(x) // w_len
            Q = _norm(x[: k * w_len].reshape(k, w_len).astype(np.float64))
            q2 = (Q * Q).sum(axis=1)
            best_d, best_c = np.inf, None
            for cid, C in c_mats:
                d = q2[:, None] + (C * C).sum(axis=1)[None, :] - 2.0 * (Q @ C.T)
                total = float(np.maximum(d, 0.0).min(axis=1).sum())
                if total < best_d or (total == best_d and cid < best_c):
                    best_d, best_c = total, cid
            out_q.append(int(qid))
            out_c.append(best_c)
            out_d.append(best_d)
        return (
            np.asarray(out_q, dtype=np.int64),
            np.asarray(out_c, dtype=np.int64),
            np.asarray(out_d, dtype=np.float64),
        )

    def _arrays(df):
        return df.where(F.size("values") >= w_len).select("series_id", "values")

    return _chunked_1nn(
        _arrays(query_arrays),
        _arrays(corpus_arrays),
        (),
        n_chunks or spark.sparkContext.defaultParallelism,
        _block,
        DoubleType(),
    )
