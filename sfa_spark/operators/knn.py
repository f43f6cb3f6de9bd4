"""Bag-space 1-NN and Euclidean k-NN joins (SURVEY §2.7 C2, §2.8).

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

Decomposition (so only matching words are ever joined):
    dist(q, c) = sumsq(q) + Σ_{w ∈ both} (tf_c[w]² − 2·tf_q[w]·tf_c[w])
The `dist != sumsq` acceptance rule means zero-overlap candidates can
never win, so the argmin runs over the sparse word-join pairs ONLY —
no cross join anywhere. Counts are integers so distances are EXACT
bigints — no float-ordering ambiguity.

Scale: the word-join is the only shuffle; its key distribution is the
word histogram (Zipfian) → AQE skew-join handles hot words.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def boss_1nn(
    test_bags: DataFrame,
    train_bags: DataFrame,
    loo: bool = False,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """1-NN by BOSS distance. Inputs: (series_id, word, cnt[, *keys]).

    Output: (series_id, nn_id, dist[, *keys]). loo=True skips
    self-matches (leave-one-out over a single corpus). `keys` are extra
    partition columns (e.g. norm/window/word-length) so one call
    resolves 1-NN for EVERY grid combination in a single plan — the
    grid-as-data ensemble fit path.

    Reference acceptance (BOSSEnsembleClassifier.java:216): a neighbor
    must have dist > 0 and dist != sumsq(q), so the argmin needs only
    the word-overlap pairs; queries with no accepted candidate emit no
    row (reference predicts null).
    """
    ks = list(keys)
    q = test_bags.select(
        *ks, F.col("series_id").alias("q_id"), "word", F.col("cnt").alias("q_cnt")
    )
    c = train_bags.select(
        *ks, F.col("series_id").alias("c_id"), "word", F.col("cnt").alias("c_cnt")
    )
    sumsq = q.groupBy(*ks, "q_id").agg(
        F.sum(F.col("q_cnt") * F.col("q_cnt")).alias("sumsq")
    )
    pairs = (
        q.join(c, [*ks, "word"])
        .groupBy(*ks, "q_id", "c_id")
        .agg(
            F.sum(
                F.col("c_cnt") * F.col("c_cnt")
                - F.lit(2) * F.col("q_cnt") * F.col("c_cnt")
            ).alias("corr")
        )
        .join(sumsq, [*ks, "q_id"])
        .withColumn("dist", F.col("sumsq") + F.col("corr"))
        .where((F.col("corr") != 0) & (F.col("dist") > 0))
    )
    if loo:
        pairs = pairs.where(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy(*ks, "q_id").orderBy(
        F.col("dist").asc(), F.col("c_id").asc()
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            *ks, F.col("q_id").alias("series_id"), F.col("c_id").alias("nn_id"), "dist"
        )
    )


def boss_1nn_blocked(
    test_bags: DataFrame,
    train_bags: DataFrame,
    loo: bool = False,
    n_chunks: int | None = None,
) -> DataFrame:
    """boss_1nn with the SAME semantics (exact integer BOSS distances,
    reference acceptance rule corr ≠ 0 ∧ dist > 0, ties → smaller
    nn_id) but a dense blocked-BLAS plan — the big-corpus path.

    Why: the sparse word-join plan materializes Σ_w df_test(w)·df_train(w)
    pair rows. SFA bags have a SMALL FIXED vocabulary (alphabet^len,
    ~128 words here) that every series draws from, so df(w) ~ n and
    the join is quadratic in SERIES COUNT — measured: at sf10 (150k
    series) it wrote ~78 GB of shuffle spill and died, while the
    dense form is two GEMMs per block:

        dist(q, c) = sumsq(q) − 2·(Q Cᵀ)[q,c] + (M_q (C∘C)ᵀ)[q,c]

    with M_q = (Q > 0) the query's word mask (the asymmetric "test
    words only" term). The corpus is hash-chunked and the queries (a
    classification test set) are replicated to every chunk; each chunk
    group densifies its long rows into local matrices and resolves its
    LOCAL argmin in numpy without materializing the pair matrix into
    the plan; a final min(struct(dist, nn_id)) merges chunks. Shuffle
    volume is |bags_q|·n_chunks + |bags_c| long rows — linear in the
    corpus, never pairs. n_chunks defaults to defaultParallelism;
    q_boss_1nn sizes it from its input.

    The word id itself is the dense column index, so words must be
    small non-negative ints — packed SFA words live in
    [0, alphabet^word_length), 256 here; anything else raises
    ValueError. Columns for words absent from a group are all-zero on
    both sides and cancel in every term (mask·(C∘C), Q·Cᵀ, sumsq), so
    no global vocabulary index (three driver-blocking stages, ~1.2 s of
    q_boss_1nn's 2.8 s at sf0.1) is needed.

    Counts are small ints so float64 GEMMs are exact; dist is cast
    back to long. Zero-overlap candidates have corr == 0 (excluded),
    identical-projection candidates dist == 0 (excluded) — matching
    BOSSEnsembleClassifier.java:216 exactly like the sparse path.
    Output: (series_id, nn_id, dist) — bit-identical to boss_1nn
    (tests/test_models.py::test_boss_1nn_blocked_dense_vocab).
    """
    import numpy as np
    import pandas as pd

    spark = test_bags.sparkSession
    P = int(n_chunks or spark.sparkContext.defaultParallelism)

    chunks = spark.range(P).select(F.col("id").cast("int").alias("chunk"))
    q = test_bags.select(
        F.col("series_id").alias("sid"),
        F.col("word").cast("int").alias("widx"),
        "cnt",
        F.lit(True).alias("is_q"),
    ).join(F.broadcast(chunks))
    c = train_bags.select(
        F.col("series_id").alias("sid"),
        F.col("word").cast("int").alias("widx"),
        "cnt",
        F.lit(False).alias("is_q"),
        F.pmod(F.hash("series_id"), F.lit(P)).cast("int").alias("chunk"),
    )

    def _dense(pdf):
        sids = np.sort(pdf["sid"].unique())
        pos = {s: i for i, s in enumerate(sids)}
        m = np.zeros((len(sids), int(pdf["widx"].max()) + 1))
        m[
            pdf["sid"].map(pos).to_numpy(),
            pdf["widx"].to_numpy(dtype=np.int64),
        ] = pdf["cnt"].to_numpy(dtype=np.float64)
        return sids, m

    def _group(kv, pdf):
        qs, cs = pdf[pdf["is_q"]], pdf[~pdf["is_q"]]
        if not len(qs) or not len(cs):
            return pd.DataFrame({"q_id": [], "c_id": [], "dist": []})
        V = int(pdf["widx"].max()) + 1
        # word ids ARE the dense column index, so they must be small
        # non-negative ints. A hashed or negative id would silently
        # wrap on the int cast or allocate a max(widx)+1-wide zero
        # matrix per group — fail fast instead
        # (1<<22 ≈ 32 MB/row of float64, far above any packed-SFA
        # vocabulary: alphabet**word_length is 256 here).
        if int(pdf["widx"].min()) < 0 or V > (1 << 22):
            raise ValueError(
                f"dense word index out of range: [{pdf['widx'].min()}, "
                f"{V - 1}] — boss_1nn_blocked requires word ids in "
                "[0, alphabet**word_length)"
            )
        q_ids, Q = _dense(qs)
        c_ids, C = _dense(cs)
        if Q.shape[1] < V:
            Q = np.pad(Q, ((0, 0), (0, V - Q.shape[1])))
        if C.shape[1] < V:
            C = np.pad(C, ((0, 0), (0, V - C.shape[1])))
        CC = (C * C).T
        CT = C.T
        # Slice the query side so the block distance matrix stays ~32 MB:
        # the full |Q|×|C| matrix at 30k×4k is ~1 GB/task and with 32
        # concurrent tasks thrashed memory (measured 339 s at sf10 for
        # what is ~25 s of GEMM). The slices reuse the same C factors.
        qstep = max(256, int(4_000_000 / max(1, len(c_ids))))
        out_q, out_c, out_d = [], [], []
        for s in range(0, len(q_ids), qstep):
            Qs = Q[s : s + qstep]
            qi = q_ids[s : s + qstep]
            corr = (Qs > 0).astype(np.float64) @ CC - 2.0 * (Qs @ CT)
            dist = (Qs * Qs).sum(axis=1)[:, None] + corr
            invalid = (corr == 0.0) | (dist <= 0.0)
            if loo:
                invalid |= qi[:, None] == c_ids[None, :]
            dist[invalid] = np.inf
            # c_ids ascend, argmin takes the FIRST minimum → smaller
            # nn_id on ties, matching sparse (dist asc, c_id asc).
            j = dist.argmin(axis=1)
            best = dist[np.arange(len(qi)), j]
            keep = np.isfinite(best)
            out_q.append(qi[keep])
            out_c.append(c_ids[j[keep]])
            out_d.append(best[keep])
        return pd.DataFrame(
            {
                "q_id": pd.Series(np.concatenate(out_q), dtype="int64"),
                "c_id": pd.Series(np.concatenate(out_c), dtype="int64"),
                "dist": pd.Series(np.concatenate(out_d), dtype="float64"),
            }
        )

    local = (
        q.unionByName(c)
        .groupBy("chunk")
        .applyInPandas(_group, schema="q_id bigint, c_id bigint, dist double")
    )
    return (
        local.groupBy("q_id")
        .agg(F.min(F.struct("dist", F.col("c_id").alias("c_id"))).alias("b"))
        .select(
            F.col("q_id").alias("series_id"),
            F.col("b.c_id").alias("nn_id"),
            F.col("b.dist").cast("bigint").alias("dist"),
        )
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

    Scale plan: the corpus is hash-CHUNKED; queries are replicated to
    every chunk (a classification query set is broadcast-sized); each
    chunk group resolves its local argmin with one Arrow-batched numpy
    matmul cascade; a final min(struct(dist, c_id)) merges chunks.
    Work is the same O(|Q|·|C|·n·w) as the reference's nested loop but
    spread over n_chunks partitions with BLAS constants — no
    w-amplified crossJoin of exploded window rows (the former plan
    shuffled |Q|·n/w × |C|·n pair ROWS; this ships each series array
    once per chunk).

    Output: (series_id, nn_id, dist).
    """
    import numpy as np
    import pandas as pd

    spark = query_arrays.sparkSession
    P = int(n_chunks or spark.sparkContext.defaultParallelism)
    w_len, nm = int(window), bool(norm_mean)

    chunks = spark.range(P).select(F.col("id").cast("int").alias("chunk"))
    q = (
        query_arrays.where(F.size("values") >= w_len)
        .select("series_id", "values", F.lit(True).alias("is_q"))
        .join(F.broadcast(chunks))
    )
    c = corpus_arrays.where(F.size("values") >= w_len).select(
        "series_id",
        "values",
        F.lit(False).alias("is_q"),
        F.pmod(F.hash("series_id"), F.lit(P)).cast("int").alias("chunk"),
    )

    def _norm(m):
        mu = m.mean(axis=1, keepdims=True)
        sd = m.std(axis=1, keepdims=True)
        inv = 1.0 / np.where(sd < 1e-8, 1.0, sd)
        return (m - mu) * inv if nm else m * inv

    def _group(kv, pdf):
        qs = pdf[pdf["is_q"]].sort_values("series_id")
        cs = pdf[~pdf["is_q"]].sort_values("series_id")
        if not len(qs) or not len(cs):
            return pd.DataFrame({"q_id": [], "c_id": [], "dist": []})
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
        return pd.DataFrame(
            {
                "q_id": pd.Series(out_q, dtype="int64"),
                "c_id": pd.Series(out_c, dtype="int64"),
                "dist": pd.Series(out_d, dtype="float64"),
            }
        )

    local = (
        q.unionByName(c)
        .groupBy("chunk")
        .applyInPandas(_group, schema="q_id bigint, c_id bigint, dist double")
    )
    return (
        local.groupBy("q_id")
        .agg(F.min(F.struct(F.col("dist"), F.col("c_id").alias("c_id"))).alias("b"))
        .select(
            F.col("q_id").alias("series_id"),
            F.col("b.c_id").alias("nn_id"),
            F.col("b.dist").alias("dist"),
        )
    )


def euclidean_knn_long(
    query_long: DataFrame, corpus_long: DataFrame, k: int
) -> DataFrame:
    """Brute-force ED k-NN between equal-length long-form series.

    Join on pos → Σ(a−b)² per pair → top-k per query. This is the
    correctness oracle for the indexed two-phase search (plans/index.py);
    at scale the join is pos-partitioned and the pair aggregation is the
    only wide shuffle.
    Output: (series_id, nn_id, dist, rk).
    """
    qq = query_long.select(
        F.col("series_id").alias("q_id"), "pos", F.col("value").alias("qv")
    )
    cc = corpus_long.select(
        F.col("series_id").alias("c_id"), "pos", F.col("value").alias("cv")
    )
    d = (
        qq.join(cc, "pos")
        .groupBy("q_id", "c_id")
        .agg(F.sum((F.col("qv") - F.col("cv")) ** 2).alias("sqdist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sqdist").asc(), F.col("c_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("q_id").alias("series_id"),
            F.col("c_id").alias("nn_id"),
            F.sqrt("sqdist").alias("dist"),
            "rk",
        )
    )
