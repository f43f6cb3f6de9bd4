"""Deduplication for LLM training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Scale design:
  * exact        — one hash-groupBy; the canonical 100 TB dedup pass.
  * jaccard      — inverted-index join on shingles (never a cross
                   join); candidate pairs only where ≥1 shared shingle.
                   Hot shingles are Zipf-skewed → AQE skew join; a
                   document-frequency cap (drop shingles in > max_df
                   docs) bounds the pair blow-up, exactly like the
                   reference's χ²/WORD_LIMIT feature pruning.
  * minhash+LSH  — signature = per-seed min of md5(seed|shingle)
                   (portable, engine-stable string hashing); band join
                   turns near-dup search into an equality join —
                   the same signature→partition→verify shape as the
                   SFA trie (SURVEY §2.8 / §7 'beyond-reference').
  * simhash      — 32-bit majority-vote fingerprint; hamming-ball
                   lookup via 4-band exact-match blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sfa_spark.operators.text import shingles


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group by content hash; keep the smallest doc_id of each group.
    Output: (text_hash, keeper_doc_id, dup_cnt)."""
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_cnt"),
        )
    )


def jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    max_df: int | None = None,
    guard_max_df: int | None = None,
) -> DataFrame:
    """All candidate pairs (a < b) sharing ≥1 shingle, with exact
    n-gram Jaccard = |∩| / |∪|. Output: (doc_a, doc_b, inter, union_sz,
    jaccard). Integer set sizes → jaccard is an exact rational.

    The uncapped mode (max_df=None) is quadratic on hot shingles — a
    stopword-like shingle appearing in d docs contributes d·(d−1)/2
    pairs. `guard_max_df` makes that blow-up structurally unreachable:
    an in-plan assert_true() gate (broadcast 1-row max-df aggregate +
    filter) aborts execution BEFORE the pair join if any shingle's
    document frequency exceeds the guard, pointing at the df-capped
    production mode (max_df=...). The gate sits on one consumer of the
    shingles only, the `a` side of the self-join (sizes and the `b`
    side read the ungated shingles), so exactly one stage can fail and
    the caller always sees one pyspark.errors.SparkRuntimeException
    whose message names guard_max_df. The guard travels with the plan —
    it fires wherever the query runs, not just where it was built —
    and costs one extra shingle aggregate, irrelevant for the
    exactness-oracle corpora it is meant for. Mirrors the reference's
    own hot-feature pruning (χ²/WORD_LIMIT cap,
    transformation/WEASEL.java:287-324).

    NOT persisted (r9 negative result): the plan consumes the shingle
    table four times (df cap/guard aggregate, per-doc sizes, both
    sides of the inverted-index self-join) and a persist() looks like
    the guide §5 move — measured, it is a 2× LOSS (sf0.1 interleaved
    noop A/B: persisted min 4.19 s vs recompute min 2.23 s).
    Post-spread_scan the four subtree recomputes run fully parallel
    across all cores, while the cache serializes every consumer behind
    one materialization pass and pays the cache write + memory
    pressure. Same mechanism as the reverted Q15 persist."""
    sh = shingles(docs, k)
    if max_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(
            F.broadcast(df_counts.where(F.col("df") <= max_df).select("shingle")),
            "shingle",
        )
    gated = sh
    if max_df is None and guard_max_df is not None:
        hottest = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.max("df").alias("_max_df_seen"))
        )
        msg = F.concat(
            F.lit("jaccard_pairs(uncapped): hottest shingle df="),
            F.col("_max_df_seen").cast("string"),
            F.lit(
                f" exceeds guard_max_df={guard_max_df}; the "
                "all-pairs join would be quadratic on this "
                "shingle — use the df-capped mode "
                "(max_df=...) at production scale"
            ),
        )
        # assert_true: NULL when the condition holds, raises msg when
        # not — the built-in form of an in-plan abort gate
        gate = F.assert_true(
            F.col("_max_df_seen") <= guard_max_df, msg
        ).isNull()
        gated = (
            sh.join(F.broadcast(hottest), how="cross")
            .where(gate)
            .drop("_max_df_seen")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = gated.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("bigint").alias("union_sz"),
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def cross_run_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    hash_col: str | None = None,
) -> DataFrame:
    """Incremental (cross-run) exact dedup: classify every document of
    a NEW crawl batch against a persisted index of previously-seen
    content hashes — the production shape of recurring-crawl corpus
    maintenance (each run dedups against ALL prior runs without ever
    re-reading them).

    Status per new doc:
      * 'seen_in_prior' — content hash exists in `seen_hashes`
        (prior corpus wins over any batch keeper);
      * 'dup_in_batch'  — first seen in THIS batch but not by this row
        (keeper = min doc_id of the hash within the batch);
      * 'kept'          — the batch keeper of a never-seen hash.

    Scale shape: one window-min over the batch hash (same Exchange as
    exact_dedup) + one join against the seen index on the hash. At
    100 TB persist `seen_hashes` bucketed BY text_hash and write the
    batch side bucketed the same way — the join is then co-located
    with no shuffle of the index; boilerplate hot hashes are handled
    by AQE skew splitting. The updated index is
    `seen_hashes ∪ kept hashes` (append-only, naturally bucketed).
    Pass ``hash_col`` when the batch already carries its content hash
    (the bucketed-by-text_hash production layout): the operator then
    joins and windows directly on the stored column, so the bucketed
    scan's partitioning is preserved and the Exchanges elide —
    plan-asserted in tests/test_bucketed_plans.py.

    Output: (doc_id, text_hash, status)."""
    if hash_col is not None:
        h = new_docs.select(
            "doc_id", F.col(hash_col).alias("text_hash")
        )
    else:
        h = new_docs.select(
            "doc_id", F.md5(F.col(text_col)).alias("text_hash")
        )
    h = h.withColumn(
        "_min_id", F.min("doc_id").over(Window.partitionBy("text_hash"))
    )
    seen = (
        seen_hashes.select("text_hash").distinct().withColumn("_seen", F.lit(True))
    )
    joined = h.join(seen, "text_hash", "left")
    status = (
        F.when(F.col("_seen"), F.lit("seen_in_prior"))
        .when(F.col("doc_id") != F.col("_min_id"), F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
    )
    return joined.select("doc_id", "text_hash", status.alias("status"))


def jaccard_verify(
    docs: DataFrame,
    cand: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard computed for the given candidate pairs ONLY
    — the verify phase of two-phase (LSH → verify) near-dedup.

    Scale shape (the point of LSH): the shingle table is first
    restricted by a LEFT SEMI join on candidate doc-ids, then the
    candidate pair list is expanded by doc_a's shingle set and matched
    on (doc_b, shingle). Cost is O(Σ_cand |shingles(doc_a)|) — linear
    in the candidate list — never the all-pairs inverted-index
    self-join of `jaccard_pairs`, which is quadratic on hot shingles.

    Input `cand`: (doc_a, doc_b[, ...]) with doc_a < doc_b.
    Output: (doc_a, doc_b, inter, union_sz, jaccard) for candidates
    sharing ≥1 shingle (zero-intersection candidates drop out, matching
    an inner join against the exact pair set)."""
    sh = shingles(docs, k)
    # distinct(): a duplicated (doc_a, doc_b) row in cand would
    # multiply inter (and thus jaccard); cheap next to the shingle
    # expansion, and it makes the input contract structural rather
    # than documented.
    pairs = cand.select("doc_a", "doc_b").distinct()
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_ids, "doc_id", "left_semi")
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh_c.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_c.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("bigint").alias("union_sz"),
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def minhash_signatures(docs: DataFrame, n_seeds: int = 8, k: int = 3) -> DataFrame:
    """(doc_id, seed, minhash): per-seed min over md5(seed|shingle).

    md5-string min is engine-portable and deterministic — no reliance on
    engine-specific hash functions. One aggregation over the exploded
    (shingle × seed) space; seeds are a tiny constant factor.

    r8 negative result, kept for the record: folding all seeds into ONE
    groupBy(doc_id) of n_seeds min(md5(...)) aggregates (saving the 8×
    row amplification and letting the band grouping reuse the doc_id
    partitioning exchange-free) measured ~1.5× SLOWER on the signature
    stage at sf1 (13.0 s vs 8.6 s noop-sink) and regressed
    q_lsh_verified_dedup 10.6 → 16.5 s — eight variable-length
    min-string buffers in a single aggregate lose more to the slow
    var-length-buffer aggregation path than the narrower shuffle wins;
    the (doc_id, seed) form keeps one fixed buffer per group and its
    exchanges are AQE-reused across the multi-consumer plans. Reverted."""
    sh = shingles(docs, k)
    seeds = docs.sparkSession.range(n_seeds).select(F.col("id").cast("int").alias("seed"))
    return (
        sh.crossJoin(F.broadcast(seeds))
        .select(
            "doc_id",
            "seed",
            F.md5(F.concat_ws("|", F.col("seed"), F.col("shingle"))).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def band_keys(signatures: DataFrame, band_size: int = 2) -> DataFrame:
    """(doc_id, band, band_key): band = seed div band_size, key = md5 of
    the band's minhashes concatenated in seed order."""
    return (
        signatures.withColumn("band", (F.col("seed") / band_size).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda s: s["minhash"],
                    ),
                )
            ).alias("band_key")
        )
    )


def incremental_lsh_dedup(
    new_docs: DataFrame,
    seen_bands: DataFrame,
    n_seeds: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """Cross-run NEAR-dup candidates: classify a new crawl batch
    against a PERSISTED MinHash band index (the near-dup twin of
    cross_run_dedup — each run screens against all prior runs without
    re-shingling them). `seen_bands` is band_keys() output persisted
    from prior runs ((doc_id, band, band_key) — at 100 TB bucketed BY
    band_key so the index never shuffles).

    Output, one row per new doc:
      * status 'near_prior'  — ≥1 band collides with the prior index;
      * status 'near_batch'  — no prior hit, but collides with a
        LOWER-doc_id batch doc (the batch keeper survives);
      * status 'kept'        — no collision anywhere.
    Plus n_prior_hits / n_batch_hits (band-collision counts, the
    verify phase's candidate budget). Candidates are CANDIDATES — the
    production recipe pipes 'near_*' rows into jaccard_verify, exactly
    like q_lsh_verified_dedup; this operator is the index probe.

    Scale shape: one band-key equality join per side (index probe +
    within-batch self-join), both map-side aggregable to per-doc
    counts; no all-pairs, no re-read of prior corpora."""
    sig = minhash_signatures(new_docs, n_seeds=n_seeds, k=k)
    # cache: banded feeds three consumers (index probe + both sides of
    # the within-batch self-join); recomputing the shingle→minhash
    # chain 3× would dominate. The entry stays cached after the caller
    # acts (laziness forbids unpersisting here) — default storage level
    # is LRU-evictable, and harnesses that run many queries clear the
    # cache between them (tools/check_oracle.py, bench.py teardown).
    banded = band_keys(sig, band_size).cache()
    prior_hits = (
        banded.join(
            seen_bands.select("band", "band_key").distinct(),
            ["band", "band_key"],
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_prior_hits"))
    )
    a = banded
    b = banded.select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    batch_hits = (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_b") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_batch_hits"))
    )
    ids = new_docs.select("doc_id").distinct()
    j = ids.join(prior_hits, "doc_id", "left").join(
        batch_hits, "doc_id", "left"
    )
    status = (
        F.when(F.col("n_prior_hits").isNotNull(), F.lit("near_prior"))
        .when(F.col("n_batch_hits").isNotNull(), F.lit("near_batch"))
        .otherwise(F.lit("kept"))
    )
    return j.select(
        "doc_id",
        status.alias("status"),
        F.coalesce("n_prior_hits", F.lit(0)).cast("bigint").alias("n_prior_hits"),
        F.coalesce("n_batch_hits", F.lit(0)).cast("bigint").alias("n_batch_hits"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, band_size: int = 2
) -> DataFrame:
    """Band the signature and emit pairs sharing ≥1 band.
    Output: (doc_a, doc_b, n_bands)."""
    banded = band_keys(signatures, band_size)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    )


def _hex32_to_int(col):
    """First 8 hex chars of an md5 → bigint (portable via conv)."""
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("bigint")


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash over word tokens: per bit, majority vote of token
    hashes (+1/−1), bit set iff the vote is positive.

    Pure SQL, NO per-bit row explosion: the signed vote for bit i is
    2*count(tokens with bit i set) − n_tokens, so all `bits` votes
    come from one groupBy(doc_id) carrying `bits` conditional sums —
    token rows stay at corpus token count instead of ×bits (the r8
    rewrite; the explode form made the signature stage dominate the
    near-dup query at sf1). Output: (doc_id, simhash bigint).

    spread_scan (r9): the per-token md5 runs in the narrow chain on
    the scan — serial on a single-row-group file; the guard
    parallelizes it and the groupBy(doc_id) reuses the partitioning
    (no second exchange). Identity at cluster scale."""
    from sfa_spark.operators.text import with_tokens
    from sfa_spark.sources.events import spread_scan

    tok = (
        with_tokens(spread_scan(docs, "doc_id"))
        .select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", _hex32_to_int(F.md5("tok")).alias("h"))
    )
    counts = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.expr(f"(h >> {i}) & 1")).alias(f"c{i}")
            for i in range(bits)
        ],
    )
    packed = " + ".join(
        f"if(2 * c{i} > n, shiftleft(cast(1 as bigint), {i}),"
        " cast(0 as bigint))"
        for i in range(bits)
    )
    return counts.select(
        "doc_id", F.expr(packed).cast("bigint").alias("simhash")
    )


def simhash_bits(docs: DataFrame, bits: int = 64) -> DataFrame:
    """Wide SimHash as an MSB-first bit STRING — the signature the
    banded near-dup blocker (multimodal.phash_neardup_pairs) consumes.

    Why a separate entry point from `simhash`: banded Hamming blocking
    only keeps buckets O(1) when the band key space outgrows the
    corpus — with b-bit signatures and d < n_bands bands the band is
    b/n_bands bits, so you need b/n_bands ≳ log2(n_docs). 32 bits /
    4 bands = 8-bit keys = 256 buckets per band: bucket occupancy
    grows LINEARLY with the corpus and candidate pairs quadratically
    (measured: the sf0.1→sf1 10× corpus scaled the 32-bit near-dup
    query 20.8× while every other bench query stayed ≤ 9×). 64 bits /
    4 bands = 16-bit keys holds buckets O(1) to ~10^6 docs; wider
    signatures (bits=96/128, still md5-derived 32-bit words) extend
    the same layout to corpus sizes where 2^(bits/n_bands) ≳ n_docs.

    Token hash: consecutive 8-hex-char windows of md5(tok), one 32-bit
    word per 32 signature bits — bit i votes with word i//32, bit
    i%32. Word 0 is md5 chars 1-8, so the LOW 32 bits of the 64-bit
    signature equal `simhash(docs, 32)` exactly (property-tested).
    All arithmetic stays on non-negative <2^32 bigints — no sign-bit
    portability trap between Spark's and DuckDB's >> on negatives.

    Output: (doc_id, sig string of length `bits`, MSB first — same
    orientation as lpad(bin(x), bits, '0')).

    spread_scan (r9): same rationale as `simhash` — the per-token md5
    chain otherwise runs serially on an under-split scan.
    """
    from sfa_spark.operators.text import with_tokens
    from sfa_spark.sources.events import spread_scan

    docs = spread_scan(docs, "doc_id")
    assert bits % 32 == 0, "signature is packed from 32-bit md5 words"
    n_words = bits // 32
    assert n_words * 8 <= 32, "md5 yields 128 bits = four 32-bit words"
    # project the md5 ONCE per token, then slice words from it — an
    # inline F.md5 per word would hash every token n_words times
    words = F.array(
        *[
            F.conv(F.substring("hx", w * 8 + 1, 8), 16, 10).cast("bigint")
            for w in range(n_words)
        ]
    )
    tok = (
        with_tokens(docs)
        .select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", F.md5("tok").alias("hx"))
        .select("doc_id", words.alias("hw"))
    )
    # Same no-explosion layout as `simhash`: bit i's signed vote is
    # 2*count(set) − n, so one groupBy carries all `bits` sums.
    counts = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.expr(f"(hw[{i // 32}] >> {i % 32}) & 1")
            ).alias(f"c{i}")
            for i in range(bits)
        ],
    )
    # MSB-first bit string: highest i leftmost, matching bin()/lpad.
    sig = F.concat(
        *[
            F.expr(f"if(2 * c{i} > n, '1', '0')")
            for i in range(bits - 1, -1, -1)
        ]
    )
    return counts.select("doc_id", sig.alias("sig"))


def embedding_neardup(
    emb: DataFrame,
    tau: float = 0.35,
    n_bits: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-bucket blocking +
    exact cosine verify — the dedup-family sibling of MinHash-LSH for
    the embedding modality.

    Both sides are the FULL corpus, so this is a bucket-equality
    self-join (shuffle on the bucket key), never an all-pairs cross:
    at 100 TB, write the corpus partitionBy(bucket) once and the join
    is co-located; only within-bucket pairs are scored. Near-dups have
    cosine ≈ 1, so their sign patterns agree on (almost) every bit —
    blocking recall rises with similarity, exactly the regime dedup
    cares about. For recall on the tau boundary, union a second
    rotated hash table (same shape, different bits).

    Output: (doc_a, doc_b, cosine) with doc_a < doc_b, cosine ≥ tau.
    """
    from sfa_spark.operators.similarity import dot_expr, sign_bucket, with_norm

    v = with_norm(emb, vec_col).select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        "norm",
        sign_bucket(
            F.transform(F.col(vec_col), lambda x: x.cast("double")), n_bits
        ).alias("bucket"),
    )
    a = v.select(
        "bucket", F.col("vid").alias("doc_a"), F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b = v.select(
        "bucket", F.col("vid").alias("doc_b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    return (
        a.join(b, "bucket")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= F.lit(tau))
    )


def dedup_groups(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup PAIRS → canonical GROUPS: connected components with
    group_id = min doc id in the component — the step that turns an
    LSH/verify pair list into a keep/drop decision per document.

    Iterative min-label propagation over the undirected edge set; each
    round is one join+groupBy, and `localCheckpoint` cuts the lineage so
    round N's plan doesn't replay rounds 1..N−1. Near-dup components are
    shallow (duplicate clusters, not arbitrary graphs), so rounds ≈
    component diameter ≈ 2-4; for adversarial graphs the alternating
    large-star/small-star variant (Kiveris et al., "Connected Components
    in MapReduce") bounds rounds at O(log n) with the same per-round
    plan shape.

    Output: (doc_id, group_id[, is_canonical]) — every doc in `docs`
    (if given) appears; docs in no pair form singleton groups."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias(id_col))
        .distinct()
        .withColumn("group_id", F.col(id_col))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # min label among self and neighbors
        nbr = (
            edges.join(
                labels.withColumnRenamed(id_col, "dst").withColumnRenamed(
                    "group_id", "nbr_label"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias(id_col))
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        updated = (
            labels.join(nbr, id_col, "left")
            .select(
                id_col,
                F.least(
                    F.col("group_id"), F.coalesce("nbr_min", F.col("group_id"))
                ).alias("group_id"),
                (F.coalesce("nbr_min", F.col("group_id")) < F.col("group_id")).alias(
                    "_chg"
                ),
            )
        ).localCheckpoint(eager=True)
        changed = updated.where("_chg").limit(1).count()
        labels = updated.drop("_chg")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # a silent stop here would emit SPLIT groups (same component,
        # different labels) with no error — fail loudly instead
        raise RuntimeError(
            f"dedup_groups did not converge within max_iter={max_iter} "
            "rounds: a component's diameter exceeds the budget. Raise "
            "max_iter, or switch to the alternating large-star/small-star "
            "variant (O(log n) rounds) for adversarial graph shapes."
        )
    if docs is not None:
        labels = (
            docs.select(id_col)
            .join(labels, id_col, "left")
            .select(id_col, F.coalesce("group_id", F.col(id_col)).alias("group_id"))
        )
    return labels.withColumn(
        "is_canonical", F.col("group_id") == F.col(id_col)
    )


def dup_span_stats(docs: DataFrame, span_len: int = 5) -> DataFrame:
    """Per-doc duplicated-substring coverage — the diagnostic behind
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): how many of a doc's
    tokens sit inside a token span of length `span_len` that also
    appears verbatim in ANOTHER document.

    Token-L-gram approximation of the suffix-array pass: every
    duplicated substring of length ≥ L is a union of duplicated
    L-grams, so covered-token counts agree with the suffix-array
    answer for spans ≥ L. Shapes for 100 TB:

      * positioned L-grams are a row-local explode (no shuffle);
      * "appears in another doc" is a distinct (gram, doc) → per-gram
        doc count — two map-side-combinable aggregates, never doc×doc;
      * the cover join is keyed by gram (inverted-index shape), and
        the interval-union sweep is a per-doc window over ONLY the
        duplicated positions (bounded by doc length).

    Output: (doc_id, n_tokens, dup_tokens, dup_span_frac), one row per
    input doc (zero coverage kept)."""
    from sfa_spark.operators.text import with_tokens
    from sfa_spark.queries import rnd

    L = int(span_len)
    d = with_tokens(docs)
    idx = F.when(
        F.size("toks") >= L, F.sequence(F.lit(0), F.size("toks") - L)
    ).otherwise(F.array())
    pos = d.select("doc_id", F.explode(idx).alias("p"), "toks").select(
        "doc_id",
        "p",
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("p") + j + 1) for j in range(L)]
        ).alias("gram"),
    )
    dup_grams = (
        pos.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    hits = pos.join(dup_grams, "gram")
    w = Window.partitionBy("doc_id").orderBy("p")
    covered = hits.withColumn("nxt", F.lead("p").over(w)).select(
        "doc_id",
        F.least(F.lit(L), F.coalesce(F.col("nxt") - F.col("p"), F.lit(L))).alias(
            "cov"
        ),
    )
    per = covered.groupBy("doc_id").agg(F.sum("cov").alias("dup_tokens"))
    base = d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return (
        base.join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            rnd(
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("dup_span_frac"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the corpus, then inside EACH cluster drop every vector
    that has a smaller-id neighbor with cosine ≥ tau — keeping one
    representative per ε-neighborhood without ever scoring cross-
    cluster pairs.

    Shape: row-local centroid assignment (similarity.ivf_assign — no
    shuffle), then a cluster-equality self-join; the cluster key bounds
    the candidate set exactly like the sign buckets in
    embedding_neardup, so cost is Σ|cluster|² not |corpus|². At 100 TB
    the corpus is written partitionBy(centroid_id) once (the IVF
    layout) and the join is co-located. min-id keep rule is
    order-free and deterministic.

    Output: (id, centroid_id, kept) — kept=1 iff no smaller-id
    same-cluster neighbor at cosine ≥ tau."""
    from sfa_spark.operators.similarity import dot_expr, ivf_assign, with_norm

    # ivf_assign is row-local and carries the vector column through, so
    # assignment adds NO join/exchange — norms ride the same projection
    assigned = ivf_assign(emb, centroids, vec_col=vec_col, id_col=id_col)
    v = with_norm(assigned, vec_col).select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        "norm",
        "centroid_id",
    )
    a = v.select(
        "centroid_id", F.col("vid").alias("_a"), F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b = v.select(
        "centroid_id", F.col("vid").alias("_b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dups = (
        a.join(b, "centroid_id")
        .where(F.col("_a") < F.col("_b"))
        .where(
            dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= F.lit(tau)
        )
        .select(F.col("_b").alias("vid"))
        .distinct()
    )
    return (
        v.select("vid", "centroid_id")
        .join(dups.select("vid", F.lit(0).alias("_dup")), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "centroid_id",
            F.coalesce("_dup", F.lit(1)).cast("int").alias("kept"),
        )
    )


def line_dedup(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    sep: str | None = "\n",
    token_window: int | None = None,
    keep: str = "first",
) -> DataFrame:
    """CCNet-style line-level dedup (Wenzek et al. 2020 §3.1): split
    every document into units, drop each unit occurrence that
    duplicates one appearing earlier in the corpus, and reassemble the
    surviving text. This is the boilerplate-removal pass (headers,
    cookie banners, nav menus repeat VERBATIM across pages, so exact
    unit hashing catches what document-level near-dup cannot: the
    duplicated PARTS of otherwise-distinct documents).

    Units are either separator lines (`sep`, the CCNet original) or
    disjoint `token_window`-sized word windows for corpora without
    line structure. `keep="first"` retains the globally first
    occurrence (corpus order = (doc_id, pos) — deterministic, layout-
    independent); `keep="unique"` drops ALL occurrences of any
    repeated unit (the aggressive variant).

    Output: (doc_col, n_units, n_kept, dedup_text).

    Scale shape: two keyed shuffles and nothing else — one Exchange on
    the unit hash (count + winner via a single window pass; hot units
    are exactly Zipf boilerplate → AQE skew handles them), one Exchange
    on doc_col to reassemble. No join, no doc×doc pairs; state per
    unit is O(1). At 100 TB the unit-hash aggregation is the same
    shape as the exact-dedup groupBy.
    """
    assert keep in ("first", "unique")
    # NULL text must not drop the document from the output (posexplode
    # of a NULL array emits no rows) — treat it as the empty string,
    # which yields one empty unit and keeps the row-per-doc contract
    txt = F.coalesce(F.col(text_col), F.lit(""))
    if token_window:
        toks = F.split(txt, " ")
        w = int(token_window)
        nseg = F.ceil(F.size(toks) / F.lit(w)).cast("int")
        units = F.transform(
            F.sequence(F.lit(0), nseg - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, w)),
        )
    else:
        # F.split interprets sep as a Java regex while the reassembly
        # below (concat_ws) uses it literally — quote it so a separator
        # containing regex metacharacters ('.', '|') splits literally
        # too (java.util.regex.Pattern.quote semantics, \E-safe).
        quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        units = F.split(txt, quoted)
    ex = docs.select(doc_col, F.posexplode(units).alias("pos", "unit"))
    uw = Window.partitionBy("unit")
    ex = ex.withColumn(
        "_min_occ", F.min(F.struct(doc_col, "pos")).over(uw)
    ).withColumn("_cnt", F.count(F.lit(1)).over(uw))
    if keep == "first":
        kept_flag = F.col("_min_occ") == F.struct(doc_col, "pos")
    else:
        kept_flag = F.col("_cnt") == 1
    return (
        ex.withColumn("_keep", kept_flag)
        .groupBy(doc_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.sum(F.col("_keep").cast("long")).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " " if token_window else (sep or "\n"),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"), F.struct("pos", "unit")
                            )
                        )
                    ),
                    lambda s: s["unit"],
                ),
            ).alias("dedup_text"),
        )
    )


def edit1_pairs(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    prefix_len: int = 24,
) -> DataFrame:
    """Edit-distance ≤ 1 similarity join via deletion-neighborhood
    signatures (the FastSS / SymSpell family, public technique): each
    key emits itself plus every one-character-deletion variant; two
    keys within Levenshtein distance 1 necessarily share a signature,
    so an EQUALITY self-join on the signature produces a complete
    candidate set, and an exact ``levenshtein() <= 1`` verify on the
    candidates removes the false positives (e.g. two different
    substitutions at the same position).

    Output: (doc_a, doc_b, dist) with doc_a < doc_b, dist ∈ {0, 1}
    over the first ``prefix_len`` characters of ``text_col`` (the
    fuzzy-title-match shape).

    Scale shape: signature volume is LINEAR (len+1 per key, bounded by
    prefix_len+1) and the join is a hash equality join on the
    signature — never an all-pairs or per-length-block quadratic
    expansion; the verify is row-local on the candidate pairs. The
    same layout extends to distance d by recursing deletions d times
    (volume ~ len^d — keep prefixes short).
    """
    s = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, prefix_len)
    keys = docs.select(F.col(doc_col).alias("doc"), s.alias("s"))
    sigs = keys.select(
        "doc",
        "s",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("s")),
                    F.transform(
                        F.sequence(F.lit(1), F.length("s")),
                        # delete character i: s[1..i-1] || s[i+1..]
                        lambda i: F.concat(
                            F.col("s").substr(F.lit(1), i - 1),
                            F.col("s").substr(
                                i + 1, F.lit(int(prefix_len))
                            ),
                        ),
                    ),
                )
            )
        ).alias("sig"),
    )
    a = sigs.select(
        F.col("doc").alias("doc_a"), F.col("s").alias("s_a"), "sig"
    )
    b = sigs.select(
        F.col("doc").alias("doc_b"), F.col("s").alias("s_b"), "sig"
    )
    cand = (
        a.join(b, "sig")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "s_a", "s_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("s_a", "s_b").cast("int")
        )
        .where(F.col("dist") <= 1)
        .select("doc_a", "doc_b", "dist")
    )
