"""LLM-data-pipeline driver queries over documents & embeddings:
dedup (exact / Jaccard / MinHash-LSH / SimHash), text analysis, and
embedding similarity search. Mirrored in sfa_spark/oracles_text.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sfa_spark.operators import dedup, similarity, text
from sfa_spark.queries import rnd
from sfa_spark.sources.events import load_table
from sfa_spark.tempdirs import process_tmpdir

JACCARD_TOPK = 20
COS_K = 5
COS_QUERIES = 10
IVF_K = 3
IVF_BITS = 6


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------- text analysis

def q_token_stats(spark, sf_dir):
    s = text.token_stats(_docs(spark, sf_dir))
    return s.select(
        "doc_id",
        "n_tokens",
        rnd("avg_tok_len", 4).alias("avg_tok_len"),
        rnd("punct_ratio", 4).alias("punct_ratio"),
        rnd("digit_ratio", 4).alias("digit_ratio"),
        rnd("stopword_ratio", 4).alias("stopword_ratio"),
    )


def q_quality(spark, sf_dir):
    s = text.quality_score(text.token_stats(_docs(spark, sf_dir)))
    return s.select("doc_id", rnd("quality", 4).alias("quality"))


def q_lang_id(spark, sf_dir):
    return text.lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return text.fingerprint(_docs(spark, sf_dir))


# ---------------------------------------------------------------- dedup

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_incremental_dedup(spark, sf_dir):
    """Cross-run exact dedup: docs with doc_id % 3 == 0 are the
    persisted prior crawl (their content hashes form the seen index);
    the rest are the incoming batch, classified kept / dup_in_batch /
    seen_in_prior — the recurring-crawl maintenance pass at 100 TB
    (dedup.cross_run_dedup docstring has the bucketed-join layout)."""
    docs = _docs(spark, sf_dir)
    prior = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    seen = prior.select(F.md5("text").alias("text_hash"))
    return dedup.cross_run_dedup(new, seen)


def q_incremental_neardup(spark, sf_dir):
    """Cross-run NEAR-dup screening (dedup.incremental_lsh_dedup): the
    near-dup twin of q_incremental_dedup — docs with doc_id % 3 == 0
    are the prior crawl whose persisted MinHash band index screens the
    incoming batch; statuses near_prior / near_batch / kept with
    band-collision counts. One index-probe join + one within-batch
    band self-join; prior corpora are never re-shingled."""
    docs = _docs(spark, sf_dir)
    prior = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    seen = dedup.band_keys(
        dedup.minhash_signatures(prior, n_seeds=8, k=3), band_size=2
    )
    return dedup.incremental_lsh_dedup(new, seen, n_seeds=8, band_size=2, k=3)


def q_jaccard_topk(spark, sf_dir):
    """UNCAPPED exact Jaccard top-k — the exactness twin of the
    df-capped production variant (q_jaccard_topk_capped, the bench
    headliner). Registered with guard_max_df=500: an in-plan
    raise_error gate aborts before the pair join if any shingle's df
    exceeds 500 (sf0.1 fixture max is 25), so the quadratic blow-up
    is impossible to reach by accident — at scale the query fails
    loudly with a pointer to the capped mode instead of running n²."""
    from sfa_spark.operators.topk import ranked_top_k

    pairs = dedup.jaccard_pairs(_docs(spark, sf_dir), k=3, guard_max_df=500)
    return ranked_top_k(
        pairs,
        [("jaccard", True), ("doc_a", False), ("doc_b", False)],
        JACCARD_TOPK,
    ).select(
        "doc_a", "doc_b", "inter", "union_sz",
        rnd("jaccard", 4).alias("jaccard"), "rk",
    )


def q_jaccard_topk_capped(spark, sf_dir):
    """q_jaccard_topk with the document-frequency cap ENGAGED
    (max_df=50): shingles appearing in more than max_df documents are
    dropped before the inverted-index pair join, bounding the candidate
    blow-up on stopword-like hot shingles — the 100 TB operating mode
    (the uncapped q_jaccard_topk stays registered as the exactness
    oracle). The capped result is still exact for the surviving pairs:
    inter/union/jaccard are computed over the capped shingle sets on
    BOTH engines (the oracle mirrors the cap as a HAVING on shingle
    df)."""
    from sfa_spark.operators.topk import ranked_top_k

    pairs = dedup.jaccard_pairs(_docs(spark, sf_dir), k=3, max_df=50)
    return ranked_top_k(
        pairs,
        [("jaccard", True), ("doc_a", False), ("doc_b", False)],
        JACCARD_TOPK,
    ).select(
        "doc_a", "doc_b", "inter", "union_sz",
        rnd("jaccard", 4).alias("jaccard"), "rk",
    )


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir), n_seeds=8, k=3)


def q_lsh_pairs(spark, sf_dir):
    sig = dedup.minhash_signatures(_docs(spark, sf_dir), n_seeds=8, k=3)
    return dedup.lsh_candidate_pairs(sig, band_size=2)


def q_lsh_verified_dedup(spark, sf_dir):
    """Two-phase near-dedup end to end: MinHash-LSH candidate pairs →
    exact Jaccard verify on candidates ONLY (dedup.jaccard_verify) —
    the signature→bucket→verify shape that scales to 100 TB. The
    verify phase semi-joins the shingle table on candidate doc-ids
    before any pair expansion, so the uncapped all-pairs inverted-index
    self-join of `jaccard_pairs` never appears in the plan (asserted by
    tests/test_llm_ops.py::test_lsh_verified_plan_has_no_allpairs)."""
    docs = _docs(spark, sf_dir)
    sig = dedup.minhash_signatures(docs, n_seeds=8, k=3)
    cand = dedup.lsh_candidate_pairs(sig, band_size=2)
    ver = dedup.jaccard_verify(docs, cand, k=3)
    return cand.join(ver, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "n_bands", "inter", "union_sz",
        rnd("jaccard", 4).alias("jaccard"),
    )


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def q_phash_neardup(spark, sf_dir):
    """Perceptual-hash near-dup pairs through the banded blocking +
    exact-Hamming-verify operator (multimodal.phash_neardup_pairs —
    the image-dedup layout, pigeonhole-complete for d < n_bands). The
    signatures here are the documents' 64-bit SimHashes (bit-string
    form, dedup.simhash_bits) so the whole pipeline is oracle-able in
    SQL and near-dup docs actually land within the Hamming budget; the
    image path feeds the SAME operator from extract_features' decoded
    pHashes (tests/test_multivariate_multimodal.py).

    Scale note (r8): 64 bits / 4 bands = 16-bit band keys. The
    original 32-bit signature gave 8-bit keys = 256 buckets per band,
    so bucket occupancy grew linearly with the corpus and the
    candidate join quadratically — measured 20.8× walltime on the 10×
    sf0.1→sf1 corpus while every other bench query stayed ≤ 9×. With
    16-bit keys buckets stay O(1) up to ~10^6 docs; beyond that,
    widen the signature (simhash_bits bits=96/128), not the bands —
    pigeonhole completeness needs max_hamming < n_bands."""
    from sfa_spark.operators.multimodal import phash_neardup_pairs

    sig = dedup.simhash_bits(_docs(spark, sf_dir), bits=64).select(
        F.col("doc_id").alias("media_id"), F.col("sig").alias("phash")
    )
    return phash_neardup_pairs(sig, max_hamming=3, n_bands=4, bits=64)


def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift between two corpus versions: cosine
    between the per-version MEAN vectors plus the norm ratio — the
    cheap first-line alarm that an encoder change or corpus shift
    moved the embedding distribution (PSI's twin for vector columns).
    Scale shape: each side reduces via 64 avg aggregates in ONE
    single-row groupBy (no posexplode row blowup — the aggregate
    carries 64 running sums); the two 1-row centroids cross-join and
    the dot/norms fold with zip_with/aggregate, all JVM-side."""
    emb = _emb(spark, sf_dir)
    dims = 64

    def centroid(df, alias):
        return df.agg(
            F.array(
                *[F.avg(F.col("embedding")[i]) for i in range(dims)]
            ).alias(alias)
        )

    old = centroid(emb.where(F.col("vec_id") % 2 == 0), "c_old")
    new = centroid(emb.where(F.col("vec_id") % 2 == 1), "c_new")
    j = old.crossJoin(F.broadcast(new))
    dot = similarity.dot_expr(F.col("c_old"), F.col("c_new"))
    n_old = similarity.norm_expr(F.col("c_old"))
    n_new = similarity.norm_expr(F.col("c_new"))
    return j.select(
        rnd(dot, 6).alias("dot"),
        rnd(n_old, 6).alias("norm_old"),
        rnd(n_new, 6).alias("norm_new"),
        rnd(dot / (n_old * n_new), 6).alias("cosine"),
        rnd(n_new / n_old, 6).alias("norm_ratio"),
    )


def q_lsh_recall(spark, sf_dir):
    """LSH candidate-quality evaluation — the dedup twin of
    q_ann_recall ("measure, don't guess"): recall and precision of the
    MinHash-LSH candidate set (8 seeds, band_size 2) against exact
    Jaccard ≥ 0.5 ground truth over the df-capped shingle sets. This
    is the query you size n_seeds/band_size from before a 100 TB
    dedup run — on a hash-sampled corpus slice, never the full corpus.
    The slice contract is STRUCTURAL (not just documented): the query
    composes sample.hash_sample(docs, 'doc_id', 0.7) before anything
    else, so the exact-truth pair join is bounded by construction —
    at scale you lower the fraction, you cannot forget it."""
    from sfa_spark.operators.sample import hash_sample

    tau = 0.5
    docs = hash_sample(_docs(spark, sf_dir), "doc_id", 0.7)
    sig = dedup.minhash_signatures(docs, n_seeds=8, k=3)
    cand = dedup.lsh_candidate_pairs(sig, band_size=2).select(
        "doc_a", "doc_b"
    )
    truth = (
        dedup.jaccard_pairs(docs, k=3, max_df=50)
        .where(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b")
    )
    hits = cand.join(truth, ["doc_a", "doc_b"])
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_hit = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            rnd(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
            rnd(F.col("n_hit") / F.col("n_cand"), 6).alias("precision"),
        )
    )


def q_edit1_pairs(spark, sf_dir):
    """Fuzzy title match: doc pairs whose first-24-char prefixes are
    within Levenshtein distance 1, found via deletion-neighborhood
    signatures + equality join + exact verify (dedup.edit1_pairs) —
    linear signature volume, never an all-pairs expansion."""
    return dedup.edit1_pairs(_docs(spark, sf_dir), prefix_len=24)


def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: sign-bucket blocking + exact cosine
    verify over the embeddings corpus — the embedding-modality member
    of the dedup family (bucket self-join, never all-pairs)."""
    res = dedup.embedding_neardup(_emb(spark, sf_dir), tau=0.35, n_bits=IVF_BITS)
    return res.select("doc_a", "doc_b", rnd("cosine", 4).alias("cosine"))


def q_corpus_filter(spark, sf_dir):
    """The composed LLM-corpus cleaning pass: exact-dedup keepers ∩
    quality floor ∩ token-count band, with per-doc keep/drop verdict —
    the shape of a real 100 TB pretraining filter job."""
    docs = _docs(spark, sf_dir)
    stats = text.quality_score(text.token_stats(docs))
    keepers = dedup.exact_dedup(docs).select(
        F.col("keeper_doc_id").alias("doc_id"), F.lit(True).alias("is_keeper")
    )
    joined = (
        stats.join(keepers, "doc_id", "left")
        .withColumn("is_keeper", F.coalesce("is_keeper", F.lit(False)))
        .withColumn(
            "kept",
            F.col("is_keeper")
            & (F.col("quality") >= 0.5)
            & F.col("n_tokens").between(8, 200),
        )
    )
    return joined.select(
        "doc_id",
        F.col("kept").cast("int").cast("bigint").alias("kept"),
        F.col("is_keeper").cast("int").cast("bigint").alias("uniq"),
        "n_tokens",
    )


# ---------------------------------------------------------------- similarity

def q_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    res = similarity.cosine_topk(
        emb.where(F.col("vec_id") < COS_QUERIES), emb, k=COS_K
    )
    return res.select("q_id", "nn_id", rnd("cosine", 4).alias("cosine"), "rk")


def q_sq_ann(spark, sf_dir):
    """Scalar-quantized ANN: per-dim equi-width codes (int8-sized) →
    top-3 by reconstructed distance; the compressed path never touches
    the float column. SQ8-style compression for 100 TB embedding
    stores."""
    emb = _emb(spark, sf_dir)
    codes, stats = similarity.scalar_quantize(emb, alphabet=16)
    res = similarity.sq_reconstructed_topk(codes, stats, k=3, alphabet=16)
    return res.select("q_id", "nn_id", rnd("sqdist", 4).alias("sqdist"), "rk")


def q_cosine_ivf(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    res = similarity.cosine_topk_bucketed(
        emb.where(F.col("vec_id") < COS_QUERIES), emb, k=IVF_K, n_bits=IVF_BITS
    )
    return res.select(
        "q_id", "nn_id", "bucket", rnd("cosine", 4).alias("cosine"), "rk"
    )


def q_cosine_multiprobe(spark, sf_dir):
    """Multi-probe sign-bucket ANN (4 probes): each query also probes
    the buckets reached by flipping its two least-confident sign bits —
    recall recovers toward brute force at 4/2^6 of the scan cost."""
    emb = _emb(spark, sf_dir)
    res = similarity.cosine_topk_multiprobe(
        emb.where(F.col("vec_id") < COS_QUERIES), emb, k=IVF_K,
        n_bits=IVF_BITS, n_probes=4,
    )
    return res.select("q_id", "nn_id", rnd("cosine", 4).alias("cosine"), "rk")


BM25_TERMS = ["query", "filter", "join"]


def q_bm25_search(spark, sf_dir):
    """BM25 keyword retrieval (Lucene idf form) — the corpus-search
    member of the text family: broadcast query-term probe of the
    inverted postings, in-plan N/avgdl/df, ranked top-10."""
    res = text.bm25_search(_docs(spark, sf_dir), BM25_TERMS, topk=10)
    return res.select("doc_id", rnd("score", 4).alias("score"), "rk")


def q_ngram_topk(spark, sf_dir):
    """Corpus-wide bigram counts, top 20 — the n-gram corpus-statistics
    pass (one array transform + one map-side-combinable aggregate)."""
    from sfa_spark.operators.topk import ranked_top_k

    counts = text.ngram_counts(_docs(spark, sf_dir), n=2)
    return ranked_top_k(counts, [("cnt", True), ("gram", False)], 20)


KMEANS_C = 8
KMEANS_PROBES = 2


def q_cosine_kmeans(spark, sf_dir):
    """IVF-Flat ANN with a learned coarse quantizer (kmeans_fit →
    ivf_assign → probe-2-lists exact re-rank). For oracle
    reproducibility this query trains with iters=0, making the
    centroids the 8 smallest-id corpus vectors (data-derived, SQL-
    reproducible); the Lloyd-trained path and its recall are covered by
    tests/test_llm_ops.py."""
    emb = _emb(spark, sf_dir)
    cents = similarity.kmeans_fit(emb, n_centroids=KMEANS_C, iters=0)
    res = similarity.cosine_topk_kmeans(
        emb.where(F.col("vec_id") < COS_QUERIES), emb, cents,
        k=IVF_K, n_probes=KMEANS_PROBES,
    )
    return res.select("q_id", "nn_id", rnd("cosine", 4).alias("cosine"), "rk")


def q_dedup_groups(spark, sf_dir):
    """Pairs → canonical GROUPS: MinHash-LSH candidates, exact-Jaccard
    verify (τ ≥ 0.5) computed on the CANDIDATES ONLY
    (dedup.jaccard_verify — same candidates-only rewrite as
    q_lsh_verified_dedup; the uncapped all-pairs jaccard_pairs subtree
    never appears in the plan), connected components by iterative
    min-label propagation — the keep/drop decision per document that a
    100 TB dedup pass actually emits. Singletons keep their own id."""
    docs = _docs(spark, sf_dir)
    sig = dedup.minhash_signatures(docs, n_seeds=8, k=3)
    cand = dedup.lsh_candidate_pairs(sig, band_size=2)
    ver = dedup.jaccard_verify(docs, cand, k=3)
    verified = cand.join(ver, ["doc_a", "doc_b"]).where(F.col("jaccard") >= 0.5)
    return dedup.dedup_groups(verified, docs)


SAMPLE_FRACTIONS = {"en": 0.5, "zh": 0.25}
SAMPLE_DEFAULT = 0.1


def q_hash_sample(spark, sf_dir):
    """Deterministic hash-gated 20% sample — reproducible across runs,
    engines, and partitionings (md5 gate, not RNG)."""
    from sfa_spark.operators import sample

    return sample.hash_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id", 0.2
    )


def q_stratified_sample(spark, sf_dir):
    """Per-language keep rates (downsample dominant strata, floor the
    tail) — the rebalancing pass of a corpus mixture."""
    from sfa_spark.operators import sample

    return sample.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        "doc_id",
        "lang",
        SAMPLE_FRACTIONS,
        default_fraction=SAMPLE_DEFAULT,
    )


def q_hash_top_n(spark, sf_dir):
    """Exactly-100 deterministic sample (smallest key hashes; plans as
    TakeOrderedAndProject — parallel partial top-n, no full sort)."""
    from sfa_spark.operators import sample

    return sample.hash_top_n(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id", 100
    )


def q_domain_cap(spark, sf_dir):
    """At most 5 docs per source domain (deterministic smallest-hash
    winners) — the anti-monoculture cap of a web-corpus mixture."""
    from sfa_spark.operators import sample

    return sample.domain_cap(
        _docs(spark, sf_dir).select("doc_id", "source"),
        "doc_id", "source", 5,
    )


def q_token_estimate(spark, sf_dir):
    """Whitespace vs BPE-ish token counts — the token-budget estimator
    (GPT-2-style pre-tokenizer split, lookahead-free so the oracle
    reproduces it under RE2)."""
    res = text.token_estimate(_docs(spark, sf_dir))
    return res.select(
        "doc_id", "ws_tokens", "bpe_ish_tokens",
        rnd("chars_per_token", 4).alias("chars_per_token"),
    )


def q_pii_stats(spark, sf_dir):
    """Email/URL/boilerplate counts per doc — the redaction + filter
    feature pass."""
    return text.pii_stats(_docs(spark, sf_dir))


def q_embed_clusters(spark, sf_dir):
    """Corpus clustering for mixture analysis / cluster-balanced
    curation: every embedding assigned to its nearest centroid
    (broadcast centroid table, row-local argmin) + per-cluster sizes
    via a window count. iters=0 → centroids are the 8 smallest-id
    vectors (oracle-reproducible); trained Lloyd is covered in tests."""
    emb = _emb(spark, sf_dir)
    cents = similarity.kmeans_fit(emb, n_centroids=KMEANS_C, iters=0)
    assigned = similarity.ivf_assign(emb, cents, n_probes=1).select(
        "vec_id", "centroid_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("centroid_id")
    return assigned.withColumn(
        "cluster_size", F.count(F.lit(1)).over(w).cast("bigint")
    )


CLUSTER_CAP = 40


def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced curation sample: every embedding assigned to
    its nearest centroid (row-local argmin, iters=0 oracle trick), then
    at most CLUSTER_CAP deterministic smallest-hash winners per cluster
    — the mixture-balancing pass of embedding-driven curation (composes
    the IVF assignment with the two-phase per-domain cap, so one hot
    cluster can't dominate the sample OR the plan)."""
    from sfa_spark.operators import sample

    emb = _emb(spark, sf_dir)
    cents = similarity.kmeans_fit(emb, n_centroids=KMEANS_C, iters=0)
    assigned = similarity.ivf_assign(emb, cents, n_probes=1).select(
        "vec_id", "centroid_id"
    )
    return sample.domain_cap(assigned, "vec_id", "centroid_id", CLUSTER_CAP)


PQ_M = 4
PQ_KSUB = 16


def q_pq_ann(spark, sf_dir):
    """Product-quantization ANN (ADC): 4 subspaces × 16 codes, per-pair
    distance = m LUT lookups over the encoded corpus — the float column
    is never read at scan time. iters=0 makes codebook code c the
    subvectors of vec_id c (data-derived, SQL-reproducible — same oracle
    trick as q_cosine_kmeans); the trained path + shortlist re-rank are
    covered by tests/test_llm_ops.py."""
    emb = _emb(spark, sf_dir)
    cb = similarity.pq_fit(emb, m=PQ_M, ksub=PQ_KSUB, iters=0)
    enc = similarity.pq_encode(emb, cb)
    res = similarity.pq_adc_topk(
        emb.where(F.col("vec_id") < COS_QUERIES), enc, cb, k=IVF_K
    )
    return res.select(
        "q_id", "nn_id", rnd("adc_dist", 4).alias("adc_dist"), "rk"
    )


def q_ivfpq_ann(spark, sf_dir):
    """IVF-PQ (IVFADC): k-means lists + PQ over residuals; queries
    probe 2 lists, per-(query, list) residual LUTs, ADC = m lookups per
    candidate. iters=0 at both stages → centroids are the 8 smallest-id
    vectors and codewords the residual subvectors of the 16 smallest-id
    vectors (oracle-reproducible); trained recall in tests."""
    emb = _emb(spark, sf_dir)
    cents = similarity.kmeans_fit(emb, n_centroids=KMEANS_C, iters=0)
    cb = similarity.ivfpq_fit(emb, cents, m=PQ_M, ksub=PQ_KSUB, iters=0)
    enc = similarity.ivfpq_encode(emb, cents, cb)
    res = similarity.ivfpq_topk(
        emb.where(F.col("vec_id") < COS_QUERIES), enc, cents, cb,
        k=IVF_K, n_probes=KMEANS_PROBES,
    )
    return res.select(
        "q_id", "nn_id", rnd("adc_dist", 4).alias("adc_dist"), "rk"
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition features (dup-token / top-bigram /
    dup-bigram fractions) — two map-side-combinable aggregates joined
    per doc."""
    from sfa_spark.operators import corpus

    res = corpus.repetition_stats(_docs(spark, sf_dir))
    return res.select(
        "doc_id", "n_tokens", "n_distinct",
        rnd("dup_token_frac", 4).alias("dup_token_frac"),
        rnd("top_bigram_frac", 4).alias("top_bigram_frac"),
        rnd("dup_bigram_frac", 4).alias("dup_bigram_frac"),
    )


def q_gopher_filter(spark, sf_dir):
    """Composite Gopher-rule verdict with per-rule audit columns — the
    keep/drop decision a 100 TB filter job emits."""
    from sfa_spark.operators import corpus

    return corpus.gopher_filter(_docs(spark, sf_dir))


DECON_TAU = 0.5


def q_decontaminate(spark, sf_dir):
    """Train/test decontamination: flag corpus docs whose 3-gram
    shingles overlap the held-out benchmark slice (doc_id % 20 == 0) —
    an inverted shingle join, never doc×doc."""
    from sfa_spark.operators import corpus

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    res = corpus.decontaminate(train, bench, k=3, tau=DECON_TAU)
    return res.select(
        "doc_id", "n_shingles", "n_contaminated",
        rnd("contam_frac", 4).alias("contam_frac"), "flagged",
    )


def q_bloom_decontaminate(spark, sf_dir):
    """Same decontamination semantics as q_decontaminate but with a
    distributed-built Bloom bitmap prefiltering the corpus shingles
    row-locally BEFORE the inverted join — the 100 TB shape (shuffle
    carries matches + ~1% FPs only; exact verify keeps output
    bit-identical, so the oracle is the plain exact join)."""
    from sfa_spark.operators import corpus

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    res = corpus.decontaminate(train, bench, k=3, tau=DECON_TAU, bloom=True)
    return res.select(
        "doc_id", "n_shingles", "n_contaminated",
        rnd("contam_frac", 4).alias("contam_frac"), "flagged",
    )


PACK_CTX = 64
PACK_SHARDS = 4


def q_sequence_pack(spark, sf_dir):
    """Concat-and-chunk packing into 64-token training sequences over
    4 hash shards — the window cumsum is partitioned by shard (parallel;
    at 100 TB, n_shards = output file count)."""
    from sfa_spark.operators import corpus

    return corpus.sequence_pack(
        _docs(spark, sf_dir), ctx_len=PACK_CTX, n_shards=PACK_SHARDS
    )


MIXTURE_TARGETS = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}


def q_pii_redact(spark, sf_dir):
    """Email/URL redaction transform — the keep-the-document curation
    pass (typed placeholder tags + per-doc redaction count)."""
    return text.pii_redact(_docs(spark, sf_dir))


def q_lm_perplexity(spark, sf_dir):
    """Corpus-fit add-k bigram LM perplexity per document (CCNet-style
    quality signal: count-based analog of the KenLM filter)."""
    return text.lm_perplexity(_docs(spark, sf_dir))


def q_dup_spans(spark, sf_dir):
    """Duplicated-substring coverage per doc (token-5-gram span
    approximation of the Lee et al. suffix-array dedup diagnostic)."""
    return dedup.dup_span_stats(_docs(spark, sf_dir), span_len=5)


def q_mixture_sample(spark, sf_dir):
    """Resample the corpus to target language proportions (40/20/20/
    10/10) — the domain-reweighting pass; maximal output subject to the
    weights, deterministic smallest-hash winners per stratum."""
    from sfa_spark.operators import sample

    return sample.mixture_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        "doc_id", "lang", MIXTURE_TARGETS,
    )


def q_quality_classifier(spark, sf_dir):
    """fastText-style hashed-ngram linear classifier distilling the
    Gopher rule filter (rule-labeled train half → model-predicted
    held-out half) — the trainable curation gate. Surrogate-oracled
    (r6, upgraded from rows-only): the DISTILLATION TARGET is itself
    oracle-computable (the Gopher rule has a full SQL mirror), so the
    output carries per-held-out-doc invariants DuckDB recomputes —
    doc identity, pred ∈ {0,1}, and a broadcast global
    rule_acc_floor_met flag asserting held-out agreement with the
    Gopher rule ≥ 0.85 (measured 0.948/0.968 at sf0.001/0.01; a
    broken solver or featurizer trips the flag and fails the hash).
    Prediction values stay covered by test_llm_ops.py's
    separable-class accuracy floor."""
    from sfa_spark.ml import quality
    from sfa_spark.operators import corpus

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    kept = corpus.gopher_filter(docs).select(
        "doc_id", F.col("kept").cast("int").alias("label")
    )
    train = F.col("doc_id") % 2 == 0
    model = quality.quality_fit(
        docs.where(train), kept.where(train), n_buckets=1 << 14
    )
    pred = model.predict(docs.where(~train)).select(
        "doc_id", F.col("pred").cast("int").alias("pred")
    )
    # cache: j (held-out-doc-sized) feeds both the accuracy aggregate
    # and the returned rows — without it the whole predict + gopher
    # pipeline would execute twice
    j = pred.join(kept, "doc_id").cache()
    acc = j.agg(
        (
            F.avg((F.col("pred") == F.col("label")).cast("double"))
            >= F.lit(0.85)
        ).alias("rule_acc_floor_met")
    )
    return j.crossJoin(F.broadcast(acc)).select(
        "doc_id",
        F.col("pred").isin(0, 1).alias("pred_in_domain"),
        "rule_acc_floor_met",
    )


def q_doc_chunks(spark, sf_dir):
    """RAG chunking: 32-token windows every 24 tokens over documents
    (operators/corpus.chunk_documents — zero-shuffle row-local map)."""
    from sfa_spark.operators.corpus import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, stride=24)


def q_random_projection(spark, sf_dir):
    """64→16-dim deterministic JL sign projection of the embeddings
    (operators/similarity.random_projection — formula-derived ±1
    matrix, zero-shuffle JVM fold)."""
    res = similarity.random_projection(_emb(spark, sf_dir), out_dim=16)
    return res.select("vec_id", "k", rnd("val", 4).alias("val"))


def q_ann_recall(spark, sf_dir):
    """ANN recall@3 evaluation: sign-bucket IVF top-3 vs brute-force
    cosine top-3 for each query — the standard index-quality metric a
    100 TB embedding store tracks per build. Both sides are existing
    oracle-backed operators; the join is on (q_id, nn_id) candidate
    pairs only."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < COS_QUERIES)
    brute = similarity.cosine_topk(q, emb, k=IVF_K).select(
        "q_id", "nn_id", F.lit(1).alias("_b")
    )
    ivf = similarity.cosine_topk_bucketed(q, emb, k=IVF_K, n_bits=IVF_BITS).select(
        "q_id", "nn_id", F.lit(1).alias("_i")
    )
    hits = brute.join(ivf, ["q_id", "nn_id"])
    agg = brute.groupBy("q_id").agg(F.count(F.lit(1)).alias("_n")).join(
        hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("_h")), "q_id", "left"
    )
    return agg.select(
        "q_id",
        F.coalesce("_h", F.lit(0)).cast("int").alias("n_hit"),
        rnd(F.coalesce("_h", F.lit(0)) / F.col("_n"), 4).alias("recall"),
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: k-means clusters (iters=0
    oracle contract) + within-cluster min-id keep rule at cosine ≥
    0.35 (operators/dedup.semantic_dedup — row-local assignment, the
    cluster key bounds the pair join)."""
    emb = _emb(spark, sf_dir)
    cents = similarity.kmeans_fit(emb, n_centroids=KMEANS_C, iters=0)
    return dedup.semantic_dedup(emb, cents, tau=0.35)


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking over documents (operators/corpus.
    cdc_chunks — formula-derived boundaries, one Exchange shared by
    the boundary window and the chunk rebuild)."""
    from sfa_spark.operators.corpus import cdc_chunks

    return cdc_chunks(_docs(spark, sf_dir), divisor=8)


def q_bpe_tokens(spark, sf_dir):
    """Real BPE tokenizer budget: fit 120 merges on the corpus's
    distinct-word dictionary, then row-local distributed encode —
    per-doc (n_words, n_bpe_tokens, bpe_per_word). EXACT oracle (r6,
    upgraded from rows-only): the DuckDB side REPLAYS THE TRAINER with
    a recursive CTE — each iteration one GROUP BY over the working
    dictionary finds the best pair (count desc, lexicographic
    tie-break) and a greedy left-to-right list_reduce applies the
    merge — the same recursive-replay trick as q_apca_segments /
    q_stream_debounce. Semantics additionally pinned by the published
    worked-example golden, a sequential-reference cross-check, and
    roundtrip/monotonicity tests in test_llm_ops.py."""
    from sfa_spark.operators import bpe

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = bpe.bpe_fit(docs, n_merges=120, min_freq=2)
    enc = bpe.bpe_encode(docs, merges)
    return enc.select(
        "doc_id", "n_words", "n_bpe_tokens",
        rnd("bpe_per_word", 4).alias("bpe_per_word"),
    )


def q_curation_pipeline(spark, sf_dir):
    """The whole curation tier composed END TO END as one plan — the
    nightly corpus-build recipe a 100 TB pipeline actually runs:
    Gopher rule filter → exact-dedup keepers → heuristic quality gate
    (on the rounded score, the certified cross-engine bridge) →
    deterministic hash split assignment → per-split doc/token report.
    One registered query proves the operators COMPOSE (filters stay
    row-local, the only shuffles are the dedup hash groupBy and the
    final 3-row report aggregate) and the oracle mirrors the entire
    chain in one SQL statement."""
    from sfa_spark.operators import corpus
    from sfa_spark.operators.sample import split_assign

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    kept = corpus.gopher_filter(docs).where(F.col("kept") == 1).select("doc_id")
    keepers = dedup.exact_dedup(docs).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    surv = docs.join(kept, "doc_id").join(keepers, "doc_id")
    stats = text.quality_score(text.token_stats(surv))
    sel = stats.where(rnd("quality", 4) >= 0.5).select("doc_id", "n_tokens")
    sp = split_assign(
        sel, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
    return sp.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def q_bpe_merges(spark, sf_dir):
    """The BPE FIT ARTIFACT itself as a gate row: the learned merge
    table (rank, lhs, rhs) for the same 120-merge min_freq=2 fit as
    q_bpe_tokens. The DuckDB oracle replays the trainer with the
    shared recursive CTE and emits the pair merged at each iteration —
    a hash match proves the distributed word-count → driver merge loop
    reproduces the argmax/tie-break sequence exactly, not just the
    final segmentation sizes."""
    from sfa_spark.operators import bpe

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = bpe.bpe_fit(docs, n_merges=120, min_freq=2)
    return merges.select(
        F.col("rank").cast("int").alias("merge_rank"),
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
    )


CM_DEPTH, CM_WIDTH = 4, 512
HLL_M = 64


def q_countmin_tokens(spark, sf_dir):
    """Count-Min heavy hitters: a 4×512 counter grid over all token
    occurrences (one map-side-combinable groupBy, KB-sized), point-
    queried for the 20 highest-true-count tokens. Emits true count
    next to the sketch estimate — est ≥ true always; the md5-derived
    buckets make the grid bit-reproducible in the SQL oracle."""
    from sfa_spark.operators import sketch
    from sfa_spark.operators.text import with_tokens
    from sfa_spark.operators.topk import ranked_top_k

    toks = (
        with_tokens(_docs(spark, sf_dir))
        .select(F.explode("toks").alias("token"))
        .where(F.length("token") > 0)
    )
    grid = sketch.countmin_build(toks, "token", depth=CM_DEPTH, width=CM_WIDTH)
    true = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    top = ranked_top_k(true, [("true_cnt", True), ("token", False)], 20)
    est = sketch.countmin_estimate(
        top, grid, "token", depth=CM_DEPTH, width=CM_WIDTH
    )
    return top.join(est, top["token"] == est["item"]).select(
        top["token"], "true_cnt", F.col("cm_est").cast("bigint").alias("cm_est"), "rk"
    )


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-token estimate (m=64 registers, one
    groupBy) next to the exact distinct count — the bounded-memory
    cardinality pass, estimator bit-reproducible in SQL because the
    rank is integer (length(bin(h))) and Σ2^(−mx) is dyadic-exact."""
    from sfa_spark.operators import sketch
    from sfa_spark.operators.text import with_tokens

    toks = (
        with_tokens(_docs(spark, sf_dir))
        .select(F.explode("toks").alias("token"))
        .where(F.length("token") > 0)
    )
    regs = sketch.hll_registers(toks, "token", m=HLL_M)
    est = sketch.hll_estimate(regs, m=HLL_M)
    exact = toks.agg(
        F.countDistinct("token").cast("bigint").alias("n_exact")
    )
    return exact.crossJoin(est).select(
        "n_exact", rnd("n_hll", 4).alias("n_hll")
    )


def q_jsonl_roundtrip(spark, sf_dir):
    """Corpus wire-format fidelity: documents → JSONL (the format text
    pipelines actually exchange) → read back with an explicit schema
    and quarantine split. Emits per-doc (doc_id, lang, n_tokens) from
    the JSONL COPY; the oracle computes the same from the parquet, so
    a hash match proves the roundtrip lost nothing (JSON escaping
    covers quotes/newlines/unicode)."""
    from sfa_spark.operators.text import with_tokens
    from sfa_spark.sources.jsonl import read_documents_jsonl, write_jsonl

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    tmp = process_tmpdir("sfa_jsonl_")
    write_jsonl(docs, tmp, n_files=2)
    clean, _quarantine = read_documents_jsonl(spark, tmp)
    return with_tokens(clean).select(
        "doc_id", "lang", F.size("toks").cast("bigint").alias("n_tokens")
    )


def q_orc_roundtrip(spark, sf_dir):
    """Interchange-format fidelity for ORC (sources/columnar.py):
    documents → ORC → read back; emits per-doc (doc_id, lang, n_chars,
    prefix). The oracle computes the same from the parquet, so a hash
    match proves the ORC round-trip preserved every value (strings
    with quotes/newlines/unicode included)."""
    from sfa_spark.sources.columnar import read_orc, write_orc

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang", "n_chars")
    tmp = process_tmpdir("sfa_orc_")
    write_orc(docs, tmp, n_files=2)
    back = read_orc(spark, tmp)
    return back.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.substring("text", 1, 16).alias("prefix"),
    )


def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read (sources/columnar.read_evolved_parquet):
    two parquet generations of the documents table — v1 without the
    quality column, v2 with it — read as ONE frame via mergeSchema;
    v1 rows surface NULL quality. The oracle reproduces the
    generational split with a UNION of NULL-padded selects."""
    from sfa_spark.sources.columnar import read_evolved_parquet

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    v1 = docs.where(F.col("doc_id") % 2 == 0)
    v2 = docs.where(F.col("doc_id") % 2 == 1).withColumn(
        "quality", (F.col("n_chars") % 100).cast("double") / 100.0
    )
    tmp = process_tmpdir("sfa_evo_")
    v1.write.mode("overwrite").parquet(f"{tmp}/v1")
    v2.write.mode("overwrite").parquet(f"{tmp}/v2")
    merged = read_evolved_parquet(spark, f"{tmp}/v1", f"{tmp}/v2")
    # coalesce(-1) materializes the evolution: a row gets -1 exactly
    # when mergeSchema NULL-filled it (v1 files), a value otherwise —
    # and keeps the output free of NULL floats (engine-stable hashing)
    return merged.select(
        "doc_id",
        "lang",
        "n_chars",
        rnd(F.coalesce(F.col("quality"), F.lit(-1.0)), 4).alias("quality"),
    )


def q_split_assign(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment per document —
    hash-gated so the split survives re-runs, repartitioning, and
    corpus growth (a doc never migrates between eval and train across
    dataset versions). Zero-shuffle row-local projection."""
    from sfa_spark.operators import sample

    return sample.split_assign(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        "doc_id",
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
    )


def q_line_dedup(spark, sf_dir):
    """CCNet-style boilerplate removal: corpus-wide exact dedup of
    disjoint 10-token segments, keeping each repeated segment's first
    occurrence and reassembling the surviving text. Catches the
    duplicated PARTS of otherwise-distinct documents that doc-level
    dedup misses."""
    from sfa_spark.operators import dedup

    return dedup.line_dedup(
        _docs(spark, sf_dir).select("doc_id", "text"),
        token_window=10,
    )


def q_hard_negatives(spark, sf_dir):
    """Contrastive-training hard-negative mining: per query vector,
    the 5 most-cosine-similar embeddings with a DIFFERENT label
    (same-label rows are positives and are excluded before ranking)."""
    emb = _emb(spark, sf_dir)
    res = similarity.hard_negatives(
        emb.where(F.col("vec_id") < COS_QUERIES), emb, k=COS_K
    )
    return res.select(
        "q_id", "q_label", "neg_id", "neg_label",
        rnd("cosine", 4).alias("cosine"), "rk",
    )


def q_weighted_sample(spark, sf_dir):
    """Exactly-100 length-weighted document sample (Efraimidis-
    Spirakis hash ranks — longer docs proportionally likelier, fully
    deterministic)."""
    from sfa_spark.operators import sample

    return sample.weighted_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", 100,
    )


def q_hll_by_lang(spark, sf_dir):
    """Per-language distinct-token estimates from GROUPED HLL sketches
    (m=64 registers per language, one map-side-combinable groupBy)
    next to the exact counts — the per-dimension cardinality profile
    at sketch cost."""
    from sfa_spark.operators import sketch
    from sfa_spark.operators.text import with_tokens

    toks = (
        with_tokens(_docs(spark, sf_dir))
        .select("lang", F.explode("toks").alias("token"))
        .where(F.length("token") > 0)
    )
    regs = sketch.hll_registers_by(toks, ["lang"], "token", m=HLL_M)
    est = sketch.hll_estimate_by(regs, ["lang"], m=HLL_M)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("token").cast("bigint").alias("n_exact")
    )
    return exact.join(est, "lang").select(
        "lang", "n_exact", rnd("n_hll", 4).alias("n_hll")
    )
