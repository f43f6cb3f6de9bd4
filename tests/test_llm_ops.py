"""Dedup / text-analysis / similarity operator semantics on tiny
hand-checkable corpora."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sfa_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (3, "completely different text about spark engines"),
        (4, "der schnelle braune fuchs und die faule katze ist"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_groups(docs):
    res = {r["keeper_doc_id"]: r["dup_cnt"] for r in dedup.exact_dedup(docs).collect()}
    assert res[0] == 2  # docs 0 and 2 identical, keeper is min id
    assert res[1] == 1 and res[3] == 1


def test_jaccard_near_dup_ranks_first(docs):
    pairs = dedup.jaccard_pairs(docs, k=3).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert by_pair[(0, 2)] == 1.0  # identical docs
    assert 0.5 < by_pair[(0, 1)] < 1.0  # near-dup
    assert (0, 3) not in by_pair  # no shared shingle


def test_cross_run_dedup_statuses(spark):
    """Incremental dedup semantics: prior wins over batch keepers;
    within-batch dups point at the min-id keeper; fresh hashes kept."""
    prior = spark.createDataFrame(
        [(100, "already crawled")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "already crawled"),   # hash in prior → seen_in_prior
            (2, "fresh content"),     # batch keeper → kept
            (3, "fresh content"),     # batch dup of 2 → dup_in_batch
            (4, "brand new"),         # kept
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    seen = prior.select(F.md5("text").alias("text_hash"))
    got = {
        r["doc_id"]: r["status"]
        for r in dedup.cross_run_dedup(new, seen).collect()
    }
    assert got == {
        1: "seen_in_prior",
        2: "kept",
        3: "dup_in_batch",
        4: "kept",
    }


def test_jaccard_verify_matches_full_pairs_on_candidates(docs):
    """jaccard_verify(docs, cand) must equal the full jaccard_pairs set
    inner-joined to cand — same values, candidates-only cost."""
    sig = dedup.minhash_signatures(docs, n_seeds=4, k=3)
    cand = dedup.lsh_candidate_pairs(sig, band_size=2)
    ver = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in dedup.jaccard_verify(docs, cand, k=3).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in dedup.jaccard_pairs(docs, k=3).collect()
    }
    cand_keys = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    expected = {k: v for k, v in full.items() if k in cand_keys}
    assert ver == expected


def test_jaccard_pairs_guard_blocks_hot_shingles(spark, docs):
    """guard_max_df makes the uncapped quadratic mode structurally
    unreachable: a corpus with a stopword-like shingle (df > guard)
    aborts in-plan before the pair join; a cool corpus is unaffected
    (same rows as unguarded). The gate sits on one stage, so the abort
    is the same exception type on every call."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    # cool corpus: guard engaged but silent — result identical
    unguarded = {
        (r["doc_a"], r["doc_b"]): r["inter"]
        for r in dedup.jaccard_pairs(docs, k=3).collect()
    }
    guarded = {
        (r["doc_a"], r["doc_b"]): r["inter"]
        for r in dedup.jaccard_pairs(docs, k=3, guard_max_df=500).collect()
    }
    assert guarded == unguarded

    # hot corpus: every doc shares the same 3-gram -> df = n_docs > guard
    hot = spark.createDataFrame(
        [(i, "the quick fox jumps over item %d" % i) for i in range(30)],
        "doc_id long, text string",
    )
    for _ in range(3):
        with pytest.raises(SparkRuntimeException, match="guard_max_df"):
            dedup.jaccard_pairs(hot, k=3, guard_max_df=10).collect()


def test_jaccard_verify_dedupes_candidate_pairs(docs):
    """Duplicate (doc_a, doc_b) rows in cand must not multiply inter:
    verify over cand ∪ cand equals verify over cand."""
    sig = dedup.minhash_signatures(docs, n_seeds=4, k=3)
    cand = dedup.lsh_candidate_pairs(sig, band_size=2)
    doubled = cand.unionByName(cand)
    one = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in dedup.jaccard_verify(docs, cand, k=3).collect()
    }
    two = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"], r["jaccard"])
        for r in dedup.jaccard_verify(docs, doubled, k=3).collect()
    }
    assert one == two


def test_lsh_verified_plan_has_no_allpairs(docs):
    """The two-phase verify must never plan the uncapped shingle
    self-join (a join keyed on `shingle` ALONE is the all-pairs
    inverted-index subtree — quadratic on hot shingles). The verify
    path's shingle join is keyed (doc_b, shingle), which is linear in
    the candidate list."""
    import re

    sig = dedup.minhash_signatures(docs, n_seeds=4, k=3)
    cand = dedup.lsh_candidate_pairs(sig, band_size=2)
    ver = dedup.jaccard_verify(docs, cand, k=3)
    plan = ver._jdf.queryExecution().executedPlan().toString()
    bad = re.findall(r"Join \w*\s*\[shingle#\d+[L]?\], \[shingle#\d+[L]?\]", plan)
    assert not bad, plan
    # the groups composition (verify ≥ τ → connected components) must
    # keep the same candidates-only property end to end
    verified = cand.join(ver, ["doc_a", "doc_b"]).where("jaccard >= 0.5")
    gplan = (
        dedup.dedup_groups(verified, docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    bad2 = re.findall(
        r"Join \w*\s*\[shingle#\d+[L]?\], \[shingle#\d+[L]?\]", gplan
    )
    assert not bad2, gplan


def test_minhash_identical_docs_same_signature(docs):
    sig = dedup.minhash_signatures(docs, n_seeds=4, k=3)
    rows = sig.collect()
    s0 = sorted((r["seed"], r["minhash"]) for r in rows if r["doc_id"] == 0)
    s2 = sorted((r["seed"], r["minhash"]) for r in rows if r["doc_id"] == 2)
    assert s0 == s2


def test_lsh_finds_exact_dup_pair(docs):
    sig = dedup.minhash_signatures(docs, n_seeds=4, k=3)
    pairs = {(r["doc_a"], r["doc_b"]): r["n_bands"] for r in dedup.lsh_candidate_pairs(sig, 2).collect()}
    assert pairs.get((0, 2)) == 2  # identical docs share all bands


def test_simhash_near_dup_close_in_hamming(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[2]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[3])


def test_simhash_bits_low_word_matches_simhash32(spark, docs):
    """simhash_bits packs word 0 from the SAME md5 window as the
    32-bit simhash, so the low 32 chars of the 64-bit signature must
    equal lpad(bin(simhash), 32, '0') — pins the word/bit orientation
    the DuckDB oracle mirrors."""
    sig = {r["doc_id"]: r["sig"] for r in dedup.simhash_bits(docs, bits=64).collect()}
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert all(len(s) == 64 for s in sig.values())
    for d, s in sig.items():
        assert s[32:] == format(sh[d], "032b")
    assert sig[0] == sig[2]  # identical docs, identical signatures


def test_token_stats_and_quality(docs):
    s = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    assert s[0]["n_tokens"] == 9
    assert s[0]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    q = {r["doc_id"]: r["quality"] for r in text.quality_score(text.token_stats(docs)).collect()}
    assert 0.0 <= min(q.values()) and max(q.values()) <= 1.0


def test_lang_id_heuristic(docs):
    pred = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert pred[0] == "en"
    assert pred[4] == "de"


def test_fingerprint_stable_and_distinct(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs).collect()}
    assert fp[0] == fp[2]
    assert fp[0] != fp[3]


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    E = rng.normal(0, 1, (20, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(E)],
        "vec_id long, embedding array<double>",
    )
    res = similarity.cosine_topk(df.where("vec_id < 3"), df, k=4)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    for r in res.collect():
        np_rank = np.argsort(-np.delete(S[r["q_id"]], r["q_id"]))
        ids = np.delete(np.arange(20), r["q_id"])
        assert ids[np_rank[r["rk"] - 1]] == r["nn_id"]
        assert S[r["q_id"], r["nn_id"]] == pytest.approx(r["cosine"], abs=1e-9)


def test_bucketed_neighbors_subset_of_bucket(spark):
    rng = np.random.default_rng(4)
    E = rng.normal(0, 1, (50, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(E)],
        "vec_id long, embedding array<double>",
    )
    res = similarity.cosine_topk_bucketed(df.where("vec_id < 5"), df, k=3, n_bits=4)
    buckets = (E[:, :4] > 0).astype(int) @ (2 ** np.arange(4))
    for r in res.collect():
        assert buckets[r["q_id"]] == buckets[r["nn_id"]] == r["bucket"]


def test_scalar_quantize_recall(spark):
    """SQ compressed search must mostly recover the exact neighbors at
    alphabet 16 on 64-dim gaussians (recall@5 well above chance)."""
    import numpy as np

    rng = np.random.default_rng(8)
    E = rng.normal(0, 1, (80, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(E)],
        "vec_id long, embedding array<double>",
    )
    codes, stats = similarity.scalar_quantize(df, alphabet=16)
    approx = similarity.sq_reconstructed_topk(codes, stats, k=5, alphabet=16, n_queries=10)
    D = ((E[:, None, :] - E[None, :, :]) ** 2).sum(-1)
    hits = total = 0
    got = {}
    for r in approx.collect():
        got.setdefault(r["q_id"], set()).add(r["nn_id"])
    for qi, nns in got.items():
        exact = set(np.argsort(D[qi])[1:6])
        hits += len(nns & exact)
        total += 5
    assert hits / total >= 0.6, f"recall@5 {hits/total}"
    # codes really are small ints
    row = codes.limit(1).collect()[0]
    assert all(0 <= c <= 15 for c in row["codes"]) and len(row["codes"]) == 64


def test_multiprobe_recall_beats_single_probe(spark):
    """Multi-probe (4 probes over 64 buckets) must reach recall@3 ≥ 0.9
    vs brute force on the test corpus — the VERDICT round-2 target."""
    import numpy as np

    from sfa_spark.operators import similarity

    rng = np.random.default_rng(17)
    # clustered corpus (real embedding geometry): 20 centers, points
    # scattered around them — iid gaussians are the no-structure worst
    # case where NO sublinear ANN can work
    centers = rng.normal(0, 1, (20, 16))
    vecs = np.vstack(
        [c + rng.normal(0, 0.25, (20, 16)) for c in centers]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).cache()
    q = emb.where("vec_id < 25")
    exact = similarity.cosine_topk(q, emb, k=3)
    multi = similarity.cosine_topk_multiprobe(q, emb, k=3, n_bits=6, n_probes=4)
    truth = {(r["q_id"], r["nn_id"]) for r in exact.collect()}
    got = {(r["q_id"], r["nn_id"]) for r in multi.collect()}
    recall = len(truth & got) / len(truth)
    single = similarity.cosine_topk_bucketed(q, emb, k=3, n_bits=6)
    got1 = {(r["q_id"], r["nn_id"]) for r in single.collect()}
    recall1 = len(truth & got1) / len(truth)
    assert recall >= 0.9, f"multi-probe recall@3 {recall}"
    assert recall >= recall1, (recall, recall1)


def test_bucket_partitioned_write_prunes(spark, tmp_path):
    """The 100 TB layout: corpus written partitionBy(bucket); probing a
    bucket subset must show PartitionFilters in the scan plan (partition
    pruning, not a full scan)."""
    import numpy as np

    from sfa_spark.operators import similarity
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    vecs = rng.normal(0, 1, (200, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "bucketed_corpus")
    emb.withColumn(
        "bucket", similarity.sign_bucket(F.col("embedding"), 6)
    ).write.partitionBy("bucket").mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    probed = corpus.where(F.col("bucket").isin([1, 2, 3]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan, plan
    assert probed.count() == corpus.where(F.col("bucket").isin([1, 2, 3])).count()


def test_kmeans_ivf_recall_and_monotonicity(spark):
    """Lloyd-trained IVF: recall@3 with 4/8 lists probed beats 1-list
    probing (probe sets nest, so per-query candidates are supersets —
    recall is monotone by construction) and clears 0.85 on a clustered
    corpus."""
    rng = np.random.default_rng(23)
    centers = rng.normal(0, 1, (8, 16))
    vecs = np.vstack([c + rng.normal(0, 0.25, (30, 16)) for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = similarity.kmeans_fit(emb, n_centroids=8, iters=5).cache()
    q = emb.where("vec_id < 25")
    truth = {
        (r["q_id"], r["nn_id"])
        for r in similarity.cosine_topk(q, emb, k=3).collect()
    }
    def recall(n_probes):
        got = {
            (r["q_id"], r["nn_id"])
            for r in similarity.cosine_topk_kmeans(
                q, emb, cents, k=3, n_probes=n_probes
            ).collect()
        }
        return len(truth & got) / len(truth)
    r4, r1 = recall(4), recall(1)
    assert r4 >= 0.85, f"kmeans-IVF recall@3 with 4 probes: {r4}"
    assert r4 >= r1, (r4, r1)


def test_kmeans_training_reduces_assignment_cost(spark):
    """Lloyd iterations must not worsen the quantizer: total sqdist of
    home assignments after 5 iters ≤ the iters=0 (init = first-C
    vectors) assignment cost."""
    rng = np.random.default_rng(31)
    vecs = rng.normal(0, 1, (300, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).cache()

    def cost(iters):
        cents = similarity.kmeans_fit(emb, n_centroids=8, iters=iters)
        assigned = similarity.ivf_assign(emb, cents, n_probes=1)
        joined = assigned.join(cents, "centroid_id")
        return joined.select(
            F.sum(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"), F.col("cvec"), lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("c")
        ).collect()[0]["c"]

    assert cost(5) <= cost(0) + 1e-9


def test_ivf_partitioned_write_prunes(spark, tmp_path):
    """IVF 100 TB layout: corpus written partitionBy(centroid_id);
    probing a list subset must plan with PartitionFilters."""
    rng = np.random.default_rng(41)
    vecs = rng.normal(0, 1, (200, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.kmeans_fit(emb, n_centroids=4, iters=3)
    path = str(tmp_path / "ivf_corpus")
    similarity.ivf_assign(emb, cents, n_probes=1).drop("crk").write.partitionBy(
        "centroid_id"
    ).mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    probed = corpus.where(F.col("centroid_id").isin([0, 2]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan, plan
    assert probed.count() > 0


def test_ivf_assign_is_row_local(spark):
    """The IVF list assignment must plan with NO Exchange and NO Join:
    the centroid table inlines as literal arrays and the argmin is a
    codegen'd array_min — the r2 crossJoin+window form exchanged
    corpus×C rows for the same answer. Also checks the multi-probe
    ordering against numpy (dist asc, centroid_id asc ties)."""
    rng = np.random.default_rng(43)
    vecs = rng.normal(0, 1, (100, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.kmeans_fit(emb, n_centroids=4, iters=2)
    for probes in (1, 3):
        assigned = similarity.ivf_assign(emb, cents, n_probes=probes)
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan
    C = np.array(
        [r["cvec"] for r in sorted(cents.collect(), key=lambda r: r["centroid_id"])]
    )
    got = {}
    for r in similarity.ivf_assign(emb, cents, n_probes=3).collect():
        got.setdefault(r["vec_id"], []).append((r["crk"], r["centroid_id"]))
    for i, v in enumerate(vecs):
        d = ((C - v) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(C)), d))[:3]
        assert [c for _, c in sorted(got[i])] == [int(j) for j in order], i


def test_ivf_assign_pandas_fallback_matches_literal(spark, monkeypatch):
    """Above LITERAL_BUDGET centroids×dim the assignment switches to the
    Arrow-batched pandas UDF — same (centroid_id, crk) output and still
    zero Exchange/Join in the plan."""
    rng = np.random.default_rng(47)
    vecs = rng.normal(0, 1, (80, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.kmeans_fit(emb, n_centroids=6, iters=2)
    for probes in (1, 3):
        lit = sorted(
            (r["vec_id"], r["crk"], r["centroid_id"])
            for r in similarity.ivf_assign(emb, cents, n_probes=probes).collect()
        )
        monkeypatch.setattr(similarity, "LITERAL_BUDGET", 1)
        assigned = similarity.ivf_assign(emb, cents, n_probes=probes)
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan, plan
        pdz = sorted(
            (r["vec_id"], r["crk"], r["centroid_id"]) for r in assigned.collect()
        )
        monkeypatch.setattr(similarity, "LITERAL_BUDGET", 32768)
        assert lit == pdz, probes


def test_kmeans_fit_exact_limit_table_ok(spark):
    """A table with exactly sample_limit rows is full coverage — the
    iters=0 oracle-contract assert must not fire (ADVICE r3)."""
    rng = np.random.default_rng(53)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 4)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.kmeans_fit(emb, n_centroids=4, iters=0, sample_limit=64)
    ids = sorted(r["centroid_id"] for r in cents.collect())
    assert ids == [0, 1, 2, 3]


def test_dedup_groups_components(spark):
    """Connected components over near-dup pairs: {1,2,3} collapse to 1,
    {5,6} to 5, untouched docs stay singleton-canonical."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    res = {
        r["doc_id"]: (r["group_id"], r["is_canonical"])
        for r in dedup.dedup_groups(pairs, docs).collect()
    }
    assert res[1] == (1, True) and res[2] == (1, False) and res[3] == (1, False)
    assert res[5] == (5, True) and res[6] == (5, False)
    assert res[0] == (0, True) and res[7] == (7, True)


def test_dedup_groups_chain_converges(spark):
    """A 12-node path (worst case for min-propagation depth) still
    collapses to one group within the iteration cap."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    res = dedup.dedup_groups(pairs)
    assert {r["group_id"] for r in res.collect()} == {0}


def test_dedup_groups_raises_on_nonconvergence(spark):
    """An adversarial chain deeper than the iteration budget must FAIL
    LOUDLY, never silently emit split groups (r2 verdict: the silent
    stop at max_iter was the robustness gap)."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_groups(pairs, max_iter=4)
    # same graph inside the budget: one component, label 0
    res = dedup.dedup_groups(pairs, max_iter=12)
    assert {r["group_id"] for r in res.collect()} == {0}


def test_hash_sample_deterministic_and_nested(spark):
    from sfa_spark.operators import sample

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = {r["doc_id"] for r in sample.hash_sample(docs, "doc_id", 0.1).collect()}
    s10b = {
        r["doc_id"]
        for r in sample.hash_sample(docs.repartition(7), "doc_id", 0.1).collect()
    }
    s30 = {r["doc_id"] for r in sample.hash_sample(docs, "doc_id", 0.3).collect()}
    assert s10 == s10b  # layout-independent
    assert s10 <= s30  # nested: larger fraction is a superset
    assert 0.05 < len(s10) / 2000 < 0.15  # near the nominal rate
    other = {
        r["doc_id"]
        for r in sample.hash_sample(docs, "doc_id", 0.1, salt="t").collect()
    }
    assert other != s10  # independent samples under different salts


def test_stratified_sample_rates(spark):
    from sfa_spark.operators import sample

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("s"),
    )
    res = sample.stratified_sample(
        docs, "doc_id", "s", {"a": 0.5}, default_fraction=0.05
    )
    counts = {r["s"]: r["cnt"] for r in res.groupBy("s").agg(F.count("*").alias("cnt")).collect()}
    assert 0.4 < counts["a"] / 1000 < 0.6
    assert counts.get("b", 0) / 2000 < 0.12


def test_hash_top_n_exact_and_stable(spark):
    from sfa_spark.operators import sample

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = [r["doc_id"] for r in sample.hash_top_n(docs, "doc_id", 50).collect()]
    b = [r["doc_id"] for r in sample.hash_top_n(docs.repartition(11), "doc_id", 50).collect()]
    assert len(a) == 50 and sorted(a) == sorted(b)
    plan = sample.hash_top_n(docs, "doc_id", 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_token_estimate_bpe_ish(spark):
    d = spark.createDataFrame(
        [(0, "Hello world, 42 times!")], "doc_id long, text string"
    )
    r = text.token_estimate(d).collect()[0]
    # " ?letters" x2, " ,", " ?digits", " times", "!" → 6 BPE-ish pieces
    assert r["ws_tokens"] == 4
    assert r["bpe_ish_tokens"] == 6
    assert r["chars_per_token"] == pytest.approx(22 / 6)


def test_pii_stats_counts(spark):
    d = spark.createDataFrame(
        [
            (0, "mail me at a.b@example.com or c@d.org, see https://x.io/page now"),
            (1, "Lorem ipsum dolor. All Rights Reserved. click HERE"),
            (2, "clean text with nothing to redact"),
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in text.pii_stats(d).collect()}
    assert r[0]["n_emails"] == 2 and r[0]["n_urls"] == 1 and r[0]["boilerplate_hits"] == 0
    assert r[1]["boilerplate_hits"] == 3 and r[1]["n_emails"] == 0
    assert r[2]["n_emails"] == r[2]["n_urls"] == r[2]["boilerplate_hits"] == 0


# ---------------------------------------------------------------- corpus prep


def test_repetition_stats_flags_repeated_doc(spark):
    from sfa_spark.operators import corpus

    rows = [
        (0, "spam spam spam spam spam spam"),
        (1, "one two three four five six"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r for r in corpus.repetition_stats(d).collect()}
    # doc 0: 6 tokens 1 distinct; top bigram "spam spam" x5 covers 10/6
    assert res[0]["n_tokens"] == 6 and res[0]["n_distinct"] == 1
    assert abs(res[0]["dup_token_frac"] - 5 / 6) < 1e-9
    assert res[0]["dup_bigram_frac"] == 1.0
    # doc 1: all distinct, no repeated bigram
    assert res[1]["dup_token_frac"] == 0.0
    assert res[1]["dup_bigram_frac"] == 0.0
    assert abs(res[1]["top_bigram_frac"] - 2 / 6) < 1e-9


def test_gopher_filter_rules(spark):
    from sfa_spark.operators import corpus

    rows = [
        (0, "the market data pipeline processes a stream of events and writes results to the table"),
        (1, "spam spam spam spam spam spam spam spam spam spam"),   # repetition
        (2, "tiny"),                                                # too short
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r for r in corpus.gopher_filter(d).collect()}
    assert res[0]["kept"] == 1
    assert res[1]["kept"] == 0 and res[1]["ok_repetition"] == 0
    assert res[2]["kept"] == 0 and res[2]["ok_len"] == 0


def test_decontaminate_flags_benchmark_overlap(spark):
    from sfa_spark.operators import corpus

    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (0, "what is the capital of france paris obviously"),  # contaminated
            (1, "a completely unrelated sentence about databases"),
        ],
        "doc_id long, text string",
    )
    res = {r["doc_id"]: r for r in corpus.decontaminate(train, bench, tau=0.5).collect()}
    assert res[0]["flagged"] == 1 and res[0]["n_contaminated"] >= 5
    assert res[1]["flagged"] == 0 and res[1]["n_contaminated"] == 0


def test_bloom_decontaminate_matches_exact(spark):
    """bloom=True must be bit-identical to the exact path (the verify
    join removes bloom false positives), and the prefilter must
    actually prune non-overlapping corpus shingles."""
    from pyspark.sql import functions as F

    from sfa_spark.operators import corpus

    bench = spark.createDataFrame(
        [(100 + i, f"benchmark question number {i} about topic {i}") for i in range(10)],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(0, "benchmark question number 3 about topic 3 verbatim leak")]
        + [
            (i, f"clean training document {i} with entirely fresh words {i * 7}")
            for i in range(1, 40)
        ],
        "doc_id long, text string",
    )
    exact = sorted(
        corpus.decontaminate(train, bench, tau=0.3).collect(),
        key=lambda r: r["doc_id"],
    )
    bloomed = sorted(
        corpus.decontaminate(train, bench, tau=0.3, bloom=True).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in exact] == [tuple(r) for r in bloomed]
    assert bloomed[0]["flagged"] == 1

    # the prefilter prunes: ~1 contaminated doc of 40, so far fewer
    # corpus shingles survive bloom_contains than exist
    from sfa_spark.operators.text import shingles

    bs = shingles(bench).select("shingle").distinct()
    words, m_bits = corpus.bloom_build(bs, "shingle")
    cs = shingles(train)
    total = cs.count()
    kept = cs.where(
        corpus.bloom_contains(F.col("shingle"), words, m_bits)
    ).count()
    assert kept < 0.5 * total


def test_bloom_tiny_bitmap_still_exact(spark):
    """Force heavy false positives (2 bits/item, 1 hash): output must
    STILL equal the exact path — only the pruning ratio degrades."""
    from sfa_spark.operators import corpus

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta"),
            (1, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    exact = sorted(
        corpus.decontaminate(train, bench, tau=0.5).collect(),
        key=lambda r: r["doc_id"],
    )
    bloomed = sorted(
        corpus.decontaminate(
            train, bench, tau=0.5, bloom=True, n_hashes=1, bits_per_item=2
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in exact] == [tuple(r) for r in bloomed]


def test_sequence_pack_invariants(spark):
    from sfa_spark.operators import corpus

    rows = [(i, " ".join(["w"] * (5 + i))) for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    res = corpus.sequence_pack(d, ctx_len=16, n_shards=3).collect()
    by_shard = {}
    for r in res:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(res) == 20 and len(by_shard) >= 2
    for shard, docs_in in by_shard.items():
        docs_in.sort(key=lambda r: r["doc_id"])
        # contiguous concatenation: each start = previous start + n_tokens
        off = 0
        for r in docs_in:
            assert r["start_tok"] == off
            assert r["seq_first"] == off // 16
            assert r["seq_last"] == (off + r["n_tokens"] - 1) // 16
            off += r["n_tokens"]


# ---------------------------------------------------------------- product quantization


@pytest.fixture(scope="module")
def emb_small(spark):
    rng = np.random.RandomState(7)
    # 4 loose clusters in 16-dim so PQ has structure to learn
    centers = rng.randn(4, 16) * 3
    rows = []
    for i in range(120):
        v = centers[i % 4] + rng.randn(16) * 0.4
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_pq_adc_matches_numpy(spark, emb_small):
    from sfa_spark.operators import similarity as S
    from pyspark.sql import functions as F

    cb = S.pq_fit(emb_small, m=4, ksub=8, iters=5)
    enc = S.pq_encode(emb_small, cb)
    res = S.pq_adc_topk(emb_small.where(F.col("vec_id") < 5), enc, cb, k=4)
    X = {r["vec_id"]: np.array(r["embedding"]) for r in emb_small.collect()}
    CB = np.zeros((4, 8, 4))
    for r in cb.collect():
        CB[r["sub"], r["code"]] = r["svec"]
    codes = {
        i: [int(np.argmin(((CB[s] - v[s * 4 : (s + 1) * 4]) ** 2).sum(1))) for s in range(4)]
        for i, v in X.items()
    }
    for r in res.collect():
        want = sum(
            ((X[r["q_id"]][s * 4 : (s + 1) * 4] - CB[s][codes[r["nn_id"]][s]]) ** 2).sum()
            for s in range(4)
        )
        assert abs(r["adc_dist"] - want) < 1e-9


def test_pq_rerank_recall(spark, emb_small):
    """Shortlist-then-exact-rerank must recover most true neighbors on
    clustered data (the production PQ composition)."""
    from sfa_spark.operators import similarity as S
    from pyspark.sql import functions as F

    cb = S.pq_fit(emb_small, m=4, ksub=8, iters=5)
    res = S.pq_topk_rerank(
        emb_small.where(F.col("vec_id") < 8), emb_small, cb, k=3, shortlist=20
    )
    X = {r["vec_id"]: np.array(r["embedding"]) for r in emb_small.collect()}

    def exact(q, k=3):
        ds = sorted((float(((X[q] - X[c]) ** 2).sum()), c) for c in X if c != q)
        return {c for _, c in ds[:k]}

    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["q_id"], set()).add(r["nn_id"])
    hits = sum(len(exact(q) & nns) for q, nns in by_q.items())
    assert hits / (len(by_q) * 3) >= 0.8
    # rerank output is exact ED on the shortlist: verify distances
    for r in res.collect():
        want = float(((X[r["q_id"]] - X[r["nn_id"]]) ** 2).sum())
        assert abs(r["sqdist"] - want) < 1e-9


def test_pq_codes_compress(spark, emb_small):
    from sfa_spark.operators import similarity as S

    cb = S.pq_fit(emb_small, m=4, ksub=8, iters=0)
    enc = S.pq_encode(emb_small, cb).collect()
    assert len(enc) == 120
    for r in enc:
        assert len(r["pq_codes"]) == 4
        assert all(0 <= c < 8 for c in r["pq_codes"])


def test_ivfpq_adc_matches_numpy(spark, emb_small):
    from sfa_spark.operators import similarity as S
    from pyspark.sql import functions as F

    cents = S.kmeans_fit(emb_small, n_centroids=4, iters=3)
    cb = S.ivfpq_fit(emb_small, cents, m=4, ksub=8, iters=3)
    enc = S.ivfpq_encode(emb_small, cents, cb)
    res = S.ivfpq_topk(
        emb_small.where(F.col("vec_id") < 5), enc, cents, cb, k=4, n_probes=2
    )
    X = {r["vec_id"]: np.array(r["embedding"]) for r in emb_small.collect()}
    C = np.array(
        [r["cvec"] for r in sorted(cents.collect(), key=lambda r: r["centroid_id"])]
    )
    CB = np.zeros((4, 8, 4))
    for r in cb.collect():
        CB[r["sub"], r["code"]] = r["svec"]

    def home(v):
        d = ((C - v) ** 2).sum(1)
        return int(np.lexsort((np.arange(len(C)), d))[0])

    codes = {}
    for i, v in X.items():
        h = home(v)
        r = v - C[h]
        codes[i] = (h, [int(np.argmin(((CB[s] - r[s * 4 : (s + 1) * 4]) ** 2).sum(1))) for s in range(4)])
    for r in res.collect():
        h_c, cds = codes[r["nn_id"]]
        qr = X[r["q_id"]] - C[h_c]
        want = sum(((qr[s * 4 : (s + 1) * 4] - CB[s][cds[s]]) ** 2).sum() for s in range(4))
        assert abs(r["adc_dist"] - want) < 1e-9


def test_ivfpq_recall_on_clustered(spark, emb_small):
    """On clustered data with trained quantizers, IVF-PQ at 2/4 probes
    recovers most true neighbors (neighbors co-locate in lists)."""
    from sfa_spark.operators import similarity as S
    from pyspark.sql import functions as F

    cents = S.kmeans_fit(emb_small, n_centroids=4, iters=5)
    cb = S.ivfpq_fit(emb_small, cents, m=4, ksub=8, iters=5)
    enc = S.ivfpq_encode(emb_small, cents, cb)
    res = S.ivfpq_topk(
        emb_small.where(F.col("vec_id") < 8), enc, cents, cb, k=10, n_probes=2
    )
    X = {r["vec_id"]: np.array(r["embedding"]) for r in emb_small.collect()}

    def exact(q, k=3):
        ds = sorted((float(((X[q] - X[c]) ** 2).sum()), c) for c in X if c != q)
        return {c for _, c in ds[:k]}

    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["q_id"], set()).add(r["nn_id"])
    hits = sum(len(exact(q) & nns) for q, nns in by_q.items())
    assert hits / (3 * len(by_q)) >= 0.6


def test_domain_cap_deterministic_and_bounded(spark):
    from sfa_spark.operators import sample

    rows = [(i, f"dom{i % 3}") for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    r1 = sample.domain_cap(d, "doc_id", "source", 4).collect()
    r2 = sample.domain_cap(d.repartition(7), "doc_id", "source", 4).collect()
    assert sorted((r["doc_id"], r["source"]) for r in r1) == sorted(
        (r["doc_id"], r["source"]) for r in r2
    )
    from collections import Counter

    cnt = Counter(r["source"] for r in r1)
    assert all(v == 4 for v in cnt.values()) and len(cnt) == 3
    # superset-stable: cap 4 winners are all inside cap 8 winners
    r8 = {r["doc_id"] for r in sample.domain_cap(d, "doc_id", "source", 8).collect()}
    assert {r["doc_id"] for r in r1} <= r8


def test_domain_cap_two_phase_bounds_hot_domain(spark):
    """One pathological domain holding ~all rows: the two-phase plan
    must (a) rank first within (domain, hash-bucket) — the first
    exchange keyed on BOTH columns, bounding any one window partition
    to ~|domain|/n_buckets rows — and (b) return exactly the rows the
    single-phase (n_buckets=1) plan picks."""
    from sfa_spark.operators import sample

    rows = [(i, "hot" if i % 50 else f"cold{i}") for i in range(5000)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    two = sample.domain_cap(d, "doc_id", "source", 7, n_buckets=16)
    one = sample.domain_cap(d, "doc_id", "source", 7, n_buckets=1)
    got_two = sorted((r["doc_id"], r["source"]) for r in two.collect())
    got_one = sorted((r["doc_id"], r["source"]) for r in one.collect())
    assert got_two == got_one
    from collections import Counter

    assert max(Counter(s for _, s in got_two).values()) == 7
    plan = two._jdf.queryExecution().executedPlan().toString()
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("_bkt" in p and "source" in p for p in parts), plan
    # phase-2 window sees survivors only: plan has two ranking windows
    assert plan.count("row_number()") >= 2, plan


def test_ivfpq_partitioned_write_prunes(spark, emb_small, tmp_path):
    """IVF-PQ 100 TB layout: the encoded index (centroid_id, pq_codes)
    written partitionBy(centroid_id) IS the on-disk index — probing a
    list subset must plan with PartitionFilters, and the float
    embedding column must be absent from the scan entirely."""
    from sfa_spark.operators import similarity as S

    cents = S.kmeans_fit(emb_small, n_centroids=4, iters=3)
    cb = S.ivfpq_fit(emb_small, cents, m=4, ksub=8, iters=3)
    path = str(tmp_path / "ivfpq_index")
    S.ivfpq_encode(emb_small, cents, cb).write.partitionBy(
        "centroid_id"
    ).mode("overwrite").parquet(path)
    index = spark.read.parquet(path)
    probed = index.where(F.col("centroid_id").isin([0, 2]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan, plan
    assert "embedding" not in plan  # codes-only scan
    assert probed.count() > 0


# ---------------------------------------------------------------- r4 curation ops


def test_pii_redact_replaces_and_counts(spark):
    rows = [
        (0, "contact bob@example.com or visit https://example.com/page now"),
        (1, "no pii here at all"),
        (2, "two mails a@b.co and c@d.org"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r for r in text.pii_redact(df).collect()}
    assert res[0]["redacted"] == "contact <EMAIL> or visit <URL> now"
    assert res[0]["n_redacted"] == 2
    assert res[1]["redacted"] == "no pii here at all" and res[1]["n_redacted"] == 0
    assert res[2]["redacted"] == "two mails <EMAIL> and <EMAIL>"
    assert res[2]["n_redacted"] == 2


def test_lm_perplexity_prefers_predictable_text(spark):
    # doc 0/1 are the same repetitive pattern (high bigram probability);
    # doc 2 is one-off word salad → higher perplexity under the
    # corpus-fit bigram LM
    rows = [
        (0, "a b a b a b a b a b a b"),
        (1, "a b a b a b a b a b a b"),
        (2, "q w e r t y u i o p z x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r for r in text.lm_perplexity(df).collect()}
    assert res[0]["n_bigrams"] == 11
    assert res[0]["ppl"] == res[1]["ppl"]
    assert res[2]["ppl"] > 2 * res[0]["ppl"]
    # ppl = exp(-avg_logp) within rounding
    import math

    assert abs(res[0]["ppl"] - math.exp(-res[0]["avg_logp"])) < 1e-2


def test_dup_span_stats_covers_shared_span_only(spark):
    # docs 0 and 1 share the 7-token prefix; doc 2 is disjoint.
    # With span_len=5 the shared prefix yields dup 5-grams at positions
    # 0..2 → covered tokens = union of [0,5),[1,6),[2,7) = 7.
    shared = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (0, shared + " one two three"),
        (1, shared + " four five six"),
        (2, "k l m n o p q r s t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r for r in dedup.dup_span_stats(df, span_len=5).collect()}
    assert res[0]["dup_tokens"] == 7 and res[1]["dup_tokens"] == 7
    assert res[0]["n_tokens"] == 10
    assert abs(res[0]["dup_span_frac"] - 0.7) < 1e-6
    assert res[2]["dup_tokens"] == 0 and res[2]["dup_span_frac"] == 0.0


def test_mixture_sample_hits_targets_and_is_deterministic(spark):
    from sfa_spark.operators import sample

    rows = [(i, "en" if i % 4 != 3 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # en:de = 300:100 available; targets 50/50 → N bound by de:
    # N = min(300/0.5, 100/0.5) = 200 → 100 en + 100 de
    out = sample.mixture_sample(df, "doc_id", "lang", {"en": 0.5, "de": 0.5})
    got = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == {"en": 100, "de": 100}
    # deterministic: same rows both runs
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sample.mixture_sample(df, "doc_id", "lang", {"en": 0.5, "de": 0.5}).collect()
    )
    assert a == b
    # unlisted stratum dropped; zero-weight raises on all-zero
    out2 = sample.mixture_sample(df, "doc_id", "lang", {"en": 1.0})
    assert out2.select("lang").distinct().collect() == [("en",)]
    with pytest.raises(ValueError):
        sample.mixture_sample(df, "doc_id", "lang", {"en": 0.0})


def test_quality_classifier_separable_classes(spark):
    """The hashed-ngram linear classifier must recover clearly
    separable classes (disjoint vocabularies) on held-out docs, with
    string labels decoded back."""
    from sfa_spark.ml import quality

    good = "clear helpful prose with structure and meaning always"
    spam = "buy cheap pills now click win prize free casino"
    rows = [
        (i, (good if i % 2 == 0 else spam) + f" tail{i % 7}")
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labels = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "keep").otherwise("drop").alias("label"),
    )
    train = F.col("doc_id") < 60
    m = quality.quality_fit(
        docs.where(train), labels.where(train), n_buckets=1 << 12
    )
    pred = m.predict(docs.where(~train))
    j = pred.join(labels, "doc_id")
    acc = j.agg(
        F.avg((F.col("pred") == F.col("label")).cast("double"))
    ).collect()[0][0]
    assert acc >= 0.9
    assert set(r["pred"] for r in pred.collect()) <= {"keep", "drop"}


def test_mixture_sample_radix_never_sorts_whole_stratum(spark):
    """Scale contract of the radix-select: every window in the plan is
    partitioned by (stratum, bucket) — never by the stratum alone
    (which would sort an entire stratum in one partition at 100 TB).
    The only stratum-only window allowed is the ≤4096-row bucket-
    histogram cumulative sum."""
    from sfa_spark.operators import sample

    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample.mixture_sample(df, "doc_id", "lang", {"en": 0.6, "de": 0.4})
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    row_number_specs = [s for s in specs if "_b" in s or "lang" in s]
    for s in row_number_specs:
        # stratum-only windows may only carry the tiny histogram sum
        # (ordered by _b); the row_number window must include _b in its
        # PARTITION keys
        if "_h" in s:  # the row_number spec orders by the hash
            assert "_b#" in s.split("ASC")[0], s


def test_dup_span_stats_full_dup_and_bounds(spark):
    """Property: coverage is bounded by doc length, and an exactly
    duplicated doc pair is fully covered (frac 1.0)."""
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [(0, base), (1, base), (2, "a b c d e f g h i j")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r for r in dedup.dup_span_stats(df, span_len=5).collect()}
    for r in res.values():
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]
    assert res[0]["dup_span_frac"] == 1.0 and res[1]["dup_span_frac"] == 1.0
    assert res[2]["dup_tokens"] == 0


def test_mixture_sample_proportion_property(spark):
    """Property: output composition matches the integer-exact targets
    for arbitrary weights, and output never exceeds availability."""
    from sfa_spark.operators import sample

    rows = [
        (i, ["a", "b", "c"][i % 3] if i < 240 else "a") for i in range(400)
    ]  # a:213(ish), b:80, c:80 — skewed availability
    df = spark.createDataFrame(
        [(i, s) for i, s in rows], "doc_id long, lang string"
    )
    avail = {r["lang"]: r["n"] for r in df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    targets = {"a": 0.7, "b": 0.2, "c": 0.1}
    out = sample.mixture_sample(df, "doc_id", "lang", targets)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    import math

    N = min(math.floor(avail[s] * 10 / (targets[s] * 10)) for s in targets)
    for s, p in targets.items():
        assert got.get(s, 0) == math.floor(N * p + 1e-9), (s, got, N)
        assert got.get(s, 0) <= avail[s]


def test_bpe_fit_classic_example(spark):
    """Sennrich et al.'s worked example: low×5 lower×2 newest×6
    widest×3. First five merges, hand-derived under the (count desc,
    pair asc) tie rule: es, es+t</w>, l+o, e+w, ew+est</w>."""
    from sfa_spark.operators import bpe

    docs = spark.createDataFrame(
        [(0, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string",
    )
    merges = [
        (r["left"], r["right"])
        for r in bpe.bpe_fit(docs, n_merges=5, min_freq=1).orderBy("rank").collect()
    ]
    assert merges == [
        ("e", "s"), ("es", "t</w>"), ("l", "o"), ("e", "w"), ("ew", "est</w>"),
    ]


def test_bpe_encode_matches_sequential_reference(spark):
    """Distributed encode (lowest-rank-first pair application) must
    equal the reference procedure of applying each merge rule fully,
    in rank order — and concatenating an encoded word's symbols must
    reproduce the word (roundtrip)."""
    import numpy as np

    from sfa_spark.operators import bpe

    rng = np.random.default_rng(7)
    alphabet = list("abcde")
    words = [
        "".join(rng.choice(alphabet, size=rng.integers(1, 9)))
        for _ in range(300)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 30 : (i + 1) * 30])) for i in range(10)],
        "doc_id long, text string",
    )
    merges_df = bpe.bpe_fit(docs, n_merges=40, min_freq=1)
    merges = [
        (r["left"], r["right"])
        for r in merges_df.orderBy("rank").collect()
    ]
    ranks = {m: i for i, m in enumerate(merges)}

    def reference_encode(word):
        sym = list(word[:-1]) + [word[-1] + "</w>"]
        for a, b in merges:  # rank order, each rule applied fully
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    for w in set(words):
        got = bpe._encode_word(w, ranks)
        assert got == reference_encode(w), w
        assert "".join(got).replace("</w>", "") == w, w

    enc = {r["doc_id"]: r for r in bpe.bpe_encode(docs, merges_df).collect()}
    for i in range(10):
        ws = words[i * 30 : (i + 1) * 30]
        want = sum(len(reference_encode(w)) for w in ws)
        assert enc[i]["n_words"] == 30
        assert enc[i]["n_bpe_tokens"] == want


def test_bpe_more_merges_fewer_tokens(spark):
    from sfa_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, f"compression compressed compressing recompression {i}") for i in range(20)],
        "doc_id long, text string",
    )
    n10 = bpe.bpe_encode(docs, bpe.bpe_fit(docs, n_merges=10, min_freq=1))
    n50 = bpe.bpe_encode(docs, bpe.bpe_fit(docs, n_merges=50, min_freq=1))
    a = {r["doc_id"]: r["n_bpe_tokens"] for r in n10.collect()}
    b = {r["doc_id"]: r["n_bpe_tokens"] for r in n50.collect()}
    assert all(b[k] <= a[k] for k in a)
    assert sum(b.values()) < sum(a.values())


def test_countmin_never_underestimates(spark):
    """CMS guarantee: est ≥ true for EVERY item, and the grid is
    depth×width-bounded regardless of item count. With width ≫
    distinct items, estimates are exact."""
    import numpy as np

    from sfa_spark.operators import sketch

    rng = np.random.default_rng(3)
    # Zipf-ish: item i appears ~ 200/(i+1) times
    occs = [(f"item{i}",) for i in range(40) for _ in range(200 // (i + 1))]
    rng.shuffle(occs)
    items = spark.createDataFrame(occs, "token string")
    true = {r["token"]: r["cnt"] for r in
            items.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).collect()}

    grid = sketch.countmin_build(items, "token", depth=4, width=32)
    assert grid.count() <= 4 * 32
    cand = items.select("token").distinct()
    est = {r["item"]: r["cm_est"] for r in
           sketch.countmin_estimate(cand, grid, "token", depth=4, width=32).collect()}
    assert all(est[k] >= true[k] for k in true)

    wide = sketch.countmin_build(items, "token", depth=4, width=4096)
    est_w = {r["item"]: r["cm_est"] for r in
             sketch.countmin_estimate(cand, wide, "token", depth=4, width=4096).collect()}
    assert est_w == true  # no collisions at width ≫ items


def test_hll_within_error_bound(spark):
    """HLL estimate within ~3σ of 1.04/√m on a few thousand distinct
    items, and the register table is ≤ m rows."""
    from sfa_spark.operators import sketch

    n = 5000
    items = spark.createDataFrame(
        [(f"token-{i}",) for i in range(n)], "token string"
    )
    regs = sketch.hll_registers(items, "token", m=64)
    assert regs.count() <= 64
    est = sketch.hll_estimate(regs, m=64).collect()[0]["n_hll"]
    bound = 3 * sketch.hll_error_bound(64)  # ≈ 0.39
    assert abs(est - n) / n <= bound, est
    # duplicate-insensitivity: inserting everything 3× changes nothing
    tripled = items.union(items).union(items)
    est3 = sketch.hll_estimate(
        sketch.hll_registers(tripled, "token", m=64), m=64
    ).collect()[0]["n_hll"]
    assert est3 == est


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain equi-join (inner and left), with the salt
    visible in the physical join keys and broadcast disabled so the
    shuffle path is actually exercised."""
    import numpy as np

    from sfa_spark.operators import skew

    rng = np.random.default_rng(9)
    # extreme skew: key 0 holds 90% of left rows
    keys = [0] * 900 + [int(k) for k in rng.integers(1, 20, 100)]
    left = spark.createDataFrame(
        [(k, i, float(i % 7)) for i, k in enumerate(keys)],
        "uid long, row_id long, v double",
    )
    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(20)], "uid long, name string"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for how in ("inner", "left"):
            got = skew.salted_join(left, right, "uid", n_salts=4, how=how)
            want = left.join(right, "uid", how)
            assert sorted(got.columns) == sorted(want.columns)
            g = sorted(tuple(r) for r in got.select(*sorted(got.columns)).collect())
            w = sorted(tuple(r) for r in want.select(*sorted(got.columns)).collect())
            assert g == w, how
        plan = (
            skew.salted_join(left, right, "uid", n_salts=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "_salt" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_left_semantics_unmatched(spark):
    from sfa_spark.operators import skew

    left = spark.createDataFrame(
        [(1, "a"), (99, "orphan")], "k long, s string"
    )
    right = spark.createDataFrame([(1, 10.0)], "k long, x double")
    got = {
        r["k"]: r["x"]
        for r in skew.salted_join(left, right, "k", n_salts=3, how="left").collect()
    }
    assert got == {1: 10.0, 99: None}


def test_ivfpq_incremental_append_equals_bulk(spark, emb_small, tmp_path):
    """Index lifecycle: bulk-write 2/3 of the corpus, append the rest
    in two batches with the frozen centroids/codebook — search over
    the read-back index must equal search over the bulk-encoded whole
    corpus, and the appended files must keep partition pruning."""
    from sfa_spark.operators import similarity as S

    cents = S.kmeans_fit(emb_small, n_centroids=4, iters=3)
    cb = S.ivfpq_fit(emb_small, cents, m=4, ksub=8, iters=3)
    path = str(tmp_path / "ivfpq_inc")

    part1 = emb_small.where("vec_id % 3 != 0")
    part2 = emb_small.where("vec_id % 3 = 0 AND vec_id % 2 = 0")
    part3 = emb_small.where("vec_id % 3 = 0 AND vec_id % 2 != 0")
    S.ivfpq_write(S.ivfpq_encode(part1, cents, cb), path)
    S.ivfpq_append(part2, cents, cb, path)
    S.ivfpq_append(part3, cents, cb, path)

    index = S.ivfpq_read(spark, path)
    bulk = S.ivfpq_encode(emb_small, cents, cb)
    assert index.count() == bulk.count()

    q = emb_small.where("vec_id < 5")
    got = sorted(
        tuple(r)
        for r in S.ivfpq_topk(q, index, cents, cb, k=3, n_probes=2).collect()
    )
    want = sorted(
        tuple(r)
        for r in S.ivfpq_topk(q, bulk, cents, cb, k=3, n_probes=2).collect()
    )
    assert got == want

    probed = index.where(F.col("centroid_id").isin([1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan, plan


def test_tpch_local_supplier_all_broadcast(spark):
    """The Q5-shape 5-table join must plan as one fact scan + broadcast
    hash joins for every dim — no SortMergeJoin, no fact shuffle before
    the aggregate."""
    from sfa_spark.queries import q_tpch_local_supplier

    d = q_tpch_local_supplier(spark, "/root/testdata/sf0.001")
    d.collect()
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_bpe_min_count_prunes_hapax(spark):
    """min_count drops hapax words from the fit dictionary BEFORE the
    driver collect; frequent-word merges are unchanged."""
    from sfa_spark.operators import bpe

    docs = spark.createDataFrame(
        [(0, " ".join(["sharing"] * 20 + [f"hapax{i}qz" for i in range(30)]))],
        "doc_id long, text string",
    )
    full = [(r["left"], r["right"]) for r in
            bpe.bpe_fit(docs, n_merges=6, min_freq=1).orderBy("rank").collect()]
    cut = [(r["left"], r["right"]) for r in
           bpe.bpe_fit(docs, n_merges=6, min_freq=1, min_count=2)
           .orderBy("rank").collect()]
    # with hapax gone, only 'sharing' drives merges: all pairs come
    # from its character sequence
    syms = set("sharing") | {"g</w>"}
    for a, b in cut:
        assert set(a) <= set("sharing") and (b in syms or set(b) <= syms | {"<", "/", ">", "w"})
    assert cut != full


def test_countmin_unseen_candidate_estimates_zero(spark):
    """A candidate that never occurred must estimate 0 (empty cell ⇒
    true count 0), not be dropped or inherit collision counts."""
    from sfa_spark.operators import sketch

    items = spark.createDataFrame([("a",), ("b",), ("a",)], "token string")
    grid = sketch.countmin_build(items, "token", depth=4, width=64)
    cand = spark.createDataFrame(
        [("a",), ("never-seen-item",)], "token string"
    )
    est = {r["item"]: r["cm_est"] for r in
           sketch.countmin_estimate(cand, grid, "token", depth=4, width=64).collect()}
    assert est["a"] == 2
    assert est["never-seen-item"] == 0


def test_hll_empty_input_estimates_zero(spark):
    from sfa_spark.operators import sketch

    empty = spark.createDataFrame([], "token string")
    regs = sketch.hll_registers(empty, "token", m=64)
    est = sketch.hll_estimate(regs, m=64).collect()[0]["n_hll"]
    assert est == 0.0


def test_bloom_prefilter_frame_path_matches_literal(spark, monkeypatch):
    """Above BLOOM_LIT_WORDS_CAP the bitmap rides a broadcast one-row
    frame; forced low, the frame path must keep the same rows as the
    literal path."""
    from pyspark.sql import functions as F

    from sfa_spark.operators import corpus
    from sfa_spark.operators.text import shingles

    bench = spark.createDataFrame(
        [(100 + i, f"sentence number {i} of the benchmark set") for i in range(8)],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(0, "sentence number 3 of the benchmark set copied")]
        + [(i, f"novel training text {i} nothing shared {i * 3}") for i in range(1, 20)],
        "doc_id long, text string",
    )
    bs = shingles(bench).select("shingle").distinct()
    words, m_bits = corpus.bloom_build(bs, "shingle")
    cs = shingles(train)
    lit_rows = sorted(
        tuple(r)
        for r in corpus.bloom_prefilter(cs, "shingle", words, m_bits).collect()
    )
    monkeypatch.setattr(corpus, "BLOOM_LIT_WORDS_CAP", 1)
    frame_rows = sorted(
        tuple(r)
        for r in corpus.bloom_prefilter(cs, "shingle", words, m_bits).collect()
    )
    assert lit_rows == frame_rows and len(lit_rows) > 0


def test_salted_join_spreads_identical_rows(spark):
    """A hot key made of IDENTICAL rows must still spread across salts
    (the content-hash pathology): with 200 identical rows and 4 salts,
    every salt bucket must be hit."""
    from pyspark.sql import functions as F

    from sfa_spark.operators import skew

    left = spark.createDataFrame([(7, 1.0)] * 200, "k long, v double")
    salted = left.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(4)).cast("int")
    )
    n_buckets = salted.select("_salt").distinct().count()
    assert n_buckets == 4
    right = spark.createDataFrame([(7, "x")], "k long, name string")
    got = skew.salted_join(left, right, "k", n_salts=4).collect()
    assert len(got) == 200 and all(r["name"] == "x" for r in got)


def test_split_assign_stable_partition_and_growth(spark):
    """Assignment covers every row, hits the nominal rates, ignores
    layout, and is growth-stable: a doc's split never changes when the
    corpus doubles (eval-set contamination guard across versions)."""
    from sfa_spark.operators import sample

    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {
        r["doc_id"]: r["split"]
        for r in sample.split_assign(docs, "doc_id", splits).collect()
    }
    assert len(a) == 2000 and set(a.values()) == {"train", "val", "test"}
    n_train = sum(1 for v in a.values() if v == "train")
    assert 0.74 < n_train / 2000 < 0.86
    b = {
        r["doc_id"]: r["split"]
        for r in sample.split_assign(
            docs.repartition(7), "doc_id", splits
        ).collect()
    }
    assert a == b  # layout-independent
    grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    g = {
        r["doc_id"]: r["split"]
        for r in sample.split_assign(grown, "doc_id", splits).collect()
    }
    assert all(g[k] == v for k, v in a.items())  # growth-stable
    # row-local: the plan has no Exchange
    plan = (
        sample.split_assign(docs, "doc_id", splits)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_line_dedup_boilerplate_removal(spark):
    """Repeated boilerplate lines vanish everywhere but their first
    corpus occurrence; unique lines survive; keep='unique' drops all
    copies including the first. Plan: two keyed Exchanges, no join."""
    from sfa_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nreal content one\nNAV MENU"),
            (2, "COOKIE BANNER\nreal content two\nNAV MENU"),
            (3, "NAV MENU\nunique thought"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, sep="\n").collect()
    }
    assert out[1]["dedup_text"] == "COOKIE BANNER\nreal content one\nNAV MENU"
    assert out[2]["dedup_text"] == "real content two"  # both banners gone
    assert out[3]["dedup_text"] == "unique thought"
    assert (out[2]["n_units"], out[2]["n_kept"]) == (3, 1)
    uniq = {
        r["doc_id"]: r["dedup_text"]
        for r in dedup.line_dedup(docs, sep="\n", keep="unique").collect()
    }
    assert uniq[1] == "real content one"  # first copies dropped too
    assert uniq[3] == "unique thought"
    plan = (
        dedup.line_dedup(docs, sep="\n")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 2 and "Join" not in plan


def test_line_dedup_regex_metachar_separator(spark):
    """A separator containing regex metacharacters ('.', '|') must
    split LITERALLY (F.split takes a Java regex; the separator is
    Pattern.quote'd) so split and concat_ws reassembly agree."""
    from sfa_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha.beta.alpha"), (2, "alpha.gamma")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in dedup.line_dedup(docs, sep=".").collect()
    }
    # '.' as a raw regex would split per-character; literal split gives
    # units [alpha, beta, alpha] / [alpha, gamma]
    assert out[1]["n_units"] == 3
    assert out[1]["dedup_text"] == "alpha.beta"  # 2nd 'alpha' deduped
    assert out[2]["dedup_text"] == "gamma"  # 'alpha' seen in doc 1


def test_json_props_malformed_rows_quarantine_not_fail(spark):
    """Explicit-schema from_json: malformed payloads become NULL (and
    are counted), never a job failure; valid rows extract normally."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [
            (1, "a", 10.0, '{"k": 60}'),
            (2, "a", 5.0, "not json at all"),
            (3, "a", 2.0, '{"k": 10}'),
        ],
        "event_id long, event_type string, value double, props string",
    )
    p = ev.withColumn("_p", F.from_json("props", "k INT"))
    row = (
        p.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_p.k").isNull().cast("long")).alias("n_bad"),
            F.sum(F.when(F.col("_p.k") >= 50, F.col("value")).otherwise(0.0)).alias("hi"),
        )
        .collect()[0]
    )
    assert (row["n"], row["n_bad"], row["hi"]) == (3, 1, 10.0)


def test_hard_negatives_excludes_positives_and_ranks(spark):
    from sfa_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 0),   # query
        (1, [0.99, 0.14], 0),  # nearest overall but SAME label → excluded
        (2, [0.9, 0.44], 1),   # hardest negative
        (3, [0.0, 1.0], 1),    # easy negative
        (4, [0.7, 0.71], 2),   # middle negative
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = similarity.hard_negatives(
        emb.where("vec_id = 0"), emb, k=3
    ).collect()
    assert [r["neg_id"] for r in sorted(got, key=lambda r: r["rk"])] == [2, 4, 3]
    assert all(r["neg_label"] != r["q_label"] for r in got)


def test_weighted_sample_proportional_and_deterministic(spark):
    """Inclusion tracks weight (Efraimidis-Spirakis): rows with 9×
    weight are sampled ~9× as often; result is exact-size, layout-
    independent, and plans as a partial top-n (no global sort)."""
    from sfa_spark.operators import sample

    docs = spark.range(0, 4000).selectExpr(
        "id as doc_id",
        "case when id % 10 = 0 then 90.0 else 10.0 end as wt",
    )
    got = sample.weighted_sample(docs, "doc_id", "wt", 400).collect()
    assert len(got) == 400
    heavy = sum(1 for r in got if r["wt"] == 90.0)
    # 400 of 4000 rows carry 9× weight = half the total mass, so the
    # without-replacement sample is ≈45-50% heavy; a uniform sample
    # would give 10%. Wide band for hash variance.
    assert 0.30 < heavy / 400 < 0.65
    again = sample.weighted_sample(
        docs.repartition(7), "doc_id", "wt", 400
    ).collect()
    assert {r["doc_id"] for r in got} == {r["doc_id"] for r in again}
    plan = (
        sample.weighted_sample(docs, "doc_id", "wt", 400)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_hll_merge_of_partial_sketches_is_register_exact(spark):
    """HLL's distributability: sketches built on any partition of the
    data max-merge to EXACTLY the whole-corpus registers (same final
    estimate, no re-scan) — per-shard sketches are first-class."""
    from pyspark.sql import functions as F

    from sfa_spark.operators import sketch

    items = spark.range(0, 5000).selectExpr(
        "concat('tok', id % 701) as token", "cast(id % 2 as int) as shard"
    )
    whole = {
        (r["bucket"], r["mx"])
        for r in sketch.hll_registers(items, "token", m=64).collect()
    }
    per_shard = sketch.hll_registers_by(items, ["shard"], "token", m=64)
    merged = {
        (r["bucket"], r["mx"])
        for r in sketch.hll_merge(per_shard.drop("shard")).collect()
    }
    assert merged == whole
    # grouped estimates: one estimate per shard, both within the
    # 3·(1.04/sqrt(64)) bound of the true 701 distinct (701 is odd, so
    # either parity class of 5000 ids covers every residue)
    ests = {
        r["shard"]: r["n_hll"]
        for r in sketch.hll_estimate_by(per_shard, ["shard"], m=64).collect()
    }
    for v in ests.values():
        assert abs(v - 701) / 701 < 3 * sketch.hll_error_bound(64)


def test_observation_rides_the_job_without_extra_scan(spark):
    """df.observe metrics reflect exactly the rows the action consumed
    (including pushed-down filters) and cost zero additional jobs."""
    from pyspark.sql import functions as F

    from sfa_spark.operators.audit import with_observation

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", None), (4, None, None)],
        "id long, s string, v double",
    )
    inst, obs = with_observation(df, "t1", ["s", "v"])
    inst.agg(F.sum("id")).collect()
    m = obs.get
    assert (m["n_rows"], m["nulls_s"], m["nulls_v"]) == (4, 2, 2)
    # a filter BELOW the observation changes what it sees — the metrics
    # describe the observed point in the plan, not the raw table
    inst2, obs2 = with_observation(df.where("v is not null"), "t2", ["s"])
    inst2.count()
    assert (obs2.get["n_rows"], obs2.get["nulls_s"]) == (2, 1)


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    """added / removed / changed classification with NULL-safe compare:
    NULL→NULL is unchanged (dropped), NULL→value and value→NULL are
    changed."""
    from sfa_spark.operators.audit import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, None, 3.0), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),        # unchanged -> dropped
         (2, "b", 2.0),        # NULL -> value = changed
         (3, None, 3.0),       # NULL == NULL -> unchanged, dropped
         (5, "e", 5.0)],       # new key -> added; key 4 -> removed
        "k long, s string, v double",
    )
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {2: "changed", 4: "removed", 5: "added"}


def test_skew_profile_counts_and_ratio(spark):
    from sfa_spark.operators.audit import skew_profile

    df = spark.createDataFrame(
        [("hot",)] * 6 + [("warm",)] * 2 + [("cold",)] * 1,
        "k string",
    )
    rows = {r["k"]: r for r in skew_profile(df, "k", top_n=2).collect()}
    assert set(rows) == {"hot", "warm"}  # top-2 only
    h = rows["hot"]
    assert (h["cnt"], h["rk"], h["total_rows"], h["n_keys"]) == (6, 1, 9, 3)
    assert abs(h["skew_ratio"] - 2.0) < 1e-12  # 6 / (9/3)
    assert abs(h["share"] - 6 / 9) < 1e-12


def test_apply_changes_merge_semantics(spark):
    """MERGE INTO conflict rules: last-seq wins, U beats D at equal
    seq, delete removes, upsert inserts absent keys, delete of an
    absent key is a no-op."""
    from sfa_spark.operators.audit import apply_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "U", "a2"), (1, 2, "U", "a3"),   # last seq wins
            (2, 1, "D", None),                        # delete
            (3, 5, "D", None), (3, 5, "U", "c2"),   # tie: U > D
            (5, 1, "U", "e"),                         # insert
            (9, 1, "D", None),                        # absent delete no-op
        ],
        "k long, seq long, op string, v string",
    )
    got = {r["k"]: r["v"] for r in apply_changes(base, changes, ["k"]).collect()}
    assert got == {1: "a3", 3: "c2", 4: "d", 5: "e"}


def test_edit1_pairs_complete_and_exact(spark):
    """Deletion-neighborhood join finds ALL pairs within edit distance
    1 (insert / delete / substitute / identical) and none at distance
    ≥ 2 — cross-checked against brute-force levenshtein."""
    from itertools import combinations

    from sfa_spark.operators.dedup import edit1_pairs

    vals = ["abcd", "abcd", "abxd", "abd", "abcde", "zzzz", "abff"]
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in edit1_pairs(docs, prefix_len=10).collect()
    }

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (ca != cb)
                )
        return d[len(b)]

    want = {
        (i, j): lev(vals[i], vals[j])
        for i, j in combinations(range(len(vals)), 2)
        if lev(vals[i], vals[j]) <= 1
    }
    assert got == want


def test_drift_psi_zero_on_identical_and_positive_on_shift(spark):
    import math

    from sfa_spark.operators.audit import drift_psi

    base = spark.createDataFrame(
        [(float(i),) for i in range(100)], "value double"
    )
    same = drift_psi(base, base, "value", n_buckets=5).collect()
    assert all(abs(r["psi_term"]) < 1e-12 for r in same)
    shifted = spark.createDataFrame(
        [(float(i) + 60.0,) for i in range(100)], "value double"
    )
    d = drift_psi(base, shifted, "value", n_buckets=5).collect()
    psi = sum(r["psi_term"] for r in d)
    assert psi > 0.25  # a 60% range shift must read as "drifted"
    # shares floored: no infinities even though buckets are disjoint
    assert all(math.isfinite(r["psi_term"]) for r in d)


def test_drift_psi_quantile_survives_outlier(spark):
    """One extreme outlier collapses equi-width buckets (nearly all
    mass lands in bucket 0 → a real shift reads as stable), while
    decile edges of the reference side don't move — the quantile mode
    still flags the drift. Also: identical sides → PSI ≈ 0."""
    from sfa_spark.operators.audit import drift_psi

    base = spark.createDataFrame(
        [(float(i),) for i in range(1000)], "value double"
    )
    # new = base shifted by 40% of range, plus one 1e9 outlier
    shifted = spark.createDataFrame(
        [(float(i) + 400.0,) for i in range(1000)] + [(1e9,)],
        "value double",
    )
    width = drift_psi(base, shifted, "value", n_buckets=10).collect()
    quant = drift_psi(
        base, shifted, "value", n_buckets=10, buckets="quantile"
    ).collect()
    psi_w = sum(r["psi_term"] for r in width)
    psi_q = sum(r["psi_term"] for r in quant)
    # equi-width: the 1e9 outlier stretches [min,max] so both sides'
    # real mass shares bucket 0 — the genuine 40% shift reads stable
    assert psi_w < 0.1
    # quantile edges (deciles of base) are outlier-immune: drifted
    assert psi_q > 0.25
    # sanity: identical sides stay ~0 in quantile mode too
    same = drift_psi(
        base, base, "value", n_buckets=10, buckets="quantile"
    ).collect()
    assert all(abs(r["psi_term"]) < 1e-12 for r in same)
    import pytest

    with pytest.raises(ValueError, match="buckets"):
        drift_psi(base, base, "value", buckets="nope")


def test_diff_apply_roundtrip_reconstructs_new(spark):
    """snapshot_diff(with_payload) is a self-contained CDC batch:
    applying it to the old snapshot reconstructs the new snapshot
    exactly — randomized over adds/removes/updates/NULL churn."""
    import random

    from pyspark.sql import functions as F

    from sfa_spark.operators.audit import apply_changes, snapshot_diff

    rng = random.Random(7)
    old_rows, new_rows = [], []
    for k in range(200):
        v = (k, rng.choice(["a", "b", None]), rng.choice([1.0, 2.0, None]))
        fate = rng.random()
        if fate < 0.15:
            old_rows.append(v)                                  # removed
        elif fate < 0.30:
            new_rows.append(v)                                  # added
        elif fate < 0.55:
            old_rows.append(v)                                  # changed
            new_rows.append((k, rng.choice(["x", None]), rng.choice([9.0, None])))
        else:
            old_rows.append(v)                                  # unchanged
            new_rows.append(v)
    schema = "k long, s string, v double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)

    diff = snapshot_diff(old, new, ["k"], with_payload=True)
    changes = diff.select(
        "k",
        F.lit(1).cast("bigint").alias("seq"),
        F.when(F.col("status") == "removed", "D").otherwise("U").alias("op"),
        "s",
        "v",
    )
    rebuilt = apply_changes(old, changes, ["k"])
    want = sorted((r["k"], r["s"], r["v"]) for r in new.collect())
    got = sorted((r["k"], r["s"], r["v"]) for r in rebuilt.collect())
    assert got == want


def test_order_priority_plans_semi_join(spark):
    """The EXISTS predicate must plan a LEFT SEMI join (fact filtered,
    never widened) — no inner-join + distinct fallback."""
    from sfa_spark.queries import q_tpch_order_priority

    plan = (
        q_tpch_order_priority(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan


def test_incremental_lsh_dedup_statuses(spark, docs):
    """Index-probe semantics: a batch doc colliding with the prior
    index is near_prior even if it also collides in-batch; batch
    collisions key to the LOWER doc_id (the keeper stays kept unless
    the index hits it); statuses equal a from-scratch recomputation
    via lsh_candidate_pairs over the union."""
    from pyspark.sql import functions as F

    prior = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 3 != 0)
    seen = dedup.band_keys(
        dedup.minhash_signatures(prior, n_seeds=4, k=3), band_size=2
    )
    out = {
        r["doc_id"]: r["status"]
        for r in dedup.incremental_lsh_dedup(
            new, seen, n_seeds=4, band_size=2, k=3
        ).collect()
    }
    # reference recomputation from all-pairs candidates
    sig_all = dedup.minhash_signatures(docs, n_seeds=4, k=3)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sig_all, band_size=2).collect()
    }
    prior_ids = {r["doc_id"] for r in prior.select("doc_id").collect()}
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    for d in new_ids:
        hits_prior = any(
            (min(d, p), max(d, p)) in pairs for p in prior_ids
        )
        hits_batch = any(
            (b, d) in pairs for b in new_ids if b < d
        )
        want = (
            "near_prior" if hits_prior
            else "near_batch" if hits_batch else "kept"
        )
        assert out[d] == want, (d, out[d], want)


def test_shingles_shuffle_free_and_distinct(spark):
    """r8: shingles dedups per-row (array_distinct) instead of a global
    distinct() — rows must still be the distinct (doc_id, shingle)
    pairs, and the plan must contain NO Exchange: the dedup itself is
    doc-local. The input has one row per core, so its scan is already
    split defaultParallelism ways and the r9 scan-spread guard is the
    identity (its own behaviour is covered by
    test_sources.py::test_spread_scan_*)."""
    from sfa_spark.operators.text import shingles

    pad = [
        (10 + i, "z")  # shorter than k → no shingles
        for i in range(spark.sparkContext.defaultParallelism)
    ]
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # duplicate shingles within doc
            (2, "a b c d"),
            (3, "x y"),               # shorter than k → no shingles
            *pad,
        ],
        "doc_id long, text string",
    )
    sh = shingles(docs, k=3)
    got = {(r["doc_id"], r["shingle"]) for r in sh.collect()}
    assert got == {
        (1, "a b c"), (1, "b c a"), (1, "c a b"),
        (2, "a b c"), (2, "b c d"),
    }
    assert sh.count() == 5  # per-row dedup collapsed the repeats
    plan = sh._sc._jvm.PythonSQLUtils.explainString(
        sh._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
