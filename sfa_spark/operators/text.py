"""Text analysis for LLM training-data pipelines (BASELINE.json north
star): token counting, quality scoring, language ID, fingerprinting.

Everything is built-in-expression SQL (JVM-side, codegen'd) — zero
Python in the hot path; the per-document work is embarrassingly
parallel, so these scale linearly with executors at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "y", "de", "los"],
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens_col(text_col="text"):
    """Whitespace tokenization of lowercased trimmed text."""
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("toks", tokens_col(text_col))


def token_stats(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc token count, char count, avg token length, punctuation /
    digit / stopword ratios — the quality-scoring feature set. `keep`
    passes extra input columns through (e.g. the text itself for a
    streaming gate that must emit the document, not just its score)."""
    d = with_tokens(docs)
    n_tok = F.size("toks")
    n_char = F.length("text")
    punct = F.length(F.regexp_replace("text", r"[^.,!?;:]", ""))
    digit = F.length(F.regexp_replace("text", r"[^0-9]", ""))
    stop = F.size(F.filter("toks", lambda t: t.isin(EN_STOPWORDS)))
    return d.select(
        "doc_id",
        *keep,
        n_tok.cast("bigint").alias("n_tokens"),
        n_char.cast("bigint").alias("n_chars2"),
        (n_char.cast("double") / n_tok).alias("avg_tok_len"),
        (punct.cast("double") / n_char).alias("punct_ratio"),
        (digit.cast("double") / n_char).alias("digit_ratio"),
        (stop.cast("double") / n_tok).alias("stopword_ratio"),
    )


def quality_score(stats: DataFrame) -> DataFrame:
    """Composite heuristic quality in [0,1]: favor moderate length,
    punctuation presence, stopword presence (C4/Gopher-rule flavor)."""
    s = (
        F.lit(1.0)
        - F.least(F.lit(1.0), F.abs(F.col("avg_tok_len") - 5.0) / 10.0) * 0.4
        - F.least(F.lit(1.0), F.col("digit_ratio") * 5.0) * 0.3
        - F.when(F.col("stopword_ratio") <= 0.0, 0.3).otherwise(0.0)
    )
    return stats.withColumn("quality", F.greatest(F.lit(0.0), s))


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language ID: count per-language stopword hits,
    argmax (ties → lexicographic lang), zero hits → 'und'.

    The stopword table is an inline broadcast dim (rows = Σ|stopwords|);
    the doc side explodes to tokens once — one shuffle on (doc, lang).
    """
    spark = docs.sparkSession
    sw = spark.createDataFrame(
        [(lang, w) for lang, ws in LANG_STOPWORDS.items() for w in ws],
        "lang_cand string, tok string",
    )
    tok = with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    hits = (
        tok.join(F.broadcast(sw), "tok")
        .groupBy("doc_id", "lang_cand")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("hits").desc(), F.col("lang_cand").asc()
    )
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("lang_cand").alias("pred_lang"), "hits")
    )
    return docs.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
        F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
    )


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per doc: (doc_id, shingle).

    Shuffle-free (r8): shingle dedup is DOC-LOCAL, so the k-grams are
    built and deduplicated inside the row (transform over the index
    sequence + array_distinct) and then exploded. The previous shape —
    explode → global ``distinct()`` — paid a full Exchange of the
    shingle table (the dedup family's largest intermediate, feeding
    jaccard/minhash/LSH/fingerprint/decontaminate) for a dedup the row
    already determines (guide §2.4: remove shuffles outright). Same
    rows out: doc_id is unique per input row, so per-row
    array_distinct ≡ global distinct over (doc_id, shingle).

    spread_scan (r9): the tokenize→k-gram→(downstream md5) chain is
    the dedup family's dominant per-row compute and it is attached to
    the documents SCAN — on a single-row-group file that is ONE task
    (measured: the whole MinHash signature stage serial at sf0.1;
    8-core ≈ 32-core for every consumer, VERDICT r8 item 3). The
    guard repartitions by doc_id only when the scan under-splits, so
    consumers keyed on doc_id (minhash's groupBy(doc_id, seed), the
    per-doc size aggregate) reuse the partitioning instead of adding
    their own exchange AFTER the heavy compute. Identity at cluster
    scale. Measured sf0.1: minhash_signatures 2.77 → 0.65 s,
    lsh_pairs 4.81 → 1.76 s, jaccard_capped 5.73 → 2.15 s (noop,
    same-session A/B)."""
    from sfa_spark.sources.events import spread_scan

    d = with_tokens(spread_scan(docs, "doc_id"))
    idx = F.when(
        F.size("toks") >= k,
        F.sequence(F.lit(0), F.size("toks") - k),
    ).otherwise(F.array())
    grams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.get("toks", i + j) for j in range(k)]
            ),
        )
    )
    return d.select("doc_id", F.explode(grams).alias("shingle"))


def fingerprint(docs: DataFrame, n_min: int = 4) -> DataFrame:
    """Winnowing-style document fingerprint: md5 of the n_min smallest
    shingle hashes — robust to local edits, exact-joinable for dedup."""
    sh = shingles(docs).withColumn("h", F.md5("shingle"))
    w = Window.partitionBy("doc_id").orderBy("h")
    topn = sh.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= n_min)
    return (
        topn.groupBy("doc_id")
        .agg(F.md5(F.concat_ws("", F.array_sort(F.collect_list("h")))).alias("fingerprint"))
    )


def ngram_counts(docs: DataFrame, n: int = 2) -> DataFrame:
    """Corpus-wide word n-gram counts: (gram, cnt). The n-gram build is
    a per-doc array transform (no join), the count one hash aggregate —
    map-side combinable, the canonical corpus-statistics pass."""
    d = with_tokens(docs)
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n)
    ).otherwise(F.array())
    grams = d.select(
        "doc_id",
        F.explode(idx).alias("i"),
        "toks",
    ).select(
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("i") + j + 1) for j in range(n)]
        ).alias("gram")
    )
    return grams.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus (Lucene idf form:
    ln(1 + (N − df + 0.5)/(df + 0.5))).

    Scale shape: the term→postings table is filtered by the BROADCAST
    query-term list before anything heavy (an inverted-index probe, not
    a corpus scan per query); N/avgdl/df stay in-plan as broadcast
    aggregates; the final top-k is TakeOrderedAndProject + a row_number
    over the k-row limit output. Output: (doc_id, score, rk).
    """
    spark = docs.sparkSession
    d = with_tokens(docs)
    tf = (
        d.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    qdf = F.broadcast(
        spark.createDataFrame([(t,) for t in query_terms], "term string")
    )
    hits = tf.join(qdf, "term")
    corpus = F.broadcast(
        d.select(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg(F.size("toks")).alias("avgdl"),
        )
    )
    dfreq = F.broadcast(
        hits.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        hits.join(dfreq, "term")
        .crossJoin(corpus)
        .withColumn("part", idf * F.col("tf") * (k1 + 1.0) / denom)
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"))
    )
    from sfa_spark.operators.topk import ranked_top_k

    return ranked_top_k(scored, [("score", True), ("doc_id", False)], topk)


# BPE-ish tokenization: the GPT-2 pre-tokenizer splits on letter runs,
# digit runs, punctuation runs (each optionally space-prefixed) and
# whitespace. This pattern is that split minus the lookahead construct
# (so it runs identically under Java regex AND RE2-style engines — the
# oracle must reproduce it), which makes the count a good estimator of
# subword-token budget without shipping a merges table.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_estimate(docs: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish token counts + chars-per-token — the
    pre-training budget estimator (row-local, no shuffle)."""
    ws = F.size(tokens_col())
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
    return docs.select(
        "doc_id",
        ws.cast("bigint").alias("ws_tokens"),
        bpe.cast("bigint").alias("bpe_ish_tokens"),
        (F.length("text").cast("double") / bpe).alias("chars_per_token"),
    )


_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL = r"https?://[^\s]+"
_BOILERPLATE = ["all rights reserved", "click here", "terms of service", "lorem ipsum"]


def pii_stats(docs: DataFrame) -> DataFrame:
    """Per-doc counts of emails / URLs and boilerplate-marker hits —
    the redaction/filter feature set (row-local expressions; the
    boilerplate list unrolls into codegen'd `contains` tests)."""
    lower = F.lower(F.col("text"))
    bp = sum(
        (F.when(F.contains(lower, F.lit(m)), 1).otherwise(0) for m in _BOILERPLATE),
        F.lit(0),
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_URL), 0))
        .cast("bigint")
        .alias("n_urls"),
        bp.cast("int").alias("boilerplate_hits"),
    )


def pii_redact(docs: DataFrame) -> DataFrame:
    """Redact emails and URLs with typed placeholder tags — the
    transform counterpart of pii_stats (the curation pass that KEEPS
    the document but strips contact strings before training). Pure
    row-local regexp_replace chain: no shuffle, scales linearly.

    Email replacement runs first; the URL pattern starts at
    `https?://` so the two cannot overlap and the order is only fixed
    for engine reproducibility."""
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), F.lit(_EMAIL), F.lit("<EMAIL>")),
        F.lit(_URL),
        F.lit("<URL>"),
    )
    n_e = F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL), 0))
    n_u = F.size(F.regexp_extract_all(F.col("text"), F.lit(_URL), 0))
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        (n_e + n_u).cast("bigint").alias("n_redacted"),
    )


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) token bigrams WITH repetition — one row per
    adjacent position (the LM event stream, unlike `shingles`' distinct
    set)."""
    d = with_tokens(docs)
    idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(0), F.size("toks") - 2)
    ).otherwise(F.array())
    return d.select("doc_id", F.explode(idx).alias("i"), "toks").select(
        "doc_id",
        F.element_at("toks", F.col("i") + 1).alias("w1"),
        F.element_at("toks", F.col("i") + 2).alias("w2"),
    )


class BigramLM:
    """Count-based add-k bigram LM: (bg, ctx, v) DataFrames —
    (w1,w2)→c12, w1→c1, and the scalar vocab size. Plain static
    DataFrames, so scoring works batch-side AND as the static side of
    a stream-static join (streaming/ingest.stream_lm_gate)."""

    def __init__(self, bg: DataFrame, ctx: DataFrame, v: DataFrame, add_k: float):
        self.bg, self.ctx, self.v, self.add_k = bg, ctx, v, add_k


def bigram_lm_fit(docs: DataFrame, add_k: float = 0.5) -> BigramLM:
    """Fit the LM counts on a reference corpus: two map-side-combinable
    keyed aggregates + a scalar distinct count."""
    events = doc_bigrams(docs)
    bg = events.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = events.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = with_tokens(docs).select(F.explode("toks").alias("w")).distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("V"))
    return BigramLM(bg, ctx, v, add_k)


def lm_score(docs: DataFrame, model: BigramLM) -> DataFrame:
    """Per-doc perplexity under a (possibly foreign) corpus LM:

        P(w2 | w1) = (c(w1,w2) + k) / (c(w1·) + k·V)

    Unseen bigrams/contexts back off through the smoothing (c=0), so
    scoring a stream against a static model is total. The doc's event
    stream joins the model BY KEY (inverted-index shape, never
    doc × vocab); per-doc reduce is one aggregation. Engine
    determinism: each ln term is rounded to 6 dp (nudged) and
    decimal-summed, so accumulation order cannot move the score.
    Documents with fewer than two tokens have no bigram events and are
    absent from the output (they carry no LM evidence either way)."""
    from sfa_spark.queries import rnd

    add_k = model.add_k
    events = doc_bigrams(docs)
    term = rnd(
        F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(add_k) * F.col("V"))
        ),
        6,
    )
    scored = (
        events.join(model.bg, ["w1", "w2"], "left")
        .join(model.ctx, "w1", "left")
        .crossJoin(F.broadcast(model.v))
        .select("doc_id", term.cast("decimal(18,6)").alias("logp"))
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("_avg"),
    )
    return per.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        rnd(F.col("_avg")).alias("avg_logp"),
        rnd(F.exp(-F.col("_avg"))).alias("ppl"),
    )


def lm_perplexity(docs: DataFrame, add_k: float = 0.5) -> DataFrame:
    """CCNet-style corpus quality signal: fit the add-k bigram LM on
    the corpus itself and score every document's perplexity under it
    (Wenzek et al. 2020 filter on KenLM perplexity; a count-based
    bigram model is its SQL-expressible analog). See bigram_lm_fit /
    lm_score for the fit/score halves and the 100 TB shapes."""
    return lm_score(docs, bigram_lm_fit(docs, add_k))
