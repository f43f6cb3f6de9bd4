"""Streaming corpus ingest — the arrival-time half of the LLM-data
pipeline (dedup / quality / language routing as documents land).

The batch operators in operators/text.py and operators/dedup.py are
row-local expressions or keyed aggregates, so the ingest chain maps
onto Structured Streaming directly:

  * quality gate / lang tag — stateless projections: run in-stream
    unchanged, no state store, no trigger constraints.
  * exact dedup — streaming `dropDuplicates` on the content hash:
    first-seen doc per hash is emitted, later copies are suppressed.
    State is one (hash) per distinct document — the price of
    whole-corpus dedup; with an event-time column, switch to
    `dropDuplicatesWithinWatermark` to bound state to the dedup
    horizon (documented, not defaulted: the testdata documents table
    has no timestamp).

At 100 TB ingest the chain is shuffle-free except the dedup state
exchange (hashpartitioning on content_hash — the same single shuffle
the batch hash-groupBy pays).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfa_spark.operators import text


def docs_stream(spark, path: str, schema=None) -> DataFrame:
    """File-source stream over a documents parquet directory (streams
    must declare a schema — inferred from a static metadata read)."""
    schema = schema or spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def stream_quality_gate(
    doc_stream: DataFrame, min_quality: float = 0.5
) -> DataFrame:
    """Keep documents whose heuristic quality clears the bar; emits the
    document plus (n_tokens, quality). Stateless — valid in append mode
    with any trigger."""
    stats = text.token_stats(doc_stream, keep=("text", "lang"))
    scored = text.quality_score(stats)
    return scored.where(F.col("quality") >= F.lit(min_quality)).select(
        "doc_id", "lang", "n_tokens", "quality"
    )


def stream_dedup_exact(
    doc_stream: DataFrame,
    event_time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """First-seen document per exact content hash (sha2-256 of text).
    Streaming dropDuplicates: one state row per distinct hash — grows
    with the corpus. For a genuinely continuous stream pass
    (event_time_col, watermark) to switch to
    dropDuplicatesWithinWatermark: duplicates are only suppressed
    within the dedup horizon, and state older than the watermark is
    EVICTED — bounded state for unbounded streams."""
    hashed = doc_stream.withColumn("content_hash", F.sha2(F.col("text"), 256))
    if event_time_col and watermark:
        return hashed.withWatermark(
            event_time_col, watermark
        ).dropDuplicatesWithinWatermark(["content_hash"])
    return hashed.dropDuplicates(["content_hash"])


def row_minhash_bands(
    docs: DataFrame,
    n_seeds: int = 8,
    k: int = 3,
    band_size: int = 2,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ROW-LOCAL MinHash band keys — bit-identical to the batch path
    (dedup.minhash_signatures → dedup.band_keys) but computed with
    array expressions on each row instead of explode → groupBy.

    Min over a multiset equals min over its distinct set, so skipping
    the batch path's shingle DISTINCT changes nothing. Being stateless,
    this runs inside a streaming query in append mode with no state
    store — the signature step of streaming near-dedup. (It is also the
    preferable BATCH plan at 100 TB when only band keys are needed: no
    shingle×seed explode, no aggregation exchange.)

    Output: (doc_id[, *keep_cols], band, band_key) — one row per band
    via posexplode; `keep_cols` ride through (e.g. an event-time column
    for a downstream watermark).
    """
    from sfa_spark.operators.text import with_tokens

    d = with_tokens(docs)
    sh = F.when(
        F.size("toks") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.withColumn("sh", sh)
    def _minhash(seed: int):
        # NB: bind seed via closure, not a lambda default — PySpark
        # reads lambda arity, and a 2-arg lambda becomes the (value,
        # index) transform form, shadowing the default with the index.
        return F.array_min(
            F.transform(
                F.col("sh"),
                lambda s: F.md5(F.concat_ws("|", F.lit(str(seed)), s)),
            )
        )

    minhashes = [_minhash(seed) for seed in range(n_seeds)]
    bands = F.array(
        *[
            F.md5(F.concat_ws(",", *minhashes[b * band_size : (b + 1) * band_size]))
            for b in range(n_seeds // band_size)
        ]
    )
    # a shingle-less doc (< k tokens) has NO bands in the batch path —
    # without this filter it would emit md5('') keys and false-join
    # every other shingle-less doc
    return d.where(F.size("sh") > 0).select(
        "doc_id",
        *[F.col(c) for c in keep_cols],
        F.posexplode(bands).alias("band", "band_key"),
    )


def stream_near_dup(
    doc_stream: DataFrame,
    static_bands: DataFrame,
    n_seeds: int = 8,
    k: int = 3,
    band_size: int = 2,
    event_time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming near-dup detection against a STATIC reference corpus:
    arriving documents are MinHash-banded row-locally (stateless) and
    probed against the reference's precomputed band table by (band,
    band_key) equality — a stream-static join, valid in append mode.
    dropDuplicates collapses multi-band hits to one row per pair (one
    state row per emitted pair — pair-count-sized, not corpus-sized) —
    safe under availableNow/bounded replay, but on a genuinely
    continuous stream that state never evicts. Pass (event_time_col,
    watermark) for the long-running form: the pair-dedup becomes
    dropDuplicatesWithinWatermark, so multi-band hits are collapsed
    within the horizon and pair state older than the watermark is
    EVICTED (a pair may re-emit if the same doc_id reappears beyond
    the horizon — the standard bounded-state trade).

    `static_bands` is dedup.band_keys(dedup.minhash_signatures(ref)) —
    at 100 TB it is written out partitioned/bucketed by band_key so the
    probe join co-locates.

    Output: (doc_id, ref_doc_id) (+ event_time_col in watermark mode).
    """
    bounded = bool(event_time_col and watermark)
    if bounded:
        doc_stream = doc_stream.withWatermark(event_time_col, watermark)
    sb = row_minhash_bands(
        doc_stream, n_seeds=n_seeds, k=k, band_size=band_size,
        keep_cols=(event_time_col,) if bounded else (),
    )
    ref = static_bands.select(
        F.col("doc_id").alias("ref_doc_id"), "band", "band_key"
    )
    pairs = (
        sb.join(ref, ["band", "band_key"])
        .where(F.col("doc_id") != F.col("ref_doc_id"))
    )
    if bounded:
        return pairs.select(
            "doc_id", "ref_doc_id", event_time_col
        ).dropDuplicatesWithinWatermark(["doc_id", "ref_doc_id"])
    return pairs.select("doc_id", "ref_doc_id").dropDuplicates(
        ["doc_id", "ref_doc_id"]
    )


def stream_lm_gate(
    doc_stream: DataFrame, model, max_ppl: float
) -> DataFrame:
    """Perplexity ingest gate: score arriving documents against a
    STATIC reference bigram LM (operators/text.bigram_lm_fit) and pass
    those at or below the threshold — the streaming half of the CCNet
    quality filter (the model is fit offline on a trusted corpus; the
    stream is scored as it lands).

    Shapes: the doc's bigram events are a stateless explode; the model
    joins as the static side of stream-static left joins (unseen
    bigrams back off through the smoothing); the per-doc reduce is an
    update-mode aggregate — with availableNow every doc's bigrams land
    in one microbatch, and a continuous source should watermark an
    event-time column upstream to bound the aggregation state."""
    from sfa_spark.operators.text import lm_score

    return lm_score(doc_stream, model).where(F.col("ppl") <= F.lit(float(max_ppl)))


DEBOUNCE_OUTPUT = (
    "event_id bigint, user_id bigint, event_type string, ts bigint"
)
DEBOUNCE_STATE = "last_kept bigint"


def debounce_stream(event_stream: DataFrame, gap_ns: int) -> DataFrame:
    """GREEDY keep-anchored debounce: an event is kept iff its ts is
    more than gap_ns after the LAST KEPT event of its (user_id,
    event_type) — the semantics a rate limiter actually wants. The
    batch lag-based rule (queries.q_debounce) measures distance to the
    previous EVENT, so a dense burst suppresses everything after its
    first row only if each row is close to its predecessor; the greedy
    anchor instead re-arms only when a row is actually emitted. This
    decision is sequential per key (each verdict depends on the last
    KEPT one) — exactly the shape applyInPandasWithState exists for:
    state = last_kept ts per key, one bigint regardless of stream
    length.

    Input contract: per-key rows must arrive time-ordered ACROSS
    micro-batches (within a batch the operator sorts); put a
    watermark+sort stage ahead for out-of-order sources.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        uid, etype = key
        last = state.get[0] if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        keep = []
        for _, r in rows.iterrows():
            t = int(r["ts"])
            if last is None or t - last > gap_ns:
                keep.append((int(r["event_id"]), int(uid), str(etype), t))
                last = t
        state.update((int(last),))
        if keep:
            yield pd.DataFrame(
                keep, columns=["event_id", "user_id", "event_type", "ts"]
            )

    return event_stream.groupBy("user_id", "event_type").applyInPandasWithState(
        fn,
        outputStructType=DEBOUNCE_OUTPUT,
        stateStructType=DEBOUNCE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
