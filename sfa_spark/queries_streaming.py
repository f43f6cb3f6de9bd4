"""Streaming driver query: runs the watermarked windowed-stats stream
to completion (availableNow trigger, memory sink) and returns the
result as a batch DataFrame — so the driver's DuckDB oracle can check
the STREAMING path against a plain SQL aggregation.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import functions as F

from sfa_spark.queries import rnd
from sfa_spark.streaming import scoring
from sfa_spark.tempdirs import process_tmpdir


def q_stream_sfa_words(spark, sf_dir):
    """The flagship SFA-word pipeline through the STATEFUL streaming
    operator (applyInPandasWithState), checked against the same SQL
    oracle as the batch q_sfa_words — streaming and batch must agree
    exactly."""
    from sfa_spark import queries as Q
    from sfa_spark.streaming import words as SW

    stats = SW.fit_equi_width_stats(Q.coef_df(spark, sf_dir))
    src = process_tmpdir("sfa_swords_src_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    name = f"swords_{uuid.uuid4().hex[:8]}"
    from sfa_spark.sources.events import ensure_session_compat, normalize_ts

    ensure_session_compat(spark)
    stream = normalize_ts(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    q = (
        SW.stream_sfa_words(stream, stats, w=16, l=4, a=4)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("series_id", "win", "word")


def q_stream_window_stats(spark, sf_dir):
    src = process_tmpdir("sfa_stream_src_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    name = f"swstats_{uuid.uuid4().hex[:8]}"
    stream = scoring.events_stream(spark, src)
    q = (
        scoring.windowed_stats(stream, window="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name)
    return out.select(
        "series_id",
        F.col("w_start").cast("long").alias("w_start"),  # epoch seconds
        F.col("n_events").cast("bigint").alias("n_events"),
        rnd("mean", 4).alias("mean"),
        rnd("std", 4).alias("std"),
    )


def q_stream_ingest_gate(spark, sf_dir):
    """Corpus ingest through the STREAMING quality gate (stateless
    in-stream projection) — output must equal the batch quality filter,
    so it shares a plain-SQL oracle."""
    from sfa_spark.streaming import ingest

    src = process_tmpdir("sfa_ingest_src_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    name = f"singest_{uuid.uuid4().hex[:8]}"
    stream = ingest.docs_stream(spark, src)
    q = (
        ingest.stream_quality_gate(stream, min_quality=0.7)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "doc_id", "lang", "n_tokens", rnd("quality", 4).alias("quality")
    )


def q_stream_near_dup(spark, sf_dir):
    """Streaming near-dup against a static reference corpus (doc_id
    even): arriving docs are MinHash-banded ROW-LOCALLY (stateless) and
    probed against the reference band table by band-key equality — the
    stream-static half of 100 TB incremental dedup. Self-pairs excluded;
    output (doc_id, ref_doc_id) hits."""
    from sfa_spark.operators import dedup
    from sfa_spark.sources.events import load_table
    from sfa_spark.streaming import ingest

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    static_bands = dedup.band_keys(
        dedup.minhash_signatures(ref, n_seeds=8, k=3), band_size=2
    )
    src = process_tmpdir("sfa_neardup_src_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    name = f"sneardup_{uuid.uuid4().hex[:8]}"
    stream = ingest.docs_stream(spark, src)
    q = (
        ingest.stream_near_dup(stream, static_bands, n_seeds=8, k=3, band_size=2)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("doc_id", "ref_doc_id")


def q_stream_lm_gate(spark, sf_dir):
    """Streaming perplexity ingest gate: docs scored as they land
    against a STATIC corpus-fit bigram LM (stream-static keyed joins +
    update-mode per-doc aggregate); passes ppl ≤ 31. Stream must equal
    the batch lm filter, so it shares the plain-SQL oracle."""
    from sfa_spark.operators import text
    from sfa_spark.sources.events import load_table
    from sfa_spark.streaming import ingest

    model = text.bigram_lm_fit(load_table(spark, sf_dir, "documents"))
    src = process_tmpdir("sfa_lmgate_src_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    name = f"slmgate_{uuid.uuid4().hex[:8]}"
    stream = ingest.docs_stream(spark, src)
    q = (
        ingest.stream_lm_gate(stream, model, max_ppl=31.0)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("doc_id", "n_bigrams", "avg_logp", "ppl")


def q_stream_sessionize(spark, sf_dir):
    """Sessionization through the NATIVE streaming session_window
    operator (30-minute gap), checked against the same islands-method
    SQL the batch q_sessionize certifies — gap boundaries at the µs
    precision of event_time."""
    src = process_tmpdir("sfa_sess_src_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    name = f"ssess_{uuid.uuid4().hex[:8]}"
    stream = scoring.events_stream(spark, src)
    q = (
        scoring.session_stats(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName(name)
        # session_window aggregation supports append (watermark-gated
        # emission) or complete; complete emits every closed-over
        # session in the availableNow run without sentinel batches
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "s_start_us",
        "s_end_us",
        F.col("n_events").cast("bigint").alias("n_events"),
        rnd("sum_value", 4).alias("sum_value"),
    )


def q_stream_attribution(spark, sf_dir):
    """Click→purchase attribution through a watermarked STREAM-STREAM
    self-join (inner, append mode): every purchase within 6 hours
    after a click by the same user. The range predicate rides the
    watermarked event-time columns so join state is bounded by
    watermark + horizon; output is µs-exact, so a plain batch SQL
    range join is the oracle."""
    from sfa_spark.streaming import joins

    src = process_tmpdir("sfa_attr_src_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    name = f"sattr_{uuid.uuid4().hex[:8]}"
    stream = scoring.events_stream(spark, src)
    q = (
        joins.attribution_join(stream, horizon="6 hours")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("click_id").cast("bigint").alias("click_id"),
        F.col("purchase_id").cast("bigint").alias("purchase_id"),
        F.col("gap_us").cast("bigint").alias("gap_us"),
        rnd("value", 4).alias("value"),
    )


def q_stream_hll_distinct(spark, sf_dir):
    """HyperLogLog over a document STREAM: the batch hll_registers
    aggregate runs on the stream UNCHANGED (max-per-bucket is a
    commutative monoid — order- and batching-insensitive), so the
    streaming registers equal the batch ones exactly and the query
    shares q_hll_distinct's SQL oracle. The bounded-memory streaming
    cardinality pass: state = m registers, regardless of stream
    length."""
    from sfa_spark.operators import sketch
    from sfa_spark.operators.text import with_tokens

    src = process_tmpdir("sfa_shll_src_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    name = f"shll_{uuid.uuid4().hex[:8]}"
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    toks = (
        with_tokens(stream)
        .select(F.explode("toks").alias("token"))
        .where(F.length("token") > 0)
    )
    q = (
        sketch.hll_registers(toks, "token", m=64)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    est = sketch.hll_estimate(spark.table(name), m=64)
    exact = (
        with_tokens(spark.read.parquet(src))
        .select(F.explode("toks").alias("token"))
        .where(F.length("token") > 0)
        .agg(F.countDistinct("token").cast("bigint").alias("n_exact"))
    )
    return exact.crossJoin(est).select(
        "n_exact", rnd("n_hll", 4).alias("n_hll")
    )


def q_stream_countmin(spark, sf_dir):
    """Count-Min grid built ON A STREAM: the batch countmin_build
    aggregate (per-cell sum) is a commutative monoid, so complete-mode
    streaming reproduces the batch grid bit-for-bit and the query
    shares q_countmin_tokens' SQL oracle. This is the bounded-memory
    streaming heavy-hitter pass: state = d×w counters regardless of
    stream length."""
    from sfa_spark.operators import sketch
    from sfa_spark.operators.text import with_tokens
    from sfa_spark.operators.topk import ranked_top_k
    from sfa_spark.queries_text import CM_DEPTH, CM_WIDTH

    src = process_tmpdir("sfa_scm_src_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    name = f"scm_{uuid.uuid4().hex[:8]}"
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    stoks = (
        with_tokens(stream)
        .select(F.explode("toks").alias("token"))
        .where(F.length("token") > 0)
    )
    q = (
        sketch.countmin_build(stoks, "token", depth=CM_DEPTH, width=CM_WIDTH)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    grid = spark.table(name)
    toks = (
        with_tokens(spark.read.parquet(src))
        .select(F.explode("toks").alias("token"))
        .where(F.length("token") > 0)
    )
    true = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    top = ranked_top_k(true, [("true_cnt", True), ("token", False)], 20)
    est = sketch.countmin_estimate(
        top, grid, "token", depth=CM_DEPTH, width=CM_WIDTH
    )
    return top.join(est, top["token"] == est["item"]).select(
        top["token"], "true_cnt",
        F.col("cm_est").cast("bigint").alias("cm_est"), "rk",
    )


def q_stream_teaser(spark, sf_dir):
    """TEASER's early-classification ACCEPT rule (C10; TEASERClassifier
    .java:304-330) as the stateful streaming operator it was built for
    (scoring.teaser_accept, applyInPandasWithState — SURVEY §2.9's
    hardest item): a deterministic per-snapshot prediction stream
    derived from events (snapshot = event rank within user, pred_label
    = coarse |value| bucket) flows through the keyed (label, streak)
    state machine with v=3; each series emits ONE row at the first
    snapshot where the same label repeats 3 consecutive times. The
    decision is exactly SQL-expressible (gaps-and-islands streaks), so
    the streaming path gets a full DuckDB oracle — stronger than
    stream==batch parity."""
    from pyspark.sql import Window

    from sfa_spark.sources.events import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    preds = ev.select(
        F.col("user_id").alias("series_id"),
        F.row_number().over(w).cast("long").alias("snapshot"),
        ((F.abs(F.floor(F.col("value") * 7)) % 3).cast("double")).alias(
            "pred_label"
        ),
    )
    src = process_tmpdir("sfa_steaser_src_")
    # one file → one micro-batch: teaser_accept sorts within a batch by
    # snapshot; multi-file sources could deliver later snapshots first
    preds.coalesce(1).write.mode("overwrite").parquet(src)
    name = f"steaser_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(preds.schema).parquet(src)
    q = (
        scoring.teaser_accept(stream, threshold=3)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("series_id", "pred_label", "accepted_at")


def q_stream_latest_state(spark, sf_dir):
    """Latest-state table maintained INCREMENTALLY by the foreachBatch
    upsert sink: the events changelog arrives over four micro-batches
    (maxFilesPerTrigger=1) and each batch MERGEs into the live state
    parquet (compact delta → max_by merge → atomic swap). The final
    state must equal the batch changelog compaction, so it shares
    q_latest_state's SQL oracle."""
    from sfa_spark.sources.events import load_table
    from sfa_spark.streaming import sinks

    ev = load_table(spark, sf_dir, "events")
    src = process_tmpdir("sfa_upsert_src_")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    state_dir = process_tmpdir("sfa_upsert_state_")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sinks.upsert_latest(stream, state_dir)
    q.awaitTermination(300)
    st = sinks.read_state(spark, state_dir)
    return st.select(
        "user_id", "event_id", "ts", "event_type",
        rnd("value", 4).alias("value"), "n_versions",
    )


def q_stream_drift(spark, sf_dir):
    """Streaming drift monitor: PSI of the LIVE stream against a FROZEN
    reference distribution. The reference (even event_ids) fixes the
    bucket boundaries and shares up front — the realistic deployment:
    the training-data distribution is frozen, production traffic is
    monitored against it. The stream (odd event_ids, deterministically
    shifted ×1.25+0.5) bucket-counts in complete mode — per-bucket
    counts are a commutative monoid, so stream == batch bit-for-bit
    and the DuckDB oracle is plain SQL. Out-of-reference-range values
    clamp into the edge buckets (they must raise the alarm, not
    vanish). State = n_buckets counters regardless of stream length."""
    from sfa_spark.operators.audit import drift_psi  # noqa: F401  (batch twin)
    from sfa_spark.sources.events import load_table

    n_buckets = 10
    ev = load_table(spark, sf_dir, "events")
    ref = ev.where(F.col("event_id") % 2 == 0).select("value").where(
        F.col("value").isNotNull()
    )
    r = ref.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(r["lo"]), float(r["hi"])
    width = (hi - lo) / float(n_buckets)

    def bucket_of(col):
        return F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_buckets - 1),
                F.floor((col - F.lit(lo)) / F.lit(width)).cast("int"),
            ),
        )

    ref_counts = ref.groupBy(bucket_of(F.col("value")).alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_old")
    )

    src = process_tmpdir("sfa_sdrift_src_")
    ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.25 + 0.5).alias("value")
    ).where(F.col("value").isNotNull()).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"sdrift_{uuid.uuid4().hex[:8]}"
    q = (
        stream.groupBy(bucket_of(F.col("value")).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    new_counts = spark.table(name)

    eps = 1e-6
    j = ref_counts.join(new_counts, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
    )
    totals = j.agg(
        F.sum("n_old").cast("bigint").alias("t_old"),
        F.sum("n_new").cast("bigint").alias("t_new"),
    )
    p_old = F.greatest(F.col("n_old") / F.col("t_old"), F.lit(eps))
    p_new = F.greatest(F.col("n_new") / F.col("t_new"), F.lit(eps))
    return j.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_old",
        "n_new",
        rnd(p_old, 6).alias("share_old"),
        rnd(p_new, 6).alias("share_new"),
        rnd((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi_term"),
    )


def q_stream_debounce(spark, sf_dir):
    """GREEDY keep-anchored rate limiting on the event stream
    (streaming/ingest.debounce_stream): an event passes iff it is more
    than an hour after the last EMITTED event of its (user, type) —
    sequential per key, state = one bigint per key. The DuckDB oracle
    replays the greedy selection with a recursive CTE (the same
    exact-replay technique as the APCA and dedup-groups oracles), so
    the stateful stream is hash-checked against an independent
    sequential-semantics implementation."""
    from sfa_spark.streaming import ingest as SI
    from sfa_spark.streaming import scoring

    src = process_tmpdir("sfa_sdeb_src_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    name = f"sdeb_{uuid.uuid4().hex[:8]}"
    stream = scoring.events_stream(spark, src)
    q = (
        SI.debounce_stream(stream, gap_ns=3_600_000_000_000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "event_id", "user_id", "event_type", "ts"
    )


def q_stream_scd2(spark, sf_dir):
    """Streaming SCD2 dimension maintenance (streaming/sinks.scd2_sink):
    the per-user changelog (user_id < 20, the q_scd2_history corpus)
    arrives as FOUR time-range slices (global ts quartiles, half-open —
    ties can't straddle a boundary — delivered in order via
    maxFilesPerTrigger=1 on mtime-ordered files); each micro-batch
    folds into the live history with temporal.scd2_apply under the
    bucketed-manifest exactly-once publish (r7: only buckets touched
    by the batch are rewritten). The final history must
    equal the from-scratch batch rebuild, so this shares
    q_scd2_history's SQL oracle — the streaming twin of the
    q_scd2_apply == rebuild certificate."""
    import os
    import time

    from sfa_spark.sources.events import load_table
    from sfa_spark.streaming import sinks

    # r8 prep consolidation: the changelog slice table is read ONCE.
    # The old prep ran five jobs over the events scan (percentile +
    # four filtered coalesce(1) writes); now the filtered changelog is
    # persisted (tiny: 20 users), the percentile job runs over the
    # cache, and ALL four slices land in one partitionBy("_slice")
    # write whose partition column reproduces the same half-open
    # percentile ranges — the written files are byte-compatible with
    # the per-slice writes (partition columns are dropped from the
    # files) and get the same names/mtimes below, so the stream
    # delivers the identical four micro-batches in the identical order.
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .persist()
    )
    qs = list(
        ev.agg(
            F.expr("percentile(ts, array(0.25, 0.5, 0.75))")
        ).collect()[0][0]
    )
    src = process_tmpdir("sfa_scd2_src_")
    q1, q2, q3 = (float(x) for x in qs)
    slice_no = (
        F.when(F.col("ts") < q1, 0)
        .when(F.col("ts") < q2, 1)
        .when(F.col("ts") < q3, 2)
        .otherwise(3)
    )
    stage = f"{src}/_slices"
    (
        ev.withColumn("_slice", slice_no)
        .coalesce(1)  # one task → exactly one file per slice dir
        .write.mode("overwrite")
        .partitionBy("_slice")
        .parquet(stage)
    )
    ev.unpersist()
    for i in range(4):
        path = f"{src}/slice_{i}.parquet"
        sdir = os.path.join(stage, f"_slice={i}")
        if not os.path.isdir(sdir):  # degenerate tie-heavy quartile:
            # reproduce the old per-slice write's empty file
            ev.limit(0).coalesce(1).write.mode("overwrite").parquet(sdir)
        part = next(p for p in os.listdir(sdir) if p.endswith(".parquet"))
        os.rename(os.path.join(sdir, part), path)
        # mtime strictly increasing so the file source delivers the
        # slices in time order (scd2_apply's arrival-order contract)
        t = time.time() - 40 + i * 10
        os.utime(path, (t, t))
    shutil.rmtree(stage)
    state_dir = process_tmpdir("sfa_scd2_state_")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sinks.scd2_sink(stream, state_dir)
    q.awaitTermination(300)
    st = sinks.read_state(spark, state_dir)
    return st.select(
        "user_id", "event_id", "event_type", "version",
        "valid_from", "valid_to", "is_current",
        rnd("value", 4).alias("value"),
    )
