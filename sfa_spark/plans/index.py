"""SFA similarity index: prefix-partitioned parquet + bounding-box
pruning + two-phase exact k-NN / ε-range search (SURVEY §2.8, I1-I10).

Reference parity (re-architected for Spark):
  * SFATrie prefix tree (`/root/reference/src/main/java/sfa/index/SFATrie.java:32-103`)
    → parquet laid out partitionBy(p0..p{d-1}) over the first d SFA
    symbols. Trie descent ≡ partition pruning on those columns.
  * per-node DFT bounding boxes (`SFATrie.java:1121-1145`)
    → a summary table (prefix → per-coefficient min/max + count);
    parquet zone maps give the coarse version for free, the summary
    makes the box distance explicit.
  * searchKNN best-first branch-and-bound (`SFATrie.java:651-718`)
    → conservative two-phase plan: (1) scan the query's OWN prefix
    partition for an upper bound ub = kth exact distance, (2) scan only
    partitions whose box lower bound ≤ ub, exact-verify, take global
    top-k. Every phase is one set-oriented Spark job for the whole
    query BATCH (the reference answers one query at a time; batching is
    the Spark-native win).
  * getLowerBoundingDistance (`SFATrie.java:760-780`):
    LB(q, box) = Σ_i 2·gap_i², gap = distance of q's coefficient to
    [min_i, max_i] (×2 for rfft conjugate symmetry).
  * searchEpsilonRange (`SFATrie.java:593-649`) → prefix filter
    LB ≤ ε² then exact residual filter — classic partition pruning +
    residual predicate.

Scale: the fact table never shuffles at query time — Phase 1/2 are
scans with partition-pruned predicates; the summary table is
prefix-cardinality-sized (≤ alphabet^d rows) and broadcast/collected.
Exact distances are JVM fold expressions (whole-stage codegen).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sfa_spark.operators import sfa as SFA
from sfa_spark.operators.similarity import sqdist_expr


def _box_lb(qcols: list, mins, maxs):
    """Σ 2·gap² of query coefficients to a bounding box, as expression.
    qcols: list of scalar columns (one per coefficient value)."""
    total = F.lit(0.0)
    for i, q in enumerate(qcols):
        lo = F.element_at(mins, i + 1)
        hi = F.element_at(maxs, i + 1)
        gap = F.when(q < lo, lo - q).when(q > hi, q - hi).otherwise(F.lit(0.0))
        total = total + F.lit(2.0) * gap * gap
    return total


def _sfa_row_lb(qdft_col, syms_col, bins_map: dict[int, np.ndarray], l: int):
    """Squared SFA lower bound (SFADistance.java:22-67) as a codegen'd
    expression: per coefficient, gap from the query's DFT value to the
    candidate symbol's bin interval, 2·gap² summed. CASE branches guard
    the ANSI element_at bounds."""
    total = F.lit(0.0)
    for i in range(l):
        bs = bins_map.get(i, ())
        if len(bs) == 0:
            continue
        v = F.element_at(qdft_col, i + 1)
        c = F.element_at(syms_col, i + 1)
        blit = F.array(*[F.lit(float(b)) for b in bs])
        lo = F.when(c <= 0, F.lit(float("-inf"))).otherwise(F.element_at(blit, c))
        hi = F.when(c >= len(bs), F.lit(float("inf"))).otherwise(
            F.element_at(blit, c + 1)
        )
        gap = F.when(v < lo, lo - v).when(v > hi, v - hi).otherwise(F.lit(0.0))
        total = total + F.lit(2.0) * gap * gap
    return total


@dataclass
class SFAIndex:
    path: str
    model: SFA.SFAModel
    prefix_len: int

    @classmethod
    def build(
        cls,
        arrays: DataFrame,
        path: str,
        word_length: int = 16,
        alphabet: int = 8,
        prefix_len: int = 2,
        histogram: str = "equi_width",
    ) -> "SFAIndex":
        """Index z-normalized fixed-length series for whole-matching.

        Writes:
          path/data       — (series_id, dft, syms, values) partitioned
                            by the prefix symbols p0..p{d-1} (trie layout).
          path/summary    — (p0.., mins, maxs, cnt) bounding boxes.
          path/model.json — the SFA model, written from the driver.
        Bulk load ≡ reference SFATrie.buildIndex: the partitionBy write
        IS the bucket-sort by word prefix (SFATrie.java:171-184). Each
        series' DFT is computed once, by one Arrow UDF pass into a
        persisted (series_id, values, dft) frame; the bin fit, the
        symbols, the data write and the summary aggregate all read that
        frame, and it is unpersisted before returning.
        """
        dfts = SFA.whole_dft(arrays, word_length).persist()
        try:
            model = SFA.fit_whole(dfts, word_length, alphabet, histogram)
            rows = cls._prefix_rows(model, dfts, prefix_len)
            pk = [f"p{i}" for i in range(prefix_len)]
            rows.write.mode("overwrite").partitionBy(*pk).parquet(f"{path}/data")
            dft_i = [F.element_at("dft", i + 1) for i in range(word_length)]
            rows.groupBy(*pk).agg(
                F.array(*map(F.min, dft_i)).alias("mins"),
                F.array(*map(F.max, dft_i)).alias("maxs"),
                F.count(F.lit(1)).alias("cnt"),
            ).write.mode("overwrite").parquet(f"{path}/summary")
        finally:
            dfts.unpersist()
        model.save(f"{path}/model.json")
        return cls(path=path, model=model, prefix_len=prefix_len)

    @staticmethod
    def _prefix_rows(
        model: SFA.SFAModel, dfts: DataFrame, prefix_len: int
    ) -> DataFrame:
        """(p0..p{d-1}, series_id, dft, syms, values): each series'
        symbols (sfa.symbols over its dft, from sfa.whole_dft) and its
        first d symbols as prefix columns. A narrow projection — no
        Python, aggregate, join or shuffle — shared by the build and
        the query side."""
        syms = SFA.symbols(model, "dft")
        return dfts.select(
            *[syms[i].alias(f"p{i}") for i in range(prefix_len)],
            "series_id", "dft", F.array(*syms).alias("syms"), "values",
        )

    @staticmethod
    def _subsequence_window_rows(
        long_series: DataFrame, window: int, chunk_size: int = 65536
    ) -> DataFrame:
        """All z-normalized sliding windows of every long series as
        array rows, WITHOUT the w× row explode.

        The long form is sliced into contiguous chunks of `chunk_size`
        positions; each chunk is replicated with the FIRST w−1
        positions of its successor (so every window is produced exactly
        once, by the chunk owning its start), then one Arrow batch per
        (series, chunk) computes all its windows in numpy — sliding
        view + cumulative-sum mean/std (the same O(n) normalization the
        MFT recurrence uses, MFT.java:267-276). Cost: the long rows are
        shuffled ONCE at n rows (the applyInPandas grouping); the old
        sliding_long path shuffled n·w scalar rows through a window
        z-norm AND a regroup aggregation. For the reference's use case
        — indexing one 100M-point series (SFATrie.java:138-162) — the
        chunking also bounds executor memory at O(chunk_size + w),
        independent of series length.

        Output: (series_id = orig_id·2³² + start, values array<double>).
        """
        import numpy as np
        import pandas as pd

        w = int(window)
        cs = int(chunk_size)
        assert cs > w, "chunk_size must exceed the window length"
        base = long_series.where(F.col("n") >= w)
        main = base.withColumn("chunk", F.floor(F.col("pos") / cs))
        # overlap rows: the first w−1 positions of chunk c also feed
        # chunk c−1 (they complete its tail windows)
        tail = base.where(
            (F.col("pos") % cs < w - 1) & (F.col("pos") >= cs)
        ).withColumn("chunk", F.floor(F.col("pos") / cs) - 1)

        def _make(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("pos")
            sid = int(pdf["series_id"].iloc[0])
            chunk = int(pdf["chunk"].iloc[0])
            n = int(pdf["n"].iloc[0])
            x = pdf["value"].to_numpy(dtype=np.float64)
            start0 = chunk * cs
            # window starts owned by this chunk
            hi = min((chunk + 1) * cs, n - w + 1)
            n_win = hi - start0
            if n_win <= 0 or len(x) < w:
                return pd.DataFrame(
                    {
                        "series_id": pd.Series([], dtype="int64"),
                        # object dtype: an empty float64 column trips
                        # Arrow's NumPyConverter for list<double>
                        "values": pd.Series([], dtype="object"),
                    }
                )
            wins = np.lib.stride_tricks.sliding_window_view(x, w)[:n_win]
            c1 = np.concatenate([[0.0], np.cumsum(x)])
            c2 = np.concatenate([[0.0], np.cumsum(x * x)])
            means = (c1[w : w + n_win] - c1[:n_win]) / w
            var = (c2[w : w + n_win] - c2[:n_win]) / w - means * means
            stds = np.sqrt(np.maximum(var, 0.0))
            inv = np.where(stds > 0, 1.0 / np.where(stds > 0, stds, 1.0), 1.0)
            z = (wins - means[:, None]) * inv[:, None]
            ids = sid * (1 << 32) + np.arange(start0, hi, dtype=np.int64)
            # .tolist(): Arrow's NumPyConverter rejects ndarray-valued
            # cells for list<double> columns
            return pd.DataFrame({"series_id": ids, "values": z.tolist()})

        return (
            main.unionByName(tail)
            .groupBy("series_id", "chunk")
            .applyInPandas(_make, "series_id long, values array<double>")
        )

    @classmethod
    def build_subsequence(
        cls,
        long_series: DataFrame,
        window: int,
        path: str,
        word_length: int = 16,
        alphabet: int = 8,
        prefix_len: int = 2,
        chunk_size: int = 65536,
    ) -> "SFAIndex":
        """Subsequence-matching index (reference
        buildIndexSubsequenceMatching, SFATrie.java:138-162): every
        sliding window of the long series becomes an indexed row; the
        window is z-normalized on the fly (the reference stores
        means/stds and norms during the scan — here the norm happens at
        build, the two-phase query plan is identical).

        long_series: canonical long form (series_id, pos, value, n).
        Indexed ids encode (series_id, offset): id = series_id * 2^32 + win.

        r5: window materialization is the chunked Arrow path
        (_subsequence_window_rows) — one shuffle of the n long rows,
        cumsum z-norm, no w× row explode (the old sliding_long path
        pushed n·w scalar rows through a WindowExec and a regroup;
        tests assert the explode-free plan and row counts)."""
        arrays = cls._subsequence_window_rows(long_series, window, chunk_size)
        return cls.build(
            arrays, path, word_length=word_length, alphabet=alphabet,
            prefix_len=prefix_len,
        )

    @classmethod
    def load(cls, path: str, prefix_len: int) -> "SFAIndex":
        return cls(
            path=path,
            model=SFA.SFAModel.load(f"{path}/model.json"),
            prefix_len=prefix_len,
        )

    # ------------------------------------------------------------ queries

    def _query_side(self, queries: DataFrame) -> DataFrame:
        """(q_id, qvals, qdft, qp0..qp{d-1}): the build's _prefix_rows
        projection of the query batch's whole_dft, renamed — one Arrow
        pass per query series, no aggregate, join or shuffle."""
        dfts = SFA.whole_dft(queries, self.model.word_length)
        return self._prefix_rows(self.model, dfts, self.prefix_len).select(
            F.col("series_id").alias("q_id"),
            F.col("values").alias("qvals"),
            F.col("dft").alias("qdft"),
            *[F.col(f"p{i}").alias(f"qp{i}") for i in range(self.prefix_len)],
        )

    def knn(self, queries: DataFrame, k: int) -> DataFrame:
        """Exact batch k-NN. Output: (q_id, nn_id, dist, rk).

        Phase 1 (probe): exact distances inside each query's own prefix
        partition → upper bound ub (kth best, ∞ if the bucket is thin).
        Phase 2 (prune+verify): box-LB every (query, prefix) pair on the
        tiny summary, scan only surviving partitions, exact-verify, and
        take the global top-k. Equality with brute force is asserted in
        tests (reference SFATrieTest invariant).

        The query side (_query_side) — and the Phase-2 (query ×
        surviving-prefix) candidate table carrying qvals/qdft arrays —
        is broadcast into both prefix joins: the plan for
        classification-sized batches (the Spark-native win over
        SFATrie.java:651-718's one-at-a-time search), so the prefix
        joins never shuffle the indexed data. Both phases read the
        query side; it is a narrow projection of the batch, so each
        reads it afresh rather than through a cache entry that the
        call would leave behind."""
        spark = queries.sparkSession
        data = spark.read.parquet(f"{self.path}/data")
        summary = spark.read.parquet(f"{self.path}/summary")
        q = self._query_side(queries)
        pk = [f"p{i}" for i in range(self.prefix_len)]

        # Phase 1: own-bucket probe — equi-join on the prefix columns
        q_eq = q.select(
            "q_id", "qvals", "qdft",
            *[F.col(f"qp{i}").alias(f"p{i}") for i in range(self.prefix_len)],
        )
        probe = data.join(F.broadcast(q_eq), on=pk).select(
            "q_id", F.col("series_id").alias("nn_id"),
            sqdist_expr(F.col("qvals"), F.col("values")).alias("sqdist"),
        )
        wk = Window.partitionBy("q_id").orderBy(F.col("sqdist").asc(), F.col("nn_id").asc())
        ub = (
            probe.withColumn("rk", F.row_number().over(wk))
            .where(F.col("rk") == k)
            .select("q_id", F.col("sqdist").alias("ub"))
        )

        # Phase 2: box-prune on the summary, then exact verify. The
        # summary broadcast is unconditional — it is index metadata
        # (one row per prefix partition), not query-batch-sized.
        qcols = [F.element_at("qdft", i + 1) for i in range(self.model.word_length)]
        qxs = q.join(ub, "q_id", "left").withColumn(
            "ub", F.coalesce("ub", F.lit(float("inf")))
        )
        cand_prefixes = (
            qxs.crossJoin(F.broadcast(summary))
            .withColumn("lb", _box_lb(qcols, F.col("mins"), F.col("maxs")))
            .where(F.col("lb") <= F.col("ub"))
            .select("q_id", "qvals", "qdft", "ub", *pk)
        )
        # third pruning level: row-wise SFA lower bound (reference
        # SFADistance, Q9) against the candidate's word symbols — skips
        # the exact ED fold for rows whose LB already exceeds the bound
        row_lb = _sfa_row_lb(
            F.col("qdft"), F.col("syms"), self.model.bin_arrays, self.model.word_length
        )
        verify = (
            data.join(F.broadcast(cand_prefixes), on=pk)
            .where(row_lb <= F.col("ub"))
            .select(
                "q_id", F.col("series_id").alias("nn_id"),
                sqdist_expr(F.col("qvals"), F.col("values")).alias("sqdist"),
            )
        )
        return (
            verify.withColumn("rk", F.row_number().over(wk).cast("int"))
            .where(F.col("rk") <= k)
            .select("q_id", "nn_id", F.sqrt("sqdist").alias("dist"), "rk")
        )

    def range_search(self, queries: DataFrame, epsilon: float) -> DataFrame:
        """All (q_id, nn_id) with ED ≤ ε: prefix box filter + exact
        residual (partition pruning + residual predicate)."""
        spark = queries.sparkSession
        data = spark.read.parquet(f"{self.path}/data")
        summary = spark.read.parquet(f"{self.path}/summary")
        q = self._query_side(queries)
        pk = [f"p{i}" for i in range(self.prefix_len)]
        qcols = [F.element_at("qdft", i + 1) for i in range(self.model.word_length)]
        cand = (
            q.crossJoin(F.broadcast(summary))
            .withColumn("lb", _box_lb(qcols, F.col("mins"), F.col("maxs")))
            .where(F.col("lb") <= F.lit(epsilon * epsilon))
            .select("q_id", "qvals", *pk)
        )
        return (
            data.join(F.broadcast(cand), on=pk)
            .select(
                "q_id",
                F.col("series_id").alias("nn_id"),
                F.sqrt(sqdist_expr(F.col("qvals"), F.col("values"))).alias("dist"),
            )
            .where(F.col("dist") <= epsilon)
        )
