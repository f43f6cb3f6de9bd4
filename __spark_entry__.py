"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query (events → sliding z-norm → PAA →
                 equi-width SFA words → numerosity-reduced bags →
                 top-k patterns per entity) at sf0.001.
queries()      — one entry per implemented SURVEY §2 operator.
oracle_sql()   — matching DuckDB SQL for EVERY registered query (172/
                 172 in r7, zero rows-only): iterative fits are
                 replayed exactly (recursive-CTE BPE trainer) or
                 checked through invariant surrogate surfaces
                 (_predict_invariants); everything else is mirrored
                 directly.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERY_MODULES = [
    "sfa_spark.queries",
    "sfa_spark.queries_text",
    "sfa_spark.queries_spectral",
    "sfa_spark.queries_index",
    "sfa_spark.queries_ml",
    "sfa_spark.queries_streaming",
]
ORACLE_MODULES = [
    "sfa_spark.oracles",
    "sfa_spark.oracles_text",
    "sfa_spark.oracles_ml",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from sfa_spark import queries as Q

    return Q.q_bag_topk(spark, "/root/testdata/sf0.001")


# Coverage rotation: the driver's correctness gate records the FIRST
# 50 registered queries each round; the union of rounds must cover all
# registered queries with no stale greens. After r7 the union covers
# all 172 registered queries (age tiers: r4 = 35, r5 = 40, r6 = 47,
# r7 = 50). Round-8 gate leads with (a) every query whose
# implementation changed in r8 — the Q2/Q11/Q20 shapes whose region/
# part semi-joins moved below the derived-partsupp pair aggregate,
# both streaming MERGE sinks, whose manifest commit is now serialized
# under the state lock, and the two classifier mirrors whose oracles
# were sharded into temp-table scripts (now sf0.1-green) — then
# (b) the ENTIRE r4 age tier (35 queries, the oldest coverage; retires
# that tier, oldest becomes r5), and (c) the r5 tier alphabetically
# filling to exactly 50.
# Demoted queries keep their green r5/r6/r7 rows and are replayed with
# tools/check_oracle.py before the round closes (log in COVERAGE.md).
ROTATE_FIRST = [
    # (a) implementation touched in r8
    "q_tpch_min_cost_supplier",  # Q2: semi-join below pair aggregate
    "q_tpch_important_stock",    # Q11: same placement fix
    "q_tpch_excess_stock_supplier",  # Q20: same + red-part pushdown
    "q_stream_scd2",             # locked manifest commit
    "q_stream_latest_state",     # locked manifest commit
    "q_boss_grid_predict",       # sharded temp-table oracle mirror
    "q_shotgun_ensemble_predict",  # sharded temp-table oracle mirror
    "q_phash_neardup",           # 64-bit signature + no-explode votes
    "q_simhash",                 # no-explode vote aggregation
    # (b) the entire r4 age tier (35) — oldest gate rows, all replayed
    # green in r7's full sf0.01 sweep
    "q_dwt_coefs", "q_event_cooccurrence", "q_funnel",
    "q_hard_negatives", "q_hll_by_lang", "q_hll_distinct",
    "q_interval_join", "q_jsonl_roundtrip", "q_latency_quantiles",
    "q_latest_state", "q_lm_perplexity", "q_mad_outliers",
    "q_mixture_sample", "q_observed_quality",
    "q_pattern_click_purchase", "q_pii_redact", "q_pivot_activity",
    "q_random_projection", "q_retention", "q_rollup_revenue",
    "q_salted_revenue", "q_scd2_history", "q_semantic_dedup",
    "q_sfa_words_dft", "q_stream_attribution", "q_stream_countmin",
    "q_stream_hll_distinct", "q_stream_lm_gate", "q_stream_sessionize",
    "q_tpch_local_supplier", "q_tpch_shipping", "q_twap",
    "q_unpivot_metrics", "q_value_outliers", "q_weighted_sample",
    # (c) r5-aged fill to exactly 50 (alphabetical; the remaining 34
    # r5 rows — q_cosine_multiprobe, q_cosine_topk, q_dedup_exact
    # onward — lead r9's fill; two fewer fit after the two
    # r8-touched simhash queries joined tier (a))
    "q_apca_segments", "q_bm25_search", "q_column_profile",
    "q_corpus_filter", "q_cosine_ivf", "q_cosine_kmeans",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry-level cache contract: a registered query MAY persist()
    intermediates reused within its own plan (words_df's coef table,
    the TPC-H scalar-subquery aggregates, the spectral array gather)
    WITHOUT unpersisting — the harness that runs a query to completion
    (bench.py, tools/qtime.py, tools/check_oracle.py, the round
    driver) calls spark.catalog.clearCache() between queries. A
    long-lived session embedding these queries must do the same, or
    cache entries accrete. Operators that both persist AND run to
    completion inside one call (ml/grid.py, classifiers.py) still pair
    persist with unpersist themselves.

    A query module that fails to import raises here: the registry never
    shrinks silently."""
    regs: dict[str, Callable] = {}
    for modname in QUERY_MODULES:
        mod = importlib.import_module(modname)
        regs.update(
            {
                name: fn
                for name, fn in vars(mod).items()
                if name.startswith("q_") and callable(fn)
            }
        )
    ordered: dict[str, Callable] = {
        name: regs[name] for name in ROTATE_FIRST if name in regs
    }
    ordered.update(regs)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB SQL per registered query; like queries(), an oracle module
    that fails to import raises."""
    out: dict[str, str] = {}
    for modname in ORACLE_MODULES:
        out.update(importlib.import_module(modname).ORACLES)
    return out
