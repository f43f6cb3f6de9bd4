"""Global top-k with ranks 1..k under a total order, computed in one
pass over the input.

orderBy().limit(k) plans as TakeOrderedAndProject — a parallel partial
top-k per partition merged on the driver, the shape that survives any
scale. The rank 1..k is then attached with a row_number window with an
empty partition spec OVER THE k-ROW LIMIT OUTPUT: the single-partition
WindowExec this plans is bounded by the preceding limit (k rows, k ≤
~100 everywhere in the registry), so the "No Partition Defined ...
single partition" log warning does not describe a real scale hazard
here — unlike a global window over the raw input, which is exactly the
shape this operator exists to avoid.

History: through r8 the rank was a k×k ordered broadcast self-join
(warning-free, engine-portable). That shape references the top-k frame
TWICE (probe + broadcast build), and Spark replays the ENTIRE upstream
pipeline once per reference — for q_jaccard_topk_capped the full
shingle/self-join computation ran twice per action (measured 2.10 s vs
1.33 s for the pair set alone at sf0.1). A persist() of the k-row top
set fixes the recompute but leaks a warm cache across a harness's
repeated runs of the same query (the CacheManager matches the fresh
run's canonicalized plan, so min-of-N then times cached final answers
— measured 3.6/0.47/0.53 s across bench runs; rejected as a
measurement artifact, r9). The bounded window consumes the limit
output exactly once, every run recomputes from the source, and the
values are pinned to the old join form by
tests/test_linear_topk.py::test_ranked_top_k_matches_window_rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# (column_name, descending?) specs
OrderSpec = list[tuple[str, bool]]


def ranked_top_k(df: DataFrame, order: OrderSpec, k: int) -> DataFrame:
    """Top k rows of df under `order` (a TOTAL order — tie-broken by a
    unique key), with an int `rk` column 1..k. Plans as
    TakeOrderedAndProject + a k-row single-partition window (bounded by
    the limit; see module docstring)."""
    cols = [F.col(n).desc() if d else F.col(n).asc() for n, d in order]
    top = df.orderBy(*cols).limit(int(k))
    w = Window.orderBy(*cols)
    return top.withColumn("rk", F.row_number().over(w).cast("int"))
