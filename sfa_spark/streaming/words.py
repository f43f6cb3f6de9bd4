"""Streaming SFA words: the flagship batch pipeline (sliding window →
per-window z-norm → PAA → equi-width quantize → packed word) running
INCREMENTALLY over a live event stream.

Pattern (SURVEY §2.9): fit offline, score online — the bins/stats are
fitted by the batch engine (tiny artifact, broadcast into the stream);
the stateful operator keeps the last w−1 values per series so windows
spanning micro-batch boundaries are emitted exactly once. This is the
MFT-style incremental computation expressed as
applyInPandasWithState (reference has no streaming runtime; README
motivates BOSS VS for "mining streaming data", README.md:239-242).

State per series: (pos seen so far, tail = last w−1 values). Late /
out-of-order data within a batch is sorted by event time; across
batches the file source must deliver in order (watermark semantics are
the batch layer's concern — documented extension).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from sfa_spark.operators import words as WD

WORDS_OUTPUT = StructType(
    [
        StructField("series_id", LongType()),
        StructField("win", LongType()),
        StructField("word", LongType()),
    ]
)
WORDS_STATE = StructType(
    [
        StructField("pos", LongType()),
        StructField("tail", ArrayType(DoubleType())),
    ]
)


def stream_sfa_words(
    event_stream: DataFrame,
    stats: dict[int, tuple[float, float]],
    w: int = 16,
    l: int = 4,
    a: int = 4,
) -> DataFrame:
    """(user_id, ts, event_id, value) stream → (series_id, win, word).

    Each micro-batch emits exactly the windows that END inside it; the
    w−1 tail carries across batches in state. Words come from the batch
    chain's kernels (words.window_paa, words.equi_width_words) against
    the fitted per-seg (vmin, vmax).
    """
    vmin, vmax = (np.array([stats[i][j] for i in range(l)]) for j in (0, 1))

    def fn(key, pdfs, state: GroupState):
        (sid,) = key
        pos, tail = (state.get if state.exists else (0, []))
        tail = list(tail)
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        new = rows["value"].to_numpy(dtype=np.float64)
        if len(new) == 0:
            state.update((pos, tail))
            return
        concat = np.concatenate([np.asarray(tail, dtype=np.float64), new])
        words = WD.equi_width_words(WD.window_paa(concat, w, l), vmin, vmax, a)
        base = pos - len(tail)  # absolute index of concat[0]
        out = pd.DataFrame(
            {
                "series_id": int(sid),
                "win": base + np.arange(len(words)),
                "word": words,
            }
        )
        # windows ending before this batch were emitted previously
        already = pos - w + 1  # first win whose end >= pos is pos-w+1
        out = out[out["win"] >= max(already, 0)] if pos >= w else out
        new_pos = pos + len(new)
        new_tail = concat[-(w - 1):].tolist() if len(concat) >= w - 1 else concat.tolist()
        state.update((int(new_pos), new_tail))
        if len(out):
            yield out

    return event_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=WORDS_OUTPUT,
        stateStructType=WORDS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def fit_equi_width_stats(coef_df) -> dict[int, tuple[float, float]]:
    """Offline fit: per-segment (min, max) of the batch PAA coefficients
    — the tiny artifact the stream broadcasts."""
    from pyspark.sql import functions as F

    rows = (
        coef_df.groupBy("seg")
        .agg(F.min("coef").alias("vmin"), F.max("coef").alias("vmax"))
        .collect()
    )
    return {r["seg"]: (r["vmin"], r["vmax"]) for r in rows}
