"""Bag-of-patterns construction (SURVEY §2.5, B1-B10).

Reference parity:
  * numerosity reduction — BOSS.createBagOfPattern
    (`/root/reference/src/main/java/sfa/transformation/BOSS.java:116-145`, reduction :137)
  * bag counting         — same
  * WEASEL unigram/bigram keys — WEASEL.createBagOfPatterns
    (`/root/reference/src/main/java/sfa/transformation/WEASEL.java:142-215`,
     unigram key = word<<highestBit | windowTag with highestBit =
     binlog(highestOneBit(MAX_WINDOW_LENGTH))+1 = 9; bigram key =
     rawPrevWord<<32 | taggedUnigramKey at offset − windowLength,
     emitted only when rawPrevWord != 0 — WEASEL.java:160-170)

Everything here is lag/filter/groupBy — pure SQL, map-side combinable.
The words input is (series_id, win, word) sorted within series; the lag
window reuses the (series_id) partitioning. weasel_key_array and
bag_counts are the numpy twins of weasel_keys and of numerosity_reduce
+ bag_of_words over one series' words, for per-series Arrow passes
(ml/classifiers.py WEASEL features, the BOSS bags in queries.py); the
two key forms take the key format from HIGHEST_BIT and the tag check
from weasel_tag.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def numerosity_reduce(words: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Drop a window's word when identical to the previous window's.

    Stabilizes against slow-changing signals flooding the bag
    (BOSS.java:137). lag over (series_id[, *keys] ORDER BY win) — no new
    shuffle. `keys` carry grid columns (norm/window/word-length) so one
    call reduces every grid combination at once.
    """
    w = Window.partitionBy("series_id", *keys).orderBy("win")
    return (
        words.withColumn("_prev", F.lag("word").over(w))
        .where(F.col("_prev").isNull() | (F.col("word") != F.col("_prev")))
        .drop("_prev")
    )


def bag_counts(words: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numerosity_reduce + bag_of_words over ONE series' words in window
    order: (distinct words ascending, their counts)."""
    keep = np.ones(len(words), dtype=bool)
    keep[1:] = words[1:] != words[:-1]
    return np.unique(words[keep], return_counts=True)


def bag_of_words(words: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """(series_id, word[, *keys]) → counts. Sparse long-form histogram —
    the Spark-idiomatic equivalent of the reference's IntIntHashMap bag."""
    return words.groupBy("series_id", *keys, "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


# bits under each word for the window tag: one name owns the WEASEL key
# format, shared by weasel_keys and weasel_key_array (the reference's
# highestBit = binlog(highestOneBit(MAX_WINDOW_LENGTH)) + 1)
HIGHEST_BIT = 9


def weasel_tag(
    window_length: int, window_tag: int | None = None, highest_bit: int = HIGHEST_BIT
) -> int:
    """The tag packed under each word of one window length (the window
    length itself unless `window_tag` is given). Raises ValueError when
    it does not fit in highest_bit bits — call it on the driver, before
    any key is built."""
    tag = window_length if window_tag is None else window_tag
    if not 0 <= tag < (1 << highest_bit):
        raise ValueError(
            f"window tag {tag} (window length {window_length}) needs more than "
            f"highest_bit={highest_bit} bits; use a smaller window or tag, "
            "or raise highest_bit"
        )
    return tag


def weasel_keys(
    words: DataFrame,
    window_length: int,
    highest_bit: int = HIGHEST_BIT,
    bigrams: bool = True,
    window_tag: int | None = None,
) -> DataFrame:
    """Emit WEASEL unigram (+ bigram) keys from one window-length's words.

    unigram key = word << highest_bit | window_tag
    bigram  key = raw_prev << 32 | unigram_key, only when raw_prev != 0
    where raw_prev is the UNtagged word at win − window_length (the
    offset-by-window_length lag pairs non-overlapping adjacent windows,
    WEASEL.java:160-170). Tagging the second word keeps bigrams from
    different window lengths distinct; the reference packs a window
    index with highestBit = binlog(highestOneBit(MAX_WINDOW_LENGTH))+1
    = 9 bits — any injective tag < 2**highest_bit is equivalent, so we
    default to the window length itself and assert it fits.
    """
    tag = weasel_tag(window_length, window_tag, highest_bit)
    uni_key = F.shiftleft(F.col("word"), highest_bit).bitwiseOR(F.lit(tag))
    uni = words.select("series_id", uni_key.alias("key"))
    if not bigrams:
        return uni
    # ONE pass for both key kinds: a union of uni/bigram branches would
    # re-execute the whole upstream words chain twice (and the r2 bench
    # paid exactly that); instead each row explodes into its unigram key
    # plus — when the lagged word exists and is non-zero — its bigram key
    w = Window.partitionBy("series_id").orderBy("win")
    prev = F.lag("word", window_length).over(w)
    bigram_key = F.shiftleft(F.col("prev"), 32).bitwiseOR(uni_key)
    return (
        words.withColumn("prev", prev)
        .select(
            "series_id",
            F.explode(
                F.when(
                    F.col("prev").isNotNull() & (F.col("prev") != 0),
                    F.array(uni_key, bigram_key),
                ).otherwise(F.array(uni_key))
            ).alias("key"),
        )
    )


def weasel_key_array(words: np.ndarray, window_length: int, tag: int) -> np.ndarray:
    """weasel_keys (bigrams on, highest_bit = HIGHEST_BIT) for ONE series:
    `words` (int64) in window order → its unigram keys, then its bigram
    keys, as one int64 array. `tag` comes from weasel_tag, checked on the
    driver. The lag of window_length rows is a slice; counting is left
    to the caller (np.unique)."""
    uni = (words << HIGHEST_BIT) | tag
    prev = words[: max(len(words) - window_length, 0)]
    bi = (prev << 32) | uni[window_length:]
    return np.concatenate([uni, bi[prev != 0]])


def bag_of_keys(keys: DataFrame) -> DataFrame:
    """Count WEASEL keys per series (the BagOfBigrams)."""
    return keys.groupBy("series_id", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


