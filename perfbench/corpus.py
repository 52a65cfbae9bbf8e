"""Seeded benchmark corpus: transcripts plus an ``id``, a ``tags`` facet and
a Zipf long-tail vocabulary.

Everything derives from one seed. The base rows come from
``itemsjs_spark.data.transcripts.transcripts_df``; its 64-word ``VOCAB``
makes every content term match about a quarter of the turns, so each turn
also gets 1-3 words drawn from a Zipf(1) distribution over a seeded
long-tail vocabulary. Term document frequency then runs from a handful of
turns to about a fifth of the corpus.

Long-tail words are three consonant-vowel syllables whose first syllable
is one of ``HEADS``. A two-letter head prefix therefore expands to every
long-tail term under that head (about 350 in a 1,000-turn corpus, past the
engine's 256-term literal-map switch), while a four-letter prefix expands
to a handful.
"""

from __future__ import annotations

import math
import os
import random
from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONSONANTS = "bdfgklmnprstvz"
VOWELS = "aeiou"
# first syllables; none starts a transcripts VOCAB word, so a head prefix
# expands over long-tail terms only
HEADS = ["ka", "mo"]
TAIL_WORDS = 3000
N_TAGS = 30
# ``aggregation()`` permanently resizes the facet it names to 10000 (the
# reference does too); ``tags`` is sized above its 30 values already, so
# aggregating on it changes no later response
CONFIG = {
    "aggregations": {
        "role": {"size": 10},
        "tool": {"size": 10, "conjunction": False},
        "tags": {"size": 40},
        "conv_id": {"size": 20},
    },
    "searchableFields": ["text"],
    "sortings": {
        "by_turn": {"field": ["turn_idx", "conv_id"], "order": ["desc", "asc"]}
    },
}
ORDER_BY = ["conv_id", "turn_idx"]


def tail_vocabulary(seed: int) -> List[str]:
    """``TAIL_WORDS`` distinct words, index 0 the most frequent."""
    rng = random.Random(f"tail-{seed}")
    seen, words = set(), []
    while len(words) < TAIL_WORDS:
        w = rng.choice(HEADS) + "".join(
            rng.choice(CONSONANTS) + rng.choice(VOWELS) for _ in range(2)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def tag_names() -> List[str]:
    return [f"tag{i:02d}" for i in range(N_TAGS)]


def _decorate(df: DataFrame, seed: int) -> DataFrame:
    """Add ``id``, ``tags`` and the long-tail words to transcripts rows."""
    tail = F.array(*[F.lit(w) for w in tail_vocabulary(seed)])
    tags = F.array(*[F.lit(t) for t in tag_names()])
    row_key = F.xxhash64("conv_id", "turn_idx", F.lit(seed))

    def u(j):  # uniform [0, 1) per (row, j)
        return F.pmod(F.xxhash64(row_key, j), F.lit(1 << 20)) / F.lit(float(1 << 20))

    def zipf_word(j):  # rank = floor((V+1)^u), so P(rank) ~ 1/rank
        rank = F.floor(F.exp(u(F.lit(j)) * F.lit(math.log(TAIL_WORDS + 1))))
        return F.element_at(tail, F.least(rank, F.lit(TAIL_WORDS)).cast("int"))

    n_tail = (F.pmod(row_key, F.lit(3)) + 1).cast("int")
    tail_words = F.slice(F.array(*[zipf_word(j) for j in range(3)]), 1, n_tail)
    n_tags = (F.pmod(F.xxhash64(row_key, F.lit(99)), F.lit(3)) + 1).cast("int")
    tag_pick = [
        F.element_at(
            tags,
            (F.floor(F.pow(u(F.lit(100 + j)), F.lit(2.0)) * N_TAGS) + 1).cast("int"),
        )
        for j in range(3)
    ]
    return df.select(
        F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("id"),
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.array_distinct(F.slice(F.array(*tag_pick), 1, n_tags)).alias("tags"),
        F.concat_ws(" ", F.col("text"), F.array_join(tail_words, " ")).alias("text"),
    )


def corpus_df(spark: SparkSession, seed: int, n_turns: int) -> DataFrame:
    from itemsjs_spark.data.transcripts import transcripts_df

    base = transcripts_df(spark, n_turns=n_turns, n_convs=max(n_turns // 10, 1), seed=seed)
    return _decorate(base, seed)


def write_table(df: DataFrame, path: str) -> None:
    """Store the rows as parquet, one file per shuffle partition of the
    per-conversation turn numbering (no extra shuffle)."""
    df.write.mode("overwrite").parquet(path)


def profile(items: List[dict], n_terms: int, stored: str) -> Dict[str, int]:
    """Rows, distinct analysed terms and facet cardinalities of the corpus,
    from the rows already collected for the oracle, and the bytes of the
    parquet files under ``stored`` (the table, or the block store)."""
    out = {"rows": len(items), "distinct_terms": n_terms}
    for fld in CONFIG["aggregations"]:
        keys = set()
        for it in items:
            v = it.get(fld)
            keys.update(v if isinstance(v, list) else [] if v is None else [v])
        out[f"distinct_{fld}"] = len(keys)
    out["stored_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(stored)
        for f in files
        if f.endswith(".parquet")
    )
    return out
