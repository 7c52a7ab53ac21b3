"""The flagship pipeline: distributed word count.

This is the ENTIRE observable behavior of the reference engine
(``map_reduce.cpp:452-613``), re-expressed declaratively:

========================================  =====================================
reference stage (cite)                     here
========================================  =====================================
S1/S4 dir scan + tokenize (:477-495,      ``documents.text`` scan +
:152-159)                                  ``split/explode``
S5 punct strip (:160-165)                  ``strip_punct``
S6 drop-empty filter (:166)                ``where(length>0)``
S7 lowercase (:167)                        ``ascii_lower``
S8 emit (word,1) (:168-171)                implicit in ``groupBy().count()``
S9 reader→mapper queue (:72-115)           whole-stage codegen pipelining
S10 partial agg, 1024 bins (:191-236)      partial HashAggregate (automatic)
S11-S13 MPI hash shuffle + final merge     Exchange hashpartitioning +
(:286-438)                                 final HashAggregate (automatic)
S14 sorted text sink (:440-450)            ``sources.sinks.write_reference_format``
S3 8× workload multiplier (:36, :130)      ``passes=N`` knob (broadcast range ×N)
========================================  =====================================

The physical plan Catalyst produces — partial HashAggregate →
Exchange hashpartitioning → final HashAggregate — is
operator-for-operator the reference's hand-written OpenMP/MPI plan,
with map-side combine and hash-partitioned shuffle for free, plus
everything the reference lacked (spill-to-disk aggregation, AQE
partition coalescing, codegen).  One algebraic improvement on top
(round 12): tokens are counted by RAW surface form first and the
scalar normalize (S5/S7) runs on the distinct-token table, then a
second vocab-sized aggregate merges surface forms — identical output,
regexp/translate off the per-instance hot path (see
``_normalized_counts``).  At 100 TB: this is a classic shuffle-bound
word count; the only tuning lever that matters is
``spark.sql.shuffle.partitions`` / AQE, and skew on stop-words is
absorbed by the partial aggregate (each task emits at most one row per
distinct word).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.text import (
    duck_ascii_lower, duck_strip_punct, duck_tokens, normalize_token, tokens,
)
from ..registry import QuerySpec
from ..sources.tables import load_table


def _normalized_counts(raw_tokens: DataFrame, tok_col: str = "tok") -> DataFrame:
    """count raw tokens FIRST, then normalize the distinct-token table
    and re-aggregate — the algebraic rewrite ``count ∘ normalize =
    sum ∘ count-by-surface-form`` (counting is distributive over
    normalize's many-to-one mapping).

    Why (round-12 A/B, docs/wordcount_ab_r12.md): the per-instance hot
    path now carries ONLY split/explode and the two hash aggregates;
    ``regexp_replace`` + ``translate`` run once per DISTINCT surface
    form (vocab-scale) instead of once per token instance.  Measured
    at sf0.1: passes8 1.054 → 0.418 s best-of-6, plain 0.341 → 0.304.
    The extra exchange moves a vocab-sized frame (bounded by surface
    vocabulary even at 100 TB; worst-case all-unique tokens shuffles
    the same rows the old plan shuffled).  Spark's ``translate`` walks
    a per-char map while ``lower()`` has an ASCII fast path (~30%
    gap, same A/B), but ``translate`` is the portable casefold — this
    rewrite makes the spelling cost irrelevant instead of trading
    correctness for it."""
    raw = raw_tokens.groupBy(tok_col).agg(F.count("*").alias("c"))
    return (
        raw.select(normalize_token(F.col(tok_col)).alias("word"), "c")
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.sum("c").alias("cnt"))
    )


def _counts_of(lines: DataFrame, text_col: str, passes: int) -> DataFrame:
    """tokenize ``text_col`` (S4) → replay → count raw → normalize
    distinct (S5-S8) → final agg.

    ``passes`` replays the corpus N times, the reference's
    ``LOOP_OVER_DIRECTORY = 8`` benchmarking multiplier
    (``map_reduce.cpp:36,130``) — its observable semantics were "every
    count is 8× the true frequency".  Implemented as a crossJoin with a
    broadcast N-row range: no data duplication on disk, no extra scan.
    """
    toks = lines.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    if passes > 1:
        toks = toks.crossJoin(F.broadcast(lines.sparkSession.range(passes))).drop("id")
    return _normalized_counts(toks)


def word_counts(spark: SparkSession, sf_dir: str, passes: int = 1) -> DataFrame:
    """Word counts over ``documents.text``."""
    return _counts_of(load_table(spark, sf_dir, "documents"), "text", passes)


def word_counts_sorted(spark: SparkSession, sf_dir: str, passes: int = 1) -> DataFrame:
    """The reference's full output contract: counts sorted by word
    (``std::map`` key order, ``map_reduce.cpp:440-450``)."""
    return word_counts(spark, sf_dir, passes).orderBy("word")


def word_counts_from_text_dir(
    spark: SparkSession, path: str, passes: int = 1, sort: bool = True
) -> DataFrame:
    """The reference's ACTUAL input mode: a directory of raw text
    files (``./RawText/``, map_reduce.cpp:477-495) rather than a
    parquet column.  Same downstream pipeline; ``spark.read.text``
    replaces opendir/readdir + the master's pull queue.

    ``sort=False`` skips the global sort for sinks that re-partition
    and sort within partitions anyway (the CLI path)."""
    from ..sources.text import read_text_dir

    counts = _counts_of(read_text_dir(spark, path), "value", passes)
    return counts.orderBy("word") if sort else counts


def word_counts_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k words — a capability one presses a word-counter into
    immediately; deterministic total order (cnt desc, word asc)."""
    return word_counts(spark, sf_dir).orderBy(F.desc("cnt"), F.asc("word")).limit(k)


#: oracle-side token expression, casefolded via the ONE canonical helper
#: so the SQL literal cannot drift from :func:`ascii_lower` (ADVICE r11)
_DUCK_WORD = duck_ascii_lower(duck_strip_punct(f"unnest({duck_tokens('text')})"))

_ORACLE_TOKENS = f"""
    SELECT {_DUCK_WORD} AS word
    FROM documents
"""

_ORACLE_WORDCOUNT = f"""
SELECT word, count(*) AS cnt
FROM ({_ORACLE_TOKENS})
WHERE length(word) > 0
GROUP BY word
"""

_ORACLE_WORDCOUNT_X8 = f"""
SELECT word, count(*) * 8 AS cnt
FROM ({_ORACLE_TOKENS})
WHERE length(word) > 0
GROUP BY word
"""

_ORACLE_TOPK = f"""
SELECT word, cnt FROM ({_ORACLE_WORDCOUNT})
ORDER BY cnt DESC, word ASC
LIMIT 20
"""

SPECS = [
    QuerySpec(
        "wordcount",
        lambda spark, d: word_counts_sorted(spark, d),
        _ORACLE_WORDCOUNT,
        "reference flagship: word count over documents.text (map_reduce.cpp S1-S14)",
    ),
    QuerySpec(
        "wordcount_passes8",
        lambda spark, d: word_counts(spark, d, passes=8),
        _ORACLE_WORDCOUNT_X8,
        "reference semantics incl. the LOOP_OVER_DIRECTORY=8 multiplier (map_reduce.cpp:36,130)",
    ),
    QuerySpec(
        "wordcount_topk",
        lambda spark, d: word_counts_topk(spark, d, k=20),
        _ORACLE_TOPK,
        "top-20 words, deterministic order",
    ),
]
