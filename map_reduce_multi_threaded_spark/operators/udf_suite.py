"""UDF / UDAF / UDTF coverage — the user-extensibility surface.

The reference hardwired all logic in C++ (SURVEY.md §2.1: UDF support
ABSENT).  Spark's extension points, in preference order:

1. built-in Column expressions (everything else in this repo) — JVM,
   codegen, fastest;
2. ``@pandas_udf`` scalar / grouped-agg — Arrow batches into numpy;
3. Python UDTF (table functions, Spark 4) — one input row → many rows;
4. row-at-a-time ``F.udf`` — last resort, shown here only as the
   anti-pattern baseline the bench can compare against.

Each flavor below computes something SQL-expressible on purpose, so
even the Python paths are oracle-gated.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.text import WS_RE, duck_tokens
from ..registry import QuerySpec
from ..sources.tables import load_table

# NOTE: @pandas_udf / @udtf decorators run eagerly and need an active
# SparkContext, so every decorated definition lives INSIDE its query
# function — module import must stay session-free.


# ---------------------------------------------------------------------------
# grouped-aggregate pandas UDAF: discount-weighted mean price
# ---------------------------------------------------------------------------

def udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas grouped-agg UDAF: discount-weighted mean price.

    Computed in exact scaled-integer arithmetic (prices/discounts are
    2-decimal values → cents are exact int64), NOT float sums: pandas
    uses pairwise summation while SQL sums sequentially, and at sf0.1
    (~600k rows) the float difference landed exactly on a 6-dp
    rounding boundary — caught by the sf0.1 oracle sweep, invisible at
    sf0.01.  Integer sums are order-free; the final division sees
    bit-identical operands on both engines."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_mean(price: pd.Series, weight: pd.Series) -> float:  # type: ignore[misc]
        p_cents = (price * 100).round().astype("int64")
        w_cents = (weight * 100).round().astype("int64")
        num = int((p_cents * w_cents).sum())
        den = int(w_cents.sum())
        return float(num) / (float(den) * 100.0)

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0)
    return (
        li.groupBy("l_returnflag")
        .agg(weighted_mean("l_extendedprice", "l_discount").alias("wmean_raw"))
        .select("l_returnflag", F.round("wmean_raw", 6).alias("wmean_price"))
    )


_UDAF_ORACLE = """
SELECT l_returnflag,
       round(
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
         / (CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) * 100.0),
         6) AS wmean_price
FROM lineitem WHERE l_discount > 0
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Python UDTF: sessionize a user's sorted event times (1 row in → N out)
# ---------------------------------------------------------------------------

def udtf_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gaps via a Python UDTF (lateral join).

    Scale: the UDTF sees one row per user (the sorted array built by a
    keyed aggregate) — state stays bounded by a user's event count."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, gap_minutes double")
    class GapSplitter:
        """One row per consecutive-event gap from an array of epoch
        micros — a table function over an aggregated array column."""

        def eval(self, times):  # noqa: D102
            import math

            if times is None:
                return
            for pos in range(1, len(times)):
                gap = (times[pos] - times[pos - 1]) / 60.0 / 1e6
                # half-away-from-zero (SQL round), not Python's
                # banker's round — ties at the 7th digit are common
                # because gaps are exact microsecond counts
                yield pos, math.floor(gap * 1e6 + 0.5) / 1e6

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    arrs = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.unix_micros("ts"))).alias("times")
    )
    arrs.createOrReplaceTempView("user_times")
    spark.udtf.register("gap_splitter", GapSplitter)
    return spark.sql(
        """
        SELECT user_id, g.pos, g.gap_minutes
        FROM user_times, LATERAL gap_splitter(times) AS g
        """
    )


_UDTF_ORACLE = """
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS t,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
  FROM events WHERE user_id < 10
)
SELECT a.user_id, CAST(a.rn - 1 AS INTEGER) AS pos,
       round((a.t - b.t) / 60.0 / 1e6, 6) AS gap_minutes
FROM ordered a JOIN ordered b ON a.user_id = b.user_id AND a.rn = b.rn + 1
"""


UDTF_TOP_N = 3


def udtf_top_terms_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()``): the output
    schema — columns w1..wN — is computed at plan time from the
    constant N argument, the API surface that lets one table function
    serve any requested width (dynamic pivots, parametric feature
    extractors) without a registry of fixed-schema variants.

    Per document it emits the top-{UDTF_TOP_N} tokens by count (ties
    alphabetical, padding NULL), laterally joined so doc_id rides
    along.  Scale: one row in, one row out, state bounded by a
    document's vocabulary."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, udtf
    from pyspark.sql.types import StringType, StructType

    @udtf
    class TopTerms:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression:
                raise ValueError("n must be a constant")
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"w{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):  # noqa: D102
            import re
            from collections import Counter

            # ASCII WS_RE split — NOT str.split(): the engine-wide
            # tokenization contract (see udf_arrow_scalar)
            toks = [w for w in re.split(WS_RE, text or "", flags=re.ASCII) if w]
            top = sorted(Counter(toks).items(), key=lambda kv: (-kv[1], kv[0]))
            vals = [t for t, _ in top[:n]]
            yield tuple(vals + [None] * (n - len(vals)))

    load_table(spark, sf_dir, "documents", cpu_heavy=True).createOrReplaceTempView("docs_poly")
    spark.udtf.register("top_terms", TopTerms)
    return spark.sql(
        f"""
        SELECT doc_id, t.*
        FROM docs_poly, LATERAL top_terms(text, {UDTF_TOP_N}) AS t
        """
    )


_UDTF_POLY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS term FROM documents
),
c AS (
  SELECT doc_id, term, count(*) AS n FROM toks
  WHERE length(term) > 0 GROUP BY doc_id, term
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY n DESC, term ASC) AS rn
  FROM c
)
SELECT d.doc_id,
       {", ".join(f"max(CASE WHEN rn = {i} THEN term END) AS w{i}" for i in range(1, UDTF_TOP_N + 1))}
FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id AND r.rn <= {UDTF_TOP_N}
GROUP BY d.doc_id
"""


# ---------------------------------------------------------------------------
# grouped-map applyInPandas: per-user z-score normalization
# ---------------------------------------------------------------------------

def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: whole group in, whole group out —
    the shape for per-entity model scoring / normalization.

    z-scores are computed in numpy per user; the oracle reproduces
    them with window functions (population stddev via exact moments).
    Rounded to 6 dp: numpy's summation order differs from SQL's.

    Degenerate groups (round-10 alt-fixture catch): a single-event or
    constant-value user has zero variance, where the convention is
    z = 0 (sklearn StandardScaler; scipy returns NaN).  The guard
    predicate must be EXACT and engine-portable, so both sides test
    min(value) == max(value) — a float-equality both engines compute
    identically — rather than `std > 0` vs an unguarded one-pass
    variance whose 0/0 the oracle previously hit (the six earlier
    fixtures happened to give every user_id < 20 two distinct values).

    Scale: one shuffle on the group key; each group must fit in one
    worker's memory — fine for per-user slices, wrong for whole-corpus
    groups (use window functions then)."""
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        if v.min() == v.max():
            z = pd.Series(0.0, index=v.index)
        else:
            z = (v - v.mean()) / v.std(ddof=0)
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z_raw": z}
        )

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    out = ev.groupBy("user_id").applyInPandas(
        zscore, "event_id long, user_id long, z_raw double"
    )
    return out.select("event_id", "user_id", F.round("z_raw", 6).alias("zscore"))


_GROUPED_MAP_ORACLE = """
WITH stats AS (
  SELECT event_id, user_id, value,
         avg(value) OVER (PARTITION BY user_id) AS mu,
         count(*) OVER (PARTITION BY user_id) AS n,
         sum(value * value) OVER (PARTITION BY user_id) AS sq,
         sum(value) OVER (PARTITION BY user_id) AS s,
         min(value) OVER (PARTITION BY user_id) AS mn,
         max(value) OVER (PARTITION BY user_id) AS mx
  FROM events WHERE user_id < 20
)
SELECT event_id, user_id,
       CASE WHEN mn = mx THEN CAST(0.0 AS DOUBLE)
            ELSE round((value - mu) / sqrt(sq / n - (s / n) * (s / n)), 6)
       END AS zscore
FROM stats
"""


def cogroup_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cogroup().applyInPandas`` — align TWO keyed tables group-by-
    group in one pass: each user's events and their orders arrive as a
    pandas frame pair, the custom merge emits one profile row.  This is
    the extension shape for per-entity reconciliation that isn't a
    plain join (sequence alignment, per-key model fitting over two
    inputs); here the merge is deliberately SQL-expressible (a full
    outer agg-join) so the Python path is oracle-gated end to end.

    Determinism: counts and exact integer cents/micros only.  Scale:
    one co-partitioned shuffle on the key — both sides hash to the
    same partitions, each group pair must fit one worker (per-user
    slices do); the 100 TB caveat is the same as any grouped-map.

    Parallelism note (round 9, measured): a Python-bound grouped-map
    stage must NOT let AQE size its shuffle — AQE coalesces by BYTES,
    and a many-small-groups cogroup (15k one-row outputs here) is
    kilobytes of shuffle data carrying seconds of per-group Python,
    so AQE squeezed it to 3 tasks on 32 cores.  The explicit
    ``repartition(defaultParallelism, key)`` below is user-specified
    partitioning AQE leaves alone; it REPLACES the cogroup's own
    exchanges (same key, so the requirement is already satisfied —
    plan-budget still 2) and took the sf0.1 bench from 14.6 s to
    2.3 s.  Same rule a 1000-executor cluster needs when group COUNT,
    not byte size, is the cost."""
    cols = [
        "user_id", "n_events", "n_orders", "first_event_us", "order_total_cents"
    ]

    def merge(key, ev_pdf: pd.DataFrame, ord_pdf: pd.DataFrame) -> pd.DataFrame:
        tu = ev_pdf["tu"].values
        cents = ord_pdf["cents"].values
        return pd.DataFrame(
            [[
                key[0],
                len(tu),
                len(cents),
                int(tu.min()) if len(tu) else None,
                int(cents.sum()) if len(cents) else 0,
            ]],
            columns=cols,
        )

    par = spark.sparkContext.defaultParallelism
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts)").alias("tu")
    ).repartition(par, "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    ).repartition(par, "user_id")
    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id long, n_events long, n_orders long, "
            "first_event_us long, order_total_cents long",
        )
    )


_COGROUP_ORACLE = """
WITH e AS (
  SELECT user_id, count(*) AS n_events, min(epoch_us(ts)) AS first_event_us
  FROM events GROUP BY user_id
),
o AS (
  SELECT o_custkey AS user_id, count(*) AS n_orders,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS order_total_cents
  FROM orders GROUP BY o_custkey
)
SELECT coalesce(e.user_id, o.user_id) AS user_id,
       coalesce(n_events, 0) AS n_events,
       coalesce(n_orders, 0) AS n_orders,
       first_event_us,
       CAST(coalesce(order_total_cents, 0) AS BIGINT) AS order_total_cents
FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
"""


def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ARROW-OPTIMIZED scalar Python UDF (``useArrow=True``):
    per-row Python logic, Arrow-batched transfer — the middle rung
    between ``@pandas_udf`` (vectorized numpy) and the row-pickle
    ``F.udf`` anti-pattern.  Use it when the logic is genuinely
    per-row Python (a tokenizer call, a parser) but you still refuse
    the pickle serializer.  Plans as ArrowEvalPython, so it passes the
    registry-wide no-BatchEvalPython policy gate.

    The function counts whitespace tokens — deliberately
    SQL-expressible so the Arrow path itself is oracle-gated.
    Tokenization is the engine-wide contract (``functions/text.py``): plain
    ``str.split()`` is UNICODE-whitespace-aware in Python (it splits
    on NBSP/U+3000 that neither Java nor RE2 ``\\s`` matches — found
    by the round-11 adversarial-text sweep), so the UDF splits with
    ``re.ASCII`` to match the JVM/DuckDB semantics exactly."""
    from pyspark.sql.functions import udf

    @udf(returnType="int", useArrow=True)
    def n_tokens(text: str) -> int:
        import re

        return len([w for w in re.split(WS_RE, text, flags=re.ASCII) if w])

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", n_tokens("text").alias("n_tokens"))


_UDF_ARROW_ORACLE = f"""
SELECT doc_id,
       CAST(len(list_filter({duck_tokens('text')},
                            x -> x <> '')) AS INTEGER) AS n_tokens
FROM documents
"""


SPECS = [
    QuerySpec("udaf_weighted_mean", udaf_weighted_mean, _UDAF_ORACLE,
              "pandas grouped-agg UDAF (discount-weighted mean)"),
    QuerySpec("udf_arrow_scalar", udf_arrow_scalar, _UDF_ARROW_ORACLE,
              "Spark 4 arrow-optimized scalar Python UDF (useArrow=True)"),
    QuerySpec("udtf_event_gaps", udtf_event_gaps, _UDTF_ORACLE,
              "Python UDTF: per-user inter-event gaps via LATERAL"),
    QuerySpec("udtf_top_terms_poly", udtf_top_terms_poly, _UDTF_POLY_ORACLE,
              "polymorphic UDTF: analyze() derives the w1..wN schema from "
              "the constant argument at plan time"),
    QuerySpec("grouped_map_zscore", grouped_map_zscore, _GROUPED_MAP_ORACLE,
              "applyInPandas grouped-map per-user z-scores"),
    QuerySpec("cogroup_activity", cogroup_activity, _COGROUP_ORACLE,
              "cogroup().applyInPandas two-table per-key merge (full-outer profile)"),
]
