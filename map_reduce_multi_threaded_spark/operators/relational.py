"""Relational operator suite over the TPC-H-ish star schema.

The reference implements exactly one aggregation — COUNT by key with a
partial/final split (``map_reduce.cpp:191-236, :386-438``) — and zero
joins, windows, sorts, or set operations (SURVEY.md §2.1).  This module
is the generalized relational surface a user of a "count things by key"
engine grows into, written DataFrame-first so Catalyst plans it
(predicate pushdown, column pruning, join selection, AQE).

Determinism contract (every query here hash-matches its DuckDB oracle):

* double aggregates go through ``decimal`` casts — decimal addition is
  exact and order-independent, so partial/final aggregation order (or a
  1000-executor shuffle) cannot change a single bit;
* ``avg``/``stddev`` are derived from exact decimal sums with one final
  IEEE double division (deterministic on both engines);
* timestamps are emitted as formatted strings; every sort has a total
  order via explicit tie-break columns.

Scale notes are inline per query; the common themes: dimension joins
broadcast (region/nation/supplier are bounded), fact-fact joins shuffle
on their keys and rely on AQE for skew, aggregations are always
partial-before-shuffle (automatic), and nothing ever collects to the
driver.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.text import (
    ascii_lower, duck_ascii_lower, duck_md5_long, duck_tokens, tokens,
)

#: oracle-side casefold fragment from the ONE canonical helper (ADVICE r11)
_DUCK_LC_TEXT = duck_ascii_lower("text")
from ..registry import QuerySpec
from ..sources.tables import load_table, staged
from ..streaming import windows as W

# --------------------------------------------------------------------------
# deterministic aggregate helpers (Spark side)
# --------------------------------------------------------------------------

DEC = "decimal(18,4)"
#: money columns are exact 2-decimal doubles (asserted in tests) — this
#: cast is lossless, and narrow enough that triple products stay inside
#: decimal(38) without scale truncation on either engine.
DECM = "decimal(14,2)"
#: discount/tax ratios: 2-decimal values in [0, 1).
DECR = "decimal(4,2)"


def dec(col) -> "F.Column":
    """Raw money/ratio columns are exact 2-decimal values (checked in
    tests), so this cast is lossless; all downstream arithmetic is then
    exact decimal — products like price×(1−disc)×(1+tax) never round,
    which is what makes the cross-engine (and cross-partitioning) value
    hashes bit-stable.  Computing the product in *double* and casting
    after is NOT safe: the 6-decimal product lands near .00005
    midpoints where Spark (exact BigDecimal expansion) and DuckDB
    (double-multiply-then-rint) round differently.

    Input casts must stay narrow: Spark's decimal type inference caps
    products at precision 38 and TRUNCATES SCALE past it, so
    (14,2)×(5,2)×(5,2) → (26,6) exact, while (18,4)³ would overflow the
    cap and silently round."""
    return F.col(col).cast(DEC)


def money(col) -> "F.Column":
    return F.col(col).cast(DECM)


def ratio_complement(col, plus: bool = False) -> "F.Column":
    """(1 − ratio) or (1 + ratio) as exact narrow decimal."""
    one = F.lit(1).cast(DECR)
    r = F.col(col).cast(DECR)
    return (one + r) if plus else (one - r)


def dsum(col, alias: str):
    """Exact, order-independent sum of a double column via decimal."""
    return F.sum(dec(col)).cast("double").alias(alias)


def dsum_expr(expr, alias: str):
    """Exact sum of a decimal expression (see :func:`dec`)."""
    return F.sum(expr).cast("double").alias(alias)


def davg(col, alias: str):
    return (
        F.sum(F.col(col).cast(DEC)).cast("double") / F.count(F.lit(1))
    ).alias(alias)


# DuckDB oracle mirrors
def osum(expr: str, alias: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) AS {alias}"


def oavg(expr: str, alias: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS {alias}"


# --------------------------------------------------------------------------
# aggregations
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary — the bench anchor aggregate.

    Scale: scan-bound with a tiny (6-group) shuffle; the partial
    HashAggregate reduces ~everything map-side, exactly the reference's
    1024-bin combiner generalized (map_reduce.cpp:191-236).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc = money("l_extendedprice") * ratio_complement("l_discount")
    charge = disc * ratio_complement("l_tax", plus=True)
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-08-06"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum_expr(disc, "sum_disc_price"),
            dsum_expr(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {osum('l_quantity', 'sum_qty')},
       {osum('l_extendedprice', 'sum_base_price')},
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       {oavg('l_quantity', 'avg_qty')},
       {oavg('l_extendedprice', 'avg_price')},
       {oavg('l_discount', 'avg_disc')},
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: tight filter + single global sum.

    Scale: the predicates push to the parquet scan (min/max row-group
    pruning on l_shipdate); the aggregate is one partial sum per task +
    a 1-row exchange.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum_expr(money("l_extendedprice") * F.col("l_discount").cast(DECR), "revenue"))
    )


_Q6_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per group — expand + two-phase aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_AGG_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB answer to
    count-distinct (no expand, fixed-size sketch per group, mergeable
    across partitions).  HLL internals differ between engines, so the
    raw estimate can never hash-match a DuckDB oracle; instead the
    query emits the EXACT companion count (hash-gated for real) plus
    ``est_within_tol`` — the estimate's ≤5 % relative-error contract
    (rsd 0.02 ⇒ 2.5σ) evaluated in-engine, which the oracle pins to
    TRUE.  The driver thus gates both halves: exact value equality and
    the sketch's accuracy bound.  At 100 TB you drop the exact
    companion column — it exists here as the certification harness, the
    same sample-then-trust shape as the dedup/ANN recall evaluators."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= 0.05
            ).alias("est_within_tol"),
        )
    )


_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
       TRUE AS est_within_tol
FROM lineitem GROUP BY l_returnflag
"""


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev per group, with variance derived from exact
    decimal sums (sum, sum-of-squares) so partial-aggregation order can
    never flip a bit — the distributed-safe way to do second moments.

    Degenerate-group guards (round-10 oracle audit, after the
    grouped_map_zscore sparse-fixture catch): a 1-row group's sample
    stddev is NULL on both sides — unguarded, the raw /(n-1) was a
    DIVIDE_BY_ZERO error under Spark's ANSI mode and NULL in DuckDB —
    and the variance numerator is clamped at 0 before sqrt (for a
    constant group the double cancellation can land epsilon-negative,
    where DuckDB's sqrt is a hard Out-of-Range ERROR, not NaN; the
    F.when keeps the division itself unevaluated on 1-row groups,
    CaseWhen branches being lazy per row).  Both engines compute the
    same IEEE doubles from the same exact decimal sums, so the clamp
    and the n>1 predicate agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast(DEC)
    sum_q = F.sum(qd).cast("double")
    sum_q2 = F.sum(qd * qd).cast("double")
    n = F.count(F.lit(1))
    var = (sum_q2 - sum_q * sum_q / n) / (n - F.lit(1))
    stddev = F.when(n > F.lit(1), F.sqrt(F.greatest(F.lit(0.0), var)))
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            (sum_q / n).alias("avg_qty"),
            stddev.alias("stddev_qty"),
            n.alias("n_rows"),
        )
    )


_AGG_STATS_ORACLE = """
SELECT l_linestatus,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
       CASE WHEN count(*) > 1 THEN
         sqrt(greatest(0.0,
              (CAST(sum(CAST(l_quantity AS DECIMAL(28,4)) * CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
               - CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 * CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*))
              / (count(*) - 1)))
       END AS stddev_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY l_linestatus
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(returnflag, linestatus): subtotals + grand total.
    NULL group keys are coalesced to 'ALL' on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


# HAVING count(*) > 0 encodes the ENGINE's (Spark's) rollup semantics:
# on EMPTY input Spark's Expand+HashAggregate emits no groups at all,
# while the SQL standard (DuckDB/Postgres) emits the () grand-total row
# with count 0 (round-11 empty-table audit).  On non-empty input every
# grouping-set row aggregates >= 1 source rows, so the clause is
# vacuous there — it only pins the empty-input contract.
_AGG_ROLLUP_ORACLE = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       {osum('l_quantity', 'sum_qty')},
       count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING count(*) > 0
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
        )
    )


_AGG_CUBE_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING count(*) > 0
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (the Spark 4.1 DataFrame API
    form is :func:`agg_grouping_sets_api`)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


_AGG_GROUPING_SETS_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def agg_grouping_sets_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the Spark 4.1 ``DataFrame.groupingSets`` API
    — the last multi-scope rollup form that previously existed only
    as SQL text: detail / per-status / grand-total scopes in one scan,
    with the ``grouping()`` bitmask disambiguating a real NULL group
    key from a rolled-up one (the classic superaggregate trap)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", money("o_totalprice").alias("tp")
    )
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("tp").cast("double").alias("revenue"),
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).cast("int").alias("scope"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "scope",
            "n_orders",
            "revenue",
        )
    )


_AGG_GROUPING_SETS_API_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER)
         AS scope,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list so the plan
    needs no extra pass to discover values — mandatory at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("O", F.lit(0)).alias("status_o"),
        )
    )


_AGG_PIVOT_ORACLE = """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_linestatus = 'F') AS status_f,
       count(*) FILTER (WHERE l_linestatus = 'O') AS status_o
FROM lineitem GROUP BY l_returnflag
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median, p90).
    At 100 TB you'd switch to approx_percentile (t-digest sketch,
    mergeable); the exact form is the correctness baseline."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_quantity, array(0.5D, 0.9D))").alias("p"))
        .select(
            "l_returnflag",
            F.round(F.element_at("p", 1), 6).alias("median_qty"),
            F.round(F.element_at("p", 2), 6).alias("p90_qty"),
        )
    )


_AGG_PERCENTILES_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
FROM lineitem GROUP BY l_returnflag
"""


def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the manual skew breaker.

    A hot grouping key (events has only 5 event_types over 100k+ rows)
    funnels everything for that key through one reducer.  Salting
    splits each key 16 ways for the first (heavy) aggregate, then a
    cheap 16-rows-per-key second stage merges.  AQE's skew handling
    covers joins; for aggregations this composition is still the tool.
    Result is identical to the direct groupBy (the oracle proves it):
    counts and decimal sums re-aggregate losslessly."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("n_part"),
        F.sum(F.col("value").cast(DEC)).alias("sum_part"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("n_part").alias("n_events"),
        F.sum("sum_part").cast("double").alias("sum_value"),
    )


_AGG_SKEW_ORACLE = f"""
SELECT event_type, count(*) AS n_events, {osum('value', 'sum_value')}
FROM events GROUP BY event_type
"""


def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable quantile sketch) — the 100 TB
    quantile path.  Sketch internals are engine-specific, so the raw
    estimates can't hash-match DuckDB; the query emits the EXACT
    interpolated percentiles (hash-gated, agg_percentiles precedent)
    plus ``est_within_tol`` — both estimates within 5 % relative error
    of exact, evaluated in-engine and pinned TRUE by the oracle.  The
    exact companion is the certification harness; a production run at
    scale keeps only the sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("p")
    e = F.col("e")
    within = (
        (F.abs(F.element_at(p, 1) - F.element_at(e, 1)) / F.element_at(e, 1) <= 0.05)
        & (F.abs(F.element_at(p, 2) - F.element_at(e, 2)) / F.element_at(e, 2) <= 0.05)
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_extendedprice, array(0.5D, 0.99D), 1000)").alias("p"),
            F.expr("percentile(l_extendedprice, array(0.5D, 0.99D))").alias("e"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at(e, 1), 6).alias("exact_median_price"),
            F.round(F.element_at(e, 2), 6).alias("exact_p99_price"),
            within.alias("est_within_tol"),
        )
    )


_APPROX_QUANTILE_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median_price,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS exact_p99_price,
       TRUE AS est_within_tol
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------

def join_dim_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region with explicit broadcast hints.

    Scale: nation/region are bounded dimensions (25/5 rows at ANY
    scale factor) — broadcasting them turns two shuffles into zero;
    the only exchange left is the final 5-group aggregate."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "sum_acctbal"))
    )


_JOIN_DIM_ORACLE = f"""
SELECT r_name, count(*) AS n_customers, {osum('c_acctbal', 'sum_acctbal')}
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders — the big-big join.

    Scale: both sides shuffle on the orderkey; AQE handles skew by
    splitting oversized partitions.  At 100 TB you would bucket both
    tables by orderkey at write time and this becomes a zero-shuffle
    sort-merge join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rev = money("l_extendedprice") * ratio_complement("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum_expr(rev, "revenue"))
    )


_JOIN_FACT_ORACLE = f"""
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one finished order (left semi —
    no row multiplication, build side reduced to distinct keys)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_JOIN_SEMI_ORACLE = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders in 1995 (left anti — scoped to a date
    window so the result is non-empty at every test scale; at sf0.01
    literally every customer has *some* order)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_JOIN_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1995-01-01'
                  AND o_orderdate < TIMESTAMP '1996-01-01')
"""


def join_outer_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: order-count distribution including zero-order
    customers (left outer + two-level aggregate)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_JOIN_OUTER_ORACLE = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts —
    exercises null production on both sides."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


_JOIN_FULL_ORACLE = """
SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
ON c_nationkey = s_nationkey
"""


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (theta) join: lineitems whose quantity falls within
    ±5 of their part's size.  Scale: the equi key carries the shuffle;
    the range predicate evaluates post-match (never a cross join)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (li.l_partkey == p.p_partkey)
        & (li.l_quantity >= p.p_size - 5)
        & (li.l_quantity <= p.p_size + 5)
    )
    return (
        li.join(p, cond)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_in_range"))
    )


_JOIN_RANGE_ORACLE = """
SELECT p_brand, count(*) AS n_in_range
FROM lineitem JOIN part
  ON l_partkey = p_partkey AND l_quantity >= p_size - 5 AND l_quantity <= p_size + 5
GROUP BY p_brand
"""


#: bin width for the binned interval join, in microseconds (equal to
#: the interval length, so each interval covers at most 2 bins)
INTERVAL_BIN_US = 2 * 3600 * 1_000_000


def join_interval_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure interval join with NO equi key — point-in-interval matching
    of every event against "incident windows" (2-hour spans anchored
    at every 2000th event) — via TIME BINNING: both sides map to
    fixed-width time bins (an interval explodes to the ≤2 bins it
    covers, a point to exactly one), the join runs as an ordinary
    hash equi-join on the bin, and the exact [start, end) predicate
    filters post-match.  Without this rewrite Spark plans a
    broadcast-nested-loop join (asserted away in the plan test) —
    O(events × intervals), the classic 100 TB interval-join trap;
    binned, the cost is one keyed shuffle and each probe row meets
    only its own bin's intervals."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("unix_micros(ts)").alias("tu")
    )
    anchors = ev.where(F.col("event_id") % 2000 == 0).select(
        F.col("event_id").alias("incident_id"),
        F.col("tu").alias("start_us"),
        (F.col("tu") + F.lit(INTERVAL_BIN_US)).alias("end_us"),
    )
    cov = anchors.select(
        "incident_id",
        "start_us",
        "end_us",
        F.explode(
            F.sequence(
                F.expr(f"start_us div {INTERVAL_BIN_US}"),
                F.expr(f"end_us div {INTERVAL_BIN_US}"),
            )
        ).alias("bin"),
    )
    probe = ev.select("event_id", "tu", F.expr(f"tu div {INTERVAL_BIN_US}").alias("bin"))
    return (
        probe.join(cov, "bin")
        .where((F.col("tu") >= F.col("start_us")) & (F.col("tu") < F.col("end_us")))
        .groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
        )
    )


_INTERVAL_BINS_ORACLE = f"""
WITH anchors AS (
  SELECT event_id AS incident_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + {INTERVAL_BIN_US} AS end_us
  FROM events WHERE event_id % 2000 = 0
)
SELECT incident_id, count(*) AS n_events, min(e.event_id) AS first_event
FROM anchors a JOIN events e
  ON epoch_us(e.ts) >= a.start_us AND epoch_us(e.ts) < a.end_us
GROUP BY incident_id
"""


#: synthetic session length for the concurrency sweep, microseconds
CONCURRENCY_SESSION_US = 30 * 60 * 1_000_000


def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY per event type via the SWEEP-LINE transform:
    each event opens a half-open 30-minute session ``[ts, ts+30m)``;
    explode every session into a +1 boundary at start and a −1 at end,
    sort boundaries in time within the type, running-sum the deltas,
    and the max of the running sum is the peak number of simultaneously
    open sessions.  The boundary trick turns an interval-overlap
    question (quadratic if asked pairwise) into one keyed window scan —
    the same shape capacity planning and rate-limit sizing use.

    Determinism: ties order (time, delta, event_id) with −1 before +1,
    so back-to-back sessions at the same instant don't overlap (the
    half-open contract), identically on both engines.  Scale: one
    explode (2× rows), one keyed window sort, one agg."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.expr("unix_micros(ts)").alias("tu")
    )
    bounds = ev.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(F.col("tu").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("tu") + F.lit(CONCURRENCY_SESSION_US)).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("b"),
    ).select("event_type", "event_id", F.col("b.t").alias("t"), F.col("b.delta").alias("delta"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = bounds.select(
        "event_type", F.sum("delta").over(w).alias("open_now")
    )
    return running.groupBy("event_type").agg(
        F.max("open_now").cast("int").alias("peak_concurrency")
    )


_CONCURRENCY_ORACLE = f"""
WITH bounds AS (
  SELECT event_type, event_id, epoch_us(ts) AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, event_id, epoch_us(ts) + {CONCURRENCY_SESSION_US} AS t, -1 AS delta
  FROM events
),
running AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta, event_id
                          ROWS UNBOUNDED PRECEDING) AS open_now
  FROM bounds
)
SELECT event_type, CAST(max(open_now) AS INTEGER) AS peak_concurrency
FROM running GROUP BY event_type
"""


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for a skewed build key: events.event_type has only
    5 distinct values over the whole fact table, so a plain shuffle
    join funnels each type through one reducer.  Salting the fact side
    (pmod of a unique id) and EXPLODING the small side once per salt
    spreads every hot key over 8 reducers.  AQE's skew-join splitting
    covers sort-merge joins; this manual composition is the portable
    form (and the oracle proves it changes nothing)."""
    ev = load_table(spark, sf_dir, "events")
    # the "dimension": per-type weight derived on the fly (stand-in for
    # a real lookup table keyed by a hot key)
    weights = (
        ev.groupBy("event_type").agg(F.min("event_id").alias("first_seen"))
    )
    n_salt = 8
    fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(n_salt)).cast("int"))
    dim = weights.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return (
        fact.join(dim, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("first_seen").alias("first_seen"),
        )
    )


_JOIN_SKEW_ORACLE = """
SELECT e.event_type, count(*) AS n_events, min(w.first_seen) AS first_seen
FROM events e
JOIN (SELECT event_type, min(event_id) AS first_seen FROM events GROUP BY 1) w
  ON e.event_type = w.event_type
GROUP BY e.event_type
"""


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the most recent error event
    of the same user at-or-before it.

    Spark has no native as-of join; the scalable composition is the
    union-and-carry-forward pattern: tag both streams, union, and a
    single window (partition by user, order by time) carries the last
    error timestamp forward with ``last(ignorenulls)``.  One shuffle on
    user_id, no row multiplication — unlike the naive
    join-then-filter-then-max which explodes pairs.  DuckDB's native
    ASOF JOIN is the oracle.  At equal timestamps the error sorts first
    (kind=0) to match ASOF's >= semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind"), F.lit(None).cast("timestamp").alias("err_ts")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", F.lit(0).alias("kind"), F.col("ts").alias("err_ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(errors)
        .withColumn("last_err_ts", F.last("err_ts", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
            F.date_format("last_err_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_error_ts"),
        )
    )


_JOIN_ASOF_ORACLE = """
SELECT p.event_id AS event_id, p.user_id AS user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_error_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts >= e.ts
"""


#: as-of tolerance: matches staler than this are rejected (the pandas
#: ``merge_asof(tolerance=...)`` / kdb window-join bound).
ASOF_TOLERANCE_US = 2 * 3_600 * 1_000_000


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH a staleness bound — pandas
    ``merge_asof(tolerance=2h)`` semantics: each purchase matches the
    same user's most recent error at-or-before it ONLY if that error
    is within 2 hours; staler carries are rejected to NULL.  The
    bound is what production enrichment actually wants (a price/state
    older than the tolerance is wrong to join, not merely old).

    Same scalable carry as :func:`join_asof` — one (user, time) sort,
    ``last(ignorenulls)``, zero row multiplication — plus a narrow
    post-predicate; the tolerance costs nothing.  The oracle applies
    the same bound to DuckDB's native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp").alias("err_ts"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", F.lit(0).alias("kind"),
        F.col("ts").alias("err_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        purchases.unionByName(errors)
        .withColumn("last_err_ts", F.last("err_ts", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
    )
    stale_us = F.unix_micros("ts") - F.unix_micros("last_err_ts")
    in_tol = F.col("last_err_ts").isNotNull() & (stale_us <= ASOF_TOLERANCE_US)
    return carried.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.when(in_tol, F.date_format("last_err_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .alias("matched_error_ts"),
        F.when(in_tol, (stale_us / F.lit(1_000_000)).cast("long")).alias("staleness_s"),
    )


_JOIN_ASOF_TOLERANCE_ORACLE = f"""
SELECT p.event_id AS event_id, p.user_id AS user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       CASE WHEN e.ts IS NOT NULL
             AND epoch_us(p.ts) - epoch_us(e.ts) <= {ASOF_TOLERANCE_US}
            THEN strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') END AS matched_error_ts,
       CASE WHEN e.ts IS NOT NULL
             AND epoch_us(p.ts) - epoch_us(e.ts) <= {ASOF_TOLERANCE_US}
            THEN (epoch_us(p.ts) - epoch_us(e.ts)) // 1000000 END AS staleness_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts >= e.ts
"""


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-in-time as-of join (bidirectional): for each purchase,
    the same user's error closest in time in EITHER direction, ties to
    the earlier side.  The scalable composition extends
    :func:`join_asof`'s carry pattern: one backward pass carries the
    last error at-or-before (``last ignorenulls``), one forward pass
    carries the first error after (``first ignorenulls`` over the
    mirrored frame), and a 3-way CASE picks the closer candidate —
    two window passes over ONE (user_id, time) sort, zero row
    multiplication, where the naive join-and-argmin explodes
    |purchases|×|errors| per user.  The oracle IS that naive argmin,
    which is exactly the point.

    Skew: a hot user's rows share one window task, and both carries
    are linear per partition, so that task costs one sort of the hot
    key.  On the 100× 90%-one-user stress fixture (4 cores) this
    single-sort carry took 0.8-1.0 s where the time-chunked
    alternative (docs/SCALE.md) took 3.0-5.0 s."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp").alias("err_ts"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", F.lit(0).alias("kind"), F.col("ts").alias("err_ts")
    )
    order = [F.col("ts").asc(), F.col("kind").asc(), F.col("event_id").asc()]
    wb = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward carry as a DESCENDING running frame (reversed order,
    # unboundedPreceding→currentRow, last ignorenulls) — identical rows
    # to first(ignorenulls) over (currentRow, unboundedFollowing), but
    # incremental O(n) per partition where the forward frame rescans
    # O(run-length) per row on sparse err_ts (158 s for 108k rows in
    # one task was that scan product, not the sort).  Costs one extra
    # sort of the same exchange.
    order_desc = [
        F.col("ts").desc(), F.col("kind").desc(), F.col("event_id").desc()
    ]
    wf = (
        Window.partitionBy("user_id").orderBy(*order_desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        purchases.unionByName(errors)
        .withColumn("back_ts", F.last("err_ts", ignorenulls=True).over(wb))
        .withColumn("fwd_ts", F.last("err_ts", ignorenulls=True).over(wf))
    )
    tu = F.expr("unix_micros(ts)")
    back, fwd = F.col("back_ts"), F.col("fwd_ts")
    nearest = (
        F.when(back.isNull(), fwd)
        .when(fwd.isNull(), back)
        .when(tu - F.expr("unix_micros(back_ts)") <= F.expr("unix_micros(fwd_ts)") - tu, back)
        .otherwise(fwd)
    )
    return (
        carried
        .where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
            F.date_format(nearest, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("nearest_error_ts"),
        )
    )


_JOIN_ASOF_NEAREST_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
e AS (SELECT * FROM events WHERE event_type = 'error'),
j AS (
  SELECT p.event_id, p.user_id, p.ts AS pts, e.ts AS ets,
         row_number() OVER (PARTITION BY p.event_id
           ORDER BY abs(epoch_us(p.ts) - epoch_us(e.ts)), e.ts, e.event_id) AS rn
  FROM p LEFT JOIN e ON p.user_id = e.user_id
)
SELECT event_id, user_id,
       strftime(pts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(ets, '%Y-%m-%d %H:%M:%S.%f') AS nearest_error_ts
FROM j WHERE rn = 1
"""


# --------------------------------------------------------------------------
# windows / sorts / top-k
# --------------------------------------------------------------------------

def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per market segment (window +
    row_number, deterministic tie-break on key).

    Scale: one shuffle on the group key; rank prunes before any
    downstream join — never collect-and-sort on the driver."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("c_mktsegment", "rank", "c_custkey", "c_acctbal")
    )


_TOPK_ORACLE = """
SELECT c_mktsegment, rank, c_custkey, c_acctbal FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
) WHERE rank <= 3
"""


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: running spend (exact decimal
    accumulation), previous/next order price, sequence number."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(wsum).cast("double").alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.row_number().over(w).alias("order_seq"),
    )


_WINDOW_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
"""


def window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order's share of its customer's total spend (partition
    aggregate window, exact decimal denominator)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    total = F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice") / total).alias("spend_share"),
    )


_WINDOW_SHARE_ORACLE = """
SELECT o_custkey, o_orderkey,
       o_totalprice / CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey) AS DOUBLE)
         AS spend_share
FROM orders
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: each order's trailing-30-day spend for the
    same customer (rangeBetween over epoch days — value-based frames,
    not row counts)."""
    o = load_table(spark, sf_dir, "orders")
    o = o.withColumn("day", F.datediff("o_orderdate", F.lit("1970-01-01")))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("day").alias("order_day"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("trailing_30d_spend"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


_WINDOW_RANGE_ORACLE = """
SELECT o_custkey, o_orderkey,
       datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS order_day,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey
                  ORDER BY datediff('day', TIMESTAMP '1970-01-01', o_orderdate)
                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d_spend,
       count(*) OVER (PARTITION BY o_custkey
                      ORDER BY datediff('day', TIMESTAMP '1970-01-01', o_orderdate)
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS trailing_30d_orders
FROM orders
"""


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window battery: first/last/nth value, ntile quartiles,
    percent_rank, cume_dist — per customer over order history."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(wfull).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


_WINDOW_ANALYTICS_ORACLE = """
SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER full_w AS first_price,
       last_value(o_totalprice) OVER full_w AS last_price,
       nth_value(o_totalprice, 2) OVER full_w AS second_price,
       ntile(4) OVER ord_w AS quartile,
       percent_rank() OVER ord_w AS pct_rank,
       cume_dist() OVER ord_w AS cume
FROM orders
WINDOW ord_w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       full_w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column functions: build a per-user map of
    event_type→count (map_from_entries over a keyed aggregate), then
    extract keys.  Output is scalar columns so the value hash is
    engine-portable (map column orderings are not)."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return maps.select(
        "user_id",
        F.coalesce(F.element_at("m", "purchase"), F.lit(0)).alias("n_purchase"),
        F.coalesce(F.element_at("m", "error"), F.lit(0)).alias("n_error"),
        F.size("m").alias("n_types"),
    )


_SCALAR_MAP_ORACLE = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'error') AS n_error,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""


def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by price — TakeOrderedAndProject, not a full sort:
    each partition keeps 10 rows, the driver merges P×10."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


_SORT_LIMIT_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------

def _ordering_custkeys(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(F.col("o_custkey").alias("custkey")).distinct()


def _building_custkeys(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )


def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ordering_custkeys(spark, sf_dir).union(_building_custkeys(spark, sf_dir)).distinct()


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ordering_custkeys(spark, sf_dir).intersect(_building_custkeys(spark, sf_dir))


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILDING customers minus customers with 1995 orders (scoped so
    the difference is non-empty at test scales)."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    ordering95 = o.select(F.col("o_custkey").alias("custkey")).distinct()
    return _building_custkeys(spark, sf_dir).exceptAll(ordering95)


_SETOP_UNION_ORACLE = """
SELECT DISTINCT o_custkey AS custkey FROM orders
UNION
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""

_SETOP_INTERSECT_ORACLE = """
SELECT DISTINCT o_custkey AS custkey FROM orders
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""

_SETOP_EXCEPT_ORACLE = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT ALL
SELECT DISTINCT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
"""


# --------------------------------------------------------------------------
# scalar function coverage
# --------------------------------------------------------------------------

def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mon"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_price"))
    )


_SCALAR_DATE_ORACLE = f"""
SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr, month(o_orderdate) AS mon,
       count(*) AS n_orders, {osum('o_totalprice', 'sum_price')}
FROM orders GROUP BY 1, 2, 3
"""


def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.where(F.col("p_type") == "PROMO").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
    )


_SCALAR_STRING_ORACLE = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substring(p_name, 1, 5) AS name_prefix,
       length(p_name) AS name_len,
       concat_ws('/', p_brand, p_type) AS brand_type,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key
FROM part WHERE p_type = 'PROMO'
"""


def scalar_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe ``try_*`` arithmetic (Spark 4 runs ANSI mode by
    default, where /0 and overflow RAISE): ``try_divide`` /
    ``try_multiply`` / ``try_add`` / ``try_element_at`` return NULL on
    the failing rows instead of killing the job — the spelling a
    pipeline uses when a poison row must not abort a 100 TB pass.
    Each expression is arranged so BOTH outcomes occur on fixture
    data (mod-keyed zero divisors, int64-max overflows, out-of-range
    indices); the oracle reproduces the NULL pattern with explicit
    CASE guards.

    MEASURED COST MODEL (this host, 150k rows): the overflow forms
    (``try_multiply``/``try_add`` → ``Math.*Exact``) pay a thrown JVM
    exception per FAILING row — ~13 µs each vs ~ns for succeeding
    rows (0.16 s baseline; 0.94 s with 2/3 rows overflowing tm,
    1.34 s with 1/2 overflowing ta).  try_* is therefore the right
    spelling for SPARSE poison rows; when failure is dense and the
    predicate is cheap, CASE-guard first and keep try_* as the
    backstop.  The mod-499 keys below put failure density at its
    intended regime (~1.6% tm, ~0.2% ta) while both outcomes still
    occur at every fixture sf (orders ≥ 1500 rows covers all
    residues).  NULL-returning forms without an exception path
    (try_divide, try_element_at) are density-insensitive.

    Scale: narrow map, no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    i64max = 9223372036854775807
    m_tm = i64max // 490  # m_tm * m overflows iff m >= 491 (of mod 499)
    a_ta = i64max - 497  # a_ta + m overflows iff m = 498 (of mod 499)
    return o.select(
        "o_orderkey",
        F.expr("try_divide(o_totalprice, o_orderkey % 3)").alias("td"),
        F.expr(f"try_multiply({m_tm}L, o_orderkey % 499)").alias("tm"),
        F.expr(f"try_add({a_ta}L, o_orderkey % 499)").alias("ta"),
        # index 1..5: 4 and 5 are out of bounds -> NULL (index 0 is
        # invalid under try_element_at too, so the key is 1-shifted)
        F.expr(
            "try_element_at(array(10L, 20L, 30L), cast(1 + o_orderkey % 5 as int))"
        ).alias("te"),
    )


_TRY_ARITH_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE o_totalprice / (o_orderkey % 3) END AS td,
       -- inner CASEs keep any eager branch evaluation overflow-free:
       -- DuckDB BIGINT overflow RAISES, it does not wrap
       CASE WHEN o_orderkey % 499 >= 491 THEN NULL
            ELSE 18823208238479134 *
                 (CASE WHEN o_orderkey % 499 >= 491 THEN 0
                       ELSE o_orderkey % 499 END) END AS tm,
       CASE WHEN o_orderkey % 499 = 498 THEN NULL
            ELSE 9223372036854775310 +
                 (CASE WHEN o_orderkey % 499 = 498 THEN 0
                       ELSE o_orderkey % 499 END) END AS ta,
       CASE WHEN 1 + o_orderkey % 5 BETWEEN 1 AND 3 THEN (1 + o_orderkey % 5) * 10
            ELSE NULL END AS te
FROM orders
"""


def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # sqrt is IEEE-754 correctly rounded → bit-identical across engines;
        # ln is libm-dependent (JVM vs glibc last-ulp), so round to 9 dp.
        F.sqrt("l_quantity").alias("sqrt_qty"),
        F.round(F.log(F.col("l_extendedprice")), 9).alias("ln_price"),
        ((F.col("l_discount") + 1.0) * (F.col("l_discount") + 1.0)).alias("disc_sq"),
        F.abs(F.col("l_quantity") - 25).alias("abs_dev"),
        F.floor("l_extendedprice").alias("floor_price"),
        F.ceil("l_extendedprice").alias("ceil_price"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
    )


_SCALAR_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       sqrt(l_quantity) AS sqrt_qty,
       round(ln(l_extendedprice), 9) AS ln_price,
       (l_discount + 1.0) * (l_discount + 1.0) AS disc_sq,
       abs(l_quantity - 25) AS abs_dev,
       CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
       l_orderkey % 7 AS key_mod7
FROM lineitem WHERE l_orderkey < 100
"""


def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from events.props (string column holding
    ``{"k": N}``) — JVM-side get_json_object, no UDF."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
    )


_SCALAR_JSON_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over embeddings (size, element access, slice
    sum computed element-wise — all JVM-side)."""
    e = load_table(spark, sf_dir, "embeddings")
    head_sum = sum(F.element_at("embedding", i + 1).cast("double") for i in range(4))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        head_sum.alias("head4_sum"),
        "label",
    )


_SCALAR_ARRAY_ORACLE = """
SELECT vec_id, len(embedding) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_val,
       CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
         + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE) AS head4_sum,
       label
FROM embeddings
"""


def scalar_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: filter / exists / forall /
    ordered transform-fold — all lambda expressions evaluated JVM-side
    (interpreted per element, but no Python round-trip)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.expr("size(filter(embedding, x -> x > 0.2))").alias("n_large"),
        F.expr("exists(embedding, x -> x > 0.45)").alias("has_spike"),
        F.expr("forall(embedding, x -> abs(x) < 1.0)").alias("bounded"),
        # ordered fold of |x| (same left-to-right order as list_sum)
        F.expr(
            "aggregate(embedding, 0D, (acc, x) -> acc + abs(CAST(x AS DOUBLE)))"
        ).alias("l1_norm"),
    )


_SCALAR_ARRAY_HOF_ORACLE = """
SELECT vec_id,
       len(list_filter(embedding, x -> x > 0.2)) AS n_large,
       len(list_filter(embedding, x -> x > 0.45)) > 0 AS has_spike,
       len(list_filter(embedding, x -> NOT (abs(x) < 1.0))) = 0 AS bounded,
       list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS l1_norm
FROM embeddings
"""


def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based deterministic sampling — the scale-safe alternative
    to ``df.sample`` (whose output depends on partitioning/seed and can
    never hash-match another engine).  md5-derived bucket keeps ~10%."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")
    return d.where(md5_long(F.col("doc_id")) % 10 == 0).select("doc_id", "lang", "source")


_SAMPLE_ORACLE = """
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
"""


# --------------------------------------------------------------------------
# event-time windows (batch form; streaming variants in streaming/)
# --------------------------------------------------------------------------

def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window counts per event type."""
    return W.tumbling_counts(load_table(spark, sf_dir, "events"))


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5."""
    return W.sliding_counts(load_table(spark, sf_dir, "events"))


def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user, batch mode.

    Spark's session_window handles merge logic natively; the DuckDB
    oracle derives the same sessions via gaps-and-islands (lag +
    cumulative sum)."""
    return W.session_counts(load_table(spark, sf_dir, "events"))


def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-ROW gap (Spark's dynamic
    ``session_window`` gap expression): conversion-type events
    (purchase, signup) time out after 10 minutes, browsing events
    after 30 — the "intent decays faster than browsing" sessionization
    product analytics actually wants, and a feature most engines lack.

    Semantics under variable gaps are interval-UNION, not
    consecutive-delta: a session's end is the MAX of ``ts + gap`` over
    its members, so the oracle's gaps-and-islands flag needs a running
    max of interval ends (with constant gaps it degenerates to the
    classic ``lag`` spelling in :func:`events_session`).

    Scale: one keyed shuffle on user_id, state bounded per session —
    identical cost profile to the fixed-gap form."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type").isin("purchase", "signup"), F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
        )
    )


_SESSION_DYNAMIC_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN 600000000 ELSE 1800000000 END AS gap_us
  FROM events
),
r AS (
  SELECT user_id, ts, event_id,
         max(epoch_us(ts) + gap_us) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM g
),
f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_end IS NULL OR epoch_us(ts) >= prev_end
              THEN 1 ELSE 0 END AS new_s
  FROM r
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM f
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Pure-SQL API: spark.sql() over registered views, where ONE ANSI string
# is simultaneously the Spark query and the DuckDB oracle — the
# strongest possible statement of engine compatibility (the reference
# had no SQL surface at all; this is the generalized replacement).
# Dialect care: decimal-first money math (exact on both engines), DATE
# casts for output, deterministic tie-breaks, no engine-specific fns.
# ---------------------------------------------------------------------------

_Q3_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

_Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal,
       n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

_Q8_SQL = """
SELECT o_year,
       CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
       / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(14,2))
         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey
    AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA'
    AND s_nationkey = n2.n_nationkey
    AND p_type = 'STANDARD'
) all_nations
GROUP BY o_year
HAVING sum(volume) > 0
ORDER BY o_year
"""

_Q14_SQL = """
SELECT CAST(100.0 AS DOUBLE)
       * CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(14,2))
                            * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                       ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
       AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
"""

_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         CAST(l_extendedprice AS DECIMAL(14,2))
         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey
    AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1999-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice AS DECIMAL(14,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

_Q17_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / 7.0
            AS DOUBLE) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#7'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""

_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       CAST(o_totalprice AS DOUBLE) AS totalprice,
       CAST(sum(l_quantity) AS DOUBLE) AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
  AND c_custkey = o_custkey
  AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY totalprice DESC, o_orderkey
LIMIT 20
"""

_EXISTS_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
"""

_SCALAR_SUBQ_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
"""

#: TPC-H Q22 (global sales opportunity), fixture-adapted twice: the
#: fixture customer has no c_phone, so the country-code grouping
#: becomes the nation dimension; and because every fixture customer
#: has lifetime orders, "never ordered" becomes "no order since
#: 2001-01-01" (dormant through the fixture's final seven months,
#: ~19 % of customers) — the anti-join is date-filtered, not vacuous.
#: Otherwise the exact Q22 shape: above-average positive-balance
#: customers with no (recent) orders — uncorrelated scalar AVG
#: subquery + NOT EXISTS anti-join.  The average threshold is applied
#: WITHOUT a lossy division: c_acctbal * count > sum, exact decimal on
#: both engines, so no row can flip on an avg() ulp.  Catalyst plans
#: the two customer-side subqueries as scalar broadcasts, the NOT
#: EXISTS as a left-anti shuffle keyed on custkey (the date predicate
#: pushed to the orders scan), and nation broadcasts — the anti-join
#: is the only fact-scale exchange.
_Q22_SQL = """
SELECT n_name,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer, nation
WHERE c_nationkey = n_nationkey
  AND CAST(c_acctbal AS DECIMAL(12,2))
      * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
      > (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer
         WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY n_name
ORDER BY n_name
"""


#: Dataset card / release datasheet: per-source, per-language, and
#: corpus-level stats in ONE scan via GROUPING SETS — the datasheet
#: table a training-data release publishes.  Token counts use the
#: engine-portable space-count arithmetic (the fixture is
#: single-spaced) so one ANSI string serves both engines; GROUPING()
#: disambiguates the scopes.
_DATASET_CARD_SQL = """
SELECT CASE WHEN GROUPING(source) = 0 THEN 'source'
            WHEN GROUPING(lang) = 0 THEN 'lang'
            ELSE 'corpus' END AS scope,
       coalesce(source, lang, '*') AS key,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
         AS total_tokens,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY GROUPING SETS ((source), (lang), ())
"""


#: Named WINDOW clause — one window definition shared by three window
#: functions (running sum, sequence number, lag), the SQL surface that
#: guarantees they plan onto ONE sort+exchange instead of three
#: accidentally-divergent specs.  No explicit frame: lag forbids one,
#: and the running sum's default RANGE frame is deterministic here
#: because the month key is unique per partition.
_WINDOW_NAMED_SQL = """
WITH monthly AS (
  SELECT l_returnflag AS flag,
         year(l_shipdate) * 12 + month(l_shipdate) AS m,
         sum(CAST(l_extendedprice AS DECIMAL(14,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem GROUP BY 1, 2
)
SELECT flag, m,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(sum(rev) OVER w AS DOUBLE) AS running_revenue,
       row_number() OVER w AS month_seq,
       CAST(lag(rev) OVER w AS DOUBLE) AS prev_revenue
FROM monthly
WINDOW w AS (PARTITION BY flag ORDER BY m)
"""


def _sql_query(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.tables import register_temp_views

        register_temp_views(spark, sf_dir)
        return spark.sql(sql)

    return run


#: TPC-H Q3 (shipping priority, o_orderpriority standing in for the
#: fixture's missing o_shippriority): 3-way join + decimal revenue +
#: top-10.  Catalyst broadcast-joins the filtered customer side and
#: TakeOrdereds the limit.
sql_q3_shipping_priority = _sql_query(_Q3_SQL)

#: TPC-H Q5 (local supplier volume): the classic 6-way star join —
#: two fact tables against four dimensions with the c_nationkey =
#: s_nationkey "local" constraint.  Catalyst's join reordering +
#: broadcast selection is the whole point: region/nation prune first,
#: the dims broadcast, and only the orders⋈lineitem exchange shuffles.
#: Exact-decimal revenue; deterministic (revenue DESC, n_name) order.
sql_q5_local_supplier_volume = _sql_query(_Q5_SQL)

#: TPC-H Q10 (returned-item reporting): selective fact filter
#: (l_returnflag='R' + one order quarter) joined back to customer and
#: nation, top-20 lost-revenue customers.  The returnflag predicate
#: pushes to the lineitem scan; nation broadcasts; TakeOrdered caps
#: the output.  Quarter starts 1996 (fixture orders begin 1995).
sql_q10_returned_items = _sql_query(_Q10_SQL)

#: TPC-H Q8 (national market share), fixture-adapted literals
#: (nations are NATION_0..24; p_type is a plain category): the 8-way
#: join with nation joined TWICE under different roles (customer's
#: region vs supplier's nation) — the aliasing stress test — feeding a
#: conditional-share aggregate.  Exact decimal volume sums; the single
#: double division is the only float op, identical on both engines.
#: Catalyst broadcast-chains all six dimension sides; only the
#: lineitem⋈orders exchange shuffles.
sql_q8_market_share = _sql_query(_Q8_SQL)

#: TPC-H Q14 (promotion effect), fixture-adapted (p_type = 'PROMO',
#: full-year ship window): selective scan-filtered fact⋈dim join into
#: a conditional revenue share — one global aggregate row, decimal
#: sums, one double division.
sql_q14_promo_effect = _sql_query(_Q14_SQL)

#: TPC-H Q7 (volume shipping): bidirectional two-nation trade by ship
#: year — nation aliased twice like Q8, with the OR'd nation-pair
#: predicate Catalyst must keep above the joins.  Exact decimal
#: volumes; l_quantity-free so wholly decimal-stable.
sql_q7_volume_shipping = _sql_query(_Q7_SQL)

#: see _DATASET_CARD_SQL
sql_dataset_card = _sql_query(_DATASET_CARD_SQL)

#: TPC-H Q15 (top supplier): CTE revenue view + scalar max subquery —
#: the classic "argmax via self-referencing aggregate" SQL shape.
#: The max comparison runs on EXACT decimals, so the winning
#: supplier(s) are bit-deterministic on both engines.
sql_q15_top_supplier = _sql_query(_Q15_SQL)

#: TPC-H Q17 (small-quantity-order revenue), container predicate
#: dropped (fixture has no p_container): correlated scalar AVG
#: subquery per part — Catalyst decorrelates to an aggregate+join.
#: quantities are integer-valued doubles, so avg = exact-sum/count is
#: bit-identical and the 0.2× threshold compare agrees everywhere.
sql_q17_small_qty_orders = _sql_query(_Q17_SQL)

#: TPC-H Q18 (large-volume customers): IN over a grouped-HAVING
#: subquery (semi-join after aggregation) feeding a 3-way join +
#: top-20.  Quantity sums are exact (integer-valued doubles).
sql_q18_large_orders = _sql_query(_Q18_SQL)

#: EXISTS correlated subquery — Catalyst rewrites to a left-semi join
#: (the SQL spelling of join_semi).
sql_exists_subquery = _sql_query(_EXISTS_SQL)

#: scalar subquery threshold — a 1-row subquery broadcast into the
#: filter; max() (not avg) keeps the threshold order-insensitive and
#: therefore bit-deterministic on doubles.
sql_scalar_subquery = _sql_query(_SCALAR_SUBQ_SQL)

#: TPC-H Q22 fixture adaptation — see _Q22_SQL for the dialect and
#: exactness notes (multiplied-out average, anti-join, nation dim).
sql_q22_sleeping_customers = _sql_query(_Q22_SQL)

#: named WINDOW clause (see _WINDOW_NAMED_SQL notes).
sql_window_named = _sql_query(_WINDOW_NAMED_SQL)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → purchase: per stage,
    how many users reached it with STRICTLY later event times than the
    previous stage (min-timestamp semantics, so the result is
    deterministic).  Three keyed aggregations, each joined against the
    previous stage's survivors — the standard product-analytics shape,
    and every stage shuffles on user_id so the funnel co-partitions."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


_FUNNEL_ORACLE = """
WITH s AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
v AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t2 GROUP BY e.user_id)
SELECT (SELECT count(*) FROM s) AS n_signup,
       (SELECT count(*) FROM v) AS n_view_after,
       (SELECT count(*) FROM p) AS n_purchase_after
"""


#: windowFunnel horizon: the whole signup→view→purchase chain must
#: complete within this span of the chain's FIRST step.
FUNNEL_WINDOW_US = 24 * 3_600 * 1_000_000


def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel``-style time-boxed funnel level: per
    user, the deepest prefix of signup → view → purchase reachable
    with strictly increasing timestamps where EVERY step falls within
    {24 h} of the first step — unlike :func:`events_funnel` (whole
    corpus, no horizon) or :func:`events_cep_pattern` (strict
    adjacency), this is the time-boxed subsequence semantics product
    analytics actually bills as "conversion within a day".

    Greedy-earliest is the standard deterministic spelling: t1 = the
    user's first signup, t2 = first view after t1 within the horizon,
    t3 = first purchase after t2 within t1's horizon.  Three keyed
    min-aggregations joined on user_id — each stage shuffles only its
    event type's rows, co-partitioned on user_id.

    Caveat (same as ClickHouse's): greedy-earliest is not maximal —
    an anchor signup can miss a later signup whose window would reach
    deeper.  The funnel level counts from the FIRST anchor, which is
    the semantics dashboards expect."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.unix_micros("ts") - F.unix_micros("t1") <= FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.first("t1").alias("t1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.unix_micros("ts") - F.unix_micros("t1") <= FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s.join(v.select("user_id", "t2"), "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("funnel_level"),
            F.date_format("t1", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("step1_ts"),
            F.date_format("t2", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("step2_ts"),
            F.date_format("t3", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("step3_ts"),
        )
    )


_WINDOW_FUNNEL_ORACLE = f"""
WITH s AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s.t1
    AND epoch_us(e.ts) - epoch_us(s.t1) <= {FUNNEL_WINDOW_US}
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN v USING (user_id) JOIN s USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > v.t2
    AND epoch_us(e.ts) - epoch_us(s.t1) <= {FUNNEL_WINDOW_US}
  GROUP BY e.user_id
)
SELECT s.user_id,
       1 + CASE WHEN v.t2 IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN p.t3 IS NOT NULL THEN 1 ELSE 0 END AS funnel_level,
       strftime(s.t1, '%Y-%m-%d %H:%M:%S.%f') AS step1_ts,
       strftime(v.t2, '%Y-%m-%d %H:%M:%S.%f') AS step2_ts,
       strftime(p.t3, '%Y-%m-%d %H:%M:%S.%f') AS step3_ts
FROM s LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id)
"""


#: CEP step deadlines: click within 1 h of the view, purchase within
#: 4 h of the click.
CEP_STEP1_US = 3_600 * 1_000_000
CEP_STEP2_US = 4 * 3_600 * 1_000_000


def events_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match, MATCH_RECOGNIZE / Flink
    CEP ``next()`` semantics: find every STRICTLY CONTIGUOUS
    view → click → purchase run per user (no other event of that user
    in between — unlike :func:`events_funnel`'s any-later-event
    subsequence), with per-step deadlines on the gaps.

    Two ``lead`` offsets over one (user, time) window express strict
    contiguity declaratively — no state machine, no UDF; total order
    within a user is pinned by the (ts, event_id) sort so ties can't
    flap the match set.

    Scale: one keyed window shuffle on user_id — the same cost as any
    per-user sort; there are no joins and the match filter is a narrow
    post-window predicate.  (Flink runs the same pattern with an NFA
    over keyed state; Spark's batch form is this window, its streaming
    form would be transformWithState.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("ts", 1).over(w).alias("ts1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts", 2).over(w).alias("ts2"),
    )
    return seq.where(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
        & (F.unix_micros("ts1") - F.unix_micros("ts") <= CEP_STEP1_US)
        & (F.unix_micros("ts2") - F.unix_micros("ts1") <= CEP_STEP2_US)
    ).select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        F.date_format("ts2", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        (F.unix_micros("ts2") - F.unix_micros("ts")).alias("span_us"),
    )


_CEP_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type, ts,
         lead(event_type, 1) OVER w AS t1, lead(ts, 1) OVER w AS ts1,
         lead(event_type, 2) OVER w AS t2, lead(ts, 2) OVER w AS ts2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       strftime(ts2, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       epoch_us(ts2) - epoch_us(ts) AS span_us
FROM seq
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
  AND epoch_us(ts1) - epoch_us(ts) <= {CEP_STEP1_US}
  AND epoch_us(ts2) - epoch_us(ts1) <= {CEP_STEP2_US}
"""


#: simulated transport delay bound (0-10 min, md5-derived per event)
#: and the audit's histogram granularity / cap.
LATE_JITTER_US = 600 * 1_000_000
LATE_BUCKET_MIN_CAP = 10


def events_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit — the batch study every streaming
    deployment runs BEFORE picking ``withWatermark``'s delay: replay
    events in ARRIVAL order, track the event-time high-water mark, and
    histogram how far behind it each event arrives (lateness >
    chosen-delay ⇒ that event would be dropped).  The fixture's
    event_id order equals its time order, so arrival is simulated by a
    deterministic md5 transport delay of 0-10 min per event.

    The high-water mark is a running max over a GLOBAL total order —
    the single-task ``Window.orderBy`` trap — computed instead with
    the two-pass Blelloch decomposition
    (:func:`functions.prefix.two_pass_cummax`): per-range-partition
    running max in parallel plus an n_parts-row broadcast of earlier
    partitions' maxima.  Scale: one range exchange + one keyed
    histogram agg; no task sees more than one range partition."""
    from ..functions.prefix import two_pass_cummax
    from ..functions.text import md5_long

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ev_us"),
        (F.unix_micros("ts") + md5_long(F.col("event_id")) % LATE_JITTER_US).alias(
            "arr_us"
        ),
    )
    hwm = two_pass_cummax(
        ev, "ev_us", [F.col("arr_us"), F.col("event_id")], cum_col="hwm_us"
    )
    late_s = F.expr("(hwm_us - ev_us) div 1000000")
    return (
        hwm.select(
            F.expr(
                f"least(((hwm_us - ev_us) div 1000000) div 60, "
                f"cast({LATE_BUCKET_MIN_CAP} as bigint))"
            ).alias("late_bucket_min"),
            late_s.alias("late_s"),
        )
        .groupBy("late_bucket_min")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_s").alias("max_late_s"),
        )
    )


_LATENESS_ORACLE = f"""
WITH arr AS (
  SELECT event_id, epoch_us(ts) AS ev_us,
         epoch_us(ts) + {duck_md5_long('CAST(event_id AS VARCHAR)')} % {LATE_JITTER_US} AS arr_us
  FROM events
),
h AS (
  SELECT ev_us,
         max(ev_us) OVER (ORDER BY arr_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm_us
  FROM arr
)
SELECT CAST(least((hwm_us - ev_us) // 1000000 // 60, {LATE_BUCKET_MIN_CAP}) AS BIGINT)
         AS late_bucket_min,
       count(*) AS n_events,
       CAST(max((hwm_us - ev_us) // 1000000) AS BIGINT) AS max_late_s
FROM h
GROUP BY 1
"""


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event_type: for each series
    (ordered by ts, event_id) compute the one-sided CUSUM statistic
    against the series' own mean and report the estimated change point
    — the argmax of the statistic — plus its height.  The monitoring
    primitive behind drift alarms on training-data telemetry (ingest
    quality scores, loss curves, per-source token rates).

    The recursion s_i = max(0, s_{i-1} + (x_i - μ)) is not a window
    aggregate, but its closed form IS two prefix passes:
    s_i = c_i - min(0, min_{j≤i} c_j) with c = cumsum(x - μ).  Both
    passes run distributed — and EXACT:

    * μ is never materialized as a lossy double: the series is scaled
      by its own count, y_i = n·x_i - Σx (decimal — n·(x_i - μ)
      without the division), and the statistic is un-scaled only in
      the final per-group projection (one double division on exact
      inputs, identical in both engines);
    * per-type totals of y are EXACTLY ZERO by construction, so with
      (event_type, ts, event_id) as the global order the GLOBAL
      two-pass cumsum (:func:`functions.prefix.two_pass_cumsum`) is
      already the per-type cumsum — each type starts where the
      previous summed to 0: one range exchange, no per-type window;
    * the per-type running min rides the grouped form of
      :func:`functions.prefix.two_pass_cummax` (negated), whose
      offset table is ≤ n_parts × n_types rows — never a
      one-task-per-type window.

    Scale: two range exchanges + one broadcast-keyed 5-row join + one
    keyed final agg; no task ever holds a whole event_type.  Decimal
    headroom: y ≤ n·|x|, cumsum ≤ n²·|x| — DECIMAL(38,6) holds
    through ~10^12-row types at |x|~10^3 (reference semantics: this
    generalizes map_reduce.cpp:191-236's partial-aggregation pass to
    an order-dependent statistic)."""
    from ..functions.prefix import two_pass_cummax, two_pass_cumsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    tot = ev.groupBy("event_type").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    y = ev.join(F.broadcast(tot), "event_type").withColumn(
        "y", F.col("n") * F.col("v") - F.col("s")
    )
    order = [F.col("event_type"), F.col("ts_us"), F.col("event_id")]
    cum = two_pass_cumsum(y, "y", order, cum_col="cum").withColumn(
        "neg_cum", -F.col("cum")
    )
    runmin = two_pass_cummax(
        cum, "neg_cum", order, cum_col="neg_min", group_cols=["event_type"]
    ).withColumn(
        "cusum",
        F.col("cum") - F.least(-F.col("neg_min"), F.lit(0).cast("decimal(38,6)")),
    )
    ord_struct = F.struct(
        F.col("cusum").alias("c"),
        (-F.col("ts_us")).alias("nts"),
        (-F.col("event_id")).alias("nid"),
    )
    return (
        runmin.groupBy("event_type")
        .agg(
            F.max("n").alias("n_obs"),
            F.round(F.max("s").cast("double") / F.max("n"), 6).alias("mean_value"),
            F.max(ord_struct).alias("m"),
        )
        .select(
            "event_type",
            "n_obs",
            "mean_value",
            F.round(F.col("m.c").cast("double") / F.col("n_obs"), 6).alias(
                "max_cusum"
            ),
            (-F.col("m.nts")).alias("change_ts_us"),
            (-F.col("m.nid")).alias("change_event_id"),
        )
    )


_CHANGEPOINT_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events
),
tot AS (SELECT event_type, sum(v) AS s, count(*) AS n FROM base GROUP BY event_type),
y AS (
  SELECT b.*, t.s, t.n, t.n * b.v - t.s AS yv
  FROM base b JOIN tot t USING (event_type)
),
c AS (
  SELECT *, sum(yv) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM y
),
d AS (
  SELECT *, cum - least(min(cum) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        CAST(0 AS DECIMAL(38,6))) AS cusum
  FROM c
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY cusum DESC, ts_us ASC, event_id ASC) AS rn
  FROM d
)
SELECT event_type, n AS n_obs,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_value,
       round(CAST(cusum AS DOUBLE) / n, 6) AS max_cusum,
       ts_us AS change_ts_us,
       event_id AS change_event_id
FROM r WHERE rn = 1
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, with
    the count still active 1 and 2 weeks later.  Two aggregations plus
    a semi-join per horizon, all shuffled on user_id then re-keyed to
    the cohort week — the canonical growth-analytics rollup.

    Weeks are epoch-day div 7 (no calendar/locale dependence — Spark's
    weekofyear and DuckDB's ISO weeks disagree on year boundaries)."""
    # unix_micros, not to_unix_timestamp: the latter routes through the
    # timezone-aware formatter machinery (measured ~10 s of plan build +
    # per-row cost on this 4-scan plan); integer microseconds are exact
    # and cheap on both engines
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("(unix_micros(ts) div 1000000) div 604800").alias("week")
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.select("user_id", "week").distinct()
    base = first.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_users"))
    out = base
    for h in (1, 2):
        ret = (
            first.join(
                active,
                (first.user_id == active.user_id)
                & (active.week == first.cohort_week + h),
                "left_semi",
            )
            .groupBy("cohort_week")
            .agg(F.count(F.lit(1)).alias(f"retained_w{h}"))
        )
        out = out.join(ret, "cohort_week", "left")
    return out.select(
        "cohort_week",
        "n_users",
        F.coalesce("retained_w1", F.lit(0)).alias("retained_w1"),
        F.coalesce("retained_w2", F.lit(0)).alias("retained_w2"),
    )


_RETENTION_ORACLE = """
WITH weeks AS (
  -- integer microseconds (epoch_us // 1e6), mirroring Spark's
  -- unix_micros: no fractional-second rounding ambiguity
  SELECT user_id, (epoch_us(ts) // 1000000) // 604800 AS week FROM events
),
first AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id),
active AS (SELECT DISTINCT user_id, week FROM weeks),
base AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users FROM first GROUP BY cohort_week),
r1 AS (SELECT f.cohort_week, CAST(count(*) AS BIGINT) AS retained_w1
       FROM first f WHERE EXISTS (SELECT 1 FROM active a
             WHERE a.user_id = f.user_id AND a.week = f.cohort_week + 1)
       GROUP BY f.cohort_week),
r2 AS (SELECT f.cohort_week, CAST(count(*) AS BIGINT) AS retained_w2
       FROM first f WHERE EXISTS (SELECT 1 FROM active a
             WHERE a.user_id = f.user_id AND a.week = f.cohort_week + 2)
       GROUP BY f.cohort_week)
SELECT base.cohort_week, base.n_users,
       coalesce(r1.retained_w1, 0) AS retained_w1,
       coalesce(r2.retained_w2, 0) AS retained_w2
FROM base LEFT JOIN r1 USING (cohort_week) LEFT JOIN r2 USING (cohort_week)
"""


RESAMPLE_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour buckets


def _last_in_bucket(ev: DataFrame) -> DataFrame:
    """Pass 1 of the resample family: the last event per (user, bucket)
    by (tu, event_id) — a row_number over one keyed (user, bucket)
    sort, whose value may be NULL (the newest row wins regardless)."""
    w_last = Window.partitionBy("user_id", "bucket").orderBy(
        F.desc("tu"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select("user_id", "bucket", "value")
    )


def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: per user, a REGULAR
    6-hour grid from their first to last event, each point carrying the
    value of the last event at or before it — the gap-filling step
    before any rolling-feature computation.

    Determinism: buckets are integer epoch divisions; 'last event in
    bucket' is a row_number with (ts, event_id) tie-break; the filled
    value is PICKED (last non-null over the bucket order), never
    arithmetic — so doubles pass through untouched.  Scale: one window
    per (user, bucket), one per user — both keyed shuffles over EVENT
    rows only; the grid explodes from per-gap bounds AFTER the carry
    window (round 16 — see the inline note), so grid volume never
    rides a sort or join."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.expr("unix_micros(ts)").alias("tu"),
        F.expr(f"unix_micros(ts) div {RESAMPLE_BUCKET_US}").alias("bucket"),
    )
    last_in = _last_in_bucket(ev)
    # Round 16 (guide §2.4/§1.2 "the distributed algorithm"): the
    # retired spelling exploded the per-user grid FIRST and then ran
    # the carry window over every grid row — at the 100× stress
    # fixture that is a 36M-row join plus a 36M-row window sort for
    # 300k event rows (sparse users × multi-year spans), measured
    # 15.4 s.  The carried value is constant between consecutive
    # event buckets, so compute it per EVENT-BUCKET row (the same
    # running window, ≤ |events| rows) and explode each row's
    # (bucket, next_bucket) gap afterwards — a narrow map.  Output
    # rows are identical: every grid bucket in [min, max] is either
    # an event bucket or interior to exactly one gap, and its carried
    # value is the gap row's pv (no event buckets intervene by
    # construction).
    w_ff = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("user_id").orderBy("bucket")
    en = last_in.select(
        "user_id",
        "bucket",
        F.last("value", ignorenulls=True).over(w_ff).alias("pv"),
        F.lead("bucket").over(w_lead).alias("nxt"),
    )
    # one explode emits the event bucket AND its gap: [bucket, nxt-1]
    # (just [bucket] for the last row) — every grid point in between
    # carries the same pv, and a single branch keeps the plan at the
    # same two exchanges as the retired grid-join spelling.
    return en.select(
        "user_id",
        F.col("pv").alias("value_ff"),
        F.explode(
            F.expr("sequence(bucket, coalesce(nxt - 1, bucket))")
        ).alias("bucket"),
    ).select("user_id", "bucket", "value_ff")


def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling with LINEAR INTERPOLATION — the arithmetic sibling of
    :func:`events_resample_ffill`: empty 6-hour grid buckets get
    ``prev + (next − prev) · frac`` between the neighboring known
    points instead of a carried copy.  Four carried columns (previous/
    next known value and bucket, via ignorenulls last/first over the
    same per-user bucket order) feed ONE fixed-shape IEEE expression,
    which both engines evaluate with per-op correct rounding in the
    same operand order — so even this floating-point query hash-matches
    exactly.  Grid endpoints always hold events (the grid spans min..max
    event bucket), so every empty bucket is interior and the formula is
    total.  Scale: identical to the ffill variant — the carry windows
    run over event-bucket rows only and the grid explodes from per-gap
    bounds afterwards (round 16, see the inline note); no grid-sized
    join or sort anywhere."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.expr("unix_micros(ts)").alias("tu"),
        F.expr(f"unix_micros(ts) div {RESAMPLE_BUCKET_US}").alias("bucket"),
    )
    last_in = _last_in_bucket(ev)
    # Round 16 (guide §2.4/§1.2; same move as events_resample_ffill):
    # the retired spelling exploded the 36M-row grid FIRST, left-joined
    # the event buckets onto it and ran FOUR carried columns over two
    # grid-sized window sorts — measured 55.7 s at the 100× stress
    # fixture for 300k event rows.  All four carried values are
    # constant across each gap between consecutive event buckets, so
    # compute them per EVENT-BUCKET row (the same running frames, the
    # descending spelling kept from the r14 lesson — a
    # (currentRow, unboundedFollowing) first(ignorenulls) frame scans
    # O(run-length) per row) and explode each row's (bucket, next)
    # gap afterwards.  A gap bucket's previous-known pair is its left
    # edge's (pv, pb) — the running frame includes the current row —
    # and its next-known pair is the NEXT event-bucket row's (nv, nb)
    # (no event buckets intervene, so "first known at-or-after" is the
    # same point), carried onto the left edge by one lead().  The
    # interpolation expression is textually identical, evaluated on
    # identical picked operands — bit-identical doubles.
    wb = Window.partitionBy("user_id").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("user_id").orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_lead = Window.partitionBy("user_id").orderBy("bucket")
    known_bucket = F.when(F.col("value").isNotNull(), F.col("bucket"))
    en = (
        last_in.withColumn("pv", F.last("value", ignorenulls=True).over(wb))
        .withColumn("pb", F.last(known_bucket, ignorenulls=True).over(wb))
        .withColumn("nv", F.last("value", ignorenulls=True).over(wf))
        .withColumn("nb", F.last(known_bucket, ignorenulls=True).over(wf))
        .withColumn("nxt", F.lead("bucket").over(w_lead))
        .withColumn("nvn", F.lead("nv").over(w_lead))
        .withColumn("nbn", F.lead("nb").over(w_lead))
    )
    # one explode emits the event bucket AND its gap: [bucket, nxt-1]
    # (just [bucket] for the last row) — a single branch keeps the
    # plan at the same two exchanges as the retired grid-join
    # spelling.  The event-bucket point (g = bucket) evaluates the
    # original expression on its own carried values; a gap point uses
    # the same previous-known pair and the NEXT row's next-known pair.
    exploded = en.select(
        "user_id",
        "bucket",
        "value",
        "pv",
        "pb",
        "nv",
        "nb",
        "nvn",
        "nbn",
        F.explode(
            F.expr("sequence(bucket, coalesce(nxt - 1, bucket))")
        ).alias("g"),
    )
    interp = F.expr(
        "CASE WHEN g = bucket THEN "
        "  CASE WHEN value IS NOT NULL THEN value "
        "  ELSE pv + (nv - pv) * (CAST(g - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) END "
        "ELSE pv + (nvn - pv) * (CAST(g - pb AS DOUBLE) / CAST(nbn - pb AS DOUBLE)) END"
    )
    return exploded.select(
        "user_id", F.col("g").alias("bucket"), interp.alias("value_li")
    )


_RESAMPLE_INTERP_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, value,
         epoch_us(ts) AS tu,
         epoch_us(ts) // {{RESAMPLE_BUCKET_US}} AS bucket
  FROM events
),
last_in AS (
  SELECT user_id, bucket, value FROM (
    SELECT user_id, bucket, value,
           row_number() OVER (PARTITION BY user_id, bucket
                              ORDER BY tu DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
),
grid AS (
  SELECT user_id, unnest(generate_series(mb, xb)) AS bucket
  FROM (SELECT user_id, min(bucket) AS mb, max(bucket) AS xb FROM ev GROUP BY user_id)
),
filled AS (
  SELECT g.user_id, g.bucket, l.value,
         last_value(l.value IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN l.value IS NOT NULL THEN g.bucket END IGNORE NULLS) OVER wb AS pb,
         first_value(l.value IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN l.value IS NOT NULL THEN g.bucket END IGNORE NULLS) OVER wf AS nb
  FROM grid g LEFT JOIN last_in l ON g.user_id = l.user_id AND g.bucket = l.bucket
  WINDOW wb AS (PARTITION BY g.user_id ORDER BY g.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY g.user_id ORDER BY g.bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket,
       CASE WHEN value IS NOT NULL THEN value
            ELSE pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) END
         AS value_li
FROM filled
""".replace("{RESAMPLE_BUCKET_US}", str(RESAMPLE_BUCKET_US))


_RESAMPLE_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, value,
         epoch_us(ts) AS tu,
         epoch_us(ts) // {RESAMPLE_BUCKET_US} AS bucket
  FROM events
),
last_in AS (
  SELECT user_id, bucket, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                                 ORDER BY tu DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
),
grid AS (
  SELECT user_id, unnest(generate_series(mb, xb)) AS bucket
  FROM (SELECT user_id, min(bucket) AS mb, max(bucket) AS xb FROM ev GROUP BY user_id)
)
SELECT g.user_id, g.bucket,
       last_value(l.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
FROM grid g LEFT JOIN last_in l ON g.user_id = l.user_id AND g.bucket = l.bucket
"""


def source_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ingestion format must preserve the data: write customer
    out as csv, json, orc and XML (native in Spark 4; cached per sf in
    scratch), read each back through sources.formats, and report
    per-format row count + an exact money checksum.  The oracle reads
    only the original parquet — the row passes only if the round-trip
    is lossless.

    Scale: format edges parallelize like parquet; the checksum is a
    decimal sum so executor/partition order cannot move a bit."""
    from ..sources.formats import read_csv, read_json, read_orc, read_xml

    c = load_table(spark, sf_dir, "customer")

    def write(base: str) -> None:
        c.write.mode("overwrite").option("header", "true").csv(f"{base}/csv")
        c.write.mode("overwrite").json(f"{base}/json")
        c.write.mode("overwrite").orc(f"{base}/orc")
        (
            c.write.mode("overwrite")
            .option("rootTag", "rows").option("rowTag", "row")
            .format("xml").save(f"{base}/xml")
        )

    base = staged(sf_dir, "formats_v2", ("customer",), write)
    schema = c.schema
    frames = {
        "csv": read_csv(spark, f"{base}/csv", schema=schema),
        "json": read_json(spark, f"{base}/json", schema=schema),
        "orc": read_orc(spark, f"{base}/orc"),
        "xml": read_xml(spark, f"{base}/xml", schema=schema),
    }
    out = None
    for fmt, df in frames.items():
        agg = df.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(14,2)")).cast("double").alias("sum_acctbal"),
        ).select("fmt", "n_rows", "sum_acctbal")
        out = agg if out is None else out.unionByName(agg)
    return out


_FORMATS_ORACLE = """
SELECT fmt, n_rows, sum_acctbal FROM (
  SELECT count(*) AS n_rows,
         CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS sum_acctbal
  FROM customer
) CROSS JOIN (SELECT unnest(['csv', 'json', 'orc', 'xml']) AS fmt)
"""


#: partitions the pruning query keeps
PRUNE_KEEP_TYPES = ("click", "error")


def _stage_parted_events(spark: SparkSession, sf_dir: str) -> tuple[str, "StructType"]:
    """Stage events partitioned by event_type (cached scratch); shared
    by the static-pruning and dynamic-pruning queries.  Returns the
    staged path AND the explicit read schema (a 0-row write emits no
    data files, so the reader cannot infer it — round-11 audit)."""
    ev = load_table(spark, sf_dir, "events")
    flat = ev.withColumn("tu", F.expr("unix_micros(ts)")).drop("ts")
    base = staged(
        sf_dir,
        "parted",
        ("events",),
        lambda d: flat.write.mode("overwrite").partitionBy("event_type").parquet(f"{d}/events"),
    )
    # the reader gets the EXPLICIT schema: a 0-row events table writes
    # no data files at all (only _SUCCESS), and schema inference on an
    # empty partitioned dir throws UNABLE_TO_INFER_SCHEMA (round-11
    # empty-table audit).  A production pipeline re-reading its own
    # output carries the schema for the same reason.
    return f"{base}/events", flat.schema


def _read_parted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, schema = _stage_parted_events(spark, sf_dir)
    return spark.read.schema(schema).parquet(path)


def source_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition PRUNING: stage events
    as parquet partitioned by event_type (cached per sf in scratch),
    read it back with a two-type filter, and aggregate — the listing
    must touch ONLY the two matching partition directories, which at
    100 TB is the difference between scanning 2/5 of the table and all
    of it.  The plan-shape test asserts the pruned file index; this
    registered query gates the VALUES (exact count + decimal sum per
    kept type) against the unpartitioned original via the oracle.

    Scale: dynamic partition overwrite parallelizes the write; the
    read side is pure metadata pruning — no data-side filter work at
    all for the dropped partitions."""
    keep = ", ".join(f"'{t}'" for t in PRUNE_KEEP_TYPES)
    return (
        _read_parted_events(spark, sf_dir)
        .where(F.expr(f"event_type IN ({keep})"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DECM)).cast("double").alias("sum_value"),
        )
    )


COLLATE_TOPK = 20


def sql_collated_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count under ENGINE collation semantics (Spark 4
    ``UTF8_LCASE`` vs DuckDB ``NOCASE``) — the reference lowercases
    every token as an explicit scalar step (map_reduce.cpp:160-171,
    S7); SQL engines can instead make case-insensitivity a property of
    the COMPARISON, so grouping, joins and DISTINCT all fold case with
    no data rewrite.  The fixture text is already lowercase, which
    would make a collated group-by a vacuous gate — so the query first
    injects deterministic case noise (upper() on an md5 coin flip per
    token occurrence, the same engineered-perturbation pattern as
    events_lateness_audit's transport delay) and the collation must
    merge the variants back: counts equal the plain lowercase counts,
    which the oracle pins.

    Determinism: the group key is the collated variant, but every
    OUTPUT column is binary — min(variant) under binary comparison is
    the representative (min among case-variants is well-defined;
    min under the collation itself would be an engine-arbitrary pick
    among collation-equal strings).  Scale: identical shape to
    wordcount — one keyed agg + TakeOrdered top-{COLLATE_TOPK}."""
    from ..functions.text import md5_long

    d = (
        load_table(spark, sf_dir, "documents", cpu_heavy=True)
        .select(
            "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
        )
        .where(F.length("term") > 0)
    )
    coin = md5_long(F.concat_ws(":", "doc_id", "pos", "term")) % 2 == F.lit(0)
    noisy = d.withColumn(
        "variant", F.when(coin, F.upper("term")).otherwise(F.col("term"))
    )
    return (
        noisy.groupBy(F.expr("variant COLLATE UTF8_LCASE").alias("k"))
        .agg(F.min("variant").alias("rep"), F.count(F.lit(1)).alias("n"))
        .select("rep", "n")
        .orderBy(F.desc("n"), F.asc("rep"))
        .limit(COLLATE_TOPK)
    )


def _collated_wordcount_oracle() -> str:
    from ..functions.text import duck_md5_long

    coin = duck_md5_long(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(pos - 1 AS VARCHAR) || ':' || term"
    )
    # 2-arg list_transform lambda (value, 1-based index) is the
    # DuckDB-1.0-compatible ordinal unnest (no WITH ORDINALITY, no
    # lateral generate_series over a column there)
    return f"""
WITH toks AS (
  SELECT doc_id, s.pos AS pos, s.term AS term
  FROM (SELECT doc_id,
               unnest(list_transform({duck_tokens('text')},
                      (x, i) -> {{'term': x, 'pos': i}})) AS s
        FROM documents) u
),
noisy AS (
  SELECT CASE WHEN {coin} % 2 = 0 THEN upper(term) ELSE term END AS variant
  FROM toks WHERE length(term) > 0
)
SELECT min(variant) AS rep, count(*) AS n
FROM noisy
GROUP BY variant COLLATE NOCASE
ORDER BY n DESC, rep ASC
LIMIT {COLLATE_TOPK}
"""


BUCKET_JOIN_N = 8  # bucket count; both sides MUST match for co-location


def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-exchange big-big join :func:`join_fact_fact`'s
    docstring promises at 100 TB, delivered: orders and lineitem are
    staged ONCE as bucketed+sorted tables ({BUCKET_JOIN_N} buckets on
    the orderkey, `bucketBy().sortBy().saveAsTable()`), and the join
    then reads co-located buckets — a sort-merge join with NO Exchange
    on either fact side (plan-asserted; the only shuffle left is the
    final small rollup re-key).  At 100 TB the bucketed layout is paid
    once at ingest and every subsequent orderkey join/agg rides it
    free, which is the difference between re-shuffling both fact
    tables per query and none.

    The files are staged once per fingerprint (``sources.tables.staged``);
    the tables are registered once per session.  Bucket metadata lives
    in the session catalog, not the files, so a session that finds the
    files already staged registers them with CREATE TABLE ... CLUSTERED
    BY ... LOCATION, which is metadata-only.

    Both merge hints pin the SMJ so the demo can't silently degrade to
    a broadcast join at toy scale."""
    keys = {"orders": "o_orderkey", "lineitem": "l_orderkey"}

    def table_name(base: str, tbl: str) -> str:
        # table identifiers may not contain '.'; the staged dir is
        # already fingerprint-unique, so key the name on its basename
        return f"bkt_{tbl}_{os.path.basename(base).split('-')[-1]}"

    def write(base: str) -> None:
        for tbl, key in keys.items():
            (
                load_table(spark, sf_dir, tbl)
                .write.bucketBy(BUCKET_JOIN_N, key)
                .sortBy(key)
                .option("path", os.path.join(base, tbl))
                .mode("overwrite")
                .saveAsTable(table_name(base, tbl))
            )

    base = staged(sf_dir, "bucketed", tuple(keys), write)
    handles = {}
    for tbl, key in keys.items():
        name = table_name(base, tbl)
        if not spark.catalog.tableExists(name):
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in load_table(spark, sf_dir, tbl).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {BUCKET_JOIN_N} BUCKETS LOCATION '{os.path.join(base, tbl)}'"
            )
        handles[tbl] = spark.table(name)
    o, li = handles["orders"], handles["lineitem"]
    rev = money("l_extendedprice") * ratio_complement("l_discount")
    return (
        o.hint("merge")
        .join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_expr(rev, "revenue"),
            F.sum(F.col("l_quantity").cast(DECM)).cast("double").alias("sum_qty"),
        )
    )


_BUCKETED_JOIN_ORACLE = """
SELECT o_orderstatus, l_returnflag, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus, l_returnflag
"""


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written at different
    pipeline generations — batch 0 (even orderkeys) with the original
    four columns, batch 1 (odd orderkeys) with a NEW o_urgent flag —
    read back as ONE table via ``mergeSchema``, the old rows NULL for
    the new column.  Every long-lived ingest hits this (a crawler adds
    a field, three years of history doesn't), and the failure mode
    mergeSchema guards — silently dropping or mistyping the new column
    — is exactly what the per-generation aggregate gates.

    Scale: schema merge is a FOOTER-metadata operation (one file
    footer per batch schema, not a data pass); the read itself stays a
    plain pruned parquet scan.  Staging follows the cached-scratch
    contract of ``sources.tables.staged``."""
    o = load_table(spark, sf_dir, "orders")

    def write(base: str) -> None:
        (
            o.where(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
            .write.mode("overwrite")
            .parquet(f"{base}/orders/gen=0")
        )
        (
            o.where(F.col("o_orderkey") % 2 == 1)
            .select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                "o_orderdate",
                (F.col("o_orderpriority") == "1-URGENT").alias("o_urgent"),
            )
            .write.mode("overwrite")
            .parquet(f"{base}/orders/gen=1")
        )

    base = staged(sf_dir, "evolved", ("orders",), write)
    merged = spark.read.option("mergeSchema", "true").parquet(f"{base}/orders")
    return merged.groupBy("gen").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(money("o_totalprice")).cast("double").alias("sum_total"),
        F.count("o_urgent").alias("n_flagged"),
        F.sum(F.col("o_urgent").cast("int")).alias("n_urgent"),
    )


_SCHEMA_EVOLUTION_ORACLE = """
WITH merged AS (
  SELECT o_orderkey, o_totalprice, NULL::BOOLEAN AS o_urgent, 0 AS gen
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority = '1-URGENT' AS o_urgent, 1 AS gen
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT gen, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_total,
       count(o_urgent) AS n_flagged,
       CAST(sum(CAST(o_urgent AS INT)) AS BIGINT) AS n_urgent
FROM merged GROUP BY gen
"""


Z_DAY_BASE = 19723  # epoch day of 2024-01-01 (fixture events start)
Z_DAY_LO, Z_DAY_HI = 19733, 19739  # the 7-day query window (absolute)
Z_FILES = 16
#: day values span ~30 of 256 codes; without stretching them across
#: the full 8 bits every high interleaved position would be a user
#: bit and range-partitioning would cluster on user ALONE (measured:
#: per-file day spread 1.0 unscaled → 0.2 scaled).  Equal bit
#: UTILIZATION, not just equal bit WIDTH, is what balances a Z-curve.
Z_DAY_SCALE = 8


def _zval_expr() -> "F.Column":
    """16-bit Morton/Z-value: 8 bits of rel_day interleaved with 8 of
    ub (even positions day, odd positions user bucket) — one folded
    OR chain, all integer bit ops inside codegen."""
    terms = [f"(((rel_day >> {i}) & 1) << {2 * i})" for i in range(8)]
    terms += [f"(((ub >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
    return F.expr(" | ".join(terms))


def sort_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data layout: events staged ONCE clustered by
    the Z-order (Morton) interleave of (day, user bucket), then a
    2-d slice — one absolute week × the middle half of users — is
    answered from the clustered copy.  A 1-d sort can bound per-file
    ranges in ONE dimension only; the Z-curve bounds BOTH at once, so
    parquet min/max row-group stats prune files for day-only,
    user-only AND day×user predicates — at 100 TB this layout choice,
    like bucketing, is paid once at write and harvested by every
    scan (the pytest pins the property: per-file spread ≤ half the
    global range in EACH dimension simultaneously, which no 1-d sort
    achieves).

    The Z-value is 8+8 interleaved bits: rel_day clamped to [0, 255]
    from the fixture's 2024-01-01 base, and the user bucket
    (user_id·256)/(max+1) — exact integer math, portable by
    construction.  The user-band predicate is applied EXACTLY the
    same multiplied-out way on both engines (user_id·4 vs max+1 —
    no division).  Staging follows the cached-scratch contract of
    ``sources.tables.staged``.

    The cluster boundaries are the EXPLICIT top-4-bit Z-ranges
    (``zval div 4096``, written ``partitionBy`` so every file holds
    exactly one range) rather than ``repartitionByRange(zval)``:
    the range partitioner's reservoir sampling draws file boundaries
    that vary run to run, which made the layout property flaky at the
    0.6 threshold (measured 0.60 on one draw) — and a layout you pay
    for once at write should be REPRODUCIBLE anyway.  Fixed top-4-bit
    ranges pin two day bits and two user bits per file: per-file
    spread ≤ ~1/4 of the global range in BOTH dims, deterministically."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value").cast(DECM).alias("v"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    u = ev.agg((F.max("user_id") + 1).alias("u_n"))
    zed = (
        ev.crossJoin(F.broadcast(u))
        .withColumn(
            "rel_day",
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255), (F.col("day") - Z_DAY_BASE) * Z_DAY_SCALE
                ),
            ),
        )
        .withColumn("ub", F.expr("(user_id * 256) div u_n"))
        .withColumn("zval", _zval_expr())
        .withColumn("zbucket", F.expr(f"zval div {65536 // Z_FILES}"))
        .drop("rel_day", "ub", "u_n")
    )
    base = staged(
        sf_dir,
        "zorder2",
        ("events",),
        lambda d: zed.repartition(Z_FILES, "zbucket")
        .sortWithinPartitions("zbucket", "zval")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(f"{d}/events"),
    )
    # explicit schema: a 0-row events table writes no data files, and
    # inference on the empty dir throws (round-11 empty-table audit)
    z = spark.read.schema(zed.schema).parquet(f"{base}/events")
    u_n = z.agg((F.max("user_id") + 1).alias("u_n"))
    return (
        z.crossJoin(F.broadcast(u_n))
        .where(
            F.col("day").between(Z_DAY_LO, Z_DAY_HI)
            & (F.col("user_id") * 4 >= F.col("u_n"))
            & (F.col("user_id") * 4 < 3 * F.col("u_n"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
        )
    )


_ZORDER_ORACLE = f"""
WITH u AS (SELECT max(user_id) + 1 AS u_n FROM events)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
FROM events, u
WHERE epoch_us(ts) // 86400000000 BETWEEN {Z_DAY_LO} AND {Z_DAY_HI}
  AND user_id * 4 >= u.u_n AND user_id * 4 < 3 * u.u_n
GROUP BY event_type
"""


#: bitemporal axes: md5 transport delay (≤3 d) gives each event a
#: TRANSACTION time distinct from its event (valid) time; a md5-chosen
#: 10% get a +5.00 correction arriving one day later still.
BT_ARR_JITTER_US = 259_200_000_000
BT_CORR_LAG_US = 86_400_000_000
#: snapshot INSIDE the valid window's arrival spread (events valid
#: through Jan 19 keep arriving until Jan 23) — a later snapshot sees
#: every correction and the two ledgers degenerate to equality
BT_TX_US = 1_705_276_800_000_000  # 2024-01-15T00:00Z
BT_V0, BT_V1 = "2024-01-05", "2024-01-19"  # valid-time window


def table_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of reporting — the audit question temporal tables
    exist to answer: for a valid-time window, what did the ledger say
    AS KNOWN AT a past snapshot (transaction-time ≤ T) vs AS CORRECTED
    TODAY?  Events get a deterministic md5 transport delay as their
    transaction time, 10% receive a later +5.00 correction, and the
    query resolves the LATEST VISIBLE VERSION per event under each
    transaction-time frontier (keyed max_by on version — never a
    per-event window sort), then rolls both ledgers up per type with
    the visible/total correction counts.

    The restatement delta between the two sums is exactly the
    corrections that were in flight at the snapshot — the fact a
    restatement audit reconciles.  Scale: one union of two pruned
    scans, one keyed argmax per frontier, 5-row rollups; everything
    exact decimal/integer.  (Same derivation-oracle pattern as
    events_lateness_audit: no staged state enters the contract.)"""
    from ..functions.text import md5_long

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").cast(DECM).alias("v"),
    )
    base = ev.withColumn(
        "arr_us",
        F.col("ts_us") + md5_long(F.col("event_id"), salt=":arr") % BT_ARR_JITTER_US,
    ).withColumn("version", F.lit(1))
    corr = (
        base.where(md5_long(F.col("event_id"), salt=":corr") % 10 == 0)
        .withColumn("arr_us", F.col("arr_us") + BT_CORR_LAG_US)
        .withColumn("v", F.col("v") + F.lit("5.00").cast(DECM))
        .withColumn("version", F.lit(2))
    )
    versions = base.unionByName(corr).where(
        (F.col("ts_us") >= F.unix_micros(F.lit(BT_V0).cast("timestamp")))
        & (F.col("ts_us") < F.unix_micros(F.lit(BT_V1).cast("timestamp")))
    )

    def resolve(df, alias):
        return (
            df.groupBy("event_id")
            .agg(
                F.max("event_type").alias("event_type"),
                F.max_by("v", "version").alias("v"),
                F.max("version").alias("version"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias(f"n_{alias}"),
                F.sum("v").cast("double").alias(f"sum_{alias}"),
                F.sum((F.col("version") == 2).cast("long")).alias(
                    f"corr_{alias}"
                ),
            )
        )

    known = resolve(versions.where(F.col("arr_us") <= BT_TX_US), "known")
    now = resolve(versions, "now")
    return known.join(now, "event_type").select(
        "event_type", "n_known", "corr_known", "sum_known",
        "n_now", "corr_now", "sum_now",
    )


def _bitemporal_oracle() -> str:
    from ..functions.text import duck_md5_long

    arr = duck_md5_long("CAST(event_id AS VARCHAR)", salt=":arr")
    pick = duck_md5_long("CAST(event_id AS VARCHAR)", salt=":corr")
    return f"""
WITH base AS (
  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(value AS DECIMAL(14,2)) AS v,
         epoch_us(ts) + {arr} % {BT_ARR_JITTER_US} AS arr_us,
         1 AS version
  FROM events
),
corr AS (
  SELECT event_id, event_type, ts_us,
         v + CAST(5.00 AS DECIMAL(14,2)) AS v,
         arr_us + {BT_CORR_LAG_US} AS arr_us, 2 AS version
  FROM base WHERE {pick} % 10 = 0
),
vers AS (
  SELECT * FROM base UNION ALL SELECT * FROM corr
),
vw AS (
  SELECT * FROM vers
  WHERE ts_us >= epoch_us(TIMESTAMP '{BT_V0}')
    AND ts_us < epoch_us(TIMESTAMP '{BT_V1}')
),
known AS (
  SELECT event_type, count(*) AS n_known,
         CAST(sum(v) AS DOUBLE) AS sum_known,
         sum(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS corr_known
  FROM (
    SELECT event_id, max(event_type) AS event_type,
           arg_max(v, version) AS v, max(version) AS version
    FROM vw WHERE arr_us <= {BT_TX_US} GROUP BY event_id
  ) GROUP BY event_type
),
now_ AS (
  SELECT event_type, count(*) AS n_now,
         CAST(sum(v) AS DOUBLE) AS sum_now,
         sum(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS corr_now
  FROM (
    SELECT event_id, max(event_type) AS event_type,
           arg_max(v, version) AS v, max(version) AS version
    FROM vw GROUP BY event_id
  ) GROUP BY event_type
)
SELECT event_type, n_known, CAST(corr_known AS BIGINT) AS corr_known, sum_known,
       n_now, CAST(corr_now AS BIGINT) AS corr_now, sum_now
FROM known JOIN now_ USING (event_type)
"""


def events_uptime_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Availability report via the classic gaps-and-islands transform:
    treat each event type's active HOURS (hours with ≥1 event) as
    heartbeats and report its contiguous-uptime runs — run count,
    longest and mean run, and total active hours.  The SLA/uptime
    rollup every on-call dashboard shows, and the canonical
    interview-question transform (hour − dense row index is constant
    within a run) as a first-class relational operator.

    Scale: the islands window runs on the (type, hour) AGGREGATE —
    bounded by types × hours, never raw events; one keyed rollup
    before it, one after."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("(unix_micros(ts) div 3600000000)").alias("hr")
    )
    hours = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    runs = (
        hours.withColumn("grp", F.col("hr") - F.row_number().over(w))
        .groupBy("event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_hours"),
            F.min("hr").alias("run_start"),
        )
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_hours").alias("longest_run_hours"),
        F.sum("run_hours").alias("active_hours"),
        F.round(
            F.sum("run_hours").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_run_hours"),
        F.min("run_start").alias("first_active_hr"),
    )


_UPTIME_ISLANDS_ORACLE = """
WITH hours AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
runs AS (
  SELECT event_type,
         hr - row_number() OVER (PARTITION BY event_type ORDER BY hr) AS grp,
         hr
  FROM hours
),
agg AS (
  SELECT event_type, grp, count(*) AS run_hours, min(hr) AS run_start
  FROM runs GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_runs,
       CAST(max(run_hours) AS BIGINT) AS longest_run_hours,
       CAST(sum(run_hours) AS BIGINT) AS active_hours,
       round(CAST(sum(run_hours) AS DOUBLE) / count(*), 6) AS mean_run_hours,
       CAST(min(run_start) AS BIGINT) AS first_active_hr
FROM agg GROUP BY event_type
"""


SERIES_D0, SERIES_D1 = 19723, 19752  # the fixture's 30-day grid
SERIES_TOPK = 10
SERIES_QUERY_USER = 0


def events_series_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-SERIES similarity search (the distributed-data-series
    workload of REPOSE/Odyssey, scoped to exact semantics): which
    users' daily-revenue series most resemble user
    {SERIES_QUERY_USER}'s?  Each user's series is densified onto the
    fixture's 30-day grid (missing days = 0), distance is the exact
    squared Euclidean between decimal series — NO z-normalization
    float path; every (a−b)² and the 30-term sum are exact decimals,
    so the ranking hash-matches unconditionally — and the top
    {SERIES_TOPK} nearest users come back with their distances.

    Shape: keyed (user, day) rollup → dense grid via a 30-row
    broadcast day spine → the 30-row query series broadcast into one
    keyed distance agg per user.  The grid is users × 30 rows; at
    corpus scale the spine stays a broadcast and the agg map-side
    combines, so cost is one shuffle keyed on user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("(unix_micros(ts) div 86400000000)").alias("day"),
        F.col("value").cast(DECM).alias("v"),
    )
    sums = ev.groupBy("user_id", "day").agg(F.sum("v").alias("s"))
    days = spark.range(SERIES_D0, SERIES_D1 + 1).select(
        F.col("id").alias("day")
    )
    users = sums.select("user_id").distinct()
    grid = (
        users.crossJoin(F.broadcast(days))
        .join(sums, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("s", F.lit(0).cast(DECM)).alias("a"),
        )
    )
    q = (
        grid.where(F.col("user_id") == SERIES_QUERY_USER)
        .select("day", F.col("a").alias("b"))
    )
    return (
        grid.where(F.col("user_id") != SERIES_QUERY_USER)
        .join(F.broadcast(q), "day")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("a") - F.col("b")) * (F.col("a") - F.col("b")))
            .cast("double")
            .alias("dist_sq"),
        )
        .orderBy(F.asc("dist_sq"), F.asc("user_id"))
        .limit(SERIES_TOPK)
    )


_SERIES_SIM_ORACLE = f"""
WITH sums AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         sum(CAST(value AS DECIMAL(14,2))) AS s
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT u.user_id, d.day, coalesce(s.s, CAST(0 AS DECIMAL(14,2))) AS a
  FROM (SELECT DISTINCT user_id FROM sums) u
  CROSS JOIN (SELECT unnest(generate_series({SERIES_D0}, {SERIES_D1})) AS day) d
  LEFT JOIN sums s ON s.user_id = u.user_id AND s.day = d.day
),
q AS (SELECT day, a AS b FROM grid WHERE user_id = {SERIES_QUERY_USER})
SELECT g.user_id,
       CAST(sum((g.a - q.b) * (g.a - q.b)) AS DOUBLE) AS dist_sq
FROM grid g JOIN q USING (day)
WHERE g.user_id <> {SERIES_QUERY_USER}
GROUP BY g.user_id
ORDER BY dist_sq ASC, g.user_id ASC
LIMIT {SERIES_TOPK}
"""


def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING OLS trend — the windowed sibling of
    :func:`agg_linreg_exact`: per event type's daily revenue, the
    7-observation trailing slope (revenue/day) that momentum alerts
    and trend dashboards threshold.  The regression moments (Σx, Σy,
    Σxy, Σx²) are EXACT window sums — x is the integer day, y exact
    decimal revenue — so the closed-form slope
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) divides two exact quantities
    once at the readout: identical doubles on both engines, no
    accumulation-order float risk anywhere.  Incomplete leading
    windows emit NULL, pinned by the oracle.

    Scale: the windows run on the (type, day) AGGREGATE (bounded
    rows), one keyed rollup before them."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000)").alias("day"),
        F.col("value").cast(DECM).alias("v"),
    )
    # y pinned to DECIMAL(26,2) and day to DECIMAL(10,0) before the
    # product, so day*y is (37,2)/(36,2) EXACT decimal on both engines.
    # Unpinned, DuckDB's BIGINT x DECIMAL(38,2) product exceeds width
    # 38 and silently falls back to DOUBLE window sums — invisible at
    # driver magnitudes, wrong in the 6th decimal at the int64-edge
    # money axis (round-11 sweep, docs/altfixture_r11.md).
    daily = ev.groupBy("event_type", "day").agg(
        F.sum("v").cast("decimal(26,2)").alias("y")
    )
    day_d = F.col("day").cast("decimal(10,0)")
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    m = (
        daily.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum("day").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxy", F.sum(day_d * F.col("y")).over(w))
        .withColumn("sxx", F.sum(F.col("day") * F.col("day")).over(w))
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx") * F.col(
        "sy"
    ).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "event_type",
        "day",
        F.col("y").cast("double").alias("daily_revenue"),
        F.when(F.col("n") == 7, F.round(num / den, 6)).alias(
            "trailing_slope"
        ),
    )


_ROLLING_REG_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(26,2)) AS y
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT *,
         count(*) OVER w AS n,
         sum(day) OVER w AS sx,
         sum(y) OVER w AS sy,
         sum(CAST(day AS DECIMAL(10,0)) * y) OVER w AS sxy,
         sum(day * day) OVER w AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
-- sxy/sy go DECIMAL -> VARCHAR -> DOUBLE: DuckDB's direct decimal ->
-- double cast is DOUBLE-ROUNDED (int128 -> double, then / 10^scale),
-- 1 ulp off the correctly-rounded value once the unscaled decimal
-- exceeds 2^53; Spark's BigDecimal.doubleValue() is correctly rounded
-- and the slope's cancellation amplifies that ulp into the 9th digit
-- (round-11 int64-edge sweep).  The string parse is correctly rounded
-- on both engines.
SELECT event_type, day,
       CAST(y AS DOUBLE) AS daily_revenue,
       CASE WHEN n = 7
            THEN round((n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                        - sx * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       END AS trailing_slope
FROM m
"""


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    core of STL): per event type's daily revenue series, trend = the
    centered 7-observation moving average, seasonal = the mean
    detrended value per day-of-week, residual = the rest — the
    decomposition every capacity forecast and anomaly baseline starts
    from (:func:`orders_seasonal_naive` is the forecasting half; this
    is the explanatory half).

    Exactness: the decomposition is computed SCALED BY 7 in exact
    decimals — trend×7 is the rolling sum, detrended×7 is 7·s − roll,
    and the seasonal means stay (Σ detrended×7, n) pairs — so every
    cross-row sum is exact and the ONLY float ops are the final
    divisions/rounds on identical exact inputs.  Edge days (incomplete
    7-windows) carry NULL trend/residual and are excluded from the
    seasonal means, pinned by the oracle.

    Scale: one keyed daily rollup, one bounded per-type window (days
    per type), one 35-row broadcast join back."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000)").alias("day"),
        F.col("value").cast(DECM).alias("v"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("v").alias("s"))
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    d = daily.withColumn("roll7", F.sum("s").over(w7)).withColumn(
        "cnt7", F.count("s").over(w7)
    )
    d = d.withColumn(
        "det7",
        F.when(F.col("cnt7") == 7, F.lit(7) * F.col("s") - F.col("roll7")),
    )
    seas = d.groupBy(
        "event_type", (F.col("day") % 7).alias("dow")
    ).agg(F.sum("det7").alias("s7n"), F.count("det7").alias("n"))
    out = d.alias("d").join(
        F.broadcast(seas.alias("sx")),
        (F.col("d.event_type") == F.col("sx.event_type"))
        & (F.col("d.day") % 7 == F.col("sx.dow")),
    ).select(
        F.col("d.event_type").alias("event_type"),
        "day",
        F.col("d.s").cast("double").alias("daily_sum"),
        F.round(F.col("roll7").cast("double") / 7, 6).alias("trend_x"),
        F.round(
            F.col("s7n").cast("double") / (7 * F.col("n")), 6
        ).alias("seasonal"),
        F.round(
            F.col("det7").cast("double") / 7
            - F.col("s7n").cast("double") / (7 * F.col("n")),
            6,
        ).alias("residual"),
        F.col("cnt7"),
    )
    return out.select(
        "event_type",
        "day",
        "daily_sum",
        F.when(F.col("cnt7") == 7, F.col("trend_x")).alias("trend"),
        "seasonal",
        "residual",
    )


_SEASONAL_DECOMP_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         sum(CAST(value AS DECIMAL(14,2))) AS s
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT *,
         sum(s) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS roll7,
         count(s) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
  FROM daily
),
dt AS (
  SELECT *, CASE WHEN cnt7 = 7 THEN 7 * s - roll7 END AS det7 FROM r
),
seas AS (
  SELECT event_type, day % 7 AS dow, sum(det7) AS s7n, count(det7) AS n
  FROM dt GROUP BY 1, 2
)
SELECT d.event_type, d.day,
       CAST(d.s AS DOUBLE) AS daily_sum,
       CASE WHEN d.cnt7 = 7
            THEN round(CAST(d.roll7 AS DOUBLE) / 7, 6) END AS trend,
       round(CAST(s.s7n AS DOUBLE) / (7 * s.n), 6) AS seasonal,
       round(CAST(d.det7 AS DOUBLE) / 7
             - CAST(s.s7n AS DOUBLE) / (7 * s.n), 6) AS residual
FROM dt d JOIN seas s ON d.event_type = s.event_type AND d.day % 7 = s.dow
"""


def scalar_calendar_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic the way billing systems need it — and the
    way engines silently disagree about it: per order, the cycle close
    is ``last_day``, the due date is ``add_months(+1)`` with its
    END-OF-MONTH CLAMP (Jan 31 → Feb 29), the fiscal bucket is the
    quarter truncation, and the due weekday uses the Monday=0
    convention (Spark ``weekday`` ≡ DuckDB ``isodow − 1`` — the raw
    ``dayofweek`` functions are OFF BY ONE between engines, probed,
    not assumed).  Rolled up per (quarter, due weekday) with the count
    of orders whose due date was clamped — the explicit gate on the
    one semantic (month-end clamping) that differs across date
    libraries most often.

    Scale: pure scalar derivations into one keyed agg; the date
    columns prune to a single scan column."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    due = F.add_months(d, 1)
    return (
        o.select(
            F.date_trunc("quarter", d).cast("date").alias("quarter"),
            F.weekday(due).alias("due_weekday"),
            (F.dayofmonth(due) != F.dayofmonth(d)).cast("long").alias("clamped"),
            F.last_day(d).alias("cycle_close"),
            money("o_totalprice").alias("tp"),
        )
        .groupBy("quarter", "due_weekday")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("clamped").alias("n_clamped"),
            F.countDistinct("cycle_close").alias("n_cycles"),
            F.sum("tp").cast("double").alias("revenue"),
        )
    )


_CALENDAR_ORACLE = """
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS od,
         CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS due,
         CAST(o_totalprice AS DECIMAL(14,2)) AS tp
  FROM orders
)
SELECT CAST(date_trunc('quarter', od) AS DATE) AS quarter,
       CAST(isodow(due) - 1 AS INTEGER) AS due_weekday,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN day(due) <> day(od) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped,
       CAST(count(DISTINCT last_day(od)) AS BIGINT) AS n_cycles,
       CAST(sum(tp) AS DOUBLE) AS revenue
FROM d GROUP BY 1, 2
"""


AGING_ASOF = "2000-06-01"  # snapshot date (fixture orders span 1995-2001)
AGING_BUCKETS = (90, 365)  # day thresholds: current / aging / stale


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the AR/fulfillment snapshot every
    operations dashboard runs: as of {AGING_ASOF}, every not-finished
    order placed on or before that date falls into an age bucket
    (≤{AGING_BUCKETS[0]}d current, ≤{AGING_BUCKETS[1]}d aging, else
    stale), rolled up to (status, bucket) counts and value.  Age is an
    integer day difference (datediff — no timestamp float math), so
    bucketing is exact on both engines.

    Scale: predicate pushes to the scan; one 6-row keyed agg with
    map-side partials."""
    o = load_table(spark, sf_dir, "orders")
    lo, hi = AGING_BUCKETS
    age = F.datediff(F.lit(AGING_ASOF).cast("date"), F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(age <= lo, "current")
        .when(age <= hi, "aging")
        .otherwise("stale")
    )
    return (
        o.where(
            (F.col("o_orderstatus") != "F")
            & (F.col("o_orderdate") <= F.lit(AGING_ASOF).cast("timestamp"))
        )
        .groupBy(F.col("o_orderstatus").alias("status"), bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("backlog_value"),
            F.max(age).alias("oldest_days"),
        )
    )


_BACKLOG_AGING_ORACLE = f"""
SELECT o_orderstatus AS status,
       CASE WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AGING_ASOF}')
                 <= {AGING_BUCKETS[0]} THEN 'current'
            WHEN datediff('day', CAST(o_orderdate AS DATE), DATE '{AGING_ASOF}')
                 <= {AGING_BUCKETS[1]} THEN 'aging'
            ELSE 'stale' END AS age_bucket,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS backlog_value,
       CAST(max(datediff('day', CAST(o_orderdate AS DATE), DATE '{AGING_ASOF}'))
            AS INTEGER) AS oldest_days
FROM orders
WHERE o_orderstatus <> 'F' AND o_orderdate <= TIMESTAMP '{AGING_ASOF}'
GROUP BY 1, 2
"""


def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth dashboard's two headline curves in one frame: DAU
    (distinct users per epoch-day) and CUMULATIVE distinct users over
    time.  A naive cumulative COUNT(DISTINCT) over an expanding window
    re-scans history per day; the exact identity used instead is that
    cumulative-distinct equals the running sum of FIRST OCCURRENCES —
    one keyed min-agg marks each user's first day, a per-day count of
    those firsts gives new_users, and the cumulative sum runs over the
    day-cardinality aggregate (bounded rows — a driver-safe window,
    not a per-event one).

    Scale: two keyed shuffles (user first-seen, per-day rollup), then
    window math over ~days rows.  Everything integer-exact."""
    day = F.expr("(unix_micros(ts) div 86400000000)").alias("day")
    ev = load_table(spark, sf_dir, "events").select("user_id", day)
    dau = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(firsts, "day", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .withColumn("cum_users", F.sum("new_users").over(w))
        .select("day", "n_events", "dau", "new_users", "cum_users")
    )


_CUMULATIVE_USERS_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
dau AS (
  SELECT day, count(DISTINCT user_id) AS dau, count(*) AS n_events
  FROM ev GROUP BY day
),
firsts AS (
  SELECT day, count(*) AS new_users FROM (
    SELECT user_id, min(day) AS day FROM ev GROUP BY user_id
  ) GROUP BY day
)
SELECT d.day, d.n_events, d.dau,
       CAST(coalesce(f.new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(f.new_users, 0))
            OVER (ORDER BY d.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM dau d LEFT JOIN firsts f USING (day)
"""


CSV_CORRUPT_MOD = 20  # every 20th orderkey gets an unparseable price


def source_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on a dirty CSV feed — the first
    decision every file-drop ingest makes: a staged CSV of orders
    carries an unparseable price on every {CSV_CORRUPT_MOD}th key, and
    the same file is read twice — PERMISSIVE (row kept, failed fields
    NULL, raw line preserved in ``_corrupt_record`` for the quarantine
    sink) and DROPMALFORMED (bad lines silently gone).  One result
    frame gates all four facts that matter: total rows seen, corrupt
    rows flagged, rows surviving the drop, and that the GOOD-row
    revenue is identical under both modes (corruption must never leak
    into parsed values).

    The corruption rule is deterministic (key % {CSV_CORRUPT_MOD}), so
    the oracle is closed-form over the clean table — no staged state
    leaks into the contract.  Double→CSV→double round-trips exactly
    (shortest-round-trip formatting), which the revenue equality
    pins.  Scale: CSV parse is a narrow map; both reads stream."""
    o = load_table(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % CSV_CORRUPT_MOD == 0,
        F.concat_ws(
            ",",
            F.col("o_orderkey"),
            F.lit("NOT_A_NUMBER"),
            F.col("o_orderstatus"),
        ),
    ).otherwise(
        F.concat_ws(
            ",", "o_orderkey", "o_totalprice", "o_orderstatus"
        )
    )
    base = staged(
        sf_dir,
        "dirtycsv",
        ("orders",),
        lambda d: o.select(line.alias("value")).write.mode("overwrite").text(f"{d}/orders_csv"),
    )
    schema = (
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING, "
        "_corrupt_record STRING"
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(f"{base}/orders_csv")
    )
    dropped = (
        spark.read.schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
        .option("mode", "DROPMALFORMED")
        .csv(f"{base}/orders_csv")
    )
    p = permissive.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(), money("o_totalprice")
            )
        ).cast("double").alias("good_revenue"),
    ).select(F.lit("permissive").alias("mode"), "n_rows", "n_corrupt", "good_revenue")
    d = dropped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(0).cast("long").alias("n_corrupt"),
        F.sum(money("o_totalprice")).cast("double").alias("good_revenue"),
    ).select(F.lit("dropmalformed").alias("mode"), "n_rows", "n_corrupt", "good_revenue")
    return p.unionAll(d)


_CSV_MALFORMED_ORACLE = f"""
WITH good AS (
  SELECT CAST(o_totalprice AS DECIMAL(14,2)) AS tp FROM orders
  WHERE o_orderkey % {CSV_CORRUPT_MOD} <> 0
)
SELECT 'permissive' AS mode,
       (SELECT count(*) FROM orders) AS n_rows,
       (SELECT count(*) FROM orders WHERE o_orderkey % {CSV_CORRUPT_MOD} = 0) AS n_corrupt,
       CAST((SELECT sum(tp) FROM good) AS DOUBLE) AS good_revenue
UNION ALL
SELECT 'dropmalformed',
       (SELECT count(*) FROM good), 0,
       CAST((SELECT sum(tp) FROM good) AS DOUBLE)
"""


COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4


def table_compaction_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every streaming
    ingest owes its readers: a {COMPACT_SMALL_FILES}-file fragmented
    staging of events (one micro-batch worth of rows per file) is
    rewritten as {COMPACT_TARGET_FILES} right-sized files, and the
    query reads the COMPACTED copy so the oracle pins that compaction
    changed layout only, never values.  At 100 TB fragmentation is a
    first-order cost: listing, footer reads and task scheduling all
    scale with file count, and row-group-sized files defeat both
    min/max skipping and vectorized reads.

    The compaction itself is the honest production shape: a full
    read → repartition({COMPACT_TARGET_FILES}) → write (one shuffle,
    parallel write), NOT coalesce — coalesce(4) would also collapse
    the UPSTREAM read to 4 tasks.  File-count assertions live in the
    pytest (layout is not visible to SQL); this registered query gates
    the value-preservation half of the contract."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast(DECM).alias("v")
    )

    def write(base: str) -> None:
        (
            ev.repartition(COMPACT_SMALL_FILES, "event_id")
            .write.mode("overwrite")
            .parquet(f"{base}/small")
        )
        (
            spark.read.parquet(f"{base}/small")
            .repartition(COMPACT_TARGET_FILES)
            .write.mode("overwrite")
            .parquet(f"{base}/compacted")
        )

    base = staged(sf_dir, "compacted", ("events",), write)
    return (
        spark.read.parquet(f"{base}/compacted")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
            F.sum(F.col("event_id") * F.col("event_id")).alias("id_checksum"),
        )
    )


_COMPACTION_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
       CAST(sum(event_id * event_id) AS BIGINT) AS id_checksum
FROM events GROUP BY event_type
"""


DPP_AVG_FLOOR = "50.00"  # dim filter: mean event value above this


def join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime sibling of
    :func:`source_partition_prune`'s static pruning: the fact side is
    the same event_type-partitioned staging, but which partitions
    survive is decided by a JOIN against a filtered dimension (event
    types whose corpus-wide mean value clears a floor), a set no
    static optimizer can know.  Catalyst inserts a dynamic-pruning
    subquery on the fact's partition column (reusing the dim's
    broadcast), so the pruned partitions are never even listed — at
    100 TB this is the star-schema pattern: `fact JOIN dim WHERE
    dim.attr = x` scanning only the partitions the dim filter names.

    The dim filter is exact (sum > floor·count multiplied out in
    decimals, no avg() float boundary); the dim itself derives from
    the UNPARTITIONED original so the oracle can reproduce it as
    plain SQL.  Plan-tested: `dynamicpruning` present in the fact
    scan's partition filters."""
    parted = _read_parted_events(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("value").cast(DECM)).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("s") > F.expr(f"CAST({DPP_AVG_FLOOR} AS {DECM}) * c"))
        .select("event_type", F.col("s").cast("double").alias("dim_sum"))
    )
    return (
        parted.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DECM)).cast("double").alias("sum_value"),
            F.max("dim_sum").alias("dim_sum"),
        )
    )


_DPP_ORACLE = f"""
WITH dim AS (
  SELECT event_type, sum(CAST(value AS DECIMAL(14,2))) AS s, count(*) AS c
  FROM events GROUP BY event_type
  HAVING sum(CAST(value AS DECIMAL(14,2))) > CAST({DPP_AVG_FLOOR} AS DECIMAL(14,2)) * count(*)
)
SELECT e.event_type, count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
       CAST(max(d.s) AS DOUBLE) AS dim_sum
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type
"""


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    classic screen for fabricated or truncated numeric columns in an
    incoming feed (organic multiplicative data follows
    P(d) = log10(1 + 1/d); uniform or hand-entered data does not).

    The first digit is taken from the DECIMAL's string form — never
    via log10/division, whose float edges at exact powers of ten
    would disagree between engines on boundary values.  Expected
    shares and the per-digit deviation are the only float math, on
    identical inputs.  Scale: one scan, 9-row aggregate, map-side
    partials."""
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(F.col("o_totalprice").cast(DECM).cast("string"), 1, 1).alias(
            "digit"
        )
    )
    tot = Window.partitionBy()
    return (
        o.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", F.round(F.col("n") / F.sum("n").over(tot), 9))
        .withColumn(
            "benford_share",
            F.round(F.log10(1 + 1 / F.col("digit").cast("double")), 9),
        )
        .withColumn(
            "abs_dev", F.round(F.abs(F.col("share") - F.col("benford_share")), 9)
        )
        .select("digit", "n", "share", "benford_share", "abs_dev")
    )


_BENFORD_ORACLE = """
WITH d AS (
  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR), 1, 1) AS digit
  FROM orders
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
t AS (SELECT sum(n) AS total FROM c)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / total, 9) AS share,
       round(log10(1 + 1 / CAST(digit AS DOUBLE)), 9) AS benford_share,
       round(abs(round(CAST(n AS DOUBLE) / total, 9)
                 - round(log10(1 + 1 / CAST(digit AS DOUBLE)), 9)), 9) AS abs_dev
FROM c, t
"""


_PRUNE_IN_LIST = ", ".join(f"'{t}'" for t in PRUNE_KEEP_TYPES)

_PARTITION_PRUNE_ORACLE = f"""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ({_PRUNE_IN_LIST})
GROUP BY event_type
"""


def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with an EXPLICIT tie-break: the most
    frequent user per event type (smallest user_id wins count ties).
    Native ``mode()`` exists on both engines but leaves ties
    engine-defined — the same reproducibility hole as unsorted
    collect_set (:func:`agg_array_collect`), so the contract spells it
    as count + row_number over a total order.

    Scale: two keyed aggs (type,user) then a per-type top-1 window over
    the already-aggregated (bounded) table — the window never sees raw
    events."""
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("mode_user"), F.col("n").alias("mode_n"))
    )


_AGG_MODE_ORACLE = """
SELECT event_type, user_id AS mode_user, n AS mode_n FROM (
  SELECT event_type, user_id, count(*) AS n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY count(*) DESC, user_id) AS rn
  FROM events GROUP BY event_type, user_id
) WHERE rn = 1
"""


def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join left UNSALTED, with skew handling delegated to
    ADAPTIVE QUERY EXECUTION: events.event_type has 5 values over the
    whole fact table, so the shuffle join funnels each type through
    one reducer — at 100 TB that reducer is the job.  AQE's skew rule
    (``OptimizeSkewedJoin``) splits any reduce partition larger than
    max(``skewedPartitionFactor`` × median, threshold) into groups of
    map outputs, duplicating the matching rows of the other side —
    the answer for skew you did not predict; :func:`join_skew_salted`
    is the portable manual form for skew you did.

    Two shape constraints make this the canonical AQE-skew demo:
    the ``merge`` hint keeps the small seed side out of a broadcast
    (broadcast joins have no skew problem), and BOTH join inputs are
    plain filtered scans — the rule's pattern only matches a
    sort-merge join whose children are Sort directly over a shuffle
    stage, so an aggregate between shuffle and join would disable the
    rewrite entirely.  At test scale partitions sit far below the
    default 256 MB threshold so no split fires in the normal run; the
    plan-shape test (tests/test_relational.py::test_aqe_skew_join_split)
    stages events as a multi-file parquet (multiple map outputs are
    the split unit), lowers the thresholds to byte scale, and asserts
    ``skew=true`` in the final adaptive plan.  The result is identical
    either way — which is exactly the point of AQE.
    """
    ev = load_table(spark, sf_dir, "events")
    seeds = ev.where(F.col("event_id") < 100).select(
        "event_type", F.col("event_id").alias("seed_id")
    )
    return (
        ev.join(seeds.hint("merge"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("seed_id").alias("first_seed"),
        )
    )


_JOIN_SKEW_AQE_ORACLE = """
SELECT e.event_type, count(*) AS n_pairs, min(s.seed_id) AS first_seed
FROM events e
JOIN (SELECT event_type, event_id AS seed_id FROM events WHERE event_id < 100) s
  ON e.event_type = s.event_type
GROUP BY e.event_type
"""


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt): per-returnflag decimal sums of
    three measures, then ``DataFrame.unpivot`` turns the 3 measure
    columns into (measure, value) rows — the inverse of
    :func:`agg_pivot`.  Unpivot is a zero-shuffle projection (each row
    expands to 3 in place), so the only exchange is the aggregation's.
    """
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(14,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(16,2)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(12,4)")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


_AGG_UNPIVOT_ORACLE = """
WITH w AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS sum_price,
         CAST(sum(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w
"""


def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket analogue): bin event values
    into width-50 buckets per event type, with count and exact decimal
    mass per bin.  One map-side bucket computation + one keyed
    aggregation — the canonical distribution-profiling scan, linear at
    any scale.  ``floor(value/50.0)`` is pure IEEE double math, bit-
    identical on both engines."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


_EVENTS_HISTOGRAM_ORACLE = """
SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def dq_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram — what ``ANALYZE`` builds for the
    optimizer, next to :func:`events_histogram`'s equi-WIDTH scan:
    per event type, three exact ``percentile_disc`` cutoffs split the
    value column into four buckets of ~equal population, reported with
    per-bucket count, bounds and the cutoffs themselves.  Near-equal
    bucket counts are the property a selectivity estimator relies on;
    skew between them exposes heavy duplicate values.

    percentile_disc PICKS data elements (bit-equal across engines —
    the RFM precedent), so the bucket comparison `value > cutoff` is
    exact double equality-ordering, no interpolation float risk.
    Scale: one keyed cutoff agg (5 rows) broadcast back into a single
    scan + keyed rollup."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)"
            ).alias(f"q{i}")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    b = (
        (F.col("value") > F.col("q1")).cast("int")
        + (F.col("value") > F.col("q2")).cast("int")
        + (F.col("value") > F.col("q3")).cast("int")
    )
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.max("q2").alias("median_cut"),
        )
    )


_EQUIDEPTH_ORACLE = """
WITH cuts AS (
  SELECT event_type,
         quantile_disc(value, 0.25) AS q1,
         quantile_disc(value, 0.5) AS q2,
         quantile_disc(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST((e.value > c.q1) AS INT) + CAST((e.value > c.q2) AS INT)
         + CAST((e.value > c.q3) AS INT) AS bucket,
       count(*) AS n,
       min(e.value) AS lo,
       max(e.value) AS hi,
       max(c.q2) AS median_cut
FROM events e JOIN cuts c USING (event_type)
GROUP BY 1, 2
"""


def table_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style keep-latest merge (upsert): a snapshot (version 1) is
    merged with a change batch (version 2: every 7th order re-priced
    and re-statused, plus net-new rows under shifted keys); the winner
    per key is the highest version.  This is ``MERGE INTO`` expressed
    as union + one keyed window — the shape that works on any Spark
    sink, not just ACID table formats: at 100 TB the union streams,
    the window is one hash shuffle on the merge key, and nothing is
    rewritten except the merged output itself.

    The result is the per-status profile of the merged table (counts
    + exact decimal price checksum), so the oracle pins both which
    rows won and that losers' values leaked nowhere."""
    o = load_table(spark, sf_dir, "orders")
    snap = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(DECM).alias("price"),
        F.lit(1).alias("version"),
    )
    upd = (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice").cast(DECM) + F.lit(100).cast(DECM)).alias("price"),
            F.lit(2).alias("version"),
        )
    )
    # net-new insert keys offset by the next power of 10 ABOVE the live
    # key range — a fixed constant (the old +1e8) collides with real
    # o_orderkey around sf≈17 and silently degrades inserts to updates
    ins = (
        o.where(F.col("o_orderkey") % 11 == 0)
        .crossJoin(F.broadcast(_orderkey_base(o)))
        .select(
            (F.col("o_orderkey") + F.col("keybase")).alias("o_orderkey"),
            F.lit("I").alias("o_orderstatus"),
            F.col("o_totalprice").cast(DECM).alias("price"),
            F.lit(2).alias("version"),
        )
    )
    merged = snap.unionByName(upd).unionByName(ins)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    latest = merged.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return latest.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("sum_price"),
    )


def _orderkey_base(o: DataFrame) -> DataFrame:
    """Insert-key namespace above max(o_orderkey) — see
    :func:`sources.tables.power10_base` (the shared mechanism)."""
    from ..sources.tables import power10_base

    return power10_base(o, "o_orderkey", alias="keybase")


#: oracle-side twin of :func:`_orderkey_base`
_ORACLE_KEYBASE = (
    "SELECT CAST(power(10, ceil(log10(max(o_orderkey) + 1))) AS BIGINT)"
    " AS keybase FROM orders"
)


_UPSERT_ORACLE = f"""
WITH kb AS ({_ORACLE_KEYBASE}),
snap AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(14,2)) AS price, 1 AS version
  FROM orders
), upd AS (
  SELECT o_orderkey, 'U', CAST(o_totalprice AS DECIMAL(14,2)) + CAST(100 AS DECIMAL(14,2)), 2
  FROM orders WHERE o_orderkey % 7 = 0
), ins AS (
  SELECT o_orderkey + kb.keybase, 'I', CAST(o_totalprice AS DECIMAL(14,2)), 2
  FROM orders, kb WHERE o_orderkey % 11 = 0
), merged AS (
  SELECT * FROM snap UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins
), latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
    FROM merged
  ) WHERE rn = 1
)
SELECT o_orderstatus, count(*) AS n_rows,
       CAST(sum(price) AS DOUBLE) AS sum_price
FROM latest GROUP BY o_orderstatus
"""


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment analysis end-to-end: deterministic hash
    assignment (md5(user_id) % 2 — the same never-rand() discipline as
    pipeline_hash_split, so arms are stable across reruns and engines),
    per-user purchase-revenue outcome, and the per-arm comparison with
    a Welch z statistic — the readout every experimentation platform
    computes.

    Determinism: per-arm n/Σv/Σv² come from exact decimal sums (users
    with no purchases count as 0 — dropping them would bias the arms);
    the mean/variance/z combination runs in doubles with the IDENTICAL
    op sequence on both engines, rounded 9 dp (agg_corr_exact
    precedent).  Scale: one keyed agg to per-user outcomes, one 2-group
    agg, one broadcast cross of two single rows — nothing global ever
    sorts.

    Numeric bound: the per-user outcome v is deliberately narrowed
    back to DECIMAL(18,4) so v² fits Spark's precision-38 product —
    valid while one user's revenue stays under 10^14 (any realistic
    margin).  The DuckDB side widens one operand to DECIMAL(19,4)
    because DuckDB runs DECIMAL(18)×DECIMAL(18) on an int64 fast path
    that the 10× generalization fixture's skewed hot user overflowed
    (docs/altfixture_r9.md — v is a volume-dependent AGGREGATE, unlike
    the per-row domain-bounded products elsewhere)."""
    from ..functions.text import md5_bucket

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", dec("value"))),
            F.lit(0).cast(DEC),
        )
        .cast(DEC)
        .alias("v")
    )
    arms = per_user.select(
        md5_bucket(F.col("user_id"), 2, salt="ab").alias("arm"), "v"
    )
    stats = arms.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,8)")).alias("ss"),
    )
    a = stats.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("ss").alias("ss_a")
    )
    b = stats.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("ss").alias("ss_b")
    )
    j = a.crossJoin(F.broadcast(b))

    def _mv(n, s, ss):
        nd = F.col(n).cast("double")
        mean = F.col(s).cast("double") / nd
        # n=1 leaves (n-1)=0 in the denominator; Spark (NULL / ANSI
        # DIVIDE_BY_ZERO) and DuckDB (inf) disagree there, so the
        # variance is explicitly NULL below 2 samples — the
        # dedup_recall_eval 0/0 guard pattern, mirrored in the oracle.
        var = F.when(
            nd > F.lit(1.0),
            (F.col(ss).cast("double") - F.col(s).cast("double") * F.col(s).cast("double") / nd) / (nd - F.lit(1.0)),
        )
        return nd, mean, var

    na, ma, va = _mv("n_a", "s_a", "ss_a")
    nb, mb, vb = _mv("n_b", "s_b", "ss_b")
    # two constant arms (zero pooled variance) would be 0/0 — NULL z on
    # both engines rather than engine-specific inf/NaN
    denom2 = va / na + vb / nb
    z = F.when(denom2 > F.lit(0.0), (ma - mb) / F.sqrt(denom2))
    return j.select(
        "n_a",
        "n_b",
        F.round(ma, 9).alias("mean_a"),
        F.round(mb, 9).alias("mean_b"),
        F.round(z, 9).alias("welch_z"),
    )


def _ab_test_oracle() -> str:
    from ..functions.text import duck_md5_long

    arm = f"{duck_md5_long('CAST(user_id AS VARCHAR)', salt='ab')} % 2"
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(value AS DECIMAL(18,4)) END),
                       0) AS DECIMAL(18,4)) AS v
  FROM events GROUP BY user_id
),
arms AS (SELECT {arm} AS arm, v FROM per_user),
stats AS (
  SELECT arm, count(*) AS n,
         sum(v) AS s,
         -- widen ONE operand to DECIMAL(19,4): DuckDB multiplies
         -- DECIMAL(18)xDECIMAL(18) on the int64 fast path and the
         -- per-user revenue SUM grows with data volume — raw v² blew
         -- past 10^18 on the 10x generalization fixture (alt4).  19+18
         -- forces the hugeint path; Spark's product is already
         -- DECIMAL(37,8).
         sum(CAST(CAST(v AS DECIMAL(19,4)) * v AS DECIMAL(38,8))) AS ss
  FROM arms GROUP BY arm
),
j AS (
  SELECT a.n AS n_a, a.s AS s_a, a.ss AS ss_a,
         b.n AS n_b, b.s AS s_b, b.ss AS ss_b
  FROM (SELECT * FROM stats WHERE arm = 0) a,
       (SELECT * FROM stats WHERE arm = 1) b
)
, mv AS (
  -- n=1 / zero-variance guards mirror the Spark F.when() NULLs: the
  -- raw form divides by (n-1) and sqrt(0), where the engines disagree
  SELECT n_a, n_b,
         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
         CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
         CASE WHEN CAST(n_a AS DOUBLE) > 1.0
              THEN (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)
         END AS var_a,
         CASE WHEN CAST(n_b AS DOUBLE) > 1.0
              THEN (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)
         END AS var_b
  FROM j
)
SELECT n_a, n_b,
       round(mean_a, 9) AS mean_a,
       round(mean_b, 9) AS mean_b,
       round(CASE WHEN var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) > 0.0
                  THEN (mean_a - mean_b)
                       / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
             END, 9) AS welch_z
FROM mv
"""


def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — ``listagg(...) WITHIN GROUP
    (ORDER BY ...)``, new in Spark 4 (SPARK-42746): per market segment,
    the '|'-joined list of its top-5 customers by account balance.

    Determinism: listagg without WITHIN GROUP concatenates in
    shuffle order (never reproducible) — the contract REQUIRES the
    explicit ORDER BY, with (c_acctbal DESC, c_custkey) a total order.
    Scale: the top-5 filter is a keyed window (one shuffle on
    mktsegment after a per-partition top-k), and the listagg state is
    bounded by k, not group size — unbounded listagg over a hot group
    is the well-known OOM shape, so cap-then-aggregate is the 100 TB
    discipline this query encodes."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    top = c.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    return top.groupBy("c_mktsegment").agg(
        F.expr(
            "listagg(cast(c_custkey as string), '|') "
            "WITHIN GROUP (ORDER BY c_acctbal DESC, c_custkey ASC)"
        ).alias("top_custkeys"),
        F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("top_acctbal"),
    )


_LISTAGG_ORACLE = """
WITH top AS (
  SELECT * FROM (
    SELECT c_mktsegment, c_custkey, c_acctbal,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
    FROM customer
  ) WHERE rn <= 5
)
SELECT c_mktsegment,
       string_agg(CAST(c_custkey AS VARCHAR), '|'
                  ORDER BY c_acctbal DESC, c_custkey ASC) AS top_custkeys,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS top_acctbal
FROM top GROUP BY c_mktsegment
"""


def table_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics over a CDC change log — insert + update +
    DELETE (the op table_upsert_latest leaves out): the snapshot merges
    with a change batch carrying an op column (U = re-price, D = every
    13th order tombstoned, I = net-new keys), the winner per key is the
    newest version, and winners whose final op is a delete are dropped
    from the merged table entirely.

    This is ``MERGE INTO`` for any sink, not just ACID formats: at
    100 TB the union streams, the keep-latest decision is ONE keyed
    window (same spec as the SCD build), and tombstones cost nothing
    extra — the delete is just a row that wins and is then filtered.
    The output profiles the merged table per status with an exact
    decimal checksum, so the oracle pins that deleted keys vanished
    and no loser's values leaked."""
    o = load_table(spark, sf_dir, "orders")
    snap = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(DECM).alias("price"),
        F.lit("I").alias("op"),
        F.lit(1).alias("version"),
    )
    upd = (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice").cast(DECM) + F.lit(100).cast(DECM)).alias("price"),
            F.lit("U").alias("op"),
            F.lit(2).alias("version"),
        )
    )
    dels = (
        o.where(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            F.lit("D").alias("o_orderstatus"),
            F.lit(0).cast(DECM).alias("price"),
            F.lit("D").alias("op"),
            F.lit(2).alias("version"),
        )
    )
    # insert keys ride the max-derived power-of-10 namespace (see
    # _orderkey_base) so they can never collide with snapshot /
    # update / delete keys at any scale factor
    ins = (
        o.where(F.col("o_orderkey") % 11 == 0)
        .crossJoin(F.broadcast(_orderkey_base(o)))
        .select(
            (F.col("o_orderkey") + F.col("keybase")).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("o_totalprice").cast(DECM).alias("price"),
            F.lit("I").alias("op"),
            F.lit(2).alias("version"),
        )
    )
    merged = snap.unionByName(upd).unionByName(dels).unionByName(ins)
    # delete beats update at the same version: op desc ('U' > 'I', 'D'
    # handled by putting it highest via explicit rank) — use a
    # deterministic (version, op_rank) order so ties cannot flip
    op_rank = F.when(F.col("op") == "D", 2).when(F.col("op") == "U", 1).otherwise(0)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.desc("version"), F.desc(op_rank)
    )
    latest = merged.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    alive = latest.where(F.col("op") != "D")
    return alive.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("sum_price"),
    )


_MERGE_CDC_ORACLE = f"""
WITH kb AS ({_ORACLE_KEYBASE}),
snap AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(14,2)) AS price,
         'I' AS op, 1 AS version
  FROM orders
), upd AS (
  SELECT o_orderkey, 'U', CAST(o_totalprice AS DECIMAL(14,2)) + CAST(100 AS DECIMAL(14,2)),
         'U', 2
  FROM orders WHERE o_orderkey % 7 = 0
), dels AS (
  SELECT o_orderkey, 'D', CAST(0 AS DECIMAL(14,2)), 'D', 2
  FROM orders WHERE o_orderkey % 13 = 0
), ins AS (
  SELECT o_orderkey + kb.keybase, 'N', CAST(o_totalprice AS DECIMAL(14,2)), 'I', 2
  FROM orders, kb WHERE o_orderkey % 11 = 0
), merged AS (
  SELECT * FROM snap UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM dels UNION ALL SELECT * FROM ins
), latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_orderkey
      ORDER BY version DESC,
               CASE WHEN op = 'D' THEN 2 WHEN op = 'U' THEN 1 ELSE 0 END DESC) AS rn
    FROM merged
  ) WHERE rn = 1
)
SELECT o_orderstatus, count(*) AS n_rows,
       CAST(sum(price) AS DOUBLE) AS sum_price
FROM latest WHERE op <> 'D' GROUP BY o_orderstatus
"""


ZSCORE_LOOKBACK = 20


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's value against
    the trailing 20 events of its type (frame excludes the current
    row); emit events beyond 3 sigma.  The canonical streaming-ish
    outlier scan done as one keyed window — no self-join, no state.

    Determinism: the rolling mean/variance come from exact decimal
    sums over the frame (sum, sum-of-squares), with one final double
    expression per row — the same discipline as agg_stats, so sliding
    accumulation order can never flip a bit.  Scale: one hash shuffle
    on event_type; the frame is O(1) per row."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZSCORE_LOOKBACK, -1)
    )
    vd = F.col("value").cast(DEC)
    s1 = F.sum(vd).over(w).cast("double")
    s2 = F.sum(vd * vd).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.select(
            "event_id",
            "event_type",
            "value",
            n.alias("n_window"),
            F.when((n == ZSCORE_LOOKBACK) & (var > 0), z).alias("zscore"),
        )
        .where(F.col("zscore").isNotNull() & (F.abs("zscore") > 3))
        .select("event_id", "event_type", "value", "zscore")
    )


_ANOMALY_ORACLE = f"""
WITH stats AS (
  SELECT event_id, event_type, value,
         count(*) OVER w AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s1,
         CAST(sum(CAST(value AS DECIMAL(28,4)) * CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE) AS s2
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
),
-- sqrt only under a lazy CASE (round-10 oracle audit): AND conjuncts
-- carry no evaluation-order guarantee, so the previous spelling could
-- evaluate sqrt(var) on a constant-value window whose cancellation
-- lands var epsilon-NEGATIVE — a hard DuckDB Out-of-Range error the
-- `var > 0` conjunct does not reliably fence off.  CASE THEN is the
-- SQL-standard lazy construct; the var > 0 decision itself is made on
-- doubles bit-identical to Spark's, which keeps exact parity with the
-- F.when() guard on the Spark side.
scored AS (
  SELECT event_id, event_type, value,
         CASE WHEN n = {ZSCORE_LOOKBACK}
                   AND (s2 - s1 * s1 / n) / (n - 1) > 0
              THEN (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))
         END AS zscore
  FROM stats
)
SELECT event_id, event_type, value, zscore
FROM scored
WHERE zscore IS NOT NULL AND abs(zscore) > 3
"""


def join_cross_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense reporting matrix: CROSS JOIN of two small dimensions
    (region × order priority) left-joined to the observed counts, so
    empty cells appear as zero instead of vanishing — the standard
    fix for sparse group-by output feeding dashboards/exports.

    Scale: the cross product of two bounded dims is tiny and both
    sides of the final join broadcast; the only real work is the
    fact-side aggregation, which shuffles once on the pair key."""
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    prios = orders.select("o_orderpriority").distinct()
    cells = region.crossJoin(prios)
    counts = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        cells.join(
            counts,
            (cells.r_regionkey == counts.n_regionkey)
            & (cells.o_orderpriority == counts.o_orderpriority),
            "left",
        )
        .select(
            "r_name",
            cells.o_orderpriority.alias("priority"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


_CROSS_DIMS_ORACLE = """
WITH cells AS (
  SELECT r.r_regionkey, r.r_name, p.o_orderpriority
  FROM region r CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
), counts AS (
  SELECT n.n_regionkey, o.o_orderpriority, count(*) AS n
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT cells.r_name, cells.o_orderpriority AS priority,
       coalesce(counts.n, 0) AS n_orders
FROM cells LEFT JOIN counts
  ON cells.r_regionkey = counts.n_regionkey
 AND cells.o_orderpriority = counts.o_orderpriority
"""


def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection preserving duplicate
    counts: nation keys that appear in both the customer and supplier
    populations, kept min(count_c, count_s) times.  Completes the set-
    op family (union/intersect/except are already distinct-flavored).
    Scale: one shuffle per side on the full row as key, like any
    set op."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_common"))


_INTERSECT_ALL_ORACLE = """
SELECT nationkey, count(*) AS n_common FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT ALL
  SELECT s_nationkey FROM supplier
) GROUP BY nationkey
"""


def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference preserving duplicate counts:
    for each nation, how many customer rows SURVIVE after cancelling
    one-for-one against supplier rows (max(count_c - count_s, 0) —
    the bag semantics, where distinct-flavored EXCEPT would just drop
    the key entirely).  Completes the set-op family alongside
    :func:`setop_intersect_all`.  Scale: one shuffle per side on the
    full row as key, like any set op."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_surplus"))


_EXCEPT_ALL_ORACLE = """
SELECT nationkey, count(*) AS n_surplus FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL
  SELECT s_nationkey FROM supplier
) GROUP BY nationkey
"""


#: Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the SQL
#: spelling of topk_per_group; identical text runs on both engines
#: (Spark lateral subqueries since 3.2/4.x, DuckDB LATERAL).  Catalyst
#: decorrelates this into a ranked window join — plan-asserted in
#: tests, so the "lateral loop" never actually executes per-row.
_LATERAL_TOPK_SQL = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t
"""

sql_lateral_topk = _sql_query(_LATERAL_TOPK_SQL)


#: (column, string-conversion SQL fragment) pairs for the DQ profile —
#: conversions chosen so both engines render the identical string
#: (decimals print canonically on both; raw doubles would not).
_DQ_COLUMNS = (
    ("o_orderkey", "CAST({c} AS VARCHAR)", "CAST({c} AS BIGINT)"),
    ("o_custkey", "CAST({c} AS VARCHAR)", "CAST({c} AS BIGINT)"),
    ("o_orderstatus", "{c}", "{c}"),
    ("o_totalprice", "CAST(CAST({c} AS DECIMAL(14,2)) AS VARCHAR)", "CAST({c} AS DECIMAL(14,2))"),
)


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile — the audit gate in front of every
    ingestion job: per-column null count, exact distinct count, and
    min/max, in ONE aggregation pass over the table (Catalyst expands
    the multi-distinct into one Expand + aggregate, not N scans),
    emitted long-form as (column_name, metric, value) strings.

    Scale: a single scan + one aggregation; exact count_distinct is
    the expensive honest choice (the sketch variant is
    agg_approx_distinct) — at 100 TB you run this per ingest batch,
    not per query."""
    o = load_table(spark, sf_dir, "orders")
    aggs, fields = [], []
    for col, _, minmax in _DQ_COLUMNS:
        mm = minmax.format(c=col)
        aggs += [
            F.sum(F.isnull(col).cast("long")).alias(f"{col}__nulls"),
            F.count_distinct(F.col(col)).alias(f"{col}__distinct"),
            F.min(F.expr(mm)).cast("string").alias(f"{col}__min"),
            F.max(F.expr(mm)).cast("string").alias(f"{col}__max"),
        ]
        for metric in ("nulls", "distinct", "min", "max"):
            fields.append(
                F.struct(
                    F.lit(col).alias("column_name"),
                    F.lit(metric).alias("metric"),
                    F.col(f"{col}__{metric}").cast("string").alias("value"),
                )
            )
    wide = o.agg(*aggs)
    return wide.select(F.explode(F.array(*fields)).alias("r")).select(
        "r.column_name", "r.metric", "r.value"
    )


def _dq_oracle() -> str:
    aggs, rows = [], []
    for col, to_str, minmax in _DQ_COLUMNS:
        mm = minmax.format(c=col)
        aggs += [
            f"sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS {col}__nulls",
            f"count(DISTINCT {col}) AS {col}__distinct",
            f"min({mm}) AS {col}__min",
            f"max({mm}) AS {col}__max",
        ]
        for metric in ("nulls", "distinct", "min", "max"):
            rows.append(
                f"SELECT '{col}' AS column_name, '{metric}' AS metric, "
                f"CAST({col}__{metric} AS VARCHAR) AS value FROM a"
            )
    return "WITH a AS (SELECT " + ", ".join(aggs) + " FROM orders)\n" + "\nUNION ALL ".join(rows)


def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-rollup maintenance: two disjoint pre-aggregated
    partials (old data / new batch, split here by orderkey parity) are
    MERGED by re-summing — never by touching raw rows again.  Passing
    against the direct-aggregation oracle proves the aggregate state
    is algebraic (decimal sums and counts merge exactly), which is the
    property incremental pipelines and materialized-view maintenance
    rely on at 100 TB: the daily job aggregates only the new
    partition, then merges partials."""
    li = load_table(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast(DEC)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.sum(qd).alias("p_sum"), F.count(F.lit(1)).alias("p_n")
        )

    old = partial(li.where(F.col("l_orderkey") % 2 == 0))
    new = partial(li.where(F.col("l_orderkey") % 2 == 1))
    return (
        old.unionByName(new)
        .groupBy("l_returnflag")
        .agg(
            F.sum("p_sum").cast("double").alias("sum_qty"),
            F.sum("p_n").alias("n_rows"),
        )
    )


_INCREMENTAL_MERGE_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


#: OHLC bar width: 1 hour of event time, in microseconds.
OHLC_BUCKET_US = 3_600_000_000


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: per (event_type, 1-hour bucket) the
    first/max/min/last ``value`` plus the trade count — the classic
    market-data downsample (and the time-series twin of
    :func:`events_histogram`).

    Determinism: open/close are PICKED values — min/max of a
    (ts-micros, event_id, value) struct whose lexicographic order is
    total (event_id is unique) — never arithmetic, so doubles pass
    through bit-identical.  Scale: min/max-of-struct are ordinary
    aggregates with map-side partials, so the whole bar computation is
    ONE keyed exchange (struct-typed min/max plans as SortAggregate —
    in-partition sorts by group key, no extra shuffle) — strictly
    cheaper than the window formulation (sort + full-frame window +
    distinct = three exchanges; plan-asserted in tests); the struct
    trick is how first/last-by should be spelled when the engine lacks
    arg_min over compound keys."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.expr(f"unix_micros(ts) div {OHLC_BUCKET_US}").alias("bucket"),
        F.expr("struct(unix_micros(ts) AS tu, event_id AS eid, value AS v)").alias("k"),
    )
    return (
        ev.groupBy("event_type", "bucket")
        .agg(
            F.min("k").getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("k").getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


_OHLC_ORACLE = f"""
SELECT event_type,
       epoch_us(ts) // {OHLC_BUCKET_US} AS bucket,
       struct_extract(min({{'tu': epoch_us(ts), 'eid': event_id, 'v': value}}), 'v') AS open,
       max(value) AS high,
       min(value) AS low,
       struct_extract(max({{'tu': epoch_us(ts), 'eid': event_id, 'v': value}}), 'v') AS close,
       count(*) AS n_trades
FROM events
GROUP BY event_type, epoch_us(ts) // {OHLC_BUCKET_US}
"""


#: EWMA lookback (rows) and the integer weight base: weight of the i-th
#: most recent row is 2^(EWMA_K-1-i), i.e. alpha = 1/2 truncated at K
#: rows.  Integer weights keep the whole numerator/denominator exact.
EWMA_K = 10


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of ``value`` per
    event_type, truncated at the last {K} rows — the smoothing pass a
    feature pipeline runs after :func:`events_resample_ffill`.

    Determinism: ``value`` is an exact 2-decimal double, so it converts
    losslessly to integer cents; weights are powers of two, so the
    weighted numerator and the denominator are exact BIGINT sums over a
    lag chain with a (ts, event_id) total order.  The ONLY IEEE
    operation is the final single division — bit-identical on both
    engines.  Scale: lag is one keyed window sort (one shuffle on
    event_type); the K-term chain is pure codegen, no extra pass per
    term."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.expr("unix_micros(ts)").alias("tu"),
    )
    w = Window.partitionBy("event_type").orderBy("tu", "event_id")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for i in range(EWMA_K):
        weight = 1 << (EWMA_K - 1 - i)
        lagged = F.lag("cents", i).over(w)
        num = num + F.coalesce(lagged, F.lit(0)) * F.lit(weight)
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    # den == 0 iff every contributing value (incl. the row's own) is
    # NULL — an all-NULL value column is legal input (round-11 all-NULL
    # audit); unguarded, the division is an ANSI DIVIDE_BY_ZERO error
    # on Spark and a silent NULL on DuckDB.  EWMA of no observations
    # is NULL, guarded identically on both engines.
    return (
        ev.select(
            "event_id",
            "event_type",
            F.when(
                den > 0, num.cast("double") / (den * 100).cast("double")
            ).alias("ewma"),
        )
    )


def _ewma_oracle() -> str:
    num_terms = " + ".join(
        f"coalesce(lag(cents, {i}) OVER w, 0) * {1 << (EWMA_K - 1 - i)}"
        for i in range(EWMA_K)
    )
    den_terms = " + ".join(
        f"CASE WHEN lag(cents, {i}) OVER w IS NOT NULL THEN {1 << (EWMA_K - 1 - i)} ELSE 0 END"
        for i in range(EWMA_K)
    )
    return f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS tu
  FROM events
)
SELECT event_id, event_type,
       CASE WHEN ({den_terms}) > 0
            THEN CAST({num_terms} AS DOUBLE) / CAST(({den_terms}) * 100 AS DOUBLE)
       END AS ewma
FROM ev
WINDOW w AS (PARTITION BY event_type ORDER BY tu, event_id)
"""


def join_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join over part names: all DISTINCT
    name pairs within Levenshtein distance 1, found by
    deletion-neighborhood blocking (FastSS, Bocek et al. 2007): two
    strings within distance 1 share at least one member of
    {{s}} ∪ {{s minus one char}}, so generating |s|+1 variant keys per
    name and hash-joining on the key yields a complete candidate set —
    no quadratic all-pairs scan, unlike a naive theta-join.

    Scale: candidate generation is a narrow map (|s|+1 rows per
    distinct name), the variant join is one hash shuffle on short
    string keys, and the exact ``levenshtein`` verify runs only on the
    bounded candidate pairs — the same candidates-then-verify shape as
    the MinHash and SimHash paths in ``dedup.py``."""
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name").distinct()
    )
    vars_ = names.select(
        F.col("p_name"),
        F.explode(
            F.expr(
                "transform(sequence(0, length(p_name)), "
                "i -> concat(substr(p_name, 1, i), substr(p_name, i + 2)))"
            )
        ).alias("v"),
    )
    a = vars_.alias("a")
    b = vars_.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.p_name") < F.col("b.p_name")))
        .select(F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b"))
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).where(F.col("dist") <= 1)


_EDIT_DISTANCE_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part),
vars AS (
  SELECT p_name, unnest(list_transform(generate_series(0, length(p_name)),
         i -> substr(p_name, 1, i) || substr(p_name, i + 2))) AS v
  FROM names
),
cand AS (
  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
  FROM vars a JOIN vars b ON a.v = b.v AND a.p_name < b.p_name
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 1
"""


def agg_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped set-collection: per user, the SORTED array of distinct
    event types plus its size — ``collect_set`` + ``array_sort``, the
    building block for per-entity feature vectors and audience lists.

    Determinism: collect_set order is engine- and shuffle-dependent, so
    the contract REQUIRES the explicit sort — the test strategy itself
    encodes the rule that unsorted collected arrays are not
    reproducible.  Scale: one keyed shuffle with partial (map-side) set
    merging; per-group arrays are bounded by the event-type vocabulary,
    not the event count.

    Output contract: the array is serialized as a '|'-joined string —
    top-level ARRAY columns are not hashable by downstream pandas
    canonicalizers (verified: numpy.ndarray cells break sort_values),
    so every registered query exposes scalars only."""
    collected = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types_arr"))
    )
    return collected.select(
        "user_id",
        F.array_join("types_arr", "|").alias("types"),
        F.size("types_arr").cast("int").alias("n_types"),
    )


_ARRAY_COLLECT_ORACLE = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types,
       CAST(len(list(DISTINCT event_type)) AS INTEGER) AS n_types
FROM events GROUP BY user_id
"""


#: Recursive-CTE BOM rollup over the implicit part 10-ary tree
#: (parent(p) = floor((p-1)/10), root 0): the ancestor closure built by
#: iteration, then a subtree size/price rollup per node.  The SQL is
#: dialect-intersection (no ``div``/``//``) so the IDENTICAL text runs
#: on Spark (recursive CTEs since 4.0, SPARK-24497) and DuckDB.
#: Scale: recursion depth is log10(|part|) — 7 iterations at 10M parts;
#: each step is a narrow map over the frontier, and the rollup is one
#: keyed agg with an exact decimal sum.
_RECURSIVE_BOM_SQL = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS pk, p_partkey AS anc, 0 AS depth FROM part
  UNION ALL
  SELECT a.pk, CAST(floor((a.anc - 1) / 10.0) AS BIGINT), a.depth + 1
  FROM anc a WHERE a.anc > 0
)
SELECT a.anc AS p_partkey,
       count(*) AS subtree_size,
       CAST(max(a.depth) AS INTEGER) AS max_rel_depth,
       CAST(sum(CAST(p.p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS subtree_price
FROM anc a JOIN part p ON p.p_partkey = a.pk
GROUP BY a.anc
"""

sql_recursive_bom = _sql_query(_RECURSIVE_BOM_SQL)


#: rolling-distinct lookback (rows)
ROLLING_DISTINCT_K = 5


def window_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct count: per user, how many DISTINCT event types
    the last {K} events span — the short-horizon behavioral-diversity
    feature.  Spark has no DISTINCT window aggregate, so the idiomatic
    spelling is ``size(collect_set() OVER frame)`` — the set dedups
    inside the frame buffer; the oracle uses DuckDB's native
    ``count(DISTINCT) OVER``.  Scale: one keyed window sort; the frame
    buffer is K rows, independent of user history length."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("tu"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tu", "event_id")
        .rowsBetween(-(ROLLING_DISTINCT_K - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("int").alias("n_types_window"),
    )


_WINDOW_DISTINCT_ORACLE = f"""
SELECT event_id, user_id,
       CAST(count(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ROWS BETWEEN {ROLLING_DISTINCT_K - 1} PRECEDING AND CURRENT ROW
       ) AS INTEGER) AS n_types_window
FROM events
"""


#: market-basket result size
BASKET_TOP_N = 20


SEQ_RULES_TOPK = 20

#: Per-customer recent-history cap for sequential mining — the GSP-
#: style horizon that keeps a power-law customer's pair fan-out at
#: ≤ cap² (4096) instead of quadratic in their unbounded history.
#: 64 BINDS at the test fixtures (max per-customer history is 93 rows
#: at sf0.01 / 105 at sf0.1, p99 ≈ 77), so the clipped path is
#: oracle-verified, not dead code.
SEQ_HISTORY_CAP = 64


def basket_sequence_rules(
    spark: SparkSession, sf_dir: str, history_cap: int = SEQ_HISTORY_CAP
) -> DataFrame:
    """SEQUENTIAL pattern mining — the temporal sibling of
    :func:`basket_pairs`: "customers who bought X later bought Y",
    where co-occurrence mining would also count Y-then-X.  Support is
    the number of distinct customers with a strictly-earlier X
    purchase date than some Y purchase date among the customer's
    {SEQ_HISTORY_CAP} most recent (part, date) purchases; top-
    {SEQ_RULES_TOPK} ordered pairs come out with support and the mean
    day gap of the TIGHTEST such (x→y) evidence per customer.

    Scale: the (customer, part, date) table is distinct-projected
    first, then clipped to each customer's ``history_cap`` most
    recent rows (row_number over the same cust key the self-join
    shuffles on — the sort adds no extra exchange), so the pair
    generation — a self-join KEYED ON CUSTOMER — is HARD-bounded at
    cap² ≈ 4k pairs per customer even under power-law purchase
    histories, never corpus-quadratic and never heavy-key quadratic.
    (basket_pairs documents the softer per-basket contract; here the
    recency horizon is also the mining semantics, à la GSP's window.)
    The per-customer tightest-gap is an exact integer min; the mean
    gap divides exact integers once at the readout."""
    cp = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
            # NTZ-safe epoch day (unix_micros rejects TIMESTAMP_NTZ)
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d"),
        )
        .distinct()
    )
    recent = Window.partitionBy("cust").orderBy(F.desc("d"), F.desc("part"))
    cp = (
        cp.withColumn("rn", F.row_number().over(recent))
        .where(F.col("rn") <= history_cap)
        .drop("rn")
    )
    pairs = (
        cp.alias("a")
        .join(
            cp.alias("b"),
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.d") < F.col("b.d"))
            & (F.col("a.part") != F.col("b.part")),
        )
        .groupBy(
            F.col("a.cust").alias("cust"),
            F.col("a.part").alias("x_part"),
            F.col("b.part").alias("y_part"),
        )
        .agg(F.min(F.col("b.d") - F.col("a.d")).alias("min_gap"))
    )
    return (
        pairs.groupBy("x_part", "y_part")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.round(
                F.sum("min_gap").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_min_gap_days"),
        )
        .orderBy(F.desc("support"), F.asc("x_part"), F.asc("y_part"))
        .limit(SEQ_RULES_TOPK)
    )


_SEQ_RULES_ORACLE = f"""
WITH cp0 AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part,
         datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cp AS (
  SELECT cust, part, d FROM (
    SELECT cust, part, d,
           row_number() OVER (PARTITION BY cust ORDER BY d DESC, part DESC) AS rn
    FROM cp0
  ) WHERE rn <= {SEQ_HISTORY_CAP}
),
pc AS (
  SELECT a.cust, a.part AS x_part, b.part AS y_part,
         min(b.d - a.d) AS min_gap
  FROM cp a JOIN cp b
    ON a.cust = b.cust AND a.d < b.d AND a.part <> b.part
  GROUP BY 1, 2, 3
)
SELECT x_part, y_part, count(*) AS support,
       round(CAST(sum(min_gap) AS DOUBLE) / count(*), 6) AS mean_min_gap_days
FROM pc GROUP BY x_part, y_part
ORDER BY support DESC, x_part ASC, y_part ASC
LIMIT {SEQ_RULES_TOPK}
"""


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: the top-{N} part pairs by
    the number of orders containing BOTH (pairwise frequent-itemset
    support over distinct presence, the first step of association-rule
    mining).

    Scale: the naive spelling is a self-join on the order key, which
    shuffles the fact table TWICE; this one instead collects each
    basket into a sorted distinct array (ONE keyed shuffle with
    map-side partial sets) and emits the pairs with an indexed
    higher-order transform — the quadratic blowup stays bounded per
    ORDER (max basket 13 items → ≤78 pairs), support counting is a
    keyed agg, and the top-N is a TakeOrdered, never a full sort.
    Ties broken by (part_a, part_b) for a total order."""
    return _top_pair_supports(spark, sf_dir, "support")


def _top_pair_supports(spark: SparkSession, sf_dir: str, alias: str) -> DataFrame:
    """The shared basket → pair-expansion → top-N pipeline behind
    :func:`basket_pairs` (raw support) and :func:`basket_lift`
    (association metrics) — ONE spelling so a fix to the expansion
    can never leave the other query stale."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("pr")
    )
    return (
        pairs.select(F.col("pr.a").alias("part_a"), F.col("pr.b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias(alias))
        .orderBy(F.desc(alias), "part_a", "part_b")
        .limit(BASKET_TOP_N)
    )


_BASKET_ORACLE = f"""
WITH present AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
FROM present a JOIN present b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY support DESC, part_a, part_b
LIMIT {BASKET_TOP_N}
"""


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over the top co-occurring part pairs:
    support, confidence(a→b) and lift — the step after
    :func:`basket_pairs` that turns raw co-occurrence into "is this
    pair MORE common than chance" (lift > 1) — the recommender/
    market-basket staple.

    Determinism: the top-20 selection orders by INTEGER support with a
    (part_a, part_b) tie-break — never by the derived doubles — and
    confidence/lift divide exact integer counts, so both engines run
    one identical IEEE division per metric.  Scale: basket collection
    is the same one-shuffle array trick as basket_pairs; item supports
    are a keyed agg; the item-support table is corpus-cardinality so
    it joins KEYED (only the bounded top-pair set is broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    top = _top_pair_supports(spark, sf_dir, "support_ab")
    present = li.select("l_orderkey", "l_partkey").distinct()
    item = present.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    sa = item.select(F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a"))
    sb = item.select(F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b"))
    j = (
        sa.join(F.broadcast(top), "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_orders))
    )
    confidence = F.col("support_ab").cast("double") / F.col("supp_a").cast("double")
    lift = (F.col("support_ab") * F.col("n_orders")).cast("double") / (
        F.col("supp_a") * F.col("supp_b")
    ).cast("double")
    return j.select(
        "part_a",
        "part_b",
        "support_ab",
        "supp_a",
        "supp_b",
        F.round(confidence, 9).alias("confidence_a_b"),
        F.round(lift, 9).alias("lift"),
    )


_BASKET_LIFT_ORACLE = f"""
WITH present AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
top AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support_ab
  FROM present a JOIN present b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  ORDER BY support_ab DESC, part_a, part_b
  LIMIT {BASKET_TOP_N}
),
item AS (SELECT l_partkey, count(*) AS supp FROM present GROUP BY 1),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem)
SELECT t.part_a, t.part_b, t.support_ab,
       sa.supp AS supp_a, sb.supp AS supp_b,
       round(CAST(t.support_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE), 9) AS confidence_a_b,
       round(CAST(t.support_ab * n.n_orders AS DOUBLE)
             / CAST(sa.supp * sb.supp AS DOUBLE), 9) AS lift
FROM top t JOIN item sa ON sa.l_partkey = t.part_a
           JOIN item sb ON sb.l_partkey = t.part_b, n
"""


#: weighted-sample size and weight vocabulary
WEIGHTED_SAMPLE_K = 25


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis 2006): each order gets weight w = 1 +
    (o_orderkey mod 7); per order draw w md5 "uniforms" and keep the
    MINIMUM — min of w iid uniforms is Beta(1, w), so P(order i
    outranks order j) = w_i / (w_i + w_j), exactly the ES weighted
    -sampling order statistic — then take the global top-{K} by that
    key.  Everything is md5-on-integers and string MIN: no floats, no
    RNG state, bit-identical on any engine and any partitioning.

    Scale: the explode is bounded by max weight (7 replicas/row), the
    per-key min is an agg with map-side partials, and the top-K is a
    TakeOrdered — no global sort, no driver-side sampling state."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 7 + 1).alias("weight")
    )
    keyed = (
        o.select(
            "o_orderkey",
            "weight",
            F.explode(F.expr("sequence(1, weight)")).alias("rep"),
        )
        .select(
            "o_orderkey",
            "weight",
            F.md5(F.concat_ws("-", "o_orderkey", "rep")).alias("u"),
        )
        .groupBy("o_orderkey", "weight")
        .agg(F.min("u").alias("sample_key"))
    )
    return keyed.orderBy("sample_key", "o_orderkey").limit(WEIGHTED_SAMPLE_K)


_WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT o_orderkey, o_orderkey % 7 + 1 AS weight,
         min(md5(o_orderkey::VARCHAR || '-' || r::VARCHAR)) AS sample_key
  FROM orders, LATERAL unnest(generate_series(1, o_orderkey % 7 + 1)) AS t(r)
  GROUP BY o_orderkey
)
SELECT o_orderkey, CAST(weight AS BIGINT) AS weight, sample_key
FROM keyed ORDER BY sample_key, o_orderkey LIMIT {WEIGHTED_SAMPLE_K}
"""


def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    relative to the newest order in the data), frequency (order
    count), monetary (exact decimal revenue), each graded into
    quartiles — the classic marketing-analytics segmentation.

    The quartile grades come from three ``percentile_disc`` cutoffs
    computed in ONE single-row aggregate and broadcast back over the
    per-customer table — NOT from ``ntile()`` over a global sort,
    which would funnel every row through one partition (the
    scale-killer this module's window queries deliberately avoid).
    percentile_disc PICKS elements (verified bit-equal across
    engines), so the grade boundaries are exact."""
    base = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("monetary"),
        )
    )
    cuts = base.agg(
        F.max("last_order").alias("ref_date"),
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY {c})"
            ).alias(f"{c[0]}q{i}")
            for c in ("frequency", "monetary")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ],
    )
    with_r = base.join(F.broadcast(cuts), how="cross").withColumn(
        "recency_days", F.datediff("ref_date", "last_order")
    )
    rcuts = with_r.agg(
        *[
            F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY recency_days)").alias(f"rq{i}")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    grade = lambda v, q: (  # noqa: E731 — 1 + #cutoffs strictly below v
        F.lit(1)
        + (F.col(v) > F.col(f"{q}q1")).cast("int")
        + (F.col(v) > F.col(f"{q}q2")).cast("int")
        + (F.col(v) > F.col(f"{q}q3")).cast("int")
    )
    return (
        with_r.join(F.broadcast(rcuts), how="cross")
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary",
            (F.lit(5) - grade("recency_days", "r")).alias("r_score"),
            grade("frequency", "f").alias("f_score"),
            grade("monetary", "m").alias("m_score"),
        )
        .withColumn(
            "segment",
            F.concat_ws("", "r_score", "f_score", "m_score"),
        )
    )


_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT max(last_order) AS ref_date,
         quantile_disc(frequency, 0.25) AS fq1, quantile_disc(frequency, 0.5) AS fq2,
         quantile_disc(frequency, 0.75) AS fq3,
         quantile_disc(monetary, 0.25) AS mq1, quantile_disc(monetary, 0.5) AS mq2,
         quantile_disc(monetary, 0.75) AS mq3
  FROM base
),
with_r AS (
  SELECT b.*, c.*, datediff('day', last_order, ref_date) AS recency_days
  FROM base b CROSS JOIN cuts c
),
rcuts AS (
  SELECT quantile_disc(recency_days, 0.25) AS rq1,
         quantile_disc(recency_days, 0.5) AS rq2,
         quantile_disc(recency_days, 0.75) AS rq3
  FROM with_r
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         5 - (1 + (recency_days > rq1)::INT + (recency_days > rq2)::INT
                + (recency_days > rq3)::INT) AS r_score,
         1 + (frequency > fq1)::INT + (frequency > fq2)::INT
           + (frequency > fq3)::INT AS f_score,
         1 + (monetary > mq1)::INT + (monetary > mq2)::INT
           + (monetary > mq3)::INT AS m_score
  FROM with_r CROSS JOIN rcuts
)
SELECT o_custkey, CAST(recency_days AS INTEGER) AS recency_days,
       frequency, monetary,
       CAST(r_score AS INTEGER) AS r_score, CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
FROM scored
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (current type -> next type) bigram, the count
    and the transition probability — sequence statistics a behavioral
    model (or an LLM-agent trace analyzer) trains on.

    Determinism: the sequence order is the (ts micros, event_id) total
    order; counts are exact and the probability is ONE final double
    division of two bigints.  Scale: lead() is one keyed window sort
    per user; the bigram count is a keyed agg over a (|types|^2)-sized
    result, and the per-source normalizer joins back on a tiny
    broadcast side."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("tu"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    bigrams = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = bigrams.groupBy("src").agg(F.sum("n").alias("n_src"))
    return bigrams.join(F.broadcast(totals), "src").select(
        "src",
        "dst",
        "n",
        (F.col("n").cast("double") / F.col("n_src").cast("double")).alias("p"),
    )


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS dst
  FROM events
),
bigrams AS (
  SELECT src, dst, count(*) AS n FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) AS p
FROM bigrams
"""


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by the month
    of their FIRST order; for every (cohort_month, months-since-first)
    cell, the active-customer count and exact revenue — the standard
    retention/LTV matrix marketing and forecasting read.

    Determinism: month arithmetic is integer (year×12+month), revenue
    is an exact decimal sum with one final double cast.  Scale: one agg
    for first-order dates, a key-shuffle join back to orders (the
    first-order side is customer-cardinality — too big to broadcast at
    100 TB, so it stays a co-partitioned join on o_custkey), one
    final small agg over (cohort × offset) cells."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    mnum = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    return (
        orders.join(first, "o_custkey")
        .select(
            F.date_format("first_dt", "yyyy-MM").alias("cohort_month"),
            (mnum(F.col("o_orderdate")) - mnum(F.col("first_dt"))).cast("int").alias("month_offset"),
            "o_custkey",
            "o_totalprice",
        )
        .groupBy("cohort_month", "month_offset")
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(money("o_totalprice")).cast("double").alias("revenue"),
        )
    )


_COHORT_LTV_ORACLE = """
WITH first AS (
  SELECT o_custkey, min(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey
)
SELECT strftime(first_dt, '%Y-%m') AS cohort_month,
       CAST((year(o_orderdate) * 12 + month(o_orderdate))
          - (year(first_dt) * 12 + month(first_dt)) AS INTEGER) AS month_offset,
       count(DISTINCT o.o_custkey) AS n_active,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2
"""


def table_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build: compress each user's
    event stream into versioned state intervals — one row per
    *change* of event_type, carrying ``valid_from_us``/``valid_to_us``
    micros bounds, a per-user version number, and an ``is_current``
    flag on the open interval.  This is the standard warehouse pattern
    for turning an append-only log into a point-in-time-joinable
    dimension (the write side of :func:`join_asof`'s read side).

    Determinism: the stream order is the (ts micros, event_id) total
    order on both engines.  Scale: two window passes over the same
    ``user_id`` partitioning — Catalyst reuses one sort+exchange for
    both (change detection via lag, then versioning via lead/
    row_number over the filtered change rows, which only shrinks
    partitions); no join, no driver-side state."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("tu"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    changes = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("tu").alias("valid_from_us"),
        F.lead("tu").over(w).alias("valid_to_us"),
        F.lead("tu").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("int").alias("version"),
    )


_SCD2_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS tu, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, tu, event_id FROM seq
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type AS state, tu AS valid_from_us,
       lead(tu) OVER w AS valid_to_us,
       lead(tu) OVER w IS NULL AS is_current,
       CAST(row_number() OVER w AS INTEGER) AS version
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
"""


def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME lookup against a type-2 dimension — the read side
    of :func:`table_scd2` and the correctness contract of every
    feature store: each click event is enriched with the status
    version (last purchase/error state) that was valid AT the click's
    timestamp — never a later one (no feature leakage), NULL before
    the first status.  The dimension is the SCD2 compression of the
    user's purchase/error sub-stream; the probes are the click
    sub-stream.

    Implementation is the as-of CARRY pattern, not a range join:
    status-version starts and probes union into one stream, one sort
    per user on (ts, tag, event_id) — status rows first on ties, so a
    probe at exactly a version boundary sees the NEW version, matching
    the oracle's half-open [valid_from, valid_to) range join — then
    ``last(ignorenulls)`` carries state/version forward and probes are
    filtered back out.  ONE sort+exchange, zero row multiplication;
    a range join would be a nested loop or need binning
    (:func:`join_interval_bins`).

    Scale: the union is user-keyed; per-user frames are bounded by the
    user's event history — the same bound as every window query here."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("tu"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    status = ev.where(F.col("event_type").isin("purchase", "error"))
    changes = status.withColumn(
        "prev", F.lag("event_type").over(w)
    ).where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    vers = changes.select(
        "user_id",
        "tu",
        "event_id",
        F.col("event_type").alias("state"),
        F.row_number().over(w).cast("int").alias("version"),
    )
    s = vers.select(
        "user_id", "tu", F.lit(0).alias("tag"), "event_id", "state", "version"
    )
    p = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "tu",
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("int").alias("version"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("tu", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = s.unionByName(p).select(
        "user_id",
        "tu",
        "tag",
        "event_id",
        F.last("state", ignorenulls=True).over(wc).alias("status_state"),
        F.last("version", ignorenulls=True).over(wc).alias("status_version"),
    )
    return carried.where(F.col("tag") == 1).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("tu").alias("click_tu"),
        "status_state",
        "status_version",
    )


_POINT_IN_TIME_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events
),
seq AS (
  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS prev
  FROM ev WHERE event_type IN ('purchase', 'error')
),
changes AS (
  SELECT user_id, event_type AS state, tu, event_id FROM seq
  WHERE prev IS NULL OR prev <> event_type
),
vers AS (
  SELECT user_id, state, tu AS vf, lead(tu) OVER w AS vt,
         CAST(row_number() OVER w AS INTEGER) AS version
  FROM changes
  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
),
clicks AS (SELECT user_id, tu, event_id FROM ev WHERE event_type = 'click')
SELECT c.event_id AS click_id, c.user_id, c.tu AS click_tu,
       v.state AS status_state, v.version AS status_version
FROM clicks c LEFT JOIN vers v
  ON c.user_id = v.user_id AND c.tu >= v.vf AND (v.vt IS NULL OR c.tu < v.vt)
"""


def agg_changelog_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTABLE incremental view maintenance: keep a per-status
    (count, revenue) aggregate view current under a CDC changelog with
    UPDATES and DELETES — without rescanning unchanged rows.  Where
    :func:`agg_incremental_merge` proves append-only partial merging,
    this adds the retraction algebra every materialized view needs
    once deletes exist: an update retracts (−1, −old_price) from its
    old group and inserts (+1, +new_price) into its new one; a delete
    only retracts; group cardinalities that reach zero vanish.

    The changelog reuses the :func:`table_merge_cdc` recipe with
    explicit precedence (every 13th key deleted; else every 7th
    re-priced +100 into status 'U'; every 11th inserted as 'N' under
    the power-of-10 namespace).

    THE GATE IS THE SEMANTICS: Spark executes the maintenance path
    (base aggregate ⊕ delta aggregate, touching only changed rows),
    while the DuckDB oracle RECOMPUTES the view from the merged table
    — the hash match proves maintenance ≡ recompute, which is the
    entire correctness contract of incremental view maintenance.

    Scale: the base aggregate is a status-keyed partial agg of the
    snapshot (in production it is the stored view, read back); deltas
    scan only the changed subsets; the final combine joins two
    status-cardinality frames.  No window, no global sort."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast(DECM)
    base = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(price).alias("s")
    )
    changed = F.col("o_orderkey") % 7 == 0
    deleted = F.col("o_orderkey") % 13 == 0
    d_del = o.where(deleted).select(
        "o_orderstatus", F.lit(-1).alias("dc"), (-price).alias("ds")
    )
    upd = o.where(changed & ~deleted)
    d_upd_out = upd.select(
        "o_orderstatus", F.lit(-1).alias("dc"), (-price).alias("ds")
    )
    d_upd_in = upd.select(
        F.lit("U").alias("o_orderstatus"),
        F.lit(1).alias("dc"),
        (price + F.lit(100).cast(DECM)).alias("ds"),
    )
    d_ins = o.where(F.col("o_orderkey") % 11 == 0).select(
        F.lit("N").alias("o_orderstatus"), F.lit(1).alias("dc"), price.alias("ds")
    )
    deltas = (
        d_del.unionByName(d_upd_out).unionByName(d_upd_in).unionByName(d_ins)
        .groupBy("o_orderstatus")
        .agg(F.sum("dc").alias("dcnt"), F.sum("ds").alias("dsum"))
    )
    return (
        base.join(deltas, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce("cnt", F.lit(0)) + F.coalesce("dcnt", F.lit(0))).alias(
                "n_orders"
            ),
            (
                F.coalesce(F.col("s"), F.lit(0).cast(DECM))
                + F.coalesce(F.col("dsum"), F.lit(0).cast(DECM))
            ).cast("double").alias("total_price"),
        )
        .where(F.col("n_orders") > 0)
    )


_CHANGELOG_MAINTAIN_ORACLE = """
WITH merged AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS st,
         CAST(o_totalprice AS DECIMAL(14,2))
         + CASE WHEN o_orderkey % 7 = 0
                THEN CAST(100 AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END
           AS price
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT 'N', CAST(o_totalprice AS DECIMAL(14,2))
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT st AS o_orderstatus, count(*) AS n_orders,
       CAST(sum(price) AS DOUBLE) AS total_price
FROM merged GROUP BY st
"""


def join_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim-side filter + fact join — the RUNTIME ROW-LEVEL
    FILTER showcase: with a filter this selective (one of five order
    priorities), Spark's ``InjectRuntimeFilter`` rule can build a
    bloom filter over the surviving ``o_orderkey`` set while planning
    and push ``might_contain`` into the lineitem SCAN, so ~4/5 of the
    100 TB fact side is dropped before the shuffle instead of after
    the join.  Thresholds (creation side ≤ 10 MB, application side
    scan ≥ 10 GB by default) mean the rewrite only fires at real
    scale — the plan-shape test
    (tests/test_relational.py::test_bloom_filter_join_plan) lowers
    them and asserts the ``might_contain`` scan filter; the result is
    identical either way, which is the point of a runtime filter."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


_BLOOM_JOIN_ORACLE = """
SELECT l_linestatus, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_linestatus
"""


def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HLL sketch rollup: per-nation Datasketches HLL
    sketches of distinct customers, merged per region with
    ``hll_union_agg`` and only then estimated — the mergeable-sketch
    pattern that lets a 1000-executor cluster (or a day-partitioned
    pipeline) compute distinct counts without ever re-scanning raw
    data: partials are a few KB each and re-aggregate associatively,
    exactly like the reference's partial counts (map_reduce.cpp:191-236)
    but for a non-additive statistic.

    Sketch bytes are engine-specific, so the estimate itself can't
    hash-match DuckDB; the query emits the EXACT per-region distinct
    (hash-gated) plus ``est_within_tol`` — the merged estimate within
    5 % of exact (lgConfigK=14 ⇒ σ ≈ 0.8 %, so 5 % is >6σ), evaluated
    in-engine and pinned TRUE by the oracle.  The exact companion is
    the certification harness; the sketch path is what survives at
    scale."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey", F.lit(14)).alias("sketch")
    )
    merged = (
        per_nation.join(
            F.broadcast(nation), per_nation.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_regionkey")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "n_regionkey",
            F.hll_sketch_estimate("merged").alias("approx_customers"),
        )
    )
    exact = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("exact_customers"))
    )
    return (
        merged.join(exact, "n_regionkey")
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select(
            "r_name",
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                / F.col("exact_customers")
                <= 0.05
            ).alias("est_within_tol"),
        )
    )


_HLL_MERGE_ORACLE = """
SELECT r_name, count(DISTINCT c_custkey) AS exact_customers,
       TRUE AS est_within_tol
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT type (Spark 4) over ``events.props``: parse the JSON
    string ONCE into variant's binary encoding, then typed
    ``variant_get`` extraction feeds exact integer aggregates.  At
    100 TB the pattern is parse-at-ingest (store the variant column in
    parquet) so every downstream query pays typed binary field access
    instead of re-parsing JSON text — the semi-structured answer to
    "the schema moved again".  Values are gated against DuckDB's JSON
    reading of the same strings, proving the variant round-trip is
    lossless."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("k") >= 50).cast("long")).alias("n_high"),
            F.sum(F.col("k") * F.col("k")).alias("sum_k_sq"),
        )
    )


_SCALAR_VARIANT_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum((CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50)::INT) AS BIGINT) AS n_high,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)
              * CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k_sq
FROM events GROUP BY event_type
"""


#: TPC-H Q6 rewritten in Spark 4's SQL PIPE syntax — the linear
#: dataflow spelling (FROM |> WHERE |> AGGREGATE) of the same logical
#: plan the optimizer sees from nested SQL; the oracle is the standard
#: spelling, proving syntax-level equivalence end to end.
_PIPE_Q6_SQL = """
FROM lineitem
|> WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
         AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
|> AGGREGATE CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
"""

sql_pipe_q6 = _sql_query(_PIPE_Q6_SQL)


#: GROUP BY ALL — the modern "group by every non-aggregate column"
#: spelling; one text runs verbatim on Spark and DuckDB, so the oracle
#: IS the query (same contract as the other sql_* entries).
_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ALL
"""

sql_group_by_all = _sql_query(_GROUP_BY_ALL_SQL)


def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from EXACT decimal moments —
    the deterministic spelling of ``corr()``: the built-in sums doubles
    in shuffle order (never bit-stable across partitionings), while
    Σx, Σy, Σxy, Σx², Σy² as wide decimals are exact, so the two
    engines disagree only after the final combination — which is done
    in DOUBLES of the pre-divided means (cov = Σxy/n − x̄·ȳ), never as
    n·Σxy in decimal: that product's precision exceeds 38, where Spark
    silently drops scale digits (allowPrecisionLoss) while DuckDB
    widens to 128-bit, so the decimal spelling only matched while
    moment magnitudes stayed small.  Pre-dividing keeps every operand
    near data magnitude at ANY scale factor, and both engines run the
    identical IEEE op sequence — rounded 9 dp.  The same five-moment
    shape is how any mergeable second-order statistic (covariance
    matrices for PCA/whitening) is built at 100 TB: one partial-agg
    pass, O(1) state per group.

    Zero-variance groups (a constant quantity or price column —
    round-11 total-ties axis) emit NULL: correlation is undefined
    there, and the unguarded spelling is 0/0 — a Spark ANSI hard
    error while DuckDB NULLs double ÷0.  Same exact `vx > 0 AND
    vy > 0` predicate on both engines (the agg_linreg_exact guard,
    which had it from the start)."""
    m, _, _, _, cov, vx, vy = _returnflag_moments(spark, sf_dir)
    corr = F.when(
        (vx > F.lit(0.0)) & (vy > F.lit(0.0)), cov / (F.sqrt(vx) * F.sqrt(vy))
    )
    return m.select("l_returnflag", "n", F.round(corr, 9).alias("corr_qty_price"))


def _returnflag_moments(spark: SparkSession, sf_dir: str):
    """Shared five-moment pipeline under :func:`agg_corr_exact` and
    :func:`agg_linreg_exact`: per-returnflag exact decimal
    (n, Σx, Σy, Σxy, Σx², Σy²) over (quantity, price), plus the
    double-domain combination columns (nd, mx, my, cov, vx, vy).
    One definition so a precision fix (like the round-5 variance
    clamp) can never apply to one statistic and miss the other.

    E[x²]−E[x]² cancels catastrophically for near-constant groups and
    can land a tiny NEGATIVE variance (sqrt → NaN); vx/vy clamp at 0 —
    the oracles mirror with greatest(0.0, ...), preserving parity."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum((x * y).cast("decimal(38,4)")).alias("sxy"),
            F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
            F.sum((y * y).cast("decimal(38,4)")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    cov = F.col("sxy").cast("double") / nd - mx * my
    vx = F.greatest(F.lit(0.0), F.col("sxx").cast("double") / nd - mx * mx)
    vy = F.greatest(F.lit(0.0), F.col("syy").cast("double") / nd - my * my)
    return m, nd, mx, my, cov, vx, vy


_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag, count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(CAST(l_quantity AS DECIMAL(28,2)) * CAST(l_extendedprice AS DECIMAL(28,2)) AS DECIMAL(38,4))) AS sxy,
         sum(CAST(CAST(l_quantity AS DECIMAL(28,2)) * CAST(l_quantity AS DECIMAL(28,2)) AS DECIMAL(38,4))) AS sxx,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * CAST(l_extendedprice AS DECIMAL(28,2)) AS DECIMAL(38,4))) AS syy
  FROM lineitem GROUP BY l_returnflag
)
, d AS (
  SELECT l_returnflag, n,
         CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov,
         greatest(0.0, CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS vx,
         greatest(0.0, CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS vy
  FROM m
)
SELECT l_returnflag, n,
       round(CASE WHEN vx > 0.0 AND vy > 0.0
                  THEN cov / (sqrt(vx) * sqrt(vy)) END, 9) AS corr_qty_price
FROM d
"""


def orders_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast with in-query evaluation: monthly
    revenue, forecast(m) = revenue(m − 12 months), absolute error —
    the baseline every production forecast must beat, and the
    backtest harness that proves it, in one statement.

    The month offset is an explicit self-join on
    ``add_months(month, −12)`` rather than ``lag(12)`` — lag silently
    mis-forecasts across calendar gaps (a missing month shifts every
    later row), the join is correct on any gap structure.  Scale: one
    keyed agg collapses orders to month cardinality; the self-join
    runs on that tiny frame (broadcast at any corpus size — months
    are bounded by the calendar, the canonical legitimately-small
    side).  Errors are exact decimals until the final double cast."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(F.sum(money("o_totalprice")).alias("rev_d"))
    cur, prev = rev.alias("c"), rev.alias("p")
    return (
        cur.join(
            prev, F.col("p.month") == F.add_months(F.col("c.month"), -12)
        )
        .select(
            F.col("c.month").alias("month"),
            F.col("c.rev_d").cast("double").alias("revenue"),
            F.col("p.rev_d").cast("double").alias("forecast"),
            F.abs(F.col("c.rev_d") - F.col("p.rev_d"))
            .cast("double")
            .alias("abs_err"),
        )
    )


_SEASONAL_NAIVE_ORACLE = """
WITH rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d
  FROM orders GROUP BY 1
)
SELECT c.month,
       CAST(c.rev_d AS DOUBLE) AS revenue,
       CAST(p.rev_d AS DOUBLE) AS forecast,
       CAST(abs(c.rev_d - p.rev_d) AS DOUBLE) AS abs_err
FROM rev c JOIN rev p ON p.month = c.month - INTERVAL 12 MONTH
"""


#: k-anonymity threshold and the quasi-identifier char-bucket width.
K_ANON = 5
K_ANON_CHARS_BUCKET = 50


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the privacy gate a dataset release runs
    over its quasi-identifiers: group documents by the QI tuple
    (lang, source, {50}-char length bucket) and flag every group
    smaller than k={5}; a row in a small group is re-identifiable by
    its QI combination alone, so releases either suppress those rows
    or coarsen the buckets until every group passes.  Reported
    per-group with the release-level risky-row total alongside (the
    number that actually gates the release).

    Scale: one keyed aggregation on the QI tuple + a window over the
    GROUP table (bounded by the QI-combination count, not the corpus)
    for the release totals — same shape as any rollup."""
    d = load_table(spark, sf_dir, "documents")
    groups = (
        d.select(
            "lang",
            "source",
            (F.floor(F.col("n_chars") / K_ANON_CHARS_BUCKET)
             * K_ANON_CHARS_BUCKET).alias("chars_bucket"),
        )
        .groupBy("lang", "source", "chars_bucket")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    w_all = Window.partitionBy()
    return groups.select(
        "lang",
        "source",
        "chars_bucket",
        "group_size",
        (F.col("group_size") >= K_ANON).alias("k_anonymous"),
        F.sum(F.when(F.col("group_size") < K_ANON, F.col("group_size")).otherwise(0))
        .over(w_all)
        .alias("risky_rows_total"),
    )


_DQ_K_ANON_ORACLE = f"""
WITH groups AS (
  SELECT lang, source,
         (n_chars // {K_ANON_CHARS_BUCKET}) * {K_ANON_CHARS_BUCKET} AS chars_bucket,
         count(*) AS group_size
  FROM documents
  GROUP BY 1, 2, 3
)
SELECT lang, source, CAST(chars_bucket AS BIGINT) AS chars_bucket,
       group_size,
       group_size >= {K_ANON} AS k_anonymous,
       CAST(sum(CASE WHEN group_size < {K_ANON} THEN group_size ELSE 0 END)
            OVER () AS BIGINT) AS risky_rows_total
FROM groups
"""


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion-style data-quality validation (the Great-Expectations
    shape, as a query): each rule emits (rule, observed, threshold,
    pass) — referential integrity, range conformance, null policy —
    so a pipeline can gate ingest on ``bool_and(pass)``.  Where
    :func:`dq_profile` DESCRIBES a table, this VALIDATES it.

    Scale: each rule is one scan-side aggregate (the orphan check is
    a left-anti count — one keyed shuffle); the union of 1-row frames
    is free.  Counts are exact bigints, so the gate is bit-stable."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def rule(name: str, observed, threshold: int) -> DataFrame:
        return observed.select(
            F.lit(name).alias("rule"),
            F.col("observed").cast("bigint").alias("observed"),
            F.lit(threshold).cast("bigint").alias("threshold"),
            (F.col("observed") <= threshold).alias("pass"),
        )

    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    qty_range = li.agg(
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")
        ).alias("observed")
    )
    bal_nulls = c.agg(
        F.sum(F.col("c_acctbal").isNull().cast("long")).alias("observed")
    )
    neg_price = o.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("observed")
    )
    return (
        rule("orders_custkey_references_customer", orphans, 0)
        .unionByName(rule("lineitem_quantity_in_1_50", qty_range, 0))
        .unionByName(rule("customer_acctbal_not_null", bal_nulls, 0))
        .unionByName(rule("orders_totalprice_positive", neg_price, 0))
    )


_DQ_EXPECT_ORACLE = """
SELECT 'orders_custkey_references_customer' AS rule,
       CAST(count(*) AS BIGINT) AS observed, CAST(0 AS BIGINT) AS threshold,
       count(*) <= 0 AS pass
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_quantity_in_1_50',
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(0 AS BIGINT),
       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) <= 0
FROM lineitem
UNION ALL
SELECT 'customer_acctbal_not_null',
       CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(0 AS BIGINT),
       sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) <= 0
FROM customer
UNION ALL
SELECT 'orders_totalprice_positive',
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(0 AS BIGINT),
       sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) <= 0
FROM orders
"""


def agg_linreg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (price on quantity) from the same
    five exact decimal moments as :func:`agg_corr_exact` — slope =
    cov/var(x), intercept = ȳ − slope·x̄, plus r² — the one-pass
    mergeable spelling of ``.fit()`` for a univariate linear model.
    At 100 TB this is how per-segment trend models are fit: one
    partial-agg pass, O(1) state per group, no ML library needed.

    Determinism: moments are exact decimals; the final combination
    runs in doubles with the identical op sequence on both engines,
    9 dp rounding; var(x)=0 groups emit NULL slope/intercept/r2 (the
    events_ab_test guard pattern) and var clamps at 0 against
    cancellation (see :func:`_returnflag_moments`, shared with
    agg_corr_exact)."""
    m, nd, mx, my, cov, vx, vy = _returnflag_moments(spark, sf_dir)
    slope = F.when(vx > F.lit(0.0), cov / vx)
    intercept = my - slope * mx
    r2 = F.when((vx > F.lit(0.0)) & (vy > F.lit(0.0)), (cov * cov) / (vx * vy))
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )


_LINREG_ORACLE = """
WITH m AS (
  SELECT l_returnflag, count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(CAST(l_quantity AS DECIMAL(28,2)) * CAST(l_extendedprice AS DECIMAL(28,2)) AS DECIMAL(38,4))) AS sxy,
         sum(CAST(CAST(l_quantity AS DECIMAL(28,2)) * CAST(l_quantity AS DECIMAL(28,2)) AS DECIMAL(38,4))) AS sxx,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * CAST(l_extendedprice AS DECIMAL(28,2)) AS DECIMAL(38,4))) AS syy
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag, n,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
         CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov,
         greatest(0.0, CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS vx,
         greatest(0.0, CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS vy
  FROM m
)
SELECT l_returnflag, n,
       round(CASE WHEN vx > 0.0 THEN cov / vx END, 9) AS slope,
       round(my - (CASE WHEN vx > 0.0 THEN cov / vx END) * mx, 9) AS intercept,
       round(CASE WHEN vx > 0.0 AND vy > 0.0 THEN (cov * cov) / (vx * vy) END, 9) AS r2
FROM d
"""


#: range partitions for the two-pass Pareto prefix sum — at cluster
#: scale set this to the executor-core count; the offset table it
#: produces stays this many rows regardless of input size.
ABC_RANGE_PARTS = 16


def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: customers ranked by total
    spend, classified A (first 80 % of cumulative revenue), B (next
    15 %), C (tail 5 %) — the 80/20 segmentation every procurement and
    marketing stack computes.

    Determinism: spend is an exact decimal sum; the cumulative share
    is a running decimal sum over a (spend DESC, custkey) total order,
    and the class cutoffs compare decimal × integer against decimal ×
    integer — no floats until the emitted share.  Scale: the prefix sum
    is TWO-PASS via :func:`functions.prefix.two_pass_cumsum` (range
    partition → parallel per-partition windows → broadcast offsets),
    never a single-task global window — cheap here because the input
    is already customer-cardinality aggregates, not the fact table."""
    from ..functions.prefix import two_pass_cumsum

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("spend_d")
    )
    cum = two_pass_cumsum(
        spend,
        "spend_d",
        [F.desc("spend_d"), F.asc("o_custkey")],
        n_parts=ABC_RANGE_PARTS,
        cum_col="cum_d",
        total_col="total_d",
    )
    cls = (
        F.when(F.col("cum_d") * 100 <= F.col("total_d") * 80, "A")
        .when(F.col("cum_d") * 100 <= F.col("total_d") * 95, "B")
        .otherwise("C")
    )
    return cum.select(
        "o_custkey",
        F.col("spend_d").cast("double").alias("spend"),
        (F.col("cum_d").cast("double") / F.col("total_d").cast("double")).alias("cum_share"),
        cls.alias("abc_class"),
    )


_ABC_ORACLE = """
WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(14,2))) AS spend_d
  FROM orders GROUP BY o_custkey
),
cum AS (
  SELECT o_custkey, spend_d,
         sum(spend_d) OVER (ORDER BY spend_d DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum_d,
         sum(spend_d) OVER () AS total_d
  FROM spend
)
SELECT o_custkey, CAST(spend_d AS DOUBLE) AS spend,
       CAST(cum_d AS DOUBLE) / CAST(total_d AS DOUBLE) AS cum_share,
       CASE WHEN cum_d * 100 <= total_d * 80 THEN 'A'
            WHEN cum_d * 100 <= total_d * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity feature (low entropy = bot-like repetition,
    high = varied usage; the same formula scores token diversity in a
    training corpus).  H = ln(n) − (Σ c·ln c)/n from exact integer
    counts: each ln sees an INTEGER argument, both engines' libm agree
    far past 9 dp there, and the one division is IEEE — rounded to
    9 dp like the other libm-dependent scores (bm25 precedent).
    Scale: two keyed aggs, partial map-side both times."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("clogc"),
        )
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.round(
                F.log(F.col("n").cast("double")) - F.col("clogc") / F.col("n").cast("double"),
                9,
            ).alias("entropy"),
        )
    )


_ENTROPY_ORACLE = """
WITH per_type AS (
  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
)
SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 9) AS entropy
FROM per_type GROUP BY user_id
"""


def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregate family — ``bit_and/bit_or/bit_xor``
    over the part keys per return flag plus ``bool_and/bool_or`` over a
    discount predicate.  These are the flag-mask rollups behind feature
    bitmaps and permission masks, and bit_xor is the engine's order-free
    checksum primitive (pipeline_shard_manifest builds on it).

    Determinism: every one of these is a commutative, associative fold
    over integers/booleans — exact under any partitioning, no decimal
    tricks needed.  Scale: one keyed agg with map-side partials; state
    is a single word per aggregate per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_partkey").alias("mask_and"),
        F.bit_or("l_partkey").alias("mask_or"),
        F.bit_xor("l_partkey").alias("mask_xor"),
        F.bool_and(F.col("l_discount") > 0.05).alias("all_discounted"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
    )


_BITWISE_ORACLE = """
SELECT l_returnflag,
       bit_and(l_partkey) AS mask_and,
       bit_or(l_partkey) AS mask_or,
       bit_xor(l_partkey) AS mask_xor,
       bool_and(l_discount > 0.05) AS all_discounted,
       bool_or(l_discount > 0.05) AS any_discounted
FROM lineitem GROUP BY l_returnflag
"""


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution per user: the event type
    that opened and closed each user's history (``min_by``/``max_by``),
    plus event count and exact purchase revenue — the marketing-
    attribution rollup and the canonical ``argmin/argmax`` aggregate
    surface.

    Determinism: min_by/max_by need a TOTAL order to be reproducible —
    ties on ts would make the result partitioning-dependent — so the
    ordering key is the (ts, event_id) pair serialized as a sortable
    string (event_id is unique).  Revenue sums value through the exact
    decimal path.  Scale: one keyed agg, O(1) state per user — no
    window, no sort, map-side partials do the heavy lifting."""
    ev = load_table(spark, sf_dir, "events")
    key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lit("#"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.withColumn("ord", key)
        .groupBy("user_id")
        .agg(
            F.min_by("event_type", F.col("ord")).alias("first_touch"),
            F.max_by("event_type", F.col("ord")).alias("last_touch"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", dec("value")))
            .cast("double")
            .alias("purchase_value"),
        )
    )


_ATTRIBUTION_ORACLE = """
WITH keyed AS (
  SELECT user_id, event_type, value,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '#' ||
         lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
  FROM events
)
SELECT user_id,
       min_by(event_type, ord) AS first_touch,
       max_by(event_type, ord) AS last_touch,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
         AS purchase_value
FROM keyed GROUP BY user_id
"""


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / ``IS NOT DISTINCT FROM``):
    order priorities are bucketed with one value nulled out, the
    even/odd order-key halves are aggregated separately, and a FULL
    OUTER null-safe join lines the halves up — including the NULL
    bucket, which a plain equality join would silently drop.

    Scale: the join runs over group-cardinality aggregates (a handful
    of rows), and null-safe equality remains hash-joinable in Spark
    (EqualNullSafe is a valid equi-join key — no nested loop)."""
    o = load_table(spark, sf_dir, "orders")
    key = F.expr("nullif(o_orderpriority, '3-MEDIUM')")
    a = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .groupBy(key.alias("pr"))
        .agg(F.count(F.lit(1)).alias("n_even"))
    )
    b = (
        o.where(F.col("o_orderkey") % 2 == 1)
        .groupBy(key.alias("pr"))
        .agg(F.count(F.lit(1)).alias("n_odd"))
    )
    return a.join(b, a["pr"].eqNullSafe(b["pr"]), "full_outer").select(
        F.coalesce(a["pr"], b["pr"]).alias("priority"), "n_even", "n_odd"
    )


_NULL_SAFE_JOIN_ORACLE = """
WITH a AS (
  SELECT nullif(o_orderpriority, '3-MEDIUM') AS pr, count(*) AS n_even
  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
),
b AS (
  SELECT nullif(o_orderpriority, '3-MEDIUM') AS pr, count(*) AS n_odd
  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1
)
SELECT COALESCE(a.pr, b.pr) AS priority, n_even, n_odd
FROM a FULL OUTER JOIN b ON a.pr IS NOT DISTINCT FROM b.pr
"""


#: heavy-hitters sketch size (top-k words over the document corpus)
TOPK_SKETCH_K = 10
#: rows emitted (by exact count) — half the sketch width, so the true
#: head is comfortably inside the candidate set even with sketch noise
TOPK_EMIT = 5


def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (``approx_top_k``, DataSketches
    frequent-strings): the top-{K} words of the corpus without an
    exact global word count — heavy hitters are THE streaming/minimal-
    memory answer to "what dominates 100 TB" when the exact groupBy's
    vocab-sized shuffle is not worth it.  Sketches merge
    associatively across partitions like every other partial agg.

    Sketch counts have engine-specific internals (DuckDB has no
    frequent-items sketch at all), so the raw sketch rows can't be
    oracled directly.  Instead: the sketch nominates its top-{K}
    candidates, an exact keyed count verifies them, and the emitted
    top-{OUT} (by exact count — hash-gated against DuckDB's true
    top-{OUT}) certifies the sketch FOUND the real head, while
    ``est_exact`` pins the DataSketches guarantee that items which
    never left the sketch carry exact counts.  Candidate-then-verify is
    the same sample-then-trust shape as the dedup/ANN recall harnesses:
    the sketch is the scale path, the exact join is the certification.

    Determinism, stated honestly: the fixture's word-frequency head is
    NEAR-UNIFORM (at sf0.01 ranks 4-8 run 937/936/934/934/933, with an
    exact-count tie at the emit boundary), not steeply Zipfian — the
    result is deterministic because (a) the fixture vocabulary (~31
    words) fits entirely inside the sketch's maxItemsTracked, so no
    item ever leaves and every count is exact, and (b) the
    (exact_count DESC, word ASC) total order resolves boundary ties
    identically on both engines.  On a corpus whose vocabulary
    overflows the sketch, the guarantee degrades to the standard
    heavy-hitter bound (error ≤ n/maxItemsTracked): the emitted head
    stays trustworthy only while true head counts clear that bound,
    which is what ``est_exact`` would then surface as false."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens(ascii_lower("text"))).alias("w"))
        .where(F.col("w") != "")
    )
    cand = (
        toks.agg(F.expr(f"approx_top_k(w, {TOPK_SKETCH_K})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("word"),
            F.col("e.count").alias("approx_count"),
        )
    )
    exact = toks.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    verified = exact.join(
        F.broadcast(cand), exact.w == cand.word
    ).select("word", "exact_count", "approx_count")
    top = verified.orderBy(
        F.desc("exact_count"), F.asc("word")
    ).limit(TOPK_EMIT)
    return top.select(
        "word",
        "exact_count",
        (F.col("approx_count") == F.col("exact_count")).alias("est_exact"),
    )


_APPROX_TOPK_ORACLE = f"""
SELECT w AS word, count(*) AS exact_count, TRUE AS est_exact
FROM (SELECT unnest({duck_tokens(_DUCK_LC_TEXT)}) AS w
      FROM documents) t
WHERE w <> ''
GROUP BY w
ORDER BY exact_count DESC, word ASC
LIMIT {TOPK_EMIT}
"""


#: Count-Min sketch geometry: depth (independent hash rows) × width
#: (buckets per row).  Sketch size is d×w cells TOTAL — independent of
#: corpus size — which is the whole point at 100 TB.
CM_DEPTH = 4
CM_WIDTH = 64
CM_PROBES = 8


def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH (Cormode & Muthukrishnan 2005) — the fourth
    mergeable sketch in the family (HLL count-distinct,
    approx_percentile, frequent-items): estimate any key's frequency
    from d×w integer cells.  Spark has no built-in, so the sketch is
    built RELATIONALLY: each token votes into one bucket per hash row
    (md5-salted, engine-portable), one keyed agg collapses the stream
    to the {CM_DEPTH}×{CM_WIDTH} cell table, and estimate(key) =
    min over rows of cell[i][bucket_i(key)].  Cells are plain BIGINT
    counts — partial aggregation merges them associatively across
    partitions exactly like the reference's 1024-bin partial maps
    (map_reduce.cpp:191-236), which is what makes the sketch
    distributable.

    Emitted for the top-{CM_PROBES} exact words: exact count, CM
    estimate, and two contract booleans the oracle pins TRUE —
    ``est_ge_exact`` (CM never underestimates, structural) and
    ``est_within_bound`` (overestimate ≤ 2N/w, the standard additive
    guarantee at these dimensions; certified at all three fixture
    sfs by the sketch-tolerance sweep test).

    Scale: token stream → {CM_DEPTH}× narrow explode → ONE keyed agg
    to 256 cells; cells and probes both broadcast (constant size).
    The exact-count companion exists for certification only — a
    production run keeps the sketch and drops the exact pass."""
    from ..functions.text import md5_bucket

    toks = (
        load_table(spark, sf_dir, "documents", cpu_heavy=True)
        .select(F.explode(tokens(ascii_lower("text"))).alias("w"))
        .where(F.col("w") != "")
    )
    votes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    md5_bucket(F.col("w"), CM_WIDTH, salt=f"cm{i}").alias("b"),
                )
                for i in range(CM_DEPTH)
            ]
        )
    )
    cells = (
        toks.select(votes.alias("e"))
        .groupBy(F.col("e.i").alias("i"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    exact = toks.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = exact.orderBy(F.desc("exact_count"), F.asc("w")).limit(CM_PROBES)
    probe_votes = probes.select(
        "w",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        md5_bucket(F.col("w"), CM_WIDTH, salt=f"cm{i}").alias(
                            "b"
                        ),
                    )
                    for i in range(CM_DEPTH)
                ]
            )
        ).alias("e"),
    ).select("w", "exact_count", F.col("e.i").alias("i"), F.col("e.b").alias("b"))
    est = (
        probe_votes.join(F.broadcast(cells), ["i", "b"])
        .groupBy("w", "exact_count")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        F.col("w").alias("word"),
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") >= F.col("exact_count")).alias("est_ge_exact"),
        (
            F.col("cm_estimate")
            <= F.col("exact_count") + F.expr(f"(2 * n) div {CM_WIDTH}")
        ).alias("est_within_bound"),
    )


def _countmin_oracle() -> str:
    from ..functions.text import duck_md5_long

    def bucket(expr: str, i: int) -> str:
        return f"{duck_md5_long(expr, salt=f'cm{i}')} % {CM_WIDTH}"

    cell_rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS i, {bucket('w', i)} AS b, count(*) AS c FROM tf GROUP BY 2"
        for i in range(CM_DEPTH)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT w, exact_count, {i} AS i, {bucket('w', i)} AS b FROM probes"
        for i in range(CM_DEPTH)
    )
    return f"""
WITH tf AS (
  SELECT w FROM (SELECT unnest({duck_tokens(_DUCK_LC_TEXT)}) AS w
                 FROM documents) t
  WHERE w <> ''
),
total AS (SELECT count(*) AS n FROM tf),
cells AS (
{cell_rows}
),
exact AS (SELECT w, count(*) AS exact_count FROM tf GROUP BY 1),
probes AS (SELECT w, exact_count FROM exact
           ORDER BY exact_count DESC, w ASC LIMIT {CM_PROBES}),
pv AS (
{probe_rows}
),
est AS (
  SELECT p.w, p.exact_count, min(c.c) AS cm_estimate
  FROM pv p JOIN cells c ON c.i = p.i AND c.b = p.b
  GROUP BY 1, 2
)
SELECT w AS word, exact_count, cm_estimate,
       cm_estimate >= exact_count AS est_ge_exact,
       cm_estimate <= exact_count + (2 * (SELECT n FROM total)) // {CM_WIDTH}
         AS est_within_bound
FROM est
"""


SPECS = [
    QuerySpec("q1_pricing_summary", q1_pricing_summary, _Q1_ORACLE, "TPC-H Q1-shaped agg (bench anchor)"),
    QuerySpec("q6_revenue", q6_revenue, _Q6_ORACLE, "pushdown filter + global sum"),
    QuerySpec("agg_distinct", agg_distinct, _AGG_DISTINCT_ORACLE, "exact count-distinct per group"),
    QuerySpec("agg_approx_distinct", agg_approx_distinct, _APPROX_DISTINCT_ORACLE, "HLL++ sketch + exact companion (hash-gated exact value; in-engine 5% tolerance pinned TRUE)"),
    QuerySpec("agg_stats", agg_stats, _AGG_STATS_ORACLE, "min/max/avg/stddev from exact moments"),
    QuerySpec("agg_rollup", agg_rollup, _AGG_ROLLUP_ORACLE, "ROLLUP subtotals"),
    QuerySpec("agg_cube", agg_cube, _AGG_CUBE_ORACLE, "CUBE all combinations"),
    QuerySpec("agg_grouping_sets", agg_grouping_sets, _AGG_GROUPING_SETS_ORACLE, "GROUPING SETS via SQL surface"),
    QuerySpec("agg_grouping_sets_api", agg_grouping_sets_api, _AGG_GROUPING_SETS_API_ORACLE,
              "Spark 4.1 DataFrame.groupingSets API form with the "
              "grouping() bitmask scope column"),
    QuerySpec("agg_pivot", agg_pivot, _AGG_PIVOT_ORACLE, "pivot with explicit values"),
    QuerySpec("agg_percentiles", agg_percentiles, _AGG_PERCENTILES_ORACLE, "exact interpolated percentiles"),
    QuerySpec("agg_skew_salted", agg_skew_salted, _AGG_SKEW_ORACLE, "two-stage salted aggregation (skew breaker)"),
    QuerySpec("agg_approx_quantile", agg_approx_quantile, _APPROX_QUANTILE_ORACLE, "approx_percentile sketch + exact companion (hash-gated; 5% tolerance pinned TRUE)"),
    QuerySpec("join_skew_salted", join_skew_salted, _JOIN_SKEW_ORACLE, "salted join for hot keys (explode small side)"),
    QuerySpec("join_dim_broadcast", join_dim_broadcast, _JOIN_DIM_ORACLE, "broadcast dim join chain"),
    QuerySpec("join_fact_fact", join_fact_fact, _JOIN_FACT_ORACLE, "big-big shuffle join"),
    QuerySpec("join_semi", join_semi, _JOIN_SEMI_ORACLE, "left semi (EXISTS)"),
    QuerySpec("join_anti", join_anti, _JOIN_ANTI_ORACLE, "left anti (NOT EXISTS)"),
    QuerySpec("join_outer_custdist", join_outer_custdist, _JOIN_OUTER_ORACLE, "left outer + Q13 histogram"),
    QuerySpec("join_full_outer", join_full_outer, _JOIN_FULL_ORACLE, "full outer with null coalesce"),
    QuerySpec("join_range", join_range, _JOIN_RANGE_ORACLE, "equi + range predicate join"),
    QuerySpec("join_asof", join_asof, _JOIN_ASOF_ORACLE, "as-of join via union + carry-forward window"),
    QuerySpec("join_asof_tolerance", join_asof_tolerance, _JOIN_ASOF_TOLERANCE_ORACLE,
              "as-of join with a 2h staleness bound (pandas merge_asof "
              "tolerance semantics) — stale carries rejected to NULL"),
    QuerySpec("topk_per_group", topk_per_group, _TOPK_ORACLE, "window row_number top-k"),
    QuerySpec("window_running", window_running, _WINDOW_RUNNING_ORACLE, "running sum / lag / lead"),
    QuerySpec("window_share", window_share, _WINDOW_SHARE_ORACLE, "partition-total share"),
    QuerySpec("window_range_frame", window_range_frame, _WINDOW_RANGE_ORACLE, "RANGE frame (trailing 30 days)"),
    QuerySpec("window_analytics", window_analytics, _WINDOW_ANALYTICS_ORACLE, "first/last/nth value, ntile, percent_rank, cume_dist"),
    QuerySpec("scalar_map", scalar_map, _SCALAR_MAP_ORACLE, "map-typed column functions (map_from_entries/element_at)"),
    QuerySpec("sort_limit", sort_limit, _SORT_LIMIT_ORACLE, "global top-N (TakeOrdered)"),
    QuerySpec("setop_union", setop_union, _SETOP_UNION_ORACLE, "UNION distinct"),
    QuerySpec("setop_intersect", setop_intersect, _SETOP_INTERSECT_ORACLE, "INTERSECT"),
    QuerySpec("setop_except", setop_except, _SETOP_EXCEPT_ORACLE, "EXCEPT ALL"),
    QuerySpec("scalar_date", scalar_date, _SCALAR_DATE_ORACLE, "date part extraction"),
    QuerySpec("scalar_string", scalar_string, _SCALAR_STRING_ORACLE, "string function coverage"),
    QuerySpec("scalar_math", scalar_math, _SCALAR_MATH_ORACLE, "math function coverage"),
    QuerySpec("scalar_try_arith", scalar_try_arith, _TRY_ARITH_ORACLE,
              "ANSI-safe try_* arithmetic (poison rows -> NULL, not job "
              "abort; both outcomes exercised per expression)"),
    QuerySpec("scalar_json", scalar_json, _SCALAR_JSON_ORACLE, "JSON extraction (events.props)"),
    QuerySpec("scalar_array", scalar_array, _SCALAR_ARRAY_ORACLE, "array functions (embeddings)"),
    QuerySpec("scalar_array_hof", scalar_array_hof, _SCALAR_ARRAY_HOF_ORACLE, "array higher-order functions (filter/exists/forall/fold)"),
    QuerySpec("sample_deterministic", sample_deterministic, _SAMPLE_ORACLE, "hash-based deterministic sampling"),
    QuerySpec("events_tumbling", events_tumbling, W.TUMBLING_ORACLE, "tumbling event-time windows (batch)"),
    QuerySpec("events_sliding", events_sliding, W.SLIDING_ORACLE, "sliding event-time windows (batch)"),
    QuerySpec("events_session", events_session, W.SESSION_ORACLE, "session windows (batch)"),
    QuerySpec("events_session_dynamic_gap", events_session_dynamic_gap,
              _SESSION_DYNAMIC_ORACLE,
              "session windows with a per-row gap expression (interval-union "
              "semantics; oracle via running-max-of-ends gaps-and-islands)"),
    QuerySpec("sql_q3_shipping_priority", sql_q3_shipping_priority, _Q3_SQL,
              "TPC-H Q3 via spark.sql — the identical ANSI string is the oracle"),
    QuerySpec("sql_q5_local_supplier_volume", sql_q5_local_supplier_volume, _Q5_SQL,
              "TPC-H Q5 six-way star join (join-reorder + broadcast showcase), shared SQL string"),
    QuerySpec("sql_q10_returned_items", sql_q10_returned_items, _Q10_SQL,
              "TPC-H Q10 returned-item top-20 (pushdown + broadcast + TakeOrdered), shared SQL string"),
    QuerySpec("sql_q8_market_share", sql_q8_market_share, _Q8_SQL,
              "TPC-H Q8 national market share (8-way join, nation aliased twice), shared SQL string"),
    QuerySpec("join_point_in_time", join_point_in_time, _POINT_IN_TIME_ORACLE,
              "point-in-time SCD2 lookup via the as-of carry pattern (one sort, no range join)"),
    QuerySpec("agg_countmin", agg_countmin, _countmin_oracle(),
              "relational Count-Min sketch (4x64 md5 cells) + exact companion; "
              "never-underestimates and 2N/w bound pinned TRUE"),
    QuerySpec("agg_changelog_maintain", agg_changelog_maintain,
              _CHANGELOG_MAINTAIN_ORACLE,
              "retractable incremental view maintenance: base ⊕ deltas vs "
              "the oracle's full recompute (maintenance ≡ recompute gate)"),
    QuerySpec("sql_q14_promo_effect", sql_q14_promo_effect, _Q14_SQL,
              "TPC-H Q14 promotion effect (conditional revenue share), shared SQL string"),
    QuerySpec("sql_q7_volume_shipping", sql_q7_volume_shipping, _Q7_SQL,
              "TPC-H Q7 two-nation trade volume by year (double nation alias + OR pair), shared SQL string"),
    QuerySpec("sql_q15_top_supplier", sql_q15_top_supplier, _Q15_SQL,
              "TPC-H Q15 top supplier (CTE view + scalar max subquery, exact-decimal argmax), shared SQL string"),
    QuerySpec("sql_q17_small_qty_orders", sql_q17_small_qty_orders, _Q17_SQL,
              "TPC-H Q17 small-quantity revenue (correlated scalar AVG subquery), shared SQL string"),
    QuerySpec("sql_q18_large_orders", sql_q18_large_orders, _Q18_SQL,
              "TPC-H Q18 large-volume customers (IN over grouped HAVING), shared SQL string"),
    QuerySpec("sql_exists_subquery", sql_exists_subquery, _EXISTS_SQL,
              "EXISTS correlated subquery (Catalyst left-semi rewrite), shared SQL string"),
    QuerySpec("sql_scalar_subquery", sql_scalar_subquery, _SCALAR_SUBQ_SQL,
              "scalar-subquery threshold filter, shared SQL string"),
    QuerySpec("source_formats_roundtrip", source_formats_roundtrip, _FORMATS_ORACLE,
              "csv/json/orc ingestion round-trip with exact decimal checksum"),
    QuerySpec("events_funnel", events_funnel, _FUNNEL_ORACLE,
              "ordered signup→view→purchase conversion funnel (min-timestamp semantics)"),
    QuerySpec("events_window_funnel", events_window_funnel, _WINDOW_FUNNEL_ORACLE,
              "ClickHouse windowFunnel-style time-boxed funnel level per user "
              "(greedy-earliest, 24h horizon from the first step)"),
    QuerySpec("events_cep_pattern", events_cep_pattern, _CEP_ORACLE,
              "MATCH_RECOGNIZE-style strictly-contiguous view→click→purchase "
              "runs with per-step deadlines (CEP via lead windows)"),
    QuerySpec("events_lateness_audit", events_lateness_audit, _LATENESS_ORACLE,
              "watermark-lateness histogram vs the arrival-order high-water "
              "mark (two-pass distributed running max)"),
    QuerySpec("events_retention", events_retention, _RETENTION_ORACLE,
              "weekly cohort retention (epoch-week cohorts, 1- and 2-week horizons)"),
    QuerySpec("events_resample_ffill", events_resample_ffill, _RESAMPLE_ORACLE,
              "6-hour grid resampling with forward fill (gap-filling time series)"),
    QuerySpec("join_skew_aqe", join_skew_aqe, _JOIN_SKEW_AQE_ORACLE,
              "unsalted hot-key join left to AQE runtime skew-split"),
    QuerySpec("agg_unpivot", agg_unpivot, _AGG_UNPIVOT_ORACLE,
              "wide-to-long unpivot/melt (inverse of agg_pivot)"),
    QuerySpec("events_histogram", events_histogram, _EVENTS_HISTOGRAM_ORACLE,
              "fixed-width value histogram per event type"),
    QuerySpec("table_upsert_latest", table_upsert_latest, _UPSERT_ORACLE,
              "CDC keep-latest merge (union + keyed window) with per-status checksum"),
    QuerySpec("events_anomaly_zscore", events_anomaly_zscore, _ANOMALY_ORACLE,
              "rolling 3-sigma outlier scan from exact decimal window moments"),
    QuerySpec("join_cross_dims", join_cross_dims, _CROSS_DIMS_ORACLE,
              "dense dim-matrix: cross join + left join with zero fill"),
    QuerySpec("setop_intersect_all", setop_intersect_all, _INTERSECT_ALL_ORACLE,
              "INTERSECT ALL multiset semantics, profiled per key"),
    QuerySpec("dq_profile", dq_profile, _dq_oracle(),
              "one-pass per-column data-quality audit (nulls/distinct/min/max)"),
    QuerySpec("agg_incremental_merge", agg_incremental_merge, _INCREMENTAL_MERGE_ORACLE,
              "merge of disjoint pre-aggregated partials equals direct aggregation"),
    QuerySpec("events_ohlc_bars", events_ohlc_bars, _OHLC_ORACLE,
              "OHLC candlestick downsample per (type, hour) from one window pass"),
    QuerySpec("events_ewma", events_ewma, _ewma_oracle(),
              "integer-exact truncated EWMA over a keyed lag chain"),
    QuerySpec("join_edit_distance", join_edit_distance, _EDIT_DISTANCE_ORACLE,
              "Levenshtein<=1 similarity join via deletion-neighborhood blocking"),
    QuerySpec("agg_array_collect", agg_array_collect, _ARRAY_COLLECT_ORACLE,
              "sorted collect_set arrays per key (deterministic-by-sort contract)"),
    QuerySpec("sql_recursive_bom", sql_recursive_bom, _RECURSIVE_BOM_SQL,
              "recursive-CTE ancestor closure + BOM subtree rollup (identical SQL both engines)"),
    QuerySpec("window_distinct_rolling", window_distinct_rolling, _WINDOW_DISTINCT_ORACLE,
              "rolling distinct count via collect_set window (no native DISTINCT agg)"),
    QuerySpec("basket_pairs", basket_pairs, _BASKET_ORACLE,
              "market-basket pair support mining (per-order bounded self-join)"),
    QuerySpec("sample_weighted", sample_weighted, _WEIGHTED_SAMPLE_ORACLE,
              "Efraimidis-Spirakis weighted sampling, md5-deterministic, no floats"),
    QuerySpec("orders_rfm", orders_rfm, _RFM_ORACLE,
              "RFM segmentation via broadcast percentile_disc cutoffs (no global ntile)"),
    QuerySpec("events_markov_transitions", events_markov_transitions, _MARKOV_ORACLE,
              "first-order Markov transition matrix over per-user sequences"),
    QuerySpec("source_partition_prune", source_partition_prune, _PARTITION_PRUNE_ORACLE,
              "hive-partitioned staging + partition-pruned read (values gated vs unpartitioned)"),
    QuerySpec("agg_mode", agg_mode, _AGG_MODE_ORACLE,
              "grouped mode with explicit tie-break (reproducible, unlike native mode())"),
    QuerySpec("setop_except_all", setop_except_all, _EXCEPT_ALL_ORACLE,
              "EXCEPT ALL multiset difference, surviving-count profile per key"),
    QuerySpec("sql_lateral_topk", sql_lateral_topk, _LATERAL_TOPK_SQL,
              "correlated LATERAL ORDER BY/LIMIT subquery (identical SQL both engines)"),
    QuerySpec("table_scd2", table_scd2, _SCD2_ORACLE,
              "type-2 SCD build: versioned state intervals from an append-only log"),
    QuerySpec("orders_cohort_ltv", orders_cohort_ltv, _COHORT_LTV_ORACLE,
              "cohort LTV triangle: first-order cohorts x month offset, exact revenue"),
    QuerySpec("join_bloom_filter", join_bloom_filter, _BLOOM_JOIN_ORACLE,
              "selective dim filter + fact join (runtime bloom-filter pushdown demo)"),
    QuerySpec("agg_hll_merge", agg_hll_merge, _HLL_MERGE_ORACLE,
              "two-level mergeable HLL sketch rollup + exact companion "
              "(hash-gated exact distinct; 5% tolerance pinned TRUE)"),
    QuerySpec("agg_approx_topk", agg_approx_topk, _APPROX_TOPK_ORACLE,
              "frequent-items sketch nominates, exact keyed count verifies "
              "(hash-gated exact head; DataSketches exact-count guarantee pinned)"),
    QuerySpec("scalar_variant", scalar_variant, _SCALAR_VARIANT_ORACLE,
              "VARIANT parse + typed variant_get extraction over props JSON"),
    QuerySpec("sql_pipe_q6", sql_pipe_q6, _Q6_ORACLE,
              "TPC-H Q6 in Spark 4 SQL pipe syntax (oracle = standard spelling)"),
    QuerySpec("sql_dataset_card", sql_dataset_card, _DATASET_CARD_SQL,
              "release datasheet: source/lang/corpus stats in one scan via "
              "GROUPING SETS (one ANSI string is query AND oracle)"),
    QuerySpec("sql_group_by_all", sql_group_by_all, _GROUP_BY_ALL_SQL,
              "GROUP BY ALL (identical SQL text on both engines)"),
    QuerySpec("join_interval_bins", join_interval_bins, _INTERVAL_BINS_ORACLE,
              "no-equi-key interval join rewritten as a binned hash join (plan-tested)"),
    QuerySpec("events_concurrency", events_concurrency, _CONCURRENCY_ORACLE,
              "peak concurrent sessions via the sweep-line boundary transform"),
    QuerySpec("join_asof_nearest", join_asof_nearest, _JOIN_ASOF_NEAREST_ORACLE,
              "bidirectional nearest-in-time as-of join via two carry passes"),
    QuerySpec("events_resample_interpolate", events_resample_interpolate, _RESAMPLE_INTERP_ORACLE,
              "6-hour-grid resampling with exact-IEEE linear interpolation"),
    QuerySpec("orders_abc_analysis", orders_abc_analysis, _ABC_ORACLE,
              "Pareto ABC classification via exact-decimal cumulative shares"),
    QuerySpec("agg_entropy", agg_entropy, _ENTROPY_ORACLE,
              "Shannon entropy of per-user event-type distributions (integer-arg ln)"),
    QuerySpec("agg_corr_exact", agg_corr_exact, _CORR_ORACLE,
              "Pearson correlation from exact decimal moments (deterministic corr())"),
    QuerySpec("agg_linreg_exact", agg_linreg_exact, _LINREG_ORACLE,
              "per-group OLS slope/intercept/r2 from the same exact moments (one-pass .fit())"),
    QuerySpec("orders_seasonal_naive", orders_seasonal_naive, _SEASONAL_NAIVE_ORACLE,
              "seasonal-naive monthly forecast + backtest errors (gap-safe offset self-join)"),
    QuerySpec("dq_k_anonymity", dq_k_anonymity, _DQ_K_ANON_ORACLE,
              "k-anonymity privacy audit over quasi-identifier groups "
              "(k=5; per-group flags + release-level risky-row total)"),
    QuerySpec("dq_expectations", dq_expectations, _DQ_EXPECT_ORACLE,
              "assertion-style DQ validation: referential/range/null rules with pass gates"),
    QuerySpec("agg_bitwise", agg_bitwise, _BITWISE_ORACLE,
              "bit_and/or/xor + bool_and/or aggregate family (order-free folds)"),
    QuerySpec("events_attribution", events_attribution, _ATTRIBUTION_ORACLE,
              "first/last-touch attribution via tie-safe min_by/max_by"),
    QuerySpec("join_null_safe", join_null_safe, _NULL_SAFE_JOIN_ORACLE,
              "null-safe equality full-outer join (<=> / IS NOT DISTINCT FROM)"),
    QuerySpec("table_merge_cdc", table_merge_cdc, _MERGE_CDC_ORACLE,
              "full MERGE semantics (insert/update/DELETE tombstones) as union + one keyed window"),
    QuerySpec("agg_listagg", agg_listagg, _LISTAGG_ORACLE,
              "Spark 4 listagg WITHIN GROUP (ordered string aggregation, capped per group)"),
    QuerySpec("events_ab_test", events_ab_test, _ab_test_oracle(),
              "deterministic A/B assignment + exact-moment Welch z readout"),
    QuerySpec("basket_lift", basket_lift, _BASKET_LIFT_ORACLE,
              "association-rule support/confidence/lift over the top co-occurring pairs"),
    QuerySpec("events_changepoint_cusum", events_changepoint_cusum, _CHANGEPOINT_ORACLE,
              "CUSUM change-point estimate per event series via exact "
              "count-scaled two-pass prefix sums (no per-type window)"),
    QuerySpec("sql_q22_sleeping_customers", sql_q22_sleeping_customers, _Q22_SQL,
              "TPC-H Q22 (nation for missing c_phone): above-average balances "
              "with no orders — exact multiplied-out AVG + anti-join, shared SQL string"),
    QuerySpec("join_bucketed_colocated", join_bucketed_colocated, _BUCKETED_JOIN_ORACLE,
              "zero-exchange fact-fact sort-merge join over bucketBy-staged "
              "tables (co-located bucket reads, plan-asserted)"),
    QuerySpec("sql_collated_wordcount", sql_collated_wordcount, _collated_wordcount_oracle(),
              "case-insensitive word count via engine collation "
              "(UTF8_LCASE vs NOCASE) over md5-injected case noise — "
              "S7's lowercase step as comparison semantics"),
    QuerySpec("source_schema_evolution", source_schema_evolution, _SCHEMA_EVOLUTION_ORACLE,
              "mergeSchema read across two staged parquet generations "
              "(new column NULL-filled for old rows, per-generation gate)"),
    QuerySpec("table_compaction_small_files", table_compaction_small_files, _COMPACTION_ORACLE,
              "small-file compaction (64 -> 4 files) gated on exact "
              "value preservation; file-count half pinned in pytest"),
    QuerySpec("sort_zorder_layout", sort_zorder_layout, _ZORDER_ORACLE,
              "Z-order (Morton) clustered staging + 2-d day×user slice "
              "(per-file both-dims locality pinned in pytest)"),
    QuerySpec("join_dpp_partition_pruned", join_dpp_partition_pruned, _DPP_ORACLE,
              "dynamic partition pruning: join-driven runtime partition "
              "filter on the partitioned fact (plan-tested subquery)"),
    QuerySpec("dq_benford", dq_benford, _BENFORD_ORACLE,
              "Benford first-digit audit (string-derived digits, no "
              "log-edge float risk; per-digit deviation readout)"),
    QuerySpec("source_csv_malformed_modes", source_csv_malformed_modes, _CSV_MALFORMED_ORACLE,
              "dirty-CSV ingestion: PERMISSIVE quarantine vs DROPMALFORMED "
              "on one staged feed, good-row revenue pinned identical"),
    QuerySpec("events_cumulative_users", events_cumulative_users, _CUMULATIVE_USERS_ORACLE,
              "DAU + cumulative distinct users via the first-occurrence "
              "running-sum identity (no expanding distinct rescan)"),
    QuerySpec("orders_backlog_aging", orders_backlog_aging, _BACKLOG_AGING_ORACLE,
              "open-order backlog aging snapshot (integer-day buckets, "
              "pushdown filter + 6-row keyed agg)"),
    QuerySpec("table_bitemporal_asof", table_bitemporal_asof, _bitemporal_oracle(),
              "bitemporal as-of: as-known-at-snapshot vs as-corrected-now "
              "ledgers via keyed version argmax per transaction frontier"),
    QuerySpec("dq_equidepth_histogram", dq_equidepth_histogram, _EQUIDEPTH_ORACLE,
              "equi-depth (ANALYZE-style) histogram from exact "
              "percentile_disc cutoffs broadcast into one scan"),
    QuerySpec("scalar_calendar_cycles", scalar_calendar_cycles, _CALENDAR_ORACLE,
              "billing-calendar arithmetic: add_months end-of-month clamp "
              "(gated), last_day cycles, quarter buckets, Monday=0 weekdays"),
    QuerySpec("events_seasonal_decompose", events_seasonal_decompose, _SEASONAL_DECOMP_ORACLE,
              "additive trend/seasonal/residual decomposition, computed "
              "scaled-by-7 in exact decimals (floats only at the readout)"),
    QuerySpec("events_series_similarity", events_series_similarity, _SERIES_SIM_ORACLE,
              "time-series k-NN: exact decimal squared-Euclidean over "
              "densified daily series (broadcast day spine + query series)"),
    QuerySpec("events_uptime_islands", events_uptime_islands, _UPTIME_ISLANDS_ORACLE,
              "uptime/availability runs via gaps-and-islands on the "
              "(type, hour) aggregate — never on raw events"),
    QuerySpec("sql_window_named", sql_window_named, _WINDOW_NAMED_SQL,
              "named WINDOW clause: one window spec shared by three "
              "window functions, shared SQL string"),
    QuerySpec("basket_sequence_rules", basket_sequence_rules, _SEQ_RULES_ORACLE,
              "sequential pattern mining (X then later Y) via a "
              "customer-keyed bounded self-join + tightest-gap evidence"),
    QuerySpec("window_rolling_regression", window_rolling_regression, _ROLLING_REG_ORACLE,
              "rolling 7-day OLS trend from exact windowed moments "
              "(one double division at the readout)"),
]
