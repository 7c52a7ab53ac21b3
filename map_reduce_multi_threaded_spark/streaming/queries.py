"""Streaming query specs — each runs a REAL Structured Streaming query
(file-source replay → availableNow trigger → memory sink) and returns
the drained result, so the DuckDB oracle gates streaming execution,
not just the window expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.wordcount import _ORACLE_WORDCOUNT
from ..registry import QuerySpec
from ..sources.tables import load_table
from . import windows as W

#: microsecond timestamp render shared by queries AND the fault-
#: tolerance gates in tests/test_streaming.py — Spark's `date_format`
#: 'SSSSSS' must stay in lockstep with the DuckDB oracles' strftime
#: '%f'; deriving both test sides from this one constant (ADVICE r12)
#: makes a precision change fail loudly instead of as an opaque set
#: mismatch.
SESSION_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_to_memory(W.tumbling_counts(ev), "stream_tumbling_sink")


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_to_memory(W.session_counts(ev), "stream_session_sink")


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-union doubles every event; streaming dropDuplicates must
    collapse them back to the batch truth."""
    ev = W.read_events_stream(spark, sf_dir)
    doubled = ev.unionByName(W.read_events_stream(spark, sf_dir))
    return W.run_to_memory(W.dedup_counts(doubled), "stream_dedup_sink")


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: dedup state is EVICTED once the
    watermark passes, so at 100 TB the dedup key store stays bounded —
    plain dropDuplicates keeps every key forever.  With the whole
    replay inside one micro-batch the result equals exact dedup, which
    keeps it oracle-checkable (the state-eviction behavior itself is
    what differs on long streams)."""
    import pyspark.sql.functions as F

    ev = W.read_events_stream(spark, sf_dir)
    doubled = ev.unionByName(W.read_events_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return W.run_to_memory(deduped, "stream_dedup_wm_sink")


_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n_events FROM events GROUP BY 1
"""


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream enriched against the batch
    customer dimension, then aggregated per market segment — the
    standard streaming-enrichment shape (clickstream × user table).

    Unlike stream-stream joins this needs NO watermark and keeps NO
    join state: each micro-batch hash-joins against the static side,
    which Spark re-plans per batch (a broadcast at dim scale).  Users
    without a customer row are kept as the 'unknown' segment via the
    left join — enrichment must never drop fact rows.  Scale: state
    stores hold only the aggregation; the dimension rides along as a
    broadcast, exactly like the batch join_dim_broadcast."""
    import pyspark.sql.functions as F

    ev = W.read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(cust), "user_id", "left")
    agg = (
        enriched.groupBy(
            F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )
    return W.run_to_memory(agg, "stream_static_join_sink")


_STREAM_STATIC_ORACLE = """
SELECT COALESCE(c.c_mktsegment, 'unknown') AS segment,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest guard — the streaming twin of the batch
    ``dedup_incremental``: each micro-batch LEFT-ANTI joins the static
    processed-ids ledger (here: the even event_ids, standing in for
    "already ingested in a previous run"), so re-delivered rows are
    dropped before they reach the aggregation — the idempotent-ingest
    shape for at-least-once sources (Kafka redelivery, backfill
    overlap).

    Like the enrichment join, stream-static anti needs NO watermark
    and keeps NO join state: the ledger is re-planned per batch.  The
    ledger side carries no broadcast hint — it is corpus-sized by
    nature (every id ever ingested).  Strategy note: stateful
    streaming plans are NOT wrapped in AdaptiveSparkPlan, so the join
    strategy comes from STATIC planning — under
    ``autoBroadcastJoinThreshold`` size estimation the small ledger
    broadcasts, a 100 TB ledger becomes a keyed per-batch join; tune
    that threshold (not spark.sql.adaptive.*) for this pattern."""
    import pyspark.sql.functions as F

    ev = W.read_events_stream(spark, sf_dir)
    seen = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 2 == 0)
        .select("event_id")
    )
    fresh = ev.join(seen, "event_id", "left_anti")
    agg = fresh.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_fresh"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    return W.run_to_memory(agg, "stream_ingest_dedup_sink")


_STREAM_INGEST_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n_fresh,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events s WHERE s.event_id % 2 = 0 AND s.event_id = e.event_id
)
GROUP BY event_type
"""


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_to_memory(W.sliding_counts(ev), "stream_sliding_sink")


def stream_custom_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization on raw GroupState with EVENT-TIME TIMEOUTS
    over the multi-batch replay: a session row emits either when a
    later event exposes a >30-min gap, or when the watermark passes
    last_ts+gap and the timeout fires for the idle key (the sentinel
    advances the watermark past every real event; every user's final
    session then emits via the timeout path in the engine's final
    no-data micro-batch — EventTimeTimeout fires on no-data batches
    just like outer-join state eviction).  The batch gaps-and-islands
    oracle is exact because arrival is time-ordered.

    Replay trimmed to 2 data files + 1 sentinel (r9, same move as the
    r4 outer-join trim): session state still crosses a real batch
    boundary, both emission paths (gap-exposure and timeout) stay
    load-bearing at every sf, and the per-micro-batch Python state
    fan-out — applyInPandasWithState runs a Python worker per state
    partition per trigger, the measured 8.2 s dominator at the old
    4+2 shape — drops from 6 triggers to 3."""
    import pyspark.sql.functions as F

    from .stateful import session_windows_custom

    staged, _ = W.stage_events_multibatch(sf_dir, n_files=2, n_sentinels=1)
    ev = W.read_events_stream(spark, staged, "*.parquet").withWatermark("ts", "1 second")
    out = W.run_to_memory(
        session_windows_custom(ev), "stream_custom_sessions_sink", output_mode="append"
    )
    # sentinel keys (negative user_ids) carry state too — drop them here
    return out.where(F.col("user_id") >= 0).select(
        "user_id",
        F.date_format("session_start", SESSION_TS_FMT).alias("session_start"),
        "n_events",
    )


def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running counts.  The single-file replay drains in one micro-batch,
    so the emitted running totals equal the batch ground truth — which
    makes even custom state logic oracle-checkable."""
    import pyspark.sql.functions as F

    from .stateful import running_user_counts

    ev = W.read_events_stream(spark, sf_dir)
    out = W.run_to_memory(
        running_user_counts(ev), "stream_stateful_sink", output_mode="update"
    )
    return out.select(
        "user_id",
        "n_events",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
    )


_STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events GROUP BY user_id
"""


#: the registered interval; also the time-bucket width of the join key
_SSJ_INTERVAL_MIN = 10


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's error events in the 10 minutes before it.

    Both sides carry watermarks so the join state is bounded — the
    engine can discard an error row once no future purchase could
    reach back to it (ts + 10 min < watermark).  Single-batch drain
    makes the result equal the batch interval join (the oracle).
    The join keys on (user, 10-min time bucket), see
    :func:`_interval_join_streams`."""
    import pyspark.sql.functions as F

    ev1 = W.read_events_stream(spark, sf_dir)
    purchases = (
        ev1.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    ev2 = W.read_events_stream(spark, sf_dir)
    errors = (
        ev2.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = _interval_join_streams(purchases, errors)
    return W.run_to_memory(joined, "stream_stream_join_sink", output_mode="append")


def _interval_join_streams(purchases: DataFrame, errors: DataFrame) -> DataFrame:
    """The interval-join core of :func:`stream_stream_join`, also driven
    by the fault-tolerance gates (tests run THIS code path through a
    checkpointed file-sink restart, so the registered plan — not a test
    copy — is what the exactly-once gate certifies).  Expects prepared
    purchase (purchase_id, p_user, p_ts) and error (error_id, e_user,
    e_ts) frames, streaming and watermarked or batch.

    The join keys on (user, time bucket), not user alone.  A hash
    partition on the user puts a 90% user in one partition, and its
    error buffer is scanned once per purchase of that user: on the 100x
    extreme-skew fixture the user-keyed join never finished a 600 s cap
    where this one drains in 7.8 s (docs/skew_gate_ab_r13.md).  With
    the bucket width equal to the interval, every error matching a
    purchase in bucket b lies in bucket b or b-1, so the purchase side
    explodes to those two probe buckets and each error owns exactly
    one: every matched pair is produced once, and a hot user's rows
    (and, streamed, its join STATE) shard across arrival windows.  Both
    bucket keys derive from the event times the watermarks already
    track, so state expiry is unchanged.  Cost: 2x purchase-side
    exchange rows, no extra exchange."""
    import pyspark.sql.functions as F

    bucket_us = _SSJ_INTERVAL_MIN * 60 * 1_000_000
    pb = F.floor(F.unix_micros(F.col("p_ts")) / F.lit(bucket_us)).cast("long")
    purchases = purchases.withColumn("_b", F.explode(F.array(pb, pb - F.lit(1))))
    errors = errors.withColumn(
        "_b", F.floor(F.unix_micros(F.col("e_ts")) / F.lit(bucket_us)).cast("long")
    )
    cond = (
        (F.col("p_user") == F.col("e_user"))
        & (F.col("purchases._b") == F.col("errors._b"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_SSJ_INTERVAL_MIN} MINUTES"))
        & (F.col("e_ts") <= F.col("p_ts"))
    )
    return purchases.alias("purchases").join(
        errors.alias("errors"), cond
    ).select("purchase_id", "error_id", "p_user")


_STREAM_STREAM_ORACLE = """
SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id AS p_user
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND e.ts >= p.ts - INTERVAL '10 minutes' AND e.ts <= p.ts
"""


def stream_tumbling_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling counts in APPEND mode over a 6-micro-batch replay (4
    time-ordered event files + 2 watermark sentinels): a window row is
    emitted exactly once, in the batch after the watermark passes its
    end — so watermark progression and state eviction run under the
    oracle gate, not just in tests.  Files are time-ordered, nothing is
    late, hence the batch oracle is exact."""
    import pyspark.sql.functions as F

    staged, cutoff = W.stage_events_multibatch(sf_dir)
    ev = W.read_events_stream(spark, staged, "*.parquet")
    # NO pre-aggregation sentinel filter: any row-level filter here gets
    # pushed below the watermark as a parquet scan predicate and the
    # sentinel-only files would be stats-skipped, stalling the watermark.
    # Sentinels aggregate into their own far-future windows instead and
    # are dropped by the window cutoff on the drained result.
    out = W.run_to_memory(
        W.tumbling_counts(ev.withWatermark("ts", "10 minutes")),
        "stream_tumbling_mb_sink",
        output_mode="append",
    )
    return out.where(F.col("window_start") <= cutoff)


def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE pipeline (S1-S13) as a STREAM: documents
    replayed in two micro-batches through the identical tokenize →
    strip-punct → drop-empty → lowercase chain into a COMPLETE-mode
    global word count — unbounded keyed aggregation state merging
    partials across micro-batches, which is precisely the reference's
    1024-bin partial-map + final-merge shape (map_reduce.cpp:191-438)
    with batch boundaries where the reference had process boundaries.
    The two-file staging forces real cross-batch state merge; the
    batch word-count SQL is the exact oracle.

    Scale: complete-mode state is vocabulary-sized (each key one
    count), the same footprint as the batch aggregate's hash table;
    no watermark because word counts have no event time."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from ..functions.text import normalize_token, tokens
    from ..sources.tables import staged

    docs_dir = staged(
        sf_dir,
        "docs_stream2",
        ("documents",),
        lambda d: W.write_replay(
            d, pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]), 2
        ),
    )
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(docs_dir)
    )
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .select(normalize_token(F.col("tok")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return W.run_to_memory(counts, "stream_wordcount_sink", output_mode="complete")


def stream_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling counts in UPDATE output mode over a 4-micro-batch
    replay — the third output mode (append and complete are covered
    elsewhere): each trigger emits the CURRENT state of every group
    touched in that batch, so a window spanning a file boundary
    appears multiple times in the sink with its count snapshots — the
    changelog a downstream upsert sink (foreachBatch → keyed store)
    consumes.  The memory sink accumulates the update rows, making the
    full emission history oracle-checkable: the staging split is a
    deterministic function of (ts, event_id) rank, so the oracle
    reconstructs batch membership from rank boundaries and emits the
    running cumulative count/sum per touched (window, type, batch) —
    exact because decimal partial sums are associative.

    Scale: same watermark-bounded tumbling state as stream_tumbling;
    update mode's emission volume is O(groups touched per batch), the
    cheapest of the three modes for high-cardinality rollups."""
    staged, _ = W.stage_events_multibatch(sf_dir, n_files=4, n_sentinels=0)
    ev = W.read_events_stream(spark, staged, "*.parquet")
    return W.run_to_memory(
        W.tumbling_counts(ev.withWatermark("ts", "10 minutes")),
        "stream_update_sink",
        output_mode="update",
    )


_UPDATE_COUNTS_ORACLE = """
WITH ranked AS (
  SELECT ts, event_type, value,
         row_number() OVER (ORDER BY ts, event_id) - 1 AS r,
         count(*) OVER () AS n
  FROM events
),
tagged AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, event_type,
         CAST(value AS DECIMAL(18,4)) AS v,
         (CASE WHEN r >= (1 * n) // 4 THEN 1 ELSE 0 END
        + CASE WHEN r >= (2 * n) // 4 THEN 1 ELSE 0 END
        + CASE WHEN r >= (3 * n) // 4 THEN 1 ELSE 0 END) AS b
  FROM ranked
),
g AS (
  SELECT ws, event_type, b, count(*) AS c, sum(v) AS sv
  FROM tagged GROUP BY 1, 2, 3
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(sum(c) OVER w AS BIGINT) AS n_events,
       CAST(sum(sv) OVER w AS DOUBLE) AS sum_value
FROM g
WINDOW w AS (PARTITION BY ws, event_type ORDER BY b)
"""


def stream_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregation — two windowed aggregates in ONE
    streaming query (multiple-stateful-operator support, Spark ≥ 3.4):
    10-minute tumbling counts per event type roll up into 30-minute
    windows via ``window()`` OVER THE WINDOW STRUCT, each stage with
    its own state store, watermark propagated through.  This is the
    streaming form of a tiered rollup (minute → hour → day) that
    otherwise needs one job per tier plus an intermediate topic; the
    multi-batch replay proves inner windows close and feed the outer
    aggregate before the sink.  Oracle: the same two-level GROUP BY in
    batch SQL — exact because the replay is time-ordered.  Replay
    trimmed to 2 data files + 1 sentinel (r9, the outer-join trim
    precedent): inner-window state still crosses a real batch
    boundary and the final no-data micro-batch closes the rest;
    emission THROUGH a real data batch stays exercised by
    stream_tumbling_multibatch's deliberate 4+2 shape."""
    import pyspark.sql.functions as F

    staged, cutoff = W.stage_events_multibatch(sf_dir, n_files=2, n_sentinels=1)
    ev = W.read_events_stream(spark, staged, "*.parquet").withWatermark("ts", "10 minutes")
    w10 = ev.groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type").agg(
        F.count(F.lit(1)).alias("n10")
    )
    w30 = (
        w10.groupBy(F.window("w10", "30 minutes").alias("w30"), "event_type")
        .agg(
            F.sum("n10").alias("n_events"),
            F.count(F.lit(1)).alias("n_subwindows"),
        )
        .select(
            F.date_format("w30.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
    )
    out = W.run_to_memory(w30, "stream_rollup_sink", output_mode="append")
    return out.where(F.col("window_start") <= cutoff)


_WINDOWED_ROLLUP_ORACLE = """
WITH w10 AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, event_type,
         count(*) AS n10
  FROM events GROUP BY 1, 2
)
SELECT strftime(time_bucket(INTERVAL '30 minutes', ws), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, CAST(sum(n10) AS BIGINT) AS n_events,
       count(*) AS n_subwindows
FROM w10 GROUP BY 1, 2
"""


def stream_window_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ARGMAX rollup — "which event type won each 15-minute
    window", computed end-to-end inside one streaming query as CHAINED
    stateful aggregates (the leaderboard shape every live dashboard
    needs): stage 1 keeps per-(window, type) counts, stage 2 reduces
    each window to max(struct(n, type)) + totals, each with its own
    state store, watermark propagated so closed windows emit through
    real micro-batch boundaries (same multi-batch replay harness as
    :func:`stream_windowed_rollup`).

    Streaming has no per-window ranking operator — a window-function
    rank would need the whole window re-sorted per trigger; the
    struct-max argmax is the INCREMENTAL spelling (O(1) state merge
    per update, the same order-free trick as the batch max_by family).
    Ties break to the larger type string via struct comparison,
    mirrored exactly by the oracle's (n DESC, type DESC) ranking.
    Replay trimmed to 2 data files + 1 sentinel (r9, the outer-join
    trim precedent): both stateful stages still merge state across a
    real batch boundary; the no-data micro-batch closes the rest."""
    import pyspark.sql.functions as F

    staged, cutoff = W.stage_events_multibatch(sf_dir, n_files=2, n_sentinels=1)
    ev = W.read_events_stream(spark, staged, "*.parquet").withWatermark("ts", "10 minutes")
    counts = ev.groupBy(
        F.window("ts", "15 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    winner = (
        counts.groupBy("w")
        .agg(
            F.max(
                F.struct(F.col("n").alias("n"), F.col("event_type").alias("t"))
            ).alias("m"),
            F.sum("n").alias("n_total"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("m.t").alias("top_type"),
            F.col("m.n").alias("top_n"),
            "n_total",
            "n_types",
        )
    )
    out = W.run_to_memory(winner, "stream_window_winner_sink", output_mode="append")
    return out.where(F.col("window_start") <= cutoff)


_WINDOW_WINNER_ORACLE = """
WITH c AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS ws, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY ws ORDER BY n DESC, event_type DESC) AS rn,
         sum(n) OVER (PARTITION BY ws) AS n_total,
         count(*) OVER (PARTITION BY ws) AS n_types
  FROM c
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type AS top_type,
       CAST(n AS BIGINT) AS top_n,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(n_types AS BIGINT) AS n_types
FROM r WHERE rn = 1
"""


def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: purchases
    with no error in the trailing 10 minutes emit a null-extended row —
    but only once the watermark proves no future error can match.  The
    single sentinel batch advances the watermark past every real event,
    and the engine's final no-data micro-batch is where the expired
    join state emits its null rows (r2 trim: 2 data files + 1 sentinel
    ≈ 4 s at sf0.1 vs 7 s for the old 4+2 shape, identical output;
    join state still crosses a real batch boundary).  The batch left
    join is therefore the exact oracle."""
    import pyspark.sql.functions as F

    staged, _ = W.stage_events_multibatch(sf_dir, n_files=2, n_sentinels=1)
    # the sentinel files carry far-future 'purchase' and 'error' rows
    # (user_id -1/-2) precisely so they SURVIVE these pushed-down type
    # filters and advance both streams' watermarks; their null-extended
    # join outputs are dropped by the p_user >= 0 filter at the end
    ev1 = W.read_events_stream(spark, staged, "*.parquet").withWatermark("ts", "1 second")
    purchases = ev1.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    ev2 = W.read_events_stream(spark, staged, "*.parquet").withWatermark("ts", "1 second")
    errors = ev2.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("e_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "error_id", "p_user")
    out = W.run_to_memory(joined, "stream_join_lo_sink", output_mode="append")
    return out.where(F.col("p_user") >= 0)


_STREAM_LEFT_OUTER_ORACLE = """
SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id AS p_user
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND e.ts >= p.ts - INTERVAL '10 minutes' AND e.ts <= p.ts
"""


def stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — BOTH
    unmatched sides must null-extend, each only once ITS watermark
    frontier proves no future partner can arrive: purchases with no
    trailing-10-minute error AND errors no purchase ever claimed.
    This is the reconciliation-report shape (two feeds, every
    unmatched row from either surfaced), and the state-management
    superset of :func:`stream_join_left_outer`: the engine holds and
    expires join state on BOTH sides, emitting each side's
    null-extended rows from the final no-data micro-batch after the
    sentinel advances both watermarks.  The batch FULL JOIN is then
    the exact oracle; sentinel rows (negative users) join nothing by
    construction and are filtered after the drain."""
    import pyspark.sql.functions as F

    staged, _ = W.stage_events_multibatch(sf_dir, n_files=2, n_sentinels=1)
    ev1 = W.read_events_stream(spark, staged, "*.parquet").withWatermark("ts", "1 second")
    purchases = ev1.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    ev2 = W.read_events_stream(spark, staged, "*.parquet").withWatermark("ts", "1 second")
    errors = ev2.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("e_ts") <= F.col("p_ts")),
        "fullOuter",
    ).select(
        "purchase_id",
        "error_id",
        F.coalesce("p_user", "e_user").alias("user_id"),
    )
    out = W.run_to_memory(joined, "stream_join_fo_sink", output_mode="append")
    return out.where(F.col("user_id") >= 0)


_STREAM_FULL_OUTER_ORACLE = """
SELECT p.event_id AS purchase_id, e.event_id AS error_id,
       coalesce(p.user_id, e.user_id) AS user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND e.ts >= p.ts - INTERVAL '10 minutes' AND e.ts <= p.ts
"""


def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars: the min/max-of-struct first/last picks run
    incrementally as ordinary aggregate state — proof the batch
    operator's formulation carries to streaming unchanged (a window
    -function OHLC could not)."""
    ev = W.read_events_stream(spark, sf_dir)
    return W.run_to_memory(W.ohlc_bars(ev), "stream_ohlc_sink")


_STREAM_OHLC_ORACLE = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_start,
       event_type,
       struct_extract(min({'tu': epoch_us(ts), 'eid': event_id, 'v': value}), 'v') AS open,
       max(value) AS high,
       min(value) AS low,
       struct_extract(max({'tu': epoch_us(ts), 'eid': event_id, 'v': value}), 'v') AS close,
       count(*) AS n_trades
FROM events GROUP BY 1, 2
"""


#: watermark delay for the late-data-policy replay: 5 minutes, 1/12 of
#: the 0-60 min simulated transport jitter (windows.LATE_JITTER_US) —
#: drops need a row's jitter to carry it past a FILE boundary by more
#: than this delay, so the jitter must dwarf it for real drops to
#: occur at every sf.
LATE_WM_DELAY_US = 300 * 1_000_000


def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data policy, actually exercised: replay events in
    simulated ARRIVAL order (event time + 0-60 min md5 transport
    jitter, :func:`windows.stage_events_arrival_order`) through a
    watermarked tumbling aggregation with a 5-minute delay — rows
    whose window already fell behind the watermark are genuinely
    DROPPED by the engine, and windows still open at end-of-stream are
    genuinely withheld.  Every other staged replay here is
    time-ordered ("nothing is ever late"); this query gates the drop
    rule itself.

    The oracle re-derives the engine's exact policy from the batch
    table — including the subtlety (verified against the engine with
    minimal probes, batch-2 drop metrics) that the LATE-DATA FILTER
    runs one trigger behind EVICTION: a row in micro-batch b is
    dropped iff its window END ≤ the watermark of the PREVIOUS batch
    (ms-floored max event time over files ≤ b−2, minus delay) — a row
    late w.r.t. the CURRENT watermark but whose window state has not
    yet been evicted is still merged; emission/eviction then uses the
    current watermark, and append mode finally emits every window
    whose end ≤ the terminal watermark (final no-data micro-batch).
    Matching bit-for-bit means the replay cut points, the ms flooring
    of event-time stats, the filter-vs-eviction lag, and the boundary
    comparisons are all right.

    Scale: watermark state is O(open windows × types); the late-drop
    filter runs pre-shuffle on every executor — this is the mechanism
    that bounds streaming state at 100 TB, demonstrated rather than
    asserted."""
    staged = W.stage_events_arrival_order(sf_dir, n_files=4)
    ev = W.read_events_stream(spark, staged, "*.parquet")
    # the aggregation IS tumbling_counts — only the watermark and the
    # out-of-order input differ from stream_tumbling
    agg = W.tumbling_counts(ev.withWatermark("ts", "5 minutes"))
    return W.run_to_memory(agg, "stream_late_policy_sink", output_mode="append")


def _late_policy_oracle() -> str:
    from ..functions.text import duck_md5_long

    jitter = f"{duck_md5_long('CAST(event_id AS VARCHAR)')} % {W.LATE_JITTER_US}"
    wend = "epoch_us(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes')"
    return f"""
WITH arr AS (
  SELECT event_id, event_type, value, ts,
         epoch_us(ts) + {jitter} AS arr_us
  FROM events
),
nn AS (SELECT count(*) AS n FROM events),
ranked AS (
  SELECT arr.*, row_number() OVER (ORDER BY arr_us, event_id) - 1 AS r FROM arr
),
filed AS (
  SELECT ranked.*, CASE WHEN r < 1 * n // 4 THEN 0
                        WHEN r < 2 * n // 4 THEN 1
                        WHEN r < 3 * n // 4 THEN 2
                        ELSE 3 END AS f
  FROM ranked, nn
),
fmax AS (SELECT f, max(epoch_us(ts)) AS mx FROM filed GROUP BY f),
wmb AS (
  -- the watermark the late-data filter sees in batch b: one trigger
  -- BEHIND eviction, i.e. derived from files <= b-2
  SELECT b.f, (max(w.mx) // 1000 - {LATE_WM_DELAY_US // 1000}) * 1000 AS wm_us
  FROM (SELECT DISTINCT f FROM filed) b LEFT JOIN fmax w ON w.f < b.f - 1
  GROUP BY b.f
),
kept AS (
  SELECT filed.* FROM filed JOIN wmb USING (f)
  WHERE wm_us IS NULL OR {wend} > wm_us
),
fw AS (
  SELECT (max(epoch_us(ts)) // 1000 - {LATE_WM_DELAY_US // 1000}) * 1000 AS fw_us
  FROM events
)
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM kept, fw
WHERE {wend} <= fw_us
GROUP BY 1, 2
"""


#: micro-batch count for the CDC-upsert replay (time-ordered quarter
#: files; boundaries are ``i*n div 4`` of the (ts, event_id) order —
#: the oracle mirrors them exactly).
CDC_STREAM_FILES = 4


def _cdc_batch_latest(batch_df: DataFrame) -> DataFrame:
    """Per-micro-batch change-set compaction: latest event per user
    within the batch (the Debezium-style 'last image wins' reduce)."""
    import pyspark.sql.functions as F

    return (
        batch_df.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_type", "value", "ts", "event_id"),
                F.struct("ts", "event_id"),
            ).alias("l")
        )
        .select("user_id", "l.event_type", "l.value", "l.ts", "l.event_id")
    )


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the Debezium→lakehouse pattern: a change
    stream replayed as {CDC_STREAM_FILES} time-ordered micro-batches is
    upserted into a keyed table via ``foreachBatch``, MERGE-ON-READ
    style: each batch appends only its compacted change set (latest
    image per key in the batch, an idempotent per-batch_id partition
    write), and the read path resolves the latest version per key —
    exactly how Hudi MOR / Delta CDF consumers materialize a mutable
    table on an append-only substrate.

    The oracle gates the micro-batch STRUCTURE, not just the final
    state: ``n_versions`` counts how many batches touched each key,
    which is only right if the replay cut the stream at the same
    (ts, event_id) quarter boundaries the staging did.

    Scale: each batch shuffles only its own change set (O(batch) keyed
    agg + append); nothing ever rewrites the table.  The resolve is
    one keyed max_by over the log — in production that log IS the
    table (compaction amortizes it); the localCheckpoint here only
    pins the harness result before the scratch log is deleted."""
    import os

    import pyspark.sql.functions as F

    from ..sources.tables import tmpfs_scratch_dir

    staged, _cutoff = W.stage_events_multibatch(
        sf_dir, n_files=CDC_STREAM_FILES, n_sentinels=0
    )
    ev = W.read_events_stream(spark, staged, "*.parquet")
    with tmpfs_scratch_dir("sg_cdc_log_") as scratch:
        out = os.path.join(scratch, "stream_cdc_upsert_log")
        W.write_foreach_batch(ev, out, transform=_cdc_batch_latest)
        # explicit schema, derived by pushing an empty frame through the
        # same per-batch transform: a 0-row events table yields 0-row
        # micro-batches, dynamic partition overwrite then writes NO
        # files, and schema inference on the empty log dir throws
        # (round-11 empty-table audit).  The empty local frame is
        # schema-derivation only — it never enters the executed plan.
        log_schema = (
            _cdc_batch_latest(spark.createDataFrame([], ev.schema))
            .withColumn("batch_id", F.lit(0))
            .schema
        )
        log = spark.read.schema(log_schema).parquet(out)
        return (
            log.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_versions"),
                F.max_by(
                    F.struct("event_type", "value", "ts"),
                    F.struct("ts", "event_id"),
                ).alias("l"),
            )
            .select(
                "user_id",
                "n_versions",
                F.col("l.event_type").alias("last_type"),
                F.col("l.value").alias("last_value"),
                F.date_format("l.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
            )
            .localCheckpoint(eager=True)
        )


_CDC_UPSERT_ORACLE = """
WITH nn AS (SELECT count(*) AS n FROM events),
ranked AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (ORDER BY ts, event_id) - 1 AS r
  FROM events
),
filed AS (
  SELECT user_id,
         CASE WHEN r < 1 * n // 4 THEN 0
              WHEN r < 2 * n // 4 THEN 1
              WHEN r < 3 * n // 4 THEN 2
              ELSE 3 END AS f
  FROM ranked, nn
),
nvers AS (
  SELECT user_id, count(*) AS n_versions
  FROM (SELECT DISTINCT user_id, f FROM filed) GROUP BY user_id
),
lastd AS (
  SELECT user_id, event_type, value, ts
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
  WHERE rn = 1
)
SELECT l.user_id,
       CAST(n_versions AS BIGINT) AS n_versions,
       l.event_type AS last_type,
       l.value AS last_value,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM lastd l JOIN nvers USING (user_id)
"""


SPECS = [
    QuerySpec("stream_late_data_policy", stream_late_data_policy,
              _late_policy_oracle(),
              "watermarked agg over an out-of-order arrival replay: real "
              "late-row drops + terminal emission frontier, both oracled"),
    QuerySpec("stream_cdc_upsert", stream_cdc_upsert, _CDC_UPSERT_ORACLE,
              "foreachBatch merge-on-read upsert of a replayed change "
              "stream (per-batch change-set compaction; version counts "
              "gate the micro-batch structure)"),
    QuerySpec("stream_tumbling", stream_tumbling, W.TUMBLING_ORACLE,
              "streaming tumbling windows drained through a memory sink"),
    QuerySpec("stream_ingest_dedup", stream_ingest_dedup, _STREAM_INGEST_DEDUP_ORACLE,
              "stream-static LEFT-ANTI ingest guard vs the processed-ids ledger "
              "(stateless idempotent re-delivery dedup)"),
    QuerySpec("stream_ohlc", stream_ohlc, _STREAM_OHLC_ORACLE,
              "streaming OHLC bars via incremental min/max-of-struct picks"),
    QuerySpec("stream_tumbling_multibatch", stream_tumbling_multibatch, W.TUMBLING_ORACLE,
              "append-mode tumbling windows over a 6-micro-batch replay (watermark-driven emission)"),
    QuerySpec("stream_windowed_rollup", stream_windowed_rollup, _WINDOWED_ROLLUP_ORACLE,
              "chained stateful aggregation: 10-min windows rolled into 30-min inside one query"),
    QuerySpec("stream_window_winner", stream_window_winner, _WINDOW_WINNER_ORACLE,
              "streaming per-window argmax leaderboard via chained stateful "
              "max-of-struct (incremental, no per-window re-rank)"),
    QuerySpec("stream_update_counts", stream_update_counts, _UPDATE_COUNTS_ORACLE,
              "UPDATE-mode tumbling counts: per-batch state snapshots as a "
              "changelog, oracled from deterministic batch boundaries"),
    QuerySpec("stream_wordcount", stream_wordcount, _ORACLE_WORDCOUNT,
              "the reference's S1-S13 pipeline as a stream: 2-micro-batch "
              "replay into a complete-mode global word count"),
    QuerySpec("stream_join_left_outer", stream_join_left_outer, _STREAM_LEFT_OUTER_ORACLE,
              "stream-stream LEFT OUTER interval join with watermark-forced null emission"),
    QuerySpec("stream_join_full_outer", stream_join_full_outer, _STREAM_FULL_OUTER_ORACLE,
              "stream-stream FULL OUTER interval join: both sides' state "
              "expired and null-extended at their own watermark frontiers"),
    QuerySpec("stream_stateful_counts", stream_stateful_counts, _STATEFUL_ORACLE,
              "custom stateful operator via applyInPandasWithState"),
    QuerySpec("stream_session", stream_session, W.SESSION_ORACLE,
              "streaming session windows (30-min gap) per user"),
    QuerySpec("stream_sliding", stream_sliding, W.SLIDING_ORACLE,
              "streaming sliding windows (10 min / slide 5)"),
    QuerySpec("stream_custom_sessions", stream_custom_sessions, W.SESSION_ORACLE,
              "custom GroupState sessionization with event-time timeouts (multi-batch replay)"),
    QuerySpec("stream_dedup", stream_dedup, _DEDUP_ORACLE,
              "streaming dropDuplicates over a doubled replay"),
    QuerySpec("stream_dedup_within_watermark", stream_dedup_within_watermark, _DEDUP_ORACLE,
              "dropDuplicatesWithinWatermark (bounded dedup state)"),
    QuerySpec("stream_stream_join", stream_stream_join, _STREAM_STREAM_ORACLE,
              "watermarked stream-stream interval join"),
    QuerySpec("stream_static_join", stream_static_join, _STREAM_STATIC_ORACLE,
              "stream-static dimension enrichment join (stateless, broadcast per batch)"),
]
