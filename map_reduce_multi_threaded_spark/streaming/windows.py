"""Structured Streaming operators over the ``events`` table.

The reference is strictly batch (SURVEY.md §2.1) — its closest analogue
to streaming is the bounded reader→mapper queue with backpressure
(``map_reduce.cpp:72-115``), which Structured Streaming's micro-batch
engine subsumes (source offsets + state store + watermark-driven
eviction instead of spin/usleep).

Each operator is expressed once over a DataFrame that may be batch or
streaming — the same plan runs both ways, which is how the streaming
results are oracle-checked: replay the parquet through a file source
(:func:`read_events_stream`), drain it into a memory sink through the
one availableNow drain (:func:`drain`), compare to the batch/DuckDB
answer.  The tumbling, sliding and session operators keep their one
DuckDB oracle beside them (``TUMBLING_ORACLE`` and so on), shared by
the batch ``events_*`` spec and its ``stream_*`` twin.
:func:`capture_template` builds any streaming query drain-free and
returns its template plan instead.

Scale: streaming state (window aggregates, dedup keys) is partitioned
by group key across executors exactly like a batch shuffle; watermarks
bound state size — without them a 100 TB replay would accumulate state
forever.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..sources.tables import normalize_event_ts, staged, tmpfs_scratch_dir


def _raw_ts_type(parquet_path: str) -> DataType:
    """Spark type that ``ts`` in this parquet file reads as, under
    ``nanosAsLong=true``: TIMESTAMP(NANOS) → int64 nanos (LongType);
    micros with isAdjustedToUTC=false → TIMESTAMP_NTZ; adjusted-to-UTC
    micros would read as plain TimestampType (then no conversion is
    needed, but the NTZ cast is a no-op on it anyway, so NTZ is the
    safe declared type only for tz-naive files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_schema(parquet_path).field("ts").type
    if pa.types.is_timestamp(t) and t.unit != "ns":
        # isAdjustedToUTC=true surfaces as a pyarrow tz — declaring NTZ
        # there would mismatch the file's logical type, so such files
        # read as plain (tz-aware) TimestampType
        if t.tz is not None:
            return TimestampType()
        return TimestampNTZType()
    return LongType()  # nanos (arrow timestamp[ns]) → nanosAsLong int64


def events_schema(ts_type: DataType) -> StructType:
    """Read-time schema of an events parquet file (file streams require
    an explicit schema; ``ts`` physical type varies by fixture
    generation — see sources.tables.normalize_event_ts)."""
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession, src_dir: str, pattern: str = "events.parquet"
) -> DataFrame:
    """File-source replay of the events files in ``src_dir`` that match
    ``pattern``, one file per micro-batch: ``events.parquet`` of an sf
    dir, or ``"*.parquet"`` for a staged multi-file replay
    (:func:`stage_events_multibatch`, :func:`stage_events_arrival_order`).
    The file source requires a directory, so the glob filter picks the
    files; staged files keep the source fixture's ts type, so any one
    matching file declares it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sample = sorted(glob.glob(os.path.join(glob.escape(src_dir), pattern)))[0]
    raw = (
        spark.readStream.schema(events_schema(_raw_ts_type(sample)))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", pattern)
        .parquet(src_dir)
    )
    return normalize_event_ts(raw)


#: sentinel rows use event_ids at/above this and negative user_ids, so
#: query results can drop them after the stateful operator emits.
SENTINEL_EVENT_ID = 10_000_000


def stage_events_multibatch(
    sf_dir: str, n_files: int = 4, n_sentinels: int = 2
) -> tuple[str, str]:
    """Split events.parquet into ``n_files`` time-ordered parquet files
    plus ``n_sentinels`` far-future sentinel files in a scratch dir, so
    a file stream with ``maxFilesPerTrigger=1`` replays it as
    n+n_sentinels micro-batches with monotonically advancing event
    time.  Returns (dir, cutoff) where cutoff is the max REAL event
    time as 'yyyy-MM-dd HH:mm:ss' — results are filtered back to
    windows at or before it.

    Why sentinels at all: the watermark computed from a batch's data
    takes effect in the NEXT batch — sentinel #1 advances it past every
    real event.  With ``noDataMicroBatches`` (on by default) the engine
    then runs one final empty batch where the advanced watermark
    closes windows / expires outer-join state, so ONE sentinel
    suffices; a second sentinel forces the emission through a real
    data batch instead (``stream_tumbling_multibatch`` keeps 2 to
    exercise that path — ``stream_join_left_outer`` uses 1).  Files
    are time-ordered so nothing is ever late; the oracle is therefore
    the plain batch answer while watermark progression and state
    eviction are genuinely exercised.

    Each sentinel file carries one 'purchase' and one 'error' row
    (user_id -1/-2, matching no real user) besides a neutral marker row:
    downstream type filters get pushed below the watermark operator as
    parquet scan predicates, so a sentinel-only file whose rows all fail
    the filter would be SKIPPED via row-group stats and the watermark
    would never advance — sentinels must pass the stream's own filters.

    The staged copy is cached per sf dir (``sources.tables.staged``;
    content is a deterministic function of events.parquet); the cutoff
    is stored beside the files in ``_cutoff``, which the file source
    skips."""
    out_dir = staged(
        sf_dir,
        f"events_multibatch{n_files}s{n_sentinels}",
        ("events",),
        lambda d: _write_multibatch(sf_dir, d, n_files, n_sentinels),
    )
    with open(os.path.join(out_dir, "_cutoff")) as f:
        return out_dir, f.read()


def _write_multibatch(sf_dir: str, out_dir: str, n_files: int, n_sentinels: int) -> None:
    """Write :func:`stage_events_multibatch`'s replay files and its
    ``_cutoff`` into ``out_dir``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    n = t.num_rows
    # one day in the fixture's own timestamp unit (ns for the legacy
    # TIMESTAMP(NANOS) fixture, us for the current one)
    unit = t.schema.field("ts").type.unit
    day_ticks = 86_400 * {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
    if n:
        max_scalar = t.column("ts")[n - 1]
        max_ts = max_scalar.value  # ticks since epoch in the column's unit
        cutoff = max_scalar.as_py().strftime("%Y-%m-%d %H:%M:%S")
    else:
        # 0-row events (round-11 degenerate-input audit): replay only
        # the sentinel files so the watermark machinery still runs, and
        # pin the cutoff BEFORE any sentinel ('1970-01-01') so every
        # sentinel-derived window is filtered out — the streamed answer
        # is then empty, exactly the batch/oracle answer on no events.
        # The base is derived IN-UNIT (day 19,600 since epoch ≈
        # 2023-08-31 regardless of s/ms/us/ns — ADVICE r11: a fixed
        # tick literal meant 1970-01-20 under the legacy ns fixture,
        # leaving ~3 weeks of post-epoch margin instead of decades).
        max_ts = 19_600 * day_ticks
        cutoff = "1970-01-01 00:00:00"
    sentinels = []
    for s in range(n_sentinels):
        base = SENTINEL_EVENT_ID + 10 * s
        sts = max_ts + (s + 1) * day_ticks
        sentinels.append(
            pa.table(
                {
                    "event_id": pa.array([base, base + 1, base + 2], pa.int64()),
                    "ts": pa.array([sts, sts, sts], t.schema.field("ts").type),
                    "user_id": pa.array([-3, -1, -2], pa.int64()),
                    "event_type": pa.array(["sentinel", "purchase", "error"], pa.string()),
                    "value": pa.array([0.0, 0.0, 0.0], pa.float64()),
                    "props": pa.array(["{}", "{}", "{}"], pa.string()),
                }
            ).cast(t.schema)
        )
    write_replay(out_dir, t, n_files, sentinels)
    with open(os.path.join(out_dir, "_cutoff"), "w") as f:
        f.write(cutoff)


def write_replay(out_dir: str, t: "pa.Table", n_files: int, tail: list | tuple = ()) -> None:
    """Write the pyarrow table ``t`` as ``n_files`` consecutive row
    slices ``f000.parquet``, ``f001.parquet``, … followed by the
    ``tail`` tables, one file each.  The file source orders batches by
    (modification time, path), so file i's mtime is pinned to
    ``1_700_000_000 + i``: a ``maxFilesPerTrigger=1`` stream replays
    the files in this order."""
    import pyarrow.parquet as pq

    n = t.num_rows
    chunks = [
        t.slice(i * n // n_files, (i + 1) * n // n_files - i * n // n_files)
        for i in range(n_files)
    ]
    for i, chunk in enumerate(chunks + list(tail)):
        path = os.path.join(out_dir, f"f{i:03d}.parquet")
        pq.write_table(chunk, path, store_schema=True)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


#: simulated transport delay bound for the ARRIVAL-ORDER replay:
#: 0-60 min md5 jitter per event.  Deliberately LARGER than
#: relational.events_lateness_audit's 10-min model: drops need a row's
#: jitter to carry it past a FILE boundary by more than the watermark
#: delay, and with only 4 boundaries over the fixture's span a 10-min
#: jitter almost never does (measured: 1 drop at sf0.01) — 1 h makes
#: the drop path genuinely load-bearing at every sf.
LATE_JITTER_US = 3600 * 1_000_000


def stage_events_arrival_order(sf_dir: str, n_files: int = 4) -> str:
    """Split events.parquet into ``n_files`` files ordered by SIMULATED
    ARRIVAL time (event time + a deterministic 0-60 min md5 transport
    delay, LATE_JITTER_US), so a file-per-trigger replay delivers genuinely
    OUT-OF-ORDER event times: rows whose event time lags the
    high-water mark by more than the watermark delay are really
    dropped by the engine — unlike :func:`stage_events_multibatch`,
    whose time-ordered files mean nothing is ever late.

    No sentinels: the final no-data micro-batch (noDataMicroBatches)
    closes every window at or below the terminal watermark; windows
    above it stay open and are deliberately absent from the result —
    the oracle models both the per-batch drop rule and that terminal
    emission frontier.  The staged copy is cached per sf dir
    (``sources.tables.staged``)."""
    return staged(
        sf_dir,
        f"events_arrival{n_files}j{LATE_JITTER_US // 10**6}",
        ("events",),
        lambda d: write_replay(d, _arrival_ordered(sf_dir), n_files),
    )


def _arrival_ordered(sf_dir: str):
    """events.parquet sorted by simulated arrival time, then event_id."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..functions.text import py_md5_bucket

    t = pq.read_table(f"{sf_dir}/events.parquet")
    unit = t.schema.field("ts").type.unit
    # arrival is computed in MICROSECONDS exactly (ns truncates like
    # both Spark's normalize cast and the oracle's epoch_us) so the
    # arrival ORDER here is bit-identical to the oracle's
    ticks = t.column("ts").cast(pa.int64())
    if unit == "ns":
        ts_us = pc.divide(ticks, 1000)
    else:
        ts_us = pc.multiply(ticks, {"s": 10**6, "ms": 10**3, "us": 1}[unit])
    jitter = [
        py_md5_bucket(str(e), LATE_JITTER_US)
        for e in t.column("event_id").to_pylist()
    ]
    arr = pc.add(ts_us, pa.array(jitter, pa.int64()))
    t = t.append_column("_arr", arr)
    return t.take(
        pc.sort_indices(t, sort_keys=[("_arr", "ascending"), ("event_id", "ascending")])
    ).drop_columns(["_arr"])


def tumbling_counts(events: DataFrame) -> DataFrame:
    """10-minute tumbling windows per event type (works on batch or
    streaming input — same plan, same oracle)."""
    return (
        events.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


TUMBLING_ORACLE = """
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def sliding_counts(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5 minutes (batch or streaming
    input) — each event lands in two windows, which ``window()``
    generates without a self-join."""
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


# each event belongs to windows starting at bucket(ts,5m) and bucket(ts,5m)-5m
SLIDING_ORACLE = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events
FROM (
  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws
  FROM events
) GROUP BY 1
"""


def ohlc_bars(events: DataFrame) -> DataFrame:
    """1-hour OHLC bars per event type — the streaming twin of the
    batch ``events_ohlc_bars`` operator, sharing its min/max-of-struct
    first/last picks (plain aggregates, so they run incrementally
    under streaming state like any min/max; no window-function sort,
    which streaming could not express)."""
    k = F.expr("struct(unix_micros(ts) AS tu, event_id AS eid, value AS v)")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(k).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(k).getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_trades",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """30-minute-gap session windows per user (batch or streaming
    input, like :func:`tumbling_counts`)."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
        )
    )


SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  -- ORDER BY must carry the event_id tiebreak like the flagged CTE:
  -- with tied timestamps (round-11 frozen-time axis at 12x volume) a
  -- ts-only ROWS frame puts the new_session=1 row at an ARBITRARY
  -- position inside the tie group, splitting one session into two for
  -- whichever users draw an unlucky order (engine was right at 480
  -- sessions; this oracle said 481/482)
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


def dedup_counts(events: DataFrame) -> DataFrame:
    """Streaming dedup by event_id, then counts per type.  Fed with a
    doubled stream (self-union) to make the dedup observable."""
    return (
        events.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )




#: State partition count for streaming queries started here.  Streaming
#: state (window aggs, dedup keys, applyInPandasWithState) is hash-
#: partitioned at query start using spark.sql.shuffle.partitions, and
#: each state partition pays a fixed per-micro-batch cost (state-store
#: commit + an Arrow channel / Python worker for stateful UDFs) that
#: dominates small replays: stream_stateful_counts at sf0.1 runs 6.0 s
#: with 32 partitions vs 2.5 s with 8.  This is a deployment knob — a
#: real 100 TB cluster raises it to O(cores) just like batch shuffle —
#: so it is a module constant, not a buried literal.
STREAM_STATE_PARTITIONS = 8

#: Per-query-name micro-batch progress JSON from the last drain.
RECENT_PROGRESS: dict[str, list[dict]] = {}

#: Per-query-name executed physical plan text from the last drain —
#: the complement of the template plan :func:`capture_template` returns.
RECENT_PLANS: dict[str, str] = {}

#: True only inside :func:`capture_template`.
PLAN_ONLY = False


class PlanOnly(Exception):
    """Raised by :func:`check_plan_only` under :func:`capture_template`;
    carries the query's name, template plan and result schema."""

    def __init__(self, name: str, plan: str, schema=None):
        super().__init__(name)
        self.name = name
        self.plan = plan
        self.schema = schema


def template_plan(df: DataFrame) -> str:
    """Physical plan text of an UNSTARTED streaming DataFrame."""
    jvm = df.sparkSession._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(mode)  # noqa: SLF001


def check_plan_only(df: DataFrame, name: str) -> None:
    """Every streaming sink calls this before it starts a query: under
    :func:`capture_template` it raises :class:`PlanOnly` with ``df``'s
    template plan, otherwise it returns."""
    if PLAN_ONLY:
        raise PlanOnly(name, template_plan(df), df.schema)


def capture_template(spec, spark: SparkSession, sf_dir: str) -> PlanOnly:
    """Build the streaming query of ``spec`` (a registry ``QuerySpec``)
    drain-free and return the :class:`PlanOnly` its sink raised.

    ``QueryExecution.explainString`` plans a streaming DataFrame
    without starting it, and that template already holds every
    Exchange, StateStore*, EventTimeWatermark and Python-eval node the
    micro-batches will execute — so the plan gates cover every
    streaming query without paying a replay per query.  A query fn
    that returns without reaching a sink raises ``RuntimeError``: its
    plan would escape those gates."""
    global PLAN_ONLY
    PLAN_ONLY = True
    try:
        spec.fn(spark, sf_dir)
    except PlanOnly as e:
        return e
    finally:
        PLAN_ONLY = False
    raise RuntimeError(f"{spec.name} returned without reaching a streaming sink")


def drain(
    df: DataFrame,
    name: str,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    checkpoint: str | None = None,
) -> None:
    """The one availableNow drain: start ``df`` as query ``name`` with
    the writer ``sink`` configures (format, output mode or
    foreachBatch), process everything available, wait for it to stop.

    - Under :func:`capture_template` it raises instead of starting.
    - The checkpoint is a throwaway tmpfs dir unless the caller passes
      its own (a restart test reuses one).
    - The state partition count is pinned to STREAM_STATE_PARTITIONS
      for the query start (it is baked into the streaming plan at
      ``start()``); the session's batch shuffle setting is restored
      after.
    - The micro-batch progress and the last executed plan are kept in
      RECENT_PROGRESS / RECENT_PLANS under ``name``."""
    check_plan_only(df, name)
    spark = df.sparkSession
    with tmpfs_scratch_dir("sg_ckpt_") as tmp:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
        try:
            query = (
                sink(df.writeStream.queryName(name))
                .option("checkpointLocation", checkpoint or tmp)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    RECENT_PROGRESS[name] = [json.loads(p.json) for p in query.recentProgress]
    RECENT_PLANS[name] = query._jsq.explainInternal(False)  # noqa: SLF001


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drain a streaming DataFrame into the in-memory table ``name`` and
    return it as a batch DataFrame — the bridge that lets the driver's
    oracle harness gate streaming operators like any other query."""
    drain(df, name, lambda w: w.outputMode(output_mode).format("memory"))
    return df.sparkSession.table(name)


def write_foreach_batch(
    df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    transform=None,
) -> None:
    """Production streaming sink shape: ``foreachBatch`` with a
    checkpoint location → exactly-once END-TO-END because the batch
    write is idempotent.  foreachBatch itself is only at-least-once (a
    crash after the write but before the batch commit replays the
    batch on restart), so each batch OVERWRITES its own ``batch_id``
    partition via dynamic partition overwrite — a replayed batch
    rewrites identical data instead of appending a duplicate.  The
    query is named after the last component of ``path``.

    ``transform`` (optional ``DataFrame -> DataFrame``) runs as an
    ordinary BATCH transformation on each micro-batch before the write
    — the hook a per-batch reduce (CDC change-set compaction, upsert
    staging) plugs into; it must be deterministic per batch for the
    idempotent-replay claim to hold.

    Scale: the batch function receives an ordinary DataFrame — reuse
    any batch writer (partitioned parquet, JDBC upsert, merge) without
    a dedicated streaming connector; whatever it is must stay
    idempotent per batch_id for the exactly-once claim to hold."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if transform is not None:
            batch_df = transform(batch_df)
        old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    drain(df, os.path.basename(path), lambda w: w.foreachBatch(sink), checkpoint)
