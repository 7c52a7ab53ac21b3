"""Streaming hot-key observability.

``stream_stream_join`` keys its join state on (user, time bucket), so a
hot user's state shards across arrival windows (see
:func:`..streaming.queries._interval_join_streams`).  The outer stream
joins (``stream_join_left_outer`` / ``stream_join_full_outer``) still
keep their state keyed by user alone: the bucket explode would emit an
unmatched outer row once per probe bucket.  A stream cannot pre-scan
its key profile, so this module reports it per micro-batch:

- :func:`state_rows_per_batch` surfaces the per-micro-batch state-store
  row counts the drain telemetry (``windows.RECENT_PROGRESS``) already
  captures — the "is my state growing?" metric.
- :func:`run_hot_key_watch` drains a stream through a lightweight side
  aggregation (per-key counts → one scalar per batch) and logs a
  warning when one key's share of a batch exceeds a threshold — the
  share of the user-keyed state that lands in one state partition.

Scale: the watch aggregation is a map-side-combined groupBy count per
micro-batch — O(batch) scan, O(keys-in-batch) shuffle, ONE tiny
action per batch (total + hottest key from the same 1-row agg).  It
is a monitor you attach to a sampled or shadow stream in production,
not a tax on the production query itself.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import windows as W

logger = logging.getLogger(__name__)

#: batch-share above which the watch fires.  A single key at >50% of a
#: batch concentrates >50% of a user-keyed join/agg state for that
#: arrival window in ONE state partition — the r12 skew bench measured
#: the user-keyed interval join's hot-key pair scan super-linear from
#: there (docs/skew_recipe_ab_r12.md).
HOT_KEY_SHARE_THRESHOLD = 0.5

#: batches smaller than this never fire (a 10-row batch with 6 rows on
#: one key is noise, not skew).
HOT_KEY_MIN_ROWS = 1000


def state_rows_per_batch(sink_name: str) -> list[dict]:
    """Per-micro-batch state rows for a previously drained query, from
    the captured QueryProgress telemetry: one record per batch with the
    summed ``numRowsTotal`` / ``numRowsUpdated`` across its stateful
    operators.  Empty list if the sink never drained here or the query
    was stateless."""
    out = []
    for prog in W.RECENT_PROGRESS.get(sink_name, []):
        ops = prog.get("stateOperators") or []
        if not ops:
            continue
        out.append(
            {
                "batch_id": prog.get("batchId"),
                "num_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                "num_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
            }
        )
    return out


def hot_key_batch_profile(batch_df: DataFrame, key_col: str) -> dict:
    """One micro-batch's key profile: total rows, the hottest key and
    its count/share.  ONE action over a map-side-combined per-key
    count (a partial aggregate: one shuffled row per key); total and
    hottest key come from the same 1-row aggregate so the batch is
    scanned once (ADVICE r14: the old orderBy().first() + count() pair
    recomputed the batch).  Tie-break: equal counts pick the smallest
    key (min over struct(-n, key))."""
    counts = batch_df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    row = counts.agg(
        F.sum("_n").alias("total"),
        F.min(
            F.struct((-F.col("_n")).alias("neg_n"), F.col(key_col).alias("k"))
        ).alias("top"),
    ).first()
    if row is None or row["total"] is None:
        return {"total": 0, "hot_key": None, "hot_n": 0, "share": 0.0}
    total = row["total"]
    hot_n = -row["top"]["neg_n"]
    return {
        "total": total,
        "hot_key": row["top"]["k"],
        "hot_n": hot_n,
        "share": hot_n / total if total else 0.0,
    }


def run_hot_key_watch(
    stream_df: DataFrame,
    key_col: str = "user_id",
    share_threshold: float = HOT_KEY_SHARE_THRESHOLD,
    min_rows: int = HOT_KEY_MIN_ROWS,
) -> dict:
    """Drain ``stream_df`` through the hot-key watch and return
    ``{"batches": [per-batch profile...], "fired": bool}``.

    Each micro-batch is profiled with :func:`hot_key_batch_profile`;
    when the hottest key's share meets ``share_threshold`` on a batch
    of at least ``min_rows`` rows, a warning is logged and the batch
    record is marked ``fired``.  The stream drains through
    :func:`windows.drain` as query ``hot_key_watch``."""
    report: dict = {"batches": [], "fired": False}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        prof = hot_key_batch_profile(batch_df, key_col)
        prof["batch_id"] = batch_id
        prof["fired"] = (
            prof["total"] >= min_rows and prof["share"] >= share_threshold
        )
        if prof["fired"]:
            report["fired"] = True
            logger.warning(
                "hot key %r holds %.0f%% of batch %d (%d of %d rows): "
                "one state partition will carry that share of any state "
                "keyed by it (the outer stream joins and per-user "
                "aggregations; stream_stream_join shards by time "
                "bucket, see docs/SCALE.md).",
                prof["hot_key"],
                100.0 * prof["share"],
                batch_id,
                prof["hot_n"],
                prof["total"],
            )
        report["batches"].append(prof)

    W.drain(stream_df, "hot_key_watch", lambda w: w.foreachBatch(sink))
    return report
