"""Streaming hot-key observability (round 14, VERDICT r13 ask #7).

The stream-side skew gate (:func:`..streaming.queries.stream_hot_key_
bucketing`) is a STATIC deployment knob — a stream cannot pre-scan its
key profile, so the bucketed join spelling only helps users who already
know their key is hot.  This module closes that loop operationally:

- :func:`state_rows_per_batch` surfaces the per-micro-batch state-store
  row counts the drain telemetry (``windows.RECENT_PROGRESS``) already
  captures — the "is my state growing?" metric.
- :func:`run_hot_key_watch` drains a stream through a lightweight side
  aggregation (per-key counts → one scalar per batch) and emits a
  logged, documented RECOMMENDATION to enable
  ``SPARK_GRAFT_STREAM_HOT_KEYS=1`` when one key's share of a batch
  exceeds a threshold — so the static knob gets a data-driven trigger
  without the engine silently re-planning a running stream (Spark has
  no AQE for streaming; the decision stays with the operator, but it is
  no longer blind).

Scale: the watch aggregation is a map-side-combined groupBy count per
micro-batch — O(batch) scan, O(keys-in-batch) shuffle, ONE tiny
action per batch (total + hottest key from the same 1-row agg).  It
is a monitor you attach to a sampled or shadow stream in production,
not a tax on the production query itself.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import windows as W

logger = logging.getLogger(__name__)

#: batch-share above which the recommendation fires.  A single key at
#: >50% of a batch concentrates >50% of the join/agg state for that
#: arrival window in ONE state partition — the r12 skew bench measured
#: the plain interval join's hot-key pair scan super-linear from there
#: (docs/skew_recipe_ab_r12.md).
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
    of at least ``min_rows`` rows, a warning is logged recommending
    ``SPARK_GRAFT_STREAM_HOT_KEYS=1`` (the bucketed interval-join state
    sharding, streaming/queries.py) and the batch record is marked
    ``fired``.  The drain uses availableNow + a throwaway checkpoint,
    like every other replay here."""
    if W.PLAN_ONLY:
        raise W.PlanOnly("hot_key_watch", W.template_plan(stream_df), stream_df.schema)
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
                "one state partition will carry that share of the "
                "join/agg state. Consider SPARK_GRAFT_STREAM_HOT_KEYS=1 "
                "(time-bucketed state sharding for per-key interval "
                "joins; see streaming/queries.py and docs/SCALE.md).",
                prof["hot_key"],
                100.0 * prof["share"],
                batch_id,
                prof["hot_n"],
                prof["total"],
            )
        report["batches"].append(prof)

    ckpt = tempfile.mkdtemp(prefix="sg_watch_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        query = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return report


def hot_key_remediation(report: dict) -> dict[str, str]:
    """Map a watch report to the deployment-knob changes that remediate
    it — the executable half of the recommendation
    :func:`run_hot_key_watch` logs (round 15, VERDICT r14 ask #7: the
    watch used to be advisory only; this closes the loop).

    Returns ``{"SPARK_GRAFT_STREAM_HOT_KEYS": "1"}`` when any batch
    fired, else ``{}``.  The caller applies the mapping to the
    environment (or its deployment config) and RESTARTS the stream:
    Spark has no AQE for streaming — a running query's plan is fixed at
    ``start()`` — so hot-key remediation is by design a restart-time
    decision, and the knob is read at CALL time by
    :func:`..streaming.queries.stream_hot_key_bucketing` precisely so
    a restart picks it up without re-importing anything.  The
    end-to-end loop (skewed replay → fired watch → restart under the
    returned env → oracle-exact bucketed drain) is pytest-gated in
    tests/test_streaming.py."""
    return {"SPARK_GRAFT_STREAM_HOT_KEYS": "1"} if report.get("fired") else {}
