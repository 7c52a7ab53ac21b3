"""Registry-wide plan-policy gate (round 7): the SCALE.md ground
rules, enforced over EVERY registered batch query's physical plan
rather than asserted per-query.  A new query that sneaks in a
row-at-a-time Python eval, an unbroadcast cartesian product, or an
unexplained RDD scan fails here the day it lands.

Streaming queries (``QuerySpec.streaming``) join the same gates
through the drain-free plan capture (``windows.capture_template``):
their sinks return the unstarted streaming DataFrame's template
physical plan — which already contains every Exchange / StateStore /
Python-eval node the micro-batches will execute — and abort before
starting the query, so all 21 streaming plans build in ~13 s instead
of draining ~80 s of replays.  Plans are built at sf0.001 so
checkpoint-based iteratives stay cheap.
"""

from __future__ import annotations

import pytest

from map_reduce_multi_threaded_spark.registry import collect_specs

SF = "/root/testdata/sf0.001"

#: queries that legitimately contain `Scan ExistingRDD`: iterative
#: algorithms whose loops localCheckpoint to cut lineage (JVM RDD
#: scans of checkpointed InternalRows — NOT Python local relations).
_CHECKPOINT_OK = {
    "kmeans_assign",
    "dedup_semantic",      # composes kmeans_assign
    "dedup_clusters",      # alternating-star CC, per-round checkpoints
    "dedup_cluster_keep",  # composes dedup_clusters
    "dedup_minhash_lsh",   # checkpointed shingle table (dedup.py:371)
    "dedup_recall_eval",   # composes dedup_minhash_lsh
    "graph_pagerank",      # checkpointed edge list
    "graph_bfs_levels",
    "graph_label_propagation",
    "graph_triangle_count",  # checkpointed oriented edge list
    # two-pass prefix sum pins its sampled range boundaries with one
    # eager localCheckpoint (functions/prefix.py:57)
    "orders_abc_analysis",
    "pipeline_budget_select",
    "text_zipf_slope",
    "events_lateness_audit",  # two-pass running max, same range pin
    "events_changepoint_cusum",  # chained cumsum + grouped running min, two range pins
    "graph_common_neighbors",  # checkpointed neighbor frame (3 consumers)
    "graph_hits",  # pinned arcs + per-half-round score frames
    "dedup_banding_sweep",  # pinned signatures + truth pairs (3 configs each)
    "dedup_incremental_lsh",  # pinned corpus + batch shingle frames (2 consumers each)
    "dedup_bloom_ingest",  # pinned corpus hash index + hashed batch
    "dedup_prefix_filter",  # checkpointed shingle table (3 consumers)
    "rerank_mmr",  # pinned candidate + candidate-token frames (4/3 consumers)
}


def _batch_specs():
    return [s for s in collect_specs() if not s.streaming]


@pytest.fixture(scope="module")
def plans(spark):
    """Physical plan text for every registered batch query, built once."""
    out = {}
    for s in _batch_specs():
        out[s.name] = (
            s.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
    return out


@pytest.fixture(scope="module")
def stream_plans(spark):
    """Template physical plan for every registered STREAMING query,
    captured drain-free."""
    from map_reduce_multi_threaded_spark.streaming import windows as W

    return {
        s.name: W.capture_template(s, spark, SF).plan
        for s in collect_specs()
        if s.streaming
    }


def test_no_row_at_a_time_python_eval(plans):
    """Row-UDF `BatchEvalPython` is the forbidden slow path — every
    Python stage must be Arrow-batched (ArrowEvalPython, MapInPandas,
    PythonMapInArrow, FlatMapGroupsInPandas, ...)."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


#: each kNN query's Arrow scorers, by UDF name in the plan text
_KNN_SCORERS = {
    "knn_bruteforce": ("cosines",),
    "knn_recall_eval": ("cosines",),
    "knn_scalar_quant": ("umax", "dots"),
}


def test_knn_scorers_run_once_per_row(plans):
    """Each kNN scorer sits in exactly one ArrowEvalPython node.  A
    filter Spark infers below the top-k posexplode would evaluate the
    scorer a second time for every corpus row."""
    counts = {
        (name, udf): sum(
            "ArrowEvalPython" in line and f"{udf}(" in line
            for line in plans[name].splitlines()
        )
        for name, udfs in _KNN_SCORERS.items()
        for udf in udfs
    }
    assert counts == dict.fromkeys(counts, 1), counts


def test_no_cartesian_product(plans):
    """A non-broadcast cartesian product is never acceptable — the
    deliberate bounded cross joins in the suite are all
    broadcast-side (BroadcastNestedLoopJoin over 1-row/constant
    frames), which Spark plans without a CartesianProduct node."""
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_rdd_scans_only_in_checkpointed_iteratives(plans):
    """`Scan ExistingRDD` means data entered the plan outside the
    optimizer's reach (no pushdown, no stats).  Allowed ONLY for the
    checkpointed iterative algorithms; anywhere else it is usually a
    local-data createDataFrame — the Python-RDD stage that caused the
    round-7 RAG bench incident (docs/BACKLOG.md)."""
    offenders = [
        n for n, p in plans.items()
        if "Scan ExistingRDD" in p and n not in _CHECKPOINT_OK
    ]
    assert not offenders, offenders


def _exchange_count(plan: str) -> int:
    """Shuffle exchanges in a plan string — the unit of
    tests/plan_budget.json (hash, range and single-partition
    exchanges; broadcasts are not counted)."""
    return (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition")
    )


def test_exchange_counts_within_budget(plans):
    """Shuffle-budget regression gate: every batch query's exchange
    count is bounded by the committed snapshot (tests/plan_budget.json,
    generated from the round-7 plans).  A change that ADDS a shuffle —
    new code or a planner upgrade — fails here and forces a conscious
    decision: fix the plan or re-baseline the budget with the
    regeneration snippet in the JSON's git history.  Upper bound, not
    exact match (ADVICE r6): plans that FUSE exchanges pass silently."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "plan_budget.json")
    with open(path) as f:
        budget = json.load(f)
    over = []
    for name, plan in plans.items():
        if name not in budget:
            continue  # new query: add a budget when baselining next
        n = _exchange_count(plan)
        if n > budget[name]:
            over.append((name, n, budget[name]))
    assert not over, over


def _scan_cols(plan: str) -> int:
    """Total parquet columns read across every FileScan in a plan,
    from the scan's output list (`FileScan parquet [a#1,b#2,...]`).
    Plan strings elide long lists as '... N more fields' — the
    ellipsis token occupies one comma slot and stands for N columns."""
    import re

    total = 0
    for m in re.finditer(r"FileScan \w+ \[([^\]]*)\]", plan):
        inner = m.group(1)
        if not inner.strip():
            continue
        n = inner.count(",") + 1
        mm = re.search(r"\.\.\. (\d+) more fields", inner)
        if mm:
            n = n - 1 + int(mm.group(1))
        total += n
    return total


def test_scan_column_counts_within_budget(plans):
    """Column-pruning ratchet (round 10): at 100 TB the dominant cost
    is scan BYTES, and a query that silently starts reading extra
    parquet columns regresses invisibly to the value oracle and to the
    exchange budget alike.  Every batch query's total FileScan column
    count is bounded by the committed snapshot (tests/scan_budget.json,
    generated from the round-10 plans — q6 reads 4 of lineitem's 11
    columns, the widest star join reads 20 across five tables).  Upper
    bound, not exact: plans that prune HARDER pass silently; a change
    that widens any scan fails and forces a conscious re-baseline."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "scan_budget.json")
    with open(path) as f:
        budget = json.load(f)
    over = []
    for name, plan in plans.items():
        if name not in budget:
            continue  # new query: add a budget when baselining next
        n = _scan_cols(plan)
        if n > budget[name]:
            over.append((name, n, budget[name]))
    assert not over, over


def test_pushed_filter_scan_counts_meet_floor(plans):
    """Predicate-pushdown FLOOR (round 10, complement of the scan
    ratchet): at 100 TB a scan that stops pushing its predicates reads
    the whole table correctly — invisible to every value gate.  For
    each batch query, the number of FileScans carrying a NON-EMPTY
    PushedFilters list must not drop below the committed snapshot
    (tests/pushdown_floor.json — 97 of 233 queries push on at least
    one scan; the count is truncation-safe, testing only `[` followed
    by a non-`]`, because plan strings elide long filter lists
    mid-bracket).  A floor, not exact: pushing MORE passes silently; a
    plan change that loses pushdown fails and forces a conscious
    re-baseline (legitimate when a filter constant-folds away)."""
    import json
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "pushdown_floor.json")
    with open(path) as f:
        floor = json.load(f)
    under = []
    for name, plan in plans.items():
        if name not in floor:
            continue  # new query: baseline when convenient
        n = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        if n < floor[name]:
            under.append((name, n, floor[name]))
    assert not under, under


def test_checkpoint_whitelist_is_tight(plans):
    """The whitelist must not grow stale: every whitelisted query
    actually exhibits the RDD scan (drop it from the list when it no
    longer does)."""
    stale = [
        n for n in _CHECKPOINT_OK
        if n in plans and "Scan ExistingRDD" not in plans[n]
    ]
    assert not stale, stale


def test_streaming_template_plans_obey_policy(stream_plans):
    """The batch ground rules, over every streaming query's template
    plan (BACKLOG depth item, round 10): no row-at-a-time Python eval,
    no cartesian product, no RDD scan, and every registered streaming
    query must actually BE streaming (a StreamingRelation scan in the
    plan) — plus the stream-stream interval join keys its state on the
    derived time bucket, so a hot user shards across arrival windows."""
    import re

    assert len(stream_plans) == 21, sorted(stream_plans)
    bad_eval = [n for n, p in stream_plans.items() if "BatchEvalPython" in p]
    assert not bad_eval, bad_eval
    bad_cart = [n for n, p in stream_plans.items() if "CartesianProduct" in p]
    assert not bad_cart, bad_cart
    not_streaming = [
        n for n, p in stream_plans.items() if "StreamingRelation" not in p
    ]
    assert not not_streaming, not_streaming
    rdd = [n for n, p in stream_plans.items() if "Scan ExistingRDD" in p]
    assert not rdd, rdd
    assert re.search(
        r"_b#\d+L?", stream_plans["stream_stream_join"]
    ), "bucket key missing from the streaming join template"


def test_streaming_exchange_counts_within_budget(stream_plans):
    """Extends the shuffle ratchet to streaming: template-plan exchange
    counts bounded by the committed tests/plan_budget.json snapshot —
    with the drain-free capture there is no longer a drain cost
    excusing the exemption.  Every streaming query MUST have a budget entry (unlike
    batch, the streaming set is small enough to require it)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "plan_budget.json")
    with open(path) as f:
        budget = json.load(f)
    missing = [n for n in stream_plans if n not in budget]
    assert not missing, missing
    over = []
    for name, plan in stream_plans.items():
        n = _exchange_count(plan)
        if n > budget[name]:
            over.append((name, n, budget[name]))
    assert not over, over


def test_streaming_plans_obey_policy(spark):
    """Extends the plan gate to streaming (BACKLOG depth item):
    streaming physical plans only exist per micro-batch, so
    windows.drain records each drain's executed plan
    (windows.RECENT_PLANS) and this test drains three representative
    queries — plain stateful agg, watermarked out-of-order agg,
    stream-static join — then asserts the same ground rules: no
    row-at-a-time Python eval, no cartesian product, and the
    watermark/state operators the semantics require are present."""
    from map_reduce_multi_threaded_spark.streaming import queries as SQ
    from map_reduce_multi_threaded_spark.streaming import windows as W

    SQ.stream_tumbling(spark, SF)
    SQ.stream_late_data_policy(spark, SF)
    SQ.stream_static_join(spark, SF)
    plans = {
        n: W.RECENT_PLANS[n]
        for n in (
            "stream_tumbling_sink",
            "stream_late_policy_sink",
            "stream_static_join_sink",
        )
    }
    for n, p in plans.items():
        assert p, n
        assert "BatchEvalPython" not in p, n
        assert "CartesianProduct" not in p, n
        assert "StateStoreSave" in p, n
    assert "EventTimeWatermark" in plans["stream_late_policy_sink"]
    assert "BroadcastHashJoin" in plans["stream_static_join_sink"]
