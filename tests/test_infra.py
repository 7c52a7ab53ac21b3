"""Engine infrastructure: multi-format sources, bucketed zero-shuffle
joins, metrics/observe, plan helpers."""

from __future__ import annotations

import pyspark.sql.functions as F

from map_reduce_multi_threaded_spark.plans.explain import (
    count_exchanges,
    executed_plan,
    pushed_filters,
)
from map_reduce_multi_threaded_spark.plans.metrics import observe_rows, timed
from map_reduce_multi_threaded_spark.sources.formats import (
    read_csv,
    read_json,
    read_orc,
    read_xml,
)
from map_reduce_multi_threaded_spark.sources.tables import load_table


def test_csv_json_orc_roundtrip(spark, sf_dir, tmp_path):
    """customer survives a round-trip through every ingestion format."""
    c = load_table(spark, sf_dir, "customer")
    expected = sorted(tuple(r) for r in c.collect())
    schema = c.schema

    c.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "csv"))
    c.write.mode("overwrite").json(str(tmp_path / "json"))
    c.write.mode("overwrite").orc(str(tmp_path / "orc"))
    c.write.mode("overwrite").option("rootTag", "rows").option("rowTag", "row").format(
        "xml"
    ).save(str(tmp_path / "xml"))

    got_csv = sorted(tuple(r) for r in read_csv(spark, str(tmp_path / "csv"), schema).collect())
    got_json = sorted(
        tuple(r) for r in read_json(spark, str(tmp_path / "json"), schema).select(*c.columns).collect()
    )
    got_orc = sorted(tuple(r) for r in read_orc(spark, str(tmp_path / "orc")).select(*c.columns).collect())
    got_xml = sorted(
        tuple(r) for r in read_xml(spark, str(tmp_path / "xml"), schema).select(*c.columns).collect()
    )
    assert got_csv == expected
    assert got_json == expected
    assert got_orc == expected
    assert got_xml == expected


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key at write time removes the
    exchange entirely — THE lever for repeated 100 TB fact-fact joins.
    (Equivalent of the reference pre-partitioning its hashmap into
    1024 bins so the shuffle could move whole buckets.)"""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
    )
    (
        lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")
    )
    # disable auto-broadcast so the plan must pick a shuffle-class join
    # (at test scale everything fits a broadcast; at 100 TB it won't)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("lineitem_bkt")
            .join(spark.table("orders_bkt"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "SelectedBucketsCount" in plan
        # join itself must not shuffle; only the 3-group aggregate may
        assert count_exchanges(joined) <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # correctness unchanged
    direct = {
        (r["o_orderstatus"], r["n"])
        for r in lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r["o_orderstatus"], r["n"]) for r in joined.collect()} == direct


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Hive-style partitioned parquet: a filter on the partition
    column must prune directories at planning time (PartitionFilters),
    reading only the matching partition — THE 100 TB scan reducer."""
    li = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "li_part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out).where(F.col("l_returnflag") == "R")
    plan = executed_plan(back)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == li.where(F.col("l_returnflag") == "R").count()


def test_observe_metrics_single_pass(spark, sf_dir):
    """Dataset.observe: metrics ride along with the query (S15
    equivalent) — no second action to count rows."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 25)
    observed, obs = observe_rows(li, F.sum("l_quantity").alias("qty"))
    (result, secs) = timed(lambda: observed.write.format("noop").mode("overwrite").save())
    assert obs.get["rows"] > 0
    assert obs.get["qty"] > 0
    assert secs < 60


def test_pushed_filters_helper(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 25)
    assert "l_quantity" in pushed_filters(li)


def test_oracle_harness_rejects_hugeint(spark, sf_dir):
    """The driver's value hash is Arrow-type-sensitive: DuckDB widens
    integer sum() to HUGEINT (decimal128) while Spark emits int64, and
    the hashes diverge even though Python-level values match.  compare()
    must catch this locally (ADVICE r1)."""
    import pytest

    from map_reduce_multi_threaded_spark.sources.tables import load_table
    from tests.oracle_utils import compare

    df = load_table(spark, sf_dir, "nation").groupBy("n_regionkey").agg(
        F.sum("n_nationkey").alias("s")
    )
    uncast = "SELECT n_regionkey, sum(n_nationkey) AS s FROM nation GROUP BY n_regionkey"
    with pytest.raises(AssertionError, match="type mismatch"):
        compare(df, uncast, sf_dir)
    cast = (
        "SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS s "
        "FROM nation GROUP BY n_regionkey"
    )
    compare(df, cast, sf_dir)


def test_missing_sf_dir_raises(spark):
    """A nonexistent sf_dir must fail fast with Spark's PATH_NOT_FOUND
    analysis error, not hang or return an empty frame."""
    import pytest
    from pyspark.errors import AnalysisException

    from map_reduce_multi_threaded_spark.operators.wordcount import word_counts

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        word_counts(spark, "/root/testdata/sf_does_not_exist").collect()


def test_sweep_order_follows_the_four_rules(tmp_path, monkeypatch):
    """Sweep order is never-checked -> newest failed -> live flag ->
    green oldest first, ties in registry order -- computed from the
    CORRECTNESS history and _REVERIFY_FIRST alone: no subprocess, no
    source parsing."""
    import ast
    import json
    import subprocess

    from map_reduce_multi_threaded_spark import registry
    from map_reduce_multi_threaded_spark.registry import QuerySpec

    green = {"hash_match": True, "spark_rows": 1, "err": None}
    failed = {"hash_match": False, "spark_rows": 1, "err": "hash mismatch"}
    rows_only = {"hash_match": None, "spark_rows": 3, "err": "no_oracle"}
    history = {
        # unpadded round numbers: r10 must sort after r9 numerically
        9: {
            "green_new": green,
            "green_old": green,
            "flag_live": green,
            "failed": green,
        },
        10: {
            "green_new": green,
            "flag_expired": green,
            "failed": failed,
            "rows_only_oracle": rows_only,
            "rows_only_no_oracle": rows_only,
        },
    }
    for rnd, records in history.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(records))
    monkeypatch.setattr(
        registry, "_REVERIFY_FIRST", {"flag_live": 9, "flag_expired": 9}
    )

    def boom(*args, **kwargs):
        raise AssertionError("sweep order must not shell out or parse source")

    registry_order = [
        ("green_new", "SELECT 1"),
        ("flag_expired", "SELECT 1"),
        ("green_old", "SELECT 1"),
        ("flag_live", "SELECT 1"),
        ("failed", "SELECT 1"),
        ("rows_only_oracle", "SELECT 1"),
        ("rows_only_no_oracle", None),
        ("never", "SELECT 1"),
    ]
    specs = [QuerySpec(n, lambda spark, sf: None, oracle) for n, oracle in registry_order]
    # patched only around the ordering: pytest's failure report parses source
    with monkeypatch.context() as m:
        m.setattr(subprocess, "run", boom)
        m.setattr(ast, "parse", boom)
        order = [s.name for s in registry._sweep_order(specs, str(tmp_path))]
    assert order == [
        "never",
        "rows_only_oracle",
        "failed",
        "flag_live",
        "green_old",
        "green_new",
        "flag_expired",
        "rows_only_no_oracle",
    ]


def test_sweep_reverify_first_flags_lead_and_expire():
    """_REVERIFY_FIRST entries (round-10 mechanism) must (a) promote
    their queries to the front of the carve-out while the newest green
    record is no newer than the flagged rewrite round, and (b) go
    inert once a newer green record lands — the flag self-expires, so
    stale entries cannot occupy carve-out slots forever."""
    from map_reduce_multi_threaded_spark import registry

    specs = registry.collect_specs()
    rank = registry._sweep_rank()
    order = {s.name: i for i, s in enumerate(specs)}
    n_urgent = sum(1 for s in specs if rank(s)[0] < 2)
    by_name = {s.name: s for s in specs}

    live, expired = [], []
    for name, flag_round in registry._REVERIFY_FIRST.items():
        spec = by_name.get(name)
        if spec is None or rank(spec)[0] != 2:
            continue
        (live if rank(spec)[1] <= flag_round else expired).append(name)

    # (a) every live flag sits inside the sweep window (either promoted
    # into the carve-out or already reached by the age rotation)
    for name in live:
        assert order[name] < registry._SWEEP_WINDOW, (
            f"{name} flagged for reverification but outside the "
            f"{registry._SWEEP_WINDOW}-slot sweep window (slot {order[name]})"
        )
    # (b) an expired flag must not hold a carve-out slot: the carve-out
    # region is the gap between the urgent groups and the oldest green
    # cohort head
    greens = [s for s in specs if rank(s)[0] == 2]
    oldest = min(rank(s)[1] for s in greens)
    carveout_end = n_urgent
    for s in specs[n_urgent:]:
        if rank(s)[0] == 2 and rank(s)[1] == oldest:
            break
        carveout_end += 1
    for name in expired:
        assert not (n_urgent <= order[name] < carveout_end), (
            f"{name}'s reverify flag expired (green record newer than "
            f"the rewrite round) but still occupies carve-out slot {order[name]}"
        )


def test_new_queries_invariant_under_shuffle_partitions(spark, sf_dir):
    """Determinism under ANY partitioning is the registry-wide claim:
    rerunning with a different spark.sql.shuffle.partitions must
    reproduce byte-identical rows.  Exercised on the round-5 queries
    whose shapes are most partitioning-sensitive (two-pass prefix
    sums, min_by/max_by aggs, quantized-log regression, hash splits)."""
    from map_reduce_multi_threaded_spark.operators.pipeline import (
        pipeline_budget_select,
        pipeline_hash_split,
    )
    from map_reduce_multi_threaded_spark.operators.relational import (
        events_ab_test,
        events_attribution,
        orders_abc_analysis,
    )
    from map_reduce_multi_threaded_spark.operators.graph import (
        graph_label_propagation,
    )
    from map_reduce_multi_threaded_spark.operators.pipeline import (
        dq_distribution_drift,
        pipeline_corpus_release,
    )
    from map_reduce_multi_threaded_spark.operators.relational import (
        agg_countmin,
        events_changepoint_cusum,
        join_point_in_time,
    )
    from map_reduce_multi_threaded_spark.operators.similarity import (
        dedup_semantic,
    )
    from map_reduce_multi_threaded_spark.operators.textstats import text_zipf_slope

    fns = [
        orders_abc_analysis,
        pipeline_budget_select,
        pipeline_hash_split,
        events_attribution,
        events_ab_test,
        text_zipf_slope,
        # round-7 shapes: max_by argmaxes (LPA, semantic-dedup's
        # k-means), the manifest+window release chain, integer-min
        # sketch cells, the as-of carry, and quantized-ln PSI
        graph_label_propagation,
        dedup_semantic,
        pipeline_corpus_release,
        agg_countmin,
        join_point_in_time,
        dq_distribution_drift,
        # round-8 shape: grouped two-pass running min under the
        # count-scaled CUSUM (two chained range exchanges)
        events_changepoint_cusum,
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    baseline = {f.__name__: sorted(map(tuple, f(spark, sf_dir).collect())) for f in fns}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        for f in fns:
            again = sorted(map(tuple, f(spark, sf_dir).collect()))
            assert again == baseline[f.__name__], f.__name__
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_two_pass_cumsum_partition_invariant(spark, sf_dir):
    """The distributed prefix sum must equal the single-task reference
    for ANY range-partition count — the property that lets
    orders_abc_analysis / pipeline_budget_select avoid the one-task
    global window without changing a bit."""
    from map_reduce_multi_threaded_spark.functions.prefix import two_pass_cumsum
    from map_reduce_multi_threaded_spark.sources.tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(12,2)").alias("v")
    )
    rows = sorted(
        ((r["c_custkey"], r["v"]) for r in c.collect()),
        key=lambda t: (-t[1], t[0]),
    )
    expected, running = {}, 0
    for k, v in rows:
        running += v
        expected[k] = running
    total = running
    for n_parts in (1, 3, 16):
        got = {
            r["c_custkey"]: (r["_cum"], r["_total"])
            for r in two_pass_cumsum(
                c, "v", [F.desc("v"), F.asc("c_custkey")], n_parts=n_parts
            ).collect()
        }
        assert len(got) == len(expected)
        for k, cum in expected.items():
            assert got[k] == (cum, total), (n_parts, k)


def test_two_pass_cummax_partition_invariant(spark, sf_dir):
    """The distributed running max must equal the single-task reference
    for ANY range-partition count — the property events_lateness_audit
    rests on (its high-water mark is a global-order cummax)."""
    from map_reduce_multi_threaded_spark.functions.prefix import two_pass_cummax
    from map_reduce_multi_threaded_spark.sources.tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("v")
    )
    rows = sorted((r["c_custkey"], r["v"]) for r in c.collect())
    expected, hwm = {}, None
    for k, v in rows:
        hwm = v if hwm is None else max(hwm, v)
        expected[k] = hwm
    for n_parts in (1, 3, 16):
        got = {
            r["c_custkey"]: r["_cummax"]
            for r in two_pass_cummax(
                c, "v", [F.asc("c_custkey")], n_parts=n_parts
            ).collect()
        }
        assert got == expected, n_parts


def test_two_pass_cummax_grouped_partition_invariant(spark, sf_dir):
    """The GROUPED running max (events_changepoint_cusum's per-type
    running min, negated) must restart at every group boundary and
    equal the single-task reference for ANY range-partition count —
    including counts that split a group across partitions."""
    from map_reduce_multi_threaded_spark.functions.prefix import two_pass_cummax
    from map_reduce_multi_threaded_spark.sources.tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_nationkey").alias("v")
    )
    rows = sorted(
        (r["c_mktsegment"], r["c_custkey"], r["v"]) for r in c.collect()
    )
    expected, hwm = {}, {}
    for g, k, v in rows:
        hwm[g] = v if g not in hwm else max(hwm[g], v)
        expected[k] = hwm[g]
    for n_parts in (1, 3, 16):
        got = {
            r["c_custkey"]: r["_cummax"]
            for r in two_pass_cummax(
                c,
                "v",
                [F.asc("c_mktsegment"), F.asc("c_custkey")],
                n_parts=n_parts,
                group_cols=["c_mktsegment"],
            ).collect()
        }
        assert got == expected, n_parts


def test_no_oracle_specs_obey_output_contract(spark, sf_oracle_dir):
    """Registry-wide output contract, no-oracle half: every spec WITH an
    oracle passes through ``compare()`` (which calls
    ``check_output_contract`` first), so the only schemas the parity
    gate never sees are rows-only specs.  Since round 6 the four
    sketch queries carry exact-companion oracles, so this set is
    expected EMPTY — the assertion pins that no spec silently loses
    its oracle, and still contract-checks any future rows-only spec."""
    from map_reduce_multi_threaded_spark.registry import collect_specs
    from tests.oracle_utils import check_output_contract

    no_oracle = [s for s in collect_specs() if s.oracle is None]
    # contract-check BEFORE the inventory assert, so if a rows-only
    # spec ever reappears, a schema violation is reported alongside
    # (not shadowed by) the inventory failure
    for spec in no_oracle:
        check_output_contract(spec.fn(spark, sf_oracle_dir))
    assert no_oracle == [], [s.name for s in no_oracle]


def test_python_datasource_partitioned_and_correct(spark, sf_oracle_dir):
    """The custom Python source must expose its declared partition
    split to Spark (genuinely parallel read), and the full pipeline
    over it is value-gated against the DuckDB regeneration oracle."""
    from map_reduce_multi_threaded_spark.sources import pygen
    from tests.oracle_utils import compare

    pygen.register(spark)
    gen = (
        spark.read.format("wordgen")
        .option("n", str(pygen.GEN_ROWS))
        .option("parts", str(pygen.GEN_PARTS))
        .load()
    )
    assert gen.rdd.getNumPartitions() == pygen.GEN_PARTS
    assert gen.count() == pygen.GEN_ROWS
    compare(
        pygen.source_python_datasource(spark, sf_oracle_dir),
        pygen._PYGEN_ORACLE,
        sf_oracle_dir,
    )


def test_python_stream_datasource_matches_batch(spark, sf_oracle_dir):
    """The custom streaming source must deliver exactly the batch
    answer through its micro-batch offset walk (no loss, no dupes)."""
    from map_reduce_multi_threaded_spark.sources import pygen
    from tests.oracle_utils import compare

    compare(
        pygen.stream_python_datasource(spark, sf_oracle_dir),
        pygen._PYGEN_ORACLE,
        sf_oracle_dir,
    )


def test_wordgen_stream_reader_resumes_from_checkpoint():
    """Restart recovery (ADVICE r4): after a query restarts from a WAL
    offset, the reader's in-memory high-water mark must never report
    below the checkpoint — otherwise partitions(start, end) sees
    end < start and the query emits empty batches until the counter
    catches back up."""
    from map_reduce_multi_threaded_spark.sources import pygen

    r = pygen.WordGenStreamReader({"n": "100", "batch": "10"})
    # fresh instance (restart): Spark replans batch [40, 50) from the WAL
    parts = r.partitions({"i": 40}, {"i": 50})
    assert sum(p.end - p.start for p in parts) == 10
    assert r.latestOffset()["i"] > 50  # resumes PAST the checkpoint
    # commit() alone must also clamp (second safety belt)
    r2 = pygen.WordGenStreamReader({"n": "100", "batch": "10"})
    r2.commit({"i": 70})
    assert r2.latestOffset()["i"] > 70
    # committed-WAL restart (ADVICE r5): Spark calls latestOffset FIRST
    # (initialOffset/partitions/commit never ran), so the reader cannot
    # know the checkpoint — it must report "everything exists" so the
    # next batch starts at the committed offset instead of idling
    # ceil(committed/batch) empty triggers below it
    r3 = pygen.WordGenStreamReader({"n": "100", "batch": "10"})
    assert r3.latestOffset()["i"] == 100
    # fresh start still rate-limits: initialOffset marks the instance
    r4 = pygen.WordGenStreamReader({"n": "100", "batch": "10"})
    assert r4.initialOffset() == {"i": 0}
    assert r4.latestOffset()["i"] == 10


def test_refsink_commit_sweeps_orphan_temps(tmp_path):
    """Failed/speculated task attempts leave temp files that returned
    no commit message; commit()/abort() must sweep THIS job's orphans
    (job-unique token) and leave other jobs' files alone (ADVICE r4)."""
    import os

    from map_reduce_multi_threaded_spark.sources.pygen import RefSinkWriter

    out = str(tmp_path / "sink")
    os.makedirs(out)
    w = RefSinkWriter({"path": out}, overwrite=True)
    orphan = os.path.join(out, f".tmp-{w.job_token}-00003-deadbeef")
    other = os.path.join(out, ".tmp-otherjob0000-00001-cafe")
    open(orphan, "w").write("<a, 1> \n")
    open(other, "w").write("<b, 1> \n")
    w.commit([])
    assert not os.path.exists(orphan), "own orphan must be swept"
    assert os.path.exists(other), "other job's temp must survive"
    w2 = RefSinkWriter({"path": out}, overwrite=False)
    orphan2 = os.path.join(out, f".tmp-{w2.job_token}-00001-beef")
    open(orphan2, "w").write("<c, 1> \n")
    w2.abort([])
    assert not os.path.exists(orphan2), "abort must sweep own orphans too"


def test_python_refsink_matches_native_sink(spark, sf_dir, tmp_path):
    """The Python-writer re-expression of the reference's S14 sink
    (two-phase commit: temp file per task, rename on driver commit)
    must produce the same multiset of `<word, count> ` lines as the
    native text sink, each file sorted (map_reduce.cpp:440-450)."""
    import os

    from map_reduce_multi_threaded_spark.operators.wordcount import word_counts
    from map_reduce_multi_threaded_spark.sources import pygen
    from map_reduce_multi_threaded_spark.sources.sinks import write_reference_format

    wc = word_counts(spark, sf_dir)
    native_dir = str(tmp_path / "native")
    write_reference_format(wc, native_dir, num_files=4)
    py_dir = str(tmp_path / "pywriter")
    pygen.register(spark)
    sorted_wc = wc.repartition(4, "word").sortWithinPartitions("word")
    (
        sorted_wc.write.format("refsink").option("path", py_dir)
        .mode("overwrite").save()
    )
    def lines(d, pat):
        out = []
        for f in sorted(os.listdir(d)):
            if pat(f):
                with open(os.path.join(d, f)) as fh:
                    body = [l.rstrip("\n") for l in fh if l.strip()]
                    assert body == sorted(body)  # sorted within file
                    out.extend(body)
        return sorted(out)

    native = lines(native_dir, lambda f: f.startswith("part-"))
    py = lines(py_dir, lambda f: f.startswith("Process_"))
    assert py == native and len(py) > 0
    # overwrite commits the reference's canonical filenames
    assert sorted(f for f in os.listdir(py_dir) if f.startswith("Process_")) == [
        f"Process_{i}_Output_File.txt" for i in range(4)
    ]
    # append must ADD job-unique files, not clobber the committed ones
    (
        sorted_wc.write.format("refsink").option("path", py_dir)
        .mode("append").save()
    )
    assert lines(py_dir, lambda f: f.startswith("Process_")) == sorted(native + native)
    # two-phase commit leaves no orphan temp files behind
    assert not [f for f in os.listdir(py_dir) if f.startswith(".tmp-")]


def test_power10_base_strictly_clears_max(spark):
    """Three queries namespace synthesized ids with power10_base; the
    contract is keybase > max(key) for ANY key range, including the
    exact-power-of-10 edge where a naive ceil(log10(max)) would return
    keybase == max and silently collide."""
    from map_reduce_multi_threaded_spark.sources.tables import power10_base

    cases = [
        (7, 10),
        (10, 100),          # exact power: must jump to the NEXT power
        (999, 1000),
        (1000, 10000),      # exact power again
        (6_000_000, 10_000_000),
        (100_000_000, 1_000_000_000),
    ]
    # 1-row frames: only max(key) matters, no need to materialize ranges
    for mx, expected in cases:
        df = spark.createDataFrame([(mx,)], "k long")
        (got,) = power10_base(df, "k", alias="base").collect()[0]
        assert got == expected, (mx, got, expected)
        assert got > mx
    # one multi-row case proves the max() is over the frame, not a row
    multi = spark.createDataFrame([(3,), (999,), (42,)], "k long")
    (got,) = power10_base(multi, "k", alias="base").collect()[0]
    assert got == 1000


def test_bench_regression_gate_has_a_baseline():
    """The bench regression gate must never silently compare against
    an EMPTY baseline (the r9 find: the driver's BENCH_r08.json shipped
    `parsed: null` + a truncated `tail`, so _previous_bench returned {}
    and every run since r8 passed the 1.5x gate vacuously).  The newest
    committed driver file must supply per-query seconds at the default
    sf."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(root, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    prev = bench._previous_bench(0.1, "/root/testdata/sf0.1")
    assert len(prev) >= 100, len(prev)
    assert all(isinstance(v, (int, float)) and v >= 0 for v in prev.values())


def test_stage_dirs_of_same_basename_fixtures_coexist(tmp_path, monkeypatch):
    """``tables.staged`` runs its writer once per source fingerprint, and
    a writer that raises leaves nothing a later call trusts.  Two
    fixtures whose dirs share a basename in different parents (``a/sf``,
    ``b/sf``) must not prune each other's staging, while a regenerated
    fixture re-stages and prunes only its own stale staging.  No Spark:
    the events files are written with pyarrow."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from map_reduce_multi_threaded_spark.sources import tables

    monkeypatch.setattr(tables, "_STAGE_ROOT", str(tmp_path / "stage"), raising=False)

    def write_events(sf, ids):
        os.makedirs(sf, exist_ok=True)
        pq.write_table(pa.table({"event_id": ids}), os.path.join(sf, "events.parquet"))

    written = []

    def write(d):
        assert os.listdir(d) == []
        written.append(d)
        open(os.path.join(d, "f000.parquet"), "w").close()

    def stage(sf, kind="events_multibatch", writer=write):
        return tables.staged(sf, kind, ("events",), writer)

    sf_a, sf_b = str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")
    write_events(sf_a, [1, 2, 3])
    write_events(sf_b, [4, 5])
    d_a = stage(sf_a)
    d_b = stage(sf_b)
    assert d_a != d_b
    assert d_a == tables.stage_scratch_dir(sf_a, "events_multibatch", "events")
    assert os.path.isdir(d_a), "staging b pruned a's staging"
    assert stage(sf_a) == d_a
    assert os.path.isdir(d_b), "staging a pruned b's staging"
    assert written == [d_a, d_b], "a staged copy was written twice"

    # a writer that raises leaves no marker: the next call writes again,
    # into an empty directory
    def fail(d):
        open(os.path.join(d, "f000.parquet"), "w").close()
        raise OSError("disk full")

    with pytest.raises(OSError):
        stage(sf_b, "docs", fail)
    d_docs = stage(sf_b, "docs")
    assert written[-1] == d_docs
    assert stage(sf_b, "docs") == d_docs and written.count(d_docs) == 1

    # a regenerated fixture re-stages and prunes only its own stale staging
    write_events(sf_a, [1, 2, 3, 6])
    d_a2 = stage(sf_a)
    assert d_a2 != d_a and written[-1] == d_a2
    assert not os.path.exists(d_a)
    assert os.path.isdir(d_b) and os.path.isdir(d_docs)


def test_stage_namespaces_of_deleted_fixtures_are_pruned(tmp_path, monkeypatch):
    """Each staging namespace records its absolute sf dir; once that dir
    is deleted (a test fixture under a per-run tmp path), the next
    staging call anywhere prunes the namespace.  A namespace without a
    record and the namespaces of live fixtures stay.  No Spark."""
    import os
    import shutil

    from map_reduce_multi_threaded_spark.sources import tables

    root = tmp_path / "stage"
    monkeypatch.setattr(tables, "_STAGE_ROOT", str(root), raising=False)
    sf_a, sf_b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    for sf in (sf_a, sf_b):
        os.makedirs(sf)
    ns_a = os.path.dirname(tables.stage_scratch_dir(str(sf_a), "parted", "events"))
    ns_b = os.path.dirname(tables.stage_scratch_dir(str(sf_b), "parted", "events"))
    assert os.readlink(os.path.join(ns_a, tables._NS_SOURCE)) == str(sf_a)
    unrecorded = root / "degen-000000000000"
    os.makedirs(unrecorded / "parted-000000000000")

    shutil.rmtree(tmp_path / "a")
    tables.stage_scratch_dir(str(sf_b), "docs", "documents")
    assert not os.path.exists(ns_a), "a deleted fixture's namespace survived"
    assert os.path.isdir(ns_b) and os.path.isdir(unrecorded)


def test_package_has_no_broad_except():
    """No ``except Exception``, ``except BaseException`` or bare
    ``except`` in the package: a broad handler can quietly switch an
    optimization or a record off.  Catch the one error a call is known
    to raise.  Scans the source (no Spark)."""
    import ast
    import pathlib

    import map_reduce_multi_threaded_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    broad = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ExceptHandler):
                continue
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            if any(
                t is None or (isinstance(t, ast.Name) and t.id in ("Exception", "BaseException"))
                for t in types
            ):
                broad.append(f"{path.relative_to(root).as_posix()}:{node.lineno}")
    assert not broad, broad


def test_text_contract_lives_in_one_module():
    """The cross-engine text contract — the whitespace-split regex, the
    DuckDB split call, both punctuation classes and the A–Z casefold
    table — is spelled only in ``functions/text.py``.  Every other
    module calls its Spark/DuckDB pairs, so the two engines' spellings
    cannot drift apart.  Scans the source (no Spark)."""
    import pathlib

    import map_reduce_multi_threaded_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    home = root / "functions" / "text.py"
    spellings = ("\\s+", "string_split_regex", "\\p{Punct}", "[[:punct:]]",
                 "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
    found = [
        f"{path.relative_to(root).as_posix()}:{n}: {s}"
        for path in sorted(root.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for s in spellings
        if s in line
    ]
    assert not found, found


def test_equal_oracles_are_one_string():
    """Registry oracles that read the same after whitespace and ``--``
    comment normalization are one string: a batch/stream twin uses its
    partner's oracle, not a hand copy that can drift.  No Spark."""
    import re

    from map_reduce_multi_threaded_spark.registry import collect_specs

    groups: dict[str, dict[str, list[str]]] = {}
    for spec in collect_specs():
        if spec.oracle is not None:
            key = " ".join(re.sub(r"--[^\n]*", "", spec.oracle).split())
            groups.setdefault(key, {}).setdefault(spec.oracle, []).append(spec.name)
    copies = [sorted(v.values()) for v in groups.values() if len(v) > 1]
    assert not copies, copies


def test_env_reads_are_only_the_session_knobs():
    """The package reads exactly three environment variables, all in
    session.py: core count, shuffle partitions and driver memory.  No
    env var may switch a query's plan — a query has one spelling — so
    a new read anywhere in the package fails here until it is argued
    for.  Scans the source (no Spark)."""
    import ast
    import pathlib

    import map_reduce_multi_threaded_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    reads = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            else:
                continue
            if name not in ("environ", "getenv"):
                continue
            # os.environ.get(K) / os.environ[K] / os.getenv(K)
            up = parent.get(node)
            if isinstance(up, ast.Attribute) and up.attr == "get":
                up = parent.get(up)
            if isinstance(up, ast.Call) and up.args:
                key = up.args[0]
            elif isinstance(up, ast.Subscript):
                key = up.slice
            else:
                key = None
            literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
            reads.add((path.relative_to(root).as_posix(), key.value if literal else None))
    assert reads == {
        ("session.py", "SPARK_GRAFT_CPUS"),
        ("session.py", "SPARK_GRAFT_SHUFFLE"),
        ("session.py", "SPARK_GRAFT_DRIVER_MEM"),
    }, sorted(reads, key=str)
