"""Fixed per-query costs that do not depend on the data: the parquet
schema memo in ``load_table`` (no schema-inference job after a file's
first load), lazy query builders (no Spark job at build time), and the
worker daemon's zip-directory shim (no per-task re-read of an unchanged
archive); and the footer-stats reader with the scan-spread gate it
feeds (plan-only, no Spark action)."""

from __future__ import annotations

import importlib
import os
import shutil
import sys
import uuid
import zipfile
import zipimport

import pytest

from map_reduce_multi_threaded_spark import worker_daemon
from map_reduce_multi_threaded_spark.plans.explain import read_schema
from map_reduce_multi_threaded_spark.sources.tables import (
    SPREAD_MIN_ROWS_PER_TASK,
    TABLES,
    load_table,
    normalize_event_ts,
)


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs started while it ran), counted by a
    fresh job group."""
    sc = spark.sparkContext
    group = f"fixed-overhead-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_schema_memo_second_load_starts_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    df, jobs = _jobs_started(spark, lambda: load_table(spark, sf_dir, "orders"))
    assert jobs == 0
    assert df.count() > 0


def test_schema_memo_matches_fresh_inference(spark, sf_dir):
    """Every table read with its memoized schema has the schema and the
    FileScan ReadSchema of a freshly inferred read."""
    for name in TABLES:
        load_table(spark, sf_dir, name)
        memo, jobs = _jobs_started(spark, lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, name
        fresh = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            fresh = normalize_event_ts(fresh)
        assert memo.schema == fresh.schema, name
        assert read_schema(memo) == read_schema(fresh), name


def test_schema_memo_reinfers_rewritten_file(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    shutil.copy(f"{sf_dir}/region.parquet", path)
    os.chmod(path, 0o644)
    before = load_table(spark, str(tmp_path), "region").columns

    table = pq.read_table(path)
    pq.write_table(table.append_column("r_extra", pa.array([1] * table.num_rows)), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    df, jobs = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "region"))

    assert jobs == 1  # inferred again
    assert df.columns == before + ["r_extra"]
    assert df.select("r_extra").distinct().collect()[0][0] == 1


def test_query_builders_start_no_job_once_warm(spark, sf_dir):
    """Guard on the builders' laziness: once a query's tables are
    memoized, building it again must start no Spark job — a raw
    ``spark.read.parquet`` or an eager action in a builder fails here."""
    from map_reduce_multi_threaded_spark.registry import collect_specs

    specs = {s.name: s for s in collect_specs()}
    for name in ("sql_q3_shipping_priority", "q1_pricing_summary"):
        specs[name].fn(spark, sf_dir)
        _, jobs = _jobs_started(spark, lambda: specs[name].fn(spark, sf_dir))
        assert jobs == 0, name


def test_asof_and_resample_builders_start_no_job(spark, sf_dir, tmp_path):
    """The as-of and resample builders read no data at build time: on a
    fresh directory (so no per-directory memo can hide a scan) with the
    events schema already loaded, building all three starts no job."""
    from map_reduce_multi_threaded_spark.operators import relational as R

    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    load_table(spark, str(tmp_path), "events")
    builders = (R.join_asof_nearest, R.events_resample_ffill, R.events_resample_interpolate)
    _, jobs = _jobs_started(spark, lambda: [fn(spark, str(tmp_path)) for fn in builders])
    assert jobs == 0


def test_worker_pythonpath_merges_package_parent():
    from map_reduce_multi_threaded_spark.session import _PACKAGE_PARENT, _worker_pythonpath

    assert _worker_pythonpath("") == _PACKAGE_PARENT
    merged = _worker_pythonpath(os.pathsep.join(["/a", "/b"]))
    assert merged.split(os.pathsep) == [_PACKAGE_PARENT, "/a", "/b"]
    assert _worker_pythonpath(merged) == merged


def test_python_workers_run_the_shim(spark):
    """Workers forked by the session's daemon carry the installed shim."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__

    def shim_state(_):
        import zipimport

        yield getattr(zipimport.zipimporter.invalidate_caches, "_stamped", False)

    got = spark.sparkContext.parallelize(range(4), 2).mapPartitions(shim_state).collect()
    assert got == [sys.version_info < (3, 13)] * 2


# -- worker daemon shim, no Spark ---------------------------------------------


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for mod in modules:
            z.writestr(f"{mod}.py", f"NAME = {mod!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path holding one module, the shim installed
    (both undone afterwards), and a per-archive count of directory reads."""
    tag = uuid.uuid4().hex[:8]
    archive = str(tmp_path / f"mods_{tag}.zip")
    mods = [f"zmod_a_{tag}", f"zmod_b_{tag}"]
    _write_zip(archive, mods[:1])

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, archive)
    try:
        assert worker_daemon.install()
        importlib.import_module(mods[0])
        yield archive, mods, lambda: reads.count(archive)
    finally:
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        for mod in mods:
            sys.modules.pop(mod, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="shim is a no-op on 3.13+")
def test_daemon_shim_skips_unchanged_archive(zip_on_path):
    archive, _, reads = zip_on_path
    importlib.invalidate_caches()  # first call stamps the archive
    n = reads()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads() == n


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="shim is a no-op on 3.13+")
def test_daemon_shim_rereads_rewritten_archive(zip_on_path):
    archive, mods, reads = zip_on_path
    importlib.invalidate_caches()
    n = reads()
    _write_zip(archive, mods)
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads() == n + 1
    assert importlib.import_module(mods[1]).NAME == mods[1]


def test_daemon_shim_is_noop_on_313(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    stock = zipimport.zipimporter.invalidate_caches
    assert worker_daemon.install(version_info=(3, 13, 0)) is False
    assert zipimport.zipimporter.invalidate_caches is stock


def test_footer_stats_flat_dir_memo_and_unknown_layout(tmp_path, monkeypatch, caplog):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_multi_threaded_spark.sources import tables

    flat = tmp_path / "embeddings.parquet"
    flat.mkdir()
    for i, n in enumerate((3, 5)):
        pq.write_table(pa.table({"x": list(range(n))}), flat / f"part-{i}.parquet", row_group_size=2)
    assert tables.scan_max_tasks(str(tmp_path), "embeddings") == (2 + 3, 8)

    monkeypatch.setattr(tables, "_footer_stats", lambda path: pytest.fail("footers re-read"))
    assert tables.scan_max_tasks(str(tmp_path), "embeddings") == (5, 8)

    (flat / "part=1").mkdir()  # nested layout: not read, and said so
    with caplog.at_level("WARNING", logger=tables.__name__):
        assert tables.scan_max_tasks(str(tmp_path), "embeddings") is None
    assert "not a flat parquet layout" in caplog.text


def test_footer_stats_unreadable_footer_warns(tmp_path, caplog):
    from map_reduce_multi_threaded_spark.sources import tables

    (tmp_path / "documents.parquet").write_bytes(b"not parquet")
    with caplog.at_level("WARNING", logger=tables.__name__):
        assert tables.scan_max_tasks(str(tmp_path), "documents") is None
    assert "cannot read parquet footers" in caplog.text


def _documents_fixture(spark, sf_dir, rows, row_group_size, cpu_heavy):
    """documents loaded from a pyarrow-written file of ``rows`` rows in
    row groups of ``row_group_size``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(rows), pa.int64()),
            "text": [f"document number {i}" if i % 3 else "short" for i in range(rows)],
            "lang": ["en"] * rows,
        }),
        sf_dir / "documents.parquet",
        row_group_size=row_group_size,
    )
    return load_table(spark, str(sf_dir), "documents", cpu_heavy=cpu_heavy)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_cpu_heavy_load_spreads_only_a_starved_scan(spark, tmp_path):
    """``load_table(..., cpu_heavy=True)`` round-robin spreads a scan
    with fewer row groups than ``defaultParallelism`` and at least
    ``SPREAD_MIN_ROWS_PER_TASK`` footer rows per would-be task, and
    nothing else; a filter and projection written after the load
    still reach the FileScan below the exchange.  No Spark action."""
    import pyspark.sql.functions as F

    p = spark.sparkContext.defaultParallelism
    n = SPREAD_MIN_ROWS_PER_TASK * p

    docs = _documents_fixture(spark, tmp_path / "spread", n, n, True)
    plan = _plan(docs.where(F.length("text") >= 8).select("doc_id", "text"))
    assert plan.count("Exchange") == 1
    assert plan.count(f"RoundRobinPartitioning({p})") == 1
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "length(text" in scan.split("DataFilters: ")[1].split("], ")[0]
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in scan

    for case, rows, group, heavy in (
        ("few_rows", n - 1, n, True),
        ("many_groups", n, SPREAD_MIN_ROWS_PER_TASK, True),
        ("not_heavy", n, n, False),
    ):
        plan = _plan(_documents_fixture(spark, tmp_path / case, rows, group, heavy))
        assert "Exchange" not in plan, case
