"""Parquet table loaders for the test star schema (see FIXTURES.md).

Generalizes the reference's single directory-listing source
(``map_reduce.cpp:477-495``) into a catalog of typed tables.  Spark's
``InMemoryFileIndex`` + task scheduler replace the reference's
master-thread pull queue (``map_reduce.cpp:127-150``) wholesale — file
splits are assigned to tasks with locality and speculation for free.

Scale note: at 100 TB these would be partitioned/bucketed tables, not
single files; nothing else in the engine would change, because every
operator takes a DataFrame and never assumes a partition count.
"""

from __future__ import annotations

import logging
import os
import stat

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)

#: All tables the driver materializes per scale factor.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables — safe to broadcast at any realistic scale
#: (region/nation are bounded by geography; supplier stays ~1e4/sf).
BROADCAST_SAFE = frozenset({"region", "nation", "supplier"})


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-UTC ``TimestampType`` whatever
    the fixture's physical parquet type is.  Generations of the driver
    fixture have shipped it as TIMESTAMP(NANOS) — which Spark reads as
    int64 nanoseconds under ``spark.sql.legacy.parquet.nanosAsLong`` —
    and as TIMESTAMP_MICROS with isAdjustedToUTC=false, which reads as
    TIMESTAMP_NTZ.  DuckDB (the correctness oracle) sees microsecond
    naive timestamps in both cases, so each branch lands on the same
    instants: the session timezone is pinned to UTC (session.py)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # integer division — ts is 19-digit nanos; double math would
        # round the low microsecond digit (DuckDB truncates on read).
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # naive micros; cast interprets wall-clock in session tz (UTC).
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df  # already TimestampType


#: session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: (file identity, inference confs) -> the Spark-inferred StructType
_SCHEMA_CACHE: dict[tuple, StructType] = {}

#: file identity -> (row_groups, rows) from the parquet footers
_FOOTER_STATS_CACHE: dict[tuple, tuple[int, int]] = {}


def file_identity(path: str) -> tuple | None:
    """What a parquet table's files are, on disk: ``(abspath,
    st_mtime_ns, st_size)`` for a file, ``(abspath, sorted (name,
    st_mtime_ns, st_size) of every entry)`` for a flat directory.  A
    rewritten file or an added/removed part file gets a new identity.
    None for a missing path or a nested (partitioned) directory —
    those are never memoized."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
        if stat.S_ISREG(st.st_mode):
            return path, st.st_mtime_ns, st.st_size
        if not stat.S_ISDIR(st.st_mode):
            return None
        listing = []
        with os.scandir(path) as entries:
            for e in entries:
                if not e.is_file():
                    return None
                est = e.stat()
                listing.append((e.name, est.st_mtime_ns, est.st_size))
    except OSError:
        return None
    return path, tuple(sorted(listing))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table (``events.ts`` → see normalize_event_ts).

    The first load of a file infers its schema (``spark.read.parquet``
    runs one schema-inference job for that); the inferred
    ``StructType`` is memoized, and later loads pass it to
    ``spark.read.schema(...)``, which starts no job.  The memo key is
    the file identity (:func:`file_identity`: absolute path,
    ``st_mtime_ns`` and ``st_size``, or a flat directory's sorted
    listing of those) plus the session's values of the confs that
    change inference (``_INFERENCE_CONFS``), so a rewritten file or a
    changed conf is inferred again.  Nested/partitioned layouts are
    always inferred."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    ident = file_identity(path)
    if ident is None:
        df = spark.read.parquet(path)
    else:
        key = (ident, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
        schema = _SCHEMA_CACHE.get(key)
        if schema is None:
            df = spark.read.parquet(path)
            _SCHEMA_CACHE[key] = df.schema
        else:
            df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def scan_max_tasks(sf_dir: str, name: str) -> tuple[int, int] | None:
    """(row_groups, rows): the total ROW-GROUP count across the
    table's files — the upper bound on scan parallelism, since Spark
    splits parquet at row-group boundaries (byte-range splits below
    that all collapse onto whichever task holds the group) — plus the
    footer row count.  Footer metadata only — no Spark job (the
    corpus_count precedent, guide §6), memoized per
    :func:`file_identity`.  None, with a warning logged, when the layout
    is not a flat file/dir of .parquet or a footer cannot be read
    (callers treat unknown as 'parallel enough' / fall back to a
    count job)."""
    path = f"{sf_dir}/{name}.parquet"
    ident = file_identity(path)
    if ident is None:
        _log.warning("scan_max_tasks: %s is missing or not a flat parquet layout", path)
        return None
    stats = _FOOTER_STATS_CACHE.get(ident)
    if stats is None:
        try:
            stats = _footer_stats(path)
        except (OSError, ValueError):  # pyarrow's I/O and ArrowInvalid errors
            _log.warning("scan_max_tasks: cannot read parquet footers of %s", path, exc_info=True)
            return None
        _FOOTER_STATS_CACHE[ident] = stats
    return stats


def _footer_stats(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    groups = rows = 0
    for f in files:
        m = pq.ParquetFile(f).metadata
        groups += m.num_row_groups
        rows += m.num_rows
    return groups, rows


#: Minimum rows each would-be task must receive for the spread to be
#: worth an exchange: below ~1000 rows/core, task-launch and stage
#: latency dominate any per-row work a narrow map could parallelize
#: (measured: spreading the 2,000-row sf0.1 embeddings cost
#: knn_scalar_quant +0.9 s of pure stage latency at the bench scale
#: while buying nothing — the 80k-row stress corpus is where the same
#: spread wins 2–4×).  Scale-neutral: compares data volume to the
#: session's parallelism, not to any host constant.
SPREAD_MIN_ROWS_PER_TASK = 1000


def spread_unsplittable_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Round 16 (guide §2.5 "input skew: one huge unsplittable file …
    otherwise repartition immediately after the read"): when the
    table's parquet layout cannot feed every core (row groups <
    default parallelism), round-robin repartition right after the
    scan so a CPU-heavy narrow map doesn't run as one straggler task.

    Every driver fixture is a single-row-group file, so every
    per-document pipeline (shingling, per-position md5, n-gram
    explode) was bottlenecked on ONE task regardless of cluster size —
    text_fingerprint measured 46.8 s single-task at the 100× stress
    fixture with 31 idle cores.  The gate is scale-adaptive, not a
    local[32] constant: on a production table with thousands of row
    groups the condition is false and NO exchange is added; it fires
    exactly when the scan's achievable parallelism starves the map
    (the same condition at any scale).  Round-robin repartition is
    retry-safe by default (spark.sql.execution.sortBeforeRepartition,
    guide §2.5)."""
    want = spark.sparkContext.defaultParallelism
    stats = scan_max_tasks(sf_dir, name)
    if (
        stats is not None
        and stats[0] < want
        and stats[1] >= SPREAD_MIN_ROWS_PER_TASK * want
    ):
        return df.repartition(want)
    return df


def power10_base(df: DataFrame, key: str, alias: str = "idbase") -> DataFrame:
    """1-row frame with ``alias`` = smallest power of 10 strictly above
    ``max(df[key])`` — a scale-safe namespace for synthesized row ids.
    A fixed additive constant collides with real keys once the fixture
    outgrows it (TPC-H o_orderkey crosses 1e8 around sf≈17); a
    max-derived power of 10 cannot, at any scale factor, and is exact
    in IEEE doubles for any realistic exponent so Spark and DuckDB
    agree bit-for-bit.  Oracle-side twin: ``CAST(power(10,
    ceil(log10(max(<key>) + 1))) AS BIGINT)``."""
    return df.agg(
        F.expr(
            f"CAST(power(10, ceil(log10(max({key}) + 1))) AS BIGINT)"
        ).alias(alias)
    )


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: staging kinds no code reads anymore (renamed layouts) — swept on
#: any staging access.  'formats' became 'formats_v2' when the XML
#: copy was added in round 5.
RETIRED_STAGE_KINDS = ("formats", "zorder")


def stage_scratch_dir(sf_dir: str, kind: str, *source_tables: str) -> str:
    """Scratch directory for staged derivatives of ``sf_dir`` tables,
    keyed by a CONTENT fingerprint of the source parquet files
    (absolute path + mtime + size), not just the sf dir basename — two
    sf dirs with the same basename, or a regenerated fixture, must not
    serve stale staged data (ADVICE r2).

    Layout is ``<root>/<base>/<kind>-<fp>`` so that when a fixture is
    regenerated the stale same-kind sibling (old fingerprint) can be
    pruned without touching other kinds' staging keyed on different
    source tables (ADVICE r3: fingerprinted dirs were never cleaned
    up).  Legacy flat ``<base>-<fp>`` dirs from the old layout are
    removed too — nothing reads them anymore, as are RETIRED kinds
    (renamed staging layouts would otherwise orphan their old dirs
    on disk forever)."""
    import hashlib
    import shutil

    parts = []
    for t in source_tables:
        p = os.path.abspath(f"{sf_dir}/{t}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{p}:missing")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    base = os.path.basename(os.path.normpath(sf_dir))
    root = "/tmp/spark_graft_stage"
    try:
        for d in os.listdir(root):
            full = os.path.join(root, d)
            if d.startswith(f"{base}-"):  # legacy flat layout
                shutil.rmtree(full, ignore_errors=True)
            elif d == base and os.path.isdir(full):
                for sub in os.listdir(full):
                    stale_kind = sub.startswith(f"{kind}-") and sub != f"{kind}-{fp}"
                    retired = any(sub.startswith(f"{rk}-") for rk in RETIRED_STAGE_KINDS)
                    if stale_kind or retired:
                        shutil.rmtree(os.path.join(full, sub), ignore_errors=True)
    except OSError:
        pass
    return f"{root}/{base}/{kind}-{fp}"
