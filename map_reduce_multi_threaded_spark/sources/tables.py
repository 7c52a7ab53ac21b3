"""Parquet table loaders for the test star schema (see FIXTURES.md).

Generalizes the reference's single directory-listing source
(``map_reduce.cpp:477-495``) into a catalog of typed tables.  Spark's
``InMemoryFileIndex`` + task scheduler replace the reference's
master-thread pull queue (``map_reduce.cpp:127-150``) — file
splits are assigned to tasks with locality and speculation for free.
The one split decision left to this module is the spread of a scan
too coarse to feed every core (``load_table(..., cpu_heavy=True)``).

Scale note: at 100 TB these would be partitioned/bucketed tables, not
single files; nothing else in the engine would change, because every
operator takes a DataFrame and never assumes a partition count.
"""

from __future__ import annotations

import contextlib
import logging
import os
import stat
from collections.abc import Callable, Iterator

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


#: Minimum rows each would-be task must receive for the spread to be
#: worth an exchange: below ~1000 rows/core, task-launch and stage
#: latency dominate any per-row work a narrow map could parallelize
#: (measured: spreading the 2,000-row sf0.1 embeddings cost
#: knn_scalar_quant +0.9 s of pure stage latency at the bench scale
#: while buying nothing — the 80k-row stress corpus is where the same
#: spread wins 2–4×).  Scale-neutral: compares data volume to the
#: session's parallelism, not to any host constant.
SPREAD_MIN_ROWS_PER_TASK = 1000


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, cpu_heavy: bool = False
) -> DataFrame:
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
    always inferred.

    ``cpu_heavy=True`` is the caller saying a CPU-heavy narrow map
    (shingling, per-gram hashing, an Arrow scorer) consumes the scan.
    Spark cannot split a parquet row group, so a table with fewer row
    groups than ``defaultParallelism`` feeds that map with fewer tasks
    than cores — every test fixture table is one row group, and
    text_fingerprint ran 46.8 s as ONE task on the 100× stress fixture.
    The scan is then round-robin repartitioned to
    ``defaultParallelism`` when both hold (:func:`scan_max_tasks`, no
    Spark job):

    - footer row groups < ``defaultParallelism``, and
    - footer rows >= ``SPREAD_MIN_ROWS_PER_TASK × defaultParallelism``.

    The rows are the footer count BEFORE any filter the caller applies
    (text_fingerprint keeps only texts of 8+ chars): the gate measures
    the scan, not what survives it.  On a table with enough row groups
    the gate is false and no exchange is added.  Filters and
    projections written after the load still reach the scan: Catalyst
    pushes them below the round-robin exchange, into the FileScan's
    PushedFilters, DataFilters and ReadSchema.  Round-robin
    repartition is retry-safe
    (``spark.sql.execution.sortBeforeRepartition``).

    The spread is opt-in because the scan cannot tell how heavy the
    downstream map is, and an exchange in front of a cheap per-row
    aggregate slows it (repartitioning lineitem before
    q1_pricing_summary's integer aggregate measured 0.9 → 1.6 s at
    sf0.1)."""
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
    if cpu_heavy:
        want = spark.sparkContext.defaultParallelism
        stats = scan_max_tasks(sf_dir, name)
        if (
            stats is not None
            and stats[0] < want
            and stats[1] >= SPREAD_MIN_ROWS_PER_TASK * want
        ):
            return df.repartition(want)
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


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: host-wide root of the staged derivatives (one namespace per sf dir)
_STAGE_ROOT = "/tmp/spark_graft_stage"


#: symlink in each sf namespace to the absolute sf dir it stages
_NS_SOURCE = "_SF_DIR"


def stage_scratch_dir(sf_dir: str, kind: str, *source_tables: str) -> str:
    """Scratch directory for staged derivatives of ``sf_dir`` tables,
    keyed by a CONTENT fingerprint of the source parquet files
    (absolute path + mtime + size), so a regenerated fixture never
    serves stale staged data.

    Layout is ``<root>/<base>-<sf hash>/<kind>-<fp>``: one namespace per
    ABSOLUTE sf dir (``<base>`` only keeps it readable), so when a
    fixture is regenerated the stale same-kind sibling (old
    fingerprint) is pruned without touching other kinds' staging or
    another fixture's.  Two fixtures that share a basename in
    different parents get different namespaces and never prune each
    other.  Each namespace records its sf dir in the symlink
    ``_SF_DIR`` (created atomically, never rewritten); a namespace
    whose link dangles (a deleted test fixture) is pruned by the next
    call."""
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
    abs_sf = os.path.abspath(sf_dir)
    ns = os.path.join(
        _STAGE_ROOT,
        f"{os.path.basename(abs_sf)}-{hashlib.md5(abs_sf.encode()).hexdigest()[:12]}",
    )
    os.makedirs(_STAGE_ROOT, exist_ok=True)
    for other in os.listdir(_STAGE_ROOT):
        record = os.path.join(_STAGE_ROOT, other, _NS_SOURCE)
        if os.path.islink(record) and not os.path.isdir(record):
            shutil.rmtree(os.path.join(_STAGE_ROOT, other), ignore_errors=True)
    os.makedirs(ns, exist_ok=True)
    with contextlib.suppress(FileExistsError):
        os.symlink(abs_sf, os.path.join(ns, _NS_SOURCE))
    for sub in os.listdir(ns):
        if sub.startswith(f"{kind}-") and sub != f"{kind}-{fp}":
            shutil.rmtree(os.path.join(ns, sub), ignore_errors=True)
    return f"{ns}/{kind}-{fp}"


#: written into a staged directory after its writer returns
_MARKER = "_WRITTEN"


def staged(
    sf_dir: str, kind: str, sources: tuple[str, ...], write: Callable[[str], None]
) -> str:
    """The cached-scratch contract: a derived copy of the ``sources``
    tables of ``sf_dir``, written once and re-read by every later call.

    - The directory is :func:`stage_scratch_dir`'s, keyed by a content
      fingerprint of the source files, so a regenerated fixture
      re-stages (and prunes its own stale ``kind`` sibling).
    - ``write(dir)`` runs only when ``dir`` holds no marker, always on
      a fresh empty directory (a partial copy is deleted first).
    - The marker is written only after ``write`` returns, so a writer
      that raises leaves nothing a later call would trust.
    - Files the writer names with a leading ``_`` (side values such
      as a replay cutoff) are skipped by Spark's file sources.
    - A writer whose output changes must bump its ``kind`` (e.g.
      ``formats_v2``, ``zorder2``): the fingerprint covers the sources,
      not the writer, so the old copy would otherwise be trusted.

    Returns the directory."""
    import shutil

    d = stage_scratch_dir(sf_dir, kind, *sources)
    marker = os.path.join(d, _MARKER)
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        write(d)
        open(marker, "w").close()
    return d


@contextlib.contextmanager
def tmpfs_scratch_dir(prefix: str) -> Iterator[str]:
    """A throwaway directory, on ``/dev/shm`` when the host has it,
    deleted on exit.  For streaming checkpoints and scratch logs of the
    drain-and-discard oracle replays: state-store + offset-log commits
    are many small file ops per micro-batch, and on a disk-backed /tmp
    they cost ~1.5 s/batch vs ~0.4 s on /dev/shm.  (On a real cluster
    the checkpoint must be durable shared storage.)"""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(
        prefix=prefix, dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
