"""Custom batch source via Spark 4's Python Data Source API.

The reference's only source is its hand-rolled directory reader with a
pull-queue handing files to reader threads (``map_reduce.cpp:477-495``,
``:127-150``).  Spark's equivalent extension point for "a source Spark
doesn't ship" is ``pyspark.sql.datasource``: declare a schema, split
the work into ``InputPartition``s (the analogue of the reference's
per-file work units — Spark's scheduler distributes them exactly like
parquet splits), and yield tuples per partition.

The demo source is a deterministic token generator: row ``i`` carries
``word = md5(str(i))[:4]``, so a DuckDB oracle can regenerate the same
stream from ``generate_series`` and the whole custom-source path —
registration, planning, partitioned execution, downstream aggregation —
is value-gated, not just smoke-tested.

Scale: N partitions of a row range is the same contract a real custom
source (Kafka-snapshot reader, REST paginator, proprietary format)
implements; throughput bounds are the Python worker's, so production
sources should batch (Arrow) or live JVM-side — this is the API-parity
demonstration, and the partition count proves the read is genuinely
parallel (asserted in tests/test_infra.py).
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..registry import QuerySpec

#: defaults for the registered query (small enough that the Python
#: row-yield path stays sub-second; the partition split is the point).
GEN_ROWS = 20_000
GEN_PARTS = 8


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class WordGenReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", GEN_ROWS))
        self.parts = int(options.get("parts", GEN_PARTS))

    def partitions(self):
        step = (self.n + self.parts - 1) // self.parts
        return [
            _RangePartition(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield i, hashlib.md5(str(i).encode()).hexdigest()[:4]


class WordGenStreamReader(DataSourceStreamReader):
    """Partitioned STREAMING reader over the same generated rows: each
    micro-batch advances the offset by ``batch`` rows and splits the
    range into ``parts`` InputPartitions — the executor-parallel shape
    a real custom stream source (queue snapshotter, CDC tailer) uses,
    as opposed to ``SimpleDataSourceStreamReader``'s driver-side
    reads.  Offsets are plain dicts; Spark handles the WAL."""

    def __init__(self, options):
        self.n = int(options.get("n", GEN_ROWS))
        self.parts = int(options.get("parts", GEN_PARTS))
        self.batch = int(options.get("batch", max(1, self.n // 4)))

    def initialOffset(self):
        # fresh-start marker: on a WAL restart Spark SKIPS this call,
        # so _cur's absence tells latestOffset it's on a recovery path
        self._cur = 0
        return {"i": 0}

    def latestOffset(self):
        # a real source reports "what exists now"; the generator's
        # stream is finite, so the high-water mark walks to n and stays
        if not hasattr(self, "_cur"):
            # restart with a fully-committed WAL: Spark calls
            # latestOffset FIRST (initialOffset and partitions never
            # ran, so their clamps can't fire) and the committed offset
            # is unknowable from here — report "everything exists" so
            # the next planned batch starts exactly at the checkpoint,
            # instead of idling ceil(committed/batch) empty triggers
            # while _cur walks up from 0 below the committed offset
            self._cur = self.n
        else:
            self._cur = min(self._cur + self.batch, self.n)
        return {"i": self._cur}

    def partitions(self, start, end):
        lo, hi = start["i"], end["i"]
        # recovery: after a restart Spark replans from the WAL offset,
        # but _cur restarts at 0 — without this clamp latestOffset
        # would report below the checkpoint and rows would be
        # re-emitted.  Clamp to BOTH bounds: on the committed-batch
        # restart path Spark can plan (committed, fresh-latest) with
        # end < start, and clamping only to `hi` would keep reporting
        # below the committed offset (one empty batch is harmless;
        # regressed offsets are not).
        self._cur = max(getattr(self, "_cur", 0), lo, hi)
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        step = (hi - lo + self.parts - 1) // self.parts
        return [
            _RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield i, hashlib.md5(str(i).encode()).hexdigest()[:4]

    def commit(self, end):
        # nothing external to acknowledge, but keep the high-water mark
        # at least at the committed offset (restart-safety belt to the
        # clamp in partitions())
        self._cur = max(getattr(self, "_cur", 0), end["i"])


class RefSinkCommitMessage(WriterCommitMessage):
    def __init__(self, path: str, pid: int, rows: int):
        self.path = path
        self.pid = pid
        self.rows = rows


class RefSinkWriter(DataSourceWriter):
    """Executor-side writer for the reference's S14 text contract
    (``map_reduce.cpp:440-450``): one temp file per task, one
    ``<word, count> `` line per row (trailing space,
    ``map_reduce.cpp:448``), SORTED within the task — the ordering the
    reference got free from ``std::map`` is enforced here.  Tasks
    write to unique temp names; ``commit`` on the driver atomically
    renames the per-task files into place — the standard two-phase
    custom-sink protocol.  A failed/speculated task attempt's temp file
    is never committed AND gets swept: commit/abort glob this job's
    ``.tmp-<job>-*`` files (job-unique token, so concurrent writers to
    the same dir never sweep each other).  ``overwrite`` commits the
    reference's canonical ``Process_{pid}_Output_File.txt`` names
    (clearing prior committed files); append mode commits job-unique
    names instead of silently clobbering them."""

    def __init__(self, options, overwrite: bool):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("refsink requires .option('path', ...) or save(path)")
        self.overwrite = overwrite
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator) -> RefSinkCommitMessage:
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path, f".tmp-{self.job_token}-{pid:05d}-{uuid.uuid4().hex}"
        )
        rows = sorted((r[0], r[1]) for r in iterator)
        with open(tmp, "w") as f:
            for word, cnt in rows:
                f.write(f"<{word}, {cnt}> \n")
        return RefSinkCommitMessage(tmp, pid, len(rows))

    def _sweep_tmp(self, keep: set[str]) -> None:
        """Remove this job's leftover temp files (failed or speculated
        task attempts that returned no commit message)."""
        import glob
        import os

        for tmp in glob.glob(os.path.join(self.path, f".tmp-{self.job_token}-*")):
            if tmp not in keep:
                try:
                    os.remove(tmp)
                except OSError:
                    pass

    def commit(self, messages):
        import glob
        import os

        if self.overwrite:
            for old in glob.glob(os.path.join(self.path, "Process_*_Output_File*.txt")):
                try:
                    os.remove(old)
                except OSError:
                    pass
        for m in messages:
            if self.overwrite:
                name = f"Process_{m.pid}_Output_File.txt"
            else:
                name = f"Process_{m.pid}_Output_File_{self.job_token}.txt"
            os.replace(m.path, os.path.join(os.path.dirname(m.path), name))
        self._sweep_tmp(keep=set())

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass
        self._sweep_tmp(keep=set())


class RefSinkSource(DataSource):
    """``df.write.format("refsink").option("path", dir).save()`` —
    the reference's sorted ``<word, count> `` text sink re-expressed
    through the Python Data Source writer API (two-phase commit),
    beside the native-Spark implementation in sources.sinks."""

    @classmethod
    def name(cls) -> str:
        return "refsink"

    def writer(self, schema, overwrite: bool) -> RefSinkWriter:
        return RefSinkWriter(self.options, overwrite)


class WordGenSource(DataSource):
    """``spark.read.format("wordgen").option("n", ...).load()`` (batch)
    or ``spark.readStream.format("wordgen")...`` (micro-batch)."""

    @classmethod
    def name(cls) -> str:
        return "wordgen"

    def schema(self) -> str:
        return "i bigint, word string"

    def reader(self, schema) -> WordGenReader:
        return WordGenReader(self.options)

    def streamReader(self, schema) -> WordGenStreamReader:
        return WordGenStreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Idempotent registration (re-registering just replaces)."""
    spark.dataSource.register(WordGenSource)
    spark.dataSource.register(RefSinkSource)


def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over the custom Python data source — the reference's
    S1+S10 pipeline with the scan swapped for a user-defined source.
    ``sf_dir`` is unused (the source is generative); kept for the
    uniform query signature."""
    register(spark)
    gen = (
        spark.read.format("wordgen")
        .option("n", str(GEN_ROWS))
        .option("parts", str(GEN_PARTS))
        .load()
    )
    return gen.groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("i").alias("first_i"),
    )


_PYGEN_ORACLE = f"""
SELECT substr(md5(CAST(i AS VARCHAR)), 1, 4) AS word,
       count(*) AS cnt, min(i) AS first_i
FROM generate_series(0, {GEN_ROWS - 1}) t(i)
GROUP BY 1
"""


def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same aggregation fed by the CUSTOM STREAMING source: the
    generator's rows arrive over four micro-batches (offset walks
    ``batch`` rows per ``latestOffset`` poll, each range split into
    executor partitions), a complete-mode count aggregates across
    batches, and the drained memory table must equal the one-shot
    batch answer — proving the source's offset/partition bookkeeping
    loses and duplicates nothing.  Drained with ``processAllAvailable``
    (the finite stream stops advancing at ``n``) rather than
    availableNow, which Python stream sources don't implement
    admission control for, so it skips ``windows.drain`` but stops at
    the same drain-free plan capture.  ``sf_dir`` unused (generative
    source)."""
    from ..streaming import windows as W
    from .tables import tmpfs_scratch_dir

    register(spark)
    gen = (
        spark.readStream.format("wordgen")
        .option("n", str(GEN_ROWS))
        .option("parts", str(GEN_PARTS))
        .load()
    )
    agg = gen.groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("i").alias("first_i"),
    )
    name = "stream_pygen_sink"
    W.check_plan_only(agg, name)
    with tmpfs_scratch_dir("sg_ckpt_pygen_") as ckpt:
        query = (
            agg.writeStream.queryName(name)
            .outputMode("complete")
            .format("memory")
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.processAllAvailable()
        query.stop()
        query.awaitTermination()
    return spark.table(name)


SPECS = [
    QuerySpec(
        "source_python_datasource",
        source_python_datasource,
        _PYGEN_ORACLE,
        "Spark 4 Python Data Source API: partitioned custom source, value-gated",
    ),
    QuerySpec(
        "stream_python_datasource",
        stream_python_datasource,
        _PYGEN_ORACLE,
        "custom Python STREAM source: micro-batch offsets + partition splits, "
        "drained to the same exact oracle",
    ),
]
