"""The benchmark's workloads: inputs, the queries of one pass, and the
output check.

A pass runs every query of the workload once, one after another, in a
closed loop with one client.  Each query is two timed phases:

* ``build``: the program's own function, called from outside the
  package: a registry ``QuerySpec.fn`` or, for the word count, the
  reference pipeline ``word_counts_from_text_dir``.  This is plan-build,
  plus any job the function starts eagerly;
* ``act``: the action on its result: the noop sink for registry
  queries, the reference text sink for the word count.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import inputs


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[Any], Any]  # spark -> result of the program's function
    act: Callable[[Any], Any]  # that result -> None, runs the action


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Collected:
    """A query result already collected, with the schema of its
    DataFrame: lets ``tests/oracle_utils.compare`` check rows taken
    from a warm-up pass without running the query again."""

    def __init__(self, df, rows):
        self.schema = df.schema
        self.columns = df.columns
        self._rows = rows

    def collect(self):
        return self._rows


class FixtureMix:
    """Registry queries over one ``gen_altfixture.py`` fixture."""

    def __init__(self, name: str, queries: tuple[str, ...], scale: float,
                 skew_mode: str = "normal"):
        self.name = name
        self.query_names = queries
        self.scale = scale
        self.skew_mode = skew_mode
        self.dir = ""
        self.collected: dict[str, _Collected] = {}

    def prepare(self, work: str, repo: str, seed: int) -> dict:
        self.dir = inputs.fixture(os.path.join(work, "inputs"), repo, seed, self.scale,
                                  self.skew_mode)
        return {"fixture": self.dir, "scale": self.scale, "skew_mode": self.skew_mode}

    def queries(self, specs: dict) -> list[Query]:
        return [
            Query(n, lambda spark, fn=specs[n].fn: fn(spark, self.dir), _noop)
            for n in self.query_names
        ]

    def warm_act(self, query: Query, df) -> None:
        """Warm-up action that keeps the rows for the output check."""
        self.collected[query.name] = _Collected(df, df.collect())

    def check(self, specs: dict, repo: str) -> dict[str, str]:
        """Failures by query name: each query's warm-up rows against
        its registry oracle in DuckDB, hash-exact; a query without an
        oracle only has to have produced its rows."""
        sys.path.insert(0, os.path.join(repo, "tests"))
        import oracle_utils

        failures = {}
        for name in self.query_names:
            got = self.collected.get(name)
            if got is None:
                failures[name] = "no warm-up result"
            elif specs[name].oracle is not None:
                try:
                    oracle_utils.compare(got, specs[name].oracle, self.dir)
                except AssertionError as e:
                    failures[name] = str(e).splitlines()[0]
        return failures

    def scan_inputs(self, spark) -> list[tuple[str, Any, int]]:
        """(table, noop-able DataFrame, rows) for every fixture table."""
        import pyarrow.parquet as pq

        from map_reduce_multi_threaded_spark.sources.tables import TABLES, load_table

        return [
            (t, load_table(spark, self.dir, t),
             pq.ParquetFile(f"{self.dir}/{t}.parquet").metadata.num_rows)
            for t in TABLES
        ]

    def text_column(self, spark):
        from map_reduce_multi_threaded_spark.sources.tables import load_table

        return load_table(spark, self.dir, "documents").select("text")

    def sink_probe(self, spark, out: str) -> tuple[float, int] | None:
        return None  # results go to the noop sink


_LINE = re.compile(r"^<(.*), (\d+)> $")


class WordCountRawText:
    """The reference engine's own job over a generated raw-text corpus."""

    name = "wordcount_rawtext"

    PASSES = 8  # the reference's LOOP_OVER_DIRECTORY multiplier
    NUM_FILES = 2  # one output file per reference MPI process

    def __init__(self, files: int, tokens_per_file: int, vocab: int):
        self.files = files
        self.tokens_per_file = tokens_per_file
        self.vocab = vocab
        self.dir = ""
        self.out = ""

    def prepare(self, work: str, repo: str, seed: int) -> dict:
        self.dir = inputs.text_corpus(os.path.join(work, "inputs"), seed, self.files,
                                      self.tokens_per_file, self.vocab)
        self.out = os.path.join(work, "out", self.name)
        return {"text_dir": self.dir, "files": self.files,
                "tokens_per_file": self.tokens_per_file, "vocab": self.vocab,
                "passes": self.PASSES}

    def queries(self, specs: dict) -> list[Query]:
        from map_reduce_multi_threaded_spark.operators.wordcount import word_counts_from_text_dir
        from map_reduce_multi_threaded_spark.sources.sinks import write_reference_format

        return [Query(
            "wordcount_passes8",
            lambda spark: word_counts_from_text_dir(spark, self.dir, passes=self.PASSES,
                                                    sort=False),
            lambda df: write_reference_format(df, self.out, num_files=self.NUM_FILES),
        )]

    def warm_act(self, query: Query, df) -> None:
        query.act(df)

    def check(self, specs: dict, repo: str) -> dict[str, str]:
        """The sink's ``<word, count> `` lines of the last pass against
        the registry's ``wordcount_passes8`` oracle in DuckDB, run over
        the same corpus as a ``documents`` table of one row per line."""
        import duckdb
        import pyarrow as pa

        got: Counter = Counter()
        problems = []
        files = sorted(f for f in os.listdir(self.out) if f.startswith("part-"))
        if not 1 <= len(files) <= self.NUM_FILES:
            problems.append(f"{len(files)} output files, want 1..{self.NUM_FILES}")
        for f in files:
            with open(os.path.join(self.out, f)) as fh:
                lines = fh.read().splitlines()
            words = []
            for line in lines:
                m = _LINE.match(line)
                if not m:
                    problems.append(f"bad line {line!r} in {f}")
                    break
                words.append(m.group(1))
                got[m.group(1)] += int(m.group(2))
            if words != sorted(words):
                problems.append(f"{f} not sorted by word")
        con = duckdb.connect()
        con.register("documents", pa.table({"text": inputs.corpus_lines(self.dir)}))
        want = Counter(dict(con.sql(specs["wordcount_passes8"].oracle).fetchall()))
        con.close()
        if got != want:
            diff = set((got - want) | (want - got))
            problems.append(f"{len(diff)} words differ from the oracle, e.g. {sorted(diff)[:3]}")
        return {"wordcount_passes8": "; ".join(problems)} if problems else {}

    def scan_inputs(self, spark) -> list[tuple[str, Any, int]]:
        from map_reduce_multi_threaded_spark.sources.text import read_text_dir

        return [("text_dir", read_text_dir(spark, self.dir), len(inputs.corpus_lines(self.dir)))]

    def text_column(self, spark):
        from map_reduce_multi_threaded_spark.sources.text import read_text_dir

        return read_text_dir(spark, self.dir).select("value")

    def sink_probe(self, spark, out: str) -> tuple[float, int]:
        """Time of the reference sink alone, on counts materialized
        beforehand, and the bytes it wrote."""
        import time

        from map_reduce_multi_threaded_spark.operators.wordcount import word_counts_from_text_dir
        from map_reduce_multi_threaded_spark.sources.sinks import write_reference_format

        counts = word_counts_from_text_dir(spark, self.dir, passes=self.PASSES,
                                           sort=False).localCheckpoint()
        t0 = time.perf_counter()
        write_reference_format(counts, out, num_files=self.NUM_FILES)
        dt = time.perf_counter() - t0
        size = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
                   if f.startswith("part-"))
        return dt, size


#: JVM-only relational queries: joins, windows and aggregates, no
#: Python eval; the ``sql_*`` builders re-register every table view.
TPCH_QUERIES = (
    "q1_pricing_summary", "join_fact_fact", "window_running", "sql_q3_shipping_priority",
)

#: LLM-data operators: Python/Arrow eval, and driver collects inside
#: plan-build (``kmeans_assign`` fits its centroids eagerly).
LLM_QUERIES = ("text_fingerprint", "kmeans_assign", "embedding_pq")

#: Why each workload exists, and the layers each one stresses and
#: leaves alone: README.md.  Sizes keep a run of either under ~75 s on
#: a 4-core host, set-up and output check included.
WORKLOADS = {
    w.name: w for w in (
        WordCountRawText(files=128, tokens_per_file=10_000, vocab=200_000),
        FixtureMix("tpch_llm_skew", TPCH_QUERIES + LLM_QUERIES, scale=1.0,
                   skew_mode="extreme"),
    )
}
