"""Raw-text directory source — the reference's S1+S4 stages.

Reference behavior (``map_reduce.cpp``):

* rank 0 lists ``./RawText/`` via ``opendir``/``readdir`` skipping
  ``.``/``..`` (``:477-495``);
* reader threads pull one filename at a time from the master
  (``:520-529``) and tokenize with ``ifstream >> word`` — i.e. split on
  any whitespace run (``:152-159``).

Spark replaces the hand-rolled listing + pull scheduler with
``spark.read.text`` (driver-side ``InMemoryFileIndex`` listing, file
splits scheduled as tasks with locality & speculation).  At 100 TB this
is exactly what you want: listing is parallelized, splits are sized by
``spark.sql.files.maxPartitionBytes``, and no single node holds the
corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.text import tokens


def read_text_dir(spark: SparkSession, path: str, wholetext: bool = False) -> DataFrame:
    """Scan a directory of raw text files → one ``value: string`` row
    per line (or per file with ``wholetext``), plus the source file name
    — the reference tracked provenance implicitly via its per-file work
    units (``map_reduce.cpp:517-529``).

    Compressed inputs (``.gz``/``.bz2``/...) decode transparently via
    Hadoop's codec factory (extension-dispatched) — tested.  Scale
    note: gzip is NOT splittable, so one ``.gz`` file = one task no
    matter its size; at 100 TB keep compressed text in many ≤~256 MB
    files (or use a splittable codec / recompress to parquet) or the
    scan serializes on the largest member."""
    reader = spark.read.option("wholetext", str(wholetext).lower())
    return reader.text(path).withColumn("file", F.input_file_name())


#: the reference's ``ifstream >> word`` split (``map_reduce.cpp:159``),
#: re-exported under its source-side name
tokens_from_text = tokens
