"""Query registry: the single source of truth wiring operators to the
driver contract in ``__spark_entry__.py``.

Each operator module contributes :class:`QuerySpec` entries; the
``queries()`` / ``oracle_sql()`` functions the driver calls are just
aggregations over this registry, so adding an operator is one list
append away from being correctness-gated against the DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One correctness-gated query.

    ``oracle`` is the ANSI-SQL equivalent DuckDB runs over the same
    parquet tables (views: region nation customer supplier part orders
    lineitem events documents embeddings).  ``None`` marks an operator
    whose semantics are not SQL-expressible (the driver then records a
    weaker rows-only check).  Column names/aliases MUST match between
    the Spark result and the oracle — the driver sorts columns by name
    before value-hashing.
    """

    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""

    @property
    def streaming(self) -> bool:
        """A query named ``stream_*`` drains a stream: its fn ends in a
        streaming sink, and ``windows.capture_template`` builds its plan
        drain-free (it raises for a streaming fn that reaches no sink)."""
        return self.name.startswith("stream_")


def collect_specs() -> list[QuerySpec]:
    """Import every operator module and concatenate its SPECS, in sweep
    order.

    The round driver re-verifies about the first ``_SWEEP_WINDOW``
    specs each round, so the order decides what gets verified.  It
    follows four rules, read from the committed ``CORRECTNESS_r*.json``
    history and ``_REVERIFY_FIRST``:

    1. never checked -- no record yet, or the newest green was the
       rows-only check and the spec now has an oracle;
    2. the newest record failed;
    3. flagged -- a live ``_REVERIFY_FIRST`` entry;
    4. green, oldest newest-green round first.

    Ties keep registry order.
    """
    from .operators import (
        dedup,
        graph,
        multimodal,
        pipeline,
        relational,
        similarity,
        textstats,
        udf_suite,
        wordcount,
    )
    from .sources import pygen
    from .streaming import queries as streaming_queries

    specs: list[QuerySpec] = []
    for mod in (wordcount, similarity, textstats, multimodal, udf_suite, pipeline, graph, streaming_queries, relational, dedup, pygen):
        specs.extend(mod.SPECS)
    names = [s.name for s in specs]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"duplicate query names in registry: {dupes}")
    return _sweep_order(specs)


#: How many specs the round driver sweeps per round (observed ~50 in
#: every CORRECTNESS_r*.json).
_SWEEP_WINDOW = 50

#: Explicit reverify-first flags: ``{query_name: rewrite_round}``, set
#: by hand when a query's algorithm is rewritten in ``rewrite_round``,
#: so its newest green record describes retired code.  A flag is live
#: while the query's newest green round is <= its rewrite round; live
#: flags sweep right after the never-checked and failed queries.  The
#: first newer green expires the flag, so a stale entry is inert; prune
#: expired entries in the next round's first commit.  The ``<=`` is
#: conservative: a green recorded in the rewrite round itself may
#: predate the rewrite, so it does not expire the flag -- prune such an
#: entry by hand once the commit order shows the green came after.
#: The window is full: 50 flags are live and ``_SWEEP_WINDOW`` is 50,
#: so a 51st flag would push a flagged query out of the sweep.  The
#: one streaming drain (``windows.drain``) added no flag: every
#: streaming plan it runs is unchanged except ``stream_cdc_upsert``'s
#: micro-batch partition count (its foreachBatch drain now pins
#: STREAM_STATE_PARTITIONS too), and that query is flagged already.
_REVERIFY_FIRST: dict[str, int] = {
    # round-16 rewrites (VERDICT r16 #2): no driver green since them
    "events_resample_ffill": 16,
    "events_resample_interpolate": 16,
    "text_fingerprint": 16,
    "text_duplicate_spans": 16,
    "text_decontaminate": 16,
    "text_ngram_counts": 16,
    "text_ngram_novelty": 16,
    "text_repetition": 16,
    "text_vocab_coverage": 16,
    "text_lm_perplexity": 16,
    "dedup_prefix_filter": 16,
    "sql_collated_wordcount": 16,
    "agg_countmin": 16,
    "udtf_top_terms_poly": 16,
    # per-key skew gate retired: the single-sort carry is the only spelling
    "join_asof_nearest": 16,
    # one stream-stream join spelling: the (user, time-bucket) equi-join
    "stream_stream_join": 16,
    # one Arrow-scorer pattern: every similarity query now runs the
    # shared fold kernel, batch reader, query scaffold or cosine Column
    "embedding_neardup": 16,
    "embedding_neardup_lsh": 16,
    "knn_lsh": 16,
    "knn_ivf": 16,
    # one keyed (k, i) centroid merge per Lloyd iteration and one seed
    # reader (kmeans, PQ); the top-k posexplode runs each kNN scorer once
    "kmeans_assign": 16,
    "dedup_semantic": 16,
    "embedding_pq": 16,
    "knn_bruteforce": 16,
    "knn_scalar_quant": 16,
    "knn_recall_eval": 16,
    # one near-dup candidate → verify pipeline: these run the shared
    # array-intersect Jaccard verify (dedup_prefix_filter is flagged above)
    "dedup_minhash_lsh": 16,
    "dedup_recall_eval": 16,
    "dedup_incremental_lsh": 16,
    "dedup_clusters": 16,
    "dedup_cluster_keep": 16,
    "graph_triangle_count": 16,
    "dedup_banding_sweep": 16,
    # one staging contract (tables.staged): these re-read a staged copy
    # written through it.  source_partition_prune waits a round: the
    # sweep window holds 50 live flags, and join_dpp_partition_pruned
    # reads the same staged copy.
    "source_formats_roundtrip": 16,
    "join_dpp_partition_pruned": 16,
    "join_bucketed_colocated": 16,
    "source_schema_evolution": 16,
    "sort_zorder_layout": 16,
    "source_csv_malformed_modes": 16,
    "table_compaction_small_files": 16,
    "stream_custom_sessions": 16,
    "stream_tumbling_multibatch": 16,
    "stream_update_counts": 16,
    "stream_windowed_rollup": 16,
    "stream_window_winner": 16,
    "stream_join_left_outer": 16,
    "stream_join_full_outer": 16,
    "stream_cdc_upsert": 16,
    "stream_late_data_policy": 16,
    "stream_wordcount": 16,
}


def _sweep_order(specs: list[QuerySpec], history_dir: str | None = None) -> list[QuerySpec]:
    """``specs`` in the sweep order of :func:`collect_specs`, from the
    history in ``history_dir`` (default: the repository root)."""
    rank = _sweep_rank(history_dir)

    def key(spec: QuerySpec) -> tuple[int, bool, int]:
        group, green_round = rank(spec)
        flagged = group == 2 and green_round <= _REVERIFY_FIRST.get(spec.name, -1)
        return (group, not flagged, green_round)

    return sorted(specs, key=key)  # stable: ties keep registry order


def _sweep_rank(history_dir: str | None = None) -> Callable[[QuerySpec], tuple[int, int]]:
    """Build the ``(group, newest_green_round)`` key of a spec from the
    ``CORRECTNESS_r*.json`` files in ``history_dir`` (default: the
    repository root).  Group 0 = never checked, 1 = newest record
    failed, 2 = green; the round is 0 when there is no green."""
    history_dir = history_dir or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = []
    for path in glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    newest_ok: dict[str, bool] = {}
    # newest green per query: (round, whether it was the rows-only check)
    newest_green: dict[str, tuple[int, bool]] = {}
    for rnd, path in sorted(rounds):
        try:
            with open(path) as f:
                records = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(records, dict):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            rows_only = rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None
            ok = bool(rec.get("hash_match")) or rows_only
            newest_ok[name] = ok
            if ok:
                newest_green[name] = (rnd, rows_only)

    def rank(spec: QuerySpec) -> tuple[int, int]:
        if spec.name not in newest_ok:
            return (0, 0)
        green_round, rows_only = newest_green.get(spec.name, (0, False))
        if not newest_ok[spec.name]:
            return (1, green_round)
        if rows_only and spec.oracle is not None:
            # never hash-verified under the current contract
            return (0, green_round)
        return (2, green_round)

    return rank
