"""Generalization gate: the oracle contract must hold on data the
queries have NEVER seen.

Every registered query is oracle-verified on the driver fixture
(seed=42), so a query could in principle be overfit to that one draw —
a tie-break that only looks deterministic because the fixture happens
to have no ties, a dedup path vacuously right because there are no
exact duplicates, an anti-join direction never exercised because every
customer has orders.  ``scripts/gen_altfixture.py`` generates a fixture
with the same schemas/domains (FIXTURES.md) but a different seed and
deliberately adversarial in-contract content (ties, skew, duplicate
docs/vectors, no-order customers, duplicate timestamps, bursts).

This test runs a cross-module representative subset through the same
driver-style compare on a freshly generated small alt fixture.  The
FULL 253-query gate is the standalone sweep
(``python scripts/full_sweep.py /tmp/altdata/alt1`` —
docs/altfixture_r9.md records two complete zero-failure runs at seeds
4242 and 777); the subset here keeps suite time bounded while pinning
the mechanism in CI.
"""
from __future__ import annotations

import subprocess
import sys

import pytest

from map_reduce_multi_threaded_spark.registry import collect_specs

from tests.oracle_utils import compare

# one representative per module/shape: scans+agg, SQL, joins (incl. the
# as-of carry), windows, set-family dedup (exact + banded), text stats,
# similarity, pipeline, graph, DQ, events — biased toward queries whose
# semantics the adversarial features target (ties, duplicates, skew)
SUBSET = [
    "wordcount",
    "q1_pricing_summary",
    "agg_cube",
    "join_asof",
    "window_running",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "text_token_count",
    "knn_bruteforce",
    "embedding_neardup",
    "pipeline_hash_split",
    "graph_degrees",
    "dq_profile",
    "events_tumbling",
    "orders_rfm",
    # round-10 catch: zero-variance users only appear on sparse draws
    "grouped_map_zscore",
]


@pytest.fixture(scope="module")
def alt_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "alt")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "98765", "--scale", "0.3"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


def test_subset_exists_in_registry():
    names = {s.name for s in collect_specs()}
    missing = [
        n
        for subset in (SUBSET, UNICODE_SUBSET, DEGENERATE_SUBSET,
                       DUP_EXTREME_SUBSET, TIE_TOTAL_SUBSET,
                       TIME_FROZEN_SUBSET, SINGLE_ROW_SUBSET,
                       MEGADOC_SUBSET)
        for n in subset
        if n not in names
    ]
    assert not missing, missing


@pytest.mark.parametrize("name", SUBSET)
def test_alt_fixture_oracle(spark, alt_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_dir), spec.oracle, alt_dir)


# ---------------------------------------------------------------------------
# round-11 axes: adversarial Unicode text / empty tables / all-NULL columns
# (docs/altfixture_r11.md — each subset pins a bug class fixed this round)
# ---------------------------------------------------------------------------

#: queries whose round-11 Unicode failures covered distinct root causes:
#: ASCII-only casefold portability (wordcount, dedup_exact, agg_countmin),
#: empty-document division guards (text_quality*), byte-true multimodal
#: oracles incl. the empty-raster guard (binary_stats, frame_sample,
#: image_hist_eq), and re.ASCII Python tokenization (udf_arrow_scalar).
UNICODE_SUBSET = [
    "wordcount",
    "dedup_exact",
    "agg_countmin",
    "text_quality",
    "text_quality_quantile_filter",
    "multimodal_binary_stats",
    "multimodal_frame_sample",
    "multimodal_image_hist_eq",
    "udf_arrow_scalar",
]

#: empty lineitem+events and all-NULL c_acctbal/source: Spark rollup/cube
#: empty-input semantics, empty-write explicit read schemas (partition
#: prune staging), sentinel-only multibatch staging, NULL-as-a-group and
#: concat_ws NULL-skipping.
DEGENERATE_SUBSET = [
    "agg_rollup",
    "agg_cube",
    "source_partition_prune",
    "dedup_boilerplate",
    "pipeline_preference_pairs",
]


@pytest.fixture(scope="module")
def alt_unicode_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "unicode")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "13579", "--scale", "0.3", "--text-mode", "adversarial"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.fixture(scope="module")
def alt_degenerate_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "degen")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "24680", "--scale", "0.3",
         "--empty-tables", "lineitem,events",
         "--null-columns", "customer.c_acctbal,documents.source"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.fixture(scope="module")
def alt_nullvalue_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "nullval")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "11223", "--scale", "0.3",
         "--null-columns", "events.value"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.mark.parametrize("name", UNICODE_SUBSET)
def test_unicode_fixture_oracle(spark, alt_unicode_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_unicode_dir), spec.oracle, alt_unicode_dir)


@pytest.mark.parametrize("name", DEGENERATE_SUBSET)
def test_degenerate_fixture_oracle(spark, alt_degenerate_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_degenerate_dir), spec.oracle, alt_degenerate_dir)


# ---------------------------------------------------------------------------
# round-11 second-wave axes: extreme duplication / total ties
# ---------------------------------------------------------------------------

#: axis E — the whole corpus is 8 distinct texts / 8 distinct vectors:
#: giant ~n/8-member dup clusters (alternating-star CC at high
#: multiplicity), every LSH band bucket saturated, keep/drop picking ONE
#: representative per ~100-member family, kNN distances massively tied.
DUP_EXTREME_SUBSET = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_cluster_keep",
    "dedup_recall_eval",
    "knn_bruteforce",
    "embedding_neardup_lsh",
]

#: axis F — every value-bearing column one constant: zero variance in
#: EVERY group at once (the class that caught agg_corr_exact's unguarded
#: 0/0 — Spark ANSI hard-errors, DuckDB NULLs double ÷0) and maximum tie
#: density for every ordering/top-k/rank tiebreak.
TIE_TOTAL_SUBSET = [
    "agg_corr_exact",
    "agg_linreg_exact",
    "agg_stats",
    "grouped_map_zscore",
    "events_anomaly_zscore",
    "window_running",
    "orders_rfm",
]


#: axis G — frozen time: every event at ONE microsecond, every order on
#: ONE date, all shipments same-day.  One tumbling/session window holds
#: the whole table, as-of-nearest is fully tied, session gaps are zero,
#: seasonal lag joins are empty, resample reduces to a single instant.
TIME_FROZEN_SUBSET = [
    "events_tumbling",
    "events_session",
    "events_session_dynamic_gap",
    "join_asof_nearest",
    "events_concurrency",
    "events_resample_interpolate",
    "orders_seasonal_naive",
    "orders_cohort_ltv",
    # the frozen-time 12x catch: the shared session oracle's running-sum
    # window needed the event_id tiebreak (a ts-only ROWS frame splits a
    # session at DuckDB's arbitrary tie order); stream_session shares
    # windows.SESSION_ORACLE with events_session and the streaming drain path
    "stream_session",
]


@pytest.fixture(scope="module")
def alt_frozen_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "frozen")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "77665", "--scale", "0.3", "--time-mode", "frozen"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.mark.parametrize("name", TIME_FROZEN_SUBSET)
def test_time_frozen_fixture_oracle(spark, alt_frozen_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_frozen_dir), spec.oracle, alt_frozen_dir)


@pytest.fixture(scope="module")
def alt_dup_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "dupx")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "55443", "--scale", "0.3", "--dup-mode", "extreme"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.fixture(scope="module")
def alt_ties_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "ties")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "66778", "--scale", "0.3", "--tie-mode", "total"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.mark.parametrize("name", DUP_EXTREME_SUBSET)
def test_dup_extreme_fixture_oracle(spark, alt_dup_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_dup_dir), spec.oracle, alt_dup_dir)


@pytest.mark.parametrize("name", TIE_TOTAL_SUBSET)
def test_tie_total_fixture_oracle(spark, alt_ties_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_ties_dir), spec.oracle, alt_ties_dir)


#: round-12 axis — every table exactly ONE row (the degenerate
#: cardinality between empty and normal).  Caught three real bugs on
#: first sweep: tfidf's 0/0 on zero-norm vectors (1 doc → every idf is
#: ln(1) = 0; Spark ANSI hard-errors, DuckDB NULLs), the contrastive
#: derangement's `% (n-1)` 0-modulus at n = 1 (negatives must be
#: EMPTY — no derangement of a 1-set exists), and MMR's greedy pass
#: dropping a lone candidate because the a != b pair frame is empty.
SINGLE_ROW_SUBSET = [
    "tfidf_cosine_rank",
    "pipeline_contrastive_pairs",
    "rerank_mmr",
    # degenerate-cardinality class representatives: n-1 == 0 variance
    # denominators, LIMIT k > n, k-NN with k > corpus, 1-row windows,
    # 1-row self-joins/dedup
    "agg_stats",
    "wordcount_topk",
    "knn_bruteforce",
    "window_running",
    "dedup_exact",
    # a corpus with no k-means seed vector (no vec_id >= 10): no
    # centroid, empty assignment
    "kmeans_assign",
    "dedup_semantic",
]


@pytest.fixture(scope="module")
def alt_single_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "single")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "1212", "--rows-mode", "single"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.mark.parametrize("name", SINGLE_ROW_SUBSET)
def test_single_row_fixture_oracle(spark, alt_single_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_single_dir), spec.oracle, alt_single_dir)


# ---------------------------------------------------------------------------
# round-15 axis: mega-doc (per-document fan-out skew)
# ---------------------------------------------------------------------------

#: axis M — one mega-document plus its 1-token near-duplicate in an
#: otherwise 10-100-token corpus (docs/stress100_r15.md §3): per-doc
#: shingle fan-out ~200× the median, the PPJoin length filter must
#: prune the outlier against the small corpus, near-dup verification
#: ships two mega-shingle arrays to exactly one candidate pair, and the
#: keep rule must pick the mega-doc as its family representative.
#: The CI fixture uses a 10k-token mega: the naive DuckDB truth
#: spellings are SUPER-LINEAR in the outlier's length (measured: all
#: five heavy oracles ≤3 s at 5k tokens, 5-11 s at 10k, >120 s at
#: 100k — the engine side stays ≤7 s even at 100k/scale-10,
#: docs/skew_audit_r15_megadoc.json, so the 100k regime is
#: engine-audited there and oracle-gated here at 10k).
MEGADOC_SUBSET = [
    "dedup_prefix_filter",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_cluster_keep",
    "text_duplicate_spans",
    "text_token_count",
]


@pytest.fixture(scope="module")
def alt_megadoc_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("altfixture") / "megadoc")
    subprocess.run(
        [sys.executable, "scripts/gen_altfixture.py", "--out", out,
         "--seed", "1551", "--scale", "0.3", "--doc-mode", "megadoc",
         "--mega-tokens", "10000"],
        check=True, cwd="/root/repo", capture_output=True,
    )
    return out


@pytest.mark.parametrize("name", MEGADOC_SUBSET)
def test_megadoc_fixture_oracle(spark, alt_megadoc_dir, name):
    spec = {s.name: s for s in collect_specs()}[name]
    compare(spec.fn(spark, alt_megadoc_dir), spec.oracle, alt_megadoc_dir)


def test_ewma_all_null_values(spark, alt_nullvalue_dir):
    """EWMA of no observations is NULL on both engines (den > 0 guard,
    round-11 all-NULL audit) — unguarded this was an ANSI
    DIVIDE_BY_ZERO on Spark and a silent NULL on DuckDB."""
    spec = {s.name: s for s in collect_specs()}["events_ewma"]
    compare(spec.fn(spark, alt_nullvalue_dir), spec.oracle, alt_nullvalue_dir)
