"""Dedup suite: oracle parity + algorithmic cross-checks."""

from __future__ import annotations

import pytest

from map_reduce_multi_threaded_spark.operators import dedup
from tests.oracle_utils import compare

ORACLE_SPECS = [s for s in dedup.SPECS if s.oracle is not None]


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[s.name for s in ORACLE_SPECS])
def test_oracle_parity(spark, sf_oracle_dir, spec):
    compare(spec.fn(spark, sf_oracle_dir), spec.oracle, sf_oracle_dir)


def test_exact_dedup_finds_planted_batch(spark, sf_oracle_dir):
    rows = dedup.dedup_exact(spark, sf_oracle_dir).collect()
    # every doc appears exactly twice (original + simulated re-crawl)
    assert all(r["n_copies"] == 2 for r in rows)
    assert all(r["keeper_id"] < 1000000 for r in rows)


def test_minhash_recall_vs_exact(spark, sf_oracle_dir):
    """LSH candidates must recover every exact-Jaccard pair at τ=0.5
    (P(miss) ≈ 1e-15 at the planted pairs' J≈0.97)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_oracle_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh(spark, sf_oracle_dir).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    assert lsh == exact


def test_clusters_are_fixpoint_and_match_pairs(spark, sf_oracle_dir):
    """Every near-dup pair must land in the same cluster, and every
    cluster label must be the minimum member id (fixpoint reached)."""
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(spark, sf_oracle_dir).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_oracle_dir).collect()
    ]
    assert pairs
    for a, b in pairs:
        assert labels[a] == labels[b], f"pair ({a},{b}) split across clusters"
    # label is min of its component members
    members: dict = {}
    for doc, c in labels.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs)


def test_simhash_pairs_overlap_jaccard_pairs(spark, sf_oracle_dir):
    """SimHash Hamming≤3 pairs should be near-dups by Jaccard too
    (different sketch, same planted duplicates)."""
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_oracle_dir).collect()
    }
    sim = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_simhash_pairs(spark, sf_oracle_dir).collect()
    }
    assert sim, "simhash should find the planted near-dups"
    # allow sketch disagreement at the margin, but require real overlap
    assert len(sim & jac) >= len(sim) * 0.5


def test_large_small_star_chain_graph(spark):
    """Adversarial shape for label propagation: one long chain (diameter
    9).  Large-star/small-star must collapse it to a star on the min
    node within O(log^2 n) double-rounds, independent of diameter."""
    import pyspark.sql.functions as F

    from map_reduce_multi_threaded_spark.operators.dedup import _large_star, _small_star

    chain = [(i, i + 1) for i in range(10, 19)]  # component {10..19}
    extra = [(30, 31)]  # second component
    edges = spark.createDataFrame(chain + extra, ["u", "v"])
    for rounds in range(1, 8):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        rows = {(r["u"], r["v"]) for r in edges.collect()}
        if rows == {(i, 10) for i in range(11, 20)} | {(31, 30)}:
            break
    assert rows == {(i, 10) for i in range(11, 20)} | {(31, 30)}, rows
    assert rounds <= 4, f"took {rounds} double-rounds for a 10-chain"


def test_large_small_star_random_graphs_vs_union_find(spark):
    """Property test: large-star/small-star labels equal a Python
    union-find reference on random graphs (seeded, incl. self-loops,
    parallel edges, chains, and isolated-free dense blobs)."""
    import random

    import pyspark.sql.functions as F

    from map_reduce_multi_threaded_spark.operators.dedup import _large_star, _small_star

    def union_find_labels(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # fully compress, then label every node with its component min
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        labels = {}
        for members in comp.values():
            m = min(members)
            for n in members:
                labels[n] = m
        return labels

    rng = random.Random(42)
    for trial in range(4):
        n_nodes = rng.randint(5, 40)
        n_edges = rng.randint(1, 60)
        edges = [
            (rng.randint(0, n_nodes - 1), rng.randint(0, n_nodes - 1))
            for _ in range(n_edges)
        ]
        nodes = sorted({x for e in edges for x in e})
        e = spark.createDataFrame(
            [(u, v) for u, v in edges if u != v] or [(0, 0)], ["u", "v"]
        ).where(F.col("u") != F.col("v"))
        if e.count() == 0:
            continue
        prev = None
        for _ in range(12):
            e = _small_star(_large_star(e)).localCheckpoint(eager=True)
            sig = tuple(e.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))).first())
            if sig == prev:
                break
            prev = sig
        got = {r["u"]: r["v"] for r in e.collect()}
        expected = union_find_labels([e2 for e2 in edges if e2[0] != e2[1]], nodes)
        for n in nodes:
            assert got.get(n, n) == expected[n], (trial, n, got.get(n, n), expected[n])


def test_cluster_keep_exactly_one_per_cluster(spark, sf_oracle_dir):
    """Every cluster keeps exactly one doc; kept docs have the max
    n_chars in their cluster (smallest doc_id on ties)."""
    from map_reduce_multi_threaded_spark.operators import dedup as D
    from map_reduce_multi_threaded_spark.sources.tables import load_table

    rows = D.dedup_cluster_keep(spark, sf_oracle_dir).collect()
    n_chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_oracle_dir, "documents").select("doc_id", "n_chars").collect()
    }
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [r for r in members if r["keep"]]
        assert len(kept) == 1, (cid, members)
        best = max((n_chars[r["doc_id"]], -r["doc_id"]) for r in members)
        assert (n_chars[kept[0]["doc_id"]], -kept[0]["doc_id"]) == best


def test_lsh_recall_is_total_at_fixture_similarity(spark, sf_oracle_dir):
    """The fixture's true near-dup pairs sit at very high Jaccard
    (duplicated crawl batches), where the 12x4 banding's miss
    probability is ~5e-12 — so MinHash+LSH must recover EVERY exact
    pair, making the eval's recall exactly 1.0 (precision is 1.0 by
    construction).  A recall below 1.0 here means the banding or the
    signature pipeline broke, not bad luck."""
    from map_reduce_multi_threaded_spark.operators import dedup as D

    [row] = D.dedup_recall_eval(spark, sf_oracle_dir).collect()
    assert row["n_true_pairs"] > 0
    assert row["n_found"] == row["n_true_pairs"]
    assert row["recall"] == 1.0


def test_dedup_incremental_drops_all_rescrawls_keeps_all_edits(spark, sf_oracle_dir):
    """Every verbatim re-crawl must be dropped (its hash exists in the
    corpus) and every edited doc must survive — the batch partitions
    cleanly into the two synthesized id namespaces, so membership is
    checkable from the ids alone."""
    from map_reduce_multi_threaded_spark.operators import dedup as D
    from tests.oracle_utils import duck_con

    rows = D.dedup_incremental(spark, sf_oracle_dir).collect()
    con = duck_con(sf_oracle_dir)
    (idbase,) = con.sql(
        "SELECT CAST(power(10, ceil(log10(max(doc_id) + 1))) AS BIGINT) FROM documents"
    ).fetchone()
    (n_edited,) = con.sql(
        "SELECT count(*) FROM documents WHERE doc_id % 5 = 0"
    ).fetchone()
    # all survivors come from the edited namespace, none from re-crawls
    assert all(r["doc_id"] >= 2 * idbase for r in rows)
    assert len(rows) == n_edited


def test_dedup_incremental_anti_join_is_hash_class(spark, sf_dir):
    """The batch-vs-corpus anti-join must be a hash-class equi-join on
    the content hash (broadcast at toy scale via AQE, shuffled hash at
    corpus scale — the code hints NEITHER, per the no-corpus-broadcast
    policy); a nested-loop anti would be O(batch x corpus).  The only
    nested loops allowed are the 1-row scalar idbase crosses."""
    from map_reduce_multi_threaded_spark.operators import dedup as D

    plan = (
        D.dedup_incremental(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "LeftAnti" in line:
            # broadcast-hash, shuffled-hash AND sort-merge are all
            # legal equi-join strategies here; only a nested loop
            # (O(batch x corpus)) is a defect
            assert "NestedLoop" not in line, line
    assert "LeftAnti" in plan, plan


def test_bloom_ingest_no_false_negatives_and_screens(spark, sf_oracle_dir):
    """Bloom law: a membership sketch may false-positive but NEVER
    false-negative — every true duplicate must be flagged.  Also pins
    the fixture semantics (every %3 re-crawl is a dup, every %5 edit
    is novel) and that the screen passes only a small FP tail."""
    rows = dedup.dedup_bloom_ingest(spark, sf_oracle_dir).collect()
    assert rows
    for r in rows:
        if r["is_dup"]:
            assert r["bloom_flagged"], f"false negative at doc {r['doc_id']}"
        assert r["false_positive"] == (r["bloom_flagged"] and not r["is_dup"])
    n_dup = sum(r["is_dup"] for r in rows)
    n_fp = sum(r["false_positive"] for r in rows)
    n_novel = len(rows) - n_dup
    assert n_dup > 0 and n_novel > 0
    # m = 16n, k = 3 → expected FP ≈ 0.6 %; allow 10× headroom
    assert n_fp <= max(2, n_novel // 16)


def test_boilerplate_strips_exactly_the_chrome(spark, sf_oracle_dir):
    """Both synthetic chrome lines (global site header + per-source
    section header) must be dropped from every document and nothing
    else: the cleaned reassembly hashes back to the ORIGINAL text."""
    import pyspark.sql.functions as F

    from map_reduce_multi_threaded_spark.sources.tables import load_table

    out = {r["doc_id"]: r for r in dedup.dedup_boilerplate(spark, sf_oracle_dir).collect()}
    orig = load_table(spark, sf_oracle_dir, "documents").select(
        "doc_id", F.sha2("text", 256).alias("h")
    ).collect()
    assert len(out) == len(orig)
    for r in orig:
        got = out[r["doc_id"]]
        assert got["n_lines"] - got["n_kept"] == 2
        assert got["kept_hash"] == r["h"]


def test_prefix_filter_prunes_but_never_misses(spark, sf_oracle_dir):
    """The prefix filter's two load-bearing properties: its candidate
    set is a strict SUBSET of the full self-join's (it prunes), yet
    the verified output equals the all-pairs truth exactly (it never
    misses a τ-pair)."""
    import pyspark.sql.functions as F

    sh = dedup.shingles(spark, sf_oracle_dir).localCheckpoint(eager=True)
    pref = {
        (r["doc_a"], r["doc_b"])
        for r in dedup._prefix_candidates(sh).collect()
    }
    a, b = sh.alias("a"), sh.alias("b")
    full = {
        (r[0], r[1])
        for r in a.join(
            b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).select("a.doc_id", "b.doc_id").distinct().collect()
    }
    assert pref < full and len(pref) * 2 < len(full), (len(pref), len(full))
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dedup.dedup_prefix_filter(spark, sf_oracle_dir).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dedup.dedup_ngram_jaccard(spark, sf_oracle_dir).collect()
    }
    assert got == want and want


def test_prefix_filter_law_on_random_sets():
    """The prefix-length formula itself, property-tested without
    Spark: for ANY two token sets with Jaccard >= tau under ANY
    global order, the first |d| - ceil(tau*|d|) + 1 tokens of each
    (in that order) must intersect — the no-false-negative law
    dedup_prefix_filter's candidate generation rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tau_num, tau_den = 1, 2  # τ = 0.5, matching JACCARD_THRESHOLD

    @settings(max_examples=300, deadline=None)
    @given(
        x=st.sets(st.integers(0, 30), min_size=1, max_size=12),
        y=st.sets(st.integers(0, 30), min_size=1, max_size=12),
        seed=st.integers(0, 10),
    )
    def check(x, y, seed):
        inter = len(x & y)
        union = len(x | y)
        if inter * tau_den < union * tau_num:
            return  # below threshold: no guarantee claimed
        # arbitrary deterministic global order (varies with seed)
        import hashlib

        key = lambda t: hashlib.md5(f"{seed}:{t}".encode()).hexdigest()  # noqa: E731
        p = lambda d: len(d) - -(-len(d) * tau_num // tau_den) + 1  # noqa: E731
        px = set(sorted(x, key=key)[: p(x)])
        py = set(sorted(y, key=key)[: p(y)])
        assert px & py, (sorted(x), sorted(y), seed)

    check()


def test_positional_filter_law_on_random_sets():
    """The PPJoin prunes `_prefix_candidates` adds on top of the
    prefix law, property-tested without Spark: for ANY two sets with
    Jaccard >= tau under ANY global order, (a) the length filter
    max(n) <= 2*min(n) holds, and (b) the positional bound computed
    exactly the way the implementation computes it —
    c_pref + min(nx - i_last, ny - j_last) with (i_last, j_last) the
    1-based positions of the LAST prefix-prefix-matched token — is at
    least the required overlap ceil((nx+ny)/3).  A violation here
    would mean the .where() prunes a true pair (a false negative the
    fixture oracle might not happen to cover)."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    tau_num, tau_den = 1, 2  # τ = 0.5, matching JACCARD_THRESHOLD

    @settings(max_examples=300, deadline=None)
    @given(
        x=st.sets(st.integers(0, 30), min_size=1, max_size=12),
        y=st.sets(st.integers(0, 30), min_size=1, max_size=12),
        seed=st.integers(0, 10),
    )
    def check(x, y, seed):
        inter = len(x & y)
        union = len(x | y)
        if inter * tau_den < union * tau_num:
            return  # below threshold: no guarantee claimed
        nx, ny = len(x), len(y)
        # (a) length filter is implied by J >= 1/2
        assert max(nx, ny) <= 2 * min(nx, ny), (nx, ny)
        key = lambda t: hashlib.md5(f"{seed}:{t}".encode()).hexdigest()  # noqa: E731
        p = lambda d: len(d) - -(-len(d) * tau_num // tau_den) + 1  # noqa: E731
        sx, sy = sorted(x, key=key), sorted(y, key=key)
        pos_x = {t: i + 1 for i, t in enumerate(sx)}  # 1-based ranks
        pos_y = {t: i + 1 for i, t in enumerate(sy)}
        matches = [
            t for t in x & y if pos_x[t] <= p(x) and pos_y[t] <= p(y)
        ]
        assert matches  # the prefix law, re-asserted
        c_pref = len(matches)
        i_last = max(pos_x[t] for t in matches)
        j_last = max(pos_y[t] for t in matches)
        minov = -(-(nx + ny) // 3)  # ceil((nx+ny)/3) for τ = 1/2
        bound = c_pref + min(nx - i_last, ny - j_last)
        assert bound >= minov, (sorted(x), sorted(y), seed, bound, minov)
        # the bound must also actually bound the overlap (soundness of
        # the inequality the pruning relies on)
        assert inter <= bound, (sorted(x), sorted(y), seed, inter, bound)

    check()


def test_banding_sweep_candidate_monotonicity(spark, sf_oracle_dir):
    """The banding trade-off must actually show in the sweep: fewer
    rows per band (more, smaller bands) can only ADD bucket
    collisions, so candidates must be monotone non-decreasing from
    8x6 -> 12x4 -> 24x2, recall non-decreasing likewise, and every
    config's candidate set must at least cover its own truth hits."""
    from map_reduce_multi_threaded_spark.operators.dedup import dedup_banding_sweep

    rows = {
        r["rows_per_band"]: r
        for r in dedup_banding_sweep(spark, sf_oracle_dir).collect()
    }
    assert set(rows) == {6, 4, 2}
    assert rows[6]["n_candidates"] <= rows[4]["n_candidates"] <= rows[2]["n_candidates"]
    assert (rows[6]["recall"] or 0) <= (rows[4]["recall"] or 0) <= (rows[2]["recall"] or 0)
    for r in rows.values():
        assert r["n_hit"] <= r["n_candidates"]
        assert r["n_hit"] <= r["n_truth"]


def test_banding_sweep_truth_sample_path(spark, sf_oracle_dir):
    """The 100 TB escape hatch must be exact-by-construction, not a
    different estimator: sampled truth is EXACTLY the full truth set
    restricted to pairs whose BOTH endpoints pass the md5 bucket
    predicate (a pair's Jaccard depends only on its two docs), the
    candidate/cost side stays full-corpus, recall is internally
    consistent, and the md5 sampling is deterministic across runs."""
    import pytest as _pytest

    from map_reduce_multi_threaded_spark.functions.text import py_md5_bucket
    from map_reduce_multi_threaded_spark.operators.dedup import (
        _TRUTH_SAMPLE_BUCKETS,
        dedup_banding_sweep,
        dedup_ngram_jaccard,
    )

    frac = 0.5
    keep = int(round(frac * _TRUTH_SAMPLE_BUCKETS))
    full = {
        r["rows_per_band"]: r
        for r in dedup_banding_sweep(spark, sf_oracle_dir).collect()
    }
    samp = {
        r["rows_per_band"]: r
        for r in dedup_banding_sweep(spark, sf_oracle_dir, truth_sample=frac).collect()
    }
    samp2 = {
        r["rows_per_band"]: r
        for r in dedup_banding_sweep(spark, sf_oracle_dir, truth_sample=frac).collect()
    }
    assert samp == samp2  # md5 sampling: same corpus -> same rows

    full_truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_oracle_dir).collect()
    }

    def sampled(doc_id):
        return py_md5_bucket(str(doc_id), _TRUTH_SAMPLE_BUCKETS, salt="banding_truth") < keep

    expected_truth = sum(1 for a, b in full_truth if sampled(a) and sampled(b))
    # non-vacuous on the fixture: the sample must drop some truth pairs
    # yet keep some (deterministic md5, so this is a fixture fact, not
    # a flaky coin flip)
    assert 0 < expected_truth < len(full_truth)
    for rpb, r in samp.items():
        assert r["n_truth"] == expected_truth
        assert r["n_candidates"] == full[rpb]["n_candidates"]
        assert r["n_hit"] <= r["n_truth"]
        if r["n_truth"]:
            assert r["recall"] == _pytest.approx(r["n_hit"] / r["n_truth"])

    for bad in (0.0, -0.1, 1.5):
        with _pytest.raises(ValueError):
            dedup_banding_sweep(spark, sf_oracle_dir, truth_sample=bad)


def test_incremental_lsh_verdicts_per_cohort(spark, sf_oracle_dir):
    """The three ingest cohorts must land exactly where the screen's
    story says: verbatim re-crawls flagged at Jaccard 1.0, edited
    re-crawls ALSO flagged (the pairs the exact-hash guard admits —
    the whole reason to run both screens) but strictly below 1.0, and
    the token-mangled novel cohort admitted with ZERO candidates."""
    from map_reduce_multi_threaded_spark.operators.dedup import (
        dedup_incremental_lsh,
    )
    from map_reduce_multi_threaded_spark.sources.tables import (
        load_table,
        power10_base,
    )

    d = load_table(spark, sf_oracle_dir, "documents")
    idbase = power10_base(d, "doc_id").first()["idbase"]
    rows = dedup_incremental_lsh(spark, sf_oracle_dir).collect()
    assert rows
    for r in rows:
        cohort = r["batch_doc"] // idbase
        if cohort == 1:  # verbatim re-crawl
            assert r["is_near_dup"] and r["best_jaccard"] == 1.0, r
        elif cohort == 2:  # edited re-crawl
            assert r["is_near_dup"] and r["best_jaccard"] < 1.0, r
        else:  # token-mangled novel
            assert cohort == 3 and not r["is_near_dup"], r
            assert r["n_candidates"] == 0, r


def test_incremental_lsh_band_collision_without_shared_shingle(
    spark, sf_oracle_dir, tmp_path
):
    """A band collision is not a shared shingle.  Corpus doc 7 is
    't186650 q r', so the screen's novel cohort holds 't186650~ q~ r~'
    (doc 37); corpus doc 1 is 'u19835 v w'.  Both are single-shingle
    docs whose shingle hashes md5_long(s) % p are equal, so every
    MinHash band collides while the shingle sets are disjoint.  Like
    the oracle, the screen counts the candidate but reports no best
    match (Jaccard 0 is not a match)."""
    import hashlib
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    def residue(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % dedup.MINHASH_P

    assert residue("t186650~ q~ r~") == residue("u19835 v w")
    for f in os.listdir(sf_oracle_dir):
        if f != "documents.parquet":
            shutil.copy(os.path.join(sf_oracle_dir, f), tmp_path / f)
    texts = ["u19835 v w", "t186650 q r"]
    docs = pa.table({
        "doc_id": pa.array([1, 7], pa.int64()),
        "text": texts,
        "lang": ["en", "en"],
        "source": ["s", "s"],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, tmp_path / "documents.parquet")
    spec = {s.name: s for s in dedup.SPECS}["dedup_incremental_lsh"]
    got = spec.fn(spark, str(tmp_path))
    compare(got, spec.oracle, str(tmp_path))
    (row,) = got.collect()
    assert row["batch_doc"] == 37 and row["n_candidates"] == 1, row
    assert row["best_match"] is None and not row["is_near_dup"], row
