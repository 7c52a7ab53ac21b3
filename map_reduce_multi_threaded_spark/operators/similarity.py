"""Similarity search over embedding vectors (array<float> column).

Two paths, per the standard ANN playbook:

* **brute force** — exact cosine top-k; at test scale a broadcast
  nested-loop, at 100 TB only viable for small query sets (broadcast
  the queries, scan the corpus once — still a single pass, never a
  corpus×corpus shuffle);
* **LSH-bucketed** — random-hyperplane (here: Rademacher ±1 planes,
  derived from md5 so Python/Spark/DuckDB agree bit-for-bit) signature
  → bucket join.  Candidate generation is a keyed shuffle on the
  bucket id; each query compares only within its bucket.  This is the
  shape that survives 100 TB: probes scale with bucket size, not
  corpus size.

All vector math stays JVM-side (``zip_with`` + ``aggregate`` inside
codegen — no Python UDF): elements are cast float→double (exact) and
accumulated left-to-right, which DuckDB's ``list_sum(list_transform)``
mirrors, so cosines are bit-identical and the driver's value-hash
comparison holds.
"""

from __future__ import annotations

import hashlib

import pandas as pd  # module-level: pandas_udf type-hint resolution
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import QuerySpec
from ..sources.tables import load_table, scan_max_tasks, spread_unsplittable_scan

DIM = 64
K_NEIGHBORS = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors in the fixture
COSINE_THRESHOLD = 0.4
N_PLANES = 6  # FLOOR plane count (2^6 = 64 buckets/table); see lsh_planes()
P_MAX = 16  # plane-count ceiling — the oracle's literal masks stop here
N_TABLES = 8  # OR-amplification: recall 1-(1-p^6)^8 vs p^6 single-table

#: target mean bucket occupancy for the adaptive plane count — the
#: quantity FIXED plane counts fail to hold: with p frozen at 6, LSH
#: candidates grow as corpus²/64 (still quadratic), and the round-14
#: 100× stress sweep measured embedding_neardup_lsh capping >300 s at
#: 80k vectors (docs/stress100_r14.md).  Holding occupancy ~constant
#: (p = log2(n/32)) keeps per-table candidates ≈ n·occupancy/2 —
#: linear in the corpus — at the standard LSH price: per-table recall
#: for MODERATE-similarity pairs decays as (1-θ/π)^p while true
#: near-duplicates (θ≈0, the dedup target) stay ~certain collisions.
LSH_TARGET_OCCUPANCY = 32


def lsh_planes(n: int) -> int:
    """Adaptive plane count: ceil(log2(n / occupancy)), clamped to
    [N_PLANES, P_MAX].  Exactly mirrored by the oracles' SQL
    (`_DUCK_LSH_PARAMS`, built from the same constants); at every
    driver fixture (≤2000 embeddings) this is the historical constant
    6, so fixture results are bit-identical to the fixed-plane era."""
    import math

    return min(
        P_MAX,
        max(
            N_PLANES,
            math.ceil(math.log2(max(n, 1) / float(LSH_TARGET_OCCUPANCY))),
        ),
    )


#: target cluster cardinality for SemDeDup's adaptive k (same flaw,
#: same fix: k frozen at 4 makes the within-cluster pair scan
#: corpus²/4 — capped >300 s at 80k vectors — where SemDeDup's own
#: recipe grows k with the corpus, ~10⁵ clusters over 5 B embeddings).
KMEANS_TARGET_CLUSTER = 512
KMEANS_K = 4  # FLOOR k; every driver fixture (≤2048 vectors) clamps here
KMEANS_K_MAX = 1024  # k ceiling — centroid rebuilds stay a bounded agg


def kmeans_k(n: int) -> int:
    """Adaptive k: ceil(n / KMEANS_TARGET_CLUSTER) clamped to
    [KMEANS_K, KMEANS_K_MAX], mirrored in SQL by `_DUCK_KMEANS_PARAMS`
    (built from the SAME constants); every driver fixture stays at the
    historical k=4."""
    import math

    return min(
        KMEANS_K_MAX,
        max(KMEANS_K, math.ceil(n / float(KMEANS_TARGET_CLUSTER))),
    )


#: per-session corpus-count memo (same role as the relational skew
#: gate's stats cache: one build-time scan per fixture dir, plan
#: dispatch pinned to build time — fixture dirs are immutable).
_CORPUS_COUNT_CACHE: dict[str, int] = {}


def corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Embedding-corpus row count for the adaptive parameter formulas.

    Round 16 (VERDICT r15 #5, guide §6): the count is read from the
    parquet FOOTER metadata (every footer records num_rows — the same
    statistic `count(*)` compiles to a metadata-only scan for on most
    engines) instead of running a Spark count() job: at sf0.1 the job
    cost ~0.3 s of every first `dedup_semantic`/`kmeans_assign` build,
    and at 100 TB a footer read is O(files) driver metadata, not a
    cluster job.  The footer read is the engine's one stats reader,
    ``tables.scan_max_tasks``.  Falls back to the count() job for any
    layout it cannot resolve (nested dirs of a partitioned table,
    non-local fs).  Fixture dirs are immutable, so the per-session memo
    stands."""
    if sf_dir not in _CORPUS_COUNT_CACHE:
        stats = scan_max_tasks(sf_dir, "embeddings")
        _CORPUS_COUNT_CACHE[sf_dir] = (
            stats[1] if stats is not None
            else load_table(spark, sf_dir, "embeddings").count()
        )
    return _CORPUS_COUNT_CACHE[sf_dir]


#: the two parameter formulas as DuckDB SQL — the exact expression
#: twins of lsh_planes()/kmeans_k(), built from the SAME constants so
#: a clamp edit cannot desync them (both engines compute
#: correctly-rounded IEEE log2/ceil on the same double, so the clamp
#: lands identically; tests/test_similarity.py::
#: test_param_formula_parity_vs_duckdb sweeps the parity over
#: thousands of n including every clamp and power-of-two boundary).
_DUCK_LSH_PARAMS = (
    f"(SELECT LEAST({P_MAX}, GREATEST({N_PLANES}, "
    f"CAST(ceil(log2(GREATEST(count(*), 1)"
    f" / {float(LSH_TARGET_OCCUPANCY)})) AS INT))) AS p FROM embeddings)"
)
_DUCK_KMEANS_PARAMS = (
    f"(SELECT LEAST({KMEANS_K_MAX}, GREATEST({KMEANS_K}, "
    f"CAST(ceil(count(*) / {float(KMEANS_TARGET_CLUSTER)})"
    f" AS INT))) AS kk FROM embeddings)"
)


def rademacher_sign(t: int, i: int, j: int) -> float:
    """±1 hyperplane component, derived from md5 of 'plane:t:i:j'.

    The same digest is computed inline by the Spark plan and the DuckDB
    oracle (md5 is the one hash all three runtimes share), so the
    planes exist nowhere as data — no literals to ship, no drift."""
    h = hashlib.md5(f"plane:{t}:{i}:{j}".encode()).hexdigest()
    return 1.0 if int(h[:2], 16) % 2 == 0 else -1.0


# ---------------------------------------------------------------------------
# Spark-side vector helpers (pure Column expressions)
# ---------------------------------------------------------------------------

def _to_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _with_norm(df: DataFrame) -> DataFrame:
    """Attach L2 norm; computed once per vector, reused across pairs."""
    return df.withColumn("emb_d", _to_double("embedding")).withColumn(
        "norm", F.sqrt(F.expr(_DOT.format(a="emb_d", b="emb_d")))
    )


_DUCK_NORMS = """
  n AS (SELECT vec_id, label, embedding,
               sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings)
"""

_DUCK_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))"
)


# ---------------------------------------------------------------------------
# 1. brute-force cosine top-k
# ---------------------------------------------------------------------------

def _cos_scorer(q_embs):
    """Arrow-batched exact-cosine scorer against the ≤{N_QUERIES}
    driver-held raw query embeddings (round 16, VERDICT r15 #7, guide
    §4.1/§4.2 — replaces the BroadcastNestedLoopJoin of interpreted
    64-term ``aggregate(zip_with(...))`` folds, n×queries of them).

    Bit-exactness vs the retired fold and the unchanged oracle — the
    :func:`_cluster_scorer` argument verbatim: dots and squared norms
    accumulate SEQUENTIALLY over dimensions from a +0.0 seed (one
    vectorized multiply-add per dim, each scalar correctly rounded
    like the JVM/DuckDB left-to-right fold; numpy does not fuse the
    multiply and add), sqrt is one IEEE op, and the cosine divides by
    the PRODUCT q_norm·c_norm computed first — the same operand order
    as the retired ``dot / (q_norm * c_norm)`` projection.

    Returns the PLAIN batch function (unit-tested without a Spark
    session in tests/test_similarity.py); :func:`knn_bruteforce`
    wraps it as a ``pandas_udf("array<double>")``."""
    import numpy as np

    qe = np.stack([np.asarray(q, dtype=np.float64) for q in q_embs])

    def _norms(mat):
        acc = np.zeros(mat.shape[0])
        for j in range(DIM):
            acc = acc + mat[:, j] * mat[:, j]
        return np.sqrt(acc)

    qn = _norms(qe)

    def cosines(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        c = np.stack(emb.to_numpy()).astype(np.float64)
        dots = np.zeros((c.shape[0], qe.shape[0]))
        for j in range(DIM):
            dots = dots + c[:, j : j + 1] * qe[:, j]
        # orig: fold(q,c) / (q_norm * c_norm) — denominator is the
        # q·c norm product computed first; elementwise order per
        # (row, query) is identical (each op one correctly-rounded
        # double)
        denom = qn[None, :] * _norms(c)[:, None]
        return pd.Series(list(dots / denom))

    return cosines


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id<10).

    The corpus is scanned exactly once regardless of its size; one
    Arrow-batched narrow map scores every row against the driver-held
    queries (:func:`_cos_scorer` — bounded ≤{N_QUERIES}-row collect,
    the documented no-collect exception class, see kmeans_assign);
    only NARROW (query_id, neighbor_id, cosine) rows reach the
    ranking exchange (guide §2.3).  This stays the EXACT ground-truth
    baseline for the recall harness — only the execution engine of
    the same fold changed, bit-identically (see _cos_scorer)."""
    raw = spread_unsplittable_scan(  # round 16: single-row-group scan starves the Arrow maps (guide §2.5)
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    ).select("vec_id", "embedding")
    q_rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in raw.where(F.col("vec_id") < N_QUERIES).collect()
    )
    if not q_rows:
        return raw.select(
            F.col("vec_id").alias("query_id"),
            F.lit(1).alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
        ).where(F.lit(False))
    from pyspark.sql.functions import pandas_udf

    cos = pandas_udf("array<double>")(_cos_scorer([e for _, e in q_rows]))
    qid_arr = F.array(*[F.lit(i).cast("long") for i, _ in q_rows])
    pairs = (
        raw.select(F.col("vec_id").alias("neighbor_id"), cos("embedding").alias("coss"))
        .select("neighbor_id", F.posexplode("coss").alias("pos", "cosine"))
        .withColumn("query_id", F.element_at(qid_arr, F.col("pos") + 1))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .drop("pos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_NEIGHBORS)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


#: (query, corpus) exact-cosine pairs over the norms CTE — the ONE
#: spelling of the brute-force ground truth, shared by the
#: knn_bruteforce oracle and the recall-eval oracle.
_DUCK_BRUTE_PAIRS_CTE = f"""brute_pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DUCK_DOT.format(a='q', b='c')} / (q.nrm * c.nrm) AS cosine
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)"""

_RANK_W = "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)"

_KNN_BRUTE_ORACLE = f"""
WITH {_DUCK_NORMS},
{_DUCK_BRUTE_PAIRS_CTE}
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT *, {_RANK_W} AS rank
  FROM brute_pairs
) WHERE rank <= {K_NEIGHBORS}
"""


# ---------------------------------------------------------------------------
# 2. embedding near-dup pairs (brute baseline for dedup-by-cosine)
# ---------------------------------------------------------------------------

def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ τ — embedding-space near-duplicate
    detection.  Brute all-pairs at test scale; the documented scale
    path is :func:`lsh_buckets` candidates + this verification.

    The streamed side of the broadcast nested-loop join is explicitly
    repartitioned to the cluster's parallelism: a small embeddings
    file scans as ONE split, and a nested-loop join inherits the
    streamed side's partitioning — without the repartition the whole
    O(n²) pair evaluation ran in a single task (measured 24.1 s →
    1.4 s at sf0.1 on 32 cores; round-robin exchange, so the
    hash-exchange plan budget is untouched)."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    par = spark.sparkContext.defaultParallelism
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb_d").alias("ea"), F.col("norm").alias("na")).repartition(par)
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb_d").alias("eb"), F.col("norm").alias("nb"))
    sim = F.expr(_DOT.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", sim)
        .where(F.col("cosine") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


_NEARDUP_ORACLE = f"""
WITH {_DUCK_NORMS}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_DUCK_DOT.format(a='a', b='b')} / (a.nrm * b.nrm) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_DUCK_DOT.format(a='a', b='b')} / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
"""


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at scale: LSH-bucketed candidates +
    exact cosine verification — the production path whose correctness
    baseline is the brute all-pairs :func:`embedding_neardup`.

    Scale: candidate generation is a self-join keyed on (table,
    bucket), so cost follows bucket occupancy (~corpus²/2^planes per
    table), never the corpus-squared product; verification touches
    candidates only.  Recall is the multi-table OR over 8 tables —
    a pair at cosine θ shares a table's bucket with probability
    (1 - angle/π)^6 per table; the recall property test measures the
    realized fraction against the brute baseline.  The oracle mirrors
    the banding (same md5-derived planes), so the driver check gates
    the algorithm, not just its lucky outputs."""
    b = lsh_buckets(spark, sf_dir)
    a_side = b.select(F.col("vec_id").alias("vec_a"), "t", "bucket")
    b_side = b.select(F.col("vec_id").alias("vec_b"), "t", "bucket")
    cand = (
        a_side.join(b_side, ["t", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    n = _with_norm(load_table(spark, sf_dir, "embeddings"))
    na = n.select(F.col("vec_id").alias("vec_a"), F.col("emb_d").alias("ea"), F.col("norm").alias("na"))
    nb = n.select(F.col("vec_id").alias("vec_b"), F.col("emb_d").alias("eb"), F.col("norm").alias("nb"))
    sim = F.expr(_DOT.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .withColumn("cosine", sim)
        .where(F.col("cosine") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


def _neardup_lsh_oracle() -> str:
    return f"""
WITH {_DUCK_NORMS},
buckets AS (
  {_duck_buckets_sql()}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT cand.vec_a, cand.vec_b,
       {_DUCK_DOT.format(a='a', b='b')} / (a.nrm * b.nrm) AS cosine
FROM cand JOIN n a ON a.vec_id = cand.vec_a JOIN n b ON b.vec_id = cand.vec_b
WHERE {_DUCK_DOT.format(a='a', b='b')} / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# 3. LSH-bucketed ANN (the scale path)
# ---------------------------------------------------------------------------
#
# Multi-table random-hyperplane LSH: N_TABLES independent signatures of
# N_PLANES bits; a corpus vector is a candidate for a query if they
# share ANY table's bucket (OR-amplification).  The projection sign is
# a 64-term ordered fold (aggregate over sequence → left-to-right IEEE
# addition, same as DuckDB's list_sum(list_transform)), with the ±1
# plane components derived inline from md5('plane:t:i:j') on BOTH
# engines — planes never exist as data.

def _plane_signs(n_planes: int = N_PLANES):
    """(N_TABLES·n_planes, DIM) ±1.0 matrix from md5('plane:t:i:j') —
    the same digests the DuckDB oracle's literal masks are built from,
    so the planes exist nowhere as data files."""
    import numpy as np

    s = np.empty((N_TABLES * n_planes, DIM))
    for t in range(N_TABLES):
        for i in range(n_planes):
            for j in range(DIM):
                s[t * n_planes + i, j] = rademacher_sign(t, i, j + 1)
    return s


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, t, bucket): one 6-bit signature per hash table.

    Signature computation is a pure map — NO shuffle, which is the
    property that matters at 100 TB (the alternative, explode-dims +
    join a planes table + re-aggregate, shuffles corpus×48 rows).
    All 48 projections happen in ONE Arrow-batched numpy pandas_udf
    (the 48 interpreted JVM `aggregate` folds this replaces were the
    whole cost of the query: 12.9 s → ~1 s at sf0.1).

    Determinism: the accumulation loops over dimensions SEQUENTIALLY
    (one vectorized add per dim), so each (row, plane) scalar sees the
    exact left-to-right IEEE addition order of the oracle's
    ``list_sum(list_transform(...))`` — numpy's pairwise-summing
    ``sum()``/``matmul`` would round differently and could flip a
    near-zero projection's sign."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # adaptive plane count (round 14): one memoized build-time count
    # pins p = lsh_planes(n); the oracle computes the identical p in
    # SQL (_DUCK_LSH_PARAMS), so the driver gate still checks the
    # ALGORITHM.  Driver fixtures (≤2000 vectors) stay at p = 6.
    p = lsh_planes(corpus_count(spark, sf_dir))
    signs = _plane_signs(p)
    weights = 1 << np.arange(p, dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        e = np.stack(emb.to_numpy()).astype(np.float64)  # float32→float64 exact
        acc = np.zeros((e.shape[0], N_TABLES * p))
        for j in range(DIM):
            acc += e[:, j : j + 1] * signs[:, j]
        bits = (acc > 0).reshape(-1, N_TABLES, p)
        b = (bits * weights).sum(axis=2)
        return pd.Series(list(b))

    emb = spread_unsplittable_scan(  # round 16: single-row-group scan starves the Arrow maps (guide §2.5)
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    )
    return emb.select(
        "vec_id", F.posexplode(buckets("embedding")).alias("t", "bucket")
    )


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 from multi-table LSH candidates.

    Scale: candidates come from a keyed shuffle on (table, bucket) —
    each query compares against ~N_TABLES/2^N_PLANES of the corpus, so
    cost scales with bucket occupancy, not corpus size.  Recall vs
    :func:`knn_bruteforce` is measured in tests (single-probe,
    single-table LSH sat at the random floor on this near-uniform
    fixture; 8-table OR-amplification lifts it an order of magnitude).
    """
    # ONLY the query side is ever broadcast (10 vectors × 8 bands; at
    # any corpus scale this stays tiny).  The corpus band table streams
    # through the broadcast join, and corpus embeddings come back via a
    # keyed shuffle on neighbor_id — never a corpus-side broadcast.
    b = lsh_buckets(spark, sf_dir)
    q = b.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("t").alias("q_t"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = (
        b.join(
            F.broadcast(q),
            (F.col("t") == F.col("q_t"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        # distinct over the NARROW pair only (a 64-double embedding in
        # a distinct key is pure shuffle weight)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    n = _with_norm(load_table(spark, sf_dir, "embeddings"))
    nq = n.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_d").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    nc = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb_d").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    sim = F.expr(_DOT.format(a="q_emb", b="c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    pairs = (
        cand.join(F.broadcast(nq), "query_id")
        .join(nc, "neighbor_id")
        .withColumn("cosine", sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_NEIGHBORS)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _duck_proj(t: int, i: int) -> str:
    """One plane projection as SQL: the plane's first 63 ±1 signs pack
    into a literal bitmask (bit 63 won't fit a signed BIGINT, so dim 64
    is an explicit last term), and the fold order — dims 1..63 via
    list_sum, then dim 64 — is exactly the pandas_udf's sequential
    accumulation, so the sign decisions agree bit-for-bit."""
    mask = sum((1 << j) for j in range(DIM - 1) if rademacher_sign(t, i, j + 1) > 0)
    last = "+" if rademacher_sign(t, i, DIM) > 0 else "-"
    return (
        f"(list_sum(list_transform(generate_series(1, {DIM - 1}), j -> "
        f"CASE WHEN ({mask} >> (j - 1)) & 1 = 1 THEN CAST(embedding[j] AS DOUBLE) "
        f"ELSE -CAST(embedding[j] AS DOUBLE) END)) {last} CAST(embedding[{DIM}] AS DOUBLE))"
    )


def _duck_buckets_sql() -> str:
    """The multi-table bucket assignment as one UNION ALL SQL block —
    shared by every oracle that consumes LSH candidates.  Round 14:
    the bucket takes the first `pp.p` of P_MAX mask literals, with p
    computed from count(*) by the exact SQL twin of
    :func:`lsh_planes` — so the oracle follows the adaptive plane
    count instead of pinning the old fixed 6."""
    per_table = []
    for t in range(N_TABLES):
        terms = " + ".join(
            f"(CASE WHEN {i} < pp.p AND {_duck_proj(t, i)} > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(P_MAX)
        )
        per_table.append(
            f"SELECT vec_id, {t} AS t, ({terms}) AS bucket "
            f"FROM embeddings CROSS JOIN {_DUCK_LSH_PARAMS} pp"
        )
    return "\n  UNION ALL\n  ".join(per_table)


def _duck_lsh_pairs_ctes() -> str:
    """``buckets → cand → lsh_pairs`` CTE chain (banded candidates for
    the query vectors + exact cosine) — the ONE spelling of the LSH
    index, shared by the knn_lsh oracle and the recall-eval oracle so
    a banding change can never leave the recall gate measuring a stale
    index definition."""
    return f"""buckets AS (
  {_duck_buckets_sql()}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q JOIN buckets c
    ON q.t = c.t AND q.bucket = c.bucket AND q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
lsh_pairs AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_DUCK_DOT.format(a='q', b='c')} / (q.nrm * c.nrm) AS cosine
  FROM cand JOIN n q ON q.vec_id = cand.query_id JOIN n c ON c.vec_id = cand.neighbor_id
)"""


def _knn_lsh_oracle() -> str:
    return f"""
WITH {_DUCK_NORMS},
{_duck_lsh_pairs_ctes()}
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT *, {_RANK_W} AS rank
  FROM lsh_pairs
) WHERE rank <= {K_NEIGHBORS}
"""


def _row_umax():
    """Arrow-batched per-row max|u| over the unit-normalized vector —
    the map side of the global quantization scale g = max over the
    corpus of max|u| (round 15).  Norms accumulate SEQUENTIALLY over
    dimensions (the :func:`_cluster_scorer` precedent: one vectorized
    multiply-add per dim, each scalar rounded like the JVM/DuckDB
    left-to-right fold), the division is elementwise IEEE, and
    max/abs are order-free and exact — so feeding these row maxima to
    an ordinary ``max()`` aggregate yields BIT-IDENTICAL g to the
    retired interpreted ``aggregate(u, 0D, greatest(acc, abs(x)))``
    fold (whose 0D seed is absorbed by max|u| ≥ 0)."""
    import numpy as np

    def umax(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="float64")
        c = np.stack(emb.to_numpy()).astype(np.float64)
        acc = np.zeros(c.shape[0])
        for j in range(DIM):
            acc = acc + c[:, j] * c[:, j]
        if not np.all(acc > 0.0):
            # ADVICE r15: a zero-norm vector would divide to NaN here
            # and land in floor().astype(int64) downstream, whose
            # result numpy leaves undefined — fail loudly instead (the
            # DuckDB oracle diverges rather than matches on the same
            # input, so silence could never be correct).
            raise ValueError("zero-norm embedding: cosine space undefined")
        u = c / np.sqrt(acc)[:, None]
        return pd.Series(np.max(np.abs(u), axis=1))

    return umax


def _sq_dots_scorer(q_embs):
    """Arrow-batched scalar-quantize-and-score against the driver-held
    RAW query embeddings (round 15 — replaces the corpus×queries
    broadcast join of interpreted BIGINT folds AND the interpreted
    per-row norm/unit/quantize ``transform`` chain, which together
    measured 58.3 s at 80k vectors on the 100× stress fixture; this
    plus :func:`_row_umax` is two sub-second Arrow passes).

    Per batch, with the broadcast scale g: normalize (sequential
    per-dim accumulation + IEEE sqrt + elementwise divide — the
    :func:`_cluster_scorer` bit-exactness argument), quantize
    ``floor(u * 127 / g)`` in the same association the SQL spelled
    (``(u * 127D) / g``, one correctly-rounded double op each), and
    take all queries\' INTEGER dots in one matmul.  The query codes
    are derived from ``q_embs`` inside the batch function by the
    IDENTICAL normalize+quantize path, so engine and oracle agree by
    construction.  Integer dots are exact and order-free (|q| ≤ 127,
    {DIM} dims ⇒ |dot| ≤ ~1.03e6 ≪ int64).

    Returns the PLAIN batch function (unit-tested without a Spark
    session in tests/test_similarity.py) — :func:`knn_scalar_quant`
    wraps it as a ``pandas_udf("array<bigint>")`` at plan-build
    time."""
    import numpy as np

    qe = np.stack([np.asarray(q, dtype=np.float64) for q in q_embs])

    def _unit(mat):
        acc = np.zeros(mat.shape[0])
        for j in range(DIM):
            acc = acc + mat[:, j] * mat[:, j]
        if not np.all(acc > 0.0):
            # ADVICE r15 — same loud failure as _row_umax: NaN/Inf
            # into floor().astype(int64) is undefined in numpy.
            raise ValueError("zero-norm embedding: cosine space undefined")
        return mat / np.sqrt(acc)[:, None]

    uq = _unit(qe)
    # ADVICE r15: g is ONE broadcast scalar, identical across batches —
    # quantize the query matrix once per (task, g), not per batch.
    qm_cache: dict[float, object] = {}

    def dots(emb: pd.Series, g: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        gv = float(g.iloc[0])
        qm = qm_cache.get(gv)
        if qm is None:
            qm = qm_cache[gv] = np.floor(uq * 127.0 / gv).astype(np.int64)
        c = np.stack(emb.to_numpy()).astype(np.float64)
        cq = np.floor(_unit(c) * 127.0 / gv).astype(np.int64)
        return pd.Series(list(cq @ qm.T))

    return dots


def knn_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors per query under int8 SCALAR quantization — the
    compression half of the standard SQ-ANN playbook (PQ\'s simpler
    sibling, embedding_pq): one global scale over the unit-normalized
    corpus → each float mapped to ⌊u·127/g⌋ — candidates ranked by the
    INTEGER quantized dot product, with the exact cosine of each
    returned pair reported alongside.

    Two details make the integer dot a faithful cosine proxy (both
    were measured, not assumed — each wrong variant ranks at CHANCE
    recall 0.02-0.06 on this fixture vs 1.0 for this form):

    * quantize the UNIT-normalized vectors — raw values rank by
      norm-polluted dot;
    * quantize SYMMETRICALLY with one zero-point-free global scale
      (q = ⌊u·127/gmax⌋, like int8 inference weights), so
      Σ qᵃᵢqᵇᵢ ≈ (127/gmax)²·cos(a,b) with no cross terms.  The
      textbook asymmetric per-dim [min,max] form is NOT rank-safe
      without per-vector correction terms: its offsets inject a
      query-independent Σwᵢuᵇᵢ component that swamps the signal.

    Scale (round-15 spelling — measured 58.3 s → 6.9 s on the timed
    noop action at 80k vectors on the 100× stress fixture, 12.5 s
    including the bounded query-collect job): TWO Arrow passes over
    the raw
    parquet scan and nothing interpreted anywhere.  Pass 1
    (:func:`_row_umax`) computes per-row max|u| and collapses to the
    ONE scalar g, broadcast back in-plan (no collect).  Pass 2
    (:func:`_sq_dots_scorer`) normalizes, quantizes and scores every
    corpus row against the ≤{N_QUERIES} driver-held query embeddings
    (bounded driver state — the documented no-collect exception
    class, see kmeans_assign) in one integer matmul; only NARROW
    (query_id, neighbor_id, approx_dot) rows reach the ranking
    exchange (guide §2.3: project before the exchange — the float
    and code arrays used to ride through the window sort).  The
    exact cosine — the same fold expression as before, bit-identical
    — is attached to the ≤queries×k winners only, AFTER the join, so
    the extra corpus scan it needs does no per-row float work.  The
    integer dot is exact and order-free on BOTH engines (no
    float-sum portability caveat at all), which is why the ranking —
    not just the score — hash-matches the oracle.  Composable with
    the LSH/IVF bucketing paths: this query certifies the
    compression, those certify the candidate pruning."""
    raw = spread_unsplittable_scan(  # round 16: single-row-group scan starves the Arrow maps (guide §2.5)
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    ).select("vec_id", "embedding")
    # ≤ N_QUERIES raw query embeddings: bounded driver state (the
    # documented no-collect exception class — see kmeans_assign).
    q_rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in raw.where(F.col("vec_id") < N_QUERIES).collect()
    )
    if not q_rows:
        return raw.select(
            F.col("vec_id").alias("query_id"),
            F.lit(1).alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0).cast("long").alias("approx_dot"),
            F.lit(0.0).alias("cosine"),
        ).where(F.lit(False))
    from pyspark.sql.functions import pandas_udf

    umax = pandas_udf("double")(_row_umax())
    gmax = raw.agg(F.max(umax("embedding")).alias("g"))
    dots = pandas_udf("array<bigint>")(
        _sq_dots_scorer([e for _, e in q_rows])
    )
    qid_arr = F.array(*[F.lit(i).cast("long") for i, _ in q_rows])
    cand = raw.crossJoin(F.broadcast(gmax)).select(
        F.col("vec_id").alias("neighbor_id"),
        dots("embedding", "g").alias("dots"),
    )
    pairs = (
        cand.select(
            "neighbor_id", F.posexplode("dots").alias("pos", "approx_dot")
        )
        .withColumn("query_id", F.element_at(qid_arr, F.col("pos") + 1))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .drop("pos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )
    top = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_NEIGHBORS)
    )
    # exact cosine of the ≤ queries×k winners: the SAME fold
    # expressions as the retired in-window spelling, evaluated AFTER
    # the join on the winner rows only — bit-identical values, and the
    # corpus scan feeding the join ships raw bytes, no interpreted
    # per-row work.
    qq = raw.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_raw"),
    )
    cc = raw.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_raw"),
    )
    joined = (
        cc.join(F.broadcast(top.join(F.broadcast(qq), "query_id")), "neighbor_id")
        .withColumn("q_emb", F.transform(F.col("q_raw"), lambda x: x.cast("double")))
        .withColumn("c_emb", F.transform(F.col("c_raw"), lambda x: x.cast("double")))
        .withColumn("q_norm", F.sqrt(F.expr(_DOT.format(a="q_emb", b="q_emb"))))
        .withColumn("c_norm", F.sqrt(F.expr(_DOT.format(a="c_emb", b="c_emb"))))
    )
    cos = F.expr(_DOT.format(a="q_emb", b="c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    return (
        joined.withColumn("cosine", cos)
        .select("query_id", "rank", "neighbor_id", "approx_dot", "cosine")
    )


_SCALAR_QUANT_ORACLE = f"""
WITH {_DUCK_NORMS},
st AS (
  SELECT max(abs(CAST(embedding[i] AS DOUBLE) / nrm)) AS g
  FROM n, generate_series(1, {DIM}) AS gs(i)
),
qt AS (
  SELECT vec_id,
         list_transform(generate_series(1, {DIM}), i ->
           CAST(floor(CAST(embedding[i] AS DOUBLE) / nrm * 127 / st.g) AS INT)) AS q
  FROM n, st
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, {DIM}),
              i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS approx_dot
  FROM qt a JOIN qt b ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_dot DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT r.query_id, r.rank, r.neighbor_id, r.approx_dot,
       {_DUCK_DOT.format(a='nq', b='nc')} / (nq.nrm * nc.nrm) AS cosine
FROM ranked r
JOIN n nq ON nq.vec_id = r.query_id
JOIN n nc ON nc.vec_id = r.neighbor_id
WHERE r.rank <= {K_NEIGHBORS}
"""


def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@{K} of the LSH path against the
    exact brute-force ground truth, per query — the measurement every
    production ANN deployment runs before trusting its index, here as
    a first-class registered query so the driver gates the EVALUATION
    pipeline too (the oracle recomputes both sides in SQL).

    Determinism: both inputs are already tie-broken top-{K} lists, and
    the recall division is the same IEEE op on both engines.  Scale:
    each side is ≤ queries×{K} rows, so the eval join is trivially
    small regardless of corpus size; the cost is the two underlying
    pipelines, each individually scale-safe (broadcast-query scan /
    bucketed candidates)."""
    truth = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    got = knn_lsh(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        truth.join(got, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("hits"))
        .select(
            "query_id",
            F.col("hits").cast("int").alias("n_hits"),
            (F.col("hits").cast("double") / F.lit(float(K_NEIGHBORS))).alias(
                "recall_at_k"
            ),
        )
    )


def _recall_eval_oracle() -> str:
    return f"""
WITH {_DUCK_NORMS},
{_duck_lsh_pairs_ctes()},
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, {_RANK_W} AS rank FROM lsh_pairs
  ) WHERE rank <= {K_NEIGHBORS}
),
{_DUCK_BRUTE_PAIRS_CTE},
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, {_RANK_W} AS rank FROM brute_pairs
  ) WHERE rank <= {K_NEIGHBORS}
)
SELECT b.query_id, CAST(count(l.neighbor_id) AS INTEGER) AS n_hits,
       CAST(count(l.neighbor_id) AS DOUBLE) / {K_NEIGHBORS} AS recall_at_k
FROM brute b LEFT JOIN lsh l
  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


# ---------------------------------------------------------------------------
# 4. IVF ANN (coarse cells + nprobe search — the other scale path)
# ---------------------------------------------------------------------------

N_CELLS = 8  # coarse centroids
N_PROBE = 2  # cells searched per query
_CENTROID_BASE = 10  # corpus vectors 10..17 serve as coarse centroids


def _cell_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, emb_d, norm): nearest coarse centroid by cosine.

    Centroids are DATA (sampled corpus vectors — the degenerate first
    k-means iteration; a trained quantizer would loop this assignment a
    few times, one keyed shuffle per iteration).  Assignment is a
    broadcast join of the 8-row centroid table against the corpus, then
    an argmax window per vector — the exact shape of IVF list-building
    on a cluster."""
    emb = _with_norm(spread_unsplittable_scan(  # round 16: guide §2.5
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    ))
    cents = F.broadcast(
        emb.where(
            (F.col("vec_id") >= _CENTROID_BASE)
            & (F.col("vec_id") < _CENTROID_BASE + N_CELLS)
        ).select(
            (F.col("vec_id") - _CENTROID_BASE).alias("cell"),
            F.col("emb_d").alias("cent_emb"),
            F.col("norm").alias("cent_norm"),
        )
    )
    cos = F.expr(_DOT.format(a="emb_d", b="cent_emb")) / (F.col("norm") * F.col("cent_norm"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cell"))
    return (
        emb.join(cents)
        .withColumn("cent_cos", cos)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 1)
        .select("vec_id", "cell", "emb_d", "norm")
    )


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF: each query probes its N_PROBE nearest coarse
    cells and searches exactly within them.

    Scale: cost per query is (corpus / N_CELLS) × N_PROBE candidate
    comparisons — tunable recall/cost, independent of LSH's banding
    math.  Candidates come from a broadcast of the tiny probe table
    against the cell-keyed corpus; the corpus is never broadcast.

    Recall honesty: the test fixture's embeddings are near-uniform
    (within-label avg cosine ≈ 0.005 vs cross ≈ -0.001), so coarse
    quantization cannot beat the probed-fraction floor here — measured
    recall ≈ nprobe/cells ≈ 25% (tests/test_similarity pins this).  On
    real clustered embeddings IVF recall is far above that floor; on
    unstructured data multi-table LSH (knn_lsh) or brute force is the
    better tool.  That trade-off is exactly why both paths exist."""
    emb = _with_norm(spread_unsplittable_scan(  # round 16: guide §2.5
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    ))
    assigned = _cell_assignments(spark, sf_dir)
    # per-query probe list: N_PROBE nearest centroids
    cents = F.broadcast(
        emb.where(
            (F.col("vec_id") >= _CENTROID_BASE)
            & (F.col("vec_id") < _CENTROID_BASE + N_CELLS)
        ).select(
            (F.col("vec_id") - _CENTROID_BASE).alias("cell"),
            F.col("emb_d").alias("cent_emb"),
            F.col("norm").alias("cent_norm"),
        )
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_d").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    qcos = F.expr(_DOT.format(a="q_emb", b="cent_emb")) / (F.col("q_norm") * F.col("cent_norm"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("cent_cos"), F.asc("cell"))
    probes = (
        q.join(cents)
        .withColumn("cent_cos", qcos)
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= N_PROBE)
        .select("query_id", "q_emb", "q_norm", "cell")
    )
    sim = F.expr(_DOT.format(a="q_emb", b="c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    pairs = (
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell"),
            F.col("emb_d").alias("c_emb"),
            F.col("norm").alias("c_norm"),
        )
        .join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_NEIGHBORS)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


_KNN_IVF_ORACLE = f"""
WITH {_DUCK_NORMS},
cents AS (
  SELECT vec_id - {_CENTROID_BASE} AS cell, embedding, nrm
  FROM n WHERE vec_id >= {_CENTROID_BASE} AND vec_id < {_CENTROID_BASE + N_CELLS}
),
cellcos AS (
  SELECT v.vec_id, c.cell,
         {_DUCK_DOT.format(a='v', b='c')} / (v.nrm * c.nrm) AS cent_cos
  FROM n v CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cell ASC) AS rn
    FROM cellcos
  ) WHERE rn <= 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cell ASC) AS rn
    FROM cellcos WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {N_PROBE}
),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_DUCK_DOT.format(a='q', b='c')} / (q.nrm * c.nrm) AS cosine
  FROM probes p
  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN n q ON q.vec_id = p.query_id
  JOIN n c ON c.vec_id = a.vec_id
)
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= {K_NEIGHBORS}
"""


# ---------------------------------------------------------------------------
# 5. k-means (3 unrolled Lloyd iterations) — the trained coarse
#    quantizer knn_ivf's sampled centroids stand in for
# ---------------------------------------------------------------------------

# KMEANS_K (the floor) and KMEANS_K_MAX live next to kmeans_k() at the
# top of the module so the formula, its SQL twin and the clamp
# constants stay one screen apart (ADVICE r14: the duplicate literal
# here had decoupled from the formula).
KMEANS_ITERS = 3
KMEANS_Q = 1_000_000  # quantization scale: 1e-6 embedding units


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings quantized to integer millionths.

    Quantization is what makes distributed k-means oracle-exact: the
    centroid update sums MEMBER VECTORS elementwise, and float sums
    depend on partition/visit order while integer sums do not.  Scoring
    then uses ordered double folds (fixed per-row order — the proven
    cross-engine-identical shape)."""
    emb = spread_unsplittable_scan(  # round 16: single-row-group scan starves the Arrow maps (guide §2.5)
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir, "embeddings"
    )
    qv = F.expr(
        f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {KMEANS_Q}) AS BIGINT))"
    )
    return emb.select("vec_id", qv.alias("qv"))


def _cluster_scorer(cent_ids, cent_mat):
    """Arrow-batched argmax-cosine scorer against the driver-held
    centroid matrix (round 15 — replaces the broadcast-join of
    interpreted ``aggregate(zip_with(...))`` folds, which cost ~245 s
    per Lloyd pass at 80k×157 on the stress fixture; this pass is
    sub-second).

    Bit-exactness vs the SQL oracle, same argument as
    :func:`lsh_buckets` (the oracle-proven precedent): the dot
    accumulates SEQUENTIALLY over dimensions (one vectorized
    multiply-add per dim, each scalar rounded like the JVM/DuckDB
    left-to-right fold — numpy does not fuse the multiply and add),
    centroid norms use the same per-dim Python fold + one IEEE sqrt,
    and the score is one double division per (row, centroid).  Ties:
    ``np.argmax`` returns the FIRST maximum, and ``cent_ids`` is
    sorted ascending, so equal scores pick the LOWEST k — exactly the
    retired ``max_by(struct(score, -k))`` tie-break and the oracle's
    ``row_number ORDER BY score DESC, k ASC``.

    An empty cluster simply drops out of ``cent_ids`` (as it dropped
    out of the old broadcast side and drops out of the oracle's
    ``c{it}`` CTE) — the matrix holds PRESENT centroids only, never a
    zero row that would divide by zero.

    Returns the PLAIN batch function (unit-testable without a Spark
    session; tie-break and empty-cluster semantics are pinned in
    tests/test_similarity.py) — :func:`kmeans_assign` wraps it as a
    ``pandas_udf("long")`` at plan-build time."""
    import math

    import numpy as np

    ids = np.asarray(cent_ids, dtype=np.int64)
    cv = np.asarray(cent_mat, dtype=np.float64)  # |cv| < 2^53: exact
    norms = np.empty(len(ids))
    for c in range(len(ids)):
        acc = 0.0
        for j in range(DIM):
            acc = acc + cv[c, j] * cv[c, j]
        norms[c] = math.sqrt(acc)

    def best_k(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="int64")
        q = np.stack(qv.to_numpy()).astype(np.float64)
        acc = np.zeros((q.shape[0], len(ids)))
        for j in range(DIM):
            acc += q[:, j : j + 1] * cv[:, j]
        scores = acc / norms
        return pd.Series(ids[np.argmax(scores, axis=1)])

    return best_k


def _member_sum_partials(cent_ids, cent_mat):
    """``mapInArrow`` task function for the Lloyd centroid rebuild
    (round 16, VERDICT r15 #6, guide §4.2): score every row of the
    task with the EXACT :func:`_cluster_scorer` math, scatter-add the
    raw int64 quantized vectors into a local k×{DIM} accumulator, and
    yield ONE small (k, sums) batch per task.

    This replaces the retired per-iteration
    ``groupBy("k").agg(64 × F.sum(element_at(qv, i)))`` — which
    evaluated 64 interpreted array lookups per data row and shuffled a
    64-column aggregate — with one vectorized pass; the downstream
    aggregation then runs over (tasks × k) partial rows instead of n
    data rows.  Exactness: integer sums are order-free, the clusters
    that appear are exactly the non-empty ones (a task emits only ks
    it saw), and the per-row assignment reuses the same scorer the
    query plan uses — so the collected centroid matrix is
    value-identical to the retired spelling, and the final assignment
    (the declared query result) is bit-identical."""
    import numpy as np
    import pyarrow as pa

    score = _cluster_scorer(cent_ids, cent_mat)
    ids = np.asarray(cent_ids, dtype=np.int64)  # sorted ascending

    def part(batches):
        acc = np.zeros((len(ids), DIM), dtype=np.int64)
        seen = np.zeros(len(ids), dtype=bool)
        for b in batches:
            qv = b.column("qv").to_pandas()
            if len(qv) == 0:
                continue
            ks = score(qv).to_numpy()
            pos = np.searchsorted(ids, ks)
            # a k missing from ids would scatter-add into a neighbour
            hit = pos < len(ids)
            hit[hit] = ids[pos[hit]] == ks[hit]
            if not hit.all():
                raise ValueError(
                    f"scored cluster ids {sorted(set(ks[~hit].tolist()))} "
                    f"are not centroid ids {ids.tolist()}"
                )
            mat = np.stack(qv.to_numpy()).astype(np.int64)
            np.add.at(acc, pos, mat)
            seen[pos] = True
        if seen.any():
            idx = np.flatnonzero(seen)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[idx], type=pa.int64()),
                    pa.array(
                        [acc[i].tolist() for i in idx],
                        type=pa.list_(pa.int64()),
                    ),
                ],
                names=["k", "sums"],
            )

    return part


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster) after 3 Lloyd iterations of cosine k-means.

    Seeds are corpus vectors 10..10+k-1 with k = :func:`kmeans_k`
    (same family as knn_ivf's coarse cells — this IS the training loop
    that would turn them into a real IVF quantizer).  Seed selection
    assumes vec_ids are contiguous from 0 (true of every fixture
    contract, FIXTURES.md), so ids 10..10+k-1 all exist; at the k=1024
    clamp that is vec_id ≤ 1033.  Per iteration: score every vector
    against the current centroids (argmax cosine, lowest-k tie break)
    in ONE Arrow-batched narrow map (:func:`_cluster_scorer`), then
    rebuild centroids as exact integer member-sums (cosine only cares
    about direction, so the un-normalized sum IS the mean centroid) —
    one 64-column keyed aggregation per iteration, the only shuffle.

    Driver state — the documented exception to the no-collect rule,
    same class as the skew gate's 1-row ``.first()`` statistic:
    centroids live on the driver between iterations as a k×64 int64
    matrix (k ≤ 1024, so ≤ 65,536 values — bounded by the
    :func:`kmeans_k` clamp, independent of corpus size).  This is the
    canonical distributed-Lloyd shape — Spark MLlib's own KMeans
    collects cluster centers to the driver every iteration — and it
    replaces shipping n×k joined rows through the scoring operator:
    the r14-era broadcast-join spelling evaluated an interpreted
    64-term fold per (vector, centroid) pair, n²/512 pairs per pass
    at the adaptive k, measured ~245 s/pass at 80k vectors
    (docs/stress100_r14/15).  The two collects per run move ≤ 2·k·64
    integers; the scoring scan is O(n) rows with all 64·k
    multiply-adds vectorized in one Arrow batch."""
    v = _quantized(spark, sf_dir).localCheckpoint(eager=False)
    # adaptive k (round 14): k = ceil(n/512) clamped [4, 1024] — the
    # SemDeDup composition's within-cluster pair scan is quadratic in
    # cluster SIZE, so k must grow with the corpus to hold it bounded
    # (k frozen at 4 capped >300 s at 80k vectors, docs/stress100_r14.md).
    # Driver fixtures (≤2000 vectors) keep the historical k = 4; the
    # oracle computes the identical k in SQL (_DUCK_KMEANS_PARAMS).
    kk = kmeans_k(corpus_count(spark, sf_dir))
    seed_rows = v.where(
        (F.col("vec_id") >= _CENTROID_BASE)
        & (F.col("vec_id") < _CENTROID_BASE + kk)
    ).collect()  # ≤ k ≤ 1024 rows (see docstring: bounded driver state)
    cents = sorted((int(r["vec_id"]) - _CENTROID_BASE, r["qv"]) for r in seed_rows)
    from pyspark.sql.functions import pandas_udf

    assign = None
    for it in range(KMEANS_ITERS):
        best_k = pandas_udf("long")(
            _cluster_scorer([c[0] for c in cents], [c[1] for c in cents])
        )
        assign = v.withColumn("k", best_k("qv"))
        if it < KMEANS_ITERS - 1:
            # round 16 (guide §4.2): member-sums via one Arrow pass
            # emitting per-task k×64 partials — the retired
            # groupBy(64 × sum(element_at)) evaluated 64 interpreted
            # array lookups per row and shuffled a 64-column agg over
            # n rows; the keyed agg now runs over (tasks × k) partial
            # rows.  Value-identical (integer sums are order-free;
            # see _member_sum_partials).
            partials = v.select("qv").mapInArrow(
                _member_sum_partials(
                    [c[0] for c in cents], [c[1] for c in cents]
                ),
                "k long, sums array<bigint>",
            )
            sum_rows = partials.groupBy("k").agg(
                *[F.sum(F.element_at("sums", i + 1)).alias(f"c{i}") for i in range(DIM)]
            ).collect()  # ≤ k ≤ 1024 rows of integer member-sums
            cents = sorted(
                (int(r["k"]), [int(r[f"c{i}"]) for i in range(DIM)])
                for r in sum_rows
            )
    return assign.select("vec_id", F.col("k").alias("cluster"))


def _kmeans_oracle() -> str:
    dot = (
        "list_sum(list_transform(generate_series(1, 64), i -> "
        "CAST(v.qv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)))"
    )
    cnorm = (
        "sqrt(list_sum(list_transform(generate_series(1, 64), i -> "
        "CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))))"
    )
    parts = [
        f"""q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {KMEANS_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS (SELECT vec_id - {_CENTROID_BASE} AS k, qv AS cv FROM q
       WHERE vec_id >= {_CENTROID_BASE}
         AND vec_id < {_CENTROID_BASE} + (SELECT kk FROM {_DUCK_KMEANS_PARAMS} kp))"""
    ]
    for it in range(KMEANS_ITERS):
        parts.append(f"""s{it + 1} AS (
  SELECT v.vec_id, c.k, {dot} / {cnorm} AS score
  FROM q v CROSS JOIN c{it} c
),
a{it + 1} AS (
  SELECT vec_id, k FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, k ASC) AS rn
    FROM s{it + 1}
  ) WHERE rn = 1
)""")
        if it < KMEANS_ITERS - 1:
            parts.append(f"""c{it + 1} AS (
  SELECT k, list(s ORDER BY i) AS cv FROM (
    SELECT a.k, d.i, CAST(sum(v.qv[d.i]) AS BIGINT) AS s
    FROM a{it + 1} a JOIN q v USING (vec_id)
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
    GROUP BY a.k, d.i
  ) GROUP BY k
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vec_id, k AS cluster FROM a{KMEANS_ITERS}"
    )


# ---------------------------------------------------------------------------
# pandas_udf alternative (Arrow-vectorized Python path)
# ---------------------------------------------------------------------------

def cosine_pandas_udf():
    """Arrow-batched cosine as a @pandas_udf — the Python-side
    alternative to the JVM zip_with/aggregate fold used above.

    Kept out of the hot query path (the JVM fold wins: no
    serialization boundary), but this is the shape to reach for when
    the per-element math outgrows SQL expressions (real models,
    numpy/scipy kernels).  ~10-100× faster than a row-at-a-time Python
    UDF because whole Arrow batches hit numpy at once."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        am = np.stack(a.to_numpy())
        bm = np.stack(b.to_numpy())
        dots = (am * bm).sum(axis=1)
        norms = np.linalg.norm(am, axis=1) * np.linalg.norm(bm, axis=1)
        return pd.Series(dots / norms)

    return cosine


# ---------------------------------------------------------------------------
# product quantization (the PQ half of IVF-PQ)
# ---------------------------------------------------------------------------

PQ_M = 4            #: subspaces (64 dims -> 4 x 16)
PQ_SUB = DIM // PQ_M
PQ_K = 4            #: codewords per subspace (corpus seed vectors)


def _pq_scorer(ks, books):
    """Arrow-batched product-quantization assigner against the
    driver-held codebook (round 15 — replaces the explode → broadcast
    join → two keyed aggregations spelling, whose n×M×K interpreted
    16-term folds measured 40.1 s at 80k vectors on the 100× stress
    fixture).

    ``ks`` is the ascending list of present codeword ids; ``books[m]``
    is the matrix of their m-th subvectors.  All arithmetic is INTEGER
    (squared L2 over the int64-quantized components — |diff|² ≤ ~4e12,
    ×{PQ_SUB} terms stays far under int64), so equality with the SQL
    fold is exact by order-freeness, no floating-point argument
    needed.  Ties: ``np.argmin`` returns the FIRST minimum and ``ks``
    ascends, so equal distances pick the lowest k — the retired
    min-of-(d, k) struct and the oracle's ``min({'d':…,'k':…})``.

    Returns the PLAIN batch function (unit-tested without a Spark
    session in tests/test_similarity.py) — :func:`embedding_pq` wraps
    it as a struct-returning ``pandas_udf`` at plan-build time."""
    import numpy as np

    ks_arr = np.asarray(ks, dtype=np.int64)
    cw = [np.asarray(b, dtype=np.int64) for b in books]  # M × (K, PQ_SUB)
    k_strs = [str(int(k)) for k in ks_arr]

    def assign(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame({"code": pd.Series([], dtype=object),
                                 "sq_err": pd.Series([], dtype="int64")})
        q = np.stack(qv.to_numpy()).astype(np.int64)  # (rows, DIM)
        best_ks = []
        sq_err = np.zeros(q.shape[0], dtype=np.int64)
        for m in range(PQ_M):
            sv = q[:, m * PQ_SUB : (m + 1) * PQ_SUB]  # (rows, PQ_SUB)
            diff = sv[:, None, :] - cw[m][None, :, :]  # (rows, K, PQ_SUB)
            d = np.einsum("rks,rks->rk", diff, diff)  # exact int64
            arg = np.argmin(d, axis=1)  # first min ⇒ lowest k
            best_ks.append(arg)
            sq_err += d[np.arange(q.shape[0]), arg]
        codes = [
            "|".join(k_strs[best_ks[m][r]] for m in range(PQ_M))
            for r in range(q.shape[0])
        ]
        return pd.DataFrame({"code": codes, "sq_err": sq_err})

    return assign


def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment (Jégou et al. 2011) — the
    compression half of IVF-PQ ANN: split each 64-dim vector into
    {M} 16-dim subvectors, assign each to the nearest of {K} codewords
    (the corpus seed vectors' matching subvectors, same family as
    knn_ivf's coarse cells), and report the code plus the exact total
    squared reconstruction error.

    Determinism: distances are squared L2 over INTEGER-quantized
    components — pure bigint arithmetic end to end, no floats anywhere;
    argmin ties break on codeword id (numpy's first-minimum over
    k-ascending codewords ≡ the retired min-of-(dist, k) struct ≡ the
    oracle's min-struct).  Scale (round-15 spelling): the codebook
    is M×K×{PQ_SUB} integers of bounded driver state (M=K=4 — the
    documented no-collect exception class, see kmeans_assign), and
    the whole assignment is ONE Arrow-batched narrow map per vector
    (:func:`_pq_scorer`): slice, all M×K integer distances in
    vectorized int64, argmin, sum — zero joins, zero exchanges (the
    retired spelling exploded n×M sub rows, broadcast-joined the
    codebook into n×M×K interpreted 16-term folds, and paid two keyed
    aggregations to reassemble: measured 40.1 s at 80k vectors on the
    100× stress fixture).  At 100 TB the output (M small ints per
    vector) is the point: ~32× smaller than the raw vectors."""
    v = _quantized(spark, sf_dir)
    # M×K×PQ_SUB-int codebook: bounded driver state.  books[m][k] is
    # the m-th subvector of seed vector (_CENTROID_BASE + k); a seed
    # absent from the corpus drops its k column in every subspace,
    # exactly as it dropped out of the retired broadcast join and
    # drops out of the oracle's books CTE.
    seed_rows = sorted(
        (int(r["vec_id"]), list(r["qv"]))
        for r in v.where(
            (F.col("vec_id") >= _CENTROID_BASE)
            & (F.col("vec_id") < _CENTROID_BASE + PQ_K)
        ).collect()
    )
    if not seed_rows:
        return v.select(
            "vec_id",
            F.lit("").alias("code"),
            F.lit(0).cast("long").alias("sq_err"),
        ).where(F.lit(False))
    ks = [vid - _CENTROID_BASE for vid, _ in seed_rows]
    books = [
        [qv[m * PQ_SUB : (m + 1) * PQ_SUB] for _, qv in seed_rows]
        for m in range(PQ_M)
    ]
    from pyspark.sql.functions import pandas_udf

    assign = pandas_udf("code string, sq_err long")(_pq_scorer(ks, books))
    return v.select("vec_id", assign("qv").alias("a")).select(
        "vec_id", F.col("a.code").alias("code"), F.col("a.sq_err").alias("sq_err")
    )


def _pq_oracle() -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {KMEANS_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
sub AS (
  SELECT vec_id, m, qv[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sv
  FROM q, LATERAL unnest(generate_series(0, {PQ_M - 1})) AS t(m)
),
books AS (
  SELECT m, vec_id - {_CENTROID_BASE} AS k, sv AS cw
  FROM sub WHERE vec_id >= {_CENTROID_BASE} AND vec_id < {_CENTROID_BASE + PQ_K}
),
best AS (
  SELECT s.vec_id, s.m,
         min({{'d': list_sum(list_transform(generate_series(1, {PQ_SUB}),
                   i -> (s.sv[i] - b.cw[i]) * (s.sv[i] - b.cw[i]))),
              'k': b.k}}) AS best
  FROM sub s JOIN books b USING (m)
  GROUP BY s.vec_id, s.m
)
SELECT vec_id,
       array_to_string(list(CAST(struct_extract(best, 'k') AS VARCHAR) ORDER BY m), '|') AS code,
       CAST(sum(struct_extract(best, 'd')) AS BIGINT) AS sq_err
FROM best GROUP BY vec_id
"""


SEMANTIC_TAU = COSINE_THRESHOLD  # same τ as the near-dup family


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped SEMANTIC deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with k-means, then
    search for duplicate pairs (cosine ≥ τ) only WITHIN each cluster —
    the pruning that makes semantic dedup tractable where
    :func:`embedding_neardup`'s global all-pairs baseline is quadratic
    in the corpus.  Emits (cluster, vec_a, vec_b, cosine, drop_vec)
    with drop_vec = the higher id of each duplicate pair — the
    keep-one-representative policy, deterministic under any
    partitioning.

    Composes the registered stages: :func:`kmeans_assign`'s 3-Lloyd
    clustering (broadcast centroids, exact integer centroid sums) and
    the near-dup family's ordered-fold cosine (bit-identical on both
    engines).

    Scale: the pair join is KEYED ON CLUSTER — one hash shuffle
    co-locates each cluster, and the quadratic term is bounded by
    cluster size, not corpus size (k grows with the corpus to hold
    cluster cardinality ~constant; SemDeDup runs k≈10⁵ over 5 B
    embeddings).  A skewed giant cluster is the known failure mode —
    at production scale you cap or re-split hot clusters (the
    AQE-skew / salting patterns of the join family apply
    unchanged)."""
    assign = kmeans_assign(spark, sf_dir)
    emb = _with_norm(load_table(spark, sf_dir, "embeddings")).join(
        assign, "vec_id"
    )
    a = emb.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("emb_d").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = emb.select(
        "cluster",
        F.col("vec_id").alias("vec_b"),
        F.col("emb_d").alias("eb"),
        F.col("norm").alias("nb"),
    )
    sim = F.expr(_DOT.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, ["cluster"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", sim)
        .where(F.col("cosine") >= SEMANTIC_TAU)
        .select(
            "cluster",
            "vec_a",
            "vec_b",
            "cosine",
            F.col("vec_b").alias("drop_vec"),
        )
    )


def _semantic_oracle() -> str:
    base = _kmeans_oracle()
    ctes = base.rsplit("\nSELECT", 1)[0]  # keep q, c*, s*, a* CTEs
    return f"""{ctes},
assign AS (SELECT vec_id, k AS cluster FROM a{KMEANS_ITERS}),
{_DUCK_NORMS.strip().rstrip()}
SELECT ca.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_DUCK_DOT.format(a='a', b='b')} / (a.nrm * b.nrm) AS cosine,
       b.vec_id AS drop_vec
FROM n a JOIN assign ca ON a.vec_id = ca.vec_id
     JOIN assign cb ON cb.cluster = ca.cluster
     JOIN n b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
WHERE {_DUCK_DOT.format(a='a', b='b')} / (a.nrm * b.nrm) >= {SEMANTIC_TAU}
"""


SPECS = [
    QuerySpec("embedding_pq", embedding_pq, _pq_oracle(),
              "product-quantization codes + exact integer reconstruction error (IVF-PQ compression half)"),
    QuerySpec("knn_bruteforce", knn_bruteforce, _KNN_BRUTE_ORACLE,
              "exact cosine top-5 per query vector (broadcast queries)"),
    QuerySpec("embedding_neardup", embedding_neardup, _NEARDUP_ORACLE,
              "cosine≥τ near-dup pairs (brute baseline)"),
    QuerySpec("embedding_neardup_lsh", embedding_neardup_lsh, _neardup_lsh_oracle(),
              "LSH-bucketed cosine≥τ near-dup pairs (scale path for embedding_neardup)"),
    QuerySpec("knn_lsh", knn_lsh, _knn_lsh_oracle(),
              "ANN top-5 within random-hyperplane LSH bucket (scale path)"),
    QuerySpec("knn_recall_eval", knn_recall_eval, _recall_eval_oracle(),
              "recall@5 of the LSH ANN path vs the exact brute-force truth"),
    QuerySpec("knn_scalar_quant", knn_scalar_quant, _SCALAR_QUANT_ORACLE,
              "int8 scalar-quantized top-5 (exact integer dot ranking + "
              "true-cosine readout; the SQ compression half of SQ-ANN)"),
    QuerySpec("knn_ivf", knn_ivf, _KNN_IVF_ORACLE,
              "ANN top-5 via IVF coarse cells with nprobe=2 (cell-partitioned scale path)"),
    QuerySpec("kmeans_assign", kmeans_assign, _kmeans_oracle(),
              "3-iteration cosine k-means over quantized embeddings (broadcast centroids + 64-col keyed agg per iteration)"),
    QuerySpec("dedup_semantic", dedup_semantic, _semantic_oracle(),
              "SemDeDup: k-means-pruned intra-cluster cosine≥τ duplicate "
              "pairs with keep-one policy (cluster-keyed, not corpus-quadratic)"),
]
