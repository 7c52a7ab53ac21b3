"""Composed end-to-end training-data pipeline + BM25 ranking.

``pipeline_end_to_end`` is the integration query: quality filter →
exact dedup across two crawl batches → language keep-list → per-source
stats.  It exists because operator-at-a-time correctness does not
prove the operators COMPOSE (column contracts, null behavior,
dedup-before vs after filtering); this query gates the composition
against a single equivalent SQL statement.

``bm25_rank`` adds the classic retrieval scorer on top of the TF-IDF
machinery — the query-side counterpart to the dedup/similarity
corpus-side operators.

Scale: the pipeline is filter → hash-shuffle dedup → broadcast-ish
aggregation; BM25 is two keyed aggregates + a broadcast of the query
terms — both single-scan shapes.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..functions.text import (
    WS_RE, ascii_lower, duck_ascii_lower, duck_tokens, tokens, words_sql,
)

#: oracle-side casefold fragments from the ONE canonical helper (ADVICE r11)
_DUCK_LC_TEXT = duck_ascii_lower("trim(text, ' ')")
_DUCK_LC_BTEXT = duck_ascii_lower("trim(b.text, ' ')")
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import QuerySpec
from ..sources.tables import load_table

KEEP_LANGS = ("en", "de", "fr")
BM25_QUERY_TERMS = ("spark", "shuffle", "window")
BM25_K1 = 1.2
BM25_B = 0.75


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality filter → exact dedup (2 batches) → lang filter → stats.

    Mirrors the real order of a crawl-ingest pipeline: cheap row-local
    filters first (shrink before any shuffle), content-hash dedup on
    the survivors, enrichment aggregation last."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    batch2 = d.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text", "lang", "source"
    )
    both = d.unionByName(batch2)

    toks = tokens("text")
    quality = both.where(
        (F.size(toks) >= 5) & (F.col("lang").isin(*KEEP_LANGS))
    )
    deduped = (
        quality.withColumn("h", F.sha2(ascii_lower(F.trim("text")), 256))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc_id")),
        )
        .where(F.col("rn") == 1)
    )
    return (
        deduped.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(toks)).alias("n_tokens"),
        )
    )


_PIPELINE_ORACLE = f"""
WITH two_batches AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source FROM documents
),
quality AS (
  SELECT * FROM two_batches
  WHERE len({duck_tokens('text')}) >= 5
    AND lang IN {KEEP_LANGS!r}
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sha256({_DUCK_LC_TEXT}) ORDER BY doc_id) AS rn
    FROM quality
  ) WHERE rn = 1
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(len({duck_tokens('text')})) AS BIGINT) AS n_tokens
FROM deduped GROUP BY source, lang
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document matching the fixed query terms
    — the shared retrieval stage under :func:`bm25_rank` (top-10 emit)
    and :func:`rerank_crossencoder` (top-k candidate feed).

    tf/df/avgdl from two keyed aggregates; idf uses the standard
    ln((N-df+0.5)/(df+0.5)+1).  Scores rounded to 9 dp before ranking
    (ln is libm-dependent), tie-broken by doc_id downstream."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).where(F.length("term") > 0)
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score_term = idf * (
        F.col("tf") * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score_term), 9).alias("bm25"))
    )


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for a fixed term set (see
    :func:`_bm25_scored` for the scoring determinism contract)."""
    scored = _bm25_scored(spark, sf_dir)
    # Top-k via orderBy+limit → TakeOrderedAndProject (per-partition heap
    # + tiny driver merge), NOT a global no-partition window (which would
    # funnel every scored doc through one reducer at corpus scale).  The
    # rank window then runs over only the 10 surviving rows.
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "bm25")
    )


#: shared retrieval CTE chain (toks → scored), reused by the plain
#: BM25 oracle and the rerank oracle
_BM25_CTES = f"""toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS term FROM documents
),
toks_f AS (SELECT * FROM toks WHERE length(term) > 0),
doclen AS (SELECT doc_id, count(*) AS dl FROM toks_f GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM doclen),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_f
       WHERE term IN {BM25_QUERY_TERMS!r} GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1)
              / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * doclen.dl / stats.avgdl)))
         ), 9) AS bm25
  FROM tf JOIN df USING (term) JOIN doclen USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)"""


_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT rank, doc_id, bm25 FROM (
  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank FROM scored
) WHERE rank <= 10
"""


#: retrieve→rerank parameters: the cheap corpus-scale retrieval stage
#: hands RERANK_CANDIDATES docs to the expensive per-pair scorer; only
#: RERANK_TOPN survive.  OCC_CAP bounds the per-term occurrence feature
#: (a spammy doc repeating a query term must not dominate).
RERANK_CANDIDATES = 20
RERANK_TOPN = 10
RERANK_OCC_CAP = 10


def rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve→rerank: BM25 nominates the top-{RERANK_CANDIDATES}
    candidates at corpus scale, then a cross-encoder-STYLE pairwise
    scorer re-orders them and emits the top-{RERANK_TOPN} — the
    two-stage shape of every modern retrieval pipeline (cheap recall
    stage over everything, expensive precision stage over a bounded
    candidate set).

    The rerank stage runs in ``mapInPandas`` (Arrow-batched) — exactly
    where a real cross-encoder would batch (query, document) pairs
    through a model.  The container has no model, so the scorer is a
    deterministic lexical stand-in (integer features: capped per-term
    occurrence count + 1000//first-position bonus) that DuckDB can
    mirror, keeping the whole two-stage pipeline value-gated; swapping
    in a real model changes ONE pandas function, none of the plumbing.

    Scale: stage 1 is the bm25_rank plan (keyed aggs + TakeOrdered —
    no global window); stage 2 touches only the candidate set, joined
    back to `documents` via a broadcast of {RERANK_CANDIDATES} rows
    (the corpus side streams, pruned to doc_id+text), so the Python
    cost is O(k), not O(corpus)."""
    scored = _bm25_scored(spark, sf_dir)
    cand = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(RERANK_CANDIDATES)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = docs.join(F.broadcast(cand), "doc_id")
    terms = BM25_QUERY_TERMS
    occ_cap = RERANK_OCC_CAP

    def _score(batches):
        import re

        import pandas as pd

        for pdf in batches:
            scores = []
            for text in pdf["text"]:
                # same tokenization as the retrieval stage: ASCII
                # whitespace split (re.ASCII — Python \s is otherwise
                # Unicode-aware and splits NBSP/U+3000 that the JVM and
                # RE2 \s do not; round-11 catch), empties dropped, no
                # case folding
                lst = [w for w in re.split(WS_RE, text, flags=re.ASCII) if w]
                s = 0
                for t in terms:
                    occ = sum(1 for w in lst if w == t)
                    s += 100 * min(occ, occ_cap)
                    if occ:
                        s += 1000 // (lst.index(t) + 1)
                scores.append(s)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bm25": pdf["bm25"],
                    "rerank_score": pd.Series(scores, dtype="int64"),
                }
            )

    reranked = pairs.mapInPandas(
        _score, "doc_id bigint, bm25 double, rerank_score bigint"
    )
    top = reranked.orderBy(
        F.desc("rerank_score"), F.asc("doc_id")
    ).limit(RERANK_TOPN)
    w = Window.orderBy(F.desc("rerank_score"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "rerank_score", "bm25")
    )


_RERANK_FEATURES = " + ".join(
    f"(100 * least(len(list_filter(lst, x -> x = '{t}')), {RERANK_OCC_CAP})"
    f" + CASE WHEN list_position(lst, '{t}') > 0"
    f"        THEN 1000 // list_position(lst, '{t}') ELSE 0 END)"
    for t in BM25_QUERY_TERMS
)

_RERANK_ORACLE = f"""
WITH {_BM25_CTES},
cand AS (
  SELECT doc_id, bm25 FROM scored
  ORDER BY bm25 DESC, doc_id ASC LIMIT {RERANK_CANDIDATES}
),
feat AS (
  SELECT c.doc_id, c.bm25,
         CAST({_RERANK_FEATURES} AS BIGINT) AS rerank_score
  FROM cand c JOIN (
    SELECT doc_id,
           list_filter({duck_tokens('text')}, x -> x <> '') AS lst
    FROM documents) d USING (doc_id)
)
SELECT rank, doc_id, rerank_score, bm25 FROM (
  SELECT *, row_number() OVER (ORDER BY rerank_score DESC, doc_id ASC) AS rank
  FROM feat
) WHERE rank <= {RERANK_TOPN}
"""


#: MMR diversification parameters.  LAMBDA_C is spelled as its own
#: literal (NOT 1-LAMBDA: 1-0.7 = 0.30000000000000004 in IEEE — the
#: oracle's 0.3 literal must be the bit-identical coefficient).
MMR_LAMBDA = 0.7
MMR_LAMBDA_C = 0.3
MMR_TOPN = 8


def rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance reranking (Carbonell & Goldstein
    1998): BM25 nominates {RERANK_CANDIDATES} candidates at corpus
    scale, then a greedy pass picks {MMR_TOPN} maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    diversity stage RAG retrieval uses so the context window isn't k
    copies of the same passage.

    Diversity is token-set Jaccard between candidates, computed as
    KEYED joins over the candidate-pruned token table (the 20-row
    candidate frame broadcasts into the corpus scan; the term
    self-join touches only candidate tokens).  The greedy selection is
    inherently sequential in k, so it runs in ONE applyInPandas group
    over the dense ≤k² pair frame — Python cost O(k²), independent of
    corpus size, the same bounded-candidate contract as
    :func:`rerank_crossencoder`.  Determinism: rel and jac are both
    rounded to 9 dp before the greedy pass, scores are IEEE products
    of identical doubles on both engines, ties break by doc_id; the
    DuckDB oracle unrolls the same greedy argmax as one chained CTE
    per step."""
    scored = _bm25_scored(spark, sf_dir)
    # Both small frames are PINNED (eager localCheckpoint): cand is
    # referenced four times and ctoks three times below, and without
    # the pin each reference re-executes the whole BM25 retrieval
    # subtree (measured: 51 exchanges vs 10 pinned) — the same
    # pinned-intermediate pattern as the dedup shingle tables.
    cand = (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RERANK_CANDIDATES)
        .withColumnRenamed("bm25", "rel")
        .localCheckpoint()
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ctoks = (
        docs.join(F.broadcast(cand), "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .where(F.length("term") > 0)
        .distinct()
        .localCheckpoint()
    )
    sizes = ctoks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ctoks.alias("x")
        .join(
            ctoks.alias("y"),
            (F.col("x.term") == F.col("y.term"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c1 = cand.select(F.col("doc_id").alias("a"), F.col("rel").alias("rel_a"))
    c2 = cand.select(F.col("doc_id").alias("b"))
    cnt0 = F.coalesce(F.col("cnt"), F.lit(0))
    pairs = (
        c1.join(F.broadcast(c2), F.col("a") != F.col("b"))
        .join(inter, ["a", "b"], "left")
        .join(F.broadcast(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))), "a")
        .join(F.broadcast(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))), "b")
        .select(
            "a",
            "rel_a",
            "b",
            F.round(
                cnt0.cast("double") / (F.col("na") + F.col("nb") - cnt0), 9
            ).alias("jac"),
        )
        # every candidate also rides in as an (a, rel_a, NULL, NULL)
        # row: the a != b pair frame is EMPTY with one candidate, and
        # the greedy pass would then never see it at all (round-12
        # single-row axis: spark=0 vs oracle=1 rows).  Redundant rel
        # entries are idempotent in _greedy.
        .unionByName(
            c1.select(
                "a",
                "rel_a",
                F.lit(None).cast("long").alias("b"),
                F.lit(None).cast("double").alias("jac"),
            )
        )
    )

    lam, lam_c, topn = MMR_LAMBDA, MMR_LAMBDA_C, MMR_TOPN

    def _greedy(pdf):
        import pandas as pd

        rel, sim = {}, {}
        for r in pdf.itertuples(index=False):
            rel[int(r.a)] = r.rel_a
            if not pd.isna(r.b):
                sim[(int(r.a), int(r.b))] = r.jac
        remaining = sorted(rel)
        selected, rows = [], []
        while remaining and len(selected) < topn:
            best = None
            for d in remaining:
                ms = max((sim[(d, s)] for s in selected), default=0.0)
                score = lam * rel[d] - lam_c * ms
                key = (score, -d)
                if best is None or key > best[0]:
                    best = (key, d, score)
            _, d, score = best
            selected.append(d)
            remaining.remove(d)
            # mmr_score is reported UNROUNDED: it is the same IEEE
            # product/difference of identical doubles on both engines
            # (bit-identical), while round-to-9 would re-introduce
            # divergence at half-way boundaries (observed at sf0.1:
            # Python banker's vs DuckDB half-away on ...0375)
            rows.append((len(selected), d, rel[d], score))
        return pd.DataFrame(
            rows, columns=["rank", "doc_id", "rel", "mmr_score"]
        )

    return (
        pairs.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda pdf: _greedy(pdf),
            "rank int, doc_id bigint, rel double, mmr_score double",
        )
    )


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as chained CTEs — one (ms, pick, sel)
    triple per selection step, each argmax ordered by the identical
    IEEE expression the pandas pass computes."""
    # AS MATERIALIZED is load-bearing: sel{k} is referenced 3× by step
    # k+1, so DuckDB's default CTE inlining would expand the chain
    # EXPONENTIALLY (and re-open the parquet scan at every leaf —
    # observed as an fd exhaustion, not just slowness).
    steps = []
    for k in range(2, MMR_TOPN + 1):
        steps.append(f"""ms{k} AS MATERIALIZED (
  SELECT p.a AS doc_id, max(p.jac) AS m FROM pairs p
  WHERE p.b IN (SELECT doc_id FROM sel{k - 1}) GROUP BY p.a
),
pick{k} AS MATERIALIZED (
  SELECT c.doc_id, c.rel, {k} AS rank,
         {MMR_LAMBDA} * c.rel - {MMR_LAMBDA_C} * m.m AS mmr_score
  FROM cand c JOIN ms{k} m ON m.doc_id = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{k - 1})
  ORDER BY {MMR_LAMBDA} * c.rel - {MMR_LAMBDA_C} * m.m DESC, c.doc_id ASC
  LIMIT 1
),
sel{k} AS MATERIALIZED (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM pick{k})""")
    chained = ",\n".join(steps)
    return f"""
WITH {_BM25_CTES},
cand AS MATERIALIZED (
  SELECT doc_id, bm25 AS rel FROM scored
  ORDER BY bm25 DESC, doc_id ASC LIMIT {RERANK_CANDIDATES}
),
ctoks AS MATERIALIZED (
  SELECT DISTINCT t.doc_id, t.term FROM toks_f t JOIN cand c ON t.doc_id = c.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM ctoks GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS cnt
  FROM ctoks x JOIN ctoks y ON x.term = y.term AND x.doc_id <> y.doc_id
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT c1.doc_id AS a, c1.rel AS rel_a, c2.doc_id AS b,
         round(CAST(coalesce(i.cnt, 0) AS DOUBLE)
               / (s1.n + s2.n - coalesce(i.cnt, 0)), 9) AS jac
  FROM cand c1 JOIN cand c2 ON c1.doc_id <> c2.doc_id
  LEFT JOIN inter i ON i.a = c1.doc_id AND i.b = c2.doc_id
  JOIN sz s1 ON s1.doc_id = c1.doc_id
  JOIN sz s2 ON s2.doc_id = c2.doc_id
),
sel1 AS (
  SELECT doc_id, rel, 1 AS rank, {MMR_LAMBDA} * rel AS mmr_score
  FROM cand ORDER BY rel DESC, doc_id ASC LIMIT 1
),
{chained}
SELECT rank, doc_id, rel, mmr_score FROM sel{MMR_TOPN}
"""


CONTRASTIVE_NEGS = 3


def pipeline_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (CLIP/InfoNCE-style) training-pair construction:
    each aligned (document, embedding) anchor gets its positive plus
    {CONTRASTIVE_NEGS} deterministic negatives — and the negatives are
    CYCLIC-SHIFT DERANGEMENTS (partner = (id + offset) mod n with an
    md5-derived offset in [1, n−1]), the detail that makes in-batch
    negative sampling sound: a shift can never map an anchor to
    itself, so no "negative" is secretly the positive.  The query
    gates exactly that invariant (n_fixed_points pinned 0 per shift)
    alongside pair counts and an order-free integer checksum of the
    pairing — the contrastive sibling of
    :func:`pipeline_preference_pairs`' (chosen, rejected) builder.

    Scale: the alignment is one keyed join, negatives are a narrow
    3-row explode with modular arithmetic against one broadcast
    scalar (the anchor count); nothing shuffles but the final 4-row
    rollup.  Offsets are md5 of literals — constant-folded, no
    Python-local relation."""
    from ..functions.text import md5_long

    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    anchors = e.join(d, e.vec_id == d.doc_id).select("vec_id")
    n = anchors.agg(F.count(F.lit(1)).alias("n"))
    pos = anchors.select(
        "vec_id", F.lit(0).alias("j"), F.col("vec_id").alias("partner")
    )
    negs = (
        anchors.crossJoin(F.broadcast(n))
        # a cyclic-shift derangement needs n >= 2 (offset domain
        # [1, n-1] is empty at n = 1 and the `% (n-1)` is a 0-modulus
        # ANSI error — round-12 single-row axis): with one anchor the
        # negative set is correctly EMPTY on both engines
        .where(F.col("n") >= 2)
        .select(
            "vec_id",
            "n",
            F.explode(
                F.array(*[F.lit(j) for j in range(1, CONTRASTIVE_NEGS + 1)])
            ).alias("j"),
        )
        .withColumn(
            "partner",
            (
                F.col("vec_id")
                + 1
                + md5_long(F.concat(F.lit("neg:"), F.col("j"))) % (F.col("n") - 1)
            )
            % F.col("n"),
        )
        .select("vec_id", "j", "partner")
    )
    return (
        pos.unionByName(negs)
        .groupBy(
            F.when(F.col("j") == 0, "positive").otherwise("negative").alias(
                "pair_type"
            ),
            "j",
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                ((F.col("partner") == F.col("vec_id")) & (F.col("j") > 0)).cast(
                    "long"
                )
            ).alias("n_fixed_points"),
            F.sum(F.col("partner") * (F.col("vec_id") + 1)).alias(
                "partner_checksum"
            ),
        )
    )


def _contrastive_oracle() -> str:
    from ..functions.text import duck_md5_long

    return f"""
WITH nn AS (
  SELECT count(*) AS n
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
anchors AS (
  SELECT e.vec_id FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
pos AS (SELECT vec_id, 0 AS j, vec_id AS partner FROM anchors),
negs AS (
  SELECT a.vec_id, t.j,
         (a.vec_id + 1 + {duck_md5_long("'neg:' || t.j")} % (nn.n - 1)) % nn.n
           AS partner
  FROM anchors a, nn,
       (VALUES {", ".join(f"({j})" for j in range(1, CONTRASTIVE_NEGS + 1))}) AS t(j)
  WHERE nn.n >= 2
),
u AS (SELECT * FROM pos UNION ALL SELECT * FROM negs)
SELECT CASE WHEN j = 0 THEN 'positive' ELSE 'negative' END AS pair_type,
       j, count(*) AS n_pairs,
       CAST(sum(CASE WHEN partner = vec_id AND j > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fixed_points,
       CAST(sum(partner * (vec_id + 1)) AS BIGINT) AS partner_checksum
FROM u GROUP BY 1, 2
"""


TFIDF_SCALE = 1000  # tf-idf weights quantized to 1e-3


def tfidf_cosine_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by FULL-VECTOR tf-idf cosine against the fixed
    query terms — the vector-space retrieval model next to
    :func:`bm25_rank`'s probabilistic one.

    Weights are quantized to integer thousandths the moment ln() has
    been applied: document norms then become integer sums (order-free
    across any partitioning — a float norm over hundreds of terms WILL
    flip last-ulp bits between engines), and every later product stays
    exact.  Shapes: two keyed aggs (tf, df) + one keyed norm agg + a
    3-term broadcast join for the numerator — single-scan, all shuffles
    on doc_id/term.  The corpus-wide tf⋈df join stays a KEYED shuffle
    with no broadcast hint: the vocabulary is corpus-derived and
    unbounded (10⁸–10⁹ distinct terms at web scale; SCALE.md's
    no-vocab-broadcast rule), and AQE still picks broadcast on its own
    at small scale.  Only the query-term-filtered idf rows (bounded by
    |BM25_QUERY_TERMS|) are broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    idf = F.log(F.col("n_docs").cast("double") / F.col("df"))
    w = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.expr(f"CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * {TFIDF_SCALE}) AS BIGINT)").alias("w"),
        )
    )
    qv = (
        df_.where(F.col("term").isin(*BM25_QUERY_TERMS))
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            F.expr(f"CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * {TFIDF_SCALE}) AS BIGINT)").alias("q"),
        )
        # query-vector norm rides each row via a |query-terms|-row
        # window, so ONE broadcast of qv carries everything downstream
        .withColumn(
            "qn2", F.sum(F.col("q") * F.col("q")).over(Window.partitionBy())
        )
    )
    # Round 7: document norm, dot-product numerator, and query norm
    # all come from ONE pass over the weight table (left-broadcast
    # join; unmatched terms contribute exactly 0 to the integer
    # numerator), instead of separate norm/num/qn branches that each
    # re-derived tf⋈df from the scan — the first spelling's physical
    # plan held 21 exchanges of branch duplication (plan_budget.json
    # history), this one ~a third of that.  Docs with no query-term
    # occurrence drop out via the matched flag, exactly the old inner
    # join's membership.
    pre = (
        w.join(F.broadcast(qv), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("w") * F.col("w")).alias("n2"),
            F.sum(F.col("w") * F.coalesce(F.col("q"), F.lit(0))).alias("num"),
            F.max("qn2").alias("qn2"),
            F.max(F.col("q").isNotNull().cast("int")).alias("matched"),
        )
    )
    cosine = F.col("num") / (
        F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("qn2").cast("double"))
    )
    # zero-norm guard (round-12 single-row axis): with ONE document
    # every idf is ln(1) = 0, so both norms are 0 and the cosine is
    # undefined — such docs can't rank.  Spark ANSI hard-errors on the
    # 0/0 while DuckDB NULLs it, so the exact n2/qn2 > 0 predicate is
    # required on BOTH engines (same pattern as agg_corr_exact).
    scored = pre.where(
        (F.col("matched") == 1) & (F.col("n2") > 0) & (F.col("qn2") > 0)
    ).select("doc_id", cosine.alias("cosine"))
    top = scored.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(10)
    rank_w = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(rank_w)).select(
        "rank", "doc_id", "cosine"
    )


_TFIDF_COSINE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS term FROM documents
),
toks_f AS (SELECT * FROM toks WHERE length(term) > 0),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_f GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks_f),
w AS (
  SELECT doc_id, term,
         CAST(round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * {TFIDF_SCALE}) AS BIGINT) AS w
  FROM tf JOIN df USING (term) CROSS JOIN n
),
norm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
qv AS (
  SELECT term, CAST(round(ln(CAST(n.n_docs AS DOUBLE) / df.df) * {TFIDF_SCALE}) AS BIGINT) AS q
  FROM df CROSS JOIN n WHERE term IN {BM25_QUERY_TERMS!r}
),
qn AS (SELECT CAST(sum(q * q) AS BIGINT) AS qn2 FROM qv),
num AS (SELECT w.doc_id, CAST(sum(w.w * qv.q) AS BIGINT) AS num
        FROM w JOIN qv USING (term) GROUP BY w.doc_id),
scored AS (
  SELECT num.doc_id,
         num.num / (sqrt(CAST(norm.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))) AS cosine
  FROM num JOIN norm USING (doc_id) CROSS JOIN qn
  WHERE norm.n2 > 0 AND qn.qn2 > 0
)
SELECT rank, doc_id, cosine FROM (
  SELECT *, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rank FROM scored
) WHERE rank <= 10
"""


MAX_PACK_TOKENS = 512

#: per-mille keep rates per language (en half, de quarter, fr eighth) —
#: the downsampling step that rebalances a crawl before training.
STRATA_RATES = {"en": 500, "de": 250, "fr": 125}


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document to the
    training context window (pack) its tokens start in, packing
    greedily in doc_id order WITHIN each source shard.

    Scale: the window is partitioned by source — a keyed shuffle, never
    a global sort; packing is shard-local exactly like a real tokenizer
    fleet (each worker packs its own shard; pack ids are (source,
    pack_id) pairs)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return d.withColumn("cum_before", cum_before).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"cum_before div {MAX_PACK_TOKENS}").alias("pack_id"),
    )


_PACK_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(len({duck_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sized
)
SELECT doc_id, source, n_tokens,
       CAST(cum_before // {MAX_PACK_TOKENS} AS BIGINT) AS pack_id
FROM c
"""


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates via an
    md5 per-mille bucket of doc_id (the engine-portable coin flip — the
    same digest on Spark, DuckDB and Python, so the sample is exactly
    reproducible anywhere).  A pure map: no shuffle at any scale."""
    from ..functions.text import md5_bucket

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rate = F.lit(0)
    for lang, r in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return d.where(md5_bucket(F.col("doc_id"), 1000, salt="strat") < rate)


def _stratified_oracle() -> str:
    cases = " ".join(f"WHEN '{lang}' THEN {r}" for lang, r in STRATA_RATES.items())
    return f"""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(doc_id || 'strat'), 1, 15))::BIGINT % 1000
      < CASE lang {cases} ELSE 0 END
"""


#: per-source mix-rate vocabulary: rate = (1 + md5-byte mod 4) / 4 of
#: the source's docs are kept (real pipelines read these rates from a
#: mixing config; md5-derived rates keep the fixture self-contained
#: while exercising unequal per-source keeps).
MIX_RATE_BUCKETS = 4


def pipeline_balance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixing downsample: each source keeps
    ``ceil(n_src * rate_src)`` documents — the ones with the SMALLEST
    md5 rank within the source — where rate_src is the source's
    configured mix weight.  This is the curriculum/mixture step that
    turns a raw crawl into a weighted training mix with EXACT per-source
    row counts (rate-threshold sampling only hits the target in
    expectation; rank-based selection hits it exactly).

    Scale: one keyed window sort per source (rank by md5) plus a
    broadcast of the per-source quota table — no global sort, no
    collect.  Output is the kept docs plus their source quota, so the
    mix is auditable downstream."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    quota = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .withColumn(
            "rate_num",
            F.expr(
                "1 + CAST(conv(substr(md5(source), 1, 15), 16, 10) AS BIGINT) "
                f"% {MIX_RATE_BUCKETS}"
            ),
        )
        .withColumn(
            "keep_n",
            F.expr(f"CAST(ceil(n_src * rate_num / {MIX_RATE_BUCKETS}) AS BIGINT)"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.md5(F.concat_ws("-", "doc_id", F.lit("mix"))), "doc_id")
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .join(F.broadcast(quota.select("source", "keep_n")), "source")
        .where(F.col("rnk") <= F.col("keep_n"))
        .select("doc_id", "source", F.col("rnk").cast("int").alias("rnk"), "keep_n")
    )


_BALANCE_ORACLE = f"""
WITH quota AS (
  SELECT source, count(*) AS n_src,
         1 + ('0x' || substr(md5(source), 1, 15))::BIGINT % {MIX_RATE_BUCKETS} AS rate_num
  FROM documents GROUP BY source
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(doc_id::VARCHAR || '-mix'), doc_id) AS rnk
  FROM documents
)
SELECT r.doc_id, r.source, CAST(r.rnk AS INTEGER) AS rnk,
       CAST(ceil(q.n_src * q.rate_num / {MIX_RATE_BUCKETS}) AS BIGINT) AS keep_n
FROM ranked r JOIN quota q USING (source)
WHERE r.rnk <= ceil(q.n_src * q.rate_num / {MIX_RATE_BUCKETS})
"""


#: training shard count for the manifest builder
N_SHARDS = 16


def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard MANIFEST: every document is
    assigned to one of {N} shards by a stable content-independent hash
    of its id (so re-runs, resumes, and incremental appends land each
    doc in the same shard), and the manifest row per shard carries the
    doc count, total characters, and an ORDER-FREE content checksum
    (XOR of per-doc md5-derived longs — XOR commutes and stays in 64
    bits, so the checksum is identical under any partitioning or
    arrival order and never overflows, unlike a sum).
    This is the reproducibility contract of a training data release:
    two pipelines producing the same manifest table produced the same
    shards, byte for byte, without comparing the shards themselves.

    Scale: one narrow map (hash + length) and one {N}-group agg; the
    checksum never materializes doc contents anywhere."""
    from ..functions.text import md5_bucket, md5_long

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            md5_bucket(F.col("doc_id"), N_SHARDS, salt="shard").alias("shard"),
            F.length("text").alias("n_chars"),
            md5_long(F.col("text")).alias("content_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.expr("bit_xor(content_h)").alias("content_checksum"),
        )
    )


def _shard_manifest_oracle() -> str:
    from ..functions.text import duck_md5_long

    return f"""
SELECT {duck_md5_long("CAST(doc_id AS VARCHAR)", salt="shard")} % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(bit_xor({duck_md5_long("text")}) AS BIGINT) AS content_checksum
FROM documents
GROUP BY 1
"""


def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle order: every training epoch
    needs a DIFFERENT but fully REPRODUCIBLE permutation of the corpus
    (restart a crashed epoch-2 job and get the same order, on any
    cluster) — so the position is the rank of md5(doc_id, epoch-salt)
    within the doc's shard, never ``rand()``.  Emitted for two epochs
    side by side, proving the permutations differ while each stays
    deterministic.

    Scale: shard-local ranking — both epoch windows share the ONE
    hash-partition exchange on shard (only the sort differs), and no
    shard ever needs a global order.  This is exactly how epoch
    shuffling works on a 100 TB corpus: permute within shards, read
    shards in epoch-salted order."""
    from ..functions.text import md5_bucket, md5_long

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = d.select(
        "doc_id",
        md5_bucket(F.col("doc_id"), N_SHARDS, salt="shard").alias("shard"),
        md5_long(F.col("doc_id"), salt="epoch1").alias("k1"),
        md5_long(F.col("doc_id"), salt="epoch2").alias("k2"),
    )
    w1 = Window.partitionBy("shard").orderBy("k1", "doc_id")
    w2 = Window.partitionBy("shard").orderBy("k2", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w1).alias("pos_epoch1"),
        F.row_number().over(w2).alias("pos_epoch2"),
    )


def _epoch_shuffle_oracle() -> str:
    from ..functions.text import duck_md5_long

    did = "CAST(doc_id AS VARCHAR)"
    return f"""
WITH keyed AS (
  SELECT doc_id,
         {duck_md5_long(did, salt="shard")} % {N_SHARDS} AS shard,
         {duck_md5_long(did, salt="epoch1")} AS k1,
         {duck_md5_long(did, salt="epoch2")} AS k2
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k1, doc_id) AS INTEGER) AS pos_epoch1,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k2, doc_id) AS INTEGER) AS pos_epoch2
FROM keyed
"""


#: budget selection keeps top-ranked docs until this fraction of the
#: corpus token count (numerator/denominator — integer-exact cutoff)
BUDGET_NUM, BUDGET_DEN = 1, 2


def pipeline_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: rank documents by a quality proxy
    and keep the best until a global token budget (here 1/2 of the
    corpus) is spent — how a fixed training-compute budget picks its
    corpus.  The cumulative token count over the global ranking uses
    the two-pass distributed prefix sum
    (:func:`functions.prefix.two_pass_cumsum`) — the selection is a
    GLOBAL take-while, but no single task ever sees more than one
    range partition.

    Determinism: ranking is (n_chars DESC, doc_id) — a total order;
    token counts are exact integers, and the budget cutoff compares
    integer×integer, no floats.  Every doc is emitted with its
    selected flag, so the output row count is partition-invariant."""
    from ..functions.prefix import two_pass_cumsum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    cum = two_pass_cumsum(
        d,
        F.col("n_tokens").cast("long"),
        [F.desc("n_chars"), F.asc("doc_id")],
        cum_col="cum_tokens",
        total_col="total_tokens",
    )
    sel = (
        F.col("cum_tokens") * BUDGET_DEN <= F.col("total_tokens") * BUDGET_NUM
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        sel.alias("selected"),
    )


_BUDGET_SELECT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, length(text) AS n_chars,
         len({duck_tokens('text')}) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         sum(n_tokens) OVER () AS total_tokens
  FROM d
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens * {BUDGET_DEN} <= total_tokens * {BUDGET_NUM} AS selected
FROM cum
"""


#: train/val/test split boundaries over md5(doc_id) % 100
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 95  # val = [90, 95), test = [95, 100)


def pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split manifest — the step every
    training pipeline runs before anything touches the data: assign
    each document to a split by content-independent hash (so the split
    is stable across reruns, engines, and partitionings — never
    ``rand()``), then report per-(source, split) document counts, char
    totals, and the within-source share.

    Determinism: the md5-derived bucket is bit-identical on both
    engines (functions.text.md5_long); shares divide exact counts as
    doubles.  Scale: one narrow map + one keyed agg with map-side
    partials; the share window runs over source×split cardinality
    (tiny), not rows."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id"), salt="split") % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    per = (
        d.select("source", split.alias("split"), F.length("text").alias("n_chars"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    w = Window.partitionBy("source")
    return per.select(
        "source",
        "split",
        "n_docs",
        "total_chars",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")).alias(
            "source_share"
        ),
    )


def _hash_split_oracle() -> str:
    from ..functions.text import duck_md5_long

    bucket = f"{duck_md5_long('CAST(doc_id AS VARCHAR)', salt='split')} % 100"
    return f"""
WITH tagged AS (
  SELECT source,
         CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {bucket} < {SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         length(text) AS n_chars
  FROM documents
),
per AS (
  SELECT source, split, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM tagged GROUP BY source, split
)
SELECT source, split, n_docs, total_chars,
       CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE)
         AS source_share
FROM per
"""


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the CHANGELOG between two corpus snapshots — the inverse
    of ``table_merge_cdc`` (which APPLIES a changelog): given crawl N
    and crawl N+1, emit (doc_id, status ∈ added|removed|changed).
    This is how a pipeline decides what to re-process after a crawl
    refresh: only the diff flows downstream (re-embed, re-dedup,
    re-score), never the unchanged bulk.

    Scale: both snapshots are projected to (doc_id, sha256(text)) in
    the scan — the full-outer join shuffles 72-byte rows on doc_id,
    one exchange each side, and 'unchanged' rows (the overwhelming
    majority of a refresh) are filtered before anything downstream.
    Simulated crawl N+1: every 13th doc gone, every 7th re-crawled
    with changed text, every 11th re-appearing under a new id in the
    max-derived power-of-10 namespace (collision-free at any sf)."""
    from ..sources.tables import power10_base

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = power10_base(d, "doc_id")
    v2 = (
        d.where(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" [recrawl]")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 11 == 0)
            .crossJoin(F.broadcast(base))
            .select(
                (F.col("doc_id") + F.col("idbase")).alias("doc_id"), "text"
            )
        )
    )
    h1 = d.select("doc_id", F.sha2("text", 256).alias("h1"))
    h2 = v2.select("doc_id", F.sha2("text", 256).alias("h2"))
    status = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
    )
    return (
        h1.join(h2, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .where(F.col("status").isNotNull())
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH ib AS (
  SELECT CAST(power(10, ceil(log10(max(doc_id) + 1))) AS BIGINT) AS idbase
  FROM documents
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawl]' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + ib.idbase, text FROM documents, ib WHERE doc_id % 11 = 0
),
h1 AS (SELECT doc_id, sha256(text) AS h1 FROM documents),
h2 AS (SELECT doc_id, sha256(text) AS h2 FROM v2),
j AS (SELECT doc_id, h1, h2 FROM h1 FULL OUTER JOIN h2 USING (doc_id))
SELECT doc_id,
       CASE WHEN h1 IS NULL THEN 'added'
            WHEN h2 IS NULL THEN 'removed'
            WHEN h1 <> h2 THEN 'changed' END AS status
FROM j
WHERE h1 IS NULL OR h2 IS NULL OR h1 <> h2
"""


#: RAG composition parameters — chunking mirrors text_chunking
#: (50-token windows, stride 40) and the featurizer mirrors
#: text_feature_hashing (16 md5 buckets, salt 'feat'); constants are
#: local so the composition query's import closure stays decoupled
#: from textstats.
RAG_CHUNK_TOKENS = 50
RAG_CHUNK_STRIDE = 40
RAG_BUCKETS = 16
RAG_TOPN = 10


def pipeline_rag_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion+retrieval composed end-to-end: chunk documents
    into token windows → hash-embed each chunk (hashing-trick term
    counts, the no-vocabulary featurizer) → score chunks against the
    hashed query vector by integer dot product → best chunk per doc →
    top-{RAG_TOPN} docs.  Like ``pipeline_end_to_end`` for ingest,
    this exists because stage-at-a-time correctness does not prove the
    stages COMPOSE (chunk boundaries × feature buckets × tie-breaks);
    one SQL statement gates the whole chain.

    The embedding is RELATIONAL — each token carries its hash bucket,
    and the dot product Σ_b count_b·qc_b is computed in its fused form
    Σ_tok qc_bucket(tok): the ≤{RAG_BUCKETS}-entry query vector is a
    COMPILE-TIME constant, folded driver-side into a literal
    bucket→count map (`element_at` lookup inside whole-stage codegen),
    so no intermediate (chunk, bucket, count) frame is ever
    materialized or shuffled — partial aggregation collapses the
    scored tokens to chunk cardinality before the one (doc, chunk)
    exchange (plan-asserted).  Round-7 note: the earlier spelling
    built the query vector as a 3-row ``spark.createDataFrame`` +
    broadcast join; that local-data frame is a Python-RDD-backed
    relation whose every execution launches 32 Python worker tasks
    (measured 1.4-3.4 s/action on the round-7 host, recomputed per
    action), which is what BENCH_r06's 8-18 s record was — see
    docs/BACKLOG.md "RAG bench reconciliation".
    Exact in integers either way.  Hash collisions mean the score
    counts all tokens landing in the query's buckets, not only query
    terms: that is the hashing-trick approximation, stated honestly (a
    real deployment swaps the featurizer for a model embedding and
    this stage for the kNN operators in similarity.py).

    Scale: chunking is a narrow map (one explode); scoring is one
    keyed shuffle on (doc, chunk); per-doc best is a keyed window on
    doc; final top-k is TakeOrdered.  Nothing global ever sorts."""
    from ..functions.text import md5_bucket, py_md5_bucket

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("t"))
    starts = F.expr(f"sequence(0, size(t) - 1, {RAG_CHUNK_STRIDE})")
    chunks = t.select(
        "doc_id", F.posexplode(starts).alias("chunk_idx", "start"), "t"
    ).select(
        "doc_id",
        "chunk_idx",
        F.expr(f"slice(t, start + 1, {RAG_CHUNK_TOKENS})").alias("ctoks"),
    )
    ctoks = chunks.select(
        "doc_id", "chunk_idx", F.explode("ctoks").alias("tok")
    ).where(F.length("tok") > 0)
    bucketed = ctoks.select(
        "doc_id",
        "chunk_idx",
        md5_bucket(F.col("tok"), RAG_BUCKETS, salt="feat").alias("b"),
    )
    # query vector folded driver-side: bucket -> term count, as a
    # literal map (py_md5_bucket is parity-tested against md5_bucket)
    qc: dict[int, int] = {}
    for w in BM25_QUERY_TERMS:
        b = py_md5_bucket(w, RAG_BUCKETS, salt="feat")
        qc[b] = qc.get(b, 0) + 1
    qmap = F.create_map(
        *[x for k, v in sorted(qc.items())
          for x in (F.lit(k).cast("long"), F.lit(v).cast("long"))]
    )
    scored = (
        bucketed.withColumn("qc", F.element_at(qmap, F.col("b")))
        .where(F.col("qc").isNotNull())
        .groupBy("doc_id", "chunk_idx")
        .agg(F.sum("qc").alias("dot"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("dot"), F.asc("chunk_idx")
    )
    best = scored.withColumn("rn", F.row_number().over(w_doc)).where(
        F.col("rn") == 1
    )
    top = best.orderBy(F.desc("dot"), F.asc("doc_id")).limit(RAG_TOPN)
    w_rank = Window.orderBy(F.desc("dot"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w_rank)).select(
        "rank", "doc_id", "chunk_idx", "dot"
    )


def _rag_oracle() -> str:
    from ..functions.text import duck_md5_long

    bucket = lambda e: f"{duck_md5_long(e, salt='feat')} % {RAG_BUCKETS}"
    qlist = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, {duck_tokens('text')} AS t FROM documents
),
chunks AS (
  SELECT doc_id, t,
         unnest(generate_series(0, len(t) - 1, {RAG_CHUNK_STRIDE})) AS start,
         generate_subscripts(generate_series(0, len(t) - 1, {RAG_CHUNK_STRIDE}), 1) - 1 AS chunk_idx
  FROM toks
),
ctoks AS (
  SELECT doc_id, chunk_idx,
         unnest(t[start + 1 : start + {RAG_CHUNK_TOKENS}]) AS tok
  FROM chunks
),
cvec AS (
  SELECT doc_id, chunk_idx, {bucket('tok')} AS b, count(*) AS c
  FROM ctoks WHERE length(tok) > 0 GROUP BY 1, 2, 3
),
q AS (SELECT unnest([{qlist}]) AS tok),
qv AS (SELECT {bucket('tok')} AS b, count(*) AS qc FROM q GROUP BY 1),
scored AS (
  SELECT doc_id, chunk_idx, CAST(sum(c * qc) AS BIGINT) AS dot
  FROM cvec JOIN qv USING (b) GROUP BY 1, 2
),
best AS (
  SELECT doc_id, chunk_idx, dot FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY dot DESC, chunk_idx ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT rank, doc_id, chunk_idx, dot FROM (
  SELECT *, row_number() OVER (ORDER BY dot DESC, doc_id ASC) AS rank
  FROM best
) WHERE rank <= {RAG_TOPN}
"""


def pipeline_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Ship a training data release" composed end-to-end (VERDICT r6
    stretch): incremental ingest dedup → train/val/test hash split →
    per-(split, shard) manifest with order-free content checksums →
    release-level gate columns — the publication counterpart of
    ``pipeline_rag_end_to_end``'s retrieval chain.  Stage-at-a-time
    greens don't prove the stages COMPOSE (the dedup decides which
    docs each split/shard manifests; a checksum over the wrong corpus
    passes its own stage and fails here), so one oracle gates the
    whole chain.

    Stages reuse the exact semantics of their standalone queries:
    the simulated ingest batch + LEFT-ANTI corpus-hash dedup of
    :func:`~..operators.dedup.dedup_incremental` (power-of-10 id
    namespaces), the md5 split buckets of :func:`pipeline_hash_split`,
    and the XOR-checksum manifest of :func:`pipeline_shard_manifest`.
    The gate columns are the :func:`~.relational.dq_expectations`
    shape applied to the release: ``ids_unique`` (namespace collision
    guard — the r5 CDC bug class) and the batch_kept/batch_dropped
    accounting that pins the dedup stage's effect.

    Scale: the dedup is one hash-keyed anti-join (hashes move, not
    documents); split+shard+checksum is one narrow map and one
    48-group agg; the two 1-row stat frames broadcast.  O(batch)
    ingest + O(corpus scan) manifest, no global sorts."""
    from ..functions.text import md5_bucket, md5_long
    from ..sources.tables import power10_base

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = power10_base(d, "doc_id")
    redup = (
        d.where(F.col("doc_id") % 3 == 0)
        .crossJoin(F.broadcast(base))
        .select((F.col("doc_id") + F.col("idbase")).alias("doc_id"), "text")
    )
    edited = (
        d.where(F.col("doc_id") % 5 == 0)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("doc_id") + 2 * F.col("idbase")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" revised")).alias("text"),
        )
    )
    batch = redup.unionByName(edited)
    corpus_hashes = d.select(
        F.sha2(ascii_lower(F.trim("text")), 256).alias("content_hash")
    ).distinct()
    novel = (
        batch.withColumn("content_hash", F.sha2(ascii_lower(F.trim("text")), 256))
        .join(corpus_hashes, "content_hash", "left_anti")
        .select("doc_id", "text")
    )
    release = d.unionByName(novel)

    # ONE aggregation pass over the release carries both the manifest
    # and the release-level stats: split and shard are both functions
    # of doc_id, so equal doc_ids land in the same (split, shard)
    # group and the global distinct-id count is the sum of per-group
    # distincts — the stats roll up FROM the 48-row manifest instead
    # of re-deriving the release in a second branch (the first
    # spelling scanned documents 16× across two independent pipelines)
    bucket = md5_long(F.col("doc_id"), salt="split") % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    manifest = (
        release.crossJoin(F.broadcast(base))
        .select(
            split.alias("split"),
            md5_bucket(F.col("doc_id"), N_SHARDS, salt="shard").alias("shard"),
            F.length("text").alias("n_chars"),
            md5_long(F.col("text")).alias("content_h"),
            "doc_id",
            (F.col("doc_id") >= F.col("idbase")).cast("long").alias("is_batch"),
        )
        .groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.expr("bit_xor(content_h)").alias("content_checksum"),
            F.countDistinct("doc_id").alias("n_ids"),
            F.sum("is_batch").alias("batch_docs"),
        )
    )
    # release-level stats as GLOBAL WINDOW sums over the manifest —
    # the window funnels to one partition, which is safe here because
    # manifest cardinality is the constant 3×{N_SHARDS}, not the
    # corpus; this keeps the whole query ONE pipeline (the agg-branch
    # spelling re-derived the release per branch: no exchange reuse
    # materialized even at runtime, measured r7)
    batch_total = d.agg(
        (
            F.sum((F.col("doc_id") % 3 == 0).cast("long"))
            + F.sum((F.col("doc_id") % 5 == 0).cast("long"))
        ).alias("batch_total")
    )
    w_all = Window.partitionBy()
    return (
        manifest.crossJoin(F.broadcast(batch_total))
        .select(
            "split",
            "shard",
            "n_docs",
            "total_chars",
            "content_checksum",
            F.sum("n_docs").over(w_all).alias("release_docs"),
            (F.sum("n_docs").over(w_all) == F.sum("n_ids").over(w_all)).alias(
                "ids_unique"
            ),
            F.sum("batch_docs").over(w_all).alias("batch_kept"),
            (F.col("batch_total") - F.sum("batch_docs").over(w_all)).alias(
                "batch_dropped"
            ),
        )
    )


def _corpus_release_oracle() -> str:
    from ..functions.text import duck_md5_long

    split_bucket = f"{duck_md5_long('CAST(doc_id AS VARCHAR)', salt='split')} % 100"
    shard = f"{duck_md5_long('CAST(doc_id AS VARCHAR)', salt='shard')} % {N_SHARDS}"
    return f"""
WITH ib AS (
  SELECT CAST(power(10, ceil(log10(max(doc_id) + 1))) AS BIGINT) AS idbase
  FROM documents
),
batch AS (
  SELECT doc_id + ib.idbase AS doc_id, text
  FROM documents, ib WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 2 * ib.idbase, text || ' revised'
  FROM documents, ib WHERE doc_id % 5 = 0
),
corpus AS (SELECT DISTINCT sha256({_DUCK_LC_TEXT}) AS h FROM documents),
novel AS (
  SELECT b.doc_id, b.text FROM batch b
  WHERE NOT EXISTS (
    SELECT 1 FROM corpus c WHERE c.h = sha256({_DUCK_LC_BTEXT}))
),
release AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM novel
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS release_docs,
         count(*) = count(DISTINCT r.doc_id) AS ids_unique,
         CAST(sum(CASE WHEN r.doc_id >= ib.idbase THEN 1 ELSE 0 END) AS BIGINT)
           AS batch_kept
  FROM release r, ib
),
bt AS (
  SELECT CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
            + sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS batch_total
  FROM documents
),
manifest AS (
  SELECT CASE WHEN {split_bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {split_bucket} < {SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         {shard} AS shard,
         count(*) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         CAST(bit_xor({duck_md5_long('text')}) AS BIGINT) AS content_checksum
  FROM release GROUP BY 1, 2
)
SELECT m.split, m.shard, m.n_docs, m.total_chars, m.content_checksum,
       s.release_docs, s.ids_unique, s.batch_kept,
       bt.batch_total - s.batch_kept AS batch_dropped
FROM manifest m, stats s, bt
"""


MIX_WEIGHT_CAP = 5.0  # oversampling cap: no source repeats >5 epochs


def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-MIXING weights: per source, the sampling weight that moves
    the corpus toward a UNIFORM token share across sources (weight =
    target_share / current_share, capped at {MIX_WEIGHT_CAP}×) plus
    the token allocation that weight implies — the computation behind
    temperature/target reweighting of training mixtures.  The
    math-side counterpart of :func:`pipeline_balance_sources` (which
    physically downsamples to exact quotas): at 100 TB you compute
    THIS tiny table first and feed it to the sampler/loader.

    Determinism: token counts are exact ints; shares and weights are
    IEEE divisions of identical operands; the allocation uses
    ``floor`` (identical on both engines — ``round``'s half-way rule
    is engine-ambiguous).

    Scale: one narrow map (token count per doc, no explode) + one
    source-keyed agg; the share/weight windows run over
    source-cardinality rows (bounded: data sources are curated lists,
    not corpus-sized)."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.expr(f"size({words_sql('text')})").alias(
            "n"
        ),
    )
    per_src = per_doc.groupBy("source").agg(F.sum("n").alias("n_tokens"))
    w_all = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all).cast(
        "double"
    )
    target = F.lit(1.0) / F.count(F.lit(1)).over(w_all).cast("double")
    weight = F.least(target / share, F.lit(MIX_WEIGHT_CAP))
    return per_src.select(
        "source",
        "n_tokens",
        share.alias("share"),
        weight.alias("weight"),
        F.floor(weight * F.col("n_tokens").cast("double")).cast("long").alias(
            "alloc_tokens"
        ),
    )


_MIXTURE_WEIGHTS_ORACLE = f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(list_filter({duck_tokens('text')},
                                  x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS share,
       least((1.0 / CAST(count(*) OVER () AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)),
             {MIX_WEIGHT_CAP}) AS weight,
       CAST(floor(least((1.0 / CAST(count(*) OVER () AS DOUBLE))
                        / (CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)),
                        {MIX_WEIGHT_CAP}) * CAST(n_tokens AS DOUBLE)) AS BIGINT)
         AS alloc_tokens
FROM per_src
"""


DRIFT_BIN_WIDTH = 64
DRIFT_BINS = 10
DRIFT_Q = 1_000_000_000  # PSI contributions quantized to 1e-9


def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-DRIFT detection between two corpus snapshots via
    the Population Stability Index — the monitoring check that pages a
    pipeline owner when a crawl refresh shifts the data (here: the
    document-length distribution, binned fixed-width).  PSI =
    Σ_bins (p_a − p_b)·ln(p_a/p_b) with Laplace-smoothed bin
    probabilities (so empty bins are defined); PSI < 0.1 is the
    conventional "no significant shift" line.  Snapshot 2 reuses
    :func:`corpus_snapshot_diff`'s crawl-refresh recipe, so the drift
    this measures is exactly the change that query itemizes.

    Determinism: counts are exact; probabilities divide exact ints as
    doubles in the same op order on both engines; each bin's
    contribution is quantized to integer 1e-9 units so the global PSI
    is an order-free INTEGER sum (a raw double Σ would depend on
    partition order — the same discipline as the Zipf fit's quantized
    logs).  The bin spine is generated 0..{DRIFT_BINS}, so bins empty
    in both snapshots still contribute their (tiny) smoothing term.

    Scale: two keyed {DRIFT_BINS}-group counts + constant-size spine
    joins; the window sums run over {DRIFT_BINS} rows."""
    from ..sources.tables import power10_base

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = power10_base(d, "doc_id")
    v2 = (
        d.where(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" [recrawl]")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 11 == 0)
            .crossJoin(F.broadcast(base))
            .select((F.col("doc_id") + F.col("idbase")).alias("doc_id"), "text")
        )
    )
    bin_expr = F.expr(
        f"CAST(least(length(text) div {DRIFT_BIN_WIDTH}, {DRIFT_BINS - 1}) AS INT)"
    )
    fa = d.select(bin_expr.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    fb = v2.select(bin_expr.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    spine = spark.range(DRIFT_BINS).select(F.col("id").cast("int").alias("bin"))
    joined = (
        spine.join(F.broadcast(fa), "bin", "left")
        .join(F.broadcast(fb), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    w_all = Window.partitionBy()
    pa = (F.col("n_a") + F.lit(1)).cast("double") / (
        F.sum("n_a").over(w_all) + F.lit(DRIFT_BINS)
    ).cast("double")
    pb = (F.col("n_b") + F.lit(1)).cast("double") / (
        F.sum("n_b").over(w_all) + F.lit(DRIFT_BINS)
    ).cast("double")
    contrib = F.round((pa - pb) * F.log(pa / pb) * DRIFT_Q).cast("long")
    return (
        joined.select("bin", "n_a", "n_b", contrib.alias("contrib_e9"))
        .select(
            "bin",
            "n_a",
            "n_b",
            "contrib_e9",
            F.sum("contrib_e9").over(w_all).alias("psi_e9"),
        )
    )


def _distribution_drift_oracle() -> str:
    return f"""
WITH d AS (SELECT doc_id, text FROM documents),
ib AS (
  SELECT CAST(power(10, ceil(log10(max(doc_id) + 1))) AS BIGINT) AS idbase
  FROM documents
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawl]' ELSE text END AS text
  FROM d WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + ib.idbase, text FROM d, ib WHERE doc_id % 11 = 0
),
fa AS (
  SELECT CAST(least(length(text) // {DRIFT_BIN_WIDTH}, {DRIFT_BINS - 1}) AS INTEGER) AS bin,
         count(*) AS n_a
  FROM d GROUP BY 1
),
fb AS (
  SELECT CAST(least(length(text) // {DRIFT_BIN_WIDTH}, {DRIFT_BINS - 1}) AS INTEGER) AS bin,
         count(*) AS n_b
  FROM v2 GROUP BY 1
),
spine AS (SELECT CAST(unnest(generate_series(0, {DRIFT_BINS - 1})) AS INTEGER) AS bin),
joined AS (
  SELECT s.bin, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM spine s LEFT JOIN fa USING (bin) LEFT JOIN fb USING (bin)
),
p AS (
  SELECT bin, n_a, n_b,
         CAST(n_a + 1 AS DOUBLE) / CAST(sum(n_a) OVER () + {DRIFT_BINS} AS DOUBLE) AS pa,
         CAST(n_b + 1 AS DOUBLE) / CAST(sum(n_b) OVER () + {DRIFT_BINS} AS DOUBLE) AS pb
  FROM joined
),
c AS (
  SELECT bin, n_a, n_b,
         CAST(round((pa - pb) * ln(pa / pb) * {DRIFT_Q}) AS BIGINT) AS contrib_e9
  FROM p
)
SELECT bin, n_a, n_b, contrib_e9,
       CAST(sum(contrib_e9) OVER () AS BIGINT) AS psi_e9
FROM c
"""


def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test SPLIT-LEAKAGE audit — the check every benchmark-safe
    release runs: content that appears under MULTIPLE doc_ids straddles
    the id-hash split with probability 1-Σp² (the split hashes the ID,
    duplicates draw independently), silently leaking training content
    into test.  Emits one row per leaked content hash with the splits
    it reached and the doc count.  Run over the PRE-dedup ingest state
    (documents ∪ the simulated re-crawl batch of
    :func:`~.dedup.dedup_incremental`, before its anti-join) — the
    exact situation the audit exists for, and the reason the release
    chain (:func:`pipeline_corpus_release`) dedups BEFORE splitting.

    Scale: one sha256-keyed shuffle over (hash, split) — the
    dedup_exact shape; no documents move after the hash projection."""
    from ..functions.text import md5_long
    from ..sources.tables import power10_base

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = power10_base(d, "doc_id")
    recrawl = (
        d.where(F.col("doc_id") % 3 == 0)
        .crossJoin(F.broadcast(base))
        .select((F.col("doc_id") + F.col("idbase")).alias("doc_id"), "text")
    )
    corpus = d.unionByName(recrawl)
    bucket = md5_long(F.col("doc_id"), salt="split") % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    tagged = corpus.select(
        F.sha2(ascii_lower(F.trim("text")), 256).alias("content_hash"),
        split.alias("split"),
    )
    return (
        tagged.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("split")), "|").alias(
                "splits"
            ),
        )
        .where(F.size(F.split("splits", r"\|")) > 1)
        .select("content_hash", "n_docs", "splits")
    )


def _split_leakage_oracle() -> str:
    from ..functions.text import duck_md5_long

    bucket = f"{duck_md5_long('CAST(doc_id AS VARCHAR)', salt='split')} % 100"
    return f"""
WITH ib AS (
  SELECT CAST(power(10, ceil(log10(max(doc_id) + 1))) AS BIGINT) AS idbase
  FROM documents
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + ib.idbase, text FROM documents, ib WHERE doc_id % 3 = 0
),
tagged AS (
  SELECT sha256({_DUCK_LC_TEXT}) AS content_hash,
         CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {bucket} < {SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM corpus
)
SELECT content_hash, count(*) AS n_docs,
       string_agg(DISTINCT split, '|' ORDER BY split) AS splits
FROM tagged
GROUP BY content_hash
HAVING count(DISTINCT split) > 1
"""


#: importance-sampling weight cap: keep probability = min(n_tokens,
#: IMP_CAP)/IMP_CAP — longer documents kept proportionally more, pure
#: integer arithmetic so the accept test is bit-exact on both engines.
IMP_CAP = 80


def pipeline_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling: each document is kept
    with probability proportional to a quality proxy (token count,
    capped) — the curation shape behind importance/temperature
    resampling of web corpora, where higher-quality sources are
    oversampled rather than hard-filtered.  Differs from
    :func:`sample_stratified` (fixed per-stratum rates) in that the
    rate is a PER-DOCUMENT function.

    Determinism without rand(): accept iff
    ``md5(doc_id,'imp') % {IMP_CAP} < min(n_tokens, {IMP_CAP})`` —
    integer-only, reproducible across engines, partitionings, and
    reruns (the same never-rand policy as every sampler here).

    Scale: narrow map + filter, no shuffle at all; the accept
    decision needs only the row."""
    from ..functions.text import md5_long

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text"))
    w = F.least(n_tokens, F.lit(IMP_CAP))
    accept = md5_long(F.col("doc_id"), salt="imp") % IMP_CAP < w
    return (
        d.select("doc_id", n_tokens.alias("n_tokens"), w.alias("weight"))
        .where(accept)
    )


def _importance_sample_oracle() -> str:
    from ..functions.text import duck_md5_long

    h = duck_md5_long("CAST(doc_id AS VARCHAR)", salt="imp")
    return f"""
SELECT doc_id,
       len({duck_tokens('text')}) AS n_tokens,
       least(len({duck_tokens('text')}), {IMP_CAP}) AS weight
FROM documents
WHERE {h} % {IMP_CAP}
      < least(len({duck_tokens('text')}), {IMP_CAP})
"""


def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF data-prep step:
    within each group (source here stands in for the prompt/task
    group), pair the highest-quality response as CHOSEN against the
    lowest-quality as REJECTED, with the quality margin carried for
    filtering weak pairs downstream.  Quality is a deterministic
    integer proxy (distinct-token count — lexical diversity); ties
    break to the smaller doc_id on both sides, and degenerate groups
    (fewer than 2 docs, or no quality spread) emit nothing.

    Scale: one narrow scoring map + ONE keyed aggregation using
    max_by/min_by struct argmax (the round-7 pattern: no per-group
    window sort of the corpus-sized frame — single-pass partial aggs).
    """
    scored = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            "doc_id",
            F.expr(
                f"cast(size(array_distinct({words_sql('text')})) as bigint)"
            ).alias("score"),
        )
    )
    pairs = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("max_by(struct(doc_id, score), struct(score, -doc_id))").alias("c"),
        F.expr("min_by(struct(doc_id, score), struct(score, doc_id))").alias("r"),
    )
    return (
        pairs.where((F.col("n_docs") >= 2) & (F.col("c.doc_id") != F.col("r.doc_id")))
        .select(
            "source",
            F.col("c.doc_id").alias("chosen_id"),
            F.col("c.score").alias("chosen_score"),
            F.col("r.doc_id").alias("rejected_id"),
            F.col("r.score").alias("rejected_score"),
            (F.col("c.score") - F.col("r.score")).alias("margin"),
        )
    )


_PREFERENCE_PAIRS_ORACLE = f"""
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(list_distinct(list_filter({duck_tokens('text')},
              x -> length(x) > 0))) AS BIGINT) AS score
  FROM documents
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rb,
         row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id ASC) AS rw,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
)
-- IS NOT DISTINCT FROM, not USING: the Spark side is ONE groupBy, and
-- a NULL source is a legitimate GROUP there (round-11 all-NULL audit);
-- an equi-join on source would silently drop the NULL group's pair.
SELECT b.source, b.doc_id AS chosen_id, b.score AS chosen_score,
       w.doc_id AS rejected_id, w.score AS rejected_score,
       b.score - w.score AS margin
FROM (SELECT * FROM r WHERE rb = 1) b
JOIN (SELECT * FROM r WHERE rw = 1) w
  ON b.source IS NOT DISTINCT FROM w.source
WHERE b.n >= 2 AND b.doc_id != w.doc_id
"""


SPECS = [
    QuerySpec("pipeline_contrastive_pairs", pipeline_contrastive_pairs,
              _contrastive_oracle(),
              "CLIP-style contrastive pair construction with cyclic-shift "
              "derangement negatives (no-fixed-point invariant gated)"),
    QuerySpec("pipeline_preference_pairs", pipeline_preference_pairs,
              _PREFERENCE_PAIRS_ORACLE,
              "DPO-style chosen/rejected pair construction per group "
              "(single-pass max_by/min_by argmax, quality margins)"),
    QuerySpec("pipeline_end_to_end", pipeline_end_to_end, _PIPELINE_ORACLE,
              "composed quality→dedup→lang→stats pipeline"),
    QuerySpec("pipeline_rag_end_to_end", pipeline_rag_end_to_end, _rag_oracle(),
              "composed RAG chain: chunk → hash-embed → integer-dot "
              "retrieve → best-chunk-per-doc → top-k"),
    QuerySpec("corpus_snapshot_diff", corpus_snapshot_diff, _SNAPSHOT_DIFF_ORACLE,
              "crawl-refresh changelog: added/removed/changed via narrow "
              "hash-projected full-outer join (inverse of table_merge_cdc)"),
    QuerySpec("pipeline_corpus_release", pipeline_corpus_release,
              _corpus_release_oracle(),
              "composed release chain: ingest dedup → hash split → "
              "shard manifest → gate columns under one oracle"),
    QuerySpec("pipeline_split_leakage", pipeline_split_leakage,
              _split_leakage_oracle(),
              "train/test leakage audit: duplicate content straddling "
              "the id-hash split (sha256-keyed shuffle)"),
    QuerySpec("dq_distribution_drift", dq_distribution_drift,
              _distribution_drift_oracle(),
              "PSI drift between corpus snapshots (Laplace-smoothed bins, "
              "integer-quantized contributions, order-free sum)"),
    QuerySpec("pipeline_mixture_weights", pipeline_mixture_weights,
              _MIXTURE_WEIGHTS_ORACLE,
              "data-mixing weights toward uniform token share (capped "
              "target/current ratio + floor allocation)"),
    QuerySpec("pipeline_importance_sample", pipeline_importance_sample,
              _importance_sample_oracle(),
              "per-document quality-weighted deterministic sampling "
              "(integer md5 accept test, never rand)"),
    QuerySpec("pipeline_shard_manifest", pipeline_shard_manifest, _shard_manifest_oracle(),
              "deterministic shard assignment + order-free content-checksum manifest"),
    QuerySpec("pipeline_balance_sources", pipeline_balance_sources, _BALANCE_ORACLE,
              "exact-count domain-mixing downsample (md5 rank per source + quota broadcast)"),
    QuerySpec("bm25_rank", bm25_rank, _BM25_ORACLE,
              "BM25 top-10 for a fixed query term set"),
    QuerySpec("rerank_mmr", rerank_mmr, _mmr_oracle(),
              "MMR diversity reranking: BM25 nominates, greedy "
              "λ·rel − (1−λ)·max-Jaccard selection over the bounded "
              "candidate set (oracle = unrolled per-step argmax CTEs)"),
    QuerySpec("rerank_crossencoder", rerank_crossencoder, _RERANK_ORACLE,
              "retrieve→rerank: BM25 candidates re-scored pairwise in "
              "mapInPandas (bounded candidate set, model-swap-ready)"),
    QuerySpec("tfidf_cosine_rank", tfidf_cosine_rank, _TFIDF_COSINE_ORACLE,
              "full-vector tf-idf cosine top-10 (integer-quantized weights, order-free norms)"),
    QuerySpec("pipeline_pack_sequences", pipeline_pack_sequences, _PACK_ORACLE,
              "concat-and-chunk sequence packing into 512-token context windows per source shard"),
    QuerySpec("sample_stratified", sample_stratified, _stratified_oracle(),
              "deterministic md5-bucket stratified sampling with per-language rates"),
    QuerySpec("pipeline_hash_split", pipeline_hash_split, _hash_split_oracle(),
              "deterministic train/val/test split manifest (md5 buckets, per-source shares)"),
    QuerySpec("pipeline_budget_select", pipeline_budget_select, _BUDGET_SELECT_ORACLE,
              "global token-budget take-while via the two-pass distributed prefix sum"),
    QuerySpec("pipeline_epoch_shuffle", pipeline_epoch_shuffle, _epoch_shuffle_oracle(),
              "reproducible per-epoch corpus permutations (shard-local md5 ranks, never rand)"),
]
