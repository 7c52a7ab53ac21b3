"""Text analysis operators — language-ID, quality scoring, token
counting, document fingerprinting, TF-IDF.

These generalize the reference's scalar text stages (tokenize / strip /
lower, ``map_reduce.cpp:152-171``) into the analysis passes an LLM data
pipeline runs over a crawl.  Everything is Column expressions (lambda
higher-order functions stay inside codegen); nothing leaves the JVM.

Scale: every query here is a narrow map over documents plus at most
one keyed aggregate — the 100 TB cost is one scan.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution
import pyspark.sql.functions as F

from ..functions.text import (
    ascii_lower, duck_ascii_lower, duck_strip_punct, duck_tokens, duck_word_ngrams,
    duck_words, strip_punct, tokens, word_ngrams, words, words_sql,
)
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import QuerySpec
from ..sources.tables import load_table

#: oracle-side casefold fragment from the ONE canonical helper (ADVICE r11)
_DUCK_LC_TEXT = duck_ascii_lower("text")

# marker stopwords per language, fixed priority order for argmax ties
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "von", "nicht", "ein"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "los", "y", "en", "que", "un"),
    "fr": ("le", "la", "les", "de", "et", "un", "en", "est"),
    "zh": ("的", "是", "不", "了", "在", "人"),
}

EN_STOPWORDS = LANG_MARKERS["en"]


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# 1. language identification (marker-token heuristic)
# ---------------------------------------------------------------------------

def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict language by counting per-language marker tokens; argmax
    with a fixed priority chain (first language in sorted order wins
    ties) so the prediction is deterministic on every engine."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", "lang", tokens("text").alias("t"))
    for lang, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{w}'" for w in markers)
        d = d.withColumn(f"s_{lang}", F.expr(f"size(filter(t, x -> x in ({inlist})))"))
    score_cols = [F.col(f"s_{lang}") for lang in LANG_MARKERS]
    best = F.greatest(*score_cols)
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # build chain so earliest wins
        pred = F.when(F.col(f"s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return d.select("doc_id", "lang", *[f"s_{lang}" for lang in LANG_MARKERS], pred.alias("lang_pred"))


def _langid_oracle() -> str:
    score_exprs = ",\n       ".join(
        f"len(list_filter(t, x -> x IN ({_sql_list(m)}))) AS s_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    chain = "'und'"
    for lang in reversed(langs):
        chain = f"CASE WHEN s_{lang} = {best} THEN '{lang}' ELSE {chain} END"
    return f"""
WITH toks AS (SELECT doc_id, lang, {duck_tokens('text')} AS t FROM documents),
scored AS (
  SELECT doc_id, lang,
       {score_exprs}
  FROM toks
)
SELECT doc_id, lang, {", ".join(f"s_{lang}" for lang in langs)},
       CASE WHEN {best} = 0 THEN 'und' ELSE {chain} END AS lang_pred
FROM scored
"""


# ---------------------------------------------------------------------------
# 2. quality scoring
# ---------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features and a
    keep/drop flag — the first filter stage of a training-data
    pipeline."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", "text", tokens("text").alias("t"))
    n_chars = F.length("text")
    n_tokens = F.size("t")
    sum_tok_len = F.expr("aggregate(t, 0, (acc, x) -> acc + length(x))")
    n_punct = n_chars - F.length(strip_punct("text"))
    inlist = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    n_stop = F.expr(f"size(filter(t, x -> x in ({inlist})))")
    avg_tok = sum_tok_len / n_tokens
    # n_chars can be 0 (round-11 catch: an EMPTY document is legal
    # input; Spark ANSI hard-errors on 0/0 while DuckDB NULLs it).
    # Define punct_ratio of empty text as 0.0 — identical exact
    # predicate on both engines, and it keeps the column non-NULL so
    # downstream ordering/filters never hit engine NULL-order skew.
    # n_tokens is never 0: tokens('') is [''] on both engines.
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = n_stop / n_tokens
    keep = (
        (n_tokens >= 5)
        & (n_tokens <= 100000)
        & (avg_tok >= 2)
        & (avg_tok <= 20)
        & (punct_ratio <= 0.2)
    )
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        keep.alias("keep"),
    )


_QUALITY_ORACLE = f"""
WITH toks AS (SELECT doc_id, text, {duck_tokens('text')} AS t FROM documents)
SELECT doc_id,
       length(text) AS n_chars,
       len(t) AS n_tokens,
       list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) AS avg_token_len,
       CASE WHEN length(text) > 0 THEN (length(text) - length({duck_strip_punct('text')})) * 1.0 / length(text) ELSE 0.0 END AS punct_ratio,
       len(list_filter(t, x -> x IN ({_sql_list(EN_STOPWORDS)}))) * 1.0 / len(t) AS stopword_ratio,
       (len(t) >= 5 AND len(t) <= 100000
        AND list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) BETWEEN 2 AND 20
        AND CASE WHEN length(text) > 0 THEN (length(text) - length({duck_strip_punct('text')})) * 1.0 / length(text) ELSE 0.0 END <= 0.2)
         AS keep
FROM toks
"""


# ---------------------------------------------------------------------------
# 3. token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

#: letter runs / digit runs / single non-alnum — a crude BPE-style
#: pre-tokenizer whose regex behaves identically in Java and RE2.
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len({duck_tokens('text')}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# 4. document fingerprinting (k-min hash of char 8-grams)
# ---------------------------------------------------------------------------

SHINGLE_CHARS = 8
FP_K = 3


def _fp_batch():
    """Arrow-batched k-min md5 fingerprint (round 16, guide §4.1/§4.2
    — replaces an interpreted ``transform(sequence, i -> md5(
    substring))`` chain that paid a fresh JVM MessageDigest per
    position, ~2 µs/char, measured 46.8 s single-task at the 100×
    stress fixture).  Exact equivalence with the retired expression
    and the unchanged oracle:

    * Spark ``substring(text, i, 8)`` counts CODE POINTS, exactly
      Python ``str`` slicing; md5 runs over the UTF-8 bytes either
      way (an ASCII fast path slices the encoded bytes directly —
      byte slices == char slices there).
    * distinct commutes with md5: {md5(s) | s ∈ all grams} ==
      {md5(s) | s ∈ distinct grams} as SETS, so deduplicating the
      grams FIRST (the fixture vocabulary repeats 8-grams heavily;
      English does too) is exact, not approximate.
    * hex digests are ASCII, so Python's sort order == Spark's UTF8
      binary array_sort; ``heapq.nsmallest(K)`` == sorted()[:K].

    Returns the plain batch function (unit-tested without a Spark
    session); :func:`text_fingerprint` wraps it as a
    ``pandas_udf("string")``."""
    import hashlib
    import heapq

    md5 = hashlib.md5
    w = SHINGLE_CHARS

    def fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t.isascii():
                b = t.encode()
                grams = {b[i : i + w] for i in range(len(b) - w + 1)}
                smallest = heapq.nsmallest(
                    FP_K, (md5(g).hexdigest() for g in grams)
                )
            else:
                grams_s = {t[i : i + w] for i in range(len(t) - w + 1)}
                smallest = heapq.nsmallest(
                    FP_K, (md5(g.encode()).hexdigest() for g in grams_s)
                )
            out.append(",".join(smallest))
        return pd.Series(out, dtype="object")

    return fp


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-shingle fingerprint: md5 every char-8-gram, keep the K
    lexicographically smallest digests (a deterministic winnowing
    sketch).  One Arrow-batched narrow map (:func:`_fp_batch`), no
    explode, no shuffle — the round-15 interpreted HOF spelling paid
    one JVM MessageDigest construction per character position."""
    from pyspark.sql.functions import pandas_udf

    d = (
        load_table(spark, sf_dir, "documents", cpu_heavy=True)
        .where(F.length("text") >= SHINGLE_CHARS)
        .select("doc_id", "text")
    )
    fp = pandas_udf("string")(_fp_batch())
    return d.select("doc_id", fp("text").alias("fingerprint"))


_FINGERPRINT_ORACLE = f"""
SELECT doc_id,
       array_to_string(list_sort(list_distinct(
         list_transform(generate_series(1, length(text) - {SHINGLE_CHARS - 1}),
                        i -> md5(substr(text, i, {SHINGLE_CHARS})))
       ))[1:{FP_K}], ',') AS fingerprint
FROM documents
WHERE length(text) >= {SHINGLE_CHARS}
"""


# ---------------------------------------------------------------------------
# 5. document chunking (token windows with overlap)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pre-training / RAG chunker (here 50 tokens, stride 40).

    Pure array expressions: sequence of window starts → slice → join;
    one explode, no shuffle, no Python.  At 100 TB this is a narrow
    map whose output feeds tokenize/pack stages downstream."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", tokens("text").alias("t")).where(F.size("t") > 0)
    starts = F.expr(f"sequence(0, size(t) - 1, {CHUNK_STRIDE})")
    return (
        d.select("doc_id", "t", F.size("t").alias("n_tokens"), F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(f"concat_ws(' ', slice(t, start + 1, {CHUNK_TOKENS}))").alias("chunk_text"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n_tokens") - F.col("start")).alias("chunk_len"),
        )
    )


_CHUNKING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {duck_tokens('text')} AS t FROM documents
  WHERE len({duck_tokens('text')}) > 0
),
chunks AS (
  SELECT doc_id, t, len(t) AS n_tokens,
         unnest(generate_series(0, len(t) - 1, {CHUNK_STRIDE})) AS start,
         generate_subscripts(generate_series(0, len(t) - 1, {CHUNK_STRIDE}), 1) - 1 AS chunk_idx
  FROM toks
)
SELECT doc_id, chunk_idx,
       array_to_string(t[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text,
       least({CHUNK_TOKENS}, n_tokens - start) AS chunk_len
FROM chunks
"""


# ---------------------------------------------------------------------------
# 6. TF-IDF top term per document
# ---------------------------------------------------------------------------

def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-tf-idf term per document.

    Two keyed aggregates (term-per-doc, doc-frequency) + a broadcast
    scalar N + one window — the classic distributed TF-IDF shape.
    tf-idf is rounded to 9 dp before ranking so libm ln() last-ulp
    differences can't reorder ties across engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term")).where(
        F.length("term") > 0
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 9))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tfidf")
    )


_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks WHERE length(term) > 0 GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n_docs * 1.0 / df.df), 9) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term AS top_term, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


def text_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the cleanest half of each language by punctuation ratio —
    quantile-based quality filtering, the relative counterpart of
    :func:`text_quality`'s absolute thresholds (real pipelines cut at a
    per-language percentile because absolute cutoffs don't transfer
    across languages).

    Determinism: the score is one double division (bit-identical on
    both engines) and percent_rank is (rank-1)/(N-1) with a doc_id tie
    break.  Scale: one keyed shuffle on lang for the window; with a
    skewed language distribution you would pre-aggregate an approximate
    per-lang threshold instead (see agg_approx_quantile)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # empty-text guard mirrors text_quality: ratio := 0.0 when length
    # is 0 (ANSI 0/0 on Spark, NULL-order skew in the window otherwise)
    punct_ratio = F.when(
        F.length("text") > 0,
        (F.length("text") - F.length(strip_punct("text")))
        / F.length("text"),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("lang").orderBy("punct_ratio", "doc_id")
    return (
        d.withColumn("punct_ratio", punct_ratio)
        .withColumn("pr", F.percent_rank().over(w))
        .where(F.col("pr") <= 0.5)
        .select("doc_id", "lang", F.round("punct_ratio", 9).alias("punct_ratio"))
    )


_QUANTILE_FILTER_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN length(text) > 0 THEN
           (length(text) - length({duck_strip_punct('text')})) * 1.0
           / length(text) ELSE 0.0 END AS punct_ratio
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, punct_ratio,
         percent_rank() OVER (PARTITION BY lang ORDER BY punct_ratio, doc_id) AS pr
  FROM scored
)
SELECT doc_id, lang, round(punct_ratio, 9) AS punct_ratio
FROM ranked WHERE pr <= 0.5
"""


RAKE_TOPK = 15
RAKE_SCALE = 1000  # word scores quantized to milli-units (order-free sums)


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus —
    the unsupervised indexing/tagging pass a retrieval pipeline runs
    at ingest: candidate phrases are maximal stopword-free token runs
    (gaps-and-islands on non-stopword positions), each word scores
    degree/frequency over the phrase co-occurrence graph, and a
    phrase scores the sum of its member words; the corpus-wide top
    {RAKE_TOPK} phrases come out with their occurrence counts.

    Determinism: the word score is QUANTIZED to integer milli-units
    at the division ((degree·{RAKE_SCALE}) div freq) — phrase scores
    are then integer sums, order-free under any partitioning, where a
    float sum over phrase members would be partitioning-sensitive
    (same trick as the quantized-ln NLL in text_lm_perplexity).
    Phrase strings are rebuilt by position-sorted aggregation, so
    identical phrases collapse with identical scores by construction.

    Scale: one keyed word-stats agg (freq/degree), one keyed join of
    member words to scores, one (doc, run) agg, one phrase-string
    agg, TakeOrdered top-k — every shuffle keyed, no vocabulary
    broadcast (the score join ships only phrase-member rows)."""
    d = load_table(spark, sf_dir, "documents")
    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    toks = (
        d.select(
            "doc_id", F.posexplode(tokens("text")).alias("p", "term")
        )
        .where(F.length("term") > 0)
        .where(~F.expr(f"term IN ({stop})"))
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = toks.withColumn("grp", F.col("p") - F.row_number().over(w))
    # phrase instance stats: length of the run each occurrence sits in
    inst = runs.withColumn(
        "run_len", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "grp"))
    )
    word_stats = inst.groupBy("term").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("run_len").alias("degree"),
    )
    scored = word_stats.select(
        "term", F.expr(f"(degree * {RAKE_SCALE}) div freq").alias("wscore")
    )
    phrases = (
        runs.join(scored, "term")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(p, term))), s -> s.term)"),
                " ",
            ).alias("phrase"),
            F.sum("wscore").alias("score_milli"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score_milli").alias("score_milli"),
        )
        .orderBy(F.desc("score_milli"), F.asc("phrase"))
        .limit(RAKE_TOPK)
        .select("phrase", "score_milli", "n_occurrences")
    )


def _rake_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, s['p'] AS p, s['term'] AS term FROM (
    SELECT doc_id,
           unnest(list_transform({duck_tokens('text')},
                  (x, i) -> {{'p': i - 1, 'term': x}})) AS s
    FROM documents)
  WHERE length(s['term']) > 0 AND s['term'] NOT IN ({stop})
),
runs AS (
  SELECT *, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM toks
),
inst AS (
  SELECT *, count(*) OVER (PARTITION BY doc_id, grp) AS run_len FROM runs
),
ws AS (
  SELECT term, (sum(run_len) * {RAKE_SCALE}) // count(*) AS wscore
  FROM inst GROUP BY term
),
ph AS (
  SELECT doc_id, grp,
         string_agg(term, ' ' ORDER BY p) AS phrase,
         sum(wscore) AS score_milli
  FROM runs JOIN ws USING (term)
  GROUP BY doc_id, grp
)
SELECT phrase,
       CAST(max(score_milli) AS BIGINT) AS score_milli,
       count(*) AS n_occurrences
FROM ph GROUP BY phrase
ORDER BY score_milli DESC, phrase ASC
LIMIT {RAKE_TOPK}
"""


SPAN_G = 8     # gram width for duplicate-span detection (tokens)
SPAN_MIN = 12  # minimum reported duplicated span (tokens)


def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN detection — the ExactSubstr half of
    training-data dedup (Lee et al. 2022): find every maximal run of
    ≥ {SPAN_MIN} tokens that also occurs verbatim in ANOTHER document,
    reported as per-doc (start, end) spans for surgical removal (a
    boilerplate footer repeated across a crawl, a license block, a
    quoted passage) — document-level near-dup keeps or drops whole
    docs; this finds the shared substrings inside otherwise-unique
    ones.

    Distributed shape, all keyed: (1) each doc's {SPAN_G}-gram md5
    keys come from ONE narrow transform-with-index over the token
    array (no per-doc window, no self-join); (2) grams occurring in
    ≥ 2 distinct docs are a keyed agg on the gram hash — the word
    count shape on gram keys; (3) hit positions collapse to maximal
    spans with the gaps-and-islands transform (pos − row_number is
    constant within a consecutive run) under a per-doc window —
    bounded by document length, never corpus-wide.  Hash collisions
    (60-bit md5) are corpus-negligible and the oracle computes the
    identical hash, so parity is unconditional."""
    d = load_table(spark, sf_dir, "documents", cpu_heavy=True).select("doc_id", "text")
    # materialize the token array ONCE per row before the per-position
    # lambda: referencing filter(split(text)) INSIDE transform()
    # re-tokenizes the document at every position — O(len²) per doc,
    # measured 15.0 s vs 2.6 s at sf0.1 for an identical result
    gram_hash = (
        f"CAST(conv(substr(md5(concat_ws(' ', slice(ts, i + 1, {SPAN_G}))), "
        f"1, 15), 16, 10) AS BIGINT)"
    )
    grams = (
        d.select(
            "doc_id",
            words("text").alias("ts"),
        )
        .where(F.expr(f"size(ts) >= {SPAN_G}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(ts, (x, i) -> CASE "
                    f"WHEN i + {SPAN_G} <= size(ts) "
                    f"THEN struct(i AS p, {gram_hash} AS gh) END)"
                )
            ).alias("s"),
        )
        .where(F.col("s").isNotNull())
        .select("doc_id", F.col("s.p").alias("p"), F.col("s.gh").alias("gh"))
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    hits = grams.join(dup, "gh")
    w = Window.partitionBy("doc_id").orderBy("p")
    return (
        hits.withColumn("grp", F.col("p") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + SPAN_G - 1).alias("span_end"),
            (F.max("p") - F.min("p") + SPAN_G).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .where(F.col("span_tokens") >= SPAN_MIN)
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            F.col("span_tokens").cast("long").alias("span_tokens"),
            "n_grams",
        )
    )


_DUP_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter({duck_tokens('text')},
                             x -> length(x) > 0) AS ts
  FROM documents
),
g AS (
  SELECT doc_id, s['p'] AS p, s['gh'] AS gh FROM (
    SELECT doc_id,
           unnest(list_transform(ts, (x, i) -> {{'p': i - 1,
             'gh': CASE WHEN i + {SPAN_G} - 1 <= len(ts)
                        THEN ('0x' || substr(md5(array_to_string(
                               list_slice(ts, i, i + {SPAN_G} - 1), ' ')), 1, 15))::BIGINT
                   END}})) AS s
    FROM toks WHERE len(ts) >= {SPAN_G})
  WHERE s['gh'] IS NOT NULL
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
h AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM g JOIN dup USING (gh)
)
SELECT doc_id,
       CAST(min(p) AS BIGINT) AS span_start,
       CAST(max(p) + {SPAN_G} - 1 AS BIGINT) AS span_end,
       CAST(max(p) - min(p) + {SPAN_G} AS BIGINT) AS span_tokens,
       count(*) AS n_grams
FROM h GROUP BY doc_id, grp
HAVING max(p) - min(p) + {SPAN_G} >= {SPAN_MIN}
"""


ROLL_BASE = 31
ROLL_MOD = 1_000_000_007


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial (Rabin-Karp-style) rolling-hash fingerprint over the
    token stream: h = fold((acc·31 + v) mod 1e9+7) where v is each
    token's md5-derived byte.  Order-SENSITIVE by construction — unlike
    the k-min shingle fingerprint (:func:`text_fingerprint`), permuted
    documents get different fingerprints, which is what you want for
    exact-order dedup keys.  A pure map (one fold per doc), no shuffle;
    all integer math, so bit-identical on every engine."""
    d = load_table(spark, sf_dir, "documents")
    tok_vals = (
        f"transform({words_sql('text')}, "
        "t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) % 256)"
    )
    fp = F.expr(
        f"aggregate({tok_vals}, 0L, (acc, v) -> (acc * {ROLL_BASE} + v) % {ROLL_MOD})"
    )
    n_tok = F.expr(f"size({words_sql('text')})").cast("long")
    return d.select("doc_id", n_tok.alias("n_tokens"), fp.alias("fingerprint"))


_ROLLING_ORACLE = f"""
SELECT doc_id,
       CAST(len({duck_words('text')}) AS BIGINT) AS n_tokens,
       list_reduce(
         list_prepend(0, list_transform(
           {duck_words('text')},
           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 256)),
         (acc, v) -> (acc * {ROLL_BASE} + v) % {ROLL_MOD}) AS fingerprint
FROM documents
"""


#: PII patterns shared verbatim between Spark (java.util.regex) and
#: DuckDB (RE2) — restricted to the dialect intersection: character
#: classes, bounded quantifiers, alternation; no lookaround, no
#: backreferences.
PII_URL = r"https?://[A-Za-z0-9./_-]+"
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+1-555-[0-9]{4}"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before anything else: URLs, emails, and phone numbers are
    replaced with typed placeholder tokens via ``regexp_replace``.

    The fixture corpus is synthetic and contains no PII, so the query
    first APPENDS deterministic per-doc PII (an email, a URL and a
    phone number derived from doc_id) — the scrub is then genuinely
    exercised and the oracle checks both the redacted text (md5) and
    the per-type match counts.  Order matters: URLs are scrubbed
    before emails so an address inside a URL path is not half-eaten.

    Scale: a pure narrow map — no shuffle, no UDF; regexp_replace is
    JVM codegen, linear in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.com/u/"),
        F.col("doc_id").cast("string"),
        F.lit(" or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(pii_text, PII_URL, "<URL>"),
            PII_EMAIL,
            "<EMAIL>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.md5(scrubbed).alias("scrub_md5"),
        F.regexp_count(pii_text, F.lit(PII_URL)).alias("n_urls"),
        F.regexp_count(pii_text, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(pii_text, F.lit(PII_PHONE)).alias("n_phones"),
    )


_PII_SCRUB_ORACLE = f"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR || '@example.com via https://ex.com/u/'
              || doc_id::VARCHAR || ' or +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
           AS t
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{PII_URL}', '<URL>', 'g'),
             '{PII_EMAIL}', '<EMAIL>', 'g'),
             '\\+1-555-[0-9]{{4}}', '<PHONE>', 'g')) AS scrub_md5,
       CAST(len(regexp_extract_all(t, '{PII_URL}')) AS INTEGER) AS n_urls,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '\\+1-555-[0-9]{{4}}')) AS INTEGER) AS n_phones
FROM pii
"""


#: decontamination n-gram width.  Real pipelines use 8-13-gram overlap
#: (GPT-3 appendix C / PaLM-style); 3 fits the synthetic corpus' ~30
#: token docs over a 31-word vocabulary so the query has signal at
#: every SF.  The plan shape is width-independent.
DECON_N = 3

#: deterministic benchmark membership rule: docs whose id hashes into
#: this residue class stand in for the held-out eval suite.
DECON_MOD = 97


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: flag every training document
    sharing at least one word {N}-gram with the "benchmark" subset
    (doc_id % {MOD} == 0), reporting how many distinct benchmark
    n-grams each contaminated doc hits — the filter every serious
    LLM data pipeline runs before training.

    Scale: the benchmark n-gram set is bounded (eval suites are
    ~1e5 docs, not corpus-sized) so it BROADCASTS; the corpus-sized
    training gram stream joins against it map-side — no shuffle of the
    big side.  The final per-doc count-distinct is a keyed agg over
    only the matching grams (223 rows at sf0.01, not 250k)."""
    toks = (
        load_table(spark, sf_dir, "documents", cpu_heavy=True)
        .select(
            "doc_id",
            words("text").alias("t"),
        )
        .where(F.expr(f"size(t) >= {DECON_N}"))
        .select("doc_id", F.explode(word_ngrams("t", DECON_N)).alias("gram"))
    )
    bench = (
        toks.where(F.col("doc_id") % DECON_MOD == 0)
        .select("gram").distinct()
    )
    train = toks.where(F.col("doc_id") % DECON_MOD != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
    )


_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         {duck_words('text')} AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest({duck_word_ngrams('t', DECON_N)}) AS gram
  FROM toks WHERE len(t) >= {DECON_N}
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_MOD} = 0)
SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_grams
FROM grams g JOIN bench USING (gram)
WHERE g.doc_id % {DECON_MOD} != 0
GROUP BY g.doc_id
"""


#: corpus n-gram LM count support threshold
NGRAM_MIN_SUPPORT = 5


def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus {N}-gram language-model counts with a support cutoff —
    the direct generalization of the reference's word count
    (map_reduce.cpp:191-236 counts 1-grams; an n-gram LM table is the
    same partial/final count shuffle over composite keys), and the
    stats table every KN/Katz-smoothed LM or contamination analysis
    starts from.

    Scale: explode is a constant ×(len-2) fan-out map; the count is
    ONE keyed aggregation with map-side partials; the support filter
    prunes the long tail AFTER the final agg (it cannot be pushed
    below it), keeping the output the head of the Zipf curve."""
    return (
        load_table(spark, sf_dir, "documents", cpu_heavy=True)
        .select(words("text").alias("t"))
        .where(F.expr(f"size(t) >= {DECON_N}"))
        .select(F.explode(word_ngrams("t", DECON_N)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= NGRAM_MIN_SUPPORT)
    )


_NGRAM_COUNTS_ORACLE = f"""
WITH toks AS (
  SELECT {duck_words('text')} AS t
  FROM documents
),
grams AS (
  SELECT unnest({duck_word_ngrams('t', DECON_N)}) AS gram
  FROM toks WHERE len(t) >= {DECON_N}
)
SELECT gram, count(*) AS n FROM grams GROUP BY gram
HAVING count(*) >= {NGRAM_MIN_SUPPORT}
"""


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty score: the fraction of a document's
    DISTINCT word {N}-grams that occur in NO other document — the
    inverse of the memorization/duplication audit run over training
    corpora before release (a low-novelty doc is mostly made of
    phrases the corpus already contains; candidates for dedup or
    down-weighting).

    Distinct from :func:`text_decontaminate` (overlap vs a bounded
    BENCHMARK set, broadcast join) — novelty is corpus-vs-corpus, so
    the gram frequency table is corpus-sized and both sides meet in
    keyed shuffles on the gram.

    Scale: exactly the reference word-count shape twice
    (``map_reduce.cpp:191-236``): one keyed count over grams, one
    join-back, one per-doc agg.  Counts are exact integers; the one
    double division is final, rounded to 9 dp so libm can't reorder
    anything."""
    toks = (
        load_table(spark, sf_dir, "documents", cpu_heavy=True)
        .select(
            "doc_id",
            words("text").alias("t"),
        )
        .where(F.expr(f"size(t) >= {DECON_N}"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngrams("t", DECON_N))
            ).alias("gram"),
        )
    )
    freq = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        toks.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_docs") == 1).cast("long")).alias("n_unique"),
            F.round(
                F.sum((F.col("n_docs") == 1).cast("long"))
                / F.count(F.lit(1)),
                9,
            ).alias("novelty"),
        )
    )


_NGRAM_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         {duck_words('text')} AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest({duck_word_ngrams('t', DECON_N)}) AS gram
  FROM toks WHERE len(t) >= {DECON_N}
),
freq AS (SELECT gram, count(*) AS n_docs FROM grams GROUP BY gram)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 9) AS novelty
FROM grams JOIN freq USING (gram)
GROUP BY doc_id
"""


#: repetition-score n-gram width (word 3-grams, the Gopher/MassiveText
#: "duplicate n-gram fraction" quality signal).
REP_N = 3


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score: the fraction of word {N}-grams
    that are duplicates of an earlier n-gram in the SAME document — the
    MassiveText/Gopher quality signal that catches boilerplate and
    looping generations which inter-document dedup cannot see.

    Determinism: counts are exact integers; the one double division is
    final.  Scale: a pure narrow map over documents — the n-gram array,
    its distinct count, and the ratio all evaluate inside codegen per
    row, no explode and NO shuffle at all (contrast
    :func:`text_decontaminate`, which must explode to join)."""
    return (
        load_table(spark, sf_dir, "documents", cpu_heavy=True)
        .select(
            "doc_id",
            words("text").alias("t"),
        )
        .where(F.expr(f"size(t) >= {REP_N}"))
        .select("doc_id", word_ngrams("t", REP_N).alias("g"))
        .select(
            "doc_id",
            F.expr("size(g)").cast("int").alias("n_grams"),
            F.expr("size(array_distinct(g))").cast("int").alias("n_distinct"),
            F.expr(
                "CAST(size(g) - size(array_distinct(g)) AS DOUBLE) / CAST(size(g) AS DOUBLE)"
            ).alias("dup_ratio"),
        )
    )


_REPETITION_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - {REP_N - 1}),
                        i -> array_to_string(t[i:i + {REP_N - 1}], ' ')) AS grams
  FROM (SELECT doc_id,
               {duck_words('text')} AS t
        FROM documents)
  WHERE len(t) >= {REP_N}
)
SELECT doc_id,
       CAST(len(grams) AS INTEGER) AS n_grams,
       CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
       CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
         / CAST(len(grams) AS DOUBLE) AS dup_ratio
FROM g
"""


#: tokenizer-vocabulary size for the coverage scan
VOCAB_K = 16


def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the corpus top-{K} token
    vocabulary (count desc, token asc tie-break), then score every
    document's out-of-vocabulary ratio — the check that a tokenizer's
    vocab actually covers the corpus before a training run.

    Scale: the vocabulary is ONE wordcount aggregate reduced to K rows
    and broadcast back as a single array (crossJoin of a 1-row frame);
    the per-doc OOV count is then a pure higher-order-function map —
    no explode, no second shuffle over the corpus.  The one double
    division is final."""
    d = load_table(spark, sf_dir, "documents", cpu_heavy=True).select(
        "doc_id",
        words("text").alias("t"),
    )
    vocab = (
        d.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(VOCAB_K)
        .agg(F.array_sort(F.collect_list("tok")).alias("vocab"))
    )
    return (
        d.join(F.broadcast(vocab), how="cross")
        .select(
            "doc_id",
            F.expr("size(t)").cast("int").alias("n_tokens"),
            F.expr("size(filter(t, x -> NOT array_contains(vocab, x)))")
            .cast("int")
            .alias("n_oov"),
            F.expr(
                "CAST(size(filter(t, x -> NOT array_contains(vocab, x))) AS DOUBLE)"
                " / CAST(size(t) AS DOUBLE)"
            ).alias("oov_ratio"),
        )
        .where(F.col("n_tokens") > 0)
    )


_VOCAB_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         {duck_words('text')} AS t
  FROM documents
),
vocab AS (
  SELECT list_sort(list(tok)) AS v FROM (
    SELECT tok FROM (SELECT unnest(t) AS tok FROM toks)
    GROUP BY tok ORDER BY count(*) DESC, tok LIMIT {VOCAB_K}
  )
)
SELECT doc_id,
       CAST(len(t) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(t, x -> NOT list_contains(v, x))) AS INTEGER) AS n_oov,
       CAST(len(list_filter(t, x -> NOT list_contains(v, x))) AS DOUBLE)
         / CAST(len(t) AS DOUBLE) AS oov_ratio
FROM toks CROSS JOIN vocab
WHERE len(t) > 0
"""


#: a token is "rare" when its whole-corpus count is at or below this
RARE_MAX_COUNT = 2


def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring, integer-exact: per document, the
    token count, the number/fraction of RARE tokens (corpus frequency
    ≤ {RARE_MAX_COUNT} — the hapax-style signal that flags gibberish,
    OCR noise, and boilerplate IDs), and the mean corpus frequency of
    its tokens.  This is the cross-engine-exact proxy for perplexity
    filtering: true −Σln p(w) needs libm ``ln`` whose last ulp differs
    between engines, while counts, one exact bigint sum, and one final
    IEEE division hash identically — same discipline as the decimal
    aggregates (module docstring).

    Scale: token explode → one vocab-keyed agg (partial map-side) →
    fact-fact join back on token (vocab is corpus-sized at 100 TB, so
    it must NOT broadcast) → one doc-keyed agg.  Three shuffles, all
    on bounded keys."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(ascii_lower("text"))).alias("w"))
        .where(F.col("w") != "")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(counts, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("c") <= RARE_MAX_COUNT).cast("long")).alias("n_rare"),
            F.sum("c").alias("sum_c"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_tokens").cast("double")).alias("rare_ratio"),
            (F.col("sum_c").cast("double") / F.col("n_tokens").cast("double")).alias("mean_freq"),
        )
    )


_RARITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest({duck_tokens(_DUCK_LC_TEXT)}) AS w
    FROM documents
  ) WHERE w <> ''
),
counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum((c <= {RARE_MAX_COUNT})::INT) AS BIGINT) AS n_rare,
       CAST(sum((c <= {RARE_MAX_COUNT})::INT) AS DOUBLE) / count(*) AS rare_ratio,
       CAST(sum(c) AS DOUBLE) / count(*) AS mean_freq
FROM toks JOIN counts USING (w)
GROUP BY doc_id
"""


#: negative-log-likelihood quantization for the bigram LM (1e-9 units)
LM_Q = 1_000_000_000


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM pseudo-perplexity scoring — the CCNet-style quality
    filter: each document's mean negative log-likelihood under an
    add-one-smoothed bigram model FIT ON THE CORPUS ITSELF,
    P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V).  High NLL flags text the
    corpus' own statistics find improbable (gibberish, boilerplate,
    wrong-domain) — the bigram upgrade of
    :func:`text_rarity_score`'s unigram signal.

    Determinism: counts and V are exact; each bigram's −ln P is
    quantized to integer 1e-9 units (``round(ln(p)·1e9)`` — the same
    quantized-libm discipline as the Zipf fit and the PSI drift, both
    hash-proven cross-engine), so the per-doc NLL is an order-free
    integer sum; the final mean is one IEEE division of identical
    operands.

    Scale: bigram explode (narrow) → one (w₁,w₂)-keyed count → a
    prefix-context rollup → the corpus bigram stream joins back on
    the SAME keys — vocab-sized tables stay keyed shuffles, never
    broadcast (SCALE.md rule) — → one doc-keyed agg.  The model is
    two count tables; scoring is pure joins."""
    d = load_table(spark, sf_dir, "documents", cpu_heavy=True).select(
        "doc_id",
        words(duck_ascii_lower("text")).alias("t"),
    )
    bi = (
        d.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(t)), "
                    "i -> struct(element_at(t, i - 1) AS w1, element_at(t, i) AS w2))"
                )
            ).alias("e"),
        )
        .select("doc_id", "e.w1", "e.w2")
    )
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    c1 = cb.groupBy("w1").agg(F.sum("cb").alias("c1"))
    vocab = (
        d.select(F.explode("t").alias("w")).distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    q = F.round(
        -F.log(
            (F.col("cb") + F.lit(1)).cast("double")
            / (F.col("c1") + F.col("v")).cast("double")
        )
        * LM_Q
    ).cast("long")
    return (
        bi.join(cb, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("q", q)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("nll_e9"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_e9",
            (F.col("nll_e9").cast("double") / F.col("n_bigrams").cast("double")).alias(
                "mean_nll_e9"
            ),
        )
    )


_LM_PERPLEXITY_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_filter({duck_tokens(_DUCK_LC_TEXT)},
                     x -> length(x) > 0) AS t
  FROM documents
),
bi AS (
  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(2, len(t))) AS i
        FROM d WHERE len(t) >= 2)
),
cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
vocab AS (
  SELECT count(*) AS v FROM (
    SELECT DISTINCT unnest(t) AS w FROM d
  )
),
scored AS (
  SELECT b.doc_id,
         CAST(round(-ln(CAST(cb.cb + 1 AS DOUBLE)
                        / CAST(c1.c1 + vocab.v AS DOUBLE)) * {LM_Q}) AS BIGINT) AS q
  FROM bi b JOIN cb USING (w1, w2) JOIN c1 USING (w1), vocab
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(q) AS BIGINT) AS nll_e9,
       CAST(sum(q) AS DOUBLE) / count(*) AS mean_nll_e9
FROM scored
GROUP BY doc_id
"""


#: log-quantization scale for the Zipf regression (1e6 = 6 decimal
#: digits of each ln value survive into the exact integer moments)
ZIPF_Q = 1_000_000


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus word frequencies: the log-log
    regression slope of frequency against rank (≈ −1 for natural
    language) — the corpus-health diagnostic that flags boilerplate
    floods (slope flattens) or truncated vocabularies (slope dives).

    Built from the engine's own primitives: the flagship word count
    feeds a DISTRIBUTED global rank via the two-pass prefix sum
    (rank = running count over the (cnt DESC, word) total order — no
    single-task window even at web-scale vocabularies), and the
    regression uses integer moments: each ln is quantized to {Q}
    BEFORE summation, so Σx, Σy, Σxy, Σx² are exact DECIMAL(38,0)
    sums and shuffle order cannot move a bit.  Only the final
    slope/intercept combination runs in doubles (pre-divided means,
    agg_corr_exact discipline), rounded 9 dp.  The quantization scale
    cancels in the slope (both axes scaled by {Q})."""
    from ..functions.prefix import two_pass_cumsum
    from .wordcount import word_counts

    freq = word_counts(spark, sf_dir)
    ranked = two_pass_cumsum(
        freq,
        F.lit(1).cast("long"),
        [F.desc("cnt"), F.asc("word")],
        cum_col="rnk",
        total_col="n_words_t",
    )
    x = F.round(F.log(F.col("rnk").cast("double")) * ZIPF_Q).cast("long")
    y = F.round(F.log(F.col("cnt").cast("double")) * ZIPF_Q).cast("long")
    q = ranked.select(x.alias("x"), y.alias("y"))
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    cov = F.col("sxy").cast("double") / nd - mx * my
    vx = F.col("sxx").cast("double") / nd - mx * mx
    slope = cov / vx
    intercept = my / F.lit(float(ZIPF_Q)) - slope * (mx / F.lit(float(ZIPF_Q)))
    return m.select(
        F.col("n").alias("n_words"),
        F.round(slope, 9).alias("zipf_slope"),
        F.round(intercept, 9).alias("ln_intercept"),
    )


def _zipf_oracle() -> str:
    from .wordcount import _ORACLE_WORDCOUNT

    return f"""
WITH wc AS ({_ORACLE_WORDCOUNT}),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word ASC) AS rnk FROM wc
),
q AS (
  SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * {ZIPF_Q}) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * {ZIPF_Q}) AS BIGINT) AS y
  FROM ranked
),
m AS (
  SELECT count(*) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
  FROM q
)
SELECT n AS n_words,
       round((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 9) AS zipf_slope,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / {ZIPF_Q}.0
             - ((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / {ZIPF_Q}.0), 9)
         AS ln_intercept
FROM m
"""


#: feature-hashing dimensionality (the "hashing trick" bucket count)
N_HASH_FEATURES = 16


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term frequencies (Weinberger et al. 2009; the
    HashingTF shape): every token hashes into one of {N} fixed buckets,
    and each document's feature vector is the per-bucket token count —
    the no-vocabulary featurizer used when the term space is unbounded.
    Emitted as {N} scalar columns (f0..f15), not an array, per the
    registry's scalar-only output contract.

    Determinism: the bucket is md5-derived (functions.text.md5_bucket),
    bit-identical on both engines.  Scale: explode → map-side partial
    counts collapse the shuffle to ≈ docs×{N} rows regardless of token
    count; no vocabulary state, no joins — the defining advantage of
    the hashing trick at 100 TB."""
    from ..functions.text import md5_bucket

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    b = toks.select(
        "doc_id", md5_bucket(F.col("tok"), N_HASH_FEATURES, salt="feat").alias("b")
    )
    return b.groupBy("doc_id").agg(
        *[
            F.sum((F.col("b") == i).cast("int")).alias(f"f{i}")
            for i in range(N_HASH_FEATURES)
        ]
    )


def _feature_hashing_oracle() -> str:
    from ..functions.text import duck_md5_long

    bucket = f"{duck_md5_long('tok', salt='feat')} % {N_HASH_FEATURES}"
    cols = ",\n       ".join(
        f"CAST(sum(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}"
        for i in range(N_HASH_FEATURES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS tok FROM documents
),
bucketed AS (SELECT doc_id, {bucket} AS b FROM toks)
SELECT doc_id,
       {cols}
FROM bucketed GROUP BY doc_id
"""


SPECS = [
    QuerySpec("text_duplicate_spans", text_duplicate_spans, _DUP_SPANS_ORACLE,
              "ExactSubstr-style duplicated-span extraction: cross-doc "
              "8-gram hits collapsed to maximal per-doc spans via "
              "gaps-and-islands"),
    QuerySpec("text_rake_keywords", text_rake_keywords, _rake_oracle(),
              "RAKE keyword extraction: stopword-free phrase runs scored "
              "by quantized degree/frequency (order-free integer sums)"),
    QuerySpec("text_zipf_slope", text_zipf_slope, _zipf_oracle(),
              "Zipf exponent via distributed two-pass rank + integer-quantized log regression"),
    QuerySpec("text_feature_hashing", text_feature_hashing, _feature_hashing_oracle(),
              "hashing-trick term-frequency features (16 md5 buckets, no vocabulary)"),
    QuerySpec("text_langid", text_langid, _langid_oracle(),
              "marker-stopword language identification"),
    QuerySpec("text_lm_perplexity", text_lm_perplexity, _LM_PERPLEXITY_ORACLE,
              "bigram-LM pseudo-perplexity (add-one smoothing, quantized-ln "
              "integer NLL — the CCNet-style quality filter)"),
    QuerySpec("text_rarity_score", text_rarity_score, _RARITY_ORACLE,
              "integer-exact unigram rarity scoring (perplexity-filter proxy)"),
    QuerySpec("text_vocab_coverage", text_vocab_coverage, _VOCAB_COVERAGE_ORACLE,
              "corpus top-K vocabulary + per-doc OOV ratio (broadcast vocab, HOF map)"),
    QuerySpec("text_decontaminate", text_decontaminate, _DECON_ORACLE,
              "benchmark n-gram decontamination scan (broadcast bench grams)"),
    QuerySpec("text_repetition", text_repetition, _REPETITION_ORACLE,
              "duplicate n-gram fraction per doc (Gopher repetition signal)"),
    QuerySpec("text_ngram_counts", text_ngram_counts, _NGRAM_COUNTS_ORACLE,
              "corpus n-gram LM counts with support cutoff (the reference generalized)"),
    QuerySpec("text_ngram_novelty", text_ngram_novelty, _NGRAM_NOVELTY_ORACLE,
              "per-doc fraction of n-grams unique to the doc (corpus novelty / "
              "memorization audit)"),
    QuerySpec("text_pii_scrub", text_pii_scrub, _PII_SCRUB_ORACLE,
              "regex PII redaction (URL/email/phone) with count + md5 oracle"),
    QuerySpec("text_rolling_fingerprint", text_rolling_fingerprint, _ROLLING_ORACLE,
              "order-sensitive Rabin-Karp rolling-hash fingerprint over the token stream"),
    QuerySpec("text_quality_quantile_filter", text_quality_quantile_filter, _QUANTILE_FILTER_ORACLE,
              "per-language median punct-ratio quality filter (relative cutoff)"),
    QuerySpec("text_quality", text_quality, _QUALITY_ORACLE,
              "length/punct/stopword quality features + keep flag"),
    QuerySpec("text_token_count", text_token_count, _TOKEN_COUNT_ORACLE,
              "whitespace + BPE-ish regex token counts"),
    QuerySpec("text_fingerprint", text_fingerprint, _FINGERPRINT_ORACLE,
              "k-min char-shingle md5 fingerprint"),
    QuerySpec("text_tfidf_top_term", text_tfidf_top_term, _TFIDF_ORACLE,
              "top tf-idf term per document"),
    QuerySpec("text_chunking", text_chunking, _CHUNKING_ORACLE,
              "overlapping token-window chunking (50 tokens, stride 40)"),
]
