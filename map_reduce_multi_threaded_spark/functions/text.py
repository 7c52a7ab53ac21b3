r"""Text scalar functions and the one cross-engine text contract — the
reference's S4/S5/S7 stages (tokenize, strip punctuation, lowercase,
``map_reduce.cpp:152-171``) plus the deterministic hash helpers used by
dedup/similarity.

Every text query is oracle-checked against DuckDB, so every text stage
has a Spark spelling and a DuckDB mirror that agree.  Both live here,
side by side, and nowhere else:

====================  ==================================  ==========================
stage                 Spark                               DuckDB mirror
====================  ==================================  ==========================
raw tokens            :func:`tokens`                      :func:`duck_tokens`
non-empty words       :func:`words` / :func:`words_sql`   :func:`duck_words`
word n-grams          :func:`word_ngrams`                 :func:`duck_word_ngrams`
punctuation strip     :func:`strip_punct`                 :func:`duck_strip_punct`
casefold              :func:`ascii_lower`                 :func:`duck_ascii_lower`
60-bit hash           :func:`md5_long`                    :func:`duck_md5_long`
====================  ==================================  ==========================

Tokens are the split on :data:`WS_RE`, the reference's ``ifstream >>
word`` (``map_reduce.cpp:159``).  ``split('', '\s+')`` is ``['']`` on
both engines, so a token array is never empty, and a leading
whitespace run yields an empty first token; :func:`words` drops the
empties (the reference's empty-token skip, ``map_reduce.cpp:166``).
Python stages (UDF bodies) split with ``re.split(WS_RE, s,
flags=re.ASCII)`` and drop empties themselves: ``str.split()`` and an
unflagged ``re`` ``\s`` are Unicode-aware and split on NBSP/U+3000,
which neither Java nor RE2 ``\s`` matches.

The Spark functions are pure Column expressions (or Spark SQL text for
composing inside a larger ``F.expr``): they stay inside whole-stage
codegen, no Python round-trip.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

#: The whitespace run that separates tokens: Java regex in Spark, RE2 in
#: DuckDB, ``re`` with ``re.ASCII`` in Python stages.  The three ``\s``
#: classes are not equal: Java and Python ASCII ``\s`` include U+000B
#: (vertical tab), RE2's does not (see :func:`words`).
WS_RE = r"\s+"

#: :data:`WS_RE` as a Spark SQL string literal (the parser unescapes ``\\``).
_SPARK_WS = "'" + WS_RE.replace("\\", "\\\\") + "'"


def tokens(col: Column | str) -> Column:
    """Raw whitespace tokens of ``col``, empties kept (see module doc)."""
    return F.split(col, WS_RE)


def duck_tokens(expr: str) -> str:
    """DuckDB SQL mirror of :func:`tokens`."""
    return f"string_split_regex({expr}, '{WS_RE}')"


def words_sql(expr: str) -> str:
    """Spark SQL text of :func:`words`, for composing inside a larger
    ``F.expr``.  The lambda stays SQL text (``x``): a Python-lambda
    ``F.filter`` names its variable ``x_<n>`` and changes the plan."""
    return f"filter(split({expr}, {_SPARK_WS}), x -> length(x) > 0)"


def words(expr: str) -> Column:
    r"""Non-empty whitespace tokens of the Spark SQL expression ``expr``.

    Known divergence: U+000B (vertical tab) is ``\s`` in Java but not in
    RE2, so Spark splits ``'a\x0bb c'`` into ``[a, b, c]`` and DuckDB
    into ``['a\x0bb', 'c']``.  No fixture text contains U+000B; an
    explicit ``[ \t\n\f\r]+`` on both engines would close the gap."""
    return F.expr(words_sql(expr))


def duck_words(expr: str) -> str:
    """DuckDB SQL mirror of :func:`words`."""
    return f"list_filter({duck_tokens(expr)}, x -> length(x) > 0)"


def word_ngrams(t: str, n: int) -> Column:
    """Space-joined word ``n``-grams of the word array column ``t``, in
    order (``size(t) - n + 1`` of them; callers keep ``size(t) >= n``)."""
    return F.expr(
        f"transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> array_join(slice({t}, i, {n}), ' '))"
    )


def duck_word_ngrams(t: str, n: int) -> str:
    """DuckDB SQL mirror of :func:`word_ngrams`."""
    return (
        f"list_transform(generate_series(1, len({t}) - {n - 1}),\n"
        f"                i -> array_to_string({t}[i:i + {n - 1}], ' '))"
    )


#: Java ``\p{Punct}`` == ASCII punctuation == C ``ispunct`` in the C
#: locale — the exact character class the reference strips
#: (``map_reduce.cpp:160-165``). DuckDB's RE2 ``[[:punct:]]`` matches it.
PUNCT_RE = r"\p{Punct}"


def strip_punct(col: Column | str) -> Column:
    """Delete every ASCII punctuation char, the reference's in-place
    ``ispunct`` erase loop (``map_reduce.cpp:160-165``): ``don't`` →
    ``dont``, ``--`` → empty string."""
    return F.regexp_replace(col, PUNCT_RE, "")


def duck_strip_punct(expr: str) -> str:
    """DuckDB SQL mirror of :func:`strip_punct`."""
    return f"regexp_replace({expr}, '[[:punct:]]', '', 'g')"


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col: Column | str) -> Column:
    """Byte-exact ASCII-only lowercase via ``translate`` — the
    reference's actual semantics (``std::tolower`` per char in the C
    locale, ``map_reduce.cpp:167``) and the only casefold that is
    engine-portable.  Full-Unicode ``lower()`` is NOT: the round-11
    adversarial-text sweep showed the JVM applies full Unicode casing
    (final sigma ``ΟΔΟΣ``→``οδος``, ``İ``→``i``+U+0307) while DuckDB's
    utf8proc applies simple 1:1 mappings (``οδοσ``, ``i``) — so any
    cross-engine-compared value derived from ``lower(text)`` silently
    diverges on non-ASCII input.  ``translate`` maps the 26 ASCII
    letters identically on both engines and passes every other code
    point through untouched."""
    return F.translate(F.col(col) if isinstance(col, str) else col,
                       _ASCII_UPPER, _ASCII_LOWER)


def duck_ascii_lower(expr: str) -> str:
    """DuckDB SQL mirror of :func:`ascii_lower`.  The text is also valid
    Spark SQL, so it composes inside :func:`words`."""
    return f"translate({expr}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


def normalize_token(col: Column | str) -> Column:
    """strip punctuation then lowercase — the reference's full scalar
    pipeline between tokenize and emit (``map_reduce.cpp:160-171``)."""
    return ascii_lower(strip_punct(col))


def md5_long(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit non-negative hash derived from md5.

    Used as the hash family for MinHash/SimHash/LSH instead of Spark's
    ``xxhash64`` because DuckDB has no xxhash64 but both engines have
    bit-identical ``md5`` hex output; the oracle can reproduce this
    exactly via ``('0x' || substr(md5(x), 1, 15))::BIGINT``.

    15 hex chars = 60 bits < 2^63, so the cast never overflows/signs.
    """
    salted = F.concat(col.cast("string"), F.lit(salt)) if salt else col.cast("string")
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def md5_bucket(col: Column, n: int, salt: str = "") -> Column:
    """Stable bucket id in [0, n) — the engine-portable analogue of the
    reference's hand-rolled ``hash % 1024`` partitioning function
    (``map_reduce.cpp:214-217``)."""
    return md5_long(col, salt) % F.lit(n)


def py_md5_bucket(value: str, n: int, salt: str = "") -> int:
    """Driver-side Python mirror of :func:`md5_bucket` (same md5-hex
    prefix → 60-bit int → ``% n``), for folding SMALL compile-time
    constants (e.g. a fixed query-term vector) into literal expressions
    instead of shipping them through ``spark.createDataFrame``.

    Why this exists (round 7): a local-data ``createDataFrame`` builds
    a Python-RDD-backed relation whose every execution launches
    ``defaultParallelism`` Python worker tasks — measured 1.4-3.4 s per
    action for a 3-row frame on the round-7 host (vs 0.2 s for the
    equivalent JVM stage), recomputed per action and per AQE re-plan.
    A constant folded driver-side costs zero tasks, zero broadcast,
    and keeps the scoring expression inside whole-stage codegen.
    Parity with the Spark expression is pinned by a test.
    """
    import hashlib

    return int(hashlib.md5((value + salt).encode()).hexdigest()[:15], 16) % n


def duck_md5_long(expr: str, salt: str = "") -> str:
    """DuckDB SQL mirroring :func:`md5_long` for oracle queries."""
    salted = f"({expr}) || '{salt}'" if salt else f"({expr})"
    return f"('0x' || substr(md5({salted}), 1, 15))::BIGINT"
