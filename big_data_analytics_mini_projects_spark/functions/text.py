"""Tokenizers and text scalar functions (SURVEY.md §2.2).

Each tokenizer exists twice: a Spark DataFrame transform and a DuckDB SQL
twin used by the differential-test oracles. Both sides implement the *same*
string semantics so results hash-match. The whitespace tokenizer and the
word n-grams have their DuckDB twins here and nowhere else
(:func:`sql_tokens`, :func:`sql_trigram_shingles`,
:data:`SQL_BIGRAM_PAIRS`): the plan modules call them, and
tests/test_plan_hygiene.py fails on a copy written out elsewhere. The A3
regex's twin is the oracle's own CTE over ``A3_TOKEN_PATTERN_SQL``.

Reference points:
- whitespace tokenize + lowercase: MRSystemSimulator2020.py:186-191
- A3 regex tokenizer: a3_p1.py:19 (pattern reproduced verbatim below)
- per-character tokenize (alpha only): MRSystemSimulator2020.py:218-232
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Verbatim token regex from a3_p1.py:19 — punctuation tokens OR
#: hashtag/mention-aware words with a short apostrophe suffix.
A3_TOKEN_PATTERN = (
    r"((?:[\.,!?;\"])|(?:(?:\#|\@)?[A-Za-z0-9_\-]+(?:'[a-z]{1,3})?))"
)

#: Same pattern for DuckDB (RE2): identical besides SQL string quoting.
A3_TOKEN_PATTERN_SQL = (
    "((?:[\\.,!?;\"])|(?:(?:\\#|\\@)?[A-Za-z0-9_\\-]+(?:''[a-z]{1,3})?))"
)


def tokenize_regex(df: DataFrame) -> DataFrame:
    """Explode A3-regex tokens of lowercased ``text`` into ``word``
    (a3_p1.py:19-22).

    The reference recompiles the regex per record inside a Python closure;
    here the pattern is a codegen'd JVM expression — no Python in the loop.
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(A3_TOKEN_PATTERN), 1)
    return df.withColumn("word", F.explode(toks))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of lowercased text as an array, empty tokens dropped.

    Mirrors Python ``str.split()`` (MRSystemSimulator2020.py:186-191): split
    on single spaces then drop empties, which equals split-on-runs for
    single-line text — and is expressible identically in DuckDB
    (:func:`sql_tokens_ws`). ``array_remove`` takes no lambda, so the
    operator holding it stays in whole-stage codegen. NULL text gives a
    NULL array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), " "), "")


def tokenize_ws(df: DataFrame) -> DataFrame:
    """One ``word`` row per :func:`tokens` element of ``text``."""
    return df.withColumn("word", F.explode(tokens("text")))


def _sql_split_ws(expr: str) -> str:
    return f"list_filter(string_split({expr}, ' '), x -> x <> '')"


def sql_tokens(col: str) -> str:
    """DuckDB twin of :func:`tokens` over the SQL expression ``col``: the
    whitespace tokens of ``lower(col)`` as a list, empty tokens dropped,
    NULL for NULL text."""
    return _sql_split_ws(f"lower({col})")


def sql_token_count(col: str) -> str:
    """DuckDB twin of ``F.size(tokens(col))`` as the token-budget oracles
    write it: case does not change a count, so ``col`` is not lowered."""
    return f"len({_sql_split_ws(col)})"


def sql_tokens_ws(table: str = "documents") -> str:
    """One (doc_id, word) row per :func:`tokens` element of ``table.text``
    (:func:`tokenize_ws`'s twin)."""
    return (
        "SELECT doc_id, word FROM (SELECT doc_id, "
        f"unnest(string_split(lower(text), ' ')) AS word FROM {table}) "
        "WHERE word <> ''"
    )


def tokenize_char(df: DataFrame) -> DataFrame:
    """Explode lowercase alphabetic characters of ``text`` into ``ch``
    (MRSystemSimulator2020.py:218-232).

    The reference drops non-alpha chars (``isalpha`` check at :228) and
    densifies missing a-z chars with explicit zeros; densification is done by
    the consuming aggregate via sufficient statistics instead (operators/aggregates.py).
    """
    chars = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"([a-z])"), 1)
    return df.withColumn("ch", F.explode(chars))


def sql_tokens_char() -> str:
    return (
        "SELECT doc_id, unnest(regexp_extract_all(lower(text), '([a-z])', 1)) AS ch "
        "FROM documents"
    )


#: The reference's final-stat rounding (``round(x, 4)``,
#: MRSystemSimulator2020.py:245) is realized everywhere by
#: :func:`round_stable` below — F.round is banned from declared query
#: output paths because it rounds the SHORTEST DECIMAL REPR of the double
#: while DuckDB rounds the binary value (divergent at .xxxx5 boundaries;
#: see BASELINE.md round-3/4 precision notes).


def ngrams(toks: Column | str, n: int) -> Column:
    """Positional word n-grams of a token-array column, as ``arrays_zip`` of
    ``n`` shifted slices: element i is the struct of tokens i..i+n-1, with
    fields ``'0'`` .. ``'n-1'``. One entry per start position, duplicates
    kept, empty below ``n`` tokens, NULL for a NULL array. Explode or
    posexplode it directly (0-based positions); :func:`ngram_text` joins an
    element into the space-separated n-gram string. No lambda, so the
    operator holding it stays in whole-stage codegen. The single Spark-side
    definition of word n-grams; the DuckDB twins of its two shared uses are
    :func:`sql_trigram_shingles` and :data:`SQL_BIGRAM_PAIRS`."""
    t = F.col(toks) if isinstance(toks, str) else toks
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    return F.arrays_zip(*(F.slice(t, k, m) for k in range(1, n + 1)))


def sql_trigram_shingles(name: str, docs: str) -> str:
    """DuckDB twin of ``operators/similarity.ngram_shingles(n=3)`` over
    :func:`tokens`: CTE ``tarr`` (doc_id, toks) over ``docs`` (a table,
    optionally with its WHERE clause), then CTE ``name`` (doc_id, shingle),
    each doc's distinct space-joined word trigrams. A doc of fewer than 3
    tokens has none."""
    return (
        f"tarr AS (SELECT doc_id, {sql_tokens('text')} AS toks\n"
        f"         FROM {docs}),\n"
        f"{name} AS (SELECT DISTINCT doc_id, shingle FROM (\n"
        "  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN\n"
        "    list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))\n"
        "    ELSE []::VARCHAR[] END) AS shingle FROM tarr))"
    )


#: DuckDB twin of the word bigrams ``ngrams(tokens(text), 2)`` of every
#: document: CTE ``toks`` (doc_id, t) and CTE ``pairs``, one
#: ``pr STRUCT(w1, w2)`` row per adjacent token pair, duplicates kept.
SQL_BIGRAM_PAIRS = (
    f"toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents), "
    "pairs AS (SELECT unnest(CASE WHEN len(t) >= 2 THEN "
    "list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i+1])) "
    "ELSE []::STRUCT(w1 VARCHAR, w2 VARCHAR)[] END) AS pr FROM toks)"
)


def ngram_text(gram: Column | str, n: int) -> Column:
    """The space-joined string of one :func:`ngrams` element."""
    g = F.col(gram) if isinstance(gram, str) else gram
    return F.concat_ws(" ", *(g[str(i)] for i in range(n)))


def round_stable(col: Column | str, digits: int = 4) -> Column:
    """Half-up rounding at ``digits`` decimals computed ON THE BINARY double:
    floor(x*10^d + 0.5)/10^d — every step is a deterministic IEEE op, so
    Spark and DuckDB (mirror: :func:`sql_round_stable`) agree bit for bit.
    Spark's F.round instead rounds the SHORTEST DECIMAL REPR of the double
    (BigDecimal.valueOf), which DuckDB's binary round diverges from exactly
    at boundary halves — a divergence that first materialized at sf0.1
    (quality_score 0.5983 vs 0.5982). Use this for any rounded double
    (quotient, log, sqrt, ...) that feeds the cross-engine hash.

    Note on negatives: floor(x*s + 0.5) rounds half-cases toward +inf (not
    away from zero) — a convention, applied identically in both engines,
    which is the only property the differential gate needs.
    F.floor on a double yields a long, so |x| must stay < 2^63/10^d —
    holds by orders of magnitude for every rounded statistic here."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**digits)
    return F.floor(c * F.lit(scale) + F.lit(0.5)).cast("double") / F.lit(scale)


def round4_stable(col: Column | str) -> Column:
    """:func:`round_stable` at the reference's 4 decimals
    (MRSystemSimulator2020.py:245)."""
    return round_stable(col, 4)


def sql_round_stable(expr: str, digits: int = 4) -> str:
    """DuckDB twin of :func:`round_stable` — identical IEEE operation order."""
    scale = 10**digits
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


SQL_ROUND4_STABLE = "floor(({x}) * 10000 + 0.5) / 10000"
