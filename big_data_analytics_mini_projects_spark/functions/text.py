"""Tokenizers and text scalar functions (SURVEY.md §2.2).

Each tokenizer exists twice: a Spark DataFrame transform and a DuckDB SQL
fragment builder used by the differential-test oracles. Both sides implement
the *same* string semantics so results hash-match.

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


def tokenize_regex(df: DataFrame, text_col: str = "text", out: str = "word") -> DataFrame:
    """Explode A3-regex tokens of lowercased text (a3_p1.py:19-22).

    The reference recompiles the regex per record inside a Python closure;
    here the pattern is a codegen'd JVM expression — no Python in the loop.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(A3_TOKEN_PATTERN), 1)
    return df.withColumn(out, F.explode(toks))


def sql_tokens_regex(table: str = "documents", text_col: str = "text", key: str = "doc_id") -> str:
    """DuckDB fragment: one row per (key, word) via the A3 regex."""
    return (
        f"SELECT {key}, unnest(regexp_extract_all(lower({text_col}), "
        f"'{A3_TOKEN_PATTERN_SQL}', 1)) AS word FROM {table}"
    )


def tokenize_ws(df: DataFrame, text_col: str = "text", out: str = "word") -> DataFrame:
    """Whitespace split + lowercase, dropping empty tokens.

    Mirrors Python ``str.split()`` (MRSystemSimulator2020.py:186-191): split on
    single spaces then drop empties, which equals split-on-runs for
    single-line text — and is expressible identically in DuckDB.
    """
    w = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias(out)
    return df.withColumn(out, w).filter(F.col(out) != "")


def sql_tokens_ws(table: str = "documents", text_col: str = "text", key: str = "doc_id") -> str:
    return (
        f"SELECT {key}, word FROM (SELECT {key}, "
        f"unnest(string_split(lower({text_col}), ' ')) AS word FROM {table}) "
        f"WHERE word <> ''"
    )


def tokenize_char(df: DataFrame, text_col: str = "text", out: str = "ch") -> DataFrame:
    """Explode lowercase alphabetic characters (MRSystemSimulator2020.py:218-232).

    The reference drops non-alpha chars (``isalpha`` check at :228) and
    densifies missing a-z chars with explicit zeros; densification is done by
    the consuming aggregate via sufficient statistics instead (operators/aggregates.py).
    """
    chars = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"([a-z])"), 1)
    return df.withColumn(out, F.explode(chars))


def sql_tokens_char(table: str = "documents", text_col: str = "text", key: str = "doc_id") -> str:
    return (
        f"SELECT {key}, unnest(regexp_extract_all(lower({text_col}), '([a-z])', 1)) AS ch "
        f"FROM {table}"
    )


def bool01(col: Column | str) -> Column:
    """Bool -> 0.0/1.0 covariate encoding (a3_p1.py:51-59)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("double")


#: The reference's final-stat rounding (``round(x, 4)``,
#: MRSystemSimulator2020.py:245) is realized everywhere by
#: :func:`round_stable` below — F.round is banned from declared query
#: output paths because it rounds the SHORTEST DECIMAL REPR of the double
#: while DuckDB rounds the binary value (divergent at .xxxx5 boundaries;
#: see BASELINE.md round-3/4 precision notes).


def ngram_expr(n: int, tokens_col: str = "toks") -> str:
    """Spark SQL expression producing the positional word n-gram array of a
    token-array column (one entry per position, duplicates preserved) — a
    per-row array transform: zero shuffle. Its ``transform`` lambda makes the
    operator holding it ``CodegenFallback``, so it runs interpreted, once
    per array element, outside whole-stage codegen. The single
    source of truth for both the positional stream (operators/curation.
    ngram_stream) and the distinct shingle set (operators/similarity.
    ngram_shingles); the DuckDB mirrors live in the plan modules."""
    return (
        f"CASE WHEN size({tokens_col}) >= {n} THEN "
        f"transform(sequence(1, size({tokens_col}) - {n - 1}), "
        f"i -> array_join(slice({tokens_col}, i, {n}), ' ')) "
        f"ELSE cast(array() as array<string>) END"
    )


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
