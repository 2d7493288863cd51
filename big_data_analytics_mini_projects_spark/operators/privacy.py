"""PII detection / redaction for corpus curation — pure JVM-side regex
(codegen'd ``regexp_count`` / ``regexp_replace``), no Python in the hot path.

A training-data pipeline must strip emails, phone numbers, IP addresses and
national-id-like tokens before anything else sees the text (the C4/RefinedWeb
pipelines both carry this stage). The testdata corpus is synthetic word
bags with no organic PII, so — exactly like the multimodal payload plumbing
(operators/multimodal.py:55) — the declared query SPLICES deterministic
PII-shaped tokens derived from ``doc_id`` into the text first, then runs the
real detection/redaction operators on the spliced column. The splice is the
fixture; the regex machinery is the operator under test.

Pattern dialect: every regex below is valid AND semantically identical in
Java regex (Spark) and RE2 (DuckDB oracle) — no backreferences, no
lookaround, only ``\\d``/``\\b``/bounded repetition. The four patterns are
mutually non-overlapping on their generated forms (phone is 3-3-4 digits,
ssn 3-2-4, so neither matches inside the other), making the sequential
redaction order-insensitive in counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: (name, pattern, replacement) — identical in Java regex and RE2.
PII_PATTERNS = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
)


def splice_pii(docs: DataFrame) -> DataFrame:
    """Deterministically embed PII-shaped tokens keyed on doc_id (fixture
    stage; mirrored verbatim by :func:`sql_splice_pii`)."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.concat(F.lit(" contact user"), s(did), F.lit("@example.com"))
    phone = F.concat(
        F.lit(" call "),
        F.lpad(s(did % 1000), 3, "0"),
        F.lit("-"),
        F.lpad(s(did % 998), 3, "0"),
        F.lit("-"),
        F.lpad(s(did % 9973), 4, "0"),
    )
    ip = F.concat(
        F.lit(" from 10.0."),
        s(did % 256),
        F.lit("."),
        s(F.expr("doc_id div 7") % 256),
    )
    ssn = F.concat(
        F.lit(" id "),
        F.lpad(s(did % 1000), 3, "0"),
        F.lit("-"),
        F.lpad(s(did % 97), 2, "0"),
        F.lit("-"),
        F.lpad(s(did % 9973), 4, "0"),
    )
    spliced = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, email).otherwise(F.lit("")),
        F.when(did % 4 == 0, phone).otherwise(F.lit("")),
        F.when(did % 5 == 0, ip).otherwise(F.lit("")),
        F.when(did % 7 == 0, ssn).otherwise(F.lit("")),
    )
    return docs.withColumn("pii_text", spliced)


def sql_splice_pii() -> str:
    """DuckDB twin of :func:`splice_pii` (same concat/lpad/div structure)."""
    return (
        "text || "
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) "
        "|| '@example.com' ELSE '' END || "
        "CASE WHEN doc_id % 4 = 0 THEN ' call ' "
        "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' "
        "|| lpad(CAST(doc_id % 998 AS VARCHAR), 3, '0') || '-' "
        "|| lpad(CAST(doc_id % 9973 AS VARCHAR), 4, '0') ELSE '' END || "
        "CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' "
        "|| CAST(doc_id % 256 AS VARCHAR) || '.' "
        "|| CAST((doc_id // 7) % 256 AS VARCHAR) ELSE '' END || "
        "CASE WHEN doc_id % 7 = 0 THEN ' id ' "
        "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' "
        "|| lpad(CAST(doc_id % 97 AS VARCHAR), 2, '0') || '-' "
        "|| lpad(CAST(doc_id % 9973 AS VARCHAR), 4, '0') ELSE '' END"
    )


def pii_counts_and_redact(df: DataFrame) -> DataFrame:
    """Count each PII class, then redact all of them (fixed order).

    One projection, fully codegen'd: 4 regexp_counts + 4 chained
    regexp_replaces per row. At 100 TB this is a map-only stage — no
    shuffle, no Python.
    """
    c: Column = F.col("pii_text")
    counts = [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = c
    for _, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return df.select(
        "doc_id",
        *counts,
        F.substring(F.md5(red), 1, 16).alias("redacted_sig"),
    )


def sql_pii_counts_and_redact(spliced_expr: str) -> str:
    """DuckDB twin: SELECT-list fragment over a column named pii_text."""
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(pii_text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "pii_text"
    for _, pat, rep in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    return (
        f"WITH spliced AS (SELECT doc_id, {spliced_expr} AS pii_text FROM documents) "
        f"SELECT doc_id, {counts}, substr(md5({red}), 1, 16) AS redacted_sig "
        "FROM spliced"
    )
