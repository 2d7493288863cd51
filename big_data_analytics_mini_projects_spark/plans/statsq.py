"""Per-word OLS hypothesis-testing queries (SURVEY.md §2.8 ols_simple /
ols_multi) — the engine's re-expression of a3_p1.py on the `documents` table.

Binding (FIXTURES.md §B): x = relative frequency of a top-K word in a doc
(dense: 0 when absent, a3_p1.py:55-59), y = n_chars (rating proxy),
control = (lang = 'en') as the `verified` analog. K = 30 top words by count
with word-asc tiebreak (the reference takes 1000; the synthetic vocabulary is
only ~40 words).

Spark computes via the sufficient-statistic closed forms
(operators/stats.py `ols_*_closed`: exact decimal Σx/Σy/Σxy/Σx²/Σy² + the
partial-correlation algebra, ONE partial-agg shuffle, no grouped collect);
the DuckDB oracle independently computes standardized simple β = corr(x,y),
t = r·sqrt((n-2)/(1-r²)) and the multivariate partial-correlation algebra,
so the differential test cross-checks two independent derivations. The
reference-shaped applyInPandas numpy fit survives as the parity baseline
(tests/test_stats.py: closed == grouped == plain numpy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.tdist import sql_t_pvalue_cf_ctes
from ..functions.text import (
    A3_TOKEN_PATTERN_SQL,
    round_stable,
    sql_round_stable,
    tokenize_regex,
)
from ..operators.stats import ols_multi_closed, ols_simple_closed
from ..sources.tables import load_table, spread
from .registry import register
from ..caching import persist_tracked

TOP_K = 30

_SQL_DENSE = f"""
toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
         '{A3_TOKEN_PATTERN_SQL}', 1)) AS word FROM documents),
tot AS (SELECT doc_id, COUNT(*) AS total FROM toks GROUP BY doc_id),
top AS (SELECT word FROM (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word
        ORDER BY cnt DESC, word ASC LIMIT {TOP_K})),
cnts AS (SELECT doc_id, word, COUNT(*) AS c FROM toks
         JOIN top USING (word) GROUP BY doc_id, word),
dense AS (
  SELECT d.doc_id, t.word,
         CAST(COALESCE(c.c, 0) AS DOUBLE) / tot.total AS x,
         CAST(d.n_chars AS DOUBLE) AS y,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS ctrl
  FROM documents d
  CROSS JOIN top t
  JOIN tot ON d.doc_id = tot.doc_id
  LEFT JOIN cnts c ON c.doc_id = d.doc_id AND c.word = t.word)
"""


#: Deterministic "reviewText absent" mask for the zero-rows compat flag: the
#: synthetic corpus has no missing text, so the compat query declares docs
#: with doc_id % 17 == 3 to be field-less — the engine analog of the
#: reference's JSON lines that KeyError on line["reviewText"].
MISSING_MOD, MISSING_REM = 17, 3


def word_observations(
    spark: SparkSession, sf_dir: str, missing_text: str = "drop"
) -> DataFrame:
    """Dense (word, doc) observation frame — the engine's version of
    a3_p1.py:40-66 (getFrequency + groupByKey), without the driver round-trip:
    the top-K word list stays a broadcast DataFrame, and zeros come from a
    left join instead of per-record closure emission.

    ``missing_text`` (SURVEY.md §7.4 wart #4 / §1.3): "drop" (default)
    excludes text-less docs from the observations — the fixed semantics.
    "zero_rows" reproduces the reference's KeyError branch (a3_p1.py:61-64):
    every doc whose text field is missing emits the observation
    (x=0, y=0, ctrl=0) for EVERY top word — note y is zero too, not the
    doc's actual outcome — and contributes nothing to the top-word counts
    (getMap's own KeyError path, a3_p1.py:17-27)."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars", "lang")
    )
    missing = None
    if missing_text == "zero_rows":
        is_missing = (F.col("doc_id") % MISSING_MOD) == MISSING_REM
        missing = docs.filter(is_missing).select("doc_id")
        docs = docs.filter(~is_missing)
    elif missing_text != "drop":
        raise ValueError(f"unknown missing_text mode: {missing_text!r}")
    # consumed by per-doc totals, the top-K list, AND per-(doc,word) counts:
    # persist so the regex tokenize runs once, in parallel
    words = persist_tracked(
        tokenize_regex(docs.select("doc_id", "text")).select("doc_id", "word")
    )
    tot = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("total"))
    top = (
        words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word")).limit(TOP_K).select("word")
    )
    cnts = (
        words.join(F.broadcast(top), "word")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dense = (
        docs.crossJoin(F.broadcast(top))
        .join(tot, "doc_id")
        .join(cnts, ["doc_id", "word"], "left")
        .select(
            "doc_id",
            "word",
            (F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("total")).alias("x"),
            F.col("n_chars").cast("double").alias("y"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("ctrl"),
        )
    )
    if missing is not None:
        zeros = missing.crossJoin(F.broadcast(top)).select(
            "doc_id",
            "word",
            F.lit(0.0).alias("x"),
            F.lit(0.0).alias("y"),
            F.lit(0.0).alias("ctrl"),
        )
        dense = dense.unionByName(zeros)
    # The whole OLS family (simple / multi / pvalues / zero_rows compat)
    # aggregates this same dense frame; persisting it lets the CacheManager
    # structurally match the rebuild in each family member, so the top-K
    # sort + counts join + densify run once per catalog pass instead of
    # once per query. K*|docs| rows — small next to the corpus.
    return persist_tracked(dense)


@register(
    "ols_simple_words",
    oracle=(
        f"WITH {_SQL_DENSE} "
        f"SELECT word, n, {sql_round_stable('r')} AS beta, "
        f"{sql_round_stable('r * sqrt((n - 2) / (1 - r * r))')} AS t_stat FROM "
        "(SELECT word, COUNT(*) AS n, corr(x, y) AS r FROM dense GROUP BY word) "
        "WHERE r IS NOT NULL AND NOT isnan(r) AND abs(r) < 1"
    ),
    doc="1 standardized simple OLS per top word from exact-decimal "
    "sufficient statistics (ols_simple, a3_p1.py:71-96): β = Pearson r in "
    "one partial-agg shuffle, per-group memory O(1) at any corpus size; "
    "oracle re-derives r independently via DuckDB corr().",
    tags=("ols_simple", "agg_combiner", "relfreq"),
)
def ols_simple_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = word_observations(spark, sf_dir)
    fit = ols_simple_closed(obs, "word", "x", "y", bonferroni_k=TOP_K)
    return fit.filter(
        ~F.isnan("beta") & F.col("beta").isNotNull() & (F.abs(F.col("beta")) < 1)
    ).select(
        "word", "n",
        round_stable("beta").alias("beta"),
        round_stable("t_stat").alias("t_stat"),
    )


#: Oracle CTE for the zero-rows compat flag: the _SQL_DENSE pipeline with
#: docs doc_id % 17 == 3 masked out of tokenization/top-words and re-added
#: as all-zero observations for every top word (a3_p1.py:61-64).
_SQL_DENSE_ZERO_ROWS = f"""
toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),
         '{A3_TOKEN_PATTERN_SQL}', 1)) AS word FROM documents
         WHERE doc_id % {MISSING_MOD} <> {MISSING_REM}),
tot AS (SELECT doc_id, COUNT(*) AS total FROM toks GROUP BY doc_id),
top AS (SELECT word FROM (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word
        ORDER BY cnt DESC, word ASC LIMIT {TOP_K})),
cnts AS (SELECT doc_id, word, COUNT(*) AS c FROM toks
         JOIN top USING (word) GROUP BY doc_id, word),
dense AS (
  SELECT d.doc_id, t.word,
         CAST(COALESCE(c.c, 0) AS DOUBLE) / tot.total AS x,
         CAST(d.n_chars AS DOUBLE) AS y,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS ctrl
  FROM documents d
  CROSS JOIN top t
  JOIN tot ON d.doc_id = tot.doc_id
  LEFT JOIN cnts c ON c.doc_id = d.doc_id AND c.word = t.word
  WHERE d.doc_id % {MISSING_MOD} <> {MISSING_REM}
  UNION ALL
  SELECT d.doc_id, t.word, 0.0 AS x, 0.0 AS y, 0.0 AS ctrl
  FROM documents d CROSS JOIN top t
  WHERE d.doc_id % {MISSING_MOD} = {MISSING_REM})
"""


@register(
    "ols_simple_words_zero_rows",
    oracle=(
        f"WITH {_SQL_DENSE_ZERO_ROWS} "
        f"SELECT word, n, {sql_round_stable('r')} AS beta, "
        f"{sql_round_stable('r * sqrt((n - 2) / (1 - r * r))')} AS t_stat FROM "
        "(SELECT word, COUNT(*) AS n, corr(x, y) AS r FROM dense GROUP BY word) "
        "WHERE r IS NOT NULL AND NOT isnan(r) AND abs(r) < 1"
    ),
    doc="SURVEY.md §7.4 wart-#4 / §1.3 compatibility flag: ols_simple_words "
    "with missing_text='zero_rows' — docs whose text field is 'absent' "
    "(deterministic mask doc_id % 17 == 3; the synthetic corpus has no "
    "truly-missing text) contribute an all-zero (x=0, y=0, ctrl=0) "
    "observation for EVERY top word, reproducing the reference's KeyError "
    "branch (a3_p1.py:61-64) where each such line drags every regression's "
    "y toward zero. Same fit and output shape as ols_simple_words, so the "
    "two queries' betas differ exactly by the wart.",
    tags=("ols_simple", "compat", "relfreq"),
)
def ols_simple_words_zero_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = word_observations(spark, sf_dir, missing_text="zero_rows")
    fit = ols_simple_closed(obs, "word", "x", "y", bonferroni_k=TOP_K)
    return fit.filter(
        ~F.isnan("beta") & F.col("beta").isNotNull() & (F.abs(F.col("beta")) < 1)
    ).select(
        "word", "n",
        round_stable("beta").alias("beta"),
        round_stable("t_stat").alias("t_stat"),
    )


@register(
    "ols_multi_words",
    oracle=(
        f"WITH {_SQL_DENSE}, "
        "cors AS (SELECT word, COUNT(*) AS n, corr(x, y) AS ryx, corr(ctrl, y) AS ryc, "
        "corr(x, ctrl) AS rxc FROM dense GROUP BY word), "
        "betas AS (SELECT word, n, "
        "(ryx - ryc * rxc) / (1 - rxc * rxc) AS b1, "
        "(ryc - ryx * rxc) / (1 - rxc * rxc) AS b2, ryx, ryc FROM cors "
        "WHERE ryx IS NOT NULL AND NOT isnan(ryx) AND rxc IS NOT NULL AND abs(rxc) < 1) "
        f"SELECT word, n, {sql_round_stable('b1')} AS beta, "
        f"{sql_round_stable('b2')} AS beta_ctrl, "
        f"{sql_round_stable('b1 * sqrt((n - 3) / (1 - (b1 * ryx + b2 * ryc)))')} AS t_stat "
        "FROM betas WHERE (b1 * ryx + b2 * ryc) < 1"
    ),
    doc="Standardized 2-covariate OLS per word, controlling for lang='en' "
    "(ols_multi, a3_p1.py:104-131, control <- `verified`): partial-"
    "correlation algebra over one sufficient-statistic shuffle, t per the "
    "reference's own SE formula; oracle re-derives the same algebra from "
    "DuckDB corr() pairs.",
    tags=("ols_multi", "bool_encode"),
)
def ols_multi_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = word_observations(spark, sf_dir)
    fit = ols_multi_closed(obs, "word", "x", "ctrl", "y", bonferroni_k=TOP_K)
    return (
        fit.filter(
            ~F.isnan("beta") & F.col("beta").isNotNull() & ~F.isnan("t_stat")
        )
        .select(
            "word",
            "n",
            round_stable("beta").alias("beta"),
            round_stable("beta_ctrl").alias("beta_ctrl"),
            round_stable("t_stat").alias("t_stat"),
        )
    )


def _sql_dsum12(expr: str) -> str:
    """Mirror of operators/stats._dsum: exact decimal(38,12) sum -> double."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"


#: Sufficient statistics + fit mirroring ols_simple_closed expression for
#: expression (decimal sums, the _pearson formula, the t formula), so beta
#: and t_stat are engine-identical doubles before any rounding.
_SQL_SIMPLE_FIT = (
    "fs AS (SELECT word, COUNT(*) AS n, "
    f"{_sql_dsum12('x')} AS sx, {_sql_dsum12('y')} AS sy, "
    f"{_sql_dsum12('x * y')} AS sxy, {_sql_dsum12('x * x')} AS sxx, "
    f"{_sql_dsum12('y * y')} AS syy FROM dense GROUP BY word), "
    "fit AS (SELECT word, n, "
    "(CAST(n AS DOUBLE) * sxy - sx * sy) / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) "
    "* (CAST(n AS DOUBLE) * syy - sy * sy)) AS r FROM fs), "
    "fitf AS (SELECT word, n, r, "
    "r * sqrt((CAST(n AS DOUBLE) - 2) / (1 - r * r)) AS t_stat FROM fit "
    "WHERE r IS NOT NULL AND NOT isnan(r) AND abs(r) < 1)"
)

#: MATERIALIZED-fitf twin for the p-value query's scale oracle (see its
#: registration note). Assert the rewrite actually hit (make_sf1 ADVICE
#: lesson: a silent no-op replace defeats the fix).
_SQL_SIMPLE_FIT_MAT = _SQL_SIMPLE_FIT.replace(
    "fitf AS (SELECT", "fitf AS MATERIALIZED (SELECT", 1
)
assert _SQL_SIMPLE_FIT_MAT != _SQL_SIMPLE_FIT


@register(
    "ols_words_pvalues",
    oracle=(
        f"WITH RECURSIVE {_SQL_DENSE}, {_SQL_SIMPLE_FIT}, "
        + sql_t_pvalue_cf_ctes("fitf", "t_stat", "n - 2", "word")
        + f" SELECT word, n, {sql_round_stable('r')} AS beta, "
        f"{sql_round_stable('t_stat')} AS t_stat, "
        f"{sql_round_stable('p_value', 6)} AS p_value, "
        f"{sql_round_stable(f'least(1.0, p_value * {TOP_K})', 6)} AS p_bonf "
        "FROM fitf_p "
        f"ORDER BY {sql_round_stable('r')} DESC, word ASC LIMIT 20"
    ),
    # Scale form: identical SQL except fitf is MATERIALIZED. Without the
    # hint DuckDB re-evaluates the whole dense-CTE chain (15M rows at 100x)
    # on every Lentz half-step of the recursive CF — >270 s at sf10 vs
    # 6 s materialized; result-identical (tests/test_scale_tools.py pins
    # equality at driver SFs).
    scale_oracle=(
        f"WITH RECURSIVE {_SQL_DENSE}, {_SQL_SIMPLE_FIT_MAT}, "
        + sql_t_pvalue_cf_ctes("fitf", "t_stat", "n - 2", "word")
        + f" SELECT word, n, {sql_round_stable('r')} AS beta, "
        f"{sql_round_stable('t_stat')} AS t_stat, "
        f"{sql_round_stable('p_value', 6)} AS p_value, "
        f"{sql_round_stable(f'least(1.0, p_value * {TOP_K})', 6)} AS p_bonf "
        "FROM fitf_p "
        f"ORDER BY {sql_round_stable('r')} DESC, word ASC LIMIT 20"
    ),
    doc="Full reference output shape: β, two-sided p, Bonferroni-corrected p "
    "(×K, a3_p1.py:94-96) per word, top-20 by β with tiebreak — the engine "
    "twin of a3_p1's pos_corr list. p-values via the fixed-iteration "
    "incomplete-beta continued fraction (functions/tdist.py betacf): a "
    "pure-JVM sequential fold, O(1) in df, whose DuckDB oracle runs the "
    "IDENTICAL recurrence in a bounded recursive CTE — the p column is "
    "hash-pinned at every SF (the former series oracle was O(df) per row "
    "and had to be excluded from the sf0.1 sweep), no Python in the plan.",
    tags=("ols_simple", "topk"),
)
def ols_words_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = word_observations(spark, sf_dir)
    fit = ols_simple_closed(obs, "word", "x", "y", bonferroni_k=TOP_K)
    return (
        fit.filter(
            ~F.isnan("beta") & F.col("beta").isNotNull() & (F.abs(F.col("beta")) < 1)
        )
        .select(
            "word",
            "n",
            round_stable("beta").alias("beta"),
            round_stable("t_stat").alias("t_stat"),
            round_stable("p_value", 6).alias("p_value"),
            round_stable("p_bonf", 6).alias("p_bonf"),
        )
        .orderBy(F.desc("beta"), F.asc("word"))
        .limit(20)
    )


def _wide_dsum(col):
    """Exact decimal sum at scale 4 with 38-digit headroom — for sums of
    squared doubles (l_extendedprice² sums overflow decimal(18,s) above
    ~sf0.05)."""
    return F.sum(col.cast("decimal(38,4)")).cast("double")


def _sql_wide_dsum(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE)"


@register(
    "corr_price_quantity",
    oracle=(
        "WITH s AS (SELECT l_returnflag, COUNT(*) AS n, "
        f"{_sql_wide_dsum('l_quantity')} AS sx, "
        f"{_sql_wide_dsum('l_extendedprice')} AS sy, "
        f"{_sql_wide_dsum('l_quantity * l_extendedprice')} AS sxy, "
        f"{_sql_wide_dsum('l_quantity * l_quantity')} AS sxx, "
        f"{_sql_wide_dsum('l_extendedprice * l_extendedprice')} AS syy "
        "FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, n, "
        + sql_round_stable(
            "(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))"
        )
        + " AS corr FROM s"
    ),
    doc="Pearson correlation per group from EXACT decimal sufficient "
    "statistics (n, Σx, Σy, Σxy, Σx², Σy²) instead of the builtin corr(), "
    "whose double co-moment merges are partition-order dependent: the five "
    "sums are exact, the corr formula is one deterministic double "
    "expression, and the whole thing is a single partial-agg shuffle "
    "(beyond-reference; the sufficient-statistic pattern behind ols_simple, "
    "SURVEY.md §7.4.5).",
    tags=("corr", "agg_mean_std", "agg_combiner"),
)
def corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: five decimal(38,4) partial sums over the whole fact table ran
    # on one core on the local single-split scan (guide §2.5 input skew;
    # measured 1.65 -> 0.79 s at sf0.1). No-op at real split counts.
    li = spread(load_table(spark, sf_dir, "lineitem"))
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _wide_dsum(x).alias("sx"),
        _wide_dsum(y).alias("sy"),
        _wide_dsum(x * y).alias("sxy"),
        _wide_dsum(x * x).alias("sxx"),
        _wide_dsum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        "n",
        round_stable(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("corr"),
    )
