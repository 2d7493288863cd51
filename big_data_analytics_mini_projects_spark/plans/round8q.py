"""Round-7-authored queries: real event-time
semantics over ``events.ts`` plus the next tranche of training-data-pipeline
stages. SURVEY §1.2 records that the reference data model DECLARES a
timestamp (``reviewTime`` in the review JSON, `a3_p1.py:17-27`) but never
parses it — this module is where the engine exercises those time semantics
for real: freshness decay keyed off an event-time join, weekly retention
cohorts, sliding event-time windows, and per-user event-order transitions.

- ``doc_freshness_by_event_time`` — crawl-freshness decay where each doc's
  age comes from a REAL event timestamp (bucketed last-seen join), not from
  a doc_id-derived pseudo-age (contrast: round7q.crawl_freshness_sample).
- ``retention_cohorts_weekly``    — classic cohort retention: users grouped
  by first-activity week, distinct-user counts per week offset.
- ``sliding_window_event_rate``   — 1-hour windows sliding every 30 min
  (F.window with slide < length): each event lands in exactly two windows.
- ``event_transition_counts``     — per-user event-type Markov transitions
  (lag over event time), the behavior-model fit stage.
- ``oov_rate_by_source``          — tokenizer-vocabulary coverage: top-K
  corpus vocabulary (two-pass), per-source out-of-vocabulary token rate.
- ``domain_gini_tokens``          — corpus concentration diagnostic: exact
  integer-arithmetic Gini coefficient over per-domain token mass.
- ``dedup_substring_multigrain``  — the exact-substring dedup span-width
  sweep (K = 8 / 12 / 16): how duplicated mass responds
  to match-length granularity.
- ``streaming_sessions_closed``   — stateful streaming sessionization with
  WATERMARKED EVICTION (event-time timeout closes idle sessions), the
  round-7 queue's "streaming drift with watermarked eviction" shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h64, h64_sql
from ..functions.text import (
    ngram_text,
    ngrams,
    round_stable,
    sql_round_stable,
    sql_tokens,
    tokens,
)
from ..operators.aggregates import dsum
from ..sources.tables import load_table, spread
from .registry import register
from .shared import DAY_US, WEEK_US, span_islands

#: Fixed bucket count for the event->doc last-seen link: the bucket frame is
#: always exactly this many rows (broadcast-sized at ANY corpus scale) and
#: the key space is id-scheme independent (survives resharding/replication,
#: unlike a `hash % n_docs` link whose hit set collapses when doc ids stop
#: being dense).
FRESH_BUCKETS = 4096
#: Age cap in days: keeps the 2^-age acceptance shift in int range and gives
#: never-seen docs (LEFT join miss) a well-defined "stalest" age.
AGE_CAP = 30


@register(
    "doc_freshness_by_event_time",
    oracle=(
        "WITH ls AS (SELECT "
        f"{h64_sql('event_id', 'fb')} % {FRESH_BUCKETS} AS bucket, "
        "MAX(epoch_us(ts)) AS last_seen FROM events GROUP BY bucket), "
        "gm AS (SELECT MAX(epoch_us(ts)) AS g FROM events), "
        "d AS (SELECT d.source, d.doc_id, "
        f"len({sql_tokens('d.text')}) AS n_tok, "
        f"LEAST(COALESCE(((SELECT g FROM gm) - ls.last_seen) // {DAY_US}, "
        f"{AGE_CAP}), {AGE_CAP}) AS age "
        "FROM documents d LEFT JOIN ls "
        f"ON {h64_sql('d.doc_id', 'fb')} % {FRESH_BUCKETS} = ls.bucket), "
        "k AS (SELECT source, age, n_tok, "
        f"CASE WHEN {h64_sql('doc_id', 'fr8')} % (CAST(1 AS BIGINT) << age) = 0 "
        "THEN 1 ELSE 0 END AS kept FROM d) "
        "SELECT source, age, COUNT(*) AS n_docs, "
        "CAST(SUM(kept) AS BIGINT) AS n_kept, "
        "CAST(COALESCE(SUM(CASE WHEN kept = 1 THEN n_tok END), 0) AS BIGINT) "
        "AS kept_tokens "
        "FROM k GROUP BY source, age"
    ),
    doc="Crawl-freshness decay over a REAL timestamp column (the round-7 "
    "queue's events-join variant of crawl_freshness_sample): each doc's "
    "crawl age is (global max event time - its bucket's last event time) in "
    "days, where the doc->bucket link is a fixed 4096-way seeded hash — the "
    "per-bucket MAX(ts) frame is 4096 rows at ANY corpus scale, so the "
    "doc-side join is a BROADCAST of a tiny aggregate (no shuffle of the "
    "corpus). Docs in never-touched buckets LEFT-join to the stalest age "
    "(cap 30). Survival is the exact 2^-age integer acceptance "
    "(h % (1 << age) == 0) — no float RNG to diverge between engines. "
    "Exercises the TimestampType semantics SURVEY §1.2 records the "
    "reference declares (reviewTime) but never parses.",
    tags=("sampling", "curation", "time"),
)
def doc_freshness_by_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ls = ev.groupBy(
        (h64("event_id", "fb") % FRESH_BUCKETS).alias("bucket")
    ).agg(F.max("ts_us").alias("last_seen"))
    gm = ev.agg(F.max("ts_us").alias("g"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_tok"),
        (h64("doc_id", "fb") % FRESH_BUCKETS).alias("bucket"),
    )
    d = (
        docs.join(F.broadcast(ls), "bucket", "left")
        .crossJoin(F.broadcast(gm))
        .select(
            "source",
            "doc_id",
            "n_tok",
            F.least(
                F.coalesce(
                    ((F.col("g") - F.col("last_seen")) / F.lit(DAY_US)).cast(
                        "long"
                    ),
                    F.lit(AGE_CAP),
                ),
                F.lit(AGE_CAP),
            ).alias("age"),
        )
    )
    k = d.select(
        "source",
        "age",
        "n_tok",
        F.when(
            h64("doc_id", "fr8")
            % F.expr("shiftleft(CAST(1 AS BIGINT), CAST(age AS INT))") == 0,
            1,
        )
        .otherwise(0)
        .alias("kept"),
    )
    return k.groupBy("source", "age").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept") == 1, F.col("n_tok"))), F.lit(0)
        ).alias("kept_tokens"),
    )


@register(
    "retention_cohorts_weekly",
    oracle=(
        "WITH e AS (SELECT user_id, epoch_us(ts) // "
        f"{WEEK_US} AS week FROM events), "
        "c AS (SELECT user_id, MIN(week) AS cohort FROM e GROUP BY user_id) "
        "SELECT c.cohort AS cohort_week, e.week - c.cohort AS week_offset, "
        "COUNT(DISTINCT e.user_id) AS n_users, COUNT(*) AS n_events "
        "FROM e JOIN c USING (user_id) GROUP BY cohort_week, week_offset"
    ),
    doc="Weekly cohort retention over real event time: cohort = epoch week "
    "of a user's FIRST event (one groupBy-min), then distinct active users "
    "per (cohort, week offset). Both the first-event aggregate and the "
    "join back hash on user_id, so the two shuffles are co-partitioned "
    "(the join reuses the aggregate's partitioning); the output is "
    "weeks x weeks rows regardless of corpus size. Epoch-integer week "
    "buckets keep the arithmetic timezone-free.",
    tags=("time", "agg_distinct", "window"),
)
def retention_cohorts_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", (F.col("ts_us") / F.lit(WEEK_US)).cast("long").alias("week")
    )
    c = e.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        e.join(c, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("week") - F.col("cohort")).alias("week_offset"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# The window constants and the oracle text live in plans/shared.py: the
# streaming twin round9q.streaming_sliding_counts shares the oracle string
# without importing this module.
from .shared import SQL_SLIDING_RATE  # noqa: E402


@register(
    "sliding_window_event_rate",
    oracle=SQL_SLIDING_RATE,
    doc="Sliding event-time windows (1 h length, 30 min slide) per event "
    "type — the overlapping-window shape tumbling events_hourly cannot "
    "express: every event belongs to exactly two windows, which the oracle "
    "mirrors as a 2-row unnest of epoch-aligned starts. Spark's native "
    "F.window(slide < length) does the same replication inside codegen "
    "before ONE keyed aggregate; works unchanged as a watermarked "
    "streaming query. Window starts are compared as epoch micros "
    "(unix_micros), keeping the contract timezone-free.",
    tags=("streaming", "time", "window"),
)
def sliding_window_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "event_transition_counts",
    oracle=(
        "WITH o AS (SELECT user_id, event_type, "
        "lag(event_type) OVER (PARTITION BY user_id "
        "ORDER BY epoch_us(ts), event_id) AS prev_type FROM events) "
        "SELECT prev_type, event_type AS next_type, COUNT(*) AS n "
        "FROM o WHERE prev_type IS NOT NULL "
        "GROUP BY prev_type, next_type"
    ),
    doc="Per-user event-type transition counts (the Markov-chain fit stage "
    "of a behavior model): one lag window ordered by real event time with "
    "the event_id tiebreaker (equal-timestamp determinism), one keyed "
    "count. The window partitions by user_id — bounded per-user state, "
    "one shuffle; output is |event_types|^2 rows at any scale.",
    tags=("time", "window", "agg_count_by_key"),
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    o = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        o.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


VOCAB_K = 1000


@register(
    "oov_rate_by_source",
    oracle=(
        f"WITH tok AS (SELECT source, unnest({sql_tokens('text')}) AS tok FROM documents), "
        "cnt AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok), "
        "voc AS (SELECT tok FROM (SELECT tok, row_number() OVER "
        "(ORDER BY n DESC, tok ASC) AS r FROM cnt) "
        f"WHERE r <= {VOCAB_K}) "
        "SELECT source, COUNT(*) AS total_tokens, "
        "CAST(SUM(CASE WHEN voc.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS oov_tokens, "
        + sql_round_stable(
            "CAST(SUM(CASE WHEN voc.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)"
            " / COUNT(*)",
            6,
        )
        + " AS oov_rate "
        "FROM tok LEFT JOIN voc USING (tok) GROUP BY source"
    ),
    doc="Tokenizer-vocabulary coverage: build the top-1000 corpus vocabulary "
    "(count + TakeOrderedAndProject with the token tiebreaker so the rank-"
    "1000 cut is deterministic), then the per-source out-of-vocabulary "
    "token rate via a BROADCAST left join of the fixed-size vocab against "
    "the token stream. Two corpus-linear passes, one keyed count shuffle "
    "each; the vocab side is 1000 rows at any corpus scale. The canonical "
    "'will my tokenizer cover this shard' pre-training check.",
    tags=("text", "curation", "topk"),
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    tok = docs.select(
        "source",
        F.explode(tokens("text")).alias("tok"),
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("iv"))
    )
    j = tok.join(F.broadcast(vocab), "tok", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0)).alias("oov_tokens"),
        round_stable(
            F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


@register(
    "domain_gini_tokens",
    oracle=(
        f"WITH x AS (SELECT source, CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS toks "
        "FROM documents GROUP BY source), "
        "r AS (SELECT toks, row_number() OVER (ORDER BY toks ASC, source ASC) "
        "AS i FROM x) "
        "SELECT COUNT(*) AS n_sources, CAST(SUM(toks) AS BIGINT) AS total_tokens, "
        + sql_round_stable(
            "CAST(2 * SUM(i * toks) - (COUNT(*) + 1) * SUM(toks) AS DOUBLE) "
            "/ (COUNT(*) * SUM(toks))",
            6,
        )
        + " AS gini FROM r"
    ),
    doc="Domain-concentration Gini coefficient over per-source token mass — "
    "the 'is my corpus dominated by a few domains' curation diagnostic. "
    "Exact integer arithmetic end-to-end (rank-weighted sum formula "
    "G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) on sorted totals), one "
    "double division at the end. The ranking window is GLOBAL but runs on "
    "the per-source aggregate — domains-scale (thousands of rows at 100 TB), "
    "never corpus-scale.",
    tags=("curation", "agg_sum_by_key"),
)
def domain_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    x = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).alias("toks")
    )
    r = x.select(
        "toks",
        F.row_number()
        .over(Window.orderBy(F.asc("toks"), F.asc("source")))
        .alias("i"),
    )
    return r.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("toks").alias("total_tokens"),
        round_stable(
            (
                2 * F.sum(F.col("i") * F.col("toks"))
                - (F.count(F.lit(1)) + 1) * F.sum("toks")
            ).cast("double")
            / (F.count(F.lit(1)) * F.sum("toks")),
            6,
        ).alias("gini"),
    )


MULTIGRAIN_KS = (8, 12, 16)


def _sql_es_width(k: int) -> str:
    """Per-width corpus rollup of the exact-substring machinery (the K-
    parameterized twin of round7q._SQL_ES, reduced to corpus totals)."""
    return (
        f"SELECT {k} AS width, COUNT(*) AS n_docs, "
        "CAST(SUM(n_islands) AS BIGINT) AS n_islands, "
        "CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens FROM ("
        f"WITH tarr AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents), "
        f"sp AS (SELECT doc_id, unnest(range(0, len(toks) - {k - 1})) AS pos, "
        "toks FROM tarr), "
        "sh AS (SELECT doc_id, pos, "
        f"{h64_sql(f'array_to_string(toks[pos + 1:pos + {k}], chr(32))', 'es')} AS h "
        "FROM sp), "
        "dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd "
        "FROM sh GROUP BY h) WHERE nd >= 2), "
        "m AS (SELECT doc_id, pos FROM sh JOIN dup USING (h)), "
        "isl AS (SELECT doc_id, pos, "
        "SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END) "
        "OVER (PARTITION BY doc_id ORDER BY pos) AS island "
        f"FROM (SELECT *, MAX(pos + {k - 1}) OVER (PARTITION BY doc_id "
        "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
        "AS prev_end FROM m)), "
        "cov AS (SELECT doc_id, island, "
        f"MAX(pos) - MIN(pos) + {k} AS covered FROM isl "
        "GROUP BY doc_id, island) "
        "SELECT doc_id, COUNT(*) AS n_islands, "
        "CAST(SUM(covered) AS BIGINT) AS dup_tokens "
        "FROM cov GROUP BY doc_id)"
    )


def _es_cov(docs: DataFrame, k: int, tokenized: bool = False) -> DataFrame:
    """Spark twin of :func:`_sql_es_width`'s inner per-doc frame: the
    round7q exact-substring pipeline parameterized by span width.

    ``tokenized=True`` takes a pre-split (doc_id, toks) frame so multi-width
    callers tokenize the corpus once (the multigrain persist)."""
    if tokenized:
        d = docs
    else:
        d = docs.select("doc_id", tokens("text").alias("toks"))
    sp = d.select(
        "doc_id", F.posexplode(ngrams("toks", k)).alias("pos", "span")
    ).select("doc_id", "pos", h64(ngram_text("span", k), "es").alias("h"))
    dup = (
        sp.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    m = sp.join(dup, "h").select("doc_id", "pos")
    isl = span_islands(m, k)
    cov = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("covered")
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("covered").alias("dup_tokens"),
    )
    return per_doc.agg(
        F.lit(k).alias("width"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_islands").alias("n_islands"),
        F.sum("dup_tokens").alias("dup_tokens"),
    ).select("width", "n_docs", "n_islands", "dup_tokens")


@register(
    "dedup_substring_multigrain",
    oracle=" UNION ALL ".join(_sql_es_width(k) for k in MULTIGRAIN_KS),
    doc="Exact-substring dedup span-width sweep ('multi-granularity "
    "suffix containment'): the round7q ExactSubstr "
    "machinery run at K = 8 / 12 / 16 tokens, rolled up to corpus totals "
    "(docs with duplicated spans, islands, duplicated-token mass) — the "
    "sensitivity curve that picks the production match length. Three "
    "independent corpus-linear passes UNIONed; each pass keeps the "
    "round7q scale shape (uniform 60-bit span-hash keys, duplicate-"
    "vocabulary-scale join back, per-doc bounded island merge).",
    tags=("dedup", "fingerprint", "curation"),
)
def dedup_substring_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # Deliberately NOT persisting the tokenized (doc_id, toks) frame across
    # the three width passes, although it measured ~0.5 s faster at sf0.1:
    # caching corpus-scale token ARRAYS is the exact pattern the round-10
    # 1000x ledger caught starving the span-frequency hash aggregate
    # (AGGREGATE_OUT_OF_MEMORY at sf100 — BASELINE.md round-10 addendum 6
    # lesson (a)). Re-tokenizing per pass costs one linear projection; the
    # shared frame is still built once below so the three passes at least
    # share the plan subtree for Catalyst/codegen reuse.
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    out = None
    for k in MULTIGRAIN_KS:
        part = _es_cov(toks, k, tokenized=True)
        out = part if out is None else out.unionAll(part)
    return out


#: Oracle for the watermark-evicted streaming sessionizer: batch
#: gaps-and-islands sessionization (the session_windows_users shape with the
#: event_id tiebreaker), each user's OPEN TAIL session kept only if the
#: pinned eviction predicate holds — (last_us + gap) // 1000 strictly less
#: than gmax_us // 1000, the exact integer arithmetic of Spark's
#: ms-floored event-time watermark + strict timeout comparison
#: (streaming/stream_stats.stream_sessions_closed docstring; boundary
#: semantics pinned in tests/test_round8q.py).
def _sql_sessions_closed(gap_us: int) -> str:
    return (
        "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, "
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events), "
        "o AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL "
        f"OR t - lag(t) OVER w >= {gap_us} THEN 1 ELSE 0 END AS brk "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), "
        "s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id "
        "ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o), "
        "g AS (SELECT user_id, sid, MIN(t) AS session_start_us, "
        "MAX(t) AS last_us, COUNT(*) AS n_events, "
        "CAST(SUM(cents) AS BIGINT) AS total_cents FROM s GROUP BY user_id, sid), "
        "x AS (SELECT *, CASE WHEN sid = MAX(sid) OVER (PARTITION BY user_id) "
        "THEN 1 ELSE 0 END AS is_last FROM g), "
        "wm AS (SELECT MAX(t) // 1000 AS w FROM e) "
        f"SELECT user_id, session_start_us, last_us + {gap_us} AS session_end_us, "
        "n_events, total_cents, "
        "CASE WHEN is_last = 1 THEN 'timeout' ELSE 'event' END AS closed_by "
        "FROM x WHERE is_last = 0 "
        f"OR (last_us + {gap_us}) // 1000 < (SELECT w FROM wm)"
    )


def _register_sessions_closed():
    # deferred import: streaming module constants, registration-free
    from ..streaming.stream_stats import SESSIONS_GAP_US

    @register(
        "streaming_sessions_closed",
        oracle=_sql_sessions_closed(SESSIONS_GAP_US),
        doc="Stateful streaming sessionization with WATERMARKED EVICTION "
        "(applyInPandasWithState + EventTimeTimeout): per-user open "
        "sessions live in 4-long state; a session emits when the user's "
        "next event arrives past the 10-min gap (closed_by='event') or "
        "when the event-time watermark passes last+gap and the state is "
        "EVICTED (closed_by='timeout') — the mechanism that bounds state "
        "on an unbounded stream where entities go quiet, which the "
        "NoTimeout twins (streaming_user_stats, streaming_scd2_intervals) "
        "deliberately lack. The eviction predicate is pinned integer "
        "arithmetic ((last_us+gap)//1000 < gmax_us//1000 — Spark floors "
        "event-time micros to ms and fires strictly below the watermark; "
        "empirically pinned in tests/test_round8q.py), so the DuckDB "
        "oracle reproduces it exactly. State per user is 4 longs; emitted "
        "rows are immutable (append mode).",
        tags=("streaming", "stateful", "time", "window"),
        bench=False,
    )
    def streaming_sessions_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..streaming.stream_stats import (
            events_stream,
            run_available_now,
            stream_sessions_closed,
        )

        return run_available_now(
            stream_sessions_closed(events_stream(spark, sf_dir)),
            output_mode="append",
        )

    return streaming_sessions_closed


streaming_sessions_closed = _register_sessions_closed()
