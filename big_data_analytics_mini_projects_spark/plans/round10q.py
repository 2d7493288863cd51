"""Retention, convergence, recall, vocabulary and late-data queries that
round out the training-data-pipeline surface:

- ``retention_value_bands``   — the queue's "per-cohort retention joined to
  quality signals": weekly cohorts segmented by the user's first-week spend
  band (exact digit-count banding, no per-cohort rank sort).
- ``lloyd_convergence_curve`` — the queue's "multi-iteration Lloyd
  convergence curve": 3 assignment passes, per-iteration moved counts and
  decimal-exact inertia (does the quantizer settle?).
- ``ann_recall_ivf``          — ANN quality accounting: recall@10 of the
  IVF nprobe=3 search against the brute-force ground truth — the metric
  that justifies (or indicts) the cheap scale path.
- ``vocab_growth_curve``      — Heaps-law vocabulary growth over corpus
  deciles: does vocabulary saturate, i.e. is more data buying new types?
- ``domain_cap_sweep``        — C4-style per-domain doc-cap sensitivity
  (cap = 8/64/512) in ONE window pass + conditional aggregates.
- ``event_value_mad_outliers`` — robust per-type outlier accounting via
  exact median/MAD on integer cents (cross-engine-exact interpolated
  percentiles, pinned in tests/test_round10q.py).
- ``streaming_late_data_drop`` — the queue's "late-data drop accounting":
  a 3-batch deterministic replay makes watermark drops OBSERVABLE, with
  Spark's batch-lagged filter watermark and window-end drop/emit
  predicates pinned empirically and mirrored in exact integer oracle
  arithmetic (tests/test_round10q.py boundary pins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.hashing import h64, h64_sql
from ..functions.text import (
    round_stable,
    sql_round_stable,
    sql_tokens,
    sql_tokens_ws,
    tokenize_ws,
    tokens,
)
from ..operators.aggregates import dsum, sql_dsum
from ..operators.vector import _dot, cosine_topk, cosine_topk_ivf, ivf_cell_centroids
from ..sources.tables import load_table, spread
from .registry import register
from .shared import (
    _SQL_IVF,
    IVF_K,
    IVF_NPROBE,
    IVF_QUERIES,
    SQL_VECS,
    WEEK_US,
    embedding_vectors,
)

# --------------------------------------------------------------------------
# retention_value_bands
# --------------------------------------------------------------------------

_SQL_RVB = f"""
e AS (SELECT user_id, epoch_us(ts) // {WEEK_US} AS week,
      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
c AS (SELECT user_id, MIN(week) AS cohort FROM e GROUP BY user_id),
j AS (SELECT e.user_id, e.week, e.cents, c.cohort FROM e JOIN c USING (user_id)),
u AS (SELECT user_id,
      CAST(length(CAST(SUM(CASE WHEN week = cohort THEN cents END) AS VARCHAR))
           AS INTEGER) AS band
      FROM j GROUP BY user_id)
"""


@register(
    "retention_value_bands",
    oracle=(
        f"WITH {_SQL_RVB} "
        "SELECT j.cohort AS cohort_week, u.band, "
        "j.week - j.cohort AS week_offset, "
        "COUNT(DISTINCT j.user_id) AS n_users, COUNT(*) AS n_events "
        "FROM j JOIN u USING (user_id) "
        "GROUP BY cohort_week, band, week_offset"
    ),
    doc="Weekly retention cohorts segmented by a VALUE band — the "
    "'retention joined to quality signals' shape: each "
    "user's band is the DIGIT COUNT of their first-week spend in integer "
    "cents (an exact order-of-magnitude band: length(cast(cents as "
    "string)), identical in both engines for non-negative integers), so "
    "high-value and low-value cohorts get separate retention curves. "
    "Deliberately NOT a per-cohort rank quartile: ranking users within a "
    "cohort is a cohort-wide sort (one partition per cohort — a skew "
    "hazard at 1B users/cohort), while the digit band is a map-side "
    "expression on a user-keyed aggregate. Every shuffle here hashes on "
    "user_id (first-event min, first-week spend, and both join-backs are "
    "co-partitioned); the final (cohort, band, offset) aggregate is "
    "weeks x bands x weeks rows at any corpus scale.",
    tags=("time", "agg_distinct", "curation"),
)
def retention_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("ts_us") / F.lit(WEEK_US)).cast("long").alias("week"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return retention_bands_core(e)


def retention_bands_core(e: DataFrame) -> DataFrame:
    """Core of retention_value_bands over any (user_id, week, cents) frame."""
    c = e.groupBy("user_id").agg(F.min("week").alias("cohort"))
    j = e.join(c, "user_id")
    u = j.groupBy("user_id").agg(
        F.length(
            F.sum(F.when(F.col("week") == F.col("cohort"), F.col("cents")))
            .cast("string")
        ).alias("band")
    )
    return (
        j.join(u, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            "band",
            (F.col("week") - F.col("cohort")).alias("week_offset"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# vocab_growth_curve
# --------------------------------------------------------------------------

VG_BUCKETS = 10


@register(
    "vocab_growth_curve",
    oracle=(
        f"WITH tok AS (SELECT {h64_sql('doc_id', 'vg')} % {VG_BUCKETS} AS bucket, "
        f"word FROM ({sql_tokens_ws()})), "
        "per AS (SELECT bucket, COUNT(*) AS n_tokens FROM tok GROUP BY bucket), "
        "fb AS (SELECT word, MIN(bucket) AS bucket FROM tok GROUP BY word), "
        "nt AS (SELECT bucket, COUNT(*) AS new_types FROM fb GROUP BY bucket), "
        "cum AS (SELECT per.bucket, "
        "CAST(SUM(per.n_tokens) OVER w AS BIGINT) AS cum_tokens, "
        "CAST(SUM(COALESCE(nt.new_types, 0)) OVER w AS BIGINT) AS cum_types "
        "FROM per LEFT JOIN nt USING (bucket) "
        "WINDOW w AS (ORDER BY per.bucket ROWS UNBOUNDED PRECEDING)) "
        "SELECT bucket, cum_tokens, cum_types, "
        + sql_round_stable("CAST(cum_types AS DOUBLE) / cum_tokens", 6)
        + " AS type_token_ratio FROM cum"
    ),
    doc="Heaps-law vocabulary growth curve: the corpus is split into 10 "
    "seeded hash buckets of documents (a deterministic stand-in for crawl "
    "order), and for each cumulative prefix of buckets the query reports "
    "total token mass and DISTINCT vocabulary size — the 'is more data "
    "still buying new types' tokenizer-planning diagnostic. The trick that "
    "makes it one pass instead of 10 distinct-counts: a token's first "
    "bucket (vocabulary-scale groupBy-min) fully determines every prefix "
    "it appears in, so cumulative distinct = running sum of first-bucket "
    "counts. Shuffles: one token count (vocab-scale), one first-bucket "
    "min (vocab-scale); the running-sum window runs on 10 rows.",
    tags=("text", "curation", "agg_distinct"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = tokenize_ws(docs).select(
        (h64("doc_id", "vg") % VG_BUCKETS).alias("bucket"), "word"
    )
    per = tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    fb = tok.groupBy("word").agg(F.min("bucket").alias("bucket"))
    nt = fb.groupBy("bucket").agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per.join(nt, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_types"), F.lit(0)))
            .over(w)
            .alias("cum_types"),
        )
    )
    return cum.select(
        "bucket",
        "cum_tokens",
        "cum_types",
        round_stable(
            F.col("cum_types").cast("double") / F.col("cum_tokens"), 6
        ).alias("type_token_ratio"),
    )


# --------------------------------------------------------------------------
# domain_cap_sweep
# --------------------------------------------------------------------------

CAP_SWEEP = (8, 64, 512)

_SQL_CAP_BASE = f"""
t AS (SELECT source, doc_id,
      len({sql_tokens('text')}) AS n_tok,
      {h64_sql('doc_id', 'cap')} AS h FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY source
      ORDER BY h ASC, doc_id ASC) AS rk FROM t),
a AS (SELECT COUNT(*) AS total_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
"""


def _sql_cap_aggs() -> str:
    cols = []
    for cap in CAP_SWEEP:
        cols.append(
            f"CAST(SUM(CASE WHEN rk <= {cap} THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS kd{cap}, "
            f"CAST(SUM(CASE WHEN rk <= {cap} THEN n_tok ELSE 0 END) AS BIGINT) "
            f"AS kt{cap}"
        )
    return ", ".join(cols) + " FROM r)"


@register(
    "domain_cap_sweep",
    oracle=(
        "WITH "
        + _SQL_CAP_BASE
        + _sql_cap_aggs()
        + " "
        + " UNION ALL ".join(
            f"SELECT CAST({cap} AS BIGINT) AS cap, kd{cap} AS kept_docs, "
            f"kt{cap} AS kept_tokens, total_docs, total_tokens FROM a"
            for cap in CAP_SWEEP
        )
    ),
    doc="Per-domain document-cap sensitivity sweep (cap = 8/64/512 docs per "
    "source): how much of the corpus survives a C4-style domain cap at "
    "each setting — the tuning curve for domain_doc_cap's production "
    "threshold, analogous to dedup_substring_multigrain's width sweep. "
    "ONE rank window over (seeded hash, doc_id) per source feeds all three "
    "caps as conditional aggregates (no per-cap re-rank, no explode), then "
    "a 3-row stack. Window partitions are per-source (domain-bounded "
    "state); everything after the rank is map-side conditional sums into "
    "one global row.",
    tags=("curation", "sampling", "window"),
)
def domain_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
        h64("doc_id", "cap").alias("h"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.asc("h"), F.asc("doc_id"))
    )
    r = docs.withColumn("rk", rk)
    aggs = [
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_tok").alias("total_tokens"),
    ]
    for cap in CAP_SWEEP:
        aggs.append(
            F.sum(F.when(F.col("rk") <= cap, 1).otherwise(0)).alias(f"kd{cap}")
        )
        aggs.append(
            F.sum(F.when(F.col("rk") <= cap, F.col("n_tok")).otherwise(0)).alias(
                f"kt{cap}"
            )
        )
    a = r.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({cap} AS BIGINT), kd{cap}, kt{cap}" for cap in CAP_SWEEP
    )
    return a.select(
        F.expr(
            f"stack({len(CAP_SWEEP)}, {stack_args}) "
            "AS (cap, kept_docs, kept_tokens)"
        ),
        "total_docs",
        "total_tokens",
    )


# --------------------------------------------------------------------------
# event_value_mad_outliers
# --------------------------------------------------------------------------

MAD_K = 5  # outlier fence: |x - median| > MAD_K * MAD

_SQL_MAD = """
c AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM c GROUP BY event_type),
d AS (SELECT c.event_type, cents, med, abs(cents - med) AS ad
      FROM c JOIN m USING (event_type)),
m2 AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
       FROM d GROUP BY event_type)
"""


@register(
    "event_value_mad_outliers",
    oracle=(
        f"WITH {_SQL_MAD} "
        "SELECT d.event_type, COUNT(*) AS n, MAX(med) AS med_cents, "
        "MAX(mad) AS mad_cents, "
        f"CAST(SUM(CASE WHEN ad > {MAD_K} * mad THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_outliers, "
        + sql_round_stable(
            f"CAST(SUM(CASE WHEN ad > {MAD_K} * mad THEN 1 ELSE 0 END) "
            "AS DOUBLE) / COUNT(*)",
            6,
        )
        + " AS outlier_rate "
        "FROM d JOIN m2 USING (event_type) GROUP BY d.event_type"
    ),
    doc="Robust per-type outlier accounting via median/MAD — the "
    "quality-monitor stage where mean/sigma fences fail (the outliers "
    "inflate sigma and hide themselves): median absolute deviation fences "
    "|x - med| > 5*MAD. Exactness: values are integer cents; both engines "
    "compute the same (n-1)*p linearly-interpolated percentile (Spark "
    "percentile == DuckDB quantile_cont, pinned in tests/test_round10q.py), "
    "whose midpoints on integers are exactly representable doubles, so "
    "med/MAD/fence compare bit-identically. Scale: exact percentile state "
    "is a counts map bounded by DISTINCT cent values (a money domain, not "
    "corpus-scale), partial-merged map-side; both passes shuffle on "
    "event_type; the median frames broadcast back (|event_types| rows).",
    tags=("agg_mean_std", "quality", "sketch"),
)
def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return mad_outliers_core(c)


def mad_outliers_core(c: DataFrame) -> DataFrame:
    """Core of event_value_mad_outliers over any (event_type, cents) frame."""
    m = c.groupBy("event_type").agg(F.percentile("cents", 0.5).alias("med"))
    d = c.join(F.broadcast(m), "event_type").select(
        "event_type", "cents", "med", F.abs(F.col("cents") - F.col("med")).alias("ad")
    )
    m2 = d.groupBy("event_type").agg(F.percentile("ad", 0.5).alias("mad"))
    return (
        d.join(F.broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                F.when(F.col("ad") > MAD_K * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            round_stable(
                F.sum(
                    F.when(F.col("ad") > MAD_K * F.col("mad"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("outlier_rate"),
        )
    )


# --------------------------------------------------------------------------
# ann_recall_ivf
# --------------------------------------------------------------------------


@register(
    "ann_recall_ivf",
    oracle=(
        f"WITH {_SQL_IVF}, "
        "bp AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, "
        "list_dot_product(q.v, e.v) / (sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(e.v, e.v))) AS cos "
        "FROM q, e WHERE e.vec_id <> q.vec_id), "
        "truth AS (SELECT query_id, neighbor_id FROM (SELECT *, "
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rk FROM bp) "
        f"WHERE rk <= {IVF_K}), "
        "got AS (SELECT query_id, neighbor_id FROM (SELECT *, "
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rk FROM pairs) "
        f"WHERE rk <= {IVF_K}) "
        "SELECT t.query_id, CAST(COUNT(g.neighbor_id) AS BIGINT) AS n_hits, "
        + sql_round_stable(
            f"CAST(COUNT(g.neighbor_id) AS DOUBLE) / {IVF_K}", 6
        )
        + " AS recall "
        "FROM truth t LEFT JOIN got g "
        "ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id "
        "GROUP BY t.query_id"
    ),
    doc="ANN quality accounting: recall@10 of the IVF nprobe=3 search "
    "(ann_ivf_nprobe's exact construction, reused CTE-for-CTE) against the "
    "brute-force cosine ground truth, per query — the measurement that "
    "justifies shipping the 3/10-cost scale path, and the shape of every "
    "recall regression gate an embedding pipeline runs after re-training "
    "its quantizer. The brute-force side is the LABELED baseline (bounded "
    "query set: |Q| x corpus broadcast nested loop, same plan budget as "
    "ann_cosine_topk); the IVF side touches only probed cells. The final "
    "join compares two |Q| x k frames — driver-trivial at any corpus "
    "scale.",
    tags=("ann", "similarity_search", "quality"),
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = embedding_vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < IVF_QUERIES)
    truth = cosine_topk(vecs, queries, IVF_K).select("query_id", "neighbor_id")
    got = cosine_topk_ivf(vecs, queries, IVF_K, nprobe=IVF_NPROBE).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        truth.join(got, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            round_stable(
                F.count("hit").cast("double") / F.lit(IVF_K), 6
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# streaming_late_data_drop
# --------------------------------------------------------------------------

HOUR_US = 3_600_000_000


def _register_late_drop():
    # deferred import: streaming module constants, registration-free
    from ..streaming.stream_stats import LATE_BUCKETS, LATE_DELAY_MS

    end_ms = f"(((t // {HOUR_US}) * {HOUR_US} + {HOUR_US}) // 1000)"
    oracle = (
        "WITH e AS (SELECT event_type, value, epoch_us(ts) AS t, "
        f"{h64_sql('event_id', 'late')} % {LATE_BUCKETS} AS b FROM events), "
        f"wmf AS (SELECT MAX(t) // 1000 - {LATE_DELAY_MS} AS w FROM e WHERE b = 0), "
        f"wme AS (SELECT MAX(t) // 1000 - {LATE_DELAY_MS} AS w FROM e), "
        f"k AS (SELECT event_type, value, (t // {HOUR_US}) * {HOUR_US} AS ws "
        f"FROM e WHERE b < {LATE_BUCKETS - 1} OR {end_ms} > (SELECT w FROM wmf)) "
        "SELECT ws AS window_start_us, event_type, COUNT(*) AS n, "
        f"{sql_dsum('value')} AS sum_value "
        f"FROM k WHERE (ws + {HOUR_US}) // 1000 <= (SELECT w FROM wme) "
        "GROUP BY ws, event_type"
    )

    @register(
        "streaming_late_data_drop",
        oracle=oracle,
        doc="Watermark LATE-DATA DROP ACCOUNTING: hourly per-type counts "
        "over a deterministic 3-batch replay "
        "(events_replay_stream: bulk load, then two straggler trickles via "
        "mtime-ordered files + maxFilesPerTrigger=1), watermark delay 2 h, "
        "append mode. What a single-file availableNow run can never show: "
        "batch-2 stragglers whose window closed under the advanced "
        "watermark are DROPPED, so the emitted counts genuinely exclude "
        "too-late data. Spark's boundary semantics, pinned empirically in "
        "tests/test_round10q.py and mirrored in exact integer oracle "
        "arithmetic: (a) the late FILTER of batch N uses the watermark "
        "derived from batches 0..N-2 (one-batch lag), so batch-1 "
        "stragglers are absorbed and only batch-2 rows can drop; (b) drop "
        "and emit predicates are both window_end_ms <= wm_ms (non-strict), "
        "on the ms-floored watermark max_us//1000 - delay_ms; (c) "
        "availableNow appends a final no-data batch so every window at or "
        "below the final watermark emits. Windows above the final "
        "watermark stay buffered (never emitted) — the long-watermark "
        "twin behavior (delay > span emits NOTHING) is asserted as a unit "
        "test. State is O(open windows x event types); the replay files "
        "re-read the events table, so the accounting runs at corpus scale "
        "with no driver materialization.",
        tags=("streaming", "time", "window"),
        bench=False,
    )
    def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..streaming.stream_stats import (
            LATE_DELAY,
            events_replay_stream,
            run_available_now,
            stream_hourly_counts,
        )

        ev = events_replay_stream(spark, sf_dir)
        return run_available_now(
            stream_hourly_counts(ev, LATE_DELAY), output_mode="append"
        )

    return streaming_late_data_drop


streaming_late_data_drop = _register_late_drop()


# --------------------------------------------------------------------------
# lloyd_convergence_curve
# --------------------------------------------------------------------------

LLOYD_ITERS = 3

_SQL_D2L = (
    "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv) "
    "+ list_dot_product(c.cv, c.cv)"
)

#: Decimal-exact per-iteration inertia: round each point's min-d2 to 6
#: decimals (deterministic IEEE floor form), then an exact decimal sum —
#: partition/merge order cannot perturb the value in either engine.
_SQL_INERTIA = sql_dsum("floor(d2 * 1000000 + 0.5) / 1000000", 6)


def _sql_assign(cent: str) -> str:
    """Argmin assignment (vec_id, cell, d2) under centroid CTE ``cent``."""
    return (
        "SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) "
        "AS rn FROM (SELECT e.vec_id, c.cell, "
        f"{_SQL_D2L} AS d2 FROM e, {cent} c)) WHERE rn = 1"
    )


def _sql_cent(assign: str) -> str:
    """Decimal-exact centroid means of the ``assign`` groups."""
    return (
        f"SELECT cell, list(m ORDER BY pos) AS cv FROM ("
        f"SELECT a.cell, pos, "
        "CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) "
        "/ COUNT(*) AS m FROM ("
        f"SELECT a.cell, unnest(e.v) AS x, unnest(range(1, len(e.v) + 1)) AS pos "
        f"FROM e JOIN {assign} a USING (vec_id)) AS a GROUP BY a.cell, pos) "
        "GROUP BY cell"
    )


def _sql_lloyd_rows() -> str:
    prevs = ["(SELECT vec_id, label AS cell FROM e)"]
    rows = []
    for t in range(LLOYD_ITERS):
        prev = prevs[-1] if t == 0 else f"a{t - 1}"
        rows.append(
            f"SELECT CAST({t} AS BIGINT) AS iteration, "
            f"(SELECT COUNT(*) FROM a{t} x JOIN {prev} p USING (vec_id) "
            "WHERE x.cell <> p.cell) AS n_moved, "
            f"(SELECT COUNT(DISTINCT cell) FROM a{t}) AS n_cells, "
            f"(SELECT {_SQL_INERTIA} FROM a{t}) AS inertia"
        )
    return " UNION ALL ".join(rows)


def _sql_lloyd_ctes() -> str:
    parts = [SQL_VECS]
    parts.append(
        "cent0 AS (SELECT label AS cell, list(m ORDER BY pos) AS cv FROM ("
        "SELECT label, pos, "
        "CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) "
        "/ COUNT(*) AS m FROM (SELECT label, unnest(v) AS x, "
        "unnest(range(1, len(v) + 1)) AS pos FROM e) GROUP BY label, pos) "
        "GROUP BY cell)"
    )
    for t in range(LLOYD_ITERS):
        parts.append(f"a{t} AS ({_sql_assign(f'cent{t}')})")
        if t + 1 < LLOYD_ITERS:
            parts.append(f"cent{t + 1} AS ({_sql_cent(f'a{t}')})")
    return ", ".join(parts)


@register(
    "lloyd_convergence_curve",
    oracle=f"WITH {_sql_lloyd_ctes()} {_sql_lloyd_rows()}",
    doc="Multi-iteration k-means (Lloyd) convergence curve: 3 assignment "
    "passes from label-mean seeds, "
    "reporting per iteration how many points changed cell and the total "
    "inertia (sum of min squared distances, each point's d2 rounded to 6 "
    "decimals then summed in exact decimal so partition order cannot "
    "perturb the curve). Monotone non-increasing inertia is the classic "
    "Lloyd guarantee — asserted as a property test. Scale: each iteration "
    "is one corpus x K broadcast assignment (bounded-K nested loop, the "
    "kmeans_lloyd_step/ann_ivf_lloyd plan shape) plus one cells x dim "
    "decimal keyed mean — iteration cost is linear in the corpus, state "
    "is K x dim; the assignment frames are persisted so the 3-deep "
    "centroid chain does not recompute the cheaper prefixes.",
    tags=("ann", "pipeline", "agg_mean_std"),
)
def lloyd_convergence_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    vecs = embedding_vectors(spark, sf_dir)  # (vec_id, label, v, norm)

    def assign(cents: DataFrame) -> DataFrame:
        d2 = (
            F.expr(_dot("v", "v"))
            - 2 * F.expr(_dot("v", "cv"))
            + F.expr(_dot("cv", "cv"))
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
        return (
            vecs.select("vec_id", "v")
            .join(F.broadcast(cents))
            .select("vec_id", "cell", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell", "d2")
        )

    cents = ivf_cell_centroids(vecs, "label").select(
        F.col("label").alias("cell"), "cv"
    )
    prev = vecs.select("vec_id", F.col("label").alias("cell"))
    out = None
    for t in range(LLOYD_ITERS):
        a = persist_tracked(assign(cents))
        row = (
            a.join(prev.withColumnRenamed("cell", "pcell"), "vec_id")
            .agg(
                F.lit(t).cast("long").alias("iteration"),
                F.sum(
                    F.when(F.col("cell") != F.col("pcell"), 1).otherwise(0)
                ).alias("n_moved"),
                F.countDistinct("cell").alias("n_cells"),
                dsum(
                    F.floor(F.col("d2") * 1_000_000 + F.lit(0.5)) / 1_000_000,
                    6,
                ).alias("inertia"),
            )
        )
        out = row if out is None else out.unionAll(row)
        if t + 1 < LLOYD_ITERS:
            cents = ivf_cell_centroids(
                vecs.join(a.select("vec_id", "cell"), "vec_id").select("cell", "v"),
                "cell",
            )
        prev = a.select("vec_id", "cell")
    return out
