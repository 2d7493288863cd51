"""``pack_with_salvage`` — the production bridge between the span-level dedup
family and the sequence-packing family: after ExactSubstr-style span dedup
marks duplicated token intervals, a real pipeline does not drop whole
documents — it SALVAGES the clean remainders (the ExactSubstr paper's
actual procedure: cut the duplicated spans, keep fragments long enough to
be useful context) and packs what survives. This query quantifies that
choice: the same corpus packed under three policies —

- ``raw``      — no dedup, every token packs (the upper bound);
- ``drop_doc`` — any doc containing a duplicated span is dropped whole
                 (the conservative baseline);
- ``salvage``  — duplicated islands are cut; the non-duplicated segments
                 of length >= SALVAGE_MIN (= ES_K, a fragment shorter than
                 the dedup span unit is unusable) are kept, clean docs keep
                 everything;

each packed concat-then-chunk within the standard 200-doc shards at
context 2048 (pack_efficiency_sweep's closed form: pad = ceil(T/C)*C - T
per shard). The three rows' token totals answer "how many tokens does
salvage recover over drop-doc, and what does packing them cost".

The duplicate-span machinery is dedup_exact_substring's: the oracle opens
with the same ``_SQL_ES`` CTE chain and packs in the same PACK_SHARD shards,
both imported from plans/shared.py (importing round7q or round12q would
register their queries first and so reorder the catalog), and the engine
builds the same span hashes from the shared helpers (ngrams / h64 / ES_K).
The raw-vs-salvage token gap is reconciled against
dedup_exact_substring's per-doc dup_tokens (bracketed by the sub-minimum
fragment bound) in tests/test_round18q.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..functions.hashing import h64
from ..functions.text import ngram_text, ngrams, round_stable, sql_round_stable, tokens
from ..sources.tables import load_table, spread
from .registry import register
from .shared import _SQL_ES, ES_K, PACK_SHARD

SALVAGE_MIN = ES_K   # fragments shorter than the span unit are discarded
SALVAGE_CTX = 2048   # the pack_sequences_2048 context length


def _sql_policy(policy: str, t: str) -> str:
    c = SALVAGE_CTX
    return (
        f"SELECT '{policy}' AS policy, CAST(SUM({t}) AS BIGINT) AS total_tokens, "
        f"CAST(SUM(({t} + {c} - 1) // {c}) AS BIGINT) AS n_seqs, "
        f"CAST(SUM(({t} + {c} - 1) // {c}) * {c} - SUM({t}) AS BIGINT) AS pad_tokens, "
        + sql_round_stable(
            f"CASE WHEN SUM(({t} + {c} - 1) // {c}) = 0 THEN 0.0 ELSE "
            f"CAST(SUM({t}) AS DOUBLE) / (SUM(({t} + {c} - 1) // {c}) * {c}) END", 6
        )
        + " AS efficiency FROM shd"
    )


_SQL_SALVAGE = (
    f"WITH {_SQL_ES}, "
    # island bounds in token positions: [s, e] inclusive
    f"ib AS (SELECT doc_id, n_tokens, island, MIN(pos) AS s, "
    f"MAX(pos) + {ES_K - 1} AS e FROM isl GROUP BY doc_id, n_tokens, island), "
    # clean gaps BETWEEN islands (and before the first): length only
    "gaps AS (SELECT doc_id, "
    "s - COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s) + 1, 0) AS L "
    "FROM ib), "
    # the tail after the last island
    "tails AS (SELECT doc_id, MIN(n_tokens) - MAX(e) - 1 AS L "
    "FROM ib GROUP BY doc_id), "
    "allsegs AS (SELECT * FROM gaps UNION ALL SELECT * FROM tails), "
    f"sv AS (SELECT doc_id, "
    f"SUM(CASE WHEN L >= {SALVAGE_MIN} THEN L ELSE 0 END) AS kept "
    "FROM allsegs GROUP BY doc_id), "
    # every doc: dirty docs keep their salvage, clean docs keep everything
    "perdoc AS (SELECT t.doc_id, len(t.toks) AS n_tok, "
    "COALESCE(sv.kept, len(t.toks)) AS salv, "
    "CASE WHEN sv.doc_id IS NULL THEN len(t.toks) ELSE 0 END AS clean_t "
    "FROM tarr t LEFT JOIN sv USING (doc_id)), "
    f"shd AS (SELECT doc_id // {PACK_SHARD} AS shard, "
    "CAST(SUM(n_tok) AS BIGINT) AS t_raw, CAST(SUM(clean_t) AS BIGINT) AS t_drop, "
    "CAST(SUM(salv) AS BIGINT) AS t_salv FROM perdoc GROUP BY shard) "
    + _sql_policy("raw", "t_raw")
    + " UNION ALL "
    + _sql_policy("drop_doc", "t_drop")
    + " UNION ALL "
    + _sql_policy("salvage", "t_salv")
)


@register(
    "pack_with_salvage",
    oracle=_SQL_SALVAGE,
    doc="Dedup-then-pack with document salvage — the bridge between the "
    "exact-substring dedup family and the packing family, and the "
    "ExactSubstr paper's actual production procedure: duplicated K-token "
    "islands (byte-identical chain to dedup_exact_substring: same span "
    "hashes, distinct-doc rule, gaps-and-islands merge) are CUT from "
    "their documents, the clean segments between/around them survive if "
    ">= 12 tokens (a fragment shorter than the span unit is unusable "
    "context), and the corpus packs concat-then-chunk in 200-doc shards "
    "at context 2048 under three policies: raw (no dedup), drop_doc "
    "(conservative: any doc with a dup span dropped whole), salvage. "
    "Three rows quantify the recovered token mass and its packing cost — "
    "the number that justifies salvage complexity in a 100 TB pipeline. "
    "Scale: the span stream is corpus-linear, islands partition by "
    "doc_id, segment accounting is one window over the ISLANDS frame "
    "(duplicate-interval-scale, far below token scale), packing needs "
    "only per-shard totals. Integer arithmetic throughout; efficiency is "
    "the one stably-rounded float.",
    tags=("dedup", "curation", "pipeline", "fingerprint", "window"),
)
def pack_with_salvage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    d = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.size("toks").cast("long").alias("n_tok"), "toks"
    )
    # persist ONLY the scalar projection: caching the token arrays at 5M
    # docs (sf100 ledger) starved the span-frequency aggregate of execution
    # memory — re-tokenizing on the second pass is cheaper than caching
    # corpus-scale arrays (measured: AGGREGATE_OUT_OF_MEMORY -> green)
    dn = persist_tracked(d.select("doc_id", "n_tok"))
    # duplicate-span islands — the dedup_exact_substring chain over the
    # shared helpers (round7q.exact_substring_stats), without its n_tokens
    # column
    sp = d.select(
        "doc_id", F.posexplode(ngrams("toks", ES_K)).alias("pos", "span")
    ).select("doc_id", "pos", h64(ngram_text("span", ES_K), "es").alias("h"))
    dup = (
        sp.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    m = sp.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = (
        F.max(F.col("pos") + F.lit(ES_K - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_end")
    )
    isl = m.select("doc_id", "pos", prev_end).select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")), 1
            ).otherwise(0)
        ).over(w).alias("island"),
    )
    ib = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + F.lit(ES_K - 1)).alias("e")
    )
    wi = Window.partitionBy("doc_id").orderBy("s")
    gaps = ib.select(
        "doc_id",
        (F.col("s") - F.coalesce(F.lag("e").over(wi) + 1, F.lit(0))).alias("L"),
    )
    tails = (
        ib.groupBy("doc_id")
        .agg(F.max("e").alias("me"))
        .join(dn, "doc_id")
        .select("doc_id", (F.col("n_tok") - F.col("me") - 1).alias("L"))
    )
    sv = (
        gaps.unionByName(tails)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("L") >= SALVAGE_MIN, F.col("L")).otherwise(F.lit(0))
            ).alias("kept")
        )
    )
    perdoc = (
        dn
        .join(sv, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce("kept", "n_tok").alias("salv"),
            F.when(F.col("kept").isNull(), F.col("n_tok")).otherwise(F.lit(0)).alias(
                "clean_t"
            ),
        )
    )
    sh = persist_tracked(
        perdoc.groupBy(F.expr(f"doc_id div {PACK_SHARD}").alias("shard")).agg(
            F.sum("n_tok").alias("t_raw"),
            F.sum("clean_t").alias("t_drop"),
            F.sum("salv").alias("t_salv"),
        )
    )

    def policy(name: str, t: str) -> DataFrame:
        c = SALVAGE_CTX
        seqs = F.sum(F.expr(f"({t} + {c} - 1) div {c}")).alias("n_seqs")
        return sh.groupBy().agg(
            F.sum(t).alias("total_tokens"), seqs
        ).select(
            F.lit(name).alias("policy"),
            "total_tokens",
            "n_seqs",
            (F.col("n_seqs") * c - F.col("total_tokens")).alias("pad_tokens"),
            round_stable(
                F.when(F.col("n_seqs") == 0, F.lit(0.0)).otherwise(
                    F.col("total_tokens").cast("double") / (F.col("n_seqs") * c)
                ),
                6,
            ).alias("efficiency"),
        )
    out = policy("raw", "t_raw")
    for nm, t in (("drop_doc", "t_drop"), ("salvage", "t_salv")):
        out = out.unionByName(policy(nm, t))
    return out
