"""Targeted tests for the round-6-authored round7q batch: IVF nprobe recall,
containment semantics on a crafted fixture, the chunking empty-doc guard,
and the streaming token-budget twin's cross-micro-batch state carry.
(The oracle equality of every registered query is covered generically by
test_catalog_oracle.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_mini_projects_spark.operators.similarity import (
    containment_pairs,
    ngram_shingles,
)
from big_data_analytics_mini_projects_spark.operators.vector import (
    cosine_topk,
    cosine_topk_blocked,
    cosine_topk_ivf,
    prepare_vectors,
)
from big_data_analytics_mini_projects_spark.plans.round7q import (
    CHUNK_TOKS,
    IVF_K,
    IVF_QUERIES,
    chunk_col,
)
from big_data_analytics_mini_projects_spark.plans.shared import (
    TOKEN_BUDGET,
    embedding_vectors,
)
from big_data_analytics_mini_projects_spark.sources.tables import load_table


def _topk_sets(df):
    rows = df.select("query_id", "neighbor_id").collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_ivf_nprobe_recall_dominates_probe1(spark, sf_dir):
    """Multi-cell probing must recover at least as much of the brute-force
    top-k as probe-1 blocked search, per query and in total (the whole point
    of the nprobe dial)."""
    vecs = embedding_vectors(spark, sf_dir)
    qs = vecs.filter(F.col("vec_id") < IVF_QUERIES)
    brute = _topk_sets(cosine_topk(vecs, qs, IVF_K))
    p1 = _topk_sets(cosine_topk_blocked(vecs, qs, IVF_K))
    p3 = _topk_sets(cosine_topk_ivf(vecs, qs, IVF_K, nprobe=3))
    total_p1 = sum(len(brute[q] & p1.get(q, set())) for q in brute)
    total_p3 = sum(len(brute[q] & p3.get(q, set())) for q in brute)
    assert total_p3 >= total_p1
    # every query must emit a full (or cell-exhausting) candidate list
    for q, ns in p3.items():
        assert len(ns) == IVF_K, (q, len(ns))


def test_ivf_nprobe_full_probe_equals_brute_force(spark, sf_dir):
    """With nprobe = #cells the candidate set is the whole corpus, so IVF
    must reproduce brute force exactly (rank-for-rank)."""
    vecs = embedding_vectors(spark, sf_dir)
    qs = vecs.filter(F.col("vec_id") < 3)
    n_cells = vecs.select("label").distinct().count()
    ivf = cosine_topk_ivf(vecs, qs, 5, nprobe=n_cells)
    brute = cosine_topk(vecs, qs, 5)
    a = sorted(map(tuple, ivf.select("query_id", "rank", "neighbor_id").collect()))
    b = sorted(map(tuple, brute.select("query_id", "rank", "neighbor_id").collect()))
    assert a == b


@pytest.fixture()
def crafted_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    return spark.createDataFrame(
        [
            # doc 1 = a strict prefix of doc 2 -> containment 1.0
            (1, base),
            (2, base + " lambda mu nu xi omicron pi rho sigma tau"),
            # doc 3 unrelated
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )


def test_containment_finds_embedded_doc(spark, crafted_docs):
    toks = crafted_docs.select(
        "doc_id", F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("toks")
    )
    sh = ngram_shingles(toks, n=3)
    out = containment_pairs(sh, min_containment=0.9, df_cap=500).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["inner_doc"], r["outer_doc"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["n_inner"] == 8  # 10 tokens -> 8 distinct trigrams


def test_containment_asymmetric_vs_jaccard(spark, crafted_docs):
    """The fixture pair scores 1.0 containment but well under 0.5 Jaccard —
    the case class this operator exists for."""
    from big_data_analytics_mini_projects_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    toks = crafted_docs.select(
        "doc_id", F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("toks")
    )
    sh = ngram_shingles(toks, n=3)
    jac = ngram_jaccard_pairs(sh, min_jaccard=0.0, df_cap=500).collect()
    pair = [r for r in jac if {r["ka"], r["kb"]} == {1, 2}]
    assert pair and pair[0]["jaccard"] < 0.5


def test_chunk_col_empty_and_boundary_docs(spark):
    df = spark.createDataFrame(
        [
            (0, []),                            # empty doc: no chunks
            (1, ["a"]),                         # 1 token -> 1 chunk
            (2, [f"t{i}" for i in range(CHUNK_TOKS)]),       # exactly 1 chunk
            (3, [f"t{i}" for i in range(2 * CHUNK_TOKS + 1)]),  # 3 chunks
        ],
        "doc_id long, toks array<string>",
    )
    got = {
        r["doc_id"]: r["chunks"]
        for r in df.select("doc_id", chunk_col("toks").alias("chunks")).collect()
    }
    assert got[0] == []
    assert got[1] == ["a"]
    assert len(got[2]) == 1 and got[2][0].count(" ") == CHUNK_TOKS - 1
    assert len(got[3]) == 3 and got[3][2] == f"t{2 * CHUNK_TOKS}"


def test_stream_token_budget_carries_state_across_microbatches(
    spark, sf_dir, tmp_path
):
    """Split documents into 3 files (maxFilesPerTrigger=1 -> 3 micro-batches)
    and check the budget is enforced ACROSS batches: per source the total
    accepted tokens never exceed the budget, and cum_tok is consistent with
    the per-batch hash-ordered accumulation."""
    import uuid

    from big_data_analytics_mini_projects_spark.streaming.stream_stats import (
        stream_token_budget,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_split")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = f"tb_{uuid.uuid4().hex[:10]}"
    q = (
        stream_token_budget(sdf, TOKEN_BUDGET)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    assert out.count() > 0
    totals = {
        r["source"]: (r["tok"], r["mx"])
        for r in out.groupBy("source")
        .agg(F.sum("n_tok").alias("tok"), F.max("cum_tok").alias("mx"))
        .collect()
    }
    for source, (tok, mx) in totals.items():
        assert mx <= TOKEN_BUDGET, source
        # emitted docs are charged against one shared budget: the max
        # cumulative count is at least the accepted-token total (rejected
        # docs may additionally have consumed budget in earlier batches)
        assert tok <= mx, source


# -- round-7 budget batch (built in round 6; see round7q module docstring) --


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_span_col_short_doc_guard(spark, duck):
    """functions/text.ngrams + ngram_text against the transform(sequence…)
    span builder they replaced, written out here as the reference: same
    n-grams and same 0-based posexplode positions for n = 2, 3 and ES_K
    over a NULL array and empty, n-1, n and n+2 token docs. n runs in a
    loop, not a parametrize, so the test keeps its one id. Then each
    DuckDB twin against its Spark side on NULL, empty and all-space text,
    2- and 3-token docs, a repeated trigram, upper case and space runs:
    sql_tokens_ws and sql_tokens against tokens(), and sql_trigram_shingles
    against ngram_shingles(n=3)."""
    from big_data_analytics_mini_projects_spark.functions.text import (
        ngram_text,
        ngrams,
        sql_tokens,
        sql_tokens_ws,
        sql_trigram_shingles,
        tokens,
    )
    from big_data_analytics_mini_projects_spark.plans.shared import ES_K

    def toks(m):
        return [f"t{i}" for i in range(m)]

    for n in (2, 3, ES_K):
        df = spark.createDataFrame(
            [
                (0, None),        # NULL array
                (1, []),          # empty
                (2, toks(n - 1)), # one short of an n-gram
                (3, toks(n)),     # exactly one
                (4, toks(n + 2)), # three
            ],
            "doc_id long, toks array<string>",
        )
        old = (
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(0, size(toks) - {n}), "
            f"i -> array_join(slice(toks, i + 1, {n}), ' ')) "
            "ELSE cast(array() as array<string>) END"
        )
        want = sorted(
            tuple(r)
            for r in df.select("doc_id", F.posexplode(F.expr(old))).collect()
        )
        got = sorted(
            tuple(r)
            for r in df.select(
                "doc_id", F.posexplode(ngrams("toks", n)).alias("pos", "g")
            )
            .select("doc_id", "pos", ngram_text("g", n))
            .collect()
        )
        assert got == want, n
        assert [(d, p) for d, p, _ in got] == [(3, 0), (4, 0), (4, 1), (4, 2)], n
        assert got[-1][2] == " ".join(toks(n + 2)[2:]), n
        arrays = dict(df.select("doc_id", ngrams("toks", n).alias("z")).collect())
        assert arrays[0] is None and arrays[1] == [] and arrays[2] == [], n

    texts = [
        (0, None),
        (1, ""),
        (2, "  x"),
        (3, "A b  c "),
        (4, "   "),
        (5, "p q"),
        (6, "p q r"),
        (7, "x y z x y z"),  # the trigram "x y z" twice
        (8, "  The CAT  sat ON the cat  sat "),
    ]
    tdf = spark.createDataFrame(texts, "doc_id long, text string")
    arrays = dict(tdf.select("doc_id", tokens("text")).collect())
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE tok_cases AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, {'NULL' if t is None else repr(t)})" for d, t in texts)
        + ") v(doc_id, text)"
    )
    assert arrays == dict(
        duck.execute(f"SELECT doc_id, {sql_tokens('text')} FROM tok_cases").fetchall()
    )
    assert arrays[0] is None  # NULL text: a NULL array, so explode emits no row
    assert arrays[4] == [] and arrays[8] == "the cat sat on the cat sat".split()
    got = {d: sorted(a or []) for d, a in arrays.items()}  # a bag per doc
    want = {d: [] for d, _ in texts}
    for d, w in duck.execute(
        f"SELECT * FROM ({sql_tokens_ws('tok_cases')}) ORDER BY ALL"
    ).fetchall():
        want[d].append(w)
    assert got == want
    assert got[2] == ["x"] and got[3] == ["a", "b", "c"]

    sh = ngram_shingles(tdf.select("doc_id", tokens("text").alias("toks")), n=3)
    got = sorted(tuple(r) for r in sh.collect())
    want = duck.execute(
        f"WITH {sql_trigram_shingles('sh', 'tok_cases')} "
        "SELECT doc_id, shingle FROM sh ORDER BY ALL"
    ).fetchall()
    assert got == want
    assert [g for g in got if g[0] in (6, 7)] == [
        (6, "p q r"), (7, "x y z"), (7, "y z x"), (7, "z x y"),
    ]
    assert {d for d, _ in got} == {3, 6, 7, 8}


def test_exact_substring_islands_and_distinct_doc_rule(spark):
    """Two disjoint shared runs -> 2 islands with exact coverage; a span
    repeated only WITHIN one doc does not count (distinct-doc rule); docs
    with no cross-doc span are absent."""
    from big_data_analytics_mini_projects_spark.plans.round7q import (
        ES_K,
        exact_substring_stats,
    )

    run_s = " ".join(f"s{i}" for i in range(ES_K))        # 12-token shared run S
    run_t = " ".join(f"t{i}" for i in range(ES_K))        # 12-token shared run T
    fill = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    docs = _docs_df(
        spark,
        [
            # doc 0: S ... filler ... T -> two disjoint islands of ES_K each
            (0, f"{run_s} {fill('a', 20)} {run_t}"),
            # doc 1: shares S and T at different offsets
            (1, f"{fill('b', 5)} {run_s} {fill('c', 7)} {run_t} {fill('d', 3)}"),
            # doc 2: internal repetition only -> excluded
            (2, f"{run_s.replace('s', 'z')} {run_s.replace('s', 'z')}"),
            # doc 3: nothing shared -> absent
            (3, fill("e", 40)),
        ],
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_islands"])
        for r in exact_substring_stats(docs).collect()
    }
    assert set(out) == {0, 1}
    assert out[0] == (20 + 2 * ES_K, 2 * ES_K, 2)
    assert out[1] == (15 + 2 * ES_K, 2 * ES_K, 2)


def test_exact_substring_overlapping_runs_merge_into_one_island(spark):
    """A shared run longer than ES_K marks every start position; the
    positions overlap, so island merging must report ONE island covering
    run-length tokens (not n_spans * ES_K)."""
    from big_data_analytics_mini_projects_spark.plans.round7q import (
        ES_K,
        exact_substring_stats,
    )

    long_run = " ".join(f"s{i}" for i in range(ES_K + 5))  # 17 shared tokens
    docs = _docs_df(
        spark,
        [
            (0, f"{long_run} x0 x1 x2"),
            (1, f"y0 y1 {long_run}"),
        ],
    )
    out = {
        r["doc_id"]: (r["dup_tokens"], r["n_islands"])
        for r in exact_substring_stats(docs).collect()
    }
    assert out[0] == (ES_K + 5, 1)
    assert out[1] == (ES_K + 5, 1)


def test_crawl_freshness_acceptance_matches_pure_python(spark, sf_dir):
    """Golden re-derivation: n_docs / n_kept / kept_tokens / fresh_token_mass
    recomputed per (source, age) in pure Python from h64_py must equal the
    engine output exactly (the mass via Fraction — the dsum is exact)."""
    from fractions import Fraction

    from big_data_analytics_mini_projects_spark.functions.hashing import h64_py
    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    exp = {}
    for r in docs:
        age = h64_py(r["doc_id"], "age") % 8
        kept = h64_py(r["doc_id"], "fr") % (1 << age) == 0
        n_tok = len([t for t in r["text"].lower().split(" ") if t])
        k = (r["source"], age)
        e = exp.setdefault(k, [0, 0, 0, Fraction(0)])
        e[0] += 1
        e[1] += int(kept)
        e[2] += n_tok if kept else 0
        e[3] += Fraction(n_tok, 1 << age)
    got = QUERIES["crawl_freshness_sample"].build(spark, sf_dir).collect()
    assert len(got) == len(exp)
    for r in got:
        e = exp[(r["source"], r["age"])]
        assert (r["n_docs"], r["n_kept"], r["kept_tokens"]) == tuple(e[:3])
        assert Fraction(r["fresh_token_mass"]).limit_denominator(10**7) == e[3]


def test_bm25f_title_occurrence_outweighs_body(spark):
    """Same term, same doc lengths: one title occurrence must outscore one
    body occurrence (w_t=2 vs w_b=1 with identical per-field lengths)."""
    from big_data_analytics_mini_projects_spark.plans.round7q import bm25f_scores

    # both docs: 8-token title + 8-token body, 'apple' once, all else unique
    docs = _docs_df(
        spark,
        [
            (0, "apple a1 a2 a3 a4 a5 a6 a7 b0 b1 b2 b3 b4 b5 b6 b7"),
            (1, "c0 c1 c2 c3 c4 c5 c6 c7 apple d1 d2 d3 d4 d5 d6 d7"),
            # third doc WITHOUT the term: smoothed idf ln((N+1)/(df+1)) is 0
            # when df == N, which would zero both scores under test
            (2, "e0 e1 e2 e3 e4 e5 e6 e7 f0 f1 f2 f3 f4 f5 f6 f7"),
        ],
    )
    rows = bm25f_scores(docs, top_n=99).filter(F.col("word") == "apple").collect()
    score = {r["doc_id"]: r["bm25f"] for r in rows}
    tf = {r["doc_id"]: (r["tf_t"], r["tf_b"]) for r in rows}
    assert tf[0] == (1, 0) and tf[1] == (0, 1)
    assert score[0] > score[1]


def test_bm25f_top5_and_short_doc_fields(spark, sf_dir):
    """Full-table run: at most 5 terms per doc, and a doc shorter than the
    title width has len_b = 0 handled (no NaN/inf scores)."""
    import math

    from big_data_analytics_mini_projects_spark.plans.round7q import bm25f_scores

    short = _docs_df(spark, [(0, "only three words"), (1, "x y")])
    for r in bm25f_scores(short).collect():
        assert math.isfinite(r["bm25f"])
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counts = (
        bm25f_scores(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert counts <= 5


def test_stream_domain_drift_carries_state_across_microbatches(
    spark, sf_dir, tmp_path
):
    """Split documents into 3 files (maxFilesPerTrigger=1 -> 3 micro-batches):
    append mode emits a drift row per touched domain per batch, and the FINAL
    row per domain (max n_a + n_b) must equal the batch twin exactly."""
    import uuid

    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
    from big_data_analytics_mini_projects_spark.streaming.stream_stats import (
        stream_domain_drift,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_split_drift")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = f"dd_{uuid.uuid4().hex[:10]}"
    q = (
        stream_domain_drift(sdf)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).collect()
    finals = {}
    for r in out:
        cur = finals.get(r["source"])
        if cur is None or r["n_a"] + r["n_b"] > cur["n_a"] + cur["n_b"]:
            finals[r["source"]] = r
    batch = {
        r["source"]: r
        for r in QUERIES["domain_lang_drift"].build(spark, sf_dir).collect()
    }
    assert set(finals) == set(batch)
    n_multi = 0
    for s, r in finals.items():
        b = batch[s]
        assert (r["n_a"], r["n_b"], r["n_langs"], r["tvd"]) == (
            b["n_a"], b["n_b"], b["n_langs"], b["tvd"]
        ), s
        n_multi += sum(1 for x in out if x["source"] == s) > 1
    # the split must actually have exercised cross-batch accumulation
    assert n_multi > 0


def test_stream_domain_drift_drops_null_source_like_the_batch_join(
    spark, tmp_path
):
    """NULL-source parity (round-6 ADVICE): the batch twin and the shared
    oracle drop NULL-source rows at their `g JOIN t USING (source)` step
    (SQL joins never match NULL keys), so the stream twin must not keep
    NULL as a state key and emit a drift row for it. NULL lang stays a
    counted group (the \\x00 sentinel)."""
    import uuid

    from big_data_analytics_mini_projects_spark.streaming.stream_stats import (
        stream_domain_drift,
    )

    rows = [
        (0, "a b", "en", "web", 3),
        (1, "c d", "de", "web", 3),
        (2, "e f", None, "web", 3),     # NULL lang: counted group
        (3, "g h", "en", None, 3),      # NULL source: dropped like the join
        (4, "i j", "de", None, 3),
        (5, "k l", "en", "wiki", 3),
        (6, "m n", "de", "wiki", 3),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = str(tmp_path / "docs_null_source")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(docs.schema).parquet(src)
    name = f"dn_{uuid.uuid4().hex[:10]}"
    q = (
        stream_domain_drift(sdf)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).collect()
    assert all(r["source"] is not None for r in out)
    srcs = {r["source"] for r in out}
    # both real sources that had rows in each snapshot half may or may not
    # emit (depends on the seeded half split), but NULL must never appear
    # and at least the 3-doc 'web' domain must have been processed
    assert srcs <= {"web", "wiki"}
