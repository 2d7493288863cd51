"""pmi_word_pairs and bm25_top_terms cache one count table and read every
other count off it: the unigram heads and N are sums of the pair count c12,
a document's length is the sum of its tf, and a word's document frequency is
its number of (doc_id, word) rows. Tiny corpora pin those identities against
the DuckDB oracles on the cases the catalog testdata does not hold: empty
and NULL text, a one-token doc, a pair repeated inside one doc, a doc that
repeats one word, and a NULL doc_id."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

from .compare import assert_df_equal

DEGENERATE = [(1, ""), (2, None), (3, "solo")]
REPEATS = [
    (1, "a b a b a b a b a b"),  # (a, b) 5x and (b, a) 4x inside one doc
    (2, "a b c"),
    (3, "x x x x x x"),  # one word six times: tf = dl = 6, df = 1
    (4, ""),
    (5, None),
    (6, "solo"),
    (7, "A  B  a b"),  # case folds, empty tokens drop
    (None, "a b c x"),  # counted in N and n_docs, joins no doc
]


def _corpus(tmp_path, docs) -> str:
    ids, texts = zip(*docs)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
        "source": pa.array(["web"] * len(docs), pa.string()),
        "n_chars": pa.array([len(t or "") for t in texts], pa.int64()),
    })
    pq.write_table(table, tmp_path / "documents.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("docs", [DEGENERATE, REPEATS], ids=["degenerate", "repeats"])
@pytest.mark.parametrize("name", ["pmi_word_pairs", "bm25_top_terms"])
def test_count_marginals_match_oracle(spark, tmp_path, name, docs):
    sf_dir = _corpus(tmp_path, docs)
    spec = QUERIES[name]
    result = spec.build(spark, sf_dir)
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        assert_df_equal(result, con, spec.oracle)
    if docs is REPEATS:
        assert result.count() > 0  # the floor and top-k leave rows to compare
