"""Materialize a 10x ("sf1") rehearsal dataset from the driver's sf0.1 data.

Verdict r3 item 7: ground the 100 TB story with one honest 10x data point.
The driver only ships sf{0.001,0.01,0.1}; this tool scales sf0.1 -> sf1 under
.scratch/sf1 (gitignored) for 10x runs; `perfbench/run.py --trace 1` records
the per-query shuffle and spill of such runs.

Scaling must preserve the WORKLOAD SHAPE, not just the row count:

- ``documents`` x10: replica r >= 1 gets ``doc_id + r*10_000_000`` and every
  whitespace token suffixed with a replica marker (one regexp_replace). The
  marker makes shingle/word spaces DISJOINT across replicas, so each replica
  carries exactly sf0.1's duplicate structure and nothing is a near-dup of
  another replica — i.e. a constant-duplicate-rate 10x corpus. Naive verbatim
  replication would instead put every doc in a 10-clone group and inflate the
  LSH bucket-pair term quadratically (100x pairs on 10x data), which is NOT
  what a bigger corpus looks like.
- ``lineitem`` x10: replica r >= 1 gets ``l_orderkey + r*100_000_000``; value
  columns verbatim (agg/join key cardinality scales with data, per-key row
  counts stay constant — the TPC-H scaling rule).
- every other table: symlinked verbatim (dimensions don't scale 1:1 with
  facts, and the rehearsal queries only read documents/lineitem).

A second variant ``.scratch/sf1f`` ("full-fact") additionally scales
``orders`` in LOCKSTEP with lineitem (``o_orderkey + r*100_000_000``,
``o_custkey + r*10_000_000``, value columns verbatim): replica r's lineitem
rows join replica r's orders, so derivations built on lineitem⋈orders —
the CF ratings frame (plans/shared.py) and the PageRank trade graph
(plans/graphq.py) — genuinely carry 10x edges/users instead of collapsing
back to 1x when 9/10 of the scaled l_orderkeys miss the unscaled orders.
Shape under sf1f: users (o_custkey) 10x with constant per-user rating
counts (the CF pair fan-out term scales linearly), items (l_partkey) and
suppliers stay dimension-fixed so their per-key support grows 10x — the
"fixed dimension, growing facts" hub regime that stresses skew handling.
``customer`` scales in lockstep with orders (c_custkey + r*1e7) so
customer-joined shapes carry real 10x join cardinality; every other sf1f
table symlinks the sf1 artifact.

Deterministic: pure SQL over the driver parquet, no RNG, no timestamps.
"""

from __future__ import annotations

import os

import duckdb

SRC = "/root/testdata/sf0.1"
#: BDAMP_SCALE_REPLICAS / BDAMP_SCALE_NAME extend the same construction to
#: further decades (e.g. REPLICAS=100 NAME=sf10 -> a 100x dataset, or
#: REPLICAS=1000 NAME=sf100 -> 1000x): the replica offsets (doc_id + r*1e7,
#: l_orderkey + r*1e8, user_id + r*1e7) are collision-free for any r the
#: driver data's id ranges allow (base ids are < 2e5, so thousands of
#: replicas fit); the embeddings orthogonal-transform family bounds
#: REPLICAS at dim*dim = 4096 (asserted below). BDAMP_SCALE_SKIP_F=1 skips
#: the full-fact orders twin.
_NAME = os.environ.get("BDAMP_SCALE_NAME", "sf1")
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", _NAME)
DSTF = os.path.join(os.path.dirname(DST), _NAME + "f")
REPLICAS = int(os.environ.get("BDAMP_SCALE_REPLICAS", "10"))


def embedding_transform_expr(dim: int, rep: str = "r.rep", col: str = "e.embedding") -> str:
    """DuckDB SQL expression applying replica ``rep``'s orthogonal transform
    to vector column ``col``: rotate components by (rep % dim), then negate
    the first (rep // dim) of the rotated components. Both factors are
    orthogonal, so every within-replica norm and pairwise dot product is
    exactly preserved; the (rotation, sign-prefix) pairs are pairwise
    distinct for rep < dim*dim. Factored out so tests can pin the
    transform's isometry and distinctness directly (round-6 fix: the
    original pure rotation clamped to the identity for rep >= dim)."""
    return f"""CASE WHEN {rep} = 0 THEN {col}
                      ELSE list_transform(
                             list_concat({col}[({rep} % {dim}) + 1:],
                                         {col}[1:({rep} % {dim})]),
                             (x, i) -> CASE WHEN i <= ({rep} // {dim})
                                            THEN -x ELSE x END)
                 END"""


def _copy(con, sql: str, dst: str) -> None:
    """Idempotent COPY: skip when the target parquet already exists (reruns
    after adding a new variant must not re-materialize finished outputs).
    The COPY lands at a temp path and is os.rename'd into place so an
    interrupted run can never leave a partial file that a rerun would treat
    as complete (round-4 ADVICE)."""
    if os.path.exists(dst):
        return
    tmp = dst + ".tmp"
    if os.path.exists(tmp):
        os.remove(tmp)
    rewritten = sql.replace(f"TO '{dst}'", f"TO '{tmp}'")
    # Round-5 ADVICE: the textual rewrite MUST have hit, else COPY would
    # land straight at dst and the rename would defeat the atomicity.
    assert rewritten != sql, f"COPY ... TO '{dst}' not found verbatim in SQL"
    con.execute(rewritten)
    os.rename(tmp, dst)


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    # Without this, COPY materializes the whole replicated result to keep
    # input order (measured: the 1000x lineitem cross join climbed past
    # 100 GB RSS before writing a byte). No consumer depends on row order
    # inside the parquet files — both engines treat them as relations — so
    # trade file-level row-order reproducibility for streaming writes.
    # Logical content stays fully deterministic.
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW r AS SELECT unnest(range({REPLICAS})) AS rep")

    _copy(
        con,
        f"""
        COPY (
          SELECT d.doc_id + r.rep * 10000000 AS doc_id,
                 CASE WHEN r.rep = 0 THEN d.text
                      ELSE regexp_replace(d.text, '(\\S+)', '\\1zz' || r.rep, 'g')
                 END AS text,
                 d.lang, d.source,
                 CASE WHEN r.rep = 0 THEN d.n_chars
                      ELSE len(regexp_replace(d.text, '(\\S+)', '\\1zz' || r.rep, 'g'))
                 END AS n_chars
          FROM read_parquet('{SRC}/documents.parquet') d CROSS JOIN r
          ORDER BY doc_id
        ) TO '{DST}/documents.parquet' (FORMAT PARQUET)
        """,
        f"{DST}/documents.parquet",
    )

    _copy(
        con,
        f"""
        COPY (
          SELECT l.l_orderkey + r.rep * 100000000 AS l_orderkey,
                 l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity,
                 l.l_extendedprice, l.l_discount, l.l_tax, l.l_returnflag,
                 l.l_linestatus, l.l_shipdate
          FROM read_parquet('{SRC}/lineitem.parquet') l CROSS JOIN r
        ) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)
        """,
        f"{DST}/lineitem.parquet",
    )

    # embeddings xN: replica r applies an orthogonal transform — rotate the
    # components by (r % dim) positions, then negate the first (r // dim)
    # components (a fixed diagonal +-1 matrix D: (Dx)·(Dy) = x·D²y = x·y) —
    # so every within-replica pairwise cosine (and every norm) is exactly
    # preserved: each replica carries sf0.1's similarity structure, replicas
    # are mutually distinct. That is a constant-near-dup-rate scaled vector
    # corpus, the analogue of the token-suffix trick for documents.
    #
    # Round-6 fix: the original pure rotation `embedding[rep+1:]` silently
    # CLAMPS for rep >= dim (DuckDB slice semantics), so replicas 64..99 of
    # the 100x build were verbatim clones of replica 0 — a 37-fold
    # exact-duplicate group instead of the constant-dup-rate shape (the
    # embedding-dedup queries passed value-exact on that HARDER workload;
    # conservative, but the shape claim was wrong). The (rotation, sign)
    # composition gives dim*dim distinct transforms (4096 at dim=64).
    dim = con.execute(
        f"SELECT min(len(embedding)) FROM read_parquet('{SRC}/embeddings.parquet')"
    ).fetchone()[0]
    assert REPLICAS <= dim * dim, (
        f"only {dim * dim} distinct (rotation, sign-prefix) transforms at "
        f"dim={dim}; REPLICAS={REPLICAS} would repeat transforms"
    )
    _copy(
        con,
        f"""
        COPY (
          SELECT e.vec_id + r.rep * 10000000 AS vec_id,
                 {embedding_transform_expr(dim)} AS embedding,
                 e.label
          FROM read_parquet('{SRC}/embeddings.parquet') e CROSS JOIN r
          ORDER BY vec_id
        ) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)
        """,
        f"{DST}/embeddings.parquet",
    )

    # events x10: replica r offsets user_id/event_id, keeps ts/type/value —
    # 10x users with identical per-user event streams (per-user session and
    # window shapes constant, total volume 10x).
    _copy(
        con,
        f"""
        COPY (
          SELECT ev.event_id + r.rep * 100000000 AS event_id, ev.ts,
                 ev.user_id + r.rep * 10000000 AS user_id,
                 ev.event_type, ev.value, ev.props
          FROM read_parquet('{SRC}/events.parquet') ev CROSS JOIN r
        ) TO '{DST}/events.parquet' (FORMAT PARQUET)
        """,
        f"{DST}/events.parquet",
    )

    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
    ):
        dst = f"{DST}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)

    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{DST}/documents.parquet')").fetchone()[0]
    m = con.execute(f"SELECT COUNT(*) FROM read_parquet('{DST}/lineitem.parquet')").fetchone()[0]
    print(f"sf1 ready at {DST}: documents={n} lineitem={m}")

    # -- sf1f: the full-fact variant (scaled orders, everything else from sf1)
    if os.environ.get("BDAMP_SCALE_SKIP_F") == "1":
        return
    os.makedirs(DSTF, exist_ok=True)
    _copy(
        con,
        f"""
        COPY (
          SELECT o.o_orderkey + r.rep * 100000000 AS o_orderkey,
                 o.o_custkey + r.rep * 10000000 AS o_custkey,
                 o.o_orderstatus, o.o_totalprice, o.o_orderdate,
                 o.o_orderpriority
          FROM read_parquet('{SRC}/orders.parquet') o CROSS JOIN r
        ) TO '{DSTF}/orders.parquet' (FORMAT PARQUET)
        """,
        f"{DSTF}/orders.parquet",
    )
    # customer scales in LOCKSTEP with orders (c_custkey + r*1e7, value
    # columns verbatim) so customer-joined shapes (Q3/Q5/Q7/Q10/Q13/Q18/Q22,
    # the CF user side) genuinely carry {REPLICAS}x join cardinality —
    # round-4 ADVICE: symlinking the unscaled customer left 9/10 of scaled
    # orders without a customer row.
    _copy(
        con,
        f"""
        COPY (
          SELECT c.c_custkey + r.rep * 10000000 AS c_custkey,
                 c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
          FROM read_parquet('{SRC}/customer.parquet') c CROSS JOIN r
        ) TO '{DSTF}/customer.parquet' (FORMAT PARQUET)
        """,
        f"{DSTF}/customer.parquet",
    )
    for t in (
        "region",
        "nation",
        "supplier",
        "part",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        dst = f"{DSTF}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{DST}/{t}.parquet", dst)
    k = con.execute(f"SELECT COUNT(*) FROM read_parquet('{DSTF}/orders.parquet')").fetchone()[0]
    print(f"sf1f ready at {DSTF}: orders={k}")


if __name__ == "__main__":
    main()
