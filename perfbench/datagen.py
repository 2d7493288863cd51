"""Deterministic synthetic tables for the benchmark.

This module writes, for a scale factor ``sf``, the catalog tables the
workloads read and ``tools/make_sf1.py`` needs, in the shapes of the engine's reference test data: TPC-H-like
line items with uniform keys and values, a 30-word document corpus where 5%
of documents are a copy of another plus the token ``dup``, 64-dim unit
embeddings with ten labels, and a time-ordered event stream over January
2024. Row counts follow ``sf`` (documents and embeddings never drop below
500 rows). Tables neither of them reads are not generated.

The 10x ``sf1`` set is derived from the generated ``sf0.1`` set by the
repository's own ``tools/make_sf1.py`` construction (replicas with disjoint
token and key spaces), so the scale workload reads the same data shape the
engine's scale tooling uses.

The data seed is fixed: the benchmark's ``--seed`` never changes its
inputs' content, only the order in which queries run. Every directory is
built once per checkout, written to a temporary name and renamed into
place, so an interrupted build is never mistaken for a finished one. A
directory's name carries a hash of this module (and, for sf1, of
``tools/make_sf1.py``), so a change to either builds new data instead of
reusing stale data.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(date: str) -> int:
    return int((np.datetime64(date, "D") - _EPOCH).astype(int))


def _day_ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n_line = int(6_000_000 * sf)
    n_ord, n_part, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _day_ts(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    start = _days("2024-01-01") * 86_400_000_000
    span = 30 * 86_400_000_000
    return pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pa.array(np.sort(rng.integers(0, span, n_ev)) + start, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n_doc = max(500, int(50_000 * sf))
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 101)))
        for _ in range(n_doc)
    ]
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    for d, src in zip(dups, rng.integers(0, n_doc, len(dups))):
        texts[d] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n_emb = max(500, int(20_000 * sf))
    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )


#: Table generators, each with its own random stream (seeded by its position
#: here), so adding a table leaves the others' content unchanged. The four
#: are the tables ``tools/make_sf1.py`` reads; the workloads read a subset.
GENERATORS = {
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Build every table for scale factor ``sf`` in memory."""
    return {
        name: generate(np.random.default_rng([seed, i]), sf)
        for i, (name, generate) in enumerate(GENERATORS.items())
    }


def _key(*paths: str) -> str:
    """Hash of the sources that write the data."""
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__), *paths):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _publish(build, dst: str) -> str:
    """Run ``build(tmp_dir)`` and rename the result to ``dst`` once."""
    if os.path.isdir(dst):
        return dst
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, dst)
    return dst


def ensure_sf(root: str, sf: float) -> str:
    """Directory of generated tables at ``sf`` under ``root`` (built once)."""

    def build(tmp: str) -> None:
        for name, table in tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    return _publish(build, os.path.join(root, f"sf{sf:g}-{_key()}"))


def ensure_sf1(root: str, repo_dir: str) -> str:
    """The 10x set derived from the generated sf0.1 set by ``tools/make_sf1.py``."""
    base = ensure_sf(root, 0.1)
    path = os.path.join(repo_dir, "tools", "make_sf1.py")

    def build(tmp: str) -> None:
        spec = importlib.util.spec_from_file_location("make_sf1", path)
        make_sf1 = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(make_sf1)
        make_sf1.SRC, make_sf1.DST, make_sf1.REPLICAS = base, tmp, 10
        os.environ["BDAMP_SCALE_SKIP_F"] = "1"
        make_sf1.main()
        # make_sf1 links the unscaled dimension tables, which are not
        # generated here: drop the links, so the set holds its scaled tables.
        for name in os.listdir(tmp):
            if os.path.islink(os.path.join(tmp, name)):
                os.remove(os.path.join(tmp, name))

    return _publish(build, os.path.join(root, f"sf1-{_key(path)}"))
