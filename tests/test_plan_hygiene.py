"""Catalog-wide physical-plan hygiene: every benched query's plan is audited
for the node types that kill 100 TB jobs, with explicit allowlists for the
places they are deliberate.

Invariants:
- NO row-at-a-time Python UDF (BatchEvalPython) anywhere — Python in a hot
  path must be Arrow-vectorized or absent.
- NO grouped-map pandas (FlatMapGroupsInPandas) — per-group materialization
  scales with the corpus (the round-1 OLS flaw; closed forms replaced it).
- NO unhinted CartesianProduct anywhere.
- ArrowEvalPython (vectorized pandas UDF) only where declared: nowhere
  today; every p-value is a JVM expression (functions/tdist.py).
- MapInPandas only in the multimodal decode plumbing (Arrow-batched by
  design).
- BroadcastNestedLoopJoin only for (a) 1-row/bounded-K broadcast cross
  joins of corpus-stats frames and (b) the documented brute-force ANN
  baselines whose blocked twins are the scale path.
- Higher-order-function lambdas (CodegenFallback) no more than each
  query's LAMBDA_CEILING, and none in a query not listed there.
"""

from __future__ import annotations

import ast
import hashlib
import json
import pathlib

import big_data_analytics_mini_projects_spark
from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

ARROW_EVAL_OK: set[str] = set()
MAP_IN_PANDAS_OK = {
    "multimodal_meta",
    "multimodal_frames",
    "multimodal_wav_decode",  # real stdlib WAV codec round trip
    "multimodal_bmp_decode",  # real stdlib BMP codec round trip
    "multimodal_png_decode",  # real stdlib zlib-compressed PNG round trip
    "multimodal_bmp_resize",  # real NN resize round trip (parse->resample->
                              # re-encode->decode, three Arrow stages)
    "dedup_image_phash",      # real BMP parse + dHash kernel (two Arrow
                              # stages; the dedup itself is pure DataFrame)
    "dedup_image_ahash",      # same parse, dHash+aHash in one kernel
    "dedup_image_ahash_near", # same one-parse kernel, aHash near-dup leg
    "dedup_audio_fp",         # real stdlib WAV codec round trip + energy-
                              # envelope fingerprint kernel
    "crossmodal_pair_curation",  # composes dedup_image_phash's BMP kernel
    "dedup_audio_ahash",      # same one-parse kernel, both audio hashes
}
BNLJ_OK = {
    # 1-row corpus-stats / bounded-K broadcast cross joins:
    "tfidf_top_terms",      # n_docs scalar
    "bm25_top_terms",       # (n_docs, avgdl) scalar
    "bm25f_title_body",     # (n_docs, avg_t, avg_b) scalar
    "pmi_word_pairs",       # total-pair-count scalar
    "label_drift_chi2",     # contingency grand-total scalar
    "funnel_conversion",    # three stage-count scalars
    "kmeans_lloyd_step",    # K=8 centroid frame
    "ann_ivf_nprobe",       # |Q| x 10-cell centroid frame (broadcast-bounded)
    "ann_ivf_lloyd",        # corpus x 10-cell centroid assignment frames (broadcast-bounded K)
    "ols_simple_words",     # dense docs x top-K word frame (broadcast-bounded)
    "ols_simple_words_zero_rows",
    "ols_multi_words",
    "ols_words_pvalues",
    # documented brute-force baselines (blocked twins are the scale path):
    "ann_cosine_topk",
    "dedup_embedding_cosine",
    # 1-row aggregate cross joins assembling the (nodes, edges, triangles) row:
    "triangle_count_knn",
    # Q4's scalar floor date: a 1-row aggregate broadcast onto lineitem
    "tpch_q4_order_priority",
    # TPC-H completion batch: 1-row scalar-subquery broadcasts
    "tpch_q11_important_parts",   # global value total
    "tpch_q15_top_supplier",      # MAX(total_revenue) scalar
    "tpch_q22_dormant_customers", # avg positive balance scalar
    # broadcast 1-row model-weights frame
    "quality_classifier_score",
    # broadcast 1-row model-weights frame (quality-aware canonicalization)
    "dedup_canonical_quality",
    # broadcast 1-row corpus-count frame driving the occupancy-rule band
    # width (round-6 retune)
    "dedup_embedding_bucketed",
    # broadcast 1-row global-max-event-time frame (freshness age origin)
    "doc_freshness_by_event_time",
    # corpus x 10-cell centroid assignment passes (broadcast-bounded K)
    "lloyd_convergence_curve",
    # |Q| x corpus labeled brute-force ground-truth side of the recall gate
    "ann_recall_ivf",
    # |Q| x corpus labeled truth + 1-row n_truth broadcast (probe sweep)
    "srp_recall_probe_curve",
    # 1-row truth/stage-count scalar assemblies over the labeled slice
    "lsh_recall_precision",
    # 1-row corpus-total x labeled-node-count singleton subtraction
    "cluster_size_histogram",
    # bounded-slice all-pairs cosine truth + 1-row n_truth broadcast
    "banded_width_recall",
    # broadcast 1-row (denom, total) mix-denominator frame
    "epoch_schedule_budget",
    # K=8 centroid frame (the kmeans_lloyd_step assignment, shared CTE)
    "semdedup_cells",
    # broadcast-K centroid frames, one per sweep point (K <= 16)
    "semdedup_k_sweep",
    # broadcast 1-row state-size frame onto the 1-row disposition aggregate
    "dedup_state_gc_metrics",
    # broadcast 1-row corpus-count frame (the occupancy-rule K) + the
    # derived broadcast-K centroid frame
    "semdedup_cells_auto",
    # broadcast-K centroid frame for the cos-to-centroid re-pick
    "semdedup_keeper_quality",
    # three broadcast-bounded centroid frames (8 coarse, 64 fine)
    "semdedup_two_level",
    # broadcast 1-row state-before frame onto the 3-row curve
    "dedup_tombstone_curve",
}


#: sha256 of the ordered (name, oracle, scale_oracle) triples of the catalog.
#: Registration order bounds cache families (plans/catalog.py) and every
#: oracle is a result contract, so a regroup of the plan modules must leave
#: this unchanged; a deliberate catalog change records the new digest.
CATALOG_DIGEST = "fca6242be71a81e2104e1bd4da2cc88b9b4db131da8e7df9699d882a9533ec3d"


def test_catalog_pinned():
    triples = [(n, s.oracle, s.scale_oracle) for n, s in QUERIES.items()]
    digest = hashlib.sha256(json.dumps(triples).encode()).hexdigest()
    assert digest == CATALOG_DIGEST


#: (module, function) -> why it checkpoints outside caching.checkpoint_shared
RAW_CHECKPOINT_OK = {
    ("operators/similarity.py", "connected_components_twophase"): "per-round "
    "lineage truncation of the contracting edge set, not a shared leaf",
}


def test_persist_only_through_caching():
    """Every persist goes through caching.persist_tracked, which the registry
    releases at family boundaries; an untracked persist leaks its blocks
    into every later family. Likewise every checkpoint is a
    caching.checkpoint_shared leaf, outside the allowlisted lineage
    truncation. Checked on the AST, so prose in docstrings and comments
    does not count."""
    pkg = pathlib.Path(big_data_analytics_mini_projects_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "caching.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) in RAW_CHECKPOINT_OK
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr = node.func.attr
            if attr in ("persist", "cache") or (
                attr in ("localCheckpoint", "checkpoint") and id(node) not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno} .{attr}")
    assert not offenders, f"raw persist/cache/checkpoint outside caching.py: {offenders}"


#: (module, function) -> why its band join or signature compare is not the
#: operators/similarity.py pipeline
NEAR_DUP_PIPELINE_OK = {
    ("plans/round15q.py", "streaming_dedup_state_probe"): "stream-static band "
    "join over per-row signature arrays; the verify is a zip_with inside the "
    "join's projection, since a streaming frame cannot be re-joined to its "
    "signature rows",
}


def test_near_dup_pipeline_only_in_operators():
    """The Spark near-dup pipeline has one definition per stage, in
    operators/similarity.py: the band-bucket candidate join
    (lsh_candidates) and the signature-agreement verify
    (signature_agreement). A ``.join(..., ["band", "band_sig"])`` or an
    ``.alias("mha")`` / ``.alias("mhb")`` signature side anywhere else
    fails, outside the allowlisted streaming probe."""
    offenders = []
    for rel, tree in _engine_trees().items():
        if rel == "operators/similarity.py":
            continue
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) in NEAR_DUP_PIPELINE_OK
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            consts = [
                [e.value for e in a.elts if isinstance(e, ast.Constant)]
                if isinstance(a, (ast.List, ast.Tuple))
                else getattr(a, "value", None)
                for a in node.args
            ]
            if node.func.attr == "join" and ["band", "band_sig"] in consts:
                kind = "band join"
            elif node.func.attr == "alias" and consts[:1] in (["mha"], ["mhb"]):
                kind = "signature verify"
            else:
                continue
            if id(node) not in allowed:
                offenders.append(f"{rel}:{node.lineno} {kind}")
    assert not offenders, (
        "near-dup pipeline stage outside operators/similarity.py, use "
        f"lsh_candidates and signature_agreement: {offenders}"
    )


def _thunk_bodies(tree: ast.Module, fn: ast.AST, thunk: ast.AST) -> list[ast.AST]:
    """The code of a checkpoint_shared thunk: the lambda itself, or the def
    it names (looked up in the enclosing function, then at module level)."""
    if isinstance(thunk, ast.Lambda):
        return [thunk]
    if not isinstance(thunk, ast.Name):
        return []
    for scope in (fn, tree):
        for d in ast.walk(scope):
            if isinstance(d, ast.FunctionDef) and d.name == thunk.id:
                return [d]
    return []


def _returns(body: ast.AST) -> list[ast.AST]:
    """The values a lambda or def returns."""
    if isinstance(body, ast.Lambda):
        return [body.body]
    return [r.value for r in ast.walk(body) if isinstance(r, ast.Return) and r.value]


def _chain_root(expr: ast.AST) -> str | None:
    """The name a method chain ``x.a(...).b(...)`` starts from."""
    while isinstance(expr, (ast.Call, ast.Attribute)):
        expr = expr.func if isinstance(expr, ast.Call) else expr.value
    return expr.id if isinstance(expr, ast.Name) else None


def _returns_persist(body: ast.AST, top_defs: dict, follow: bool = True) -> bool:
    """Whether ``body`` (a lambda or def) returns a persisted frame: a
    persist_tracked(...) call; a chain on a name that ``body`` binds to one
    and reads nowhere else; or, if ``follow``, a call of a module-level
    engine function that does either (looked up across modules by name,
    one call deep)."""
    persisted = {
        t.id
        for a in ast.walk(body)
        if isinstance(a, ast.Assign)
        and isinstance(a.value, ast.Call)
        and _call_name(a.value) == "persist_tracked"
        for t in a.targets
        if isinstance(t, ast.Name)
    }
    reads = [
        n.id for n in ast.walk(body) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    ]
    for ret in _returns(body):
        if isinstance(ret, ast.Call) and _call_name(ret) == "persist_tracked":
            return True
        root = _chain_root(ret)
        if root in persisted and reads.count(root) == 1:
            return True
        if follow and isinstance(ret, ast.Call) and isinstance(ret.func, ast.Name):
            if any(_returns_persist(d, top_defs, False) for d in top_defs.get(ret.func.id, [])):
                return True
    return False


def _leaf_name(arg: ast.AST) -> str:
    """A checkpoint_shared name argument as written: ``"rec.rf"``, or
    ``"r12.pr_ranks{t}"`` for an f-string."""
    if isinstance(arg, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
            for v in arg.values
        )
    return getattr(arg, "value", "")


#: checkpoint_shared leaf -> the consumer plans that change without the
#: persisted frame its thunk returns (plans at sf0.01). The leaf takes its
#: planner statistics from the frame it checkpoints, and only a cached
#: relation reports a size near the real one; without it the consumers'
#: joins on the leaf switch strategy or build side.
LEAF_PERSIST_OK = {
    "rec.rf": "cf_item_similarity (3 broadcast joins -> sort-merge), "
    "cf_item_similarity_salted (8 -> sort-merge), cf_predict_ratings and "
    "cf_predict_ratings_k50 (1 -> sort-merge)",
    "rec.pred_sims": "cf_predict_ratings, cf_predict_ratings_k50 (1 broadcast "
    "join -> sort-merge)",
    "r11.lsh_tr": "lsh_recall_precision (2 broadcast joins -> sort-merge)",
    "r11.lsh_sigs": "lsh_recall_precision, minhash_error_accounting (the "
    "signature scans lose their not-null filters)",
    "r11.lsh_cand": "lsh_recall_precision (the candidate join builds on the "
    "other side)",
    "r12.bw_truth": "banded_width_recall (4 broadcast joins -> sort-merge)",
    "r12.pr_nodes": "pagerank_convergence_curve (a join builds on the other "
    "side)",
    "r12.pr_ranks{t}": "pagerank_convergence_curve (2 broadcast joins -> "
    "sort-merge)",
    "r17.ks_av{k}": "semdedup_k_sweep (4 broadcast joins -> sort-merge)",
    "graphq.pr_edges": "pagerank_trade_graph (3 broadcast joins -> "
    "sort-merge); the persist is shared.pagerank_edges' return",
    "r12.pr_edges": "the same shared.pagerank_edges persist as graphq.pr_edges",
    "r20.tc_vps": "dedup_tombstone_curve (3 broadcast joins -> sort-merge)",
}


def test_no_persist_under_a_leaf():
    """A checkpoint_shared leaf is its own stored copy (localCheckpoint
    keeps its blocks), so a thunk, lambda or def, that returns a
    persist_tracked(...) frame holds a second, columnar copy of the same
    rows. The persist is found where the thunk returns it, where the thunk
    returns a chain on a persisted name read nowhere else, and inside a
    module-level function the thunk returns a call of (one call deep). No
    plan reads its rows; a leaf listed in LEAF_PERSIST_OK keeps it for its
    size. Persists inside the thunk's plan, read more than once while the
    leaf is built, are not its return value and stay."""
    trees = _engine_trees()
    top_defs: dict[str, list[ast.FunctionDef]] = {}
    for tree in trees.values():
        for d in tree.body:
            if isinstance(d, ast.FunctionDef):
                top_defs.setdefault(d.name, []).append(d)
    offenders = []
    for rel, tree in trees.items():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if not (isinstance(node, ast.Call) and _call_name(node) == "checkpoint_shared"):
                    continue
                if _leaf_name(node.args[0]) in LEAF_PERSIST_OK:
                    continue
                thunks = node.args[2:] + [k.value for k in node.keywords if k.arg == "build"]
                for body in (b for t in thunks for b in _thunk_bodies(tree, fn, t)):
                    if _returns_persist(body, top_defs):
                        offenders.append(f"{rel}:{node.lineno} {_leaf_name(node.args[0])}")
    assert not offenders, (
        f"persist_tracked under a checkpoint_shared leaf: {sorted(set(offenders))}"
    )


#: (module, function) -> why its decimal(18,s) sum stays inline, not dsum
INLINE_DECIMAL_SUM_OK = {
    ("plans/relationalx.py", "rolling_avg_user_value"): "window sum: dsum is "
    "an expression over three aggregates, which .over() cannot take",
    ("operators/linalg.py", "_sum_cells_checked"): "keeps the decimal(18,4) "
    "result for the exact matmul product, never a double",
}


def _is_decimal18_cast(node) -> bool:
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and node.args
    ):
        return False
    arg = node.args[0]
    if isinstance(arg, ast.JoinedStr) and arg.values:
        arg = arg.values[0]
    return (
        isinstance(arg, ast.Constant)
        and isinstance(arg.value, str)
        and arg.value.replace(" ", "").startswith("decimal(18,")
    )


def test_decimal_sums_go_through_dsum():
    """An exact double sum is operators.aggregates.dsum, not an inline
    F.sum(x.cast("decimal(18,s)")): one home for the idiom, so its fast
    path and its oracle twin sql_dsum cannot drift apart. A name bound to
    such a cast in the same function and then summed counts too."""
    pkg = pathlib.Path(big_data_analytics_mini_projects_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/aggregates.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            nodes = list(ast.walk(fn))
            cast_names = {
                t.id
                for n in nodes
                if isinstance(n, ast.Assign) and _is_decimal18_cast(n.value)
                for t in n.targets
                if isinstance(t, ast.Name)
            }
            for n in nodes:
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "sum"
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id == "F"
                    and n.args
                    and (
                        _is_decimal18_cast(n.args[0])
                        or (isinstance(n.args[0], ast.Name) and n.args[0].id in cast_names)
                    )
                    and (rel, fn.name) not in INLINE_DECIMAL_SUM_OK
                ):
                    offenders.append(f"{rel}:{n.lineno} ({fn.name})")
    assert not offenders, f"inline decimal(18,s) sums, use dsum: {sorted(set(offenders))}"


#: (module, function) -> why its transform(sequence(...)) is not a word n-gram
SEQUENCE_TRANSFORM_OK = {
    ("operators/textops.py", "char_trigrams"): "character trigrams of the text",
    ("operators/textops.py", "doc_fingerprints"): "k-character grams and the "
    "winnowing window minima over their hashes",
    ("plans/round6q.py", "bpe_merge_step"): "character bigrams of one word",
    ("plans/round7q.py", "chunk_col"): "disjoint fixed-size token chunks",
}


def _call_name(node) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_tokenizer_and_ngrams_only_in_functions_text():
    """The whitespace tokenizer and word n-grams have one definition per
    engine, in functions/text.py. Spark side: tokens and ngrams, both
    lambda-free; an inline ``filter(split(...), x -> ...)`` tokenizer or a
    ``transform(sequence(...), i -> ...)`` n-gram anywhere else fails, as
    SQL text or as ``F.filter(F.split(...))`` / ``F.transform(F.sequence(...))``.
    DuckDB side: sql_tokens / sql_token_count and sql_trigram_shingles; a
    ``list_filter(string_split(...), x -> x <> '')`` tokenizer or an
    ``array_to_string(toks[i:i+2] ...)`` word-trigram shingle written out
    anywhere else fails. A ``list_filter(string_split(...))`` that keeps
    words by another rule (the BPE word regex) is not the tokenizer.
    Docstrings do not count. The allowlisted transform(sequence(...)) sites
    follow other rules."""
    import re

    tokenizer = re.compile(r"(?<![\w.])filter\(\s*split\(")
    seq_transform = re.compile(r"(?<![\w.])transform\(\s*sequence\(")
    duck_tokenizer = re.compile(
        r"list_filter\(\s*string_split\((?:[^()]|\([^()]*\))*\),\s*x\s*->\s*x\s*<>\s*''\s*\)"
    )
    duck_trigram = re.compile(r"array_to_string\(\s*toks\[\s*i\s*:\s*i\s*\+\s*2\s*\]")
    pkg = pathlib.Path(big_data_analytics_mini_projects_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "functions/text.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        docstrings = {
            id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)
        }
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) in SEQUENCE_TRANSFORM_OK
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if id(node) in docstrings:
                    continue
                tok = tokenizer.search(node.value) or duck_tokenizer.search(node.value)
                seq = seq_transform.search(node.value)
                if duck_trigram.search(node.value):
                    offenders.append(f"{rel}:{node.lineno} trigram shingle")
            elif isinstance(node, ast.Call) and node.args and isinstance(node.args[0], ast.Call):
                pair = (_call_name(node), _call_name(node.args[0]))
                tok = pair == ("filter", "split")
                seq = pair == ("transform", "sequence")
            else:
                continue
            if tok:
                offenders.append(f"{rel}:{node.lineno} tokenizer")
            if seq and id(node) not in allowed:
                offenders.append(f"{rel}:{node.lineno} n-gram")
    assert not offenders, (
        "inline whitespace tokenizer or word n-gram, use functions/text.tokens "
        f"and ngrams, or sql_tokens and sql_trigram_shingles: {offenders}"
    )


_GROUPED_FIT = (
    "reference-shaped grouped fit that tests/test_stats.py compares the "
    "closed forms against; tests call it with its defaults"
)
_SESSION = "perfbench and tools/ start every session through get_spark by name"

#: (module, function, parameter) -> why a defaulted parameter that no
#: engine call site passes stays an option instead of a constant
OPTION_NO_CALLER_OK = {
    **{("session.py", "get_spark", p): _SESSION
       for p in ("app_name", "master", "shuffle_partitions")},
    ("sources/tables.py", "spread", "partitions"): "tests set the target "
    "partition count; perfbench wraps spread by name",
    ("operators/vector.py", "embedding_near_pairs", "max_rows"): "safety "
    "guard against an unbounded all-pairs cross join; tests set the bound",
    ("operators/recommend.py", "cf_filter_ratings", "min_users_per_item"):
    "tests set the minimum on small fixtures",
    ("operators/recommend.py", "cf_filter_ratings", "min_items_per_user"):
    "tests set the minimum on small fixtures",
    ("operators/recommend.py", "cf_item_similarities", "min_common"): "tests "
    "set the co-rating minimum on small fixtures",
    ("plans/round7q.py", "bm25f_scores", "top_n"): "tests widen the per-doc "
    "top-n to read every score",
    **{("operators/stats.py", "ols_simple_grouped", p): _GROUPED_FIT
       for p in ("group_col", "x_col", "y_col", "bonferroni_k")},
    **{("operators/stats.py", "ols_multi_grouped", p): _GROUPED_FIT
       for p in ("group_col", "x_col", "ctrl_col", "y_col", "bonferroni_k")},
}


def _engine_trees() -> dict[str, ast.Module]:
    pkg = pathlib.Path(big_data_analytics_mini_projects_spark.__file__).parent
    return {
        path.relative_to(pkg).as_posix(): ast.parse(path.read_text(), str(path))
        for path in sorted(pkg.rglob("*.py"))
    }


def test_every_option_has_a_caller():
    """A defaulted parameter of a module-level engine function is an option,
    and an option that no engine call site passes, by position or by
    keyword, is a constant: write it as one. Call sites match by function
    name (so a same-named method call counts, which errs toward passing);
    ``*args`` / ``**kwargs`` at a call pass everything. Tests, tools/ and
    perfbench/ are not engine call sites."""
    trees = _engine_trees()
    max_pos: dict[str, float] = {}
    keywords: dict[str, set] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _call_name(node)
            npos = len(node.args)
            if any(isinstance(a, ast.Starred) for a in node.args):
                npos = float("inf")
            max_pos[name] = max(max_pos.get(name, 0), npos)
            kws = keywords.setdefault(name, set())
            for k in node.keywords:
                kws.add(k.arg or "**")
    offenders = []
    for rel, tree in trees.items():
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            pos = fn.args.posonlyargs + fn.args.args
            first = len(pos) - len(fn.args.defaults)
            opts = [(a.arg, i) for i, a in enumerate(pos) if i >= first] + [
                (a.arg, None)
                for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if d is not None
            ]
            kws = keywords.get(fn.name, set())
            for arg, i in opts:
                passed = (
                    arg in kws
                    or "**" in kws
                    or (i is not None and i < max_pos.get(fn.name, 0))
                )
                if not passed and (rel, fn.name, arg) not in OPTION_NO_CALLER_OK:
                    offenders.append(f"{rel}:{fn.lineno} {fn.name}({arg}=...)")
    assert not offenders, f"options no engine call site sets: {offenders}"


def test_module_imports_are_read():
    """Every module-level import outside ``__init__.py`` is read by its
    module, or re-exported: some file of the repo imports that name from
    this module. ``from . import <module>`` (plans/catalog.py's
    registration imports) runs for its side effect and counts as read."""
    pkg = pathlib.Path(big_data_analytics_mini_projects_spark.__file__).parent
    repo = pkg.parent
    files = [
        *pkg.rglob("*.py"), *(repo / "tests").rglob("*.py"),
        *(repo / "tools").rglob("*.py"), *(repo / "perfbench").rglob("*.py"),
        repo / "bench.py", repo / "__spark_entry__.py",
    ]
    reexported = set()
    for path in files:
        parts = path.relative_to(repo).with_suffix("").parts
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.module:
                base = parts[: len(parts) - node.level] if node.level else ()
                mod = ".".join((*base, node.module))
                reexported |= {(mod, a.name) for a in node.names}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        mod = ".".join(path.relative_to(repo).with_suffix("").parts)
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and (
                node.module in (None, "__future__")
            ):
                continue
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            for a in node.names:
                name = (a.asname or a.name).split(".")[0]
                if name not in read and (mod, name) not in reexported:
                    offenders.append(f"{path.relative_to(pkg)}:{node.lineno} {name}")
    assert not offenders, f"module-level imports nothing reads: {offenders}"


#: benched query -> lambdafunction nodes in its physical plan at sf0.001
#: (tests/conftest.py's session); every other benched query has none. A
#: higher-order function's lambda is CodegenFallback and takes its operator
#: out of whole-stage codegen, so these counts may only go down: lower an
#: entry when a change removes lambdas, never raise one to pass.
LAMBDA_CEILING = {
    "ann_cosine_topk": 11,
    "ann_cosine_topk_blocked": 11,
    "ann_hyperplane_buckets": 49,
    "ann_ivf_lloyd": 66,
    "ann_ivf_nprobe": 24,
    "ann_multiprobe_topk": 173,
    "ann_recall_ivf": 35,
    "bpe_merge_step": 1,
    "chunk_dedup_boilerplate": 2,
    "corpus_prep_pipeline": 3,
    "dedup_embedding_bucketed": 360,
    "dedup_embedding_cosine": 24,
    "dedup_winnow_overlap": 20,
    "doc_fingerprints": 5,
    "embedding_diversity_by_label": 8,
    "embedding_label_stats": 4,
    "kmeans_lloyd_step": 11,
    "lang_id_ngram": 4,
    "lloyd_convergence_curve": 126,
    "ols_words_pvalues": 2,
    "semdedup_cells": 66,
    "semdedup_cells_auto": 82,
    "semdedup_k_sweep": 12,
    "semdedup_keeper_quality": 170,
    "semdedup_two_level": 55,
    "srp_recall_probe_curve": 168,
    "text_quality": 1,
}


def test_catalog_plan_hygiene(spark, sf_dir):
    problems = []
    for name, spec in QUERIES.items():
        if not spec.bench:
            continue
        df = spec.build(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "simple"
        )
        if "BatchEvalPython" in plan:
            problems.append(f"{name}: row-at-a-time Python UDF")
        if "FlatMapGroupsInPandas" in plan:
            problems.append(f"{name}: grouped-map pandas materialization")
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "ArrowEvalPython" in plan and name not in ARROW_EVAL_OK:
            problems.append(f"{name}: unexpected ArrowEvalPython")
        if "MapInPandas" in plan and name not in MAP_IN_PANDAS_OK:
            problems.append(f"{name}: unexpected MapInPandas")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            problems.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        lambdas = plan.count("lambdafunction(")
        if lambdas > LAMBDA_CEILING.get(name, 0):
            problems.append(
                f"{name}: {lambdas} lambdafunction nodes, ceiling "
                f"{LAMBDA_CEILING.get(name, 0)}"
            )
    assert not problems, "\n".join(problems)


def test_driver_loop_results_are_local_relations(spark, sf_dir):
    """The connected-components labels (dedup_clusters and
    cluster_size_histogram, on the driver path at this scale) and the BPE
    curve come back through Arrow as a LocalRelation leaf, never an RDD
    scan: ``createDataFrame(list)``, or Arrow's silent fallback to it, plans
    a LogicalRDD whose first use starts the Python workers. The second
    build reads the family's memoized labels and vocabulary, which must
    stay LocalRelations too (checkpointing them would add an RDD scan)."""
    for name in ("dedup_clusters", "bpe_merge_curve", "cluster_size_histogram"):
        for build in ("first", "repeat"):
            df = QUERIES[name].build(spark, sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
            assert "LocalRelation" in plan, (name, build, plan)
            assert "LogicalRDD" not in plan, (name, build, plan)


def test_minhash_simhash_no_scatter_exchange(spark, sf_dir):
    """The sf1 scale rehearsal's shuffle fix, pinned as a plan shape: the
    signature/fingerprint aggregations must not exchange on (doc, shingle) —
    that partitioning scatters every doc across every partition and defeats
    the per-doc partial aggregation (measured 60x shuffle inflation at 50k
    docs). Allowed exchanges: spread()'s round-robin of the compact doc rows
    plus ONE hash exchange on doc_id alone."""
    import re

    from big_data_analytics_mini_projects_spark.operators.similarity import (
        minhash_signatures,
        simhash_values,
    )

    # An earlier test may have left the IDENTICAL signature frame cached
    # (round12q's _scored_pairs persists it); a cache hit rewrites the
    # plan to InMemoryTableScan and the exchange census below goes blind.
    spark.catalog.clearCache()
    from big_data_analytics_mini_projects_spark.plans.similarityq import (
        NUM_HASHES,
        _shingles,
    )

    for build in (
        lambda: minhash_signatures(
            _shingles(spark, sf_dir, distinct=False),
            token_col="shingle",
            num_hashes=NUM_HASHES,
        ),
        lambda: simhash_values(
            _shingles(spark, sf_dir, distinct=False), spark, token_col="shingle"
        ),
    ):
        plan = build()._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        exchanges = re.findall(r"Exchange [^\n]*", plan)
        assert len(exchanges) == 2, exchanges
        hash_exch = [e for e in exchanges if "hashpartitioning" in e]
        assert len(hash_exch) == 1, exchanges
        assert "shingle" not in hash_exch[0], hash_exch


def test_round7q_shapes_pinned(spark, sf_dir):
    """Round-6 verdict item 7: pin the round7q scale shapes like the older
    families. (a) dedup_exact_substring's span stream stays scatter-free —
    span hashing is map-side (no exchange keyed on the span text) and the
    only doc_id-keyed exchange is the island-merge window's; the dup-set
    join-back is an equi-join on the uniform 60-bit h. (b) bm25f keeps the
    no-doc-join-back shape its docstring promises: every equi-join keys on
    `word` (the df join); doc_id appears only in aggregate partials, never
    in a join condition."""
    import re

    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

    es = QUERIES["dedup_exact_substring"].build(spark, sf_dir)
    plan = es._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert not any("span" in e for e in exchanges), exchanges
    doc_exch = [e for e in exchanges if e.startswith("doc_id")]
    assert len(doc_exch) == 1, exchanges  # the island window only
    joins = re.findall(r"(\w*HashJoin|SortMergeJoin)\w* \[([^\]]*)\]", plan)
    assert joins and all(k.startswith("h#") for _, k in joins), joins

    bm = QUERIES["bm25f_title_body"].build(spark, sf_dir)
    plan = bm._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    joins = re.findall(r"(\w*HashJoin|SortMergeJoin)\w* \[([^\]]*)\]", plan)
    assert joins, "expected the word-keyed df join"
    assert all(k.startswith("word#") for _, k in joins), joins
    assert "doc_id" not in " ".join(k for _, k in joins)


def test_round10q_shapes_pinned(spark, sf_dir):
    """Pin the round10q scale shapes. (a) domain_cap_sweep runs exactly ONE
    rank window (the three caps are conditional aggregates over it, no
    per-cap re-rank) and its only corpus exchange keys on source. (b)
    retention_value_bands co-partitions everything on user_id: every
    corpus-scale exchange hashes user_id, and the final (cohort, band,
    offset) aggregate is the only non-user exchange. (c) vocab_growth_curve
    never exchanges on doc_id (token counts and first-bucket mins key on
    word/bucket; the running-sum window runs on the 10-row bucket frame)."""
    import re

    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES

    cs = QUERIES["domain_cap_sweep"].build(spark, sf_dir)
    plan = cs._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert plan.count("RunningWindowFunction") <= 1
    assert len(re.findall(r"\bWindow(?:GroupLimit)? ", plan)) <= 2, plan[:200]
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all(e.startswith("source#") for e in exchanges), exchanges

    rb = QUERIES["retention_value_bands"].build(spark, sf_dir)
    plan = rb._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    non_user = [e for e in exchanges if not e.startswith("user_id#")]
    # the final aggregate's two-phase COUNT DISTINCT: one exchange on
    # (cohort, band, offset, user_id) then one on (cohort, band, offset)
    assert len(non_user) <= 2, exchanges
    assert all(e.startswith("cohort#") for e in non_user), exchanges

    vg = QUERIES["vocab_growth_curve"].build(spark, sf_dir)
    plan = vg._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert not any(e.startswith("doc_id#") for e in exchanges), exchanges


def test_round11q_round12q_shapes_pinned(spark, sf_dir):
    """Pin the round11q/round12q scale shapes (the round10q-pin pattern).
    (a) retention_quality_bridge: every corpus-scale exchange hashes
    user_id or bucket; the band dim rides a BroadcastHashJoin (never
    SortMerge); the only other exchanges serve the final bounded
    (cohort, band, offset) aggregate. (b) quality_threshold_sweep and
    pack_efficiency_sweep run without any rank/analytic Window (the
    sweeps are conditional aggregates / closed forms, not re-ranks).
    (c) srp_recall_probe_curve ranks once per (n_probes, query) over ONE
    flip-indexed candidate pass — no per-probe re-join of the corpus
    (the vectors table is scanned a bounded number of times)."""
    import re

    spark.catalog.clearCache()

    rb = QUERIES["retention_quality_bridge"].build(spark, sf_dir)
    plan = rb._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastHashJoin" in plan
    # the 4096-row bucket dim must ride BroadcastHashJoin, never SortMerge:
    # parse each join's key list and reject any SortMergeJoin keyed on
    # bucket/band (the plain substring check was vacuous — user_id appears
    # in every plan string).
    smj_keys = re.findall(r"SortMergeJoin\w* \[([^\]]*)\]", plan)
    assert not any(
        k.startswith(("bucket#", "band#")) for keys in smj_keys
        for k in keys.split(", ")
    ), smj_keys
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    corpus_keys = [
        e for e in exchanges
        if not (e.startswith("cohort#") or e.startswith("bucket#"))
    ]
    assert all(e.startswith("user_id#") for e in corpus_keys), exchanges

    for name in ("quality_threshold_sweep", "pack_efficiency_sweep"):
        df = QUERIES[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "RunningWindowFunction" not in plan, name
        assert not re.search(r"\bWindow ", plan), name

    # cluster_size_histogram must REUSE the CC labels, never run a second
    # CC chain: both consumers (size histogram + singleton subtraction)
    # read the ONE driver-side LocalRelation of labels (the analyzer gives
    # the second reference fresh attribute ids but keeps its rows object)
    # as it is, with no executor-side copy, and the only parquet scan left
    # is the column-pruned corpus count (ReadSchema []).
    ch = QUERIES["cluster_size_histogram"].build(spark, sf_dir)
    qe = ch._jdf.queryExecution()  # noqa: SLF001
    leaves = qe.analyzed().collectLeaves()
    rows = [
        spark._jvm.System.identityHashCode(leaf.data())  # noqa: SLF001
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LocalRelation"
    ]
    assert len(rows) == 2 and len(set(rows)) == 1, rows
    plan = qe.executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")

    sc = QUERIES["srp_recall_probe_curve"].build(spark, sf_dir)
    plan = sc._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # a CONSTANT number of vectors-table scans (truth pass, bucket/vector
    # sides of the candidate join, query subsets — 12 on Spark 4), crucially
    # independent of the probe count: a per-probe re-join would scale scans
    # with len(PROBE_SWEEP)
    assert plan.count("Scan parquet") <= 12, plan.count("Scan parquet")


def test_round13q_shapes_pinned(spark, sf_dir):
    """Pin the round13q scale shapes. (a) repetition_quality_rules is
    doc_id-co-partitioned end to end: every exchange hashes doc_id first
    (the (doc_id, token) aggs and the per-doc joins reuse the same
    distribution; join strategy is left to AQE — broadcast at driver SFs,
    co-partitioned SMJ at scale). (b) span_novelty_scan touches only the
    two designed keys: doc_id frames and the uniform 60-bit span hash h —
    the span expansion itself is a per-row transform (no span-keyed
    scatter), and the corpus parquet is scanned at most twice (the span
    stream feeding both the distinct-doc count and the join-back rides one
    persisted frame)."""
    import re

    spark.catalog.clearCache()

    rq = QUERIES["repetition_quality_rules"].build(spark, sf_dir)
    plan = rq._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all(e.startswith("doc_id#") for e in exchanges), exchanges
    assert "SortMergeJoin" not in plan or all(
        k.startswith("doc_id#")
        for keys in re.findall(r"SortMergeJoin\w* \[([^\]]*)\]", plan)
        for k in keys.split(", ")
    )

    sn = QUERIES["span_novelty_scan"].build(spark, sf_dir)
    plan = sn._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all(
        e.startswith("doc_id#") or e.startswith("h#") for e in exchanges
    ), exchanges
    assert "span" not in " ".join(exchanges)
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")

    # (c) doc_length_percentiles_by_source: ONE source-keyed exchange total —
    # the rank window shuffles by source and the final per-source aggregate
    # reuses that distribution (no second shuffle); one corpus scan.
    dl = QUERIES["doc_length_percentiles_by_source"].build(spark, sf_dir)
    plan = dl._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and exchanges[0].startswith("source#"), exchanges
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")

    # (d) dedup_canonical_quality: ONE grp-keyed exchange (the keeper
    # window); the 1-row weights frame arrives as the allowlisted broadcast
    # nested-loop, never a shuffle; one corpus scan and no doc_id exchange
    # (features + prefix hash are map-side).
    cq = QUERIES["dedup_canonical_quality"].build(spark, sf_dir)
    plan = cq._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and exchanges[0].startswith("grp#"), exchanges
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_round15q_shapes_pinned(spark, sf_dir):
    """Pin the round15q batch shapes (round-9 verdict item 5). (a)
    dsir_importance_weights: the 512-row rate frame joins back as a
    BroadcastHashJoin (never SortMerge — the corpus stream must stay
    pipelined), its totals come from ONE analytic window over the dimension
    frame (no second corpus scan, no 1-row cross join), and the only
    exchanges key doc_id (the per-doc aggregate) or b (the 512-bucket rate
    aggregate); at most two parquet scans of documents. (b)
    bpe_fertility_by_source: the trained spellings are a driver-side
    LocalRelation of word types, so the corpus-side word stream joins them
    by broadcast (never SortMerge) and the only corpus-scale exchange keys
    source (the final fertility aggregate); a word-keyed exchange would be
    a vocabulary-sized one."""
    import re

    spark.catalog.clearCache()

    dw = QUERIES["dsir_importance_weights"].build(spark, sf_dir)
    plan = dw._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all(
        e.startswith(("doc_id#", "b#")) for e in exchanges
    ), exchanges
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")
    assert len(re.findall(r"\bWindow ", plan)) == 1  # the 512-row totals

    spark.catalog.clearCache()

    bf = QUERIES["bpe_fertility_by_source"].build(spark, sf_dir)
    plan = bf._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "SortMergeJoin" not in plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all(
        e.startswith(("word#", "source#")) for e in exchanges
    ), sorted({e.split(",")[0] for e in exchanges})
    assert any(e.startswith("source#") for e in exchanges)


def test_round16q_shapes_pinned(spark, sf_dir):
    """Pin the round-10 fresh batch shapes. (a) dedup_image_phash: exact
    classes collapse FIRST — every exchange keys dhash or the pair-side
    block/hash columns (ha), NEVER doc_id (the corpus never enters the
    Hamming join); no cartesian/nested-loop anywhere. (b) semdedup_cells:
    the only SortMerge-joined keys are vec_id (the assignment join-back)
    and cell (the within-cell pair join) — cross-cell pairs are
    structurally impossible; the centroid frame rides the allowlisted
    broadcast. (c) dedup_state_tombstones: exchanges key only doc/band
    frames (doc_id/doc_d/doc_b/band) — the tombstone fold never shuffles
    on anything corpus-cross; no nested-loop joins at all."""
    import re

    spark.catalog.clearCache()

    ip = QUERIES["dedup_image_phash"].build(spark, sf_dir)
    plan = ip._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all(
        e.startswith(("dhash#", "ha#", "b#", "v#")) for e in exchanges
    ), sorted({e.split(",")[0] for e in exchanges})

    spark.catalog.clearCache()

    sd = QUERIES["semdedup_cells"].build(spark, sf_dir)
    plan = sd._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    smj_keys = {
        k.split("#")[0]
        for keys in re.findall(r"SortMergeJoin\w* \[([^\]]*)\]", plan)
        for k in keys.split(", ")
    }
    # the within-cell pair join is salted: (cell, bkt) keys lift its
    # parallelism from K to K x SEM_PAIR_BUCKETS (pair set exact)
    assert smj_keys <= {"vec_id", "cell", "bkt", "kb"}, smj_keys
    assert "CartesianProduct" not in plan

    spark.catalog.clearCache()

    ts = QUERIES["dedup_state_tombstones"].build(spark, sf_dir)
    plan = ts._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and all(
        e.startswith(("doc_id#", "doc_d#", "doc_b#", "band#")) for e in exchanges
    ), sorted({e.split(",")[0] for e in exchanges})


def test_round17q_round18q_shapes_pinned(spark, sf_dir):
    """Pin the round-10 part-2/3 batch shapes. (a) dedup_image_ahash has NO
    pair term at all: exchanges key only the two fingerprint columns, no
    sort-merge or nested-loop joins anywhere, and the corpus parquet is
    scanned a bounded number of times. (b) semdedup_k_sweep: the only
    SortMerge keys are the salted (cell, bkt) pair join; corpus exchanges
    key vec_id / cell / the dup-flag aggregate — never a raw pair column.
    (c) dedup_state_gc_metrics inherits the tombstone fold's doc/band-only
    exchange discipline with a single allowlisted 1-row broadcast.
    (d) pack_with_salvage: exchanges key doc_id, the span hash h, or the
    shard grouping expression — the span stream itself is never a shuffle
    key (no span-keyed scatter), and no nested-loop joins appear."""
    import re

    def shapes(name):
        spark.catalog.clearCache()
        df = QUERIES[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        ex = {
            e.split(",")[0].split("#")[0]
            for e in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        }
        smj = {
            k.split("#")[0]
            for ks in re.findall(r"SortMergeJoin\w* \[([^\]]*)\]", plan)
            for k in ks.split(", ")
        }
        return plan, ex, smj

    plan, ex, smj = shapes("dedup_image_ahash")
    assert ex <= {"ahash", "dhash"}, ex
    assert not smj and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") <= 3

    plan, ex, smj = shapes("semdedup_k_sweep")
    assert smj <= {"cell", "bkt"}, smj
    assert ex <= {"vec_id", "cell", "CASE WHEN is_dup"}, ex
    assert "CartesianProduct" not in plan

    plan, ex, smj = shapes("dedup_state_gc_metrics")
    assert ex <= {"doc_id", "doc_d", "doc_b", "band"}, ex
    assert plan.count("BroadcastNestedLoopJoin") <= 1

    plan, ex, smj = shapes("pack_with_salvage")
    assert ex <= {"doc_id", "h", "_groupingexpression"}, ex
    assert not any(k.startswith("span") or k.startswith("pos") for k in ex)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_joint_count_persist_shapes_pinned(spark, sf_dir):
    """pmi_word_pairs and bm25_top_terms make one pass over documents and
    cache only its joint count, whose marginals give every other count.
    (a) Every Generate in the plan is the same node, the one inside the
    cached relation (printed once per scan of it), and documents is the
    only table read. (b) Every InMemoryRelation outputs exactly the count
    table, so no persisted frame holds raw pair or token rows."""
    import re

    for name, cols in (
        ("pmi_word_pairs", ["w1", "w2", "c12"]),
        ("bm25_top_terms", ["doc_id", "word", "tf"]),
    ):
        spark.catalog.clearCache()
        df = QUERIES[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        generates = set(re.findall(r"Generate [^\n]*", plan))
        assert len(generates) == 1, (name, generates)
        assert set(re.findall(r"(\w+)\.parquet", plan)) == {"documents"}, name
        relations = re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)
        assert relations, name
        for r in relations:
            assert [c.split("#")[0] for c in r.split(", ")] == cols, (name, relations)
