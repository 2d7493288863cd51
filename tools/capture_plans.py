"""Capture .explain("formatted") for every declared catalog query.

Usage:
    python tools/capture_plans.py <out_dir> [suffix] [name ...]

Writes <out_dir>/<query>_<suffix>.txt (suffix default "before"). When query
names are given, captures only those. Building a DataFrame runs any driver
loops inside the builder (iterative queries), so this is also a smoke test
that every builder still constructs.

The files are byte-stable across sessions, so a diff of two commits'
captures shows only real plan changes: expression ids, ``plan_id=`` and
``RDD[<id>]`` numbers are stripped, and count-distinct rewrites are put in a
canonical order (:func:`canonical_plan`).

A summary line per query goes to stdout: exchange count, join strategies,
python-eval nodes — the quick audit the optimization guide §7.2 asks for.
"""

from __future__ import annotations

import os
import re
import sys

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
from big_data_analytics_mini_projects_spark.session import get_spark


_RUN_IDS = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
)
_EXPAND_HEADER = re.compile(r"^\(\d+\) Expand\b")


def _split(body: str) -> list[str]:
    """Split a list body on its top-level commas."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i].strip())
            start = i + 1
    return parts + [body[start:].strip()]


def _close(line: str, i: int) -> int:
    """Index of the bracket closing the one at ``line[i]``."""
    depth = 0
    for j in range(i, len(line)):
        depth += line[j] in "(["
        depth -= line[j] in ")]"
        if depth == 0:
            return j
    return len(line) - 1


def _strip_ids(text: str) -> str:
    for pattern, repl in _RUN_IDS:
        text = pattern.sub(repl, text)
    return text


def _sort_lists(line: str) -> str:
    """Sort the elements of every top-level ``[...]`` list and every
    ``hashpartitioning(...)`` key list (partition count kept last)."""
    out, i = [], 0
    while i < len(line):
        hp = line.startswith("hashpartitioning(", i)
        if line[i] == "[" or hp:
            o = i + len("hashpartitioning") if hp else i
            j = _close(line, o)
            items = _split(line[o + 1:j])
            keys, tail = (items[:-1], items[-1:]) if hp else (items, [])
            out.append(line[i:o + 1] + ", ".join(sorted(keys, key=_strip_ids) + tail) + line[j])
            i = j + 1
        else:
            out.append(line[i])
            i += 1
    return "".join(out)


def canonical_plan(plan: str) -> str:
    """``plan`` with its count-distinct rewrites in a canonical order and its
    run-dependent ids stripped.

    Spark's count-distinct rewrite expands the input once per distinct
    group, numbers the groups with a ``gid`` column, and orders the groups
    and their columns by a hash of expression ids. The same query therefore
    prints a different permutation depending on how many expressions the
    session built before it. Here each such Expand's output columns are
    sorted by name, its projections are sorted and renumbered, and every
    later line that carries that ``gid`` gets its lists sorted and its
    ``gid = k`` literals renumbered to match."""
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        if not (i >= 2 and _EXPAND_HEADER.match(lines[i - 2]) and line.startswith("Arguments: [[")):
            continue
        projs, outs = _split(line[len("Arguments: "):])
        cols = _split(outs[1:-1])
        gid = next((c for c in cols if c.startswith("gid#")), None)
        if gid is None:  # a cube, rollup or unpivot: its order is the query's
            continue
        order = sorted(range(len(cols)), key=lambda k: _strip_ids(cols[k]))
        g = order.index(cols.index(gid))
        rows = [[p[k] for k in order] for p in (_split(q[1:-1]) for q in _split(projs[1:-1]))]
        rows.sort(key=lambda r: _strip_ids(", ".join(r[:g] + r[g + 1:])))
        renumber = {r[g]: str(n) for n, r in enumerate(rows)}
        for n, r in enumerate(rows):
            r[g] = str(n)
        lines[i] = "Arguments: [{}], [{}]".format(
            ", ".join("[" + ", ".join(r) + "]" for r in rows),
            ", ".join(cols[k] for k in order),
        )
        gid_eq = re.compile(re.escape(gid) + r"(?!\d)( = )(\d+)")
        for k in range(i + 1, len(lines)):
            if re.search(re.escape(gid) + r"(?!\d)", lines[k]):
                lines[k] = _sort_lists(
                    gid_eq.sub(lambda m: gid + m.group(1) + renumber[m.group(2)], lines[k])
                )
    return _strip_ids("\n".join(lines))


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/plans"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = spec.build(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"PLAN FAIL {name}: {type(e).__name__}: {e}", flush=True)
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(canonical_plan(plan))
        n_ex = len(re.findall(r"\bExchange\b", plan))
        joins = sorted(
            set(re.findall(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
                           r"BroadcastNestedLoopJoin|CartesianProduct)", plan))
        )
        pyev = sorted(
            set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                           r"MapInPandas|FlatMapGroupsInPandas)", plan))
        )
        print(
            f"PLAN {name}: exchanges={n_ex} joins={','.join(joins) or '-'} "
            f"python={','.join(pyev) or '-'}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
