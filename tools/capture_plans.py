"""Capture .explain("formatted") for every declared catalog query.

Usage:
    python tools/capture_plans.py <out_dir> [suffix] [name ...]

Writes <out_dir>/<query>_<suffix>.txt (suffix default "before"). When query
names are given, captures only those. Building a DataFrame runs any driver
loops inside the builder (iterative queries), so this is also a smoke test
that every builder still constructs.

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
            f.write(plan)
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
