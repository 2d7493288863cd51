"""Write the committed per-query, per-layer record of every workload.

    python3 perfbench/record.py --seed 1 --seconds 10

For each workload it runs the benchmark twice with the same seed, untraced
then traced, and writes ``records/<workload>.json`` with both full records
and the tracing overhead: traced minus untraced timed seconds. Never run it
straight after the test suite (README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int, path: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--record", path,
    ]
    subprocess.run(cmd, cwd=os.path.dirname(HERE), check=True, stdout=subprocess.DEVNULL)
    with open(path) as f:
        return json.load(f)


def _summary(record: dict) -> dict:
    runs = [e for e in record["executions"] if not e["topup"]]
    cold = [e for e in runs if e["cold"]]
    return {
        "timed_s": sum(e["wall_s"] for e in runs),
        "cold_build_share": sum(e["build_s"] for e in cold) / sum(e["wall_s"] for e in cold),
        "exec_share": sum(e["exec_s"] for e in runs) / sum(e["wall_s"] for e in runs),
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = p.parse_args()
    out_dir = os.path.join(HERE, "records")
    os.makedirs(out_dir, exist_ok=True)
    for name in args.workload or sorted(WORKLOADS):
        path = os.path.join(out_dir, f"{name}.json")
        untraced = _run(name, args.seed, args.seconds, 0, path)
        traced = _run(name, args.seed, args.seconds, 1, path)
        plain, layered = _summary(untraced), _summary(traced)
        with open(path, "w") as f:
            json.dump(
                {
                    "untraced": {**plain, "record": untraced},
                    "traced": {**layered, "record": traced},
                    "trace_overhead_s": layered["timed_s"] - plain["timed_s"],
                },
                f,
                indent=1,
            )
        print(f"{name}: timed {plain['timed_s']:.2f}s untraced, "
              f"{layered['timed_s']:.2f}s traced; cold build share "
              f"{plain['cold_build_share']:.0%}, exec share {plain['exec_share']:.0%}")


if __name__ == "__main__":
    main()
