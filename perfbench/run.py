"""Benchmark of the catalog engine: one workload, one run.

    python3 perfbench/run.py --workload pipeline_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its input tables once per
checkout (``datagen.py``), starts the engine's SparkSession on
``local[<cores>]`` once, runs the workload's schedule of catalog queries to
the ``noop`` sink one at a time, then checks each query's result against its
DuckDB oracle outside the timed region.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics, from wrappers
around the engine's layer functions and Spark's status store
(``layers.py``). ``--record FILE`` also writes every execution's record.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
PKG = "big_data_analytics_mini_projects_spark"

sys.path.insert(0, REPO)

import datagen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="minimum measured time; unmeasured passes are added until it is reached")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", help="scale of the generated data, instead of the workload's own")
    p.add_argument("--record", help="write the per-execution record to this JSON file")
    return p.parse_args(argv)


def _environment(cpus: int) -> None:
    """Keep every file Spark, the JVM and the queries write inside DATA."""
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def _redirect_stderr(path: str):
    """Send fd 2 (and so the JVM's log) to ``path``; return the old stderr."""
    saved = os.fdopen(os.dup(2), "w", buffering=1)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def _setup(get_spark, load_table, tables, sf_dir: str):
    """Session start (with the JVM launch), table warm-up (one count of each
    table the workload reads) and one untimed plan on ``documents`` that
    compiles the common codegen templates (scan, aggregate, broadcast join,
    window, sort, noop sink) without touching any catalog family's caches."""
    from pyspark.sql import Window, functions as F

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    for t in tables:
        load_table(spark, sf_dir, t).count()
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.groupBy("lang")
        .agg(F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(docs.select("source").distinct()))
        .withColumn("r", F.row_number().over(Window.partitionBy("lang").orderBy("source")))
        .orderBy("lang", "r")
        .write.format("noop").mode("overwrite").save()
    )
    return spark


def _layer_record(tracer, sc, tag: str, build_s: float, exec_s: float, storage: float) -> dict:
    build = layers.group_stats(sc, f"{tag}:build")
    run = layers.group_stats(sc, f"{tag}:exec")
    c = tracer.counts
    return {
        "sources.load_calls": c["sources.load_calls"],
        "sources.load_s": c["sources.load_s"],
        "sources.spread_calls": c["sources.spread_calls"],
        "sources.spread_repartitions": c["sources.spread_repartitions"],
        "sources.input_mb": build["input_mb"] + run["input_mb"],
        "sources.input_rows": build["input_rows"] + run["input_rows"],
        "plans.build_s": build_s,
        "plans.build_jobs": build["jobs"],
        "plans.build_job_s": build["job_s"],
        "plans.construct_s": max(0.0, build_s - build["job_s"]),
        "operators.loop_s": c["operators.loop_s"],
        "operators.loop_jobs": c["operators.loop_jobs"],
        "caching.persist_calls": c["caching.persist_calls"],
        "caching.checkpoint_calls": c["caching.checkpoint_calls"],
        "caching.checkpoint_hits": c["caching.checkpoint_hits"],
        "caching.release_calls": c["caching.release_calls"],
        "caching.storage_mb": storage,
        "exec.s": exec_s,
        "exec.jobs": run["jobs"],
        "exec.stages": run["stages"],
        "exec.tasks": run["tasks"],
        "exec.task_run_s": run["task_run_s"],
        "exec.shuffle_read_mb": run["shuffle_read_mb"],
        "exec.shuffle_write_mb": run["shuffle_write_mb"],
        "exec.spill_mb": run["spill_mb"],
        "exec.failed_tasks": run["failed_tasks"],
    }


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _measured(record: dict) -> list[dict]:
    """The executions of the fixed schedule; top-up passes are not measured."""
    return [e for e in record["executions"] if not e["topup"]]


def end_to_end(record: dict) -> dict:
    measured = _measured(record)
    ok = [e for e in measured if e["ok"]]
    walls: dict[str, list[float]] = {}
    for e in ok:
        walls.setdefault(e["query"], []).append(e["wall_s"])
    return {
        "setup_s": _metric(record["import_s"] + record["setup_s"], "s"),
        "cold_s": _metric(sum(e["wall_s"] for e in ok if e["cold"]), "s"),
        "warm_s": _metric(sum(e["wall_s"] for e in ok if not e["cold"]), "s"),
        "query_p50_s": _metric(statistics.median(statistics.median(v) for v in walls.values()), "s"),
        "cache_peak_mb": _metric(max(e["storage_mb"] for e in measured), "MB"),
    }


def per_layer(record: dict, tracer) -> dict:
    rows = [e["layers"] for e in _measured(record)]
    out = {"session.start_s": _metric(tracer.session_start_s[0], "s")}
    for name, unit in layers.LAYER_METRICS.items():
        values = [r[name] for r in rows]
        agg = max if name == "caching.storage_mb" else sum
        out[name] = _metric(agg(values) if values else 0, unit)
    calls = out["caching.checkpoint_calls"]["value"]
    hits = out["caching.checkpoint_hits"]["value"]
    out["caching.checkpoint_hit_ratio"] = _metric(hits / calls if calls else 0.0, "ratio")
    return out


def run(args, log) -> dict:
    workload = WORKLOADS[args.workload]
    sf = args.sf or workload.sf
    cpus = len(os.sched_getaffinity(0))
    _environment(cpus)
    sf_dir = _data(sf)
    tracer = None
    if args.trace:
        tracer = layers.Tracer()
        tracer.install()

    t0 = time.perf_counter()
    from big_data_analytics_mini_projects_spark.plans.catalog import QUERIES
    from big_data_analytics_mini_projects_spark.session import get_spark
    from big_data_analytics_mini_projects_spark.sources.tables import load_table
    import_s = time.perf_counter() - t0
    if args.sf is None:
        _prepare(QUERIES)

    try:
        t0 = time.perf_counter()
        spark = _setup(get_spark, load_table, workload.tables, sf_dir)
        setup_s = time.perf_counter() - t0
        log.write(f"{workload.name}: sf{sf} local[{cpus}] setup {setup_s:.3f}s\n")
        record = {
            "workload": workload.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sf": sf, "cpus": cpus,
            "import_s": import_s, "setup_s": setup_s,
        }
        last_df = _timed_loop(spark, QUERIES, sf_dir, workload, args, tracer, record, log)
        t0 = time.perf_counter()
        _check(QUERIES, last_df, sf_dir, sf, record)
        record["check_s"] = time.perf_counter() - t0
    finally:
        _shutdown()
    record["metrics"] = per_layer(record, tracer) if tracer else end_to_end(record)
    return record


def _data(sf: str) -> str:
    if sf == "1":
        return datagen.ensure_sf1(DATA, REPO)
    return datagen.ensure_sf(DATA, float(sf))


def _oracle(sf: str, sf_dir: str):
    from oracle import Oracle

    return Oracle(sf_dir, os.path.join(DATA, "oracle"), sf == "1")


def _prepare(queries) -> None:
    """Generate every workload's data and oracle answers, so that only the
    first run in a checkout pays for them, whichever workload it runs."""
    for w in WORKLOADS.values():
        oracle = _oracle(w.sf, _data(w.sf))
        for name in w.queries:
            oracle.answer(queries[name])
        oracle.close()


def _timed_loop(spark, queries, sf_dir, workload, args, tracer, record, log) -> dict:
    """Run the workload's fixed schedule, then further passes of it,
    unmeasured, until ``--seconds`` have passed; return each query's last
    built frame.

    Every metric comes from the fixed schedule alone, so a faster change
    that gains a top-up round is measured on the same executions as its
    parent."""
    sc = spark.sparkContext
    log_tail = layers.LogTail(os.path.join(DATA, "spark.log"))
    log_tail.errors()
    if tracer:
        tracer.sc = sc
    executions = record["executions"] = []
    last_df = {}
    rng = random.Random(args.seed)
    previous = None
    t_start = time.perf_counter()
    p = 0
    while p < workload.passes or time.perf_counter() - t_start < args.seconds:
        order = workload.order(rng, previous, workload.repeats)
        previous = order[-1]
        for name in order:
            tag = f"{len(executions)}:{name}"
            e = {
                "query": name, "pass": p, "topup": p >= workload.passes,
                "cold": name not in last_df, "ok": True,
            }
            if tracer:
                tracer.counts.clear()
                tracer.group = f"{tag}:build"
                sc.setJobGroup(tracer.group, name)
            t0 = time.perf_counter()
            try:
                df = queries[name].build(spark, sf_dir)
                t1 = time.perf_counter()
                if tracer:
                    tracer.group = f"{tag}:exec"
                    sc.setJobGroup(tracer.group, name)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # a failing query is counted, not fatal
                e.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
                t1 = t2 = time.perf_counter()
                last_df.setdefault(name, None)
            else:
                last_df[name] = df
            e.update(wall_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
            e["storage_mb"] = layers.storage_mb(sc)
            e["scheduler_errors"] = log_tail.errors()
            if tracer:
                e["layers"] = _layer_record(tracer, sc, tag, t1 - t0, t2 - t1, e["storage_mb"])
                e["layers"]["exec.scheduler_errors"] = e["scheduler_errors"]
            executions.append(e)
            log.write(f"  {name}: {e['wall_s']:.3f}s{'' if e['ok'] else ' FAILED ' + e['error']}\n")
        p += 1
    if tracer:
        tracer.group = None
        sc.setJobGroup("check", "oracle check")
    return last_df


def _check(queries, last_df, sf_dir, sf, record) -> None:
    """Collect each query's last result once and compare it with its oracle."""
    from oracle import digest

    oracle = _oracle(sf, sf_dir)
    checks = {}
    for name, df in last_df.items():
        if df is None:
            continue
        try:
            pdf = df.toPandas()
        except Exception as exc:  # reported as this query's failure
            checks[name] = {"digest": None, "mismatch": f"collect failed: {exc}"[:500]}
            continue
        checks[name] = {"digest": digest(pdf), "mismatch": oracle.check(queries[name], pdf)}
    oracle.close()
    for e in record["executions"]:
        mismatch = checks.get(e["query"], {}).get("mismatch")
        if e["ok"] and mismatch:
            e.update(ok=False, error=f"oracle mismatch: {mismatch}")
    record["checks"] = checks


def _shutdown() -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()  # the gateway JVM exits at end of input
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PKG)):
        print(f"engine package {PKG} not found next to perfbench/", file=sys.stderr)
        return 2
    os.makedirs(DATA, exist_ok=True)
    log = _redirect_stderr(os.path.join(DATA, "spark.log"))
    try:
        record = run(args, log)
    except Exception:
        log.write(traceback.format_exc())
        return 1
    if args.record:
        with open(args.record, "w") as f:
            json.dump(record, f, indent=1)
    failed = sum(not e["ok"] for e in record["executions"])
    for e in record["executions"]:
        if not e["ok"]:
            log.write(f"FAILED {e['query']}: {e['error']}\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(record["executions"]),
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
