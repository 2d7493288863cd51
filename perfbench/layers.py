"""Per-layer record of a benchmark run, taken from outside the engine.

Two sources feed it:

* ``Tracer`` wraps the public functions of the engine's layers (session,
  sources, caching, the connected-components driver loops) and counts calls
  and time into the current execution's counters. Plan modules import those
  functions by name, so ``install`` must run before ``plans.catalog`` is
  imported; it also re-points every already-loaded engine module that holds
  a reference to an original.
* ``group_stats`` reads Spark's live status store for the jobs of one job
  group (the harness sets one group per execution and phase), which works
  with the UI disabled: job walls, stages, tasks, task time, input,
  shuffle and spill.

``storage_mb`` and ``LogTail`` are used by every run: the first samples the
blocks held by persisted or checkpointed RDDs, the second counts the ERROR
lines Spark wrote to its log since the last call.
"""

from __future__ import annotations

import importlib
import sys
import time
from collections import Counter

PKG = "big_data_analytics_mini_projects_spark"
MB = 1024 * 1024

#: Per-execution counters the tracer and the status store fill, with units.
LAYER_METRICS = {
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.spread_calls": "count",
    "sources.spread_repartitions": "count",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "plans.construct_s": "s",
    "operators.loop_s": "s",
    "operators.loop_jobs": "count",
    "caching.persist_calls": "count",
    "caching.checkpoint_calls": "count",
    "caching.checkpoint_hits": "count",
    "caching.release_calls": "count",
    "caching.storage_mb": "MB",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "exec.scheduler_errors": "count",
}


class Tracer:
    """Counts layer calls and time into ``counts`` (reset per execution)."""

    def __init__(self) -> None:
        self.counts: Counter = Counter()
        self.session_start_s: list[float] = []
        self.sc = None
        self.group: str | None = None

    def install(self) -> None:
        if f"{PKG}.plans.catalog" in sys.modules:
            raise RuntimeError("install the tracer before importing plans.catalog")
        session = importlib.import_module(f"{PKG}.session")
        tables = importlib.import_module(f"{PKG}.sources.tables")
        caching = importlib.import_module(f"{PKG}.caching")
        similarity = importlib.import_module(f"{PKG}.operators.similarity")
        wrappers = {
            (session, "get_spark"): self._session,
            (tables, "load_table"): lambda f: self._timed(f, "sources.load"),
            (tables, "spread"): self._spread,
            (caching, "persist_tracked"): lambda f: self._counted(f, "caching.persist_calls"),
            (caching, "checkpoint_shared"): lambda f: self._checkpoint(f, caching),
            (caching, "release_persisted"): lambda f: self._counted(f, "caching.release_calls"),
            (similarity, "connected_components"): self._loop,
            (similarity, "connected_components_twophase"): self._loop,
        }
        swap = {}
        for (module, name), wrap in wrappers.items():
            original = getattr(module, name)
            swap[id(original)] = wrap(original)
        for mod_name, module in list(sys.modules.items()):
            if mod_name == PKG or mod_name.startswith(PKG + "."):
                for attr, value in list(vars(module).items()):
                    if id(value) in swap:
                        setattr(module, attr, swap[id(value)])

    def _session(self, fn):
        def get_spark(*args, **kwargs):
            t0 = time.perf_counter()
            spark = fn(*args, **kwargs)
            self.session_start_s.append(time.perf_counter() - t0)
            return spark

        return get_spark

    def _timed(self, fn, prefix):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.counts[prefix + "_s"] += time.perf_counter() - t0
                self.counts[prefix + "_calls"] += 1

        return timed

    def _counted(self, fn, key):
        def counted(*args, **kwargs):
            self.counts[key] += 1
            return fn(*args, **kwargs)

        return counted

    def _spread(self, fn):
        def spread(df, *args, **kwargs):
            out = fn(df, *args, **kwargs)
            self.counts["sources.spread_calls"] += 1
            self.counts["sources.spread_repartitions"] += out is not df
            return out

        return spread

    def _checkpoint(self, fn, caching):
        def checkpoint_shared(name, sf_dir, df):
            before = caching._CHECKPOINTED.get((name, sf_dir))
            out = fn(name, sf_dir, df)
            self.counts["caching.checkpoint_calls"] += 1
            self.counts["caching.checkpoint_hits"] += before is not None and out is before[1]
            return out

        return checkpoint_shared

    def _loop(self, fn):
        def loop(*args, **kwargs):
            jobs0 = self._group_jobs()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.counts["operators.loop_s"] += time.perf_counter() - t0
                self.counts["operators.loop_jobs"] += self._group_jobs() - jobs0

        loop.__name__ = fn.__name__
        return loop

    def _group_jobs(self) -> int:
        if self.sc is None or self.group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def _union_s(spans: list[tuple[int, int]]) -> float:
    """Seconds covered by a set of [start, end] millisecond intervals."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def group_stats(sc, group: str, timeout_s: float = 10.0) -> dict:
    """Jobs and stage metrics of one job group from the live status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    spans, stage_ids = [], set()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    for jid in job_ids:
        job = store.job(jid)
        # The status listener runs asynchronously: wait for the job end.
        while not job.completionTime().isDefined() and time.monotonic() < deadline:
            time.sleep(0.01)
            job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            spans.append(
                (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
            )
        stage_ids.update(tracker.getJobInfo(jid).stageIds)
    out = Counter(jobs=len(job_ids), job_s=_union_s(spans))
    for sid in sorted(stage_ids):
        stage = store.lastStageAttempt(sid)
        if stage.status().toString() in ("SKIPPED", "PENDING"):
            continue
        out["stages"] += 1
        out["tasks"] += stage.numTasks()
        out["failed_tasks"] += stage.numFailedTasks()
        out["task_run_s"] += stage.executorRunTime() / 1000
        out["input_mb"] += stage.inputBytes() / MB
        out["input_rows"] += stage.inputRecords()
        out["shuffle_read_mb"] += stage.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
        out["spill_mb"] += stage.diskBytesSpilled() / MB
    return out


def storage_mb(sc) -> float:
    """Memory and disk held by persisted or checkpointed RDD blocks."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class LogTail:
    """Counts ERROR lines appended to a log file since the previous call."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.offset = 0

    def errors(self) -> int:
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            new = f.read()
        self.offset += len(new)
        return sum(1 for line in new.split(b"\n") if b" ERROR " in line)
