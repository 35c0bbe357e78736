"""Tracing for the ``--trace 1`` run, kept entirely in the benchmark.

Four sources, all attached from outside the program:

- ``Tracer.wrap`` replaces a module's public function (or an Engine
  method) with a timing wrapper, so every call into that layer records
  a span ``(layer, start, end, op)``. Spans stay in memory.
- ``Tracer.op`` runs and times one benchmark operation and, when it is
  traced, sets its Spark job group, so the event log can attribute
  jobs to operations.
- ``ProgressListener`` is a ``StreamingQueryListener``: one progress
  event per micro-batch, with its trigger-phase durations and state
  size.
- ``event_log_metrics`` reads Spark's uncompressed JSON event log
  (switched on by configuration in ``run.py``) after the session
  stops: jobs, tasks and the TaskEnd metrics of each operation.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class OpRecord:
    """One benchmark operation."""

    op_id: str
    name: str
    start: float  # wall clock, seconds since the epoch
    traced: bool
    phase: str  # "first" (first pass) or "timed" (timed loop)
    lap: int  # timed loop lap, -1 in the first pass
    end: float = 0.0
    seconds: float = 0.0  # monotonic-clock duration
    ok: bool = True
    catalyst_s: float = 0.0


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[tuple[str, float, float, str | None]] = field(default_factory=list)
    ops: list[OpRecord] = field(default_factory=list)
    current: OpRecord | None = None
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    def wrap(self, owner: object, attr: str, layer: str) -> None:
        """Time every call of ``owner.attr`` as a span of ``layer``
        while tracing is enabled."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                op = tracer.current.op_id if tracer.current else None
                tracer.spans.append((layer, t0, time.perf_counter(), op))

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def wrap_actions(self, df_cls: type) -> None:
        """After each DataFrame action, add the Catalyst phase times
        (analysis, optimization, planning) of its query to the current
        operation."""
        tracer = self
        for attr in ("collect", "toArrow", "toPandas", "count"):
            orig = getattr(df_cls, attr)

            def timed(df, *args, _orig=orig, **kwargs):
                out = _orig(df, *args, **kwargs)
                if tracer.enabled and tracer.current is not None:
                    tracer.current.catalyst_s += catalyst_seconds(df)
                return out

            functools.update_wrapper(timed, orig)
            setattr(df_cls, attr, timed)
            self._patches.append((df_cls, attr, orig))

    def op(self, spark, name: str, thunk, traced: bool, phase: str, lap: int) -> OpRecord:
        """Run one benchmark operation and time it; a traced one runs
        under its own Spark job group. An exception fails the operation
        and is reported, and the run goes on."""
        rec = OpRecord(f"pb-op-{len(self.ops)}", name, time.time(), traced, phase, lap)
        self.ops.append(rec)
        self.current = rec
        self.enabled = traced
        if traced:
            spark.sparkContext.setJobGroup(rec.op_id, name)
        t0 = time.perf_counter()
        try:
            thunk()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec.ok = False
        finally:
            rec.seconds = time.perf_counter() - t0
            rec.end = time.time()
            self.enabled = False
            self.current = None
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return rec


def catalyst_seconds(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0


class ProgressListener(StreamingQueryListener):
    """Collects one record per streaming micro-batch."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {
                # trigger start, so the batch belongs to the operation
                # that ran it however late the event arrives
                "ts": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "add_batch_ms": p.durationMs.get("addBatch", 0),
                "wal_commit_ms": p.durationMs.get("walCommit", 0)
                + p.durationMs.get("commitOffsets", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "run_id": str(p.runId),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _event_files(event_dir: str) -> list[str]:
    """Every application's event log: one ``eventlog_v2_<app>``
    directory of rolled ``events_<n>_<app>`` files each."""
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda f: (os.path.dirname(f), int(os.path.basename(f).split("_")[1])))


@dataclass
class JobInfo:
    group: str | None
    start: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0


def read_event_log(event_dir: str) -> tuple[dict[int, JobInfo], list[dict]]:
    """Jobs by id and the TaskEnd records (with their stage id)."""
    jobs: dict[int, JobInfo] = {}
    tasks: list[dict] = []
    for path in _event_files(event_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = JobInfo(
                        props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1000.0,
                        stages=list(e.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "stage": e["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "shuffle_w_b": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill_b": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, tasks


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_metrics(event_dir: str, ops: list[OpRecord]) -> dict[str, tuple[float, str]]:
    """Per-operation means over the traced timed operations. A job belongs to
    the operation whose job group it carries; a job started from
    another thread (a streaming trigger) has no group and belongs to
    the operation whose interval contains its submission."""
    jobs, tasks = read_event_log(event_dir)
    traced = [o for o in ops if o.traced and o.phase == "timed"]
    by_id = {o.op_id: o for o in ops}
    stage_job: dict[int, int] = {}
    job_op: dict[int, OpRecord] = {}
    for jid, j in jobs.items():
        op = by_id.get(j.group) if j.group else None
        if op is None:
            op = next((o for o in ops if o.start <= j.start <= o.end), None)
        if op is not None and op.traced and op.phase == "timed":
            job_op[jid] = op
            for s in j.stages:
                stage_job[s] = jid
    sums = dict.fromkeys(("tasks", "run_ms", "cpu_ns", "gc_ms", "input_b", "shuffle_w_b", "spill_b"), 0.0)
    for t in tasks:
        if t["stage"] in stage_job:
            sums["tasks"] += 1
            for k in ("run_ms", "cpu_ns", "gc_ms", "input_b", "shuffle_w_b", "spill_b"):
                sums[k] += t[k]
    gap = 0.0
    for o in traced:
        spans = [
            (max(j.start, o.start), min(j.end or o.end, o.end))
            for jid, j in jobs.items()
            if job_op.get(jid) is o
        ]
        gap += (o.end - o.start) - _union_length([s for s in spans if s[1] > s[0]])
    n = max(len(traced), 1)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs_per_op": (len(job_op) / n, "count"),
        "spark.tasks_per_op": (sums["tasks"] / n, "count"),
        "spark.catalyst_s": (sum(o.catalyst_s for o in traced) / n, "s"),
        "spark.driver_gap_s": (gap / n, "s"),
        "spark.task_run_s": (sums["run_ms"] / 1000.0 / n, "s"),
        "spark.task_cpu_s": (sums["cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (sums["gc_ms"] / 1000.0 / n, "s"),
        "spark.input_mb": (sums["input_b"] / mb / n, "MB"),
        "spark.shuffle_write_mb": (sums["shuffle_w_b"] / mb / n, "MB"),
        "spark.spill_mb": (sums["spill_b"] / mb / n, "MB"),
    }
