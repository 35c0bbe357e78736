"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from ``--seed``, starts one SparkSession through the program's
``session.get_spark`` with ``SPARK_GRAFT_CPUS`` = the usable cores,
sets up the workload four times (median reported as ``setup_s``),
runs its first pass, then runs its operations one after another (one
client, closed loop) in whole laps for at least ``--seconds`` seconds
and the workload's minimum number of laps, checks every output and
prints one JSON line as the last line of standard output:

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
- ``--trace 1``: the per-layer metrics, from wrappers, job groups, a
  streaming listener and Spark's event log (see ``tracing.py``). Laps
  alternate untraced/traced, so the run also reports its own overhead.

All state of a run is private: inputs, ``TMPDIR``,
``SPARK_LOCAL_DIRS``, the JVM's temp dir and the event log live under
``.perfbench_runs/<tag>/`` and are removed at the end, together with
the program's ``spark-warehouse/*<tag>*`` index entries.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

SETUP_REPS = 4
MB = 1024.0 * 1024.0


class RunDir:
    """Paths private to one run, and their removal."""

    def __init__(self, root: str, tag: str) -> None:
        self.tag = tag
        self.base = os.path.join(root, ".perfbench_runs", tag)
        self.inputs = os.path.join(self.base, "inputs")
        self.tmp = os.path.join(self.base, "tmp")
        self.local = os.path.join(self.base, "spark-local")
        self.events = os.path.join(self.base, "events")
        self.warehouse = os.path.join(root, "spark-warehouse")
        self.had_warehouse = os.path.isdir(self.warehouse)

    def warehouse_entries(self) -> list[str]:
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(e for e in os.listdir(self.warehouse) if self.tag in e)

    def create(self) -> None:
        if os.path.exists(self.base) or self.warehouse_entries():
            raise RuntimeError(f"run tag {self.tag} already in use")
        for d in (self.inputs, self.tmp, self.local, self.events):
            os.makedirs(d)

    def remove(self) -> None:
        for e in self.warehouse_entries():
            path = os.path.join(self.warehouse, e)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        if not self.had_warehouse and os.path.isdir(self.warehouse) and not os.listdir(self.warehouse):
            os.rmdir(self.warehouse)
        shutil.rmtree(self.base, ignore_errors=True)
        parent = os.path.dirname(self.base)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def configure_env(run: RunDir, trace: bool) -> None:
    """Environment read by Python, the JVM launcher and the program.
    Must run before anything imports pyspark or calls tempfile."""
    import tempfile

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = run.tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = run.local
    # every JVM the launch starts (spark-submit's launcher too): temp
    # files in the run's directory, no perf-data file under /tmp
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={run.tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java}".strip()
    args = []
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run.events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([*(shlex.quote(a) for a in args), "pyspark-shell"])


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total


def proc_status_mb(pid: int | str, field: str) -> float:
    """A memory field of /proc/<pid>/status (VmHWM: peak resident set,
    VmRSS: current resident set) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for {pid}")


class CpuClock:
    """CPU seconds used so far by the run: this Python process, the JVM
    and the Python workers the JVM starts. Unlike wall time, CPU time
    does not count the time the host gives the CPUs to other guests
    (steal), though a busy host still slows the work itself.

    Live processes are read through their CPU-time clocks in
    nanoseconds (``clock_getcpuclockid``); children they have already
    reaped, from /proc in clock ticks."""

    def __init__(self, jvm_pid: int) -> None:
        self.pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")
        self.jit_seen: dict[int, int] = {}
        self.jit_ns = 0

    def tree(self) -> dict[int, int]:
        """The JVM and its descendants: pid -> clock ticks of the
        children each has reaped (cutime + cstime)."""
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                # fields[1] = ppid; fields[13:15] = cutime cstime
                procs[int(pid)] = (int(fields[1]), int(fields[13]) + int(fields[14]))
        tree, frontier = {self.pid: procs.get(self.pid, (0, 0))[1]}, [self.pid]
        while frontier:
            parent = frontier.pop()
            for pid, (ppid, reaped) in procs.items():
                if ppid == parent and pid not in tree:
                    tree[pid] = reaped
                    frontier.append(pid)
        return tree

    def total_s(self) -> float:
        total = time.process_time()
        for pid, reaped in self.tree().items():
            try:
                total += time.clock_gettime(((~pid) << 3) | 2) + reaped / self.tick
            except OSError:  # exited since the scan
                pass
        return total

    def jit_s(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads so far, read per
        thread from /proc/<jvm>/task/<tid>/schedstat (nanoseconds). The
        JVM starts and ends compiler threads as its queue grows and
        shrinks, so each thread's growth is added at every reading; the
        time a thread runs between the last reading and its exit is
        not seen."""
        task = f"/proc/{self.pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"{task}/{tid}/schedstat") as f:
                    ns = int(f.read().split()[0])
            except OSError:
                continue
            seen = self.jit_seen.get(int(tid), 0)
            self.jit_ns += ns - seen if ns >= seen else ns
            self.jit_seen[int(tid)] = ns
        return self.jit_ns / 1e9


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


HEAP_STEADY_MB = 1.0
HEAP_MAX_READINGS = 15


def retained_heap_mb(spark) -> list[float]:
    """JVM heap in use after full collections a second apart, until the
    last three readings lie within ``HEAP_STEADY_MB``. Memory the
    session still holds once the work is done: unlike the peak resident
    set, which follows the collector's heap-growth choices, this follows
    what the program keeps (cached intermediaries, plan caches, broadcast
    blocks). The least reading counts.

    Python's cyclic garbage is collected first, so the JVM objects only
    dead Python proxies still pin are released. Each JVM collection
    makes Spark's context cleaner drop the blocks of broadcasts, shuffles
    and RDDs that became unreachable, and those blocks are freed only by
    a later collection; how many rounds that takes depends on how fast
    the cleaner keeps up (three rounds and 200 MB seen; on a busy host a
    level held for a second), so a fixed number of readings is not
    enough."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap: list[float] = []
    while len(heap) < HEAP_MAX_READINGS:
        if heap:
            time.sleep(1.0)
        jvm.java.lang.System.gc()
        heap.append(bean.getHeapMemoryUsage().getUsed() / MB)
        if len(heap) >= 3 and max(heap[-3:]) - min(heap[-3:]) <= HEAP_STEADY_MB:
            break
    return heap


def reset_peak_rss() -> None:
    """Start this process's peak-RSS count afresh, so input generation
    is not charged to the program."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def stop_spark() -> None:
    """Stop the running SparkContext, if any, and the JVM gateway, and
    wait for the JVM to exit. Safe to call more than once."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cached_storage(spark) -> tuple[int, float]:
    """(cached RDD count, cached MB in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def warehouse_state(run: RunDir) -> dict[str, tuple[int, int]]:
    """Per own warehouse entry: (bytes, newest mtime)."""
    out = {}
    for e in run.warehouse_entries():
        path = os.path.join(run.warehouse, e)
        newest, size = 0, 0
        for d, _, files in os.walk(path):
            for f in files:
                st = os.lstat(os.path.join(d, f))
                size += st.st_size
                newest = max(newest, st.st_mtime_ns)
        out[e] = (size, newest)
    return out


def check_metric_names(metrics: dict, trace: bool) -> None:
    """The run must report exactly the metrics BENCHMARK.json lists
    for its mode, in the listed units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))},"
            f" extra {sorted(set(got) - set(want))},"
            f" units {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}"
        )


def make_workload(name: str):
    if name == "agent_session":
        from agent import AgentSession

        return AgentSession()
    if name == "registry_lap":
        from registry import RegistryLap

        return RegistryLap()
    raise SystemExit(f"unknown workload {name!r}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "data_pengadaan_agent_spark"))
    ):
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    os.chdir(ROOT)
    # a terminated run still stops its JVM and removes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = make_workload(args.workload)
    run = RunDir(ROOT, "pb" + uuid.uuid4().hex[:12])
    run.create()
    trace = bool(args.trace)
    configure_env(run, trace)
    try:
        result = measure(wl, run, args, trace)
    finally:
        stop_spark()
        run.remove()
    check_metric_names(result["line"]["metrics"], trace)
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


def measure(wl, run: RunDir, args, trace: bool) -> dict:
    from tracing import ProgressListener, Tracer

    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def tick(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    facts = wl.prepare(args.seed, run.inputs, run.tag)
    reset_peak_rss()
    tick("prepare_s")

    from pyspark.sql.classic.dataframe import DataFrame

    from data_pengadaan_agent_spark.session import get_spark

    spark = get_spark("perfbench")  # launches the JVM; not part of setup_s
    tick("jvm_start_s")
    jvm = spark.sparkContext._gateway.proc.pid  # one JVM for the whole run
    clock = CpuClock(jvm)
    setup, setup_cpu, setup_jit = [], [], []
    for _ in range(SETUP_REPS):
        spark.stop()
        # every set-up starts on a collected heap, so collecting the
        # previous session's garbage is not charged to it
        spark.sparkContext._jvm.java.lang.System.gc()
        t0, cpu0, jit0 = time.perf_counter(), clock.total_s(), clock.jit_s()
        spark = get_spark("perfbench")
        state = wl.bind(spark)
        setup.append(time.perf_counter() - t0)
        setup_cpu.append(clock.total_s() - cpu0)
        setup_jit.append(clock.jit_s() - jit0)
    tick("setup_total_s")

    tracer = Tracer()
    listener = ProgressListener()
    if trace:
        for owner, attr, layer in wl.layers():
            tracer.wrap(owner, attr, layer)
        tracer.wrap_actions(DataFrame)
        spark.streams.addListener(listener)

    writes: dict[str, list[tuple[int, int, float]]] = {"first": [], "timed": []}
    walk_cpu = 0.0  # this process's CPU spent on the warehouse checks

    def run_op(name, thunk, traced, lap, phase):
        """Run one operation. Around every timed one (and every traced
        one), compare the run's own warehouse entries: the timed laps
        are the read path, so an operation that rewrites an entry there
        has missed its freshness gate and fails."""
        nonlocal walk_cpu
        watch = traced or phase == "timed"
        c0 = time.process_time()
        before = warehouse_state(run) if watch else None
        walk_cpu += time.process_time() - c0
        rec = tracer.op(spark, name, thunk, traced, phase, lap)
        if watch:
            c0 = time.process_time()
            after = warehouse_state(run)
            walk_cpu += time.process_time() - c0
            changed = [e for e, v in after.items() if before.get(e) != v]
            writes[phase].append((len(changed), sum(after[e][0] for e in changed), rec.seconds if changed else 0.0))
            if changed and phase == "timed":
                print(f"perfbench: {name} rewrote {changed} in a timed lap", file=sys.stderr)
                rec.ok = False
        return rec

    first = [run_op(n, t, trace, -1, "first") for n, t in wl.first_pass(state, trace)]
    tick("first_pass_s")

    # Timed loop: whole laps, at least the workload's minimum, until
    # --seconds have passed. The minimum keeps the lap count, and so the
    # point reached on the JIT's warm-up curve, the same on a slower
    # host. Traced runs alternate untraced and traced laps and end on
    # an untraced one (at least U T U), so every traced lap sits between
    # untraced ones for the overhead estimate.
    ops = []
    laps: list[tuple[float, bool]] = []
    lap_cpu: list[float] = []
    lap_jit: list[float] = []
    steal0 = steal_share()
    t_loop = time.perf_counter()
    while True:
        i = len(laps)
        traced = trace and i % 2 == 1
        t_lap, cpu0, jit0, walk0 = time.perf_counter(), clock.total_s(), clock.jit_s(), walk_cpu
        ops += [run_op(n, t, traced, i, "timed") for n, t in wl.cycle(state, i)]
        laps.append((time.perf_counter() - t_lap, traced))
        lap_cpu.append(clock.total_s() - cpu0 - (walk_cpu - walk0))
        lap_jit.append(clock.jit_s() - jit0)
        if (
            time.perf_counter() - t_loop >= args.seconds
            and len(laps) >= wl.min_laps
            and (not trace or (i >= 2 and i % 2 == 0))
        ):
            break

    steal1 = steal_share()
    n_cached, cached_mb = cached_storage(spark)
    peak_rss = proc_status_mb("self", "VmHWM") + proc_status_mb(jvm, "VmHWM")
    heap_samples = retained_heap_mb(spark)
    retained_heap, retained_rss = min(heap_samples), proc_status_mb("self", "VmRSS")
    tmp_residual = dir_bytes(run.tmp) / MB
    tick("loop_s")
    stop_spark()
    tracer.restore()
    tick("stop_s")

    errors = wl.verify(state)
    tick("verify_s")
    for e in errors:
        print(f"perfbench: wrong answer: {e}", file=sys.stderr)
    failed = sum(not o.ok for o in ops + first) + len(errors)

    times = [o.seconds for o in ops]
    tail = stats.tail_percentile(len(times))
    detail = {
        "workload": wl.name,
        "why": wl.why,
        "loop": wl.loop,
        "clients": 1,
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "inputs": facts,
        "seed": args.seed,
        "trace": int(trace),
        "ops": len(times),
        "laps": len(laps),
        "first_pass_ops": len(first),
        "first_pass_s": sum(o.seconds for o in first),
        "setup_wall_samples_s": setup,
        "setup_cpu_samples_s": setup_cpu,
        "setup_jit_samples_s": setup_jit,
        "lap_samples_s": [t for t, _ in laps],
        "lap_cpu_samples_s": lap_cpu,
        "lap_jit_samples_s": lap_jit,
        "warehouse_check_cpu_s": walk_cpu,
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "peak_rss_mb": peak_rss,
        "retained_heap_samples_mb": heap_samples,
        "retained_python_rss_mb": retained_rss,
        "op_tail_percentile": tail,
        "op_tail_s": stats.percentile(times, tail) if tail else None,
        "op_p50_by_name_s": {
            n: stats.median([o.seconds for o in ops if o.name == n])
            for n in dict.fromkeys(o.name for o in ops)
        },
        "phases": phases,
        "errors": errors[:5],
    }
    detail["setup_wall_s"] = stats.median(setup)
    detail["op_wall_p50_s"] = stats.median(times)
    detail["lap_wall_s"] = lap_from_position_medians(ops, len(laps))
    if not trace:
        metrics = {
            "setup_s": (stats.median(setup_cpu), "s"),
            "lap_cpu_s": (stats.median(lap_cpu), "s"),
            "retained_mb": (retained_heap + retained_rss, "MB"),
        }
    else:
        metrics = layer_metrics(wl, tracer, listener, run, ops, laps, writes, facts)
        metrics["operators.materialize.cached_entries_end"] = (n_cached, "count")
        metrics["operators.materialize.cached_mb_end"] = (cached_mb, "MB")
        metrics["storage.tmp_residual_mb"] = (tmp_residual, "MB")
    line = {
        "correct": failed == 0,
        "attempted": len(ops) + len(first),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"detail": detail, "line": line}


def lap_from_position_medians(ops, n_laps: int) -> float:
    """Lap time assembled from the median, over laps, of the operation
    at each position of the lap. Every lap runs the same sequence of
    operations, so this equals the median lap when one lap is slow
    throughout, and drops a slow burst that hits one lap only."""
    per_lap = [[o.seconds for o in ops if o.lap == i] for i in range(n_laps)]
    if len({len(p) for p in per_lap}) != 1:
        raise RuntimeError("laps ran different numbers of operations")
    return sum(stats.median(list(col)) for col in zip(*per_lap))


def layer_metrics(wl, tracer, listener, run, ops, laps, writes, facts) -> dict:
    from families import FAMILIES, family_of
    from tracing import event_log_metrics

    timed = {o.op_id for o in tracer.ops if o.traced and o.phase == "timed"}

    def span_p50(*layers):
        d = [e - s for layer, s, e, op in tracer.spans if layer in layers and op in timed]
        return stats.median(d) if d else 0.0

    traced_laps = [t for t, tr in laps if tr]
    n_laps = len(traced_laps)
    m: dict[str, tuple[float, str]] = {
        "engine.retrieve_keywords_p50_s": (span_p50("engine.retrieve_keywords"), "s"),
        "engine.materialize_p50_s": (span_p50("engine.materialize"), "s"),
        "engine.preview_p50_s": (span_p50("engine.preview"), "s"),
        "engine.chart_p50_s": (
            span_p50("engine.bar_chart", "engine.line_chart", "engine.pie_chart", "engine.histogram"),
            "s",
        ),
        "plans.sql_gate.safe_sql_p50_s": (span_p50("plans.sql_gate.safe_sql"), "s"),
        "sources.catalog.load_table_p50_s": (span_p50("sources.catalog.load_table"), "s"),
    }
    m.update(event_log_metrics(run.events, tracer.ops))
    fam = dict.fromkeys(FAMILIES, 0.0)
    if wl.name == "registry_lap":
        for o in ops:
            if o.traced:
                fam[family_of(o.name)] += o.seconds
    for f, v in fam.items():
        m[f"registry.family.{f}_s"] = (v / n_laps, "s")
    in_bytes = facts["bytes"]
    for phase, prefix, per in (("timed", "", n_laps), ("first", "first_pass_", 1)):
        w = writes[phase]
        m[f"index.{prefix}builds"] = (sum(b for b, _, _ in w) / per, "count")
        m[f"index.{prefix}build_s"] = (sum(s for _, _, s in w) / per, "s")
        m[f"storage.{prefix}warehouse_written_mb"] = (sum(x for _, x, _ in w) / MB / per, "MB")
        m[f"storage.{prefix}write_amp"] = (sum(x for _, x, _ in w) / in_bytes / per, "ratio")
    # streaming sinks are write path: measured over the first pass
    first = [o for o in tracer.ops if o.phase == "first"]
    batches = [b for b in listener.batches if any(o.start <= b["ts"] <= o.end for o in first)]
    last_state = {b["run_id"]: b["state_rows"] for b in batches}
    m["streaming.batches"] = (len(batches), "count")
    m["streaming.add_batch_s"] = (sum(b["add_batch_ms"] for b in batches) / 1000.0, "s")
    m["streaming.wal_commit_s"] = (sum(b["wal_commit_ms"] for b in batches) / 1000.0, "s")
    m["streaming.state_rows"] = (sum(last_state.values()), "count")
    untraced = [t for t, tr in laps if not tr]
    m["trace.overhead_ratio"] = (
        (sum(traced_laps) / n_laps) / (sum(untraced) / len(untraced)) - 1.0,
        "ratio",
    )
    return m


if __name__ == "__main__":
    sys.exit(main())
