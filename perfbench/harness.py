"""Run loop, counters and statistics shared by the workloads.

A workload module defines ``WARMUP_OPS``, ``CLASSES``, optionally
``SUMMARY_OPS``, and the functions ``build``, ``prepare``,
``operation``, ``finish``, ``check`` and ``per_layer``; :func:`run` drives them as one closed loop
from a single client thread and assembles the result line.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

def percentile_tail(samples: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the
    value with exactly ten samples above it is the ``n - 10``-th
    smallest, which sits at percentile ``floor(100 * (n - 10) / n)``.
    A run with ten samples or fewer has no such percentile; its tail
    is then the maximum, reported as percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100, n
    return xs[n - 11], math.floor(100 * (n - 10) / n), n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- counters


class SparkCounters:
    """Spark job, stage, task and shuffle counters around a call.

    Jobs and stages come from the DAG scheduler's id counters, which
    every submitted job and created stage advances (skipped stages
    included). Tasks and shuffle bytes come from the status store
    once the listener bus has drained, so they are exact, not
    sampled."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm

    def ids(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def stage_totals(self, first: int, last: int) -> dict[str, int]:
        """Tasks run and shuffle bytes written over stages
        ``[first, last)``."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        tasks = shuffle = 0
        for sid in range(first, last):
            data = store.lastStageAttempt(sid)
            tasks += int(data.numCompleteTasks())
            shuffle += int(data.shuffleWriteBytes())
        return {"tasks": tasks, "shuffle_bytes": shuffle}

    def jvm_mb_after_gc(self) -> float:
        """Memory the JVM had in use right after its latest collection,
        heap and non-heap pools, in MB: what the program keeps, without
        the garbage not yet collected or the heap the collector chose to
        reserve, which follow its timing rather than the program."""
        beans = self._jvm.java.lang.management.ManagementFactory
        best = 0
        for bean in beans.getGarbageCollectorMXBeans():
            info = bean.getLastGcInfo()
            if info is not None:
                usage = info.getMemoryUsageAfterGc()
                best = max(best, sum(usage.get(k).getUsed() for k in usage.keySet()))
        return best / 2**20

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory
        return (
            sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans())
            / 1000.0
        )


CPUS = os.cpu_count() or 1


def steal_seconds() -> float:
    """Host CPU steal so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _descendants() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds() -> float:
    """CPU time (user and system) so far of this process and every live
    descendant, plus that of descendants which have exited and been
    reaped. Time a CPU was stolen by the host, or a thread spent
    blocked, is not CPU time."""
    ticks = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_by_process() -> dict[str, float]:
    """Peak resident set (``VmHWM``) in MB of this process and every
    live descendant, summed by command name: the Python driver, the JVM
    and the Python workers."""
    out: dict[str, float] = {}
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            out[name] = out.get(name, 0.0) + int(status["VmHWM"].split()[0]) / 1024.0
    return out


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut down the JVM a stopped session leaves running and wait
    until it and the Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = [pid for pid in _descendants() if pid != os.getpid()]
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in started:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs; an exited process that no parent has
    reaped yet (state Z or X) does not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    op: int
    kind: str
    start: float
    end: float
    parent: str | None
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Disabled, :meth:`span` only yields, so the untraced run pays for no
    counter reads. Enabled, each span records its wall time and the
    Spark jobs, stages, tasks and shuffle bytes launched inside it.
    Spans stay in memory until the run ends."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.op = -1
        self.kind = ""

    @property
    def enabled(self) -> bool:
        return self.counters is not None

    @contextlib.contextmanager
    def span(self, name: str):
        if self.counters is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        job0, stage0 = self.counters.ids()
        rec = Span(
            name, self.op, self.kind, time.perf_counter(), 0.0, parent
        )
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            job1, stage1 = self.counters.ids()
            rec.counts["jobs"] = job1 - job0
            rec.counts["stages"] = stage1 - stage0
            rec.counts.update(self.counters.stage_totals(stage0, stage1))
            self._stack.pop()
            self.spans.append(rec)

    def seconds(self, name: str, first_op: int) -> list[float]:
        """Wall times of the spans called ``name`` in the timed window
        (operation ``first_op`` on), or of the warm-up's when the
        window ran none."""
        spans = [s for s in self.spans if s.name == name]
        timed = [s for s in spans if s.op >= first_op]
        return [s.end - s.start for s in timed or spans]

    def first_count(self, name: str, key: str) -> float:
        """A count per call, exact for a seed: the mean, over operation
        kinds, of the count in the first span of each kind. Warm-up
        operations come first, so the spans used are the same in every
        run with the seed, however many operations the window fits."""
        firsts: dict[str, Span] = {}
        for s in self.spans:
            if s.name == name:
                firsts.setdefault(s.kind, s)
        vals = [s.counts[key] for s in firsts.values()]
        return sum(vals) / len(vals) if vals else 0.0

    def job_drift(self) -> int:
        """Spans whose Spark job count differs from the first span of
        the same name and operation kind: a benchmark defect (counts
        are meant to repeat exactly), reported rather than absorbed."""
        firsts: dict[tuple[str, str], float] = {}
        drift = 0
        for s in self.spans:
            ref = firsts.setdefault((s.name, s.kind), s.counts["jobs"])
            drift += s.counts["jobs"] != ref
        return drift


# ------------------------------------------------------------- the run


@dataclass
class Op:
    index: int
    kind: str
    seconds: float
    rows: int
    ok: bool
    #: host CPU steal during the operation, as a share of the CPU time
    #: the host's CPUs had in that interval
    steal: float = 0.0
    #: :meth:`SparkCounters.jvm_mb_after_gc` right after the operation
    jvm_mb: float = 0.0
    #: CPU time of the whole process tree during the operation
    cpu_s: float = 0.0


@dataclass
class Context:
    """What a workload sees: the session, its seed, a scratch
    directory, the tracer, and a ``state`` dict it owns."""

    spark: Any
    seed: int
    scratch: str
    counters: SparkCounters
    tracer: Tracer
    state: dict[str, Any] = field(default_factory=dict)
    check_failures: list[str] = field(default_factory=list)

    def expect(self, ok: bool, what: str) -> None:
        """Record a correctness check; a failure makes the run
        incorrect but does not stop it."""
        if not ok:
            self.check_failures.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)


def _one_op(ctx: Context, workload, i: int) -> Op:
    """Prepare the inputs of operation ``i`` (untimed), run it (timed),
    then let the workload read what it needs afterwards (untimed)."""
    kind, payload = workload.prepare(ctx, i)
    ctx.tracer.op, ctx.tracer.kind = i, kind
    steal0, cpu0 = steal_seconds(), tree_cpu_seconds()
    t0 = time.perf_counter()
    try:
        rows = workload.operation(ctx, i, payload)
        ok = True
    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
        traceback.print_exc()
        rows, ok = 0, False
    secs = time.perf_counter() - t0
    cpu_s = tree_cpu_seconds() - cpu0
    op = Op(
        i,
        kind,
        secs,
        rows,
        ok,
        (steal_seconds() - steal0) / (secs * CPUS),
        ctx.counters.jvm_mb_after_gc(),
        cpu_s,
    )
    if ok:
        workload.finish(ctx, i, payload)
    return op


def class_medians(
    ops: list[Op], classes: list[set[str]], per_class: int
) -> list[tuple[float, float, float]]:
    """``(rows, seconds, cpu_s)`` medians of each class (a set of
    operation kinds) over the successful ones among its first
    ``per_class`` operations."""
    out = []
    for kinds in classes:
        mine = [o for o in ops if o.kind in kinds][:per_class]
        mine = [o for o in mine if o.ok]
        out.append(
            (
                median([o.rows for o in mine]),
                median([o.seconds for o in mine]),
                median([o.cpu_s for o in mine]),
            )
        )
    return out


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def metric(value: float, unit: str) -> dict[str, Any]:
    return {"value": value, "unit": unit}


def run(workload, spark_factory, seed: int, seconds: float, trace: bool, scratch: str):
    """Set up, warm up, run the timed window and return
    ``(result, record)``: the result line's object and a fuller record
    for the trace file."""
    t0 = time.perf_counter()
    spark = spark_factory()
    session_s = time.perf_counter() - t0
    try:
        return _measure(workload, spark, session_s, seed, seconds, trace, scratch)
    finally:
        spark.stop()
        stop_jvm()


def _measure(workload, spark, session_s, seed, seconds, trace, scratch):
    counters = SparkCounters(spark)
    ctx = Context(spark, seed, scratch, counters, Tracer(counters if trace else None))

    t0 = time.perf_counter()
    workload.build(ctx)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = [_one_op(ctx, workload, i) for i in range(workload.WARMUP_OPS)]
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + build_s + warmup_s

    gc0, steal0 = counters.gc_seconds(), steal_seconds()
    ops: list[Op] = []
    i = workload.WARMUP_OPS
    summary_ops = getattr(workload, "SUMMARY_OPS", 1)
    deadline = time.perf_counter() + seconds
    # past the deadline only until every class has had ``summary_ops``
    while time.perf_counter() < deadline or any(
        sum(o.kind in kinds for o in ops) < summary_ops for kinds in workload.CLASSES
    ):
        ops.append(_one_op(ctx, workload, i))
        i += 1
    window_s = time.perf_counter() - (deadline - seconds)
    gc_s, steal_s = counters.gc_seconds() - gc0, steal_seconds() - steal0
    # before the checks, whose reference queries run in this process
    rss = peak_rss_by_process()
    jvm_mb = max(o.jvm_mb for o in warm + ops)

    for op in warm:
        ctx.expect(op.ok, f"warm-up operation {op.index} failed")
    workload.check(ctx)
    good = [o.seconds for o in ops if o.ok]
    if not good:
        raise RuntimeError("no operation succeeded in the timed window")
    tail, tail_pct, n = percentile_tail(good)
    # the summaries use the same operations in every run: the first
    # ``summary_ops`` of each class. The window's later operations sit
    # further down the JIT warm-up curve, and a faster host fits more of
    # them, which would add the warm-up's slope to the host's speed
    per_class = class_medians(ops, workload.CLASSES, summary_ops)
    rows, secs, cpu = zip(*per_class)
    # each class weighs the same, and every class moves the summaries.
    # The same summaries of wall time, which host CPU steal inflates, go
    # to the record
    wall = {
        "latency_p50_s": metric(geomean(secs), "s"),
        "rows_per_s": metric(sum(rows) / sum(secs), "1/s"),
    }
    metrics = {
        "op_cpu_s": metric(geomean(cpu), "s"),
        "rows_per_cpu_s": metric(sum(rows) / sum(cpu), "1/s"),
        "setup_s": metric(setup_s, "s"),
        # the Python processes' peak resident set; for the JVM, whose
        # resident set follows the collector's heap sizing, the most it
        # kept in use after a collection
        "peak_mem_mb": metric(
            sum(mb for name, mb in rss.items() if name != "java") + jvm_mb, "MB"
        ),
    }
    if trace:
        per_layer = {name: metric(0, unit) for name, unit in PER_LAYER}
        per_layer.update(workload.per_layer(ctx, workload.WARMUP_OPS))
        per_layer.update(
            {
                "jvm.gc_s": metric(gc_s, "s"),
                "host.steal_s": metric(steal_s, "s"),
                "trace.latency_p50_s": wall["latency_p50_s"],
                "trace.op_cpu_s": metrics["op_cpu_s"],
                "trace.job_drift_ops": metric(ctx.tracer.job_drift(), "count"),
            }
        )
        missing = set(per_layer) - {name for name, _ in PER_LAYER}
        if missing:
            raise RuntimeError(f"per-layer metrics not declared: {sorted(missing)}")
        out_metrics = per_layer
    else:
        out_metrics = metrics
    failed = sum(not o.ok for o in ops + warm)
    result = {
        "correct": not ctx.check_failures,
        "attempted": len(ops) + len(warm),
        "failed": failed,
        "metrics": out_metrics,
    }
    record = {
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "window_s": window_s,
        "session_s": session_s,
        "build_s": build_s,
        "warmup_s": warmup_s,
        "gc_s": gc_s,
        "steal_s": steal_s,
        "peak_rss_mb": rss,
        "jvm_mb_after_gc": jvm_mb,
        "tail": {"value": tail, "percentile": tail_pct, "samples": n},
        "class_p50": {
            "/".join(sorted(kinds)): {"seconds": secs, "cpu_s": cpu}
            for kinds, (_, secs, cpu) in zip(workload.CLASSES, per_class)
        },
        "ops": [vars(o) for o in warm + ops],
        "check_failures": ctx.check_failures,
        "end_to_end": metrics,
        "wall": wall,
        "spans": [vars(s) for s in ctx.tracer.spans],
    }
    return result, record


#: Every per-layer metric, as ``(name, unit)``. A traced run prints all
#: of them; a layer the workload never calls reads 0.
PER_LAYER: list[tuple[str, str]] = [
    ("store.plan_s", "s"),
    ("store.plan_jobs", "count"),
    ("joins.exec_s", "s"),
    ("joins.jobs", "count"),
    ("joins.stages", "count"),
    ("joins.tasks", "count"),
    ("joins.shuffle_bytes", "B"),
    *[
        (f"{fmt}_log.{name}", unit)
        for fmt in ("delta", "iceberg")
        for name, unit in [
            ("snapshot_s", "s"),
            ("upsert_s", "s"),
            ("upsert_jobs", "count"),
            ("delete_s", "s"),
            ("delete_jobs", "count"),
            ("commits_per_cycle", "count"),
            ("files_added", "count"),
            ("files_removed", "count"),
            ("bytes_written_per_user_byte", "ratio"),
            ("live_files", "count"),
        ]
    ],
    ("incremental.delta.refresh_s", "s"),
    ("incremental.iceberg.refresh_s", "s"),
    ("incremental.refresh_jobs", "count"),
    ("incremental.refresh_commits", "count"),
    ("incremental.slice_rows", "count"),
    ("incremental.changed_groups_per_slice_row", "ratio"),
    ("dedup.exec_s", "s"),
    ("dedup.jobs", "count"),
    ("dedup.tasks", "count"),
    ("dedup.pairs", "count"),
    ("text_arrow.minhash_docs_per_s", "1/s"),
    ("streaming.start_s", "s"),
    ("streaming.drain_s", "s"),
    ("jvm.gc_s", "s"),
    ("host.steal_s", "s"),
    ("trace.latency_p50_s", "s"),
    ("trace.op_cpu_s", "s"),
    ("trace.job_drift_ops", "count"),
]
