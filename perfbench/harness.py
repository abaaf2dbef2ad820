"""Closed-loop timing, optional per-layer tracing and result aggregation.

One client issues one operation at a time and waits for it (closed
loop). :meth:`Run.op` times each call into a layer's public function
from outside the engine. With tracing on it also sets the Spark job
group ``<workload>/<layer>`` around the call and, afterwards, reads the
jobs, stages and tasks the call launched from ``statusTracker()``, the
stage byte and run-time metrics from the status store, and driver,
JVM and Python-worker CPU from ``/proc``. The engine itself is not
instrumented.

Every figure is reduced per operation *kind* (a kind is one named
operation, such as one registry query or one commit type): a latency
or count is the median over that kind's samples, and a workload total
is the sum of those medians over kinds, i.e. the cost of one pass that
runs each kind once. Totals therefore do not depend on how many passes
fit into the timed window.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback

# statusStore stage fields summed per operation: (StageData getter, unit scale)
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
}
CLK_TCK = os.sysconf("SC_CLK_TCK")
_T0 = time.perf_counter()


def log(what: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench: {time.perf_counter() - _T0:7.2f}s {what}", file=sys.stderr, flush=True)


def _proc_stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / CLK_TCK
    reaped = (int(fields[13]) + int(fields[14])) / CLK_TCK
    return comm, ppid, own, reaped


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(st[1], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcessMeter:
    """CPU and memory of the driver, the JVM and the JVM's descendants."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.seen_workers: set[int] = set()

    def jvm_cpu_s(self) -> float:
        st = _proc_stat(self.jvm_pid)
        return st[2] if st else 0.0

    def worker_cpu_s(self) -> float:
        """CPU of processes the JVM started (Python workers, the worker
        daemon and the processes it forked), including exited ones:
        an exited child's CPU is in its parent's reaped-children time."""
        st = _proc_stat(self.jvm_pid)
        total = st[3] if st else 0.0
        for pid in _descendants(self.jvm_pid):
            d = _proc_stat(pid)
            if d is None:
                continue
            total += d[2] + d[3]
            if "python" in d[0]:
                self.seen_workers.add(pid)
        return total

    def peak_rss_mb(self) -> float:
        """Sum of per-process peak RSS (VmHWM) of the driver, the JVM and
        the JVM's live descendants."""
        pids = [os.getpid(), self.jvm_pid] + _descendants(self.jvm_pid)
        return sum(_vm_hwm_mb(p) for p in pids)


class Run:
    """State of one benchmark run: samples, failures and the tracer."""

    def __init__(self, workload: str, spark, trace: bool, jvm_pid: int):
        self.workload = workload
        self.spark = spark
        self.trace = trace
        self.meter = ProcessMeter(jvm_pid)
        self.phase = "setup"
        self.samples: dict[str, list[dict]] = {}
        self.attempted = 0
        self.failures: list[dict] = []
        self.trace_overhead_s = 0.0
        self.timed_wall_s = 0.0
        self.peak_rss_mb = 0.0
        self._seen_op_jobs: set[int] = set()
        self._seen_span_jobs: set[int] = set()
        self._sample: dict = {}
        self._op_groups: set[str] = set()
        self._op_layer = ""

    # -- one operation -------------------------------------------------

    def op(self, kind: str, layer: str, fn, check=None, sample: bool = True):
        """Run ``fn()`` as one closed-loop operation and return its result,
        or None if it raised.

        ``check(result)`` returning a message marks the result wrong; a
        raised exception marks the operation failed. Both count against
        the run and are recorded by kind and phase, warmup included.
        ``sample=False`` marks a helper step the measured operations
        depend on: it is counted and checked but never a timed sample."""
        self.attempted += 1
        self._sample = {}
        self._op_groups = {self._group(layer)}
        self._op_layer = layer
        before = self._counters_before(layer) if self.trace else None
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # a failed operation is a recorded result
            traceback.print_exc(limit=6)
            self.failures.append({"kind": kind, "phase": self.phase, "error": f"{type(e).__name__}: {e}"[:500]})
            return None
        finally:
            self._sample["wall_s"] = time.perf_counter() - t0
            if self.trace:
                self._sample.update(self._counters_after(self._op_groups, before, self._seen_op_jobs))
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if check is not None:
            msg = check(result)
            if msg:
                self.failures.append({"kind": kind, "phase": self.phase, "error": f"wrong result: {msg}"})
        if self.phase == "timed" and sample:
            self.samples.setdefault(kind, []).append(self._sample)
        return result

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time one layer's call inside an operation; the figures land in
        the operation's sample as ``<layer>:<field>``."""
        before = self._counters_before(layer) if self.trace else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._sample[f"{layer}:wall_s"] = time.perf_counter() - t0
            if self.trace:
                self._op_groups.add(self._group(layer))
                got = self._counters_after({self._group(layer)}, before, self._seen_span_jobs)
                self._sample.update({f"{layer}:{k}": v for k, v in got.items()})
                self.spark.sparkContext.setJobGroup(self._group(self._op_layer), "")

    def include_group(self, group: str) -> None:
        """Count the jobs of Spark job group ``group`` in the current
        operation, for jobs run on a thread whose group the tracer cannot
        set (a streaming query's micro-batches run in group ``runId``)."""
        self._op_groups.add(group)

    def annotate(self, field: str, value: float) -> None:
        """Add a figure measured outside the last operation to its sample."""
        self._sample[field] = value

    def record_failure(self, kind: str, error: str) -> None:
        """A wrong result found after its operation returned."""
        self.failures.append({"kind": kind, "phase": "check", "error": error})

    # -- tracing ---------------------------------------------------------

    def _group(self, layer: str) -> str:
        return f"{self.workload}/{layer}"

    def _counters_before(self, layer: str) -> dict:
        t = time.perf_counter()
        self.spark.sparkContext.setJobGroup(self._group(layer), layer)
        c = {
            "driver_cpu": time.process_time(),
            "jvm_cpu": self.meter.jvm_cpu_s(),
            "worker_cpu": self.meter.worker_cpu_s(),
        }
        self.trace_overhead_s += time.perf_counter() - t
        return c

    def _counters_after(self, groups: set[str], before: dict, seen: set[int]) -> dict:
        """Counters since ``before`` for the jobs of job groups ``groups``
        not yet in ``seen``."""
        t = time.perf_counter()
        out = {
            "driver_cpu_s": time.process_time() - before["driver_cpu"],
            "jvm_cpu_s": self.meter.jvm_cpu_s() - before["jvm_cpu"],
            "worker_cpu_s": self.meter.worker_cpu_s() - before["worker_cpu"],
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
        }
        out.update({k: 0.0 for k in STAGE_FIELDS})
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = {j for g in groups for j in tracker.getJobIdsForGroup(g) if j not in seen}
        seen.update(jobs)
        out["jobs"] = len(jobs)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        if stage_ids:
            store = sc._jsc.sc().statusStore()
            no_tasks = sc._jvm.java.util.Collections.emptyList()
            no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
            for sid in stage_ids:
                it = store.stageData(sid, False, no_tasks, False, no_quantiles).iterator()
                while it.hasNext():
                    sd = it.next()
                    # a skipped stage (reused shuffle output) never ran
                    if sd.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    for k, (getter, scale) in STAGE_FIELDS.items():
                        out[k] += getattr(sd, getter)() * scale
        self.trace_overhead_s += time.perf_counter() - t
        return out

    # -- reduction -------------------------------------------------------

    def median(self, kind: str, field: str = "wall_s") -> float:
        vals = [s[field] for s in self.samples.get(kind, []) if field in s]
        return statistics.median(vals) if vals else 0.0

    def per_pass(self, field: str, kinds=None) -> float:
        """Sum over kinds of each kind's median ``field``."""
        kinds = self.samples if kinds is None else kinds
        return sum(self.median(k, field) for k in kinds if k in self.samples)

    def end_to_end(self, query_kinds: list[str], setup_s: float) -> dict:
        """``ops_per_s``: operations per second of a pass that runs each
        kind once; ``query_geomean_s``: geometric mean over query kinds
        of each kind's median latency."""
        per_pass = self.per_pass("wall_s")
        qmed = [self.median(k) for k in query_kinds if k in self.samples]
        geo = math.exp(statistics.fmean(math.log(v) for v in qmed)) if qmed else 0.0
        return {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(self.samples) / per_pass if per_pass else 0.0, "1/s"),
            "query_geomean_s": (geo, "s"),
        }

    def spark_layer(self) -> dict:
        """``spark.*``, ``python_worker.*``, ``driver.*`` per pass."""
        out = {
            "spark.jobs": (self.per_pass("jobs"), "count"),
            "spark.stages": (self.per_pass("stages"), "count"),
            "spark.tasks": (self.per_pass("tasks"), "count"),
        }
        for k in STAGE_FIELDS:
            out[f"spark.{k}"] = (self.per_pass(k), "s" if k.endswith("_s") else "bytes")
        out["python_worker.cpu_s"] = (self.per_pass("worker_cpu_s"), "s")
        out["python_worker.spawned"] = (float(len(self.meter.seen_workers)), "count")
        drv = self.per_pass("driver_cpu_s")
        out["driver.cpu_s"] = (drv, "s")
        out["driver.wait_s"] = (max(self.per_pass("wall_s") - drv, 0.0), "s")
        out["driver.jvm_cpu_s"] = (self.per_pass("jvm_cpu_s"), "s")
        out["process.peak_rss_mb"] = (self.peak_rss_mb, "MB")
        share = self.trace_overhead_s / self.timed_wall_s if self.timed_wall_s else 0.0
        out["trace.overhead_share"] = (share, "ratio")
        return out


def timed_loop(run: Run, passes, seconds: float, kinds: list[str]) -> None:
    """Run whole passes until ``seconds`` have elapsed and each of
    ``kinds`` has a timed sample (or four times ``seconds`` have elapsed,
    so a kind that always fails cannot hold the run). ``passes`` yields
    lists of zero-arg callables, each issuing one ``run.op``."""
    run.phase = "timed"
    t0 = time.perf_counter()
    for ops in passes:
        for step in ops:
            step()
        run.timed_wall_s = time.perf_counter() - t0
        if run.timed_wall_s >= 4 * seconds or (
            run.timed_wall_s >= seconds and all(k in run.samples for k in kinds)
        ):
            break
    run.phase = "check"
    run.peak_rss_mb = run.meter.peak_rss_mb()
