"""Spans, Spark job counters, process memory and CPU time for the benchmark.

``Tracer`` records a span around each call the benchmark makes into a
library layer: name, start, end, parent span and operation id.  Spans
stay in memory until ``dump``.  Each span tags the Spark jobs it
submits with ``SparkContext.setJobGroup``; after an operation,
``collect_op`` reads those jobs' stage counters from the live status
store over py4j (no listener jar, works with the UI off).  Jobs that
run under a foreign group (a streaming query sets its own) go to the
innermost span that was open when they were submitted.

With tracing off every method is a cheap no-op, so the same workload
code runs in both modes.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

#: Spark job counters kept per span, with their units
COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "task_wait_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
}
_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._last_job = -1
        self.op_id = -1
        self.log_sink = LineCounter()
        #: time spent in the tracer itself inside operations (py4j calls)
        self.self_s = 0.0

    def bind(self, spark) -> None:
        """Attach to a (new) session; earlier jobs are not attributed."""
        self._sc = spark.sparkContext
        self._last_job = _max_job_id(self._sc)
        self._counted_stages: set[int] = set()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
            "counters": dict.fromkeys(COUNTERS, 0.0),
            "input_records": 0,
            "input_bytes": 0,
            "output_records": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        t0 = time.perf_counter()
        if self._sc is not None:
            self._sc.setJobGroup(f"perfbench-{rec['id']}", name)
        self.self_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.self_s += time.perf_counter() - t0

    def note(self, key: str, value) -> None:
        """Attach a value to the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1][key] = value

    def storage_mb(self, spark) -> float:
        """Memory + disk held by cached blocks right now (traced only)."""
        if not self.enabled:
            return 0.0
        t0 = time.perf_counter()
        rdds = spark.sparkContext._jsc.sc().statusStore().rddList(True)
        total = 0
        for i in range(rdds.size()):
            r = rdds.apply(i)
            total += r.memoryUsed() + r.diskUsed()
        self.self_s += time.perf_counter() - t0
        return total / _MB

    def collect_op(self) -> None:
        """Attribute the jobs submitted since the last call to spans."""
        if not self.enabled or self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {f"perfbench-{s['id']}": s for s in self.spans}
        open_spans = [s for s in self.spans if s["op"] == self.op_id]
        listed = store.jobsList(None)
        jobs = sorted(
            ((job.jobId(), job) for job in map(listed.apply, range(listed.size()))),
            key=lambda pair: pair[0],
        )
        newest = self._last_job
        for jid, job in jobs:  # oldest first: the job that ran a stage
            if jid <= self._last_job:
                continue
            newest = jid
            group = job.jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            if span is None:
                span = _innermost_at(open_spans, _job_time(job))
            if span is None:
                continue
            span["counters"]["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                # a later job lists the stages whose shuffle output it
                # reuses; count each stage once, for the job that ran it
                stage_id = stage_ids.apply(k)
                if stage_id not in self._counted_stages:
                    self._counted_stages.add(stage_id)
                    _add_stage(span, store, stage_id)
        self._last_job = newest

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        children = [s for s in self.spans if s["parent"] == span["id"]]
        covered = sum(c["end"] - c["start"] for c in children)
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _max_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    newest = -1
    for i in range(jobs.size()):
        newest = max(newest, jobs.apply(i).jobId())
    return newest


def _job_time(job) -> float | None:
    sub = job.submissionTime()
    return sub.get().getTime() / 1000.0 if sub.isDefined() else None


def _innermost_at(spans: list[dict], t: float | None) -> dict | None:
    if t is None:
        return None
    best = None
    for s in spans:
        end = s["end"] if s["end"] is not None else float("inf")
        if s["start"] - 0.002 <= t <= end + 0.002:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def _add_stage(span: dict, store, stage_id: int) -> None:
    try:
        st = store.lastStageAttempt(stage_id)
    except Exception:  # stage evicted from the store or never ran
        return
    c = span["counters"]
    tasks = st.numCompleteTasks()
    if tasks == 0:  # skipped stage: reused shuffle output
        return
    run_s = st.executorRunTime() / 1000.0
    cpu_s = st.executorCpuTime() / 1e9
    c["tasks"] += tasks
    c["executor_run_s"] += run_s
    c["executor_cpu_s"] += cpu_s
    c["task_wait_s"] += max(0.0, run_s - cpu_s)
    c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
    c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
    c["gc_s"] += st.jvmGcTime() / 1000.0
    span["input_records"] += st.inputRecords()
    span["output_records"] += st.outputRecords()
    span["input_bytes"] += st.inputBytes()


def shuffle_write_bytes(spark) -> int:
    """Shuffle bytes the session's executors have written so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(False)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


class LineCounter:
    """A write-only text stream that counts the lines written to it."""

    def __init__(self) -> None:
        self.lines = 0

    def write(self, text: str) -> int:
        self.lines += text.count("\n")
        return len(text)

    def flush(self) -> None:
        pass


# ---------------------------------------------------------------------------
# processes: memory and CPU time
# ---------------------------------------------------------------------------


def _field_kb(path: str, key: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Child processes of ``pid``, recursively (any thread's children)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = []
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
        out.extend(kids)
        todo.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM, the JVM's
    descendants and the children they have reaped."""
    own = os.times()
    ticks = 0
    for p in [jvm_pid, *descendants(jvm_pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return own.user + own.system + ticks / _TICK


def host_cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _is_python(pid: int) -> bool:
    """Whether ``pid`` runs Python.  The JVM also forks short-lived
    copies of itself to run shell commands; until they exec, they share
    the JVM's pages, and one sample with such a copy read 1.7 GB."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class MemorySampler:
    """Peak resident memory of the JVM plus its Python worker processes.

    The JVM's own peak is its ``VmHWM``.  Worker processes come and go,
    and forked workers share most of their pages with the daemon, so a
    thread samples the sum of their proportional set sizes (``Pss``)
    every ``interval`` seconds and keeps the largest sum.
    """

    def __init__(self, jvm_pid: int, interval: float = 0.5) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kb = sum(_field_kb(f"/proc/{p}/smaps_rollup", "Pss:")
                 for p in descendants(self.jvm_pid) if _is_python(p))
        self.workers_peak_kb = max(self.workers_peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> dict:
        """Stop sampling; returns the peaks in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        jvm_mb = _field_kb(f"/proc/{self.jvm_pid}/status", "VmHWM:") / 1024.0
        workers_mb = self.workers_peak_kb / 1024.0
        return {"jvm_mb": jvm_mb, "workers_mb": workers_mb,
                "total_mb": jvm_mb + workers_mb}

