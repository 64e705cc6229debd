"""Per-query trace from Spark's own status stores, read from the
benchmark process.

Stages, jobs and SQL executions are attributed to a query by id
watermarks taken right before and right after its call, which also
catches jobs started by streaming threads and thread pools that do not
inherit job groups. Sources:

- stages: ``AppStatusStore.stageList`` (executor run, CPU and GC time,
  shuffle bytes, spill, input/output bytes, task counts) and
  ``taskSummary`` for task-time quantiles;
- jobs: ``AppStatusStore.jobsList`` (submission/completion times, for
  driver-only time);
- operators: ``SQLAppStatusStore.planGraph`` + ``executionMetrics``;
- streaming: a ``StreamingQueryListener`` registered by the benchmark.

Everything here runs outside the timed spans except the listener
callbacks and the scratch sampler thread, whose cost is what the
traced/untraced pass ratio reports.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_LEAD = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_JOIN = re.compile(r"Join|CartesianProduct")
_PYTHON = re.compile(r"InPandas|ArrowEvalPython|BatchEvalPython|PythonUDTF|InArrow")
_MB = 1024.0**2


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"1,024"`` -> 1024. Size and
    timing metrics carry a ``"total (min, med, max ...)"`` header line
    before the values: ``"...\n1.5 KiB (...)"`` -> 1536,
    ``"...\n2.0 s (...)"`` -> 2.0 (seconds)."""
    m = _LEAD.match((text or "").split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class Tracer:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        dag = self._sc.dagScheduler()
        # py4j hands the AtomicInteger counters back as plain ints
        return (int(dag.nextStageId()), int(dag.nextJobId()),
                self._sql.executionsCount())

    def collect(self, m0, m1, task_quantiles: bool) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        self._stages(m0[0], m1[0], task_quantiles, out)
        self._jobs(m0[1], m1[1], out)
        self._operators(m0[2], m1[2], out)
        return out

    def _stages(self, s0, s1, task_quantiles, out):
        if s1 <= s0:
            return
        empty = self._gw.new_array(self._jvm.double, 0)
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        seq = self._store.stageList(None, False, False, empty, None)
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if not s0 <= sid < s1:
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += s.diskBytesSpilled() / _MB
            out["input_mb"] += s.inputBytes() / _MB
            out["output_mb"] += s.outputBytes() / _MB
            if task_quantiles and s.numCompleteTasks() > 0:
                summ = self._store.taskSummary(sid, s.attemptId(), q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0) / 1000.0, rt.apply(1) / 1000.0
                    out["max_task_s"] = max(out["max_task_s"], mx)
                    if med > 0:
                        out["task_skew"] = max(out["task_skew"], mx / med)

    def _jobs(self, j0, j1, out):
        if j1 <= j0:
            return
        seq = self._store.jobsList(None)
        spans = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if not j0 <= j.jobId() < j1:
                continue
            out["jobs"] += 1
            a, b = _ms(j.submissionTime()), _ms(j.completionTime())
            if a is not None and b is not None:
                spans.append((a, b))
        out["job_span_s"] = _union_s(spans)

    def _operators(self, e0, e1, out):
        if e1 <= e0:
            return
        execs = self._sql.executionsList(e0, e1 - e0)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name == "Generate":
                    key = {"number of output rows": "generate_rows"}
                elif _JOIN.search(name):
                    key = {"number of output rows": "join_rows"}
                elif _PYTHON.search(name):
                    key = {"data sent to Python workers": "arrow_sent_mb",
                           "data returned from Python workers": "arrow_recv_mb"}
                else:
                    continue
                ms = node.metrics()
                for x in range(ms.size()):
                    metric = ms.apply(x)
                    field = key.get(metric.name())
                    if field is None:
                        continue
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        val = parse_metric(v.get())
                        out[field] += val / _MB if field.endswith("_mb") else val


def streaming_listener():
    """A ``StreamingQueryListener`` that totals micro-batches, their
    addBatch/walCommit/queryPlanning time and each query's largest
    state."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.reset()

        def reset(self):
            self.batches = 0
            self.dur: dict[str, float] = defaultdict(float)
            self.state: dict[str, tuple[int, int]] = {}

        def snapshot(self) -> dict[str, float]:
            with self.lock:
                return {
                    "batches": float(self.batches),
                    "add_batch_s": self.dur["addBatch"] / 1000.0,
                    "wal_commit_s": self.dur["walCommit"] / 1000.0,
                    "planning_s": self.dur["queryPlanning"] / 1000.0,
                    "state_rows": float(sum(r for r, _ in self.state.values())),
                    "state_mb": sum(b for _, b in self.state.values()) / _MB,
                }

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.batches += 1
                for k, v in (p.durationMs or {}).items():
                    self.dur[k] += v
                rows = sum(so.numRowsTotal for so in p.stateOperators)
                mem = sum(so.memoryUsedBytes for so in p.stateOperators)
                r0, b0 = self.state.get(str(p.id), (0, 0))
                self.state[str(p.id)] = (max(r0, rows), max(b0, mem))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


class DirSampler(threading.Thread):
    """Samples the total file size under ``root`` every ``period`` s and
    keeps the peak."""

    def __init__(self, root: str, period: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.peak = 0
        self._stop_event = threading.Event()

    def _size(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
        return total

    def run(self):
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self._size())
            self._stop_event.wait(self.period)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak / _MB


def jvm_peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def wait_quiet(listener, timeout: float = 2.0) -> None:
    """Listener events arrive asynchronously; wait until the batch count
    stops moving (or ``timeout``)."""
    deadline = time.monotonic() + timeout
    last = -1
    while time.monotonic() < deadline:
        n = listener.batches
        if n == last:
            return
        last = n
        time.sleep(0.25)
