"""Per-call Spark counters, read from outside the package.

``SparkTrace.measure(label, fn)`` runs one public call inside its own
job group, then reads every job, stage and SQL execution that the call
started from Spark's status stores (both are populated with
``spark.ui.enabled=false``). Calls run one at a time (closed loop), so
"started by this call" is "id above the watermark taken before it",
which also catches the jobs a streaming trigger runs on its own thread.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A SQL metric as the status store formats it ("1.2 s", "59.0 B",
    "100,000", or "total (min, med, max ...)\\n9.5 s (...)") → seconds,
    bytes or a count."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _epoch_s(opt) -> float | None:
    """scala.Option[java.util.Date] → epoch seconds (None if empty)."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


@dataclass
class CallTrace:
    """Counters of one traced call. Times in seconds, sizes in bytes."""

    label: str
    wall_s: float
    plan_s: float = 0.0
    stage_union_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    task_skew: float = 0.0
    shuffle_bytes: float = 0.0
    input_bytes: float = 0.0
    spill_bytes: float = 0.0
    py_worker_s: float = 0.0
    arrow_to_py_bytes: float = 0.0
    arrow_from_py_bytes: float = 0.0
    max_join_rows: float = 0.0
    read_s: float = 0.0  # cost of reading the stores, outside wall_s

    @property
    def gap_s(self) -> float:
        """Driver time between and after jobs: wall − plan − stage union."""
        return max(self.wall_s - self.plan_s - self.stage_union_s, 0.0)

    @property
    def task_wall_factor(self) -> float:
        """Wall seconds per task second while stages ran (≈ 1/parallelism)."""
        if self.executor_run_s <= 0:
            return 0.0
        return self.stage_union_s / self.executor_run_s


@dataclass
class SparkTrace:
    spark: object
    calls: list[CallTrace] = field(default_factory=list)

    def __post_init__(self):
        self._store = self.spark.sparkContext._jsc.sc().statusStore()
        self._sql = self.spark._jsparkSession.sharedState().statusStore()

    def _watermarks(self) -> tuple[int, int]:
        jobs = _seq(self._store.jobsList(None))
        execs = _seq(self._sql.executionsList())
        return (
            max((j.jobId() for j in jobs), default=-1),
            max((e.executionId() for e in execs), default=-1),
        )

    def measure(self, label: str, fn):
        """Run ``fn()`` in job group ``label`` and record its counters.
        Returns fn's result."""
        sc = self.spark.sparkContext
        job_mark, exec_mark = self._watermarks()
        sc.setJobGroup(label, label)
        try:
            t0 = time.time()
            out = fn()
            t1 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        r0 = time.perf_counter()
        # the stores fill from the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        call = self._read(label, t0, t1, job_mark, exec_mark)
        call.read_s = time.perf_counter() - r0
        self.calls.append(call)
        return out

    def _read(self, label, t0, t1, job_mark, exec_mark) -> CallTrace:
        call = CallTrace(label=label, wall_s=t1 - t0)
        jobs = [j for j in _seq(self._store.jobsList(None)) if j.jobId() > job_mark]
        call.jobs = len(jobs)
        first_submit = min(
            (s for s in (_epoch_s(j.submissionTime()) for j in jobs) if s is not None), default=None
        )
        if first_submit is not None:
            call.plan_s = min(max(first_submit - t0, 0.0), call.wall_s)
        intervals = []
        widest = (0, [])
        seen = set()
        for j in jobs:
            for sid in _seq(j.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                start, end = _epoch_s(st.submissionTime()), _epoch_s(st.completionTime())
                if start is None or end is None:
                    continue  # skipped stage (its shuffle output was reused)
                call.stages += 1
                call.tasks += st.numTasks()
                intervals.append((max(start, t0), min(end, t1)))
                call.executor_run_s += st.executorRunTime() / 1000.0
                call.shuffle_bytes += st.shuffleWriteBytes()
                call.input_bytes += st.inputBytes()
                call.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.numTasks() > widest[0]:
                    widest = (st.numTasks(), (sid, st.attemptId()))
        call.stage_union_s = min(_union(intervals), call.wall_s - call.plan_s)
        if widest[0] > 1:
            sid, att = widest[1]
            durs = sorted(t.duration().get() for t in _seq(self._store.taskList(sid, att, widest[0]))
                          if t.duration().isDefined())
            if durs and durs[len(durs) // 2] > 0:
                call.task_skew = durs[-1] / durs[len(durs) // 2]
        for e in _seq(self._sql.executionsList()):
            if e.executionId() > exec_mark:
                self._read_sql(call, e.executionId())
        return call

    def _read_sql(self, call: CallTrace, exec_id: int) -> None:
        values = self._sql.executionMetrics(exec_id)
        for node in _seq(self._sql.planGraph(exec_id).allNodes()):
            name = node.name()
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                metric = m.name()
                if metric == "time to run Python workers":
                    call.py_worker_s += parse_metric(v.get())
                elif metric == "data sent to Python workers":
                    call.arrow_to_py_bytes += parse_metric(v.get())
                elif metric == "data returned from Python workers":
                    call.arrow_from_py_bytes += parse_metric(v.get())
                elif metric == "number of output rows" and "Join" in name:
                    call.max_join_rows = max(call.max_join_rows, parse_metric(v.get()))


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_rows(call: CallTrace, layer: str, kernels: dict[str, float] | None = None) -> list:
    """Split one call's wall time into named rows that add up to it.

    Python-worker time and in-process kernel times are task seconds;
    they enter the wall at ``call.task_wall_factor``. Kernel rows are
    scaled down together if they exceed the Python-worker time.
    ``unattributed`` is what is left: JVM stage work (scan, shuffle,
    codegen) plus anything the stores cannot name."""
    c = call.task_wall_factor
    py_wall = min(call.py_worker_s * c, call.stage_union_s)
    kernels = dict(kernels or {})
    k_total = sum(kernels.values()) * c
    scale = min(1.0, py_wall / k_total) if k_total > 0 else 0.0
    rows = [("spark.plan_s", call.plan_s), ("spark.gap_s", call.gap_s)]
    rows += [(name, v * c * scale) for name, v in kernels.items()]
    rows.append((f"{layer}.py_worker_wall_s", py_wall - k_total * scale))
    rows.append(("unattributed", call.wall_s - sum(v for _, v in rows)))
    return rows
