"""Per-op Spark counters read from the driver's status stores.

Two stores are read over py4j, with the UI disabled:

- the core status store (``statusStore().lastStageAttempt`` per stage,
  and its task summary for the skew of the longest stage);
- the SQL status store (``executionMetrics``), for the Python-worker
  boundary metrics of MapInPandas and the other Python plan nodes.

An op's jobs are those with an id above the mark taken before the op.
Each op also runs under its own job group, but a streaming query's
micro-batch jobs run on the stream thread and do not inherit it, so the
group alone would miss them.
"""

from __future__ import annotations

import re

_PY_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE_RE = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")



def _job_id(job) -> int:
    return job.jobId()


def _exec_id(execution) -> int:
    return execution.executionId()


COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.shuffle_bytes", "spark.task_skew",
    *_PY_METRICS.values(),
)


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric such as
    ``'total (min, med, max ...)\\n7.3 s (1.8 s, ...)'`` or ``'7.3 s'``."""
    m = _VALUE_RE.search(text.rsplit("\n", 1)[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _newest_first(seq, key) -> bool:
    n = seq.size()
    return n > 1 and key(seq.apply(0)) > key(seq.apply(n - 1))


def _newest_id(seq, key) -> int:
    n = seq.size()
    if n == 0:
        return -1
    return key(seq.apply(0 if _newest_first(seq, key) else n - 1))


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._sc = sc
        self._core = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    @staticmethod
    def _newest(seq, mark: int, key) -> list:
        """Items of a store list whose id is above ``mark``, read from the
        newest end (the core store lists jobs newest first, the SQL store
        lists executions oldest first) so the cost follows the op, not
        the store's size."""
        n = seq.size()
        indices = range(n) if _newest_first(seq, key) else range(n - 1, -1, -1)
        out = []
        for i in indices:
            item = seq.apply(i)
            if key(item) <= mark:
                break
            out.append(item)
        return out

    def mark(self, group: str) -> tuple[int, int]:
        """The newest job and SQL execution ids; ``group`` becomes the
        job group of what runs next."""
        self._drain()
        self._sc.setJobGroup(group, group)
        return (
            _newest_id(self._core.jobsList(None), _job_id),
            _newest_id(self._sql.executionsList(), _exec_id),
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Counters of every job and SQL execution started after ``mark``."""
        self._drain()
        self._sc.setJobGroup("", "")
        out = dict.fromkeys(COUNTERS, 0.0)
        jobs = self._newest(self._core.jobsList(None), mark[0], _job_id)
        out["spark.jobs"] = len(jobs)
        longest = None
        for job in jobs:
            sids = job.stageIds()
            for k in range(sids.size()):
                sd = self._core.lastStageAttempt(sids.apply(k))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                run_s = sd.executorRunTime() / 1e3
                out["spark.executor_run_s"] += run_s
                out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.shuffle_bytes"] += sd.shuffleWriteBytes()
                if longest is None or run_s > longest[0]:
                    longest = (run_s, sd.stageId(), sd.attemptId())
        if longest is not None:
            out["spark.task_skew"] = self._skew(longest[1], longest[2])
        execs = self._newest(self._sql.executionsList(), mark[1], _exec_id)
        for ex in execs:
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                name = _PY_METRICS.get(m.name())
                if name and values.contains(m.accumulatorId()):
                    out[name] += _metric_total(values.apply(m.accumulatorId()))
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        """Max / median task run time of one stage."""
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._core.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def jvm_rss_peak_mb(self) -> float:
        return rss_peak_mb(self._jvm.ProcessHandle.current().pid())


def reset_rss_peak() -> None:
    """Reset this process's VmHWM to its current RSS."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def rss_peak_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
