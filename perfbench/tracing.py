"""Per-layer counters read from Spark's own bookkeeping.

Every read happens right after the traced call returns, once the listener
bus has delivered that call's events: the status stores keep only the last
1000 jobs, stages and SQL executions (``spark.ui.retained*``), fewer than a
pass issues. The stores are filled with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import re

from pyspark.sql.streaming import StreamingQueryListener

# SQL metrics of the Python-evaluating plan nodes (MapInPandas,
# FlatMapGroupsInPandas and the other Arrow nodes), by metric name.
PYTHON_METRICS = {
    "time to run Python workers": "operators.python_run_ms",
    "time to start Python workers": "operators.python_start_ms",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_returned",
}

_UNITS = {
    "ms": 1.0,
    "s": 1000.0,
    "m": 60_000.0,
    "h": 3_600_000.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in ms or bytes.

    A metric updated by one task reads ``"141 ms"``; one updated by several
    reads ``"total (min, med, max ...)\\n1.5 s (10 ms, ...)"``, whose total
    is the first value on the last line.
    """
    m = _VALUE_RE.search(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    """Reads job, stage, task and SQL-metric totals of finished work."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self._sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_execution = self._latest_execution_id()

    def settle(self) -> None:
        """Wait until every posted event reached the stores and listeners."""
        self._bus.waitUntilEmpty(60_000)

    def group_jobs(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids) -> dict[str, float]:
        """Stage, task, executor-time and byte totals of finished jobs.

        A stage shared by several jobs is counted once; a skipped stage,
        whose output an earlier stage already wrote, not at all.
        """
        stage_ids = set()
        for jid in job_ids:
            stage_ids.update(int(s) for s in _seq(self._store.job(jid).stageIds()))
        out = {
            "stages": 0.0,
            "tasks": 0.0,
            "executor_run_ms": 0.0,
            "input_bytes": 0.0,
            "shuffle_read_bytes": 0.0,
            "shuffle_write_bytes": 0.0,
        }
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            )
            done = [a for a in _seq(attempts) if a.status().toString() == "COMPLETE"]
            if not done:
                continue
            out["stages"] += 1
            for a in done:
                out["tasks"] += a.numCompleteTasks()
                out["executor_run_ms"] += a.executorRunTime()
                out["input_bytes"] += a.inputBytes()
                out["shuffle_read_bytes"] += a.shuffleReadBytes()
                out["shuffle_write_bytes"] += a.shuffleWriteBytes()
        out["jobs"] = float(len(job_ids))
        return out

    def _latest_execution_id(self) -> int:
        count = self._sql.executionsCount()
        if count == 0:
            return -1
        return _seq(self._sql.executionsList(int(count) - 1, 1))[0].executionId()

    def python_metrics(self) -> dict[str, float]:
        """Python-worker SQL metrics of the executions since the last call."""
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        count = int(self._sql.executionsCount())
        # The list is ordered by id; widen the window from its end until it
        # reaches an execution already seen.
        size = 64
        while True:
            window = _seq(self._sql.executionsList(max(0, count - size), size))
            if size >= count or not window or window[0].executionId() <= self._last_execution:
                break
            size *= 4
        fresh = [e for e in window if e.executionId() > self._last_execution]
        for e in fresh:
            # One call for the plan's metric list, parsed here: a call per
            # metric costs more than the traced queries themselves.
            listing = e.metrics().toString()
            wanted = {
                int(m.group(1)): key
                for name, key in PYTHON_METRICS.items()
                for m in re.finditer(rf"SQLPlanMetric\({re.escape(name)},(\d+),", listing)
            }
            if not wanted:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for acc, key in wanted.items():
                text = values.get(acc)
                if text.isDefined():
                    out[key] += parse_metric(text.get())
        if fresh:
            self._last_execution = max(e.executionId() for e in fresh)
        return out


class ProgressLog(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` and the run id of each started
    query. ``query.recentProgress`` is a bounded ring that can drop the
    first batches of a long drain; the listener sees all of them."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def of_run(self, run_id: str) -> list:
        return [p for p in self.progress if str(p.runId) == run_id]
