"""Layer numbers read from Spark's own status stores.

The application status store (``SparkContext.statusStore``) keeps stage and
task data and the SQL status store (``SharedState.statusStore``) keeps the
executed plans and their metrics; both are filled by listeners that run with
the UI off. A ``Window`` marks the newest stage and SQL execution before an
action so the stages and executions of that action can be read afterwards.
"""

from __future__ import annotations

import re
import statistics

from pyspark.sql import SparkSession

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Stores:
    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listeners have seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def window(self) -> "Window":
        self.drain()
        return Window(self, self._last_stage_id(), self._last_job_id(),
                      self._sql.executionsCount())

    def _stages(self):
        # newest first
        return self._app.stageList(None, False, False, self._no_quantiles, None)

    def _last_stage_id(self) -> int:
        seq = self._stages()
        return seq.apply(0).stageId() if seq.size() else -1

    def _jobs(self):
        # newest first
        return self._app.jobsList(None)

    def _last_job_id(self) -> int:
        seq = self._jobs()
        return seq.apply(0).jobId() if seq.size() else -1

    def jobs_after(self, job_id: int) -> int:
        seq, n = self._jobs(), 0
        while n < seq.size() and seq.apply(n).jobId() > job_id:
            n += 1
        return n

    def stages_after(self, stage_id: int) -> list:
        seq, out = self._stages(), []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= stage_id:
                break
            if s.status().toString() == "COMPLETE":
                out.append(s)
        return out

    def task_skew(self, stage) -> float:
        """Slowest task over the median task of one stage (1.0 = even)."""
        tasks = self._app.taskList(stage.stageId(), stage.attemptId(), 100_000)
        d = [tasks.apply(i).duration().get() for i in range(tasks.size())]
        med = statistics.median(d) if d else 0
        return max(d) / med if med else 1.0

    def execution_stages(self, execution) -> list:
        """Completed stages of the jobs one SQL execution ran."""
        ids, it = set(), execution.jobs().keysIterator()
        while it.hasNext():
            seq = self._app.job(it.next()).stageIds()
            ids.update(seq.apply(i) for i in range(seq.size()))
        low = min(ids, default=0) - 1
        return [s for s in self.stages_after(low) if s.stageId() in ids]

    def executions_from(self, count: int) -> list:
        seq = self._sql.executionsList()
        return [seq.apply(i) for i in range(count, seq.size())]

    def plan_bytes(self, execution_id: int, node_prefix: str, metric: str) -> float:
        """Sum of one size metric over the plan nodes whose name starts with
        ``node_prefix`` (e.g. "data size" of "BroadcastExchange")."""
        graph = self._sql.planGraph(execution_id).allNodes()
        values = self._sql.executionMetrics(execution_id)
        total = 0.0
        for i in range(graph.size()):
            node = graph.apply(i)
            if not node.name().startswith(node_prefix):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == metric and values.contains(m.accumulatorId()):
                    total += _parse_size(values.apply(m.accumulatorId()))
        return total


def _parse_size(text: str) -> float:
    # driver-side size metrics render as e.g. "1.5 MiB"; take the first value
    m = re.search(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class Window:
    def __init__(self, stores: Stores, stage_id: int, job_id: int, executions: int):
        self.stores, self.stage_id, self.job_id = stores, stage_id, job_id
        self.executions = executions

    def stages(self) -> list:
        self.stores.drain()
        return self.stores.stages_after(self.stage_id)

    def jobs(self) -> int:
        self.stores.drain()
        return self.stores.jobs_after(self.job_id)

    def executions_list(self) -> list:
        self.stores.drain()
        return self.stores.executions_from(self.executions)


def stage_sums(stages: list) -> dict[str, float]:
    keys = ("numTasks", "inputBytes", "inputRecords", "outputBytes", "outputRecords",
            "shuffleWriteBytes", "shuffleWriteRecords", "shuffleReadBytes",
            "diskBytesSpilled", "executorRunTime", "jvmGcTime")
    return {k: float(sum(getattr(s, k)() for s in stages)) for k in keys}


def shuffle_reader(stages: list):
    """The stage that read the most shuffle data (the exchange's consumer)."""
    readers = [s for s in stages if s.shuffleReadBytes() > 0]
    return max(readers, key=lambda s: s.shuffleReadBytes()) if readers else None
