"""Counters read from Spark's own status stores, per job group.

Two stores, both populated with ``spark.ui.enabled=false``:

* the core AppStatusStore (via the status tracker's job → stage ids):
  tasks, failed tasks, shuffle bytes written, bytes spilled;
* the SQL status store: per plan node metrics of every SQL execution
  whose jobs ran in the group — ``ArrowEvalPython`` (rows, Python
  worker time, Arrow bytes each way) and ``Exchange``.

SQL metric values arrive formatted ("1.2 s", "total (min, med, max
...)\\n12.3 KiB (...)"); :func:`parse_metric` turns them back into
seconds, bytes or counts.
"""

from __future__ import annotations

import re

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """'2.6 s' → 2.6, '99.4 KiB' → 101785.6, '1,234' → 1234.0; the
    multi-line 'total (...)\\n<value> (...)' form yields the total."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        gw = self.sc._gateway
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stages(self, job_ids: list[int]):
        """Every attempt of every distinct stage the jobs ran."""
        seen = set()
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._app.stageData(
                    sid, False, self._no_status, False, self._no_quantiles)
                for i in range(attempts.size()):
                    yield attempts.apply(i)

    def stage_counters(self, job_ids: list[int]) -> dict[str, float]:
        """Summed over the stage attempts the jobs ran (a stage skipped
        because its shuffle output was reused is not counted again)."""
        out = dict(jobs=len(job_ids), tasks=0, tasks_failed=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        for s in self._stages(job_ids):
            if s.status().toString() == "SKIPPED":
                continue
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["tasks_failed"] += s.numFailedTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def node_task_quantiles(self, job_ids: list[int],
                            node: str) -> tuple[float, float]:
        """(median, max) task run time in seconds of the busiest stage
        (largest summed executor run time) that ran plan node ``node``.
        Spark names that stage in the "(stage <id>.<attempt>: task ...)"
        suffix of the node's size and timing metrics."""
        ran = {(int(a), int(b))
               for _, v in self._node_metrics(job_ids, node) if v
               for a, b in _STAGE.findall(v)}
        stages = [s for s in self._stages(job_ids)
                  if (s.stageId(), s.attemptId()) in ran]
        if not stages:
            return 0.0, 0.0
        busiest = max(stages, key=lambda s: s.executorRunTime())
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._app.taskSummary(
            busiest.stageId(), busiest.attemptId(), q)
        if summary.isEmpty():
            return 0.0, 0.0
        run = summary.get().executorRunTime()
        return run.apply(0) / 1000, run.apply(1) / 1000

    def _node_metrics(self, job_ids: list[int], node: str):
        """(metric, value) of every SQL metric of every plan node named
        ``node`` in executions that ran any of ``job_ids``; the value is
        None when no task updated it."""
        want = set(job_ids)
        for ex in _iterate(self._sql.executionsList()):
            if not want.intersection(_iterate(ex.jobs().keySet())):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            graph = self._sql.planGraph(ex.executionId())
            for n in _iterate(graph.allNodes()):
                if n.name() != node:
                    continue
                for m in _iterate(n.metrics()):
                    v = values.get(m.accumulatorId())
                    yield m, (v.get() if v.isDefined() else None)

    def node_metrics(self, job_ids: list[int], node: str) -> dict[str, float]:
        """SQL metrics of every plan node named ``node`` in executions
        that ran any of ``job_ids``, summed by metric name."""
        out: dict[str, float] = {}
        for m, v in self._node_metrics(job_ids, node):
            if v is not None:
                out[m.name()] = out.get(m.name(), 0.0) + parse_metric(v)
        return out


def _iterate(scala_collection):
    it = scala_collection.iterator()
    while it.hasNext():
        yield it.next()
