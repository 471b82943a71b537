"""Read Spark's own status stores (works with ``spark.ui.enabled=false``).

Two stores are read through py4j:

* the core ``AppStatusStore`` (``sc._jsc.sc().statusStore()``): jobs
  with their job group and stage ids, per-stage run/CPU/GC time,
  input, shuffle and spill bytes, and per-task durations;
* the SQL ``SQLAppStatusStore`` (``sharedState().statusStore()``): the
  accumulated SQL metrics of each execution, which carry the
  Python-worker boot/init/run times, the bytes sent to and returned
  from the workers, and the size of the files each scan read.  (The
  stages' own ``inputBytes`` misses parquet reads done outside the task
  thread, so the scan size comes from here.)

The SQL store only exposes metrics as display strings such as
``"total (min, med, max (stageId: taskId))\\n2.6 s (27 ms, ...)"``;
``parse_metric`` turns the total back into a number (seconds, bytes or
a count).  Rounding in the display string is the only loss.
"""

from __future__ import annotations

import re
import statistics

# SQL metric display name -> per-layer metric it adds to
SQL_METRICS = {
    "size of files read": "scan.input_bytes",
    "time to run Python workers": "py.run_s",
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.init_s",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_returned",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric, in seconds for timings, bytes
    for sizes and as-is for plain sums ("100,000")."""
    line = text.split("\n", 1)[-1].strip()
    m = re.match(r"([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0) if m.group(2) else value


_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]*),(\d+),(\w+)\)")


class StatusReader:
    """Aggregates the stores' records per job group.

    ``read`` walks each store once for all groups; per-element py4j
    calls are the cost, so SQL executions are only opened when one of
    their jobs belongs to a wanted group.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _seq(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def read(self, groups) -> dict:
        """{group: metrics} for the jobs launched under each job group.

        Metrics are engine totals (``spark.*``), shuffle and spill bytes,
        the ``SQL_METRICS`` summed over the SQL executions those jobs
        belong to, and ``task.skew`` = max / median task duration of the
        group's stage with the most executor run time (1.0 for a single
        task, 0 when the group ran nothing).
        """
        groups = set(groups)
        job_group, stage_group = {}, {}
        for j in self._seq(self._store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined() and g.get() in groups:
                job_group[int(j.jobId())] = g.get()
                for sid in self._seq(j.stageIds()):
                    stage_group[int(sid)] = g.get()
        out = {g: {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
                   "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
                   "spark.gc_s": 0.0, "spark.spill_bytes": 0,
                   "shuffle.read_bytes": 0, "shuffle.write_bytes": 0,
                   "task.skew": 0.0, **{k: 0.0 for k in SQL_METRICS.values()}}
               for g in groups}
        for g in job_group.values():
            out[g]["spark.jobs"] += 1
        heaviest = {}
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for st in self._seq(stages):
            g = stage_group.get(int(st.stageId()))
            # skipped stages reuse an earlier shuffle and ran no tasks
            if g is None or str(st.status()) != "COMPLETE":
                continue
            m = out[g]
            m["spark.stages"] += 1
            m["spark.tasks"] += int(st.numCompleteTasks())
            run_s = st.executorRunTime() / 1e3
            m["spark.executor_run_s"] += run_s
            m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["spark.gc_s"] += st.jvmGcTime() / 1e3
            m["spark.spill_bytes"] += int(st.memoryBytesSpilled()) \
                + int(st.diskBytesSpilled())
            m["shuffle.read_bytes"] += int(st.shuffleReadBytes())
            m["shuffle.write_bytes"] += int(st.shuffleWriteBytes())
            if run_s >= heaviest.get(g, (-1.0,))[0]:
                heaviest[g] = (run_s, int(st.stageId()), int(st.attemptId()))
        for g, (_run, sid, attempt) in heaviest.items():
            out[g]["task.skew"] = self.task_skew(sid, attempt)
        for e in self._seq(self._sql.executionsList()):
            ran = {job_group.get(int(k)) for k in self._conv.asJava(e.jobs()).keySet()}
            ran.discard(None)
            if ran:
                for key, value in self.sql_metrics(e).items():
                    for g in ran:  # one group per execution in practice
                        out[g][key] += value / len(ran)
        return out

    def task_skew(self, stage_id: int, attempt: int) -> float:
        durs = [float(t.duration().get())
                for t in self._seq(self._store.taskList(stage_id, attempt,
                                                        1 << 30))
                if t.duration().isDefined()]
        med = statistics.median(durs) if durs else 0.0
        return max(durs) / med if med > 0 else 1.0

    def sql_metrics(self, execution) -> dict:
        """The ``SQL_METRICS`` of one SQL execution, summed over its plan
        nodes.  The metric list is parsed from its string form in one
        py4j call instead of three calls per metric."""
        # a dict: the list repeats an accumulator once per plan version
        wanted = {int(acc): SQL_METRICS[name]
                  for name, acc, _kind in _PLAN_METRIC.findall(
                      execution.metrics().toString())
                  if name in SQL_METRICS}
        out: dict = {}
        if wanted:
            values = self._sql.executionMetrics(execution.executionId())
            for acc, key in wanted.items():
                text = values.get(acc)
                if text.isDefined():
                    out[key] = out.get(key, 0.0) + parse_metric(text.get())
        return out
