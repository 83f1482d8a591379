"""Spark's own SQL and task metrics, read after an action.

The Python-UDF node (``ArrowEvalPython``) carries Spark 4.1's Python metrics:
worker boot/init/run time and bytes sent to and received from Python. They
are read from the SQL status store's plan graph, and their raw values from the
accumulators behind it. Task durations come from the app status store.
"""

from __future__ import annotations

import statistics

UDF_NODE = "ArrowEvalPython"
PY_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
    "number of output rows": "rows",
}


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    execs = _sql_store(spark).executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def _executions_since(spark, since: int):
    execs = _sql_store(spark).executionsList()
    out = []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= since:
            break
        out.append(e)
    return out[::-1]


def python_udf(spark, since: int) -> dict:
    """Summed Python-UDF metrics over every execution after ``since``, plus
    the UDF stage ids (the last stage of each execution with a UDF node)."""
    store = _sql_store(spark)
    acc = spark._jvm.org.apache.spark.util.AccumulatorContext
    totals = {v: 0 for v in PY_METRICS.values()}
    stages = []
    for e in _executions_since(spark, since):
        nodes = store.planGraph(e.executionId()).allNodes()
        has_udf = False
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() != UDF_NODE:
                continue
            has_udf = True
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = PY_METRICS.get(m.name())
                a = acc.get(m.accumulatorId())
                if key and a.isDefined():
                    totals[key] += int(a.get().value())
        if has_udf:
            ids = [int(s) for s in _scala_set(e.stages())]
            if ids:
                stages.append(max(ids))
    totals["udf_stages"] = stages
    return totals


def _scala_set(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


def task_durations_ms(spark, stage_ids) -> list[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for sid in stage_ids:
        tasks = store.taskList(sid, 0, 1 << 30)
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out.append(int(d.get()))
    return out


def skew(durations) -> float:
    """max / median task duration (1.0 when perfectly even)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med else 0.0
