"""Readers for what Spark and the OS record about a job, from outside the
engine.

SQL metrics come from the SQL status store, which Spark keeps even with
the UI disabled. It holds every metric as a formatted string such as
``"total (min, med, max (stageId: taskId))\\n14.6 s (605 ms, 2.6 s,
3.2 s (stage 3.0: task 4))"``, so values carry the three significant
digits Spark prints. Nodes are grouped by type across every execution of
one job.
"""

from __future__ import annotations

import os
import re

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")

# Every plan node that runs Python workers: mapInPandas kernels, pandas
# UDFs (ArrowEvalPython), plain UDFs and the grouped/windowed pandas nodes.
PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsIn",
                "FlatMapCoGroupsIn", "AggregateInPandas", "ArrowAggregatePython",
                "WindowInPandas", "ArrowWindowPython")
PYTHON_METRICS = {
    "spark.python.start_s": ("time to start Python workers", "sum"),
    "spark.python.init_s": ("time to initialize Python workers", "sum"),
    "spark.python.run_s": ("time to run Python workers", "sum"),
    "spark.python.bytes_sent": ("data sent to Python workers", "sum"),
    "spark.python.bytes_returned": ("data returned from Python workers",
                                    "sum"),
    "spark.python.tasks": ("time to run Python workers", "tasks"),
}
# node-name prefix -> {per-layer metric: (SQL metric name, how)}
# "sum" adds the job total, "max" keeps the largest single task, "tasks"
# counts the tasks of the stage that ran the node.
NODE_METRICS = {
    **dict.fromkeys(PYTHON_NODES, PYTHON_METRICS),
    "Exchange": {
        "spark.exchange.bytes_written": ("shuffle bytes written", "sum"),
        "spark.exchange.fetch_wait_s": ("fetch wait time", "sum"),
    },
    "Sort": {
        "spark.sort.time_s": ("sort time", "sum"),
        "spark.sort.spill_bytes": ("spill size", "sum"),
        "spark.sort.peak_mem_mb": ("peak memory", "max"),
    },
    "WholeStageCodegen": {
        "spark.codegen.duration_s": ("duration", "sum"),
    },
    "Scan parquet": {
        "spark.scan.time_s": ("scan time", "sum"),
        "spark.scan.partitions": ("scan time", "tasks"),
    },
}
COUNTED_NODES = {"spark.exchange.count": "Exchange"}
METRIC_NAMES = sorted({m for g in NODE_METRICS.values() for m in g}
                      | set(COUNTED_NODES))


def _parse(text: str) -> tuple[float, float, int | None]:
    """(total, largest task, stage id) of one formatted metric."""
    line = text.strip().splitlines()[-1]
    vals = [float(v.replace(",", "")) * _UNITS.get(u or "", 1.0)
            for v, u in _VALUE.findall(_STAGE.sub("", line))]
    stage = _STAGE.search(line)
    total = vals[0] if vals else 0.0
    largest = vals[3] if len(vals) >= 4 else total
    return total, largest, int(stage.group(1)) if stage else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def execution_ids(spark) -> set[int]:
    store = spark._jsparkSession.sharedState().statusStore()
    return {int(e.executionId()) for e in _seq(store.executionsList())}


def _stage_tasks(spark, stage_id: int) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return int(store.stageAttempt(stage_id, 0, False, None, False,
                                  None)._1().numTasks())


def collect(spark, exec_ids) -> tuple[dict[str, float], dict[str, float]]:
    """Sum each per-layer Spark metric over the executions ``exec_ids``.
    Also returns the Python run seconds per Python node type."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {m: 0.0 for m in METRIC_NAMES}
    python_run_s: dict[str, float] = {}
    for eid in sorted(exec_ids):
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            name = node.name()
            for metric, prefix in COUNTED_NODES.items():
                if name.startswith(prefix):
                    out[metric] += 1
            prefix, group = next(((p, g) for p, g in NODE_METRICS.items()
                                  if name.startswith(p)), (None, None))
            if group is None:
                continue
            ids = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
            for metric, (sql_name, how) in group.items():
                acc = ids.get(sql_name)
                if acc is None or not values.get(acc).isDefined():
                    continue
                total, largest, stage = _parse(values.get(acc).get())
                if how == "sum":
                    out[metric] += total
                    if metric == "spark.python.run_s":
                        python_run_s[prefix] = (python_run_s.get(prefix, 0.0)
                                                + total)
                elif how == "max":
                    out[metric] = max(out[metric], largest / 2 ** 20)
                else:
                    out[metric] += (_stage_tasks(spark, stage)
                                    if stage is not None else 1)
    return out, python_run_s


def catalyst_seconds(df) -> float:
    """Analysis + optimisation + planning of ``df``'s plan, from the
    query's own phase tracker (forces planning, runs no job)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            total_ms += p.get().durationMs()
    return total_ms / 1000.0


# -- memory from /proc --------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def resident_mb(pid: int) -> tuple[float, float, dict[str, float]]:
    """Memory of every live descendant of ``pid`` (the JVM, the Python
    worker daemon and its workers): the sum of proportional set sizes
    (``Pss``, so pages that forked workers share with the daemon count
    once), the sum of peak resident sets (``VmHWM``), and the ``Pss`` MiB
    per process."""
    pss: dict[str, float] = {}
    hwm_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
            with open(f"/proc/{p}/smaps_rollup") as f:
                rollup = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "Pss" in rollup and "VmHWM" in status:
            pss[f"{status['Name'].strip()}.{p}"] = (
                int(rollup["Pss"].split()[0]) / 1024.0)
            hwm_kb += int(status["VmHWM"].split()[0])
    return sum(pss.values()), hwm_kb / 1024.0, pss
