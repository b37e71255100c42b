"""Spark session sized from the host, and what Spark's status store says
about the work done in a window of the benchmark.

The SQL status store (``sharedState().statusStore()``) keeps every SQL
execution's plan graph and operator metrics even with the UI disabled.
Each window is read after its action finished, outside any timed region.
"""

from __future__ import annotations

import html
import os
import re
import statistics
import subprocess
from dataclasses import dataclass, field

import pandas as pd  # resolves the worker warm-up UDF's type hints

from host import nproc, ram_bytes

# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def jvm_heap_gb() -> int:
    """A quarter of RAM, capped at 4 GB: local mode runs every task in the
    one JVM, and the host is shared."""
    return max(1, min(4, ram_bytes() // (4 * 2**30)))


def start_session(work_dir: str):
    """``local[nproc]`` with bench.py's engine settings, every temporary
    file under ``work_dir``."""
    from pyspark.sql import SparkSession

    from geojson_spark.session import attach_package

    cpus = nproc()
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{jvm_heap_gb()}g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.ui.retainedExecutions", "10000")
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # the JVM and the Python workers it forks inherit TMPDIR
    saved = os.environ.get("TMPDIR")
    os.environ["TMPDIR"] = local
    try:
        spark = conf.getOrCreate()
    finally:
        if saved is None:
            del os.environ["TMPDIR"]
        else:
            os.environ["TMPDIR"] = saved
    spark.sparkContext.setLogLevel("ERROR")
    attach_package(spark)
    return spark


def warm_python_workers(spark) -> None:
    """Start one Python worker per task slot, each with the program's UDF
    modules imported, so no timed pass pays for worker start-up."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _w(x: pd.Series) -> pd.Series:
        import numpy  # noqa: F401

        import geojson_spark.functions.cells  # noqa: F401

        return x

    parts = nproc()
    spark.range(0, parts * 100, numPartitions=parts).withColumn(
        "y", _w(F.col("id").cast("double"))
    ).agg(F.sum("y")).collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit: the JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        for stream in (proc.stdout, proc.stderr):
            if stream is not None:
                stream.close()


# ---------------------------------------------------------------------------
# status-store windows
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")
_NODE = re.compile(r'\n\s*\d+ \[id="node\d+" labelType="html" label="((?:[^"\\]|\\.)*)"')

# SQL metric name -> the window figure it adds to
_SUMMED = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "arrow_to_py_bytes",
    "data returned from Python workers": "arrow_from_py_bytes",
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
}


def _number(text: str) -> float:
    """'1,219' -> 1219; '4.6 KiB' -> bytes; '2.3 s' -> ms."""
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def parse_plan_graph(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(operator name, {metric name: total}) for each node of a plan-graph
    DOT document (``SparkPlanGraph.makeDotFile``)."""
    nodes = []
    for m in _NODE.finditer(dot):
        label = html.unescape(m.group(1).replace('\\"', '"'))
        head, _, body = label.partition("</b>")
        name = head.replace("<br>", "").replace("<b>", "").strip()
        metrics: dict[str, float] = {}
        items = [s for s in body.split("<br>") if s]
        k = 0
        while k < len(items):
            item = items[k]
            if item.endswith("(min, med, max (stageId: taskId))") and k + 1 < len(items):
                # "<name> total (min, med, max ...)" then "<total> (<min>, ...)"
                metrics[item.split(" total (")[0]] = _number(items[k + 1])
                k += 2
                continue
            key, sep, value = item.rpartition(": ")
            if sep:
                metrics[key] = _number(value)
            k += 1
        nodes.append((name, metrics))
    return nodes


@dataclass
class Window:
    """What Spark ran between ``StatusStore.begin`` and ``StatusStore.end``."""

    label: str
    task_skew: bool = False
    _group: str = ""
    _first: int = 0
    seconds: float = 0.0
    jobs: int = 0
    executions: int = 0
    counts: dict[str, float] = field(default_factory=dict)
    join_rows: float = 0.0
    broadcast_join: bool = False
    skew_split: bool = False
    stage_skew: list[dict] = field(default_factory=list)

    def summary(self) -> dict:
        out = {"jobs": self.jobs, "executions": self.executions, **self.counts}
        return {f"spark.{k}": v for k, v in out.items()}


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc._jsc.sc().statusStore()
        self._n = 0

    def _drain(self) -> None:
        # the status store is fed by an asynchronous listener bus; wait until
        # it has seen the end of every action that already returned
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def begin(self, label: str, *, task_skew: bool = False) -> Window:
        """Open a window: jobs and SQL executions from now until ``end``."""
        self._n += 1
        w = Window(label, task_skew=task_skew, _group=f"perfbench-{self._n}-{label}")
        self._drain()
        w._first = self._sql.executionsCount()
        self._sc.setJobGroup(w._group, label)
        return w

    def end(self, w: Window) -> Window:
        self._sc.setJobGroup("perfbench-idle", "idle")
        self._drain()
        self._fill(w)
        return w

    def _fill(self, w: Window) -> None:
        first = w._first
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(w._group))
        w.jobs = len(job_ids)
        counts = dict.fromkeys(_SUMMED.values(), 0.0)
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(first, n - first) if n > first else None
        for k in range(n - first):
            e = execs.apply(k)
            eid = e.executionId()
            w.executions += 1
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for name, metrics in parse_plan_graph(dot):
                for metric, value in metrics.items():
                    if metric in _SUMMED:
                        counts[_SUMMED[metric]] += value
                if "Join" in name or name == "CartesianProduct":
                    w.join_rows += metrics.get("number of output rows", 0.0)
                    if name.startswith("Broadcast"):
                        w.broadcast_join = True
            plan = e.physicalPlanDescription() or ""
            if "skew=true" in plan or "skewed" in plan:
                w.skew_split = True
        w.counts = counts
        if w.task_skew:
            w.stage_skew = self._stage_rows(job_ids)

    def _stage_rows(self, job_ids: list[int]) -> list[dict]:
        """Per stage of the window's jobs: rows each task read (input plus
        shuffle), as max / median over tasks."""
        tracker = self._sc.statusTracker()
        stages = sorted({s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds})
        out = []
        for sid in stages:
            tasks = self._app.taskList(sid, 0, 100_000)
            rows = []
            for k in range(tasks.size()):
                tm = tasks.apply(k).taskMetrics()
                if tm.isDefined():
                    m = tm.get()
                    rows.append(m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead())
            if rows and sum(rows):
                med = statistics.median(rows)
                out.append({"stage": sid, "tasks": len(rows), "rows": sum(rows),
                            "max_over_median": max(rows) / med if med else float(len(rows))})
        return out
