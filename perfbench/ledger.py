"""Per-layer ledger: samples, and readers for Spark's own bookkeeping.

Everything here observes the engine from outside. Spans are timed around
calls into public functions; Spark's job/stage/task counts come from the
status tracker (one job group per traced operation); Python-UDF boundary
costs come from the SQL metrics of the executed physical plan.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from typing import Dict, Iterator, List

import numpy as np
from py4j.protocol import Py4JJavaError

# SQL metrics the Python exec nodes (FlatMapGroupsInPandas, MapInArrow, ...)
# carry, as ledger name -> Spark metric name. Timing metrics are in ms.
UDF_METRICS = {
    "udf.python_total_ms": "pythonTotalTime",
    "udf.python_init_ms": "pythonInitTime",
    "udf.python_boot_ms": "pythonBootTime",
    "udf.bytes_sent": "pythonDataSent",
    "udf.bytes_received": "pythonDataReceived",
    "udf.rows_received": "pythonNumRowsReceived",
}
SCAN_ROWS = "scan.rows_per_request"


def percentile(values: List[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def cpu_ticks() -> List[int]:
    """Aggregate CPU time counters (user .. steal) from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return []


def steal_frac(start: List[int], end: List[int]) -> float:
    """Share of CPU time the hypervisor took from this machine (steal)
    between two ``cpu_ticks`` readings; 0 where it cannot be read."""
    if len(start) < 8 or len(end) < 8:
        return 0.0
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(sum(delta), 1)


class Samples:
    """Named lists of measured values, reported as medians."""

    def __init__(self) -> None:
        self.values: Dict[str, List[float]] = {}

    def add(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(float(value))

    def p50(self, name: str) -> float:
        return percentile(self.values[name], 50)

    def __contains__(self, name: str) -> bool:
        return bool(self.values.get(name))


class SparkLedger:
    """Reads job/stage/task counts, stage I/O, plan SQL metrics and cache
    sizes for work done inside one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._ids = itertools.count()

    @contextlib.contextmanager
    def group(self) -> Iterator[str]:
        gid = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _stages(self, gid: str) -> List[int]:
        stages = []
        for jid in self.tracker.getJobIdsForGroup(gid):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.extend(info.stageIds)
        return sorted(set(stages))

    def counts(self, gid: str) -> Dict[str, int]:
        """Jobs, stages and tasks the group ran (skipped stages count as
        stages, with their tasks)."""
        stages = self._stages(gid)
        tasks = 0
        for sid in stages:
            info = self.tracker.getStageInfo(sid)
            if info is not None:
                tasks += int(info.numTasks)
        return {"jobs": len(self.tracker.getJobIdsForGroup(gid)),
                "stages": len(stages), "tasks": tasks}

    def stage_io(self, gid: str) -> Dict[str, int]:
        """Shuffle bytes written and bytes spilled by the group's stages,
        from Spark's status store."""
        store = self.sc._jsc.sc().statusStore()
        shuffle = spill = 0
        for sid in self._stages(gid):
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never get an attempt
                continue
            shuffle += int(data.shuffleWriteBytes())
            spill += int(data.memoryBytesSpilled()) + int(data.diskBytesSpilled())
        return {"shuffle_bytes": shuffle, "spill_bytes": spill}

    def plan_metrics(self, df) -> Dict[str, float]:
        """Sum of the UDF-boundary and scan SQL metrics over the physical
        plan as it stands (the final adaptive plan once executed)."""
        out = {k: 0.0 for k in UDF_METRICS}
        out[SCAN_ROWS] = 0.0
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if name.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            metrics = node.metrics()
            if metrics.contains("pythonDataSent"):
                for key, spark_name in UDF_METRICS.items():
                    if metrics.contains(spark_name):
                        out[key] += float(metrics.apply(spark_name).value())
            elif "Scan" in name and metrics.contains("numOutputRows"):
                out[SCAN_ROWS] += float(metrics.apply("numOutputRows").value())
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
        return out

    def cached_mb(self) -> float:
        """Size of every persisted RDD (memory + disk), from storage info."""
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += int(info.memSize()) + int(info.diskSize())
        return total / 1e6


class OpTrace:
    """Per-operation spans and counters collected in a traced run.

    ``dataframe_op`` splits one request into its blocking steps: the engine
    call that returns a DataFrame (parse, IDF lookup, plan build), Catalyst
    planning (``executedPlan()`` forced before collect) and execution
    (collect). Counters come from the operation's own job group and from
    the before/after difference of the plan's SQL metrics, so a re-collected
    cached plan is not double counted."""

    def __init__(self, ledger: SparkLedger, count_ops: int) -> None:
        self.ledger = ledger
        self.samples = Samples()
        self.count_ops = count_ops   # counters use the first N traced ops
        self.counted: List[Dict[str, float]] = []

    def dataframe_op(self, make_df, plan_key: str = "engine.plan_ms"):
        with self.ledger.group() as gid:
            t0 = time.perf_counter()
            df = make_df()
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            before = self.ledger.plan_metrics(df)
            t3 = time.perf_counter()
            rows = df.collect()
            t4 = time.perf_counter()
        after = self.ledger.plan_metrics(df)
        self.samples.add(plan_key, (t1 - t0) * 1e3)
        self.samples.add("spark.catalyst_ms", (t2 - t1) * 1e3)
        self.samples.add("spark.execute_ms", (t4 - t3) * 1e3)
        delta = {k: after[k] - before[k] for k in after}
        for k in ("udf.python_total_ms", "udf.python_init_ms", "udf.python_boot_ms"):
            self.samples.add(k, delta[k])
        self._count(gid, delta)
        return rows, t4 - t0

    def call_op(self, fn):
        """An operation that runs its own jobs and returns a value (count)."""
        with self.ledger.group() as gid:
            t0 = time.perf_counter()
            value = fn()
            t1 = time.perf_counter()
        self.samples.add("spark.execute_ms", (t1 - t0) * 1e3)
        self._count(gid, None)
        return value, t1 - t0

    def _count(self, gid: str, delta) -> None:
        if len(self.counted) >= self.count_ops:
            return
        row = {f"spark.{k}_per_request": float(v)
               for k, v in self.ledger.counts(gid).items()}
        if delta is not None:
            for k in ("udf.bytes_sent", "udf.bytes_received",
                      "udf.rows_received", SCAN_ROWS):
                row[k] = delta[k]
        self.counted.append(row)

    def counters(self) -> Dict[str, float]:
        """Per-request means of the counters over the counted ops (UDF
        and scan counters over the ops that return a DataFrame)."""
        out = {}
        keys = sorted({k for row in self.counted for k in row})
        for k in keys:
            vals = [row[k] for row in self.counted if k in row]
            out[k] = sum(vals) / len(vals) if vals else 0.0
        return out
