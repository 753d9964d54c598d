"""The query_mix workload: one closed-loop client running registered queries.

Each pass runs every query of QUERIES once, in an order shuffled by the
workload seed, and drains its result with `toPandas()`.  A query's latency
splits into the builder call (`q.fn`, which for some queries already runs
eager work such as a streaming drain or a local checkpoint) and the drain of
the DataFrame it returns.  Results are checked against the DuckDB oracle
after the timed passes (oracles.check_query).
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import SparkSession

from . import hostcpu

# Three registered queries of the bench.py headline families whose time is
# data work at the benchmark's table scale rather than fixed per-query cost:
# relational (scan/aggregate of lineitem), windows (per-group top-k over a
# shuffle) and an Arrow-kernel LLM operator (exact mutual kNN).  The
# single-batch streaming family (q70, q271) is left out: most of its time is
# starting and stopping a streaming query, and the streaming workload
# already loads the streaming path.
QUERIES = [
    "q01_pricing_summary",
    "q30_window_topk",
    "q329_mutual_knn_graph",
]


@dataclass
class Execution:
    name: str
    build_s: float
    exec_s: float
    wall_s: float  # start to finish, job-group bookkeeping included
    result: pd.DataFrame | None
    error: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    wall_s: float
    usage: hostcpu.Usage
    executions: list[Execution]


def _count_work(spark: SparkSession, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group `group`."""
    tracker = spark.sparkContext.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    stages = [tracker.getStageInfo(s) for s in {s for job in jobs if job for s in job.stageIds}]
    return len(jobs), len(stages), sum(stage.numTasks for stage in stages if stage)


def run_query(spark: SparkSession, registry: dict, name: str, data: str, group: str | None) -> Execution:
    """Build and drain one query.  With `group` set, its Spark jobs run under
    that job group, for run_pass to count once the pass is over."""
    sc = spark.sparkContext
    t_start = time.perf_counter()
    if group is not None:
        sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        df = registry[name].fn(spark, data)
        t1 = time.perf_counter()
        result = df.toPandas()
        t2 = time.perf_counter()
    except Exception as exc:  # a failed query is a failed operation, not a crash
        t = time.perf_counter() - t0
        return Execution(name, t, 0.0, t, None, error=f"{type(exc).__name__}: {exc}")
    finally:
        if group is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return Execution(name, t1 - t0, t2 - t1, time.perf_counter() - t_start, result)


def run_pass(spark: SparkSession, registry: dict, data: str, order: list[str], trace: bool, n: int) -> Pass:
    groups = {name: f"perfbench-{n}-{name}" if trace else None for name in order}
    before = hostcpu.sample()
    t0 = time.perf_counter()
    executions = [run_query(spark, registry, name, data, groups[name]) for name in order]
    wall = time.perf_counter() - t0
    usage = hostcpu.usage(before, hostcpu.sample())
    # Counting reads Spark's status tracker over py4j; it stays out of the
    # timed pass.
    for ex in executions:
        if groups[ex.name] is not None:
            ex.jobs, ex.stages, ex.tasks = _count_work(spark, groups[ex.name])
    return Pass(wall, usage, executions)


def shuffled_orders(seed: int, n: int) -> list[list[str]]:
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        order = list(QUERIES)
        rng.shuffle(order)
        orders.append(order)
    return orders
