"""Benchmark harness: one command, two workloads.

    python3 perfbench/run.py --workload streaming --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  The line before it,
{"detail": ...}, holds every number the run computed, both kinds, plus the
configuration it ran with.  perfbench/NOTES.md explains the workloads and metrics.

Everything the run writes lives under .bench_work/ in the current directory:
generated inputs are cached there by (seed, shape), and each run gets a
fresh directory for checkpoints, Spark's local dir and temporary files,
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("streaming", "query_mix")
# Spark's local cores per workload.  query_mix runs at local[2]: on the
# 4-core VM its passes took as long as at local[4] (its stages are short and
# the driver is on the critical path), used 15-20% less CPU, and its runs
# saw a fraction of the hypervisor steal that local[4] runs saw.  The
# streaming workload's decode and state work scales with cores.
CORES = {"streaming": min(4, os.cpu_count() or 1), "query_mix": min(2, os.cpu_count() or 1)}
DRIVER_MEMORY = "2g"  # session.get_spark defaults to 32g, more than a 15 GB host has

# Input shapes.  The streaming workload drains both backlogs whole, one
# after the other, once per timed unit: triggers x partitions files of
# per_file rows, one file per partition per trigger.  query_mix data is
# fixed (the seed only shuffles query order).
STREAM_SIZES = {
    "avro_ingest": {"triggers": 3, "partitions": 4, "per_file": 25_000},
    "stream_dedup": {"triggers": 5, "partitions": 4, "per_file": 25_000},
}
QUERY_SCALE = 50_000  # lineitem rows / 6
# Passes before timing starts.  On a 4-core VM a pass's CPU kept falling
# for four passes (by half from the second to the fourth) before it levelled
# off: the JIT and the Python workers' first imports are that slow to settle.
# After three warm-up passes the timed passes still fall by a few percent
# from the first to the last; their median sits at the same point of that
# slope in every run.
QUERY_WARMUP_PASSES = 3
# Nominal seconds per timed unit on a 4-core host: a drain of both
# backlogs, or a pass over the queries.  A run times ceil(seconds / unit)
# units, at least 3, and every metric is a median over them, so one unit
# slowed by the host does not move it.  The count depends on --seconds
# only, never on how fast the program is, so a faster program is compared
# over the same units, in the same state of warm-up.
UNIT_SECONDS = {"streaming": 7.0, "query_mix": 4.0}


def _prepare_env(work: str, cores: int) -> None:
    """Point every temporary path of Python, the JVM and Spark into `work`,
    and configure the session get_spark will build.  Must run before
    anything asks for a temporary directory."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # get_spark derives shuffle partitions from it
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={os.path.join(work, 'local')}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to
    exit: closing the gateway's stdin is the JVM's signal to shut down."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _stream_inputs(cache: str, pipeline: str, seed: int) -> tuple[str, dict]:
    from perfbench import inputs

    shape = STREAM_SIZES[pipeline]
    build = inputs.build_avro if pipeline == "avro_ingest" else inputs.build_events
    return inputs.cached(cache, pipeline, seed, shape, lambda out: build(out, seed, **shape))


def _query_inputs(cache: str) -> tuple[str, dict]:
    from perfbench import inputs

    seed = inputs.QUERY_DATA_SEED
    return inputs.cached(
        cache, "query_tables", seed, {"scale": QUERY_SCALE}, lambda out: inputs.build_tables(out, seed, QUERY_SCALE)
    )


def _timed_units(workload: str, seconds: float, run_unit) -> list:
    """Run the timed units back to back."""
    return [run_unit(n) for n in range(max(3, math.ceil(seconds / UNIT_SECONDS[workload])))]


def run_streaming(spark, seconds: float, work: str, backlogs: dict, t_setup0: float):
    from perfbench import metrics, oracles, streaming

    ckpt = os.path.join(work, "checkpoints")

    def unit(tag: str) -> dict:
        """One drain of each pipeline's backlog, from empty checkpoints."""
        return {
            name: streaming.drain(spark, name, data, STREAM_SIZES[name]["partitions"], os.path.join(ckpt, f"{tag}-{name}"))
            for name, (data, _) in backlogs.items()
        }

    # Warm-up, counted in setup: one unit.  It holds most of the JIT's
    # warm-up; the median over the timed units absorbs the rest.
    unit("warmup")
    setup_s = time.perf_counter() - t_setup0
    units = _timed_units("streaming", seconds, lambda n: unit(f"unit-{n}"))
    # A drain whose output is wrong fails all of its micro-batches.
    failures, failed = [], 0
    for u in units:
        for name, d in u.items():
            why = oracles.check_stream(name, backlogs[name][1], d.digest, metrics.dropped_by_watermark(d.progress))
            if why is not None:
                failures.append(why)
                failed += len(d.progress)
    attempted = sum(len(d.progress) for u in units for d in u.values())
    return setup_s, metrics.streaming(units), attempted, failed, failures


def run_query_mix(spark, seed: int, seconds: float, trace: bool, data: str, t_setup0: float):
    from perfbench import metrics, oracles, query_mix

    t = time.perf_counter()
    from sparkstreaming_quickstart_spark.queries import all_queries

    registry = all_queries()
    import_s = time.perf_counter() - t
    # Warm-up, counted in setup: QUERY_WARMUP_PASSES passes in list order.
    for n in range(QUERY_WARMUP_PASSES):
        query_mix.run_pass(spark, registry, data, list(query_mix.QUERIES), False, -1 - n)
    setup_s = time.perf_counter() - t_setup0
    orders = query_mix.shuffled_orders(seed, 1000)
    passes = _timed_units("query_mix", seconds, lambda n: query_mix.run_pass(spark, registry, data, orders[n], trace, n))
    # Correctness, outside the timed region: every result of every timed
    # execution against the query's DuckDB oracle.  An execution that raised
    # is a failed operation; when a query's results do not check out, all of
    # them count as failed.
    executions = [ex for p in passes for ex in p.executions]
    failures = [f"{ex.name}: {ex.error}" for ex in executions if ex.error is not None]
    failed = len(failures)
    for name in query_mix.QUERIES:
        results = [ex.result for ex in executions if ex.name == name and ex.error is None]
        why = oracles.check_query(registry[name].sql, data, results) if results else None
        if why is not None:
            failures.append(f"{name}: {why}")
            failed += len(results)
    out = metrics.query_mix(passes)
    out["layer"]["queries.import_s"] = import_s
    return setup_s, out, len(executions), failed, failures


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    work_root = os.path.join(os.getcwd(), ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, CORES[args.workload])
    sys.path.insert(0, ROOT)
    # Fails here, before any input is generated, when the package is absent.
    from sparkstreaming_quickstart_spark.session import get_spark

    from perfbench import metrics

    os.makedirs(os.environ["TMPDIR"])

    cache = os.path.join(work_root, "cache")
    if args.workload == "query_mix":
        data, meta = _query_inputs(cache)
    else:
        data = {name: _stream_inputs(cache, name, args.seed) for name in STREAM_SIZES}
        meta = {name: m for name, (_, m) in data.items()}

    inputs_s = time.perf_counter() - t_start
    spark = None
    try:
        t_setup0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{CORES[args.workload]}]")
        get_spark_s = time.perf_counter() - t_setup0
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        config = {
            "workload": args.workload,
            "master": spark.sparkContext.master,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "checkpoint_fs": os.path.join(".bench_work", f"run-{os.getpid()}", "checkpoints"),
            "input": meta,
        }
        if args.workload == "query_mix":
            from perfbench.query_mix import QUERIES

            config["queries"] = QUERIES
            setup_s, out, attempted, failed, failures = run_query_mix(
                spark, args.seed, args.seconds, bool(args.trace), data, t_setup0
            )
        else:
            config["files_per_trigger"] = {name: shape["partitions"] for name, shape in STREAM_SIZES.items()}
            setup_s, out, attempted, failed, failures = run_streaming(spark, args.seconds, work, data, t_setup0)
        e2e = dict(out["e2e"], setup_s=setup_s)
        layer = dict(out["layer"], **{"session.get_spark_s": get_spark_s})
        if args.trace:
            layer.update(metrics.kernels(layer))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    layer = metrics.complete_layer(layer)
    out["diag"].update(inputs_s=inputs_s, run_s=time.perf_counter() - t_start)
    for why in failures:
        print(f"FAILED: {why}")
    print(json.dumps({"detail": {"config": config, "end_to_end": e2e, "per_layer": layer, "diag": out["diag"]}}))
    shown = metrics.with_units(layer if args.trace else e2e)
    print(json.dumps({"correct": not failures and failed == 0, "attempted": attempted, "failed": failed, "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
