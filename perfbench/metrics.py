"""Turn timed units into the benchmark's metrics.

End-to-end metrics, reported by every workload:

  setup_s        session start (+ registry import on query_mix) + warm-up
  work_wall_s    median wall time of one timed unit: a drain of each of
                 the two streaming backlogs, or a pass over the query list
  work_cpu_s     median CPU of one unit, summed over the process tree
  op_latency_ms  latency of one operation: on the streaming workload the
                 geometric mean over its two pipelines of each one's median
                 micro-batch (durationMs.triggerExecution); on query_mix the
                 geometric mean over the queries of each query's median
                 latency

Per-layer metrics are reported by every workload too; a layer the workload
does not drive reads 0 (no batches, no state, no queries built).
"""

from __future__ import annotations

import time
from statistics import median

import numpy as np

from .stats import geomean, percentile

E2E_UNITS = {"setup_s": "s", "work_wall_s": "s", "work_cpu_s": "s", "op_latency_ms": "ms"}


def _query_layer_units() -> dict[str, str]:
    from .query_mix import QUERIES

    out = {}
    for q in QUERIES:
        short = q.split("_")[0]
        for part, unit in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"), ("stages", "count"), ("tasks", "count")):
            out[f"queries.{short}.{part}"] = unit
    return out


LAYER_UNITS = {
    "session.get_spark_s": "s",
    "queries.import_s": "s",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "avro_wire.decode_us_per_record": "us",
    "avro_wire.add_batch_ms": "ms",
    "pipeline.batches": "count",
    "pipeline.query_planning_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.overhead_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "state.removals_ms": "ms",
    "operators.knn_edges_exact_ms": "ms",
    "host.steal_s": "s",
    "host.foreign_cpu_s": "s",
    **_query_layer_units(),
}

# durationMs parts that make up a trigger's triggerExecution
TRIGGER_PARTS = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")


def _dur(batch: dict, key: str) -> float:
    return float(batch["durationMs"].get(key, 0))


def _state(batch: dict, key: str) -> float:
    return float(sum(op.get(key, 0) for op in batch.get("stateOperators", [])))


def dropped_by_watermark(progress: list[dict]) -> int:
    return int(sum(_state(b, "numRowsDroppedByWatermark") for b in progress))


def streaming(units) -> dict:
    """Metrics of the streaming workload's timed units, each a dict
    pipeline name -> Drain.  Decode layers are read from the avro_ingest
    drains, state from the stream_dedup drains, and the shared source and
    micro-batch machinery from both."""
    avro = [b for u in units for b in u["avro_ingest"].progress]
    dedup = [b for u in units for b in u["stream_dedup"].progress]
    batches = avro + dedup
    trigger = {name: [_dur(b, "triggerExecution") for b in bs] for name, bs in (("avro_ingest", avro), ("stream_dedup", dedup))}
    last = units[-1]["stream_dedup"].progress

    unit_wall = [sum(d.wall_s for d in u.values()) for u in units]
    unit_cpu = [sum(d.usage.tree_cpu_s for d in u.values()) for u in units]
    unit_steal = [sum(d.usage.steal_s for d in u.values()) for u in units]
    e2e = {
        "work_wall_s": median(unit_wall),
        "work_cpu_s": median(unit_cpu),
        # geometric mean of the two pipelines' median micro-batch: a median
        # pooled over both would fall in the gap between their costs
        "op_latency_ms": geomean([median(t) for t in trigger.values()]),
    }
    layer = {
        "source.latest_offset_ms": median([_dur(b, "latestOffset") for b in batches]),
        "source.get_batch_ms": median([_dur(b, "getBatch") for b in batches]),
        "avro_wire.add_batch_ms": median([_dur(b, "addBatch") for b in avro]),
        "pipeline.batches": sum(len(d.progress) for d in units[0].values()),
        "pipeline.query_planning_ms": median([_dur(b, "queryPlanning") for b in batches]),
        "pipeline.wal_commit_ms": median([_dur(b, "walCommit") for b in batches]),
        "pipeline.commit_offsets_ms": median([_dur(b, "commitOffsets") for b in batches]),
        "pipeline.overhead_ms": median([_dur(b, "triggerExecution") - _dur(b, "addBatch") for b in batches]),
        "state.rows_total": _state(last[-1], "numRowsTotal"),
        "state.memory_bytes": _state(last[-1], "memoryUsedBytes"),
        "state.rows_dropped_by_watermark": dropped_by_watermark(last),
        "state.commit_ms": median([_state(b, "commitTimeMs") for b in dedup]),
        "state.updates_ms": median([_state(b, "allUpdatesTimeMs") for b in dedup]),
        "state.removals_ms": median([_state(b, "allRemovalsTimeMs") for b in dedup]),
        "host.steal_s": sum(unit_steal),
        "host.foreign_cpu_s": sum(d.usage.foreign_cpu_s for u in units for d in u.values()),
    }
    parts = sum(_dur(b, k) for b in batches for k in TRIGGER_PARTS)
    diag = {
        "units": len(units),
        "unit_wall_s": unit_wall,
        "unit_cpu_s": unit_cpu,
        "unit_steal_s": unit_steal,
        "drain_wall_s": {name: [u[name].wall_s for u in units] for name in trigger},
        "drain_cpu_s": {name: [u[name].usage.tree_cpu_s for u in units] for name in trigger},
        "batches_per_drain": {name: [len(u[name].progress) for u in units] for name in trigger},
        "batch_p50_ms": {name: median(t) for name, t in trigger.items()},
        "batch_p90_ms": {name: percentile(t, 90) for name, t in trigger.items()},
        "trigger_parts_over_total": parts / sum(_dur(b, "triggerExecution") for b in batches),
        "add_batch_over_trigger_p50": {
            name: median([_dur(b, "addBatch") for b in bs]) / median(trigger[name])
            for name, bs in (("avro_ingest", avro), ("stream_dedup", dedup))
        },
    }
    return {"e2e": e2e, "layer": layer, "diag": diag}


def query_mix(passes) -> dict:
    from .query_mix import QUERIES

    execs = [ex for p in passes for ex in p.executions]
    by_name = {q: [ex for ex in execs if ex.name == q] for q in QUERIES}
    e2e = {
        "work_wall_s": median([p.wall_s for p in passes]),
        "work_cpu_s": median([p.usage.tree_cpu_s for p in passes]),
        "op_latency_ms": geomean([median([ex.latency_s for ex in by_name[q]]) * 1000 for q in QUERIES]),
    }
    layer = {
        "host.steal_s": sum(p.usage.steal_s for p in passes),
        "host.foreign_cpu_s": sum(p.usage.foreign_cpu_s for p in passes),
    }
    for q, runs in by_name.items():
        short = q.split("_")[0]
        layer[f"queries.{short}.build_ms"] = median([ex.build_s for ex in runs]) * 1000
        layer[f"queries.{short}.exec_ms"] = median([ex.exec_s for ex in runs]) * 1000
        layer[f"queries.{short}.jobs"] = runs[0].jobs
        layer[f"queries.{short}.stages"] = runs[0].stages
        layer[f"queries.{short}.tasks"] = runs[0].tasks
    diag = {
        "units": len(passes),
        "unit_wall_s": [p.wall_s for p in passes],
        "unit_cpu_s": [p.usage.tree_cpu_s for p in passes],
        "unit_steal_s": [p.usage.steal_s for p in passes],
        "query_ms": {q: [round(ex.latency_s * 1000, 1) for ex in runs] for q, runs in by_name.items()},
        "counts_repeat": all(
            (ex.jobs, ex.stages, ex.tasks) == (runs[0].jobs, runs[0].stages, runs[0].tasks)
            for runs in by_name.values()
            for ex in runs
        ),
        "build_exec_over_wall": min(ex.latency_s / ex.wall_s for ex in execs),
    }
    return {"e2e": e2e, "layer": layer, "diag": diag}


def _time_ms(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1000)
    return median(times)


def kernels(layer: dict) -> dict:
    """Per-layer numbers measured by calling a layer directly, without Spark:
    the Avro wire decoder over a fixed record sample, the exact kNN kernel on
    a fixed seeded matrix, and (where set-up did not already) the first
    query-registry import."""
    from sparkstreaming_quickstart_spark.operators.similarity import knn_edges_exact
    from sparkstreaming_quickstart_spark.streaming import avro_wire

    from .inputs import SCHEMA_IDS, avro_records, encode_record

    out = {}
    if "queries.import_s" not in layer:
        t0 = time.perf_counter()
        from sparkstreaming_quickstart_spark.queries import all_queries

        all_queries()
        out["queries.import_s"] = time.perf_counter() - t0
    sample = [encode_record(sid, name, age, email) for _, sid, name, age, email in avro_records(0, 20_000)]

    def decode_all():
        for buf in sample:
            avro_wire.wire_decode(buf, SCHEMA_IDS)

    out["avro_wire.decode_us_per_record"] = _time_ms(decode_all, 3) * 1000 / len(sample)
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(1000, 64))
    ids = np.arange(len(mat), dtype=np.int64)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    out["operators.knn_edges_exact_ms"] = _time_ms(lambda: knn_edges_exact(ids, mat, ids, mat, nrm, 10))
    return out


def complete_layer(layer: dict) -> dict:
    """Every per-layer metric, in LAYER_UNITS order; 0 where the workload
    does not drive that layer."""
    return {name: float(layer.get(name, 0)) for name in LAYER_UNITS}


def with_units(values: dict) -> dict:
    units = {**E2E_UNITS, **LAYER_UNITS}
    return {name: {"value": float(v), "unit": units[name]} for name, v in values.items()}
