"""Tests of the benchmark's own parts: inputs, oracles and statistics.

    python3 -m pytest perfbench/tests -q

No Spark session is started: the generators, the Avro wire format and the
oracles are checked on their own.
"""

from __future__ import annotations

import filecmp
import json
import os

import duckdb
import pytest

from perfbench import inputs, metrics, oracles, stats
from sparkstreaming_quickstart_spark.streaming import avro_wire

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return names == sorted(os.listdir(b)) and not mismatch and not errors


@pytest.mark.parametrize(
    "build",
    [
        lambda out, seed: inputs.build_avro(out, seed, 3, 2, 50),
        lambda out, seed: inputs.build_events(out, seed, 5, 2, 40),
        lambda out, seed: inputs.build_tables(out, seed, 2000),
    ],
    ids=["avro", "events", "tables"],
)
def test_same_seed_gives_byte_identical_inputs(tmp_path, build):
    dirs = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d, meta = inputs.cached(str(tmp_path / name), "kind", seed, {}, lambda out, s=seed: build(out, s))
        dirs.append((d, meta))
    (a, meta_a), (b, meta_b), (c, _) = dirs
    assert _same_tree(a, b) and meta_a == meta_b
    assert not _same_tree(a, c)


def test_stream_files_replay_in_generation_order(tmp_path):
    d, meta = inputs.cached(str(tmp_path), "avro", 1, {}, lambda out: inputs.build_avro(out, 1, 3, 2, 10))
    files = sorted(os.listdir(d))
    mtimes = [os.stat(os.path.join(d, f)).st_mtime for f in files]
    assert len(files) == meta["files"] == 6 and mtimes == sorted(set(mtimes))


def test_generated_records_round_trip_through_wire_decode():
    records = inputs.avro_records(3, 2000)
    assert {r[1] for r in records} == {1, 2}
    for key, sid, name, age, email in records:
        buf = inputs.encode_record(sid, name, age, email)
        value = {"name": name, "age": age} if sid == 1 else {"name": name, "age": age, "email": email}
        assert buf == avro_wire.wire_encode(sid, value, inputs.SCHEMA_IDS[sid])
        assert avro_wire.wire_decode(buf, inputs.SCHEMA_IDS) == (sid, value)


def test_events_stay_inside_the_watermark(tmp_path):
    d, meta = inputs.cached(str(tmp_path), "events", 2, {}, lambda out: inputs.build_events(out, 2, 12, 2, 200))
    import pyarrow.parquet as pq

    table = pq.read_table(d)
    ids = table.column("event_id").to_pylist()
    assert meta["rows"] == len(ids) > meta["distinct"] == len(set(ids))
    assert meta["id_sum"] == sum(set(ids))
    # Spark's watermark is the newest event time of the earlier micro-batches
    # minus the 24 h delay; every row must stay above it.
    newest = None
    for t in range(meta["triggers"]):
        files = [os.path.join(d, f"part-{t * 2 + p:05d}.parquet") for p in range(2)]
        ts = [v for f in files for v in pq.read_table(f).column("ts").cast("int64").to_pylist()]
        if newest is not None:
            assert min(ts) > newest - 24 * inputs.HOUR_US
        newest = max(ts) if newest is None else max(newest, max(ts))


def test_stream_oracles_reject_corrupted_output():
    avro_meta = {"records": 10, "hash": 12345}
    assert oracles.check_stream("avro_ingest", avro_meta, {"n": 10, "h": 12345}, 0) is None
    assert oracles.check_stream("avro_ingest", avro_meta, {"n": 10, "h": 12346}, 0) is not None
    assert oracles.check_stream("avro_ingest", avro_meta, {"n": 11, "h": 12345}, 0) is not None
    dedup_meta = {"distinct": 3, "id_sum": 3, "id_crc": 99}
    good = {"n": 3, "id_sum": 3, "id_crc": 99}
    assert oracles.check_stream("stream_dedup", dedup_meta, good, 0) is None
    assert oracles.check_stream("stream_dedup", dedup_meta, dict(good, n=4), 0) is not None
    assert oracles.check_stream("stream_dedup", dedup_meta, dict(good, id_crc=98), 0) is not None
    assert oracles.check_stream("stream_dedup", dedup_meta, good, 1) is not None


def test_query_oracle_rejects_corrupted_result(tmp_path):
    from sparkstreaming_quickstart_spark.queries import all_queries

    d, _ = inputs.cached(str(tmp_path), "tables", 1, {}, lambda out: inputs.build_tables(out, 1, 2000))
    sql = all_queries()["q01_pricing_summary"].sql
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{d}/lineitem.parquet'")
    right = con.sql(sql).df()
    con.close()
    assert oracles.check_query(sql, d, [right]) is None
    assert oracles.check_query(sql, d, [right, right.iloc[::-1]]) is None
    wrong = right.copy()
    wrong.iloc[0, wrong.columns.get_loc("sum_qty")] += 1
    assert oracles.check_query(sql, d, [wrong]) is not None
    assert oracles.check_query(sql, d, [right.iloc[1:]]) is not None
    assert oracles.check_query(sql, d, [right, wrong]) is not None


def test_input_cache_is_keyed_by_shape(tmp_path):
    built = []

    def build(out, n):
        built.append(n)
        return {"n": n}

    a = inputs.cached(str(tmp_path), "k", 1, {"triggers": 2, "per_file": 6}, lambda out: build(out, 12))
    b = inputs.cached(str(tmp_path), "k", 1, {"triggers": 3, "per_file": 4}, lambda out: build(out, 12))
    again = inputs.cached(str(tmp_path), "k", 1, {"per_file": 6, "triggers": 2}, lambda out: build(out, 0))
    assert a != b and again == a and built == [12, 12]
    assert f"v{inputs.GENERATOR_VERSION}" in os.path.basename(os.path.dirname(a[0]))


def test_avro_digest_changes_with_any_field():
    fields = ["key-1", "2", "Zoë Müller", "41", "zoë.1@example.com"]
    base = inputs.record_hash(fields)
    for i in range(len(fields)):
        changed = list(fields)
        changed[i] = changed[i] + "x"
        assert inputs.record_hash(changed) != base


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(100)), 90) == 89
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile(list(range(20)), 50) == 9
    assert stats.percentile(list(range(19)), 50) is None
    assert stats.percentile([], 50) is None


def test_benchmark_json_lists_every_metric_the_harness_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == ["streaming", "query_mix"]
