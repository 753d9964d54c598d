"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, shape): the same pair writes
byte-identical files.  Outputs are cached under the benchmark's cache
directory keyed by (kind, GENERATOR_VERSION, seed, shape) and written
through a temporary directory that is renamed into place, so a run
interrupted mid-write never leaves a half-built input behind.

The generators deliberately do not use the code under test: Avro records
are encoded here by hand (the decoder is the thing being measured), and the
expected results the oracles check against are computed here from the
source values, not from anything the pipeline produced.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed modification-time origin for generated stream files.  The file
# stream source orders new files by mtime, so each file gets a distinct,
# increasing mtime derived from its position -- replay order is then a
# property of the input, not of the order the files happened to be written.
MTIME_BASE = 1_700_000_000

SEP = "\x1f"  # field separator of the order-insensitive record hash
NULL = "~"  # stands in for a null field in that hash

# Bump whenever a generator's output changes for the same (seed, shape), so
# inputs cached by an earlier version are not reused.
GENERATOR_VERSION = 2

# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def cached(root: str, kind: str, seed: int, shape: dict, build: Callable[[str], dict]) -> tuple[str, dict]:
    """Return (data dir, meta) for (kind, seed, shape), building it on a miss.

    `shape` holds every size parameter of the generator (for example
    triggers, partitions and rows per file).  The data directory holds only
    the generated files, so it can be handed to a file stream source as is."""
    key = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    path = os.path.join(root, f"{kind}-v{GENERATOR_VERSION}-seed{seed}-{key}")
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "data"))
        meta = build(os.path.join(tmp, "data"))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(meta_path) as fh:
        return os.path.join(path, "data"), json.load(fh)


def _write_stream_file(table: pa.Table, path: str, order: int) -> None:
    pq.write_table(table, path)
    os.utime(path, (MTIME_BASE + order, MTIME_BASE + order))


def record_hash(fields: list[str]) -> int:
    """crc32 of the SEP-joined fields: the per-record term of the
    order-insensitive sum the avro_ingest sink computes in Spark."""
    return zlib.crc32(SEP.join(fields).encode("utf-8"))


# ---------------------------------------------------------------------------
# avro_ingest: Confluent-wire Avro records in (key, value) parquet files
# ---------------------------------------------------------------------------

# FIXTURES A1 `testschema` and an evolved v2 writer that appends an
# optional field.  Union branch order is part of the wire format.
SCHEMA_V1 = {
    "type": "record",
    "name": "testschema",
    "namespace": "org.apache.avro.ipc",
    "fields": [
        {"name": "name", "type": "string"},
        {"name": "age", "type": ["int", "null"]},
    ],
}
SCHEMA_V2 = {
    "type": "record",
    "name": "testschema",
    "namespace": "org.apache.avro.ipc",
    "fields": [
        {"name": "name", "type": "string"},
        {"name": "age", "type": ["int", "null"]},
        {"name": "email", "type": ["null", "string"], "default": None},
    ],
}
SCHEMA_IDS = {1: SCHEMA_V1, 2: SCHEMA_V2}

_FIRST = ["Gilberto", "Ana", "Zoë", "Björn", "Mei", "Olusegun", "Priya", "José",
          "Aleksandr", "Fatima", "Noah", "Chloé", "Kenji", "Ingrid", "Mateo", "Amara"]
_LAST = ["Silva", "Nakamura", "Müller", "Okafor", "García", "Kowalski", "Nguyen",
         "Johansson", "Haddad", "Rossi", "Dubois", "Petrov", "Smith", "Ó Briain"]


def _varint(n: int) -> bytes:
    """Avro zigzag varint of a non-negative int."""
    z = n << 1
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _avro_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _varint(len(raw)) + raw


def encode_record(schema_id: int, name: str, age: int | None, email: str | None) -> bytes:
    """Confluent wire bytes (magic 0, big-endian id, Avro body) of one record."""
    body = _avro_string(name)
    body += b"\x02" if age is None else b"\x00" + _varint(age)
    if schema_id == 2:
        body += b"\x00" if email is None else b"\x02" + _avro_string(email)
    return b"\x00" + schema_id.to_bytes(4, "big") + body


def avro_records(seed: int, n: int) -> list[tuple[str, int, str, int | None, str | None]]:
    """n seeded records as (key, schema_id, name, age, email); half of them
    are written with each schema version."""
    rng = np.random.default_rng(seed)
    first = rng.integers(0, len(_FIRST), n)
    last = rng.integers(0, len(_LAST), n)
    ages = rng.integers(0, 100, n)
    age_null = rng.random(n) < 0.1
    sids = np.where(rng.random(n) < 0.5, 1, 2)
    email_null = rng.random(n) < 0.3
    out = []
    for i in range(n):
        name = f"{_FIRST[first[i]]} {_LAST[last[i]]}"
        sid = int(sids[i])
        email = None
        if sid == 2 and not email_null[i]:
            email = f"{_FIRST[first[i]].lower()}.{i}@example.com"
        out.append((f"key-{seed}-{i}", sid, name, None if age_null[i] else int(ages[i]), email))
    return out


def build_avro(out: str, seed: int, triggers: int, partitions: int, per_file: int) -> dict:
    """triggers x partitions files of per_file records each; file order is
    trigger-major, so maxFilesPerTrigger=partitions gives one file per
    simulated Kafka partition per trigger."""
    recs = avro_records(seed, triggers * partitions * per_file)
    total = 0
    for f in range(triggers * partitions):
        chunk = recs[f * per_file : (f + 1) * per_file]
        table = pa.table(
            {
                "key": pa.array([r[0] for r in chunk], pa.string()),
                "value": pa.array([encode_record(r[1], r[2], r[3], r[4]) for r in chunk], pa.binary()),
            }
        )
        _write_stream_file(table, os.path.join(out, f"part-{f:05d}.parquet"), f)
    for key, sid, name, age, email in recs:
        total += record_hash([key, str(sid), name, NULL if age is None else str(age), NULL if email is None else email])
    return {
        "records": len(recs),
        "hash": total,
        "files": triggers * partitions,
        "triggers": triggers,
        "partitions": partitions,
        "per_file": per_file,
    }


# ---------------------------------------------------------------------------
# stream_dedup: events-schema files with re-deliveries and late rows
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, the fixtures' window start
HOUR_US = 3_600_000_000
N_USERS = 20_000
REDELIVER = 0.1  # share of each file that re-delivers earlier rows
LATE = 0.05  # share of fresh rows that arrive late
STEP_US = 12 * HOUR_US  # event time per trigger


def build_events(out: str, seed: int, triggers: int, partitions: int, per_file: int) -> dict:
    """Events whose event time advances 12 h per trigger.

    Per file: REDELIVER of the rows are identical copies of rows among the
    last `partitions` files written (at-least-once re-delivery); LATE of the
    fresh rows carry a timestamp up to two hours behind their trigger.  Both
    stay inside the pipeline's one-day watermark delay (12 h + 2 h < 24 h),
    so exact dedup must emit every distinct event_id once and drop nothing
    as late, while keys two days of event time behind the newest are
    evicted from state.  user_id is Zipf-distributed (s=1.1) over N_USERS.
    """
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    user_p = 1.0 / ranks**1.1
    user_p /= user_p.sum()
    n_dup = int(per_file * REDELIVER)
    n_new = per_file - n_dup
    next_id = rows = 0
    written: list[pa.Table] = []  # fresh rows per file, for re-delivery
    for t in range(triggers):
        for p in range(partitions):
            ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
            next_id += n_new
            ts = EPOCH_US + t * STEP_US + np.sort(rng.integers(0, STEP_US, n_new))
            is_late = rng.random(n_new) < LATE
            ts = ts - is_late * rng.integers(0, 2 * HOUR_US, n_new)
            fresh = pa.table(
                {
                    "event_id": ids,
                    "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                    "user_id": rng.choice(N_USERS, n_new, p=user_p).astype(np.int64),
                    "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_new)]),
                    "value": np.round(rng.gamma(2.0, 40.0, n_new), 2),
                    "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_new)]),
                }
            )
            parts = [fresh]
            if written and n_dup:
                pool = pa.concat_tables(written[-partitions:])
                parts.append(pool.take(rng.integers(0, pool.num_rows, n_dup)))
            f = t * partitions + p
            table = pa.concat_tables(parts)
            _write_stream_file(table, os.path.join(out, f"part-{f:05d}.parquet"), f)
            written.append(fresh)
            rows += table.num_rows
    return {
        "rows": rows,
        "distinct": next_id,
        "id_sum": next_id * (next_id - 1) // 2,
        "id_crc": sum(zlib.crc32(str(i).encode()) for i in range(next_id)),
        "files": triggers * partitions,
        "triggers": triggers,
        "partitions": partitions,
        "per_file": per_file,
    }


# ---------------------------------------------------------------------------
# query_mix: fixed TPC-H-style tables in the fixture schema (FIXTURES.md B)
# ---------------------------------------------------------------------------

QUERY_DATA_SEED = 20240101  # query_mix data is fixed; --seed shuffles order only

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_NAMES = [f"{a} {b}" for a in ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
           for b in ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "the", "row", "agg", "key", "query",
         "a", "scan", "batch"]
LANGS = ["en", "de", "zh", "fr", "es"]


def build_tables(out: str, seed: int, scale: int) -> dict:
    """The ten catalog tables, shaped like the sf fixtures (same schema,
    value domains and key graph); `scale` is rows of lineitem per 6."""
    rng = np.random.default_rng(seed)
    n_li = scale * 6
    n_ord, n_cust, n_part, n_supp = scale * 3 // 2, scale * 3 // 20, scale // 5, scale // 100
    n_ev, n_doc, n_vec = scale, scale // 20, scale // 20
    day_us = 86_400_000_000
    d0 = 788_918_400_000_000  # 1995-01-01

    def ts(us: np.ndarray) -> pa.Array:
        return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(P_NAMES)[rng.integers(0, len(P_NAMES), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts(d0 + rng.integers(0, 2405, n_ord) * day_us),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": ts(d0 + day_us + rng.integers(0, 2499, n_li) * day_us),
        },
    }
    slot = 30 * day_us // n_ev
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(EPOCH_US + np.arange(n_ev, dtype=np.int64) * slot + rng.integers(0, slot, n_ev)),
        "user_id": rng.integers(0, max(n_ev // 66, 1), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n_doc)]
    for i in range(1, n_doc):  # planted near-copies for the dedup family
        if rng.random() < 0.03:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts[i] = " ".join(toks)
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vec)
    vecs = centers[label] * 0.1 + rng.normal(0.0, 1.0, (n_vec, 64)) / 8
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"rows": rows, "scale": scale}
