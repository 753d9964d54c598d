"""Correctness oracles.  Each returns None when the output is right, else a
one-line reason; a wrong output counts as failed operations, never as a
crash of the benchmark."""

from __future__ import annotations

import pandas as pd

from sparkstreaming_quickstart_spark import oracle


def check_stream(pipeline: str, meta: dict, digest: dict, dropped_by_watermark: int) -> str | None:
    """Compare a drain's sink digest with the generator's expectation.

    avro_ingest: every record decoded once, with every field intact (count
    and order-insensitive crc32 sum over key, schema id and all fields).
    stream_dedup: each distinct event_id emitted exactly once (count, sum and
    crc32 sum of the ids) and no row dropped as late.
    """
    if pipeline == "avro_ingest":
        want = {"n": meta["records"], "h": meta["hash"]}
    else:
        want = {"n": meta["distinct"], "id_sum": meta["id_sum"], "id_crc": meta["id_crc"]}
    got = {k: digest.get(k) for k in want}
    if got != want:
        return f"{pipeline}: sink digest {got} != expected {want}"
    if dropped_by_watermark:
        return f"{pipeline}: {dropped_by_watermark} rows dropped by the watermark"
    return None


class _Frame:
    """Stands in for a DataFrame whose drained result is already in hand, so
    oracle.compare checks exactly what the timed pass produced."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def check_query(sql: str, data: str, results: list[pd.DataFrame]) -> str | None:
    """Check every drained result of one query: the first against its DuckDB
    oracle over `data` (oracle.compare), each later one against the first,
    row for row after the oracle's own normalisation (order-insensitive,
    floats rounded).  The DuckDB side runs once per query."""
    res = oracle.compare(None, data, lambda _spark, _data: _Frame(results[0]), sql)
    if not res["ok"]:
        return res.get("why", "mismatch")
    want = oracle._normalize(results[0])
    for i, result in enumerate(results[1:], 1):
        if sorted(result.columns) != sorted(results[0].columns) or oracle._normalize(result) != want:
            return f"execution {i} differs from execution 0"
    return None
