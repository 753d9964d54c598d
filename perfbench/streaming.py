"""The streaming workload's two pipelines: drains of a file-stream backlog.

avro_ingest decodes Confluent-wire Avro records; stream_dedup drops
re-delivered events through the state store.  Both read a directory of parquet files through the file stream source with
`maxFilesPerTrigger` set to the number of simulated Kafka partitions (one
file per partition per trigger) and drain it with an `availableNow`
trigger into a `foreachBatch` sink, a closed loop.  The sink folds each
micro-batch into an order-insensitive digest that the oracles compare with
the generator's.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sparkstreaming_quickstart_spark.streaming import avro_wire, pipeline

from . import hostcpu
from .inputs import NULL, SCHEMA_IDS, SEP

KV_SCHEMA = StructType([StructField("key", StringType()), StructField("value", BinaryType())])
READER_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("age", IntegerType()),
        StructField("email", StringType()),
    ]
)
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _avro_stream(spark: SparkSession, src: str, partitions: int) -> tuple[DataFrame, list[F.Column]]:
    raw = spark.readStream.schema(KV_SCHEMA).option("maxFilesPerTrigger", partitions).parquet(src)
    decoded = avro_wire.decode_confluent_avro(raw, READER_SCHEMA, SCHEMA_IDS)
    fields = F.concat_ws(
        SEP,
        "key",
        F.col("schema_id").cast("string"),
        "name",
        F.coalesce(F.col("age").cast("string"), F.lit(NULL)),
        F.coalesce("email", F.lit(NULL)),
    )
    digest = [F.count(F.lit(1)).alias("n"), F.sum(F.crc32(fields.cast("binary"))).alias("h")]
    return decoded, digest


def _dedup_stream(spark: SparkSession, src: str, partitions: int) -> tuple[DataFrame, list[F.Column]]:
    raw = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", partitions).parquet(src)
    deduped = pipeline.streaming_dedup(raw, ["event_id"])
    digest = [
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
        F.sum(F.crc32(F.col("event_id").cast("string").cast("binary"))).alias("id_crc"),
    ]
    return deduped, digest


PIPELINES = {"avro_ingest": _avro_stream, "stream_dedup": _dedup_stream}


@dataclass
class Drain:
    wall_s: float
    usage: hostcpu.Usage
    progress: list[dict]
    digest: dict[str, int]


def drain(spark: SparkSession, pipeline_name: str, src: str, partitions: int, checkpoint: str) -> Drain:
    """Run one availableNow drain of `src` through a pipeline of PIPELINES,
    from an empty checkpoint."""
    stream, digest_cols = PIPELINES[pipeline_name](spark, src, partitions)
    totals: dict[str, int] = {}

    def sink(batch: DataFrame, epoch_id: int) -> None:
        row = batch.agg(*digest_cols).collect()[0].asDict()
        for k, v in row.items():
            totals[k] = totals.get(k, 0) + (v or 0)

    before = hostcpu.sample()
    t0 = time.perf_counter()
    query = pipeline.run_foreach_batch(stream, sink, checkpoint=checkpoint)
    query.awaitTermination()
    wall = time.perf_counter() - t0
    after = hostcpu.sample()
    if query.exception() is not None:
        raise RuntimeError(f"{pipeline_name} drain failed: {query.exception()}")
    progress = [json.loads(p.json) for p in query.recentProgress]
    return Drain(wall, hostcpu.usage(before, after), progress, totals)

