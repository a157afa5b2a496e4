"""File-based streaming source standing in for Kafka in tests.

Writes Kafka-source-shaped rows (key/value/topic/partition/offset/
timestamp/timestampType) to a parquet directory and reads it back with
``spark.readStream``; every downstream operator sees the exact schema a
real Kafka source would produce (SURVEY §1.1), so swapping
kafka_stream <-> file_stream is a one-line config change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .generator import WireRecord

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def write_topic_files(
    spark: SparkSession, records: list[WireRecord], path: str, n_files: int = 4
) -> None:
    """Persist wire records as a parquet 'topic' directory."""
    rows = [
        (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp, r.timestampType)
        for r in records
    ]
    df = spark.createDataFrame(rows, WIRE_SCHEMA)
    df.repartition(n_files).write.mode("append").parquet(path)


def file_stream(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet topic directory (Kafka drop-in)."""
    return spark.readStream.schema(WIRE_SCHEMA).parquet(path)
