"""Avro support without the spark-avro connector.

The reference decodes Kafka Avro payloads with Spark's `from_avro`
(ingest_raw.scala:144, ingest.scala:162), which lives in the spark-avro
module this environment lacks. Avro's own Java library ships with Spark
anyway, so `functions.decode_avro` decodes in the JVM through a small
checked-in Java UDF (`AvroWireDecode.java`, a `GenericDatumReader` per
task). `session.py` compiles it with the installed `javac` once per
cache entry and puts the jar on `spark.jars`.

The pure-Python Avro *binary* codec (`codec.py`; the binary encoding is
a simple varint/length-prefix format, spec:
https://avro.apache.org/docs/current/specification/) is the decoder's
test oracle and its fallback: without `javac`, `decode_avro` runs the
codec inside `mapInPandas`, Arrow-batched. Avro container files
(`ocf.py`) go through Spark's built-in Avro file format.
"""

from .codec import decode, encode
from .schema import avro_to_spark_type, parse_schema

__all__ = ["decode", "encode", "parse_schema", "avro_to_spark_type"]
