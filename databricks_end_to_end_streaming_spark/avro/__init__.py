"""Avro support without the spark-avro connector.

The reference decodes Kafka Avro payloads with Spark's `from_avro`
(ingest_raw.scala:144, ingest.scala:162). This environment has no
spark-avro jar, so the engine ships a pure-Python Avro *binary* codec
(avro binary encoding is a simple varint/length-prefix format, spec:
https://avro.apache.org/docs/current/specification/) plus an
Arrow-batched `functions.decode_avro` that decodes inside `mapInPandas` —
rows cross the JVM/Python boundary once per batch, not per row.

On a cluster with spark-avro available, `decode_avro` routes to the JVM
`from_avro` instead, when its probe `_jvm_from_avro_available` resolves
and no reader schema is asked for. Avro container files (`ocf.py`) go
through Spark's built-in Avro file format.
"""

from .codec import decode, encode
from .schema import avro_to_spark_type, parse_schema

__all__ = ["decode", "encode", "parse_schema", "avro_to_spark_type"]
