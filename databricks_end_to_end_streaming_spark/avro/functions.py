"""`from_avro` equivalent: decode an Avro-binary column into a struct.

`decode_avro(df, payload_col, schema_json, mode)` appends the decoded
record as a struct column (default name `parsedValue`, matching the
reference's `from_avro(...).as('parsedValue)` at ingest_raw.scala:144 /
ingest.scala:162), honoring from_avro's two corrupt-record modes:

* PERMISSIVE (ingest_raw.scala:125-126): malformed payload -> struct of
  all-null fields.
* FAILFAST (ingest.scala:129-131): malformed payload -> the task (and
  the streaming query) fails.

The decode runs in the JVM. `AvroWireDecode.java` (next to this file)
is a Java UDF over Avro's own `GenericDatumReader`, from the
`avro-*.jar` Spark already ships; `session.py` compiles it once per
cache entry and puts the jar on `spark.jars`. `decode_avro` builds the
column from its static `udf(...)` factory, unnamed, so it also resolves
in the cloned session a foreachBatch body runs in. The plan holds no
Python node and no Python worker starts.

When the class does not resolve (no `javac` where the session was
built), `decode_avro` decodes with the pure-Python codec (codec.py)
inside `mapInPandas`: rows move JVM->Python once per Arrow batch. That
codec is also the reference the JVM decoder is tested against.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .schema import parse_schema, record_to_struct

_DECODER_CLASS = "databricks_end_to_end_streaming_spark.avro.AvroWireDecode"


def _jvm_decoder(spark):
    """The compiled decoder class, or None when it is not on this
    session's classpath. One py4j lookup per call, so nothing outlives
    the SparkContext it was asked of."""
    from py4j.java_gateway import JavaClass

    cls = getattr(spark._jvm, _DECODER_CLASS)
    return cls if isinstance(cls, JavaClass) else None


def encode_avro(
    df: DataFrame,
    schema_json: str | dict,
    output_col: str = "payload",
    field_cols: list[str] | None = None,
) -> DataFrame:
    """`to_avro` equivalent: serialize the schema's fields from each row
    into an Avro-binary column (Arrow-batched). The distributed form of
    the reference producers' per-record serialization
    (producer.scala:132-155, producer.py:126-149)."""
    schema_dict = json.loads(_json_str(schema_json))
    names = field_cols or [f["name"] for f in schema_dict["fields"]]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(output_col, T.BinaryType(), True)]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .codec import encode

        for pdf in batches:
            # Column-wise zip instead of iterrows(): avoids building a
            # pandas Series per row (the encode itself is per-record
            # Python either way — the pure-Python codec's cost floor).
            cols = [pdf[n] for n in names]
            payloads = [
                encode(dict(zip(names, vals)), schema_dict)
                for vals in zip(*cols)
            ]
            out = pdf.copy()
            out[output_col] = payloads
            yield out

    return df.mapInPandas(mapper, out_schema)


def decode_avro(
    df: DataFrame,
    payload_col: str,
    schema_json: str | dict,
    mode: str = "PERMISSIVE",
    output_col: str = "parsedValue",
    reader_schema_json: str | dict | None = None,
) -> DataFrame:
    """Append ``output_col`` struct decoded from the Avro-binary
    ``payload_col``. Passthrough columns are preserved.

    ``reader_schema_json`` enables Avro schema resolution (spec §Schema
    Resolution): payloads are decoded with the writer schema
    (``schema_json``) and projected to the READER's shape, absent fields
    taking their declared defaults — the registry-compatibility behavior
    Glue ``FULL`` implies (producer.scala:60-61). Without it, the decoded
    struct is the writer's shape and evolution is handled downstream by
    union-widening with NULLs (SURVEY T9). Both paths (module docstring)
    resolve the same way."""
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"mode must be PERMISSIVE or FAILFAST, got {mode!r}")
    schema_str = _json_str(schema_json)
    reader_str = None if reader_schema_json is None else _json_str(reader_schema_json)
    struct_type = record_to_struct(parse_schema(reader_str or schema_str))
    failfast = mode == "FAILFAST"
    spark = df.sparkSession
    decoder = _jvm_decoder(spark)
    if decoder is not None:
        from pyspark.sql.classic.column import Column, _to_java_column, _to_seq

        judf = decoder.udf(
            schema_str,
            reader_str,
            failfast,
            spark._jsparkSession.parseDataType(struct_type.json()),
        )
        cols = _to_seq(spark.sparkContext, [payload_col], _to_java_column)
        return df.withColumn(output_col, Column(judf.apply(cols)))

    if reader_str is not None:
        from .codec import reader_for

        read_record = reader_for(parse_schema(schema_str), parse_schema(reader_str))
    else:
        from .codec import decoder_for

        # resolve the decoder ONCE: decode() does its cache lookup on
        # every call, which is measurable at per-record frequency
        read_record = decoder_for(schema_str)
    field_names = [f.name for f in struct_type.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(output_col, struct_type, True)]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded: list[dict[str, Any] | None] = []
            for payload in pdf[payload_col]:
                try:
                    rec = read_record(bytes(payload))
                    decoded.append({n: rec.get(n) for n in field_names})
                except Exception:
                    if failfast:
                        raise
                    decoded.append({n: None for n in field_names})
            out = pdf.copy()
            out[output_col] = decoded
            yield out

    return df.mapInPandas(mapper, out_schema)


def _json_str(schema: str | dict) -> str:
    return schema if isinstance(schema, str) else json.dumps(schema)
