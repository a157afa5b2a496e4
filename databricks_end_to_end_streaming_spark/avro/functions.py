"""`from_avro` equivalent over Arrow batches.

`decode_avro(df, payload_col, schema_json, mode)` appends the decoded
record as a struct column (default name `parsedValue`, matching the
reference's `from_avro(...).as('parsedValue)` at ingest_raw.scala:144 /
ingest.scala:162), honoring from_avro's two corrupt-record modes:

* PERMISSIVE (ingest_raw.scala:125-126): malformed payload -> struct of
  all-null fields.
* FAILFAST (ingest.scala:129-131): malformed payload -> the task (and
  the streaming query) fails.

Decoding runs inside mapInPandas: rows move JVM->Python once per Arrow
batch; the per-record decode is the pure-Python codec (codec.py). If a
spark-avro jar is on the classpath, a decode without a reader schema
routes to the native from_avro instead.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .schema import parse_schema, record_to_struct


_JVM_AVRO_OK: bool | None = None


def _jvm_from_avro_available(spark) -> bool:
    """True iff the native from_avro actually resolves — probed by
    analyzing (not executing) a one-row plan, since the Python wrapper
    exists even when the spark-avro data source isn't loaded."""
    global _JVM_AVRO_OK
    if _JVM_AVRO_OK is None:
        try:
            from pyspark.sql.avro.functions import from_avro

            probe = spark.createDataFrame([(b"\x02",)], "b binary").select(
                from_avro(F.col("b"), '{"type": "long"}')
            )
            probe.schema  # forces analysis; raises if avro not loaded
            _JVM_AVRO_OK = True
        except Exception:
            _JVM_AVRO_OK = False
    return _JVM_AVRO_OK


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
    schema_str = (
        schema_json if isinstance(schema_json, str) else json.dumps(schema_json)
    )
    schema_dict = json.loads(schema_str)
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
    union-widening with NULLs (SURVEY T9). Resolution always uses the
    Python codec — the JVM from_avro takes one schema only."""
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"mode must be PERMISSIVE or FAILFAST, got {mode!r}")
    schema_str = (
        schema_json if isinstance(schema_json, str) else json.dumps(schema_json)
    )
    spark = df.sparkSession
    if reader_schema_json is None and _jvm_from_avro_available(spark):
        from pyspark.sql.avro.functions import from_avro

        return df.withColumn(
            output_col,
            from_avro(F.col(payload_col), schema_str, {"mode": mode}),
        )

    schema_dict = json.loads(schema_str)
    if reader_schema_json is not None:
        from .codec import reader_for

        reader_str = (
            reader_schema_json
            if isinstance(reader_schema_json, str)
            else json.dumps(reader_schema_json)
        )
        reader_parsed = parse_schema(reader_str)
        struct_type = record_to_struct(reader_parsed)
        read_record = reader_for(parse_schema(schema_str), reader_parsed)
    else:
        from .codec import decoder_for

        struct_type = record_to_struct(parse_schema(schema_str))
        # resolve the decoder ONCE: decode() re-stringifies the schema
        # dict for its cache key on every call, which is measurable at
        # per-record frequency
        read_record = decoder_for(schema_dict)
    field_names = [f.name for f in struct_type.fields]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(output_col, struct_type, True)]
    )
    failfast = mode == "FAILFAST"

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
