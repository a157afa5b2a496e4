"""Avro schema parsing: .avsc JSON -> a small schema model + Spark types.

Handles the subset of Avro exercised by the reference schemas
(/root/reference/schema/product-v1.avsc, product-v2.avsc: records of
string/long fields with defaults) plus the rest of the primitive types,
unions, arrays, maps, enums, and fixed so arbitrary event schemas work.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T

PRIMITIVES = {
    "null",
    "boolean",
    "int",
    "long",
    "float",
    "double",
    "bytes",
    "string",
}


@dataclass
class Field:
    name: str
    type: Any  # normalized Avro type (str | dict | list for unions)
    has_default: bool = False
    default: Any = None


@dataclass
class RecordSchema:
    name: str
    fields: list[Field] = field(default_factory=list)

    @property
    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]


def parse_schema(schema_json: str | dict) -> RecordSchema:
    """Parse an .avsc record schema into a RecordSchema."""
    s = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    if s.get("type") != "record":
        raise ValueError(f"top-level schema must be a record, got {s.get('type')!r}")
    fields = [
        Field(
            name=f["name"],
            type=f["type"],
            has_default="default" in f,
            default=f.get("default"),
        )
        for f in s["fields"]
    ]
    return RecordSchema(name=s.get("name", "record"), fields=fields)


def avro_to_spark_type(avro_type: Any) -> T.DataType:
    """Map a (normalized) Avro type to the Spark SQL type `from_avro`
    would produce."""
    if isinstance(avro_type, str):
        return {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }[avro_type]
    if isinstance(avro_type, list):  # union: non-null branch, nullable
        non_null = [t for t in avro_type if t != "null"]
        if len(non_null) != 1:
            raise ValueError(f"only unions of null + one type supported: {avro_type}")
        return avro_to_spark_type(non_null[0])
    if isinstance(avro_type, dict):
        kind = avro_type["type"]
        if kind == "record":
            return record_to_struct(parse_schema(avro_type))
        if kind == "array":
            return T.ArrayType(avro_to_spark_type(avro_type["items"]))
        if kind == "map":
            return T.MapType(T.StringType(), avro_to_spark_type(avro_type["values"]))
        if kind == "enum":
            return T.StringType()
        if kind == "fixed":
            return T.BinaryType()
        return avro_to_spark_type(kind)  # {"type": "string"} style nesting
    raise ValueError(f"unsupported avro type: {avro_type!r}")


def record_to_struct(schema: RecordSchema) -> T.StructType:
    """RecordSchema -> StructType. All fields are nullable in the Spark
    struct (matching from_avro's PERMISSIVE posture, where a corrupt
    record nulls every column)."""
    return T.StructType(
        [T.StructField(f.name, avro_to_spark_type(f.type), True) for f in schema.fields]
    )


def union_struct(*schemas: RecordSchema) -> T.StructType:
    """The union-widened struct of several schema versions — the physical
    shape a mergeSchema sink converges to (SURVEY T9): columns in
    first-seen order, later versions appending new columns."""
    seen: dict[str, T.StructField] = {}
    for s in schemas:
        for f in record_to_struct(s).fields:
            if f.name not in seen:
                seen[f.name] = f
    return T.StructType(list(seen.values()))
