"""Property-based tests (hypothesis) for the pure-Python Avro codec —
the reference the JVM decoder is tested against, and the fallback
decode_avro takes when the JVM decoder class does not resolve.
Roundtrip over the full supported type lattice (primitives, nullable
unions, arrays, maps, enums, nested records) plus zigzag-varint edge
cases. No SparkSession needed: these exercise the scalar codec that
decode_avro wraps in mapInPandas."""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from databricks_end_to_end_streaming_spark.avro.codec import (
    _read_varint,
    _write_varint,
    decode,
    encode,
)

SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "prop",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "ns", "type": ["null", "string"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "int"}},
            {
                "name": "e",
                "type": {"type": "enum", "name": "col", "symbols": ["R", "G", "B"]},
            },
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "long"}],
                },
            },
        ],
    }
)

I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)

RECORDS = st.fixed_dictionaries(
    {
        "b": st.booleans(),
        "i": I32,
        "l": I64,
        "d": st.floats(allow_nan=False),
        "s": st.text(max_size=80),
        "by": st.binary(max_size=80),
        "ns": st.none() | st.text(max_size=40),
        "arr": st.lists(I64, max_size=10),
        "m": st.dictionaries(st.text(max_size=10), I32, max_size=6),
        "e": st.sampled_from(["R", "G", "B"]),
        "nested": st.fixed_dictionaries({"x": I64}),
    }
)


@settings(max_examples=150, deadline=None)
@given(RECORDS)
def test_roundtrip_identity(record):
    assert decode(encode(record, SCHEMA), SCHEMA) == record


@settings(max_examples=150, deadline=None)
@given(RECORDS)
def test_encode_deterministic(record):
    assert encode(record, SCHEMA) == encode(record, SCHEMA)


@settings(max_examples=200, deadline=None)
@given(I64)
def test_zigzag_varint_roundtrip(n):
    buf = bytearray()
    _write_varint(n, buf)
    got, pos = _read_varint(bytes(buf), 0)
    assert got == n and pos == len(buf)


@settings(max_examples=100, deadline=None)
@given(st.floats(width=32, allow_nan=False))
def test_float32_roundtrip_exact(x):
    schema = json.dumps(
        {
            "type": "record",
            "name": "f",
            "fields": [{"name": "v", "type": "float"}],
        }
    )
    assert decode(encode({"v": x}, schema), schema) == {"v": x}


def test_varint_boundary_values():
    for n in (0, -1, 1, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63)):
        buf = bytearray()
        _write_varint(n, buf)
        assert _read_varint(bytes(buf), 0)[0] == n
