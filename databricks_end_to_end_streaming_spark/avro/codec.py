"""Pure-Python Avro *binary* codec (encode + decode).

Implements the Avro binary encoding from the public spec
(https://avro.apache.org/docs/current/specification/#binary-encoding):
zig-zag varint ints/longs, little-endian IEEE float/double,
length-prefixed bytes/string, index-prefixed unions, block-encoded
arrays/maps. The reference implementation the JVM decoder
(AvroWireDecode.java) is tested against, and decode_avro's fallback
inside Arrow-batched mapInPandas when that decoder is not built (see
functions.py).

Deliberately schema-driven and allocation-light: decoders are composed
closures built once per schema, then applied per record.
"""

from __future__ import annotations

import struct
from collections.abc import Callable
from typing import Any

from .schema import RecordSchema, parse_schema

# ---------------------------------------------------------------------------
# primitive readers/writers
# ---------------------------------------------------------------------------


def _write_varint(n: int, out: bytearray) -> None:
    """zig-zag + base-128 varint (spec: int/long encoding)."""
    n = (n << 1) ^ (n >> 63)  # zig-zag for 64-bit
    while (n & ~0x7F) != 0:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos  # un-zig-zag


# ---------------------------------------------------------------------------
# decoder composition
# ---------------------------------------------------------------------------

Decoder = Callable[[bytes, int], tuple[Any, int]]
Encoder = Callable[[Any, bytearray], None]


def _build_decoder(avro_type: Any) -> Decoder:
    if isinstance(avro_type, str):
        if avro_type == "null":
            return lambda buf, pos: (None, pos)
        if avro_type == "boolean":
            return lambda buf, pos: (buf[pos] != 0, pos + 1)
        if avro_type in ("int", "long"):
            return _read_varint
        if avro_type == "float":
            return lambda buf, pos: (
                struct.unpack_from("<f", buf, pos)[0],
                pos + 4,
            )
        if avro_type == "double":
            return lambda buf, pos: (
                struct.unpack_from("<d", buf, pos)[0],
                pos + 8,
            )
        if avro_type == "bytes":

            def read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
                n, pos = _read_varint(buf, pos)
                return bytes(buf[pos : pos + n]), pos + n

            return read_bytes
        if avro_type == "string":

            def read_str(buf: bytes, pos: int) -> tuple[str, int]:
                n, pos = _read_varint(buf, pos)
                return buf[pos : pos + n].decode("utf-8"), pos + n

            return read_str
        raise ValueError(f"unsupported primitive {avro_type!r}")

    if isinstance(avro_type, list):  # union: varint branch index, then value
        branches = [_build_decoder(t) for t in avro_type]

        def read_union(buf: bytes, pos: int) -> tuple[Any, int]:
            idx, pos = _read_varint(buf, pos)
            return branches[idx](buf, pos)

        return read_union

    if isinstance(avro_type, dict):
        kind = avro_type["type"]
        if kind == "record":
            schema = parse_schema(avro_type)
            names = schema.field_names
            decoders = [_build_decoder(f.type) for f in schema.fields]

            def read_record(buf: bytes, pos: int) -> tuple[dict, int]:
                rec = {}
                for name, dec in zip(names, decoders):
                    rec[name], pos = dec(buf, pos)
                return rec, pos

            return read_record
        if kind == "array":
            item = _build_decoder(avro_type["items"])

            def read_array(buf: bytes, pos: int) -> tuple[list, int]:
                out = []
                while True:
                    n, pos = _read_varint(buf, pos)
                    if n == 0:
                        break
                    if n < 0:  # block with byte size prefix
                        n = -n
                        _, pos = _read_varint(buf, pos)
                    for _ in range(n):
                        v, pos = item(buf, pos)
                        out.append(v)
                return out, pos

            return read_array
        if kind == "map":
            val = _build_decoder(avro_type["values"])
            key = _build_decoder("string")

            def read_map(buf: bytes, pos: int) -> tuple[dict, int]:
                out = {}
                while True:
                    n, pos = _read_varint(buf, pos)
                    if n == 0:
                        break
                    if n < 0:
                        n = -n
                        _, pos = _read_varint(buf, pos)
                    for _ in range(n):
                        k, pos = key(buf, pos)
                        out[k], pos = val(buf, pos)
                return out, pos

            return read_map
        if kind == "enum":
            symbols = avro_type["symbols"]

            def read_enum(buf: bytes, pos: int) -> tuple[str, int]:
                idx, pos = _read_varint(buf, pos)
                return symbols[idx], pos

            return read_enum
        if kind == "fixed":
            size = avro_type["size"]
            return lambda buf, pos: (bytes(buf[pos : pos + size]), pos + size)
        return _build_decoder(kind)
    raise ValueError(f"unsupported avro type: {avro_type!r}")


def _build_encoder(avro_type: Any) -> Encoder:
    if isinstance(avro_type, str):
        if avro_type == "null":
            return lambda v, out: None
        if avro_type == "boolean":
            return lambda v, out: out.append(1 if v else 0)
        if avro_type in ("int", "long"):
            return _write_varint
        if avro_type == "float":
            return lambda v, out: out.extend(struct.pack("<f", v))
        if avro_type == "double":
            return lambda v, out: out.extend(struct.pack("<d", v))
        if avro_type == "bytes":

            def write_bytes(v: bytes, out: bytearray) -> None:
                _write_varint(len(v), out)
                out.extend(v)

            return write_bytes
        if avro_type == "string":

            def write_str(v: str, out: bytearray) -> None:
                b = v.encode("utf-8")
                _write_varint(len(b), out)
                out.extend(b)

            return write_str
        raise ValueError(f"unsupported primitive {avro_type!r}")
    if isinstance(avro_type, list):
        # The "first non-null branch" dispatch below is only correct when
        # there is exactly one non-null branch (the nullable-field pattern
        # the wire schemas use). A union like ["null","int","string"]
        # would silently route a string through the int encoder and die
        # deep in _write_varint — reject it up front, mirroring the
        # decode-path restriction in schema.avro_to_spark_type.
        non_null = [t for t in avro_type if t != "null"]
        if len(non_null) > 1:
            raise ValueError(
                f"unsupported union {avro_type!r}: only 'null' plus one "
                "non-null branch is supported (nullable-field pattern)"
            )
        encoders = [_build_encoder(t) for t in avro_type]

        def write_union(v: Any, out: bytearray) -> None:
            # pick the null branch for None, first non-null branch otherwise
            for i, t in enumerate(avro_type):
                if (v is None) == (t == "null"):
                    _write_varint(i, out)
                    encoders[i](v, out)
                    return
            raise ValueError(f"no union branch for {v!r} in {avro_type}")

        return write_union
    if isinstance(avro_type, dict):
        kind = avro_type["type"]
        if kind == "record":
            schema = parse_schema(avro_type)
            encs = [(f.name, _build_encoder(f.type)) for f in schema.fields]

            def write_record(v: dict, out: bytearray) -> None:
                for name, enc in encs:
                    enc(v[name], out)

            return write_record
        if kind == "array":
            item = _build_encoder(avro_type["items"])

            def write_array(v: list, out: bytearray) -> None:
                if v:
                    _write_varint(len(v), out)
                    for x in v:
                        item(x, out)
                _write_varint(0, out)

            return write_array
        if kind == "map":
            val = _build_encoder(avro_type["values"])
            key = _build_encoder("string")

            def write_map(v: dict, out: bytearray) -> None:
                if v:
                    _write_varint(len(v), out)
                    for k, x in v.items():
                        key(k, out)
                        val(x, out)
                _write_varint(0, out)

            return write_map
        if kind == "enum":
            symbols = {s: i for i, s in enumerate(avro_type["symbols"])}
            return lambda v, out: _write_varint(symbols[v], out)
        if kind == "fixed":
            return lambda v, out: out.extend(v)
        return _build_encoder(kind)
    raise ValueError(f"unsupported avro type: {avro_type!r}")


# ---------------------------------------------------------------------------
# public API (cached per schema-json)
# ---------------------------------------------------------------------------

_DECODER_CACHE: dict[str, Decoder] = {}
_ENCODER_CACHE: dict[str, Encoder] = {}


def _record_type(schema_json: str | dict) -> dict:
    import json

    return json.loads(schema_json) if isinstance(schema_json, str) else schema_json


def decoder_for(schema_json: str | dict) -> Callable[[bytes], dict]:
    """Resolved payload->dict decoder for a schema. The cache lookup —
    and for dict schemas the str() key stringification — happens ONCE
    here instead of per record; in the Arrow-batched decode loop
    (avro/functions.py) that per-record str(schema_dict) was a
    measurable fraction of the whole decode."""
    key = schema_json if isinstance(schema_json, str) else str(schema_json)
    dec = _DECODER_CACHE.get(key)
    if dec is None:
        dec = _DECODER_CACHE[key] = _build_decoder(_record_type(schema_json))

    def read(payload: bytes) -> dict:
        value, pos = dec(payload, 0)
        if pos != len(payload):
            raise ValueError(
                f"trailing bytes: consumed {pos} of {len(payload)}"
            )
        return value

    return read


def decode(payload: bytes, schema_json: str | dict) -> dict:
    """Decode one Avro-binary record -> dict (raises on malformed input).
    For tight loops resolve ``decoder_for(schema)`` once instead."""
    return decoder_for(schema_json)(payload)


def encode(record: dict, schema_json: str | dict) -> bytes:
    """Encode a dict -> Avro-binary record bytes."""
    key = schema_json if isinstance(schema_json, str) else str(schema_json)
    enc = _ENCODER_CACHE.get(key)
    if enc is None:
        enc = _ENCODER_CACHE[key] = _build_encoder(_record_type(schema_json))
    out = bytearray()
    enc(record, out)
    return bytes(out)


def reader_for(writer_schema: RecordSchema, reader_schema: RecordSchema):
    """Schema-resolution reader: decode with the writer's schema, then
    project to the reader's fields, filling absent fields from reader
    defaults (Avro schema-resolution rules, spec §Schema Resolution).

    This is what makes v1 payloads readable with the v2 schema: v2-only
    fields take their declared defaults ("none" for size/color in
    product-v2.avsc:22-33).
    """

    import json as _json

    # invariant across records — serialize once, not per payload (the
    # str key also makes decode()'s decoder-cache lookup a dict hit
    # instead of a per-record dict stringification)
    writer_json = _json.dumps(_schema_to_json(writer_schema))

    def read(payload: bytes) -> dict:
        raw = decode(payload, writer_json)
        out = {}
        for f in reader_schema.fields:
            if f.name in raw:
                out[f.name] = raw[f.name]
            elif f.has_default:
                out[f.name] = f.default
            else:
                raise ValueError(
                    f"field {f.name!r} missing and has no default"
                )
        return out

    return read


def _schema_to_json(schema: RecordSchema) -> dict:
    return {
        "type": "record",
        "name": schema.name,
        "fields": [
            {"name": f.name, "type": f.type}
            | ({"default": f.default} if f.has_default else {})
            for f in schema.fields
        ],
    }
