"""Avro Object Container Files (OCF) — the on-disk `.avro` format.

The wire paths (Confluent / Glue framing, `avro/functions.py`) cover
Kafka; OCF covers the other half of the Avro ecosystem: topic archives
and batch landings are `.avro` FILES (header with embedded writer
schema + sync-marker-delimited blocks — Apache Avro spec, "Object
Container Files", public documentation).

Two layers:

* ``read_ocf`` / ``write_ocf`` — pure-Python, one file, over the codec
  in ``codec.py`` (null + deflate). They are the reference
  implementation the tests and ``bench.py`` compare against.
* ``read_avro_files`` / ``write_avro_files`` — `.avro` DIRECTORIES
  through Spark's built-in Avro file format, so rows never leave the
  JVM. The driver reads ONE header (the first file in sorted order) for
  the reader schema; each file is then decoded with its own embedded
  writer schema, and a column the file lacks reads NULL — the same
  union-widening posture as the parquet tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

from .codec import _build_decoder, _read_varint, _record_type, _write_varint, encode

MAGIC = b"Obj\x01"
_SUPPORTED_CODECS = ("null", "deflate")

# Spark's built-in Avro file source, named by class: the short name
# "avro" is only registered by the external spark-avro module, so
# format("avro") fails with "Failed to find data source: avro".
AVRO_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"


def _read_block_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_varint(buf, pos)
    return buf[pos : pos + n], pos + n


def _write_block_bytes(b: bytes, out: bytearray) -> None:
    _write_varint(len(b), out)
    out += b


def write_ocf(
    path: str,
    records: list[dict],
    schema_json: str | dict,
    codec: str = "null",
    sync: bytes | None = None,
    records_per_block: int = 1000,
) -> None:
    """Write records as one OCF file. The sync marker defaults to a
    deterministic schema digest so identical inputs produce identical
    bytes (reproducible artifacts, same discipline as the md5 sampling).
    """
    if codec not in _SUPPORTED_CODECS:
        raise ValueError(f"codec must be one of {_SUPPORTED_CODECS}")
    schema_str = (
        schema_json if isinstance(schema_json, str) else json.dumps(schema_json)
    )
    if sync is None:
        sync = hashlib.md5(schema_str.encode()).digest()
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")

    out = bytearray()
    out += MAGIC
    meta = {"avro.schema": schema_str.encode(), "avro.codec": codec.encode()}
    _write_varint(len(meta), out)
    for k, v in sorted(meta.items()):
        _write_block_bytes(k.encode(), out)
        _write_block_bytes(v, out)
    _write_varint(0, out)  # end of metadata map
    out += sync

    for start in range(0, len(records), records_per_block):
        block = records[start : start + records_per_block]
        body = bytearray()
        for rec in block:
            body += encode(rec, schema_str)
        data = bytes(body)
        if codec == "deflate":  # raw DEFLATE (RFC 1951), per the spec
            data = zlib.compress(data, 9)[2:-4]
        _write_varint(len(block), out)
        _write_block_bytes(data, out)
        out += sync

    with open(path, "wb") as f:
        f.write(bytes(out))


def _read_header(data: bytes) -> tuple[dict[str, bytes], int]:
    """Parse an OCF header's metadata map -> (metadata, position of the
    sync marker)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_varint(data, pos)
        if n == 0:
            break
        if n < 0:  # negative block count: abs count + byte size (spec)
            n = -n
            _size, pos = _read_varint(data, pos)
        for _ in range(n):
            k, pos = _read_block_bytes(data, pos)
            v, pos = _read_block_bytes(data, pos)
            meta[k.decode()] = v
    if "avro.schema" not in meta:
        raise ValueError("OCF header missing avro.schema")
    return meta, pos


def read_ocf(data: bytes) -> tuple[str, list[dict]]:
    """Parse one OCF byte string -> (writer schema JSON, records)."""
    meta, pos = _read_header(data)
    schema_str = meta["avro.schema"].decode()
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in _SUPPORTED_CODECS:
        raise ValueError(f"unsupported OCF codec {codec!r}")
    sync, pos = data[pos : pos + 16], pos + 16

    dec = _build_decoder(_record_type(schema_str))
    records: list[dict] = []
    while pos < len(data):
        count, pos = _read_varint(data, pos)
        body, pos = _read_block_bytes(data, pos)
        if data[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
        pos += 16
        if codec == "deflate":
            body = zlib.decompress(body, wbits=-15)
        bpos = 0
        for _ in range(count):
            val, bpos = dec(body, bpos)
            records.append(val)
        if bpos != len(body):
            raise ValueError("trailing bytes in OCF block")
    return schema_str, records


def read_avro_files(spark, path: str):
    """Distributed `.avro` directory read: the driver peeks ONE header
    for the reader schema, Spark's Avro format decodes the files."""
    from .schema import parse_schema, record_to_struct

    files = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".avro")
    )
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    with open(files[0], "rb") as fh:
        meta, _pos = _read_header(fh.read())
    struct = record_to_struct(parse_schema(meta["avro.schema"].decode()))
    return (
        spark.read.format(AVRO_FORMAT)
        .schema(struct)
        .option("pathGlobFilter", "*.avro")
        .load(path)
    )


def write_avro_files(df, path: str, schema_json: str | dict) -> None:
    """Distributed `.avro` directory EXPORT through Spark's Avro format:
    one file per non-empty partition, no driver collect, no shuffle.
    Re-running replaces the directory. Fields not in the schema are
    dropped. Deflate is pinned because Spark's default Avro codec is
    snappy, which ``read_ocf`` cannot decode."""
    schema_str = (
        schema_json if isinstance(schema_json, str) else json.dumps(schema_json)
    )
    field_names = [f["name"] for f in json.loads(schema_str)["fields"]]
    (
        df.select(*field_names)
        .write.format(AVRO_FORMAT)
        .option("avroSchema", schema_str)
        .option("compression", "deflate")
        .mode("overwrite")
        .save(path)
    )
