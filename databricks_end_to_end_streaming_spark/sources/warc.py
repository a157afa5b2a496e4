"""WARC/WET web-archive container source (ISO 28500, the public
WARC 1.1 specification; WET is the Common Crawl "conversion"-record
profile of the same container). Real web corpora arrive as `.warc.gz` /
`.wet.gz` segment files — this module is the "real first mile" in front
of the HTML->text and curation queries (queries/web.py), replacing
their synthesized columns with bytes parsed off the wire format.

Format essentials implemented here (all from the public spec):

* a segment is a sequence of records; a record is
  ``WARC/1.1\\r\\n`` + named headers (``WARC-Type``,
  ``WARC-Record-ID``, ``WARC-Date``, ``WARC-Target-URI``,
  ``Content-Type``, ``Content-Length``) + CRLF + a Content-Length-byte
  block + CRLF CRLF;
* ``.warc.gz`` compresses EACH RECORD as its own gzip member
  (spec annex: per-record members are what make segment files
  splittable/seekable); the reader decompresses member-by-member and
  accepts plain uncompressed segments too;
* ``response`` records carry a full HTTP response (status line +
  headers + body) as their block; ``conversion`` (WET) records carry
  extracted text; ``warcinfo`` opens a segment and describes it.

Scale shape, mirroring ``avro/ocf.py``: Spark's ``binaryFile`` source
distributes whole segment files to executors and an Arrow-batched
``mapInPandas`` splits records there — parallelism is per-segment,
the natural WARC granularity (Common Crawl ships ~1 GiB segments in
the tens of thousands, far more files than executors). The writer is
``applyInPandas`` per segment key — executor-side, no driver collect,
deterministic bytes (fixed gzip mtime, caller-supplied record order)
so re-synthesis is reproducible. No third-party warc library is used
or needed — the container is ~100 lines of framing."""

from __future__ import annotations

import gzip
import os
import zlib
from typing import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

CRLF = b"\r\n"
_VERSION = b"WARC/1.1"

#: fixed warcinfo block — ASCII and constant so accounting over
#: warcinfo records is exactly (#segments x len) on any engine
WARCINFO_PAYLOAD = (
    "software: databricks-end-to-end-streaming-spark warc-writer\r\n"
    "format: WARC File Format 1.1\r\n"
)

READ_SCHEMA = (
    "segment string, rec_idx int, warc_type string, record_id string, "
    "warc_date string, target_uri string, content_type string, "
    "content_length long, block binary"
)


# ------------------------------------------------------------ framing


def warc_record_bytes(
    warc_type: str,
    block: bytes,
    record_id: str,
    date: str,
    target_uri: str | None = None,
    content_type: str = "application/octet-stream",
) -> bytes:
    """One spec-framed record. Header order is fixed so identical
    inputs produce identical bytes."""
    head = [_VERSION]
    head.append(b"WARC-Type: " + warc_type.encode())
    head.append(b"WARC-Record-ID: " + record_id.encode())
    head.append(b"WARC-Date: " + date.encode())
    if target_uri is not None:
        head.append(b"WARC-Target-URI: " + target_uri.encode())
    head.append(b"Content-Type: " + content_type.encode())
    head.append(b"Content-Length: " + str(len(block)).encode())
    return CRLF.join(head) + CRLF + CRLF + block + CRLF + CRLF


def _gunzip_members(data: bytes) -> bytes:
    """Concatenate every gzip member (per-record members, per spec)."""
    out = bytearray()
    while data:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(data)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member in WARC segment")
        data = d.unused_data
    return bytes(out)


def parse_warc(data: bytes) -> list[dict]:
    """Split one segment's bytes into records. Accepts gzip'd (any
    member layout) and plain segments. Loud on malformation — a corrupt
    archive should fail the job, not silently drop records."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(bytes(data))
    else:
        data = bytes(data)
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        while pos < n and data[pos : pos + 2] == CRLF:  # inter-record pad
            pos += 2
        if pos >= n:
            break
        end = data.find(CRLF + CRLF, pos)
        if end < 0:
            raise ValueError("WARC record header without terminating blank line")
        header_lines = data[pos:end].split(CRLF)
        if not header_lines[0].startswith(b"WARC/"):
            raise ValueError(
                f"expected WARC version line, got {header_lines[0][:40]!r}"
            )
        hdrs: dict[str, str] = {}
        for line in header_lines[1:]:
            name, _, value = line.partition(b":")
            hdrs[name.decode().strip().lower()] = value.decode().strip()
        try:
            clen = int(hdrs["content-length"])
        except KeyError:
            raise ValueError("WARC record missing Content-Length") from None
        body_start = end + 4
        block = data[body_start : body_start + clen]
        if len(block) != clen:
            raise ValueError("WARC block truncated (Content-Length overruns file)")
        records.append(
            {
                "warc_type": hdrs.get("warc-type"),
                "record_id": hdrs.get("warc-record-id"),
                "warc_date": hdrs.get("warc-date"),
                "target_uri": hdrs.get("warc-target-uri"),
                "content_type": hdrs.get("content-type"),
                "content_length": clen,
                "block": block,
            }
        )
        pos = body_start + clen
        if data[pos : pos + 4] != CRLF + CRLF:
            raise ValueError("WARC record missing trailing CRLF CRLF")
        pos += 4
    return records


# ------------------------------------------------------------- reader


# suffix match, not substring: '%.warc%' would also load the writer's
# '.tmp' staging files (defeating the atomic-rename protocol) — a
# truncated tmp would kill the read and a complete one would
# double-count its segment
_SEGMENT_FILTER = (
    "path LIKE '%.warc' OR path LIKE '%.warc.gz'"
    " OR path LIKE '%.wet' OR path LIKE '%.wet.gz'"
)

#: binaryFile's fixed schema — the STREAMING source requires it spelled
#: out (file-stream sources don't infer)
BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _split_records(files_df: DataFrame) -> DataFrame:
    """(path, content) -> one row per WARC record; shared by the batch
    and streaming readers so the two can never frame differently."""
    import pandas as pd

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "segment",
            "rec_idx",
            "warc_type",
            "record_id",
            "warc_date",
            "target_uri",
            "content_type",
            "content_length",
            "block",
        ]
        for pdf in batches:
            rows = []
            for path_, blob in zip(pdf["path"], pdf["content"]):
                seg = os.path.basename(path_)
                for i, rec in enumerate(parse_warc(bytes(blob))):
                    rows.append({"segment": seg, "rec_idx": i, **rec})
            yield pd.DataFrame(rows, columns=cols)

    return files_df.mapInPandas(mapper, schema=READ_SCHEMA)


def read_warc_files(spark, path: str) -> DataFrame:
    """Distributed WARC/WET directory read: whole segment files to
    executors via ``binaryFile``, record split in Arrow-batched
    ``mapInPandas``. One output row per record; ``block`` stays an
    opaque binary column (the multimodal-column discipline — downstream
    decides how to decode it)."""
    files_df = (
        spark.read.format("binaryFile")
        .load(path)
        .where(_SEGMENT_FILTER)
        .select("path", "content")
    )
    return _split_records(files_df)


def stream_warc_files(
    spark, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of ``read_warc_files``: a ``binaryFile``
    file-stream of segment files — the trigger unit is WHOLE segments
    (the natural WARC granularity; crawls land segment files, not
    records), split through the same record mapper. Feeds
    ``streaming/warc_stage.py``'s incremental first mile."""
    reader = spark.readStream.format("binaryFile").schema(
        BINARY_FILE_SCHEMA
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    files_df = (
        reader.load(path).where(_SEGMENT_FILTER).select("path", "content")
    )
    return _split_records(files_df)


def wet_conversion_rows(
    docs: DataFrame,
    n_segments: int = 4,
    text_col: str = "text",
    uri_col: str = "url",
) -> DataFrame:
    """Writer-shaped rows for a WET EXPORT: each document becomes one
    ``conversion`` record (Content-Type text/plain — the Common Crawl
    WET profile) carrying its extracted text as the block. Compose with
    ``write_warc_segments`` to round-trip a cleaned corpus back into
    the archive format downstream tools consume (pass
    ``extension='.wet.gz'`` to the writer so the export carries the WET
    name the reader's own suffix filter distinguishes). NULL text (a
    response block with no blank line makes the extraction NULL on real
    data) exports as an EMPTY block rather than crashing the writer
    deep inside a Python worker; NULL uris likewise."""
    return docs.select(
        (F.col("doc_id") % n_segments).cast("int").alias("seg"),
        "doc_id",
        F.lit("conversion").alias("warc_type"),
        F.coalesce(F.col(uri_col), F.lit("")).alias("target_uri"),
        F.lit("text/plain").alias("content_type"),
        F.coalesce(F.col(text_col), F.lit(""))
        .cast("binary")
        .alias("block"),
    )


def http_response_body(block_col: F.Column | str = "block") -> F.Column:
    """The body of a ``response`` record's HTTP block: everything after
    the FIRST blank line (HTTP/1.1 framing), as a string. Map-only
    (split with limit=2), whole-stage codegen."""
    c = F.col(block_col) if isinstance(block_col, str) else block_col
    return F.element_at(F.split(c.cast("string"), "\r\n\r\n", 2), 2)


# ------------------------------------------------------------- writer


def write_warc_segments(
    df: DataFrame,
    path: str,
    compress: bool = True,
    date: str = "2024-01-01T00:00:00Z",
    extension: str | None = None,
) -> int:
    """Executor-side segment writer: input rows
    (seg int, doc_id long, warc_type string, target_uri string,
    content_type string, block binary) group by ``seg``; each group
    becomes ``segment-{seg:05d}.warc[.gz]`` — a warcinfo record then the
    group's records in doc_id order. Bytes are deterministic (fixed
    date, doc_id-derived record ids, gzip mtime=0), so re-synthesis of
    the same relation reproduces identical files. Returns the number of
    segments written. Per-group executor work, no driver collect, no
    shuffle beyond the group-by."""
    import pandas as pd

    os.makedirs(path, exist_ok=True)

    def _gz(b: bytes) -> bytes:
        return gzip.compress(b, 9, mtime=0) if compress else b

    # extension override: a WET export should land as .wet[.gz] so
    # suffix-based consumers (including _SEGMENT_FILTER) classify it
    ext = extension or (".warc.gz" if compress else ".warc")

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        out = bytearray()
        out += _gz(
            warc_record_bytes(
                "warcinfo",
                WARCINFO_PAYLOAD.encode(),
                record_id=f"<urn:warc:info:{seg}>",
                date=date,
                content_type="application/warc-fields",
            )
        )
        for r in pdf.itertuples(index=False):
            out += _gz(
                warc_record_bytes(
                    r.warc_type,
                    bytes(r.block),
                    record_id=f"<urn:warc:{r.warc_type}:{int(r.doc_id)}>",
                    date=date,
                    target_uri=r.target_uri,
                    content_type=r.content_type,
                )
            )
        final = os.path.join(path, f"segment-{seg:05d}{ext}")
        tmp = final + ".tmp"
        with open(tmp, "wb") as f:
            f.write(out)
        os.replace(tmp, final)  # atomic: readers never see partial bytes
        return pd.DataFrame({"seg": [seg], "n_records": [len(pdf)]})

    written = df.groupBy("seg").applyInPandas(
        write_group, schema="seg int, n_records long"
    )
    return written.count()
