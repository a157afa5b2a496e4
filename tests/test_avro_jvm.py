"""Both ``decode_avro`` engines against the pure-Python codec, their
reference: the JVM decoder (``avro/AvroWireDecode.java``) and the
``mapInPandas`` fallback a session without the compiled class takes.

Each parity and malformed-payload case runs on both engines; every
decode asserts its plan holds its engine's node, so neither can pass by
running on the other. ``test_jvm_decoder_resolves`` fails when the class
did not build or load. Also pinned: the demux plan holds no Python
node, a streaming ingest (whose foreachBatch runs on a cloned session)
lands what the codec decodes, and ``session_conf`` compiles the decoder
once per cache entry.
"""

from __future__ import annotations

import json
import os
import re
from contextlib import contextmanager
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from databricks_end_to_end_streaming_spark import session
from databricks_end_to_end_streaming_spark.avro import functions as avro_functions
from databricks_end_to_end_streaming_spark.avro.codec import (
    decoder_for,
    encode,
    reader_for,
)
from databricks_end_to_end_streaming_spark.avro.functions import (
    _jvm_decoder,
    decode_avro,
)
from databricks_end_to_end_streaming_spark.avro.schema import parse_schema
from databricks_end_to_end_streaming_spark.registry import InMemorySchemaRegistry
from databricks_end_to_end_streaming_spark.schemas import (
    PRODUCT_V1_JSON,
    PRODUCT_V2_JSON,
)
from databricks_end_to_end_streaming_spark.sources import (
    events_to_wire,
    file_stream,
    generate_events,
    write_topic_files,
)
from databricks_end_to_end_streaming_spark.streaming import (
    ParquetTable,
    ingest_avro_stream,
)
from databricks_end_to_end_streaming_spark.streaming import ingest

I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
TEXT = st.text(max_size=20)

# Every type avro_to_spark_type maps. A string comes first so that the
# GARBAGE payload below reads a negative length in both decoders.
ALL_TYPES = json.dumps(
    {
        "type": "record",
        "name": "allTypes",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "by", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "four", "size": 4}},
            {"name": "ns", "type": ["null", "string"]},
            {"name": "nl", "type": ["null", "long"]},
            {
                "name": "e",
                "type": {"type": "enum", "name": "rgb", "symbols": ["R", "G", "B"]},
            },
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": ["null", "double"]}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "x", "type": "int"},
                        {"name": "tags", "type": {"type": "array", "items": "string"}},
                    ],
                },
            },
            {
                "name": "items",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "item",
                        "fields": [{"name": "x", "type": "int"}],
                    },
                },
            },
        ],
    }
)

INNER = st.fixed_dictionaries({"x": I32, "tags": st.lists(TEXT, max_size=3)})
ALL_TYPES_RECORDS = st.fixed_dictionaries(
    {
        "s": TEXT,
        "b": st.booleans(),
        "i": I32,
        "l": I64,
        "f": st.floats(width=32, allow_nan=False),
        "d": st.floats(allow_nan=False),
        "by": st.binary(max_size=20),
        "fx": st.binary(min_size=4, max_size=4),
        "ns": st.none() | TEXT,
        "nl": st.none() | I64,
        "e": st.sampled_from(["R", "G", "B"]),
        "arr": st.lists(I64, max_size=5),
        "m": st.dictionaries(TEXT, st.none() | st.floats(allow_nan=False), max_size=4),
        "nested": INNER,
        "items": st.lists(st.fixed_dictionaries({"x": I32}), max_size=3),
    }
)
PRODUCT_RECORDS = st.fixed_dictionaries(
    {"productId": TEXT, "eventId": TEXT, "type": TEXT, "timestamp": I64}
)
PRODUCT_V2_RECORDS = st.fixed_dictionaries(
    {
        "productId": TEXT,
        "eventId": TEXT,
        "type": TEXT,
        "timestamp": I64,
        "size": TEXT,
        "color": TEXT,
    }
)

# An odd first byte is a negative zig-zag length for the leading string.
GARBAGE = b"\x01" * 8
# A leading string that claims 2**31 - 64 bytes, just under Avro's own
# length limit: reading it would allocate that much before finding the
# payload short.
OVERSIZED = b"\x80\xff\xff\xff\x0f" + b"xx"
CORRUPTIONS = ["truncated", "trailing", "garbage", "oversized", "null"]


def _corruptions(payload: bytes) -> list[bytes | None]:
    """One payload per entry of CORRUPTIONS."""
    return [payload[: len(payload) // 2], payload + b"\x00", GARBAGE, OVERSIZED, None]


# decode_avro's two engines and the node each puts in the plan
ENGINE_NODE = {"jvm": "UDF(", "python": "MapInPandas"}
# what a FAILFAST decode of a malformed payload raises on each engine
ENGINE_FAILURE = {
    "jvm": "FAILED_EXECUTE_UDF",
    "python": "thrown from the Python worker",
}


@contextmanager
def _engine(engine):
    """decode_avro on ``engine``: "python" hides the JVM class, as on a
    session built without javac."""
    if engine == "jvm":
        yield
        return
    with mock.patch.object(avro_functions, "_jvm_decoder", lambda spark: None):
        yield


def _decode(spark, payloads, writer, reader=None, mode="PERMISSIVE", engine="jvm"):
    df = spark.createDataFrame([(p,) for p in payloads], "payload binary")
    with _engine(engine):
        out = decode_avro(df, "payload", writer, mode=mode, reader_schema_json=reader)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ENGINE_NODE[engine] in plan, plan
    return [
        None if r.parsedValue is None else r.parsedValue.asDict(recursive=True)
        for r in out.collect()
    ]


def _python_rejects(read, payload) -> bool:
    try:
        read(payload)
    except Exception:
        return True
    return False


def _check_parity(spark, records, writer, reader=None, engine="jvm"):
    """The ``engine``'s decode of ``records`` plus the corruptions of the
    first one == the codec's decode, and all-null structs for the
    corruptions."""
    if reader is None:
        read = decoder_for(writer)
        names = [f.name for f in parse_schema(writer).fields]
    else:
        read = reader_for(parse_schema(writer), parse_schema(reader))
        names = [f.name for f in parse_schema(reader).fields]
    payloads = [encode(r, writer) for r in records]
    bad = _corruptions(payloads[0])
    assert all(_python_rejects(read, p) for p in bad)
    got = _decode(spark, payloads + bad, writer, reader, engine=engine)
    assert got[: len(payloads)] == [read(p) for p in payloads]
    assert got[len(payloads) :] == [dict.fromkeys(names)] * len(bad)


# (record-list strategy, writer schema, reader schema, examples) per
# parity case
PARITY = {
    "all_types": (
        st.lists(ALL_TYPES_RECORDS, min_size=1, max_size=20), ALL_TYPES, None, 25
    ),
    "product_v1": (
        st.lists(PRODUCT_RECORDS, min_size=1, max_size=30), PRODUCT_V1_JSON, None, 15
    ),
    "product_v2": (
        st.lists(PRODUCT_V2_RECORDS, min_size=1, max_size=30), PRODUCT_V2_JSON, None, 15
    ),
    # Avro's own resolution fills the v2-only fields with the reader's
    # defaults, as reader_for does
    "v1_to_v2_reader": (
        st.lists(PRODUCT_RECORDS, min_size=1, max_size=30),
        PRODUCT_V1_JSON,
        PRODUCT_V2_JSON,
        15,
    ),
}


def _parity_property(spark, case, engine):
    batches, writer, reader, examples = PARITY[case]

    @settings(max_examples=examples, deadline=None)
    @given(batches)
    def check(batch):
        _check_parity(spark, batch, writer, reader, engine)

    check()


def test_jvm_decoder_resolves(spark):
    """The JVM path is the one under test: javac is installed here, so
    the session must carry the compiled decoder."""
    assert _jvm_decoder(spark) is not None
    plan = decode_avro(
        spark.createDataFrame([(b"",)], "payload binary"), "payload", PRODUCT_V1_JSON
    )._jdf.queryExecution().executedPlan().toString()
    assert "UDF(" in plan and "MapInPandas" not in plan


def test_jvm_matches_codec_all_types(spark):
    _parity_property(spark, "all_types", "jvm")


def test_jvm_matches_codec_product_v1(spark):
    _parity_property(spark, "product_v1", "jvm")


def test_jvm_matches_codec_product_v2(spark):
    _parity_property(spark, "product_v2", "jvm")


def test_jvm_resolves_v1_writer_to_v2_reader(spark):
    _parity_property(spark, "v1_to_v2_reader", "jvm")


@pytest.mark.parametrize("case", PARITY)
def test_python_fallback_matches_codec(spark, case):
    _parity_property(spark, case, "python")


def _check_failfast(spark, kind, engine):
    good = encode(
        {"productId": "p", "eventId": "e", "type": "t", "timestamp": 7},
        PRODUCT_V1_JSON,
    )
    bad = dict(zip(CORRUPTIONS, _corruptions(good)))
    assert _decode(spark, [good], PRODUCT_V1_JSON, mode="FAILFAST", engine=engine)[0]
    with pytest.raises(Exception, match=ENGINE_FAILURE[engine]):
        _decode(
            spark, [good, bad[kind]], PRODUCT_V1_JSON, mode="FAILFAST", engine=engine
        )


@pytest.mark.parametrize("kind", CORRUPTIONS)
def test_jvm_failfast_raises_on_malformed(spark, kind):
    _check_failfast(spark, kind, "jvm")


@pytest.mark.parametrize("kind", CORRUPTIONS)
def test_python_fallback_failfast_raises_on_malformed(spark, kind):
    _check_failfast(spark, kind, "python")


PYTHON_NODE = re.compile(r"MapInPandas|\w*Python\w*|ArrowEval")
REGISTRY = InMemorySchemaRegistry({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})


def _capture_decodes(monkeypatch) -> list:
    """Record every DataFrame the demux builds with decode_avro."""
    decoded: list = []
    decode = ingest.decode_avro

    def capturing(*args, **kw):
        decoded.append(decode(*args, **kw))
        return decoded[-1]

    monkeypatch.setattr(ingest, "decode_avro", capturing)
    return decoded


def test_demux_decode_plan_has_no_python(spark, workdir, monkeypatch):
    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA

    decoded = _capture_decodes(monkeypatch)
    recs = events_to_wire(generate_events(200, seed=42))
    batch = spark.createDataFrame(
        [
            (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp, r.timestampType)
            for r in recs
        ],
        WIRE_SCHEMA,
    )
    ids = ingest.demux_decode_batch(
        batch,
        REGISTRY,
        ingest.confluent_framing(),
        ParquetTable(f"{workdir}/raw"),
        batch_id=0,
    )
    assert ids == [1, 2] and len(decoded) == 2
    for df in decoded:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "UDF(" in plan
        assert not PYTHON_NODE.search(plan), plan


def test_stream_ingest_lands_what_the_codec_decodes(spark, workdir, monkeypatch):
    """Two schema ids through ingest_avro_stream: the foreachBatch body
    runs on a cloned session, and the JVM decoder still resolves there."""
    decoded = _capture_decodes(monkeypatch)
    events = generate_events(80, seed=9, v1_ratio=0.5)
    recs = events_to_wire(events)
    write_topic_files(spark, recs, f"{workdir}/topic")
    raw = ParquetTable(f"{workdir}/raw")
    ingest_avro_stream(
        file_stream(spark, f"{workdir}/topic"),
        REGISTRY,
        raw,
        checkpoint=f"{workdir}/cp",
    )
    assert len(decoded) == 2
    assert all("UDF(" in df._jdf.queryExecution().analyzed().toString() for df in decoded)

    readers = {1: decoder_for(PRODUCT_V1_JSON), 2: decoder_for(PRODUCT_V2_JSON)}
    columns = [f.name for f in parse_schema(PRODUCT_V2_JSON).fields]
    expected = sorted(
        (r.offset, sid, tuple(rec.get(c) for c in columns))
        for r in recs
        for sid in [r.value[4]]
        for rec in [readers[sid](r.value[5:])]
    )
    got = sorted(
        (row.offset, row.valueSchemaId, tuple(row.parsedValue[c] for c in columns))
        for row in raw.read(spark).collect()
    )
    assert got == expected


def test_session_conf_puts_cached_decoder_jar_on_spark_jars(monkeypatch):
    jar = session.session_conf()["spark.jars"]
    assert os.path.basename(jar).startswith("avro-wire-decode-") and os.path.isfile(jar)
    mtime = os.stat(jar).st_mtime_ns

    def no_compile(*args, **kw):
        raise AssertionError("the cached decoder jar was rebuilt")

    monkeypatch.setattr(session.subprocess, "run", no_compile)
    assert session.session_conf()["spark.jars"] == jar
    assert os.stat(jar).st_mtime_ns == mtime
    # like every default, an explicit setting wins
    assert session.session_conf(extra_conf={"spark.jars": ""})["spark.jars"] == ""


def test_session_conf_without_javac_adds_no_jar(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))  # an empty cache
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    assert "spark.jars" not in session.session_conf()
    assert not os.listdir(tmp_path)
