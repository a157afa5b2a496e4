"""Avro Object Container Files: byte-level round-trip (both codecs,
multi-block), corruption detection, and the distributed directory read
and export through Spark's Avro format, checked against the reference."""

from __future__ import annotations

import json

import pytest

from databricks_end_to_end_streaming_spark.avro.ocf import (
    AVRO_FORMAT,
    read_avro_files,
    read_ocf,
    write_ocf,
)

SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "kind", "type": "string"},
            {"name": "score", "type": ["null", "double"], "default": None},
        ],
    }
)

RECORDS = [
    {"id": i, "kind": f"k{i % 3}", "score": None if i % 5 == 0 else i / 4.0}
    for i in range(250)
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip_multiblock(tmp_path, codec):
    p = str(tmp_path / f"a-{codec}.avro")
    write_ocf(p, RECORDS, SCHEMA, codec=codec, records_per_block=100)
    schema, back = read_ocf(open(p, "rb").read())
    assert json.loads(schema) == json.loads(SCHEMA)
    assert back == RECORDS


def test_deterministic_bytes(tmp_path):
    p1, p2 = str(tmp_path / "x1.avro"), str(tmp_path / "x2.avro")
    write_ocf(p1, RECORDS, SCHEMA)
    write_ocf(p2, RECORDS, SCHEMA)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_corrupt_sync_detected(tmp_path):
    p = str(tmp_path / "c.avro")
    write_ocf(p, RECORDS[:10], SCHEMA)
    data = bytearray(open(p, "rb").read())
    data[-1] ^= 0xFF  # flip a bit in the trailing sync marker
    with pytest.raises(ValueError, match="sync marker"):
        read_ocf(bytes(data))


def test_bad_magic_rejected():
    with pytest.raises(ValueError, match="bad magic"):
        read_ocf(b"PAR1" + b"\x00" * 32)


def test_read_avro_files_distributed(spark, workdir):
    import os

    os.makedirs(f"{workdir}/avrodir")
    for part in range(3):
        write_ocf(
            f"{workdir}/avrodir/part-{part}.avro",
            RECORDS[part * 50 : (part + 1) * 50],
            SCHEMA,
            records_per_block=20,
        )
    df = read_avro_files(spark, f"{workdir}/avrodir")
    assert df.columns == ["id", "kind", "score"]
    got = sorted(
        (r["id"], r["kind"], r["score"]) for r in df.collect()
    )
    want = sorted(
        (r["id"], r["kind"], r["score"]) for r in RECORDS[:150]
    )
    assert got == want


def test_write_avro_files_roundtrip(spark, workdir):
    """Executor-side .avro export -> distributed read -> same rows."""
    from databricks_end_to_end_streaming_spark.avro.ocf import write_avro_files

    schema = json.dumps(
        {
            "type": "record",
            "name": "ev",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "kind", "type": "string"},
            ],
        }
    )
    df = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(500)], "id long, kind string"
    ).repartition(4)
    write_avro_files(df, f"{workdir}/export", schema)

    import os

    files = [f for f in os.listdir(f"{workdir}/export") if f.endswith(".avro")]
    assert len(files) >= 2  # parallel, one file per non-empty partition

    back = read_avro_files(spark, f"{workdir}/export")
    got = sorted((r["id"], r["kind"]) for r in back.collect())
    assert got == sorted((i, f"k{i % 3}") for i in range(500))


def _records_df(spark):
    return spark.createDataFrame(
        [(r["id"], r["kind"], r["score"]) for r in RECORDS],
        "id long, kind string, score double",
    ).repartition(3)


def test_read_avro_files_snappy(spark, workdir):
    """Spark's Avro writer defaults to snappy, which the reference codec
    rejects; the directory read still decodes it."""
    import os

    src = _records_df(spark)
    path = f"{workdir}/snappy"
    src.write.format(AVRO_FORMAT).save(path)
    first = sorted(f for f in os.listdir(path) if f.endswith(".avro"))[0]
    with pytest.raises(ValueError, match="snappy"):
        read_ocf(open(f"{path}/{first}", "rb").read())

    back = read_avro_files(spark, path)
    assert back.columns == ["id", "kind", "score"]
    assert sorted(back.collect()) == sorted(src.collect())


def test_read_avro_files_plan_has_no_python(spark, workdir):
    import os

    os.makedirs(f"{workdir}/plan")
    write_ocf(f"{workdir}/plan/part-0.avro", RECORDS[:20], SCHEMA)
    df = read_avro_files(spark, f"{workdir}/plan")
    assert df.count() == 20
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan


def test_write_avro_files_readable_by_reference(spark, workdir):
    """Every exported file decodes with the pure-Python reader, so the
    export codec stays one the reference implementation supports."""
    import os

    from databricks_end_to_end_streaming_spark.avro.ocf import write_avro_files

    src = _records_df(spark)
    path = f"{workdir}/export_ref"
    write_avro_files(src, path, SCHEMA)

    files = sorted(f for f in os.listdir(path) if f.endswith(".avro"))
    assert files
    got = []
    for f in files:
        _schema, recs = read_ocf(open(f"{path}/{f}", "rb").read())
        got += recs
    assert sorted(got, key=lambda r: r["id"]) == RECORDS


def test_read_avro_files_older_files_read_null(spark, workdir):
    """Files written with an older schema read NULL for the columns the
    first file's (newer) schema adds; each file keeps its own codec."""
    import os

    old_schema = json.dumps(
        {
            "type": "record",
            "name": "ev",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "kind", "type": "string"},
            ],
        }
    )
    old = [{"id": 1000 + i, "kind": "old"} for i in range(30)]
    os.makedirs(f"{workdir}/mixed")
    write_ocf(f"{workdir}/mixed/a-new.avro", RECORDS[:50], SCHEMA, codec="deflate")
    write_ocf(f"{workdir}/mixed/b-old.avro", old, old_schema)
    df = read_avro_files(spark, f"{workdir}/mixed")
    got = sorted((r["id"], r["kind"], r["score"]) for r in df.collect())
    want = sorted(
        [(r["id"], r["kind"], r["score"]) for r in RECORDS[:50]]
        + [(r["id"], r["kind"], None) for r in old]
    )
    assert got == want
