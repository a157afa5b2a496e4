"""Small-file compaction: fewer files, identical data, partition layout
and crash-window healing preserved."""

from __future__ import annotations

from databricks_end_to_end_streaming_spark.streaming import ParquetTable


def test_compact_reduces_files_keeps_rows(spark, workdir):
    t = ParquetTable(f"{workdir}/t")
    for i in range(6):  # 6 appends x 4 partitions = many small files
        df = spark.range(i * 10, (i + 1) * 10).repartition(4)
        t.append(df)
    before_rows = sorted(r["id"] for r in t.read(spark).collect())
    stats = t.compact(spark)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1  # tiny table -> one right-sized file
    after_rows = sorted(r["id"] for r in t.read(spark).collect())
    assert after_rows == before_rows == list(range(60))


def test_compact_preserves_partition_dirs(spark, workdir):
    import os

    t = ParquetTable(f"{workdir}/p", partition_by=["k"])
    for _ in range(3):
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "v long, k string"
        ).repartition(3)
        t.append(df)
    t.compact(spark)
    dirs = {d for d in os.listdir(f"{workdir}/p") if d.startswith("k=")}
    assert dirs == {"k=a", "k=b"}
    got = sorted(
        (r["v"], r["k"]) for r in t.read(spark).collect()
    )
    assert got == sorted([(1, "a"), (2, "b"), (3, "a")] * 3)


def test_compact_survives_swap_crash_window(spark, workdir):
    import os

    t = ParquetTable(f"{workdir}/c")
    t.append(spark.range(10))
    # simulate a crash after the live dir was renamed aside
    os.rename(f"{workdir}/c", f"{workdir}/c._old")
    assert t.exists()  # _recover_swap heals on entry
    stats = t.compact(spark)
    assert stats["files_after"] >= 1
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(10))


def test_compact_with_zorder_clusters_files(spark, workdir):
    """compact(zorder=[...]) rewrites into Morton-clustered files whose
    per-file min/max bounds are tight on BOTH clustered columns."""
    import pyarrow.parquet as pq
    import os

    def file_spans(path):
        spans = []
        for r, _d, fs in os.walk(path):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(r, f)).metadata
                sch = md.schema.to_arrow_schema()
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    sx = rg.column(sch.get_field_index("x")).statistics
                    sy = rg.column(sch.get_field_index("y")).statistics
                    spans.append((sx.max - sx.min, sy.max - sy.min))
        return spans

    side = 64
    rows = [(x, y) for x in range(side) for y in range(side)]

    t = ParquetTable(f"{workdir}/z")
    t.append(spark.createDataFrame(rows, "x long, y long").repartition(8))
    stats = t.compact(spark, target_file_bytes=4096, zorder=["x", "y"])
    assert stats["files_after"] >= 4

    s = ParquetTable(f"{workdir}/s")
    s.append(spark.createDataFrame(rows, "x long, y long").repartition(8))
    s.compact(spark, target_file_bytes=4096)  # plain compaction baseline

    z_spans, base_spans = file_spans(f"{workdir}/z"), file_spans(f"{workdir}/s")
    mean = lambda sp: sum(dx + dy for dx, dy in sp) / len(sp)  # noqa: E731
    # Morton clustering tightens the average per-row-group bounding box
    # versus unclustered compaction by a wide margin
    assert mean(z_spans) < 0.7 * mean(base_spans), (z_spans, base_spans)
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == sorted(rows)


def test_compact_partitions_rewrites_only_selected(spark, workdir):
    """OPTIMIZE ... WHERE analog: the named partition collapses to few
    files, other partitions' files are byte-identical and untouched."""
    import os

    t = ParquetTable(f"{workdir}/psel", partition_by=["k"])
    for i in range(4):  # 4 appends -> many small files per partition
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, "a" if j % 2 else "b") for j in range(10)],
                "id int, k string",
            )
        )
    before_rows = sorted(r["id"] for r in t.read(spark).collect())

    def files_of(part):
        d = f"{workdir}/psel/k={part}"
        return sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    b_files_before = files_of("b")
    b_sig_before = [(f, os.path.getsize(f)) for f in b_files_before]
    a_before = len(files_of("a"))
    assert a_before >= 4

    report = t.compact_partitions(spark, ["a"])
    assert report["a"]["files_before"] == a_before
    assert report["a"]["files_after"] < a_before

    # untouched partition: identical file list and sizes
    assert [(f, os.path.getsize(f)) for f in files_of("b")] == b_sig_before
    # table content and partition values preserved
    got = t.read(spark)
    assert sorted(r["id"] for r in got.collect()) == before_rows
    assert got.where("k = 'a'").count() == 20
    # absent partition value reports zeros instead of failing
    rep2 = t.compact_partitions(spark, ["zzz"])
    assert rep2["zzz"]["files_before"] == 0


def test_partition_swap_crash_windows_heal(spark, workdir):
    """Both partition-level crash windows recover on next access:
    aside-only restores the data; aside+complete-live drops the stale
    duplicate before partition discovery can read it."""
    import os
    import shutil

    t = ParquetTable(f"{workdir}/pcrash", partition_by=["k"])
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "id int, k string"
        )
    )
    pdir = f"{workdir}/pcrash/k=a"

    # window 1: renamed aside, new dir never landed
    os.rename(pdir, pdir + "._old")
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3]
    assert os.path.isdir(pdir) and not os.path.isdir(pdir + "._old")

    # window 2: new dir landed, stale aside left behind
    shutil.copytree(pdir, pdir + "._old")
    got = t.read(spark)
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]  # no dupes
    assert not os.path.isdir(pdir + "._old")


def test_unpartitioned_token_tree_heals_root_swap_without_tree_walk(
    spark, workdir, monkeypatch
):
    """An unpartitioned, token-keyed table (the raw layout: one
    batchid=N/schemaid=M dir per batch and schema) still heals a crash
    in the root swap window, and the heal never walks the token tree —
    it runs on every access, and the tree grows with every trigger."""
    import os

    t = ParquetTable(f"{workdir}/tok")
    for b in range(3):
        for s in (1, 2):
            t.idempotent_append(
                spark.createDataFrame([(b * 10 + s,)], "id int"),
                f"batchid={b}/schemaid={s}",
            )
    ids = sorted(r["id"] for r in t.read(spark).collect())
    os.rename(t.path, t.path + "._old")  # crashed between swap renames

    def no_walk(*_a, **_k):
        raise AssertionError("_recover_swap walked the table tree")

    with monkeypatch.context() as m:
        m.setattr(os, "walk", no_walk)
        t._recover_swap()
    assert os.path.isdir(t.path) and not os.path.isdir(t.path + "._old")
    assert sorted(r["id"] for r in t.read(spark).collect()) == ids


def test_vacuum_cleans_partition_staging_leftovers(spark, workdir):
    import os

    t = ParquetTable(f"{workdir}/pvac", partition_by=["k"])
    t.append(spark.createDataFrame([(1, "a")], "id int, k string"))
    os.makedirs(f"{workdir}/pvac._staging_k=a", exist_ok=True)
    res = t.vacuum()
    assert any("._staging_k=a" in p for p in res["removed"])
    assert not os.path.exists(f"{workdir}/pvac._staging_k=a")
