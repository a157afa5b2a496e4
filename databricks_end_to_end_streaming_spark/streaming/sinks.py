"""Table abstraction for the medallion layers.

The reference sinks everything to Delta catalog tables (saveAsTable /
toTable with mergeSchema — SURVEY K1-K3, T9). OSS Delta isn't available
in this container, so ParquetTable provides the same observable
contract on a parquet directory:

* append with schema evolution  -> each append writes its own files;
  reads use mergeSchema so the table union-widens (v1 rows read NULL for
  v2-only columns — exactly Delta's mergeSchema semantics for our case);
* idempotent foreachBatch appends -> each (batch_id, partition_key)
  lands in a deterministic subdirectory written with overwrite, so a
  replayed micro-batch overwrites itself instead of double-appending
  (the parquet stand-in for Delta's txnAppId/txnVersion — SURVEY T7);
* batch & streaming reads of the same table.

On a Delta-enabled cluster the class upgrades ITSELF: every entry point
probes once for OSS delta-spark (the `avro/functions.py` JVM-probe
pattern) and, when present, routes to format("delta") — mergeSchema
appends, txnAppId/txnVersion idempotent writes (replacing the manual
token directories), transactional MERGE upserts, OPTIMIZE/ZORDER
compaction. Call sites don't change; the same suite runs in both modes
(Delta mode is skip-marked where the library is absent, as here).
Set SPARK_GRAFT_TABLE_FORMAT=parquet to pin the stand-in on a
Delta-enabled cluster (or =delta to fail fast when Delta is missing).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


_DELTA_OK: bool | None = None


def delta_available(spark: SparkSession) -> bool:
    """True iff OSS delta-spark is usable in THIS session: the Python
    package imports, the JVM class is on the classpath, and the session
    was built with the Delta extension + catalog (without which writes
    analyze but commits fail). Probed once per process, like
    ``avro.functions._jvm_from_avro_available``. The
    SPARK_GRAFT_TABLE_FORMAT env var overrides: ``parquet`` forces the
    stand-in, ``delta`` asserts Delta must be present."""
    forced = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "").lower()
    if forced == "parquet":
        return False
    global _DELTA_OK
    if _DELTA_OK is None:
        try:
            import delta  # noqa: F401

            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.spark.sql.delta.DeltaLog"
            )
            extensions = spark.conf.get("spark.sql.extensions", "") or ""
            _DELTA_OK = "DeltaSparkSessionExtension" in extensions
        except Exception:
            _DELTA_OK = False
    if forced == "delta" and not _DELTA_OK:
        raise RuntimeError(
            "SPARK_GRAFT_TABLE_FORMAT=delta but delta-spark is not usable "
            "in this session (install delta-spark and build the session "
            "with configure_spark_with_delta_pip / the Delta extension)"
        )
    return _DELTA_OK


def parse_txn_token(token: str) -> tuple[str, int]:
    """Map an idempotent-append replay token (``batchid=7/role=moments``
    from ``append_batch``, ``batchid=7/schemaid=2`` from the ingest
    demux, ``batchid=7/side=good`` from ``dq_split_stage``) to Delta's
    (txnAppId, txnVersion) pair: the batch id is the
    monotonically-increasing version, everything else identifies the
    writer stream. Pure + deterministic so replays of the same token
    always collide (which is the point)."""
    parts = [p for p in token.split("/") if p]
    version: int | None = None
    app_bits: list[str] = []
    for p in parts:
        k, _, v = p.partition("=")
        if k == "batchid" and version is None:
            version = int(v)
        else:
            app_bits.append(p)
    if version is None:
        raise ValueError(f"replay token {token!r} carries no batchid=N part")
    return ("/".join(app_bits) or "default", version)


def batch_id_col(df: DataFrame) -> F.Column:
    """The batch-id column of a token-appended relation, uniform across
    storage modes. The parquet stand-in surfaces the replay token
    directory as a ``batchid`` partition column (filters on it
    partition-prune), so prefer it; Delta mode writes no token
    directories (idempotence lives in txnAppId/txnVersion), so stages
    that replay-filter must have written an explicit ``_batch_id`` data
    column and we fall back to that. Raising (not silently matching
    nothing) on neither keeps replay-exclusion bugs loud."""
    if "batchid" in df.columns:
        return F.col("batchid")
    if "_batch_id" in df.columns:
        return F.col("_batch_id")
    raise ValueError(
        "relation carries neither a batchid partition column nor a "
        "_batch_id data column; replay filtering needs one of them "
        "(write the stage's rows with .withColumn('_batch_id', ...))"
    )


# The bookkeeping columns a replay log carries beside its payload: the
# ``_batch_id`` stamp and the token directories ``append_batch`` writes
# (``batchid``/``role`` surface as partition columns on read). Folds
# that hand a log's rows back as payload drop exactly these.
LOG_COLUMNS = ("_batch_id", "batchid", "role")


def swap_dir(live: str, staging: str | None) -> None:
    """Replace directory ``live`` with the fully written ``staging``
    directory (``None``: remove ``live``) by renaming ``live`` aside to
    ``live._old``, renaming staging in, then dropping the aside copy. A
    crash in any window leaves either the old or the new directory
    intact and recoverable (``ParquetTable._recover_swap`` heals the
    in-between states on the next access). Relies on same-FS rename
    atomicity — local/POSIX only; on an object store the Delta
    transaction log replaces this protocol entirely."""
    old = live.rstrip("/") + "._old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.isdir(live):
        os.rename(live, old)
    if staging is not None:
        os.rename(staging, live)
    if os.path.isdir(old):
        shutil.rmtree(old)


def batch_token(batch_id: int, role: str) -> str:
    """The replay token of one (micro-batch, role) write: the directory
    ``append_batch`` writes under, surfacing as the ``batchid`` and
    ``role`` partition columns on read."""
    return f"batchid={batch_id}/role={role}"


_warned_legacy_batch_tables: set[str] = set()


def exclude_batch(
    df: DataFrame, batch_id: int, table_path: str | None = None
) -> DataFrame:
    """Rows from strictly OTHER batches than ``batch_id`` — the replay
    exclusion, uniform across storage modes AND table generations:

    * parquet mode: partition-pruned on the ``batchid`` directory;
    * Delta mode: the explicit ``_batch_id`` data column;
    * rows with a NULL batch id (legacy rows written before the column
      existed, surfaced through mergeSchema) are PRIOR by construction,
      so the predicate is null-safe — a plain ``!=`` would silently
      drop them from the prior set;
    * a legacy table with NEITHER column cannot contain any
      current-release rows, hence none from ``batch_id``: the exclusion
      degrades to an exact no-op instead of crashing the first
      replay-filtered read after an upgrade. A one-time loud warning
      names the invariant; backfilling ``_batch_id`` once silences it.
    """
    try:
        col = batch_id_col(df)
    except ValueError:
        # one warning per degraded TABLE, not per process: a second
        # legacy table must surface too, or its treat-all-rows-as-prior
        # degradation is silent. Unidentified callers warn every time
        # (loud beats silent for a degraded exactness guarantee).
        if table_path is None or table_path not in _warned_legacy_batch_tables:
            if table_path is not None:
                _warned_legacy_batch_tables.add(table_path)
            import warnings

            warnings.warn(
                f"replay exclusion ({table_path or 'unidentified table'}): "
                "table has neither batchid nor "
                "_batch_id (written by a pre-_batch_id release?). "
                "Treating ALL rows as prior — exact only while no "
                "current-release batch has written here; backfill "
                "_batch_id once to restore column-based exclusion.",
                stacklevel=2,
            )
        return df
    return df.where(~col.eqNullSafe(F.lit(batch_id)))


class ParquetTable:
    def __init__(self, path: str, partition_by: list[str] | None = None):
        self.path = path
        self.partition_by = partition_by or []

    # -- Delta-mode routing -------------------------------------------

    def _delta(self, spark: SparkSession) -> bool:
        return delta_available(spark)

    def _delta_table(self, spark: SparkSession):
        from delta.tables import DeltaTable

        return DeltaTable.forPath(spark, self.path)

    def _delta_write(self, df: DataFrame, mode: str, **options: str) -> None:
        w = df.write.format("delta").mode(mode)
        for k, v in options.items():
            w = w.option(k, v)
        # Delta persists partitioning in the log; passing partitionBy on
        # an append to an existing table is a metadata conflict, so only
        # declare it at table creation.
        if self.partition_by and not self.exists():
            w = w.partitionBy(*self.partition_by)
        w.save(self.path)

    def _recover_swap(self) -> None:
        """Heal a crash inside a swap window: if a live dir is gone but
        its renamed-aside copy survived, rename it back. Called at the
        top of EVERY entry point (reads, existence checks, and all
        writers) — a post-crash append/overwrite would otherwise
        recreate the live dir itself and permanently strand the
        pre-crash data in ._old as a silent fresh start. Covers the
        table root (upsert/compact) and the first partition column's
        dirs (partition-scoped compact, the only writer of in-table
        asides). The check lists at most the root, never the whole tree:
        a token-partitioned table grows a directory per batch, and this
        runs on every access."""
        old = self.path.rstrip("/") + "._old"
        if not os.path.isdir(self.path) and os.path.isdir(old):
            os.rename(old, self.path)
        if not self.partition_by or not os.path.isdir(self.path):
            return
        for d in os.listdir(self.path):
            aside = os.path.join(self.path, d)
            if not (d.endswith("._old") and os.path.isdir(aside)):
                continue
            live = aside[: -len("._old")]
            if not os.path.isdir(live):
                # crashed between rename-aside and rename-in:
                # the aside copy is the partition — restore it
                os.rename(aside, live)
            else:
                # crashed after the new dir landed: the aside is
                # a stale duplicate INSIDE the table tree, which
                # partition discovery would read as a bogus
                # partition value — drop it
                shutil.rmtree(aside)

    def exists(self) -> bool:
        self._recover_swap()
        if not os.path.isdir(self.path):
            return False
        # a Delta table is "a directory with a _delta_log" — checkable
        # without a session, so both modes share this predicate
        if os.path.isdir(os.path.join(self.path, "_delta_log")):
            return True
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    @staticmethod
    def _sized(df: DataFrame, n_rows: int | None) -> DataFrame:
        """Write-time small-file control: when the caller already knows
        the row count (streaming demux plans from a stats pass that has
        per-subset counts for free), size the output to
        ceil(n_rows / SPARK_GRAFT_TARGET_FILE_ROWS) files instead of one
        file per upstream partition. A micro-batch of 25k rows on a
        32-slot session otherwise writes 32 tiny parquet files per
        trigger — the classic streaming small-file problem that degrades
        every downstream scan (file-listing + footer cost per file) and
        at 100 TB turns a table into millions of kilobyte files.

        ``repartition`` (a shuffle of the about-to-be-written rows), NOT
        ``coalesce``: coalesce folds upstream and would collapse the
        Python decode's parallelism; the shuffle moves only the rows
        being written and is negligible at exactly the sizes where the
        policy fires. Batches already big enough to fill one file per
        slot are left alone — no behavior change at scale, and callers
        that don't know their count (n_rows=None) are untouched."""
        if n_rows is None:
            return df
        target = int(os.environ.get("SPARK_GRAFT_TARGET_FILE_ROWS", "1000000"))
        if target <= 0:
            return df
        n_files = max(1, -(-int(n_rows) // target))
        if n_files >= df.sparkSession.sparkContext.defaultParallelism:
            return df
        return df.repartition(n_files)

    def append(self, df: DataFrame, n_rows: int | None = None) -> None:
        """Plain append with evolution-by-mergeSchema-on-read (Delta
        mode: format("delta") with mergeSchema=true, the reference's
        exact sink shape — ingest_raw.scala:145-150, bronze.py:20-27)."""
        self._recover_swap()
        df = self._sized(df, n_rows)
        if self._delta(df.sparkSession):
            self._delta_write(df, "append", mergeSchema="true")
            return
        w = df.write.mode("append")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)

    def idempotent_append(
        self, df: DataFrame, token: str, n_rows: int | None = None
    ) -> None:
        """Append keyed by a replay token (e.g. 'batchid=7/schemaid=2'):
        a re-run with the same token overwrites its own output. Delta
        mode maps the token to txnAppId/txnVersion, whose log-level
        dedup is the real transactional form of the same contract."""
        self._recover_swap()
        df = self._sized(df, n_rows)
        if self._delta(df.sparkSession):
            app_id, version = parse_txn_token(token)
            self._delta_write(
                df,
                "append",
                mergeSchema="true",
                txnAppId=f"{self.path}#{app_id}",
                txnVersion=str(version),
            )
            return
        df.write.mode("overwrite").parquet(os.path.join(self.path, token))

    def append_batch(
        self,
        df: DataFrame,
        batch_id: int,
        role: str,
    ) -> None:
        """The replay-log append every foreachBatch stage shares: stamp
        the rows with ``_batch_id`` and write them under the
        ``batchid=N/role=R`` token, so a replayed (batch, role)
        overwrites its own directory instead of double-counting, and
        ``read(up_to_batch=)`` serves any as-of-batch view of the log.
        The stamp is the plain IntegerType literal
        ``backfill_batch_column`` matches."""
        self.idempotent_append(
            df.withColumn("_batch_id", F.lit(batch_id)),
            batch_token(batch_id, role),
        )

    def overwrite(self, df: DataFrame) -> None:
        """Full rewrite — complete-output-mode sink (gold, SURVEY K3)."""
        self._recover_swap()
        if self._delta(df.sparkSession):
            self._delta_write(df, "overwrite", overwriteSchema="true")
            return
        df.write.mode("overwrite").parquet(self.path)

    def _staged_swap_write(self, df: DataFrame) -> None:
        """Atomic full-table rewrite: stage to a sibling dir, then
        ``swap_dir`` it in."""
        staging = self.path.rstrip("/") + "._staging"
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(staging)
        swap_dir(self.path, staging)

    def overwrite_atomic(self, df: DataFrame) -> None:
        """Complete-mode rewrite that CONCURRENT READERS can live with:
        unlike ``overwrite`` (Spark deletes the directory contents, then
        writes — any reader in that window sees an empty/partial table),
        the staged swap keeps a complete copy visible at every instant.
        The always-on gold sink rewrites every trigger, so it must use
        this; the availableNow drain tolerates plain ``overwrite``
        because nothing reads mid-drain. Delta mode is transactional
        either way and routes identically."""
        self._recover_swap()
        if self._delta(df.sparkSession):
            self._delta_write(df, "overwrite", overwriteSchema="true")
            return
        self._staged_swap_write(df)

    def backfill_batch_column(
        self, spark: SparkSession, batch_id: int = -1
    ) -> int:
        """The remediation exclude_batch's legacy warning names: stamp
        every row that carries NO batch id with an explicit
        ``_batch_id`` (default -1 — a value no real micro-batch uses,
        so the rows stay PRIOR under replay exclusion exactly as the
        degraded path treated them, but now via the column predicate).
        One atomic staged-swap rewrite; idempotent (a second run finds
        nothing null). Returns rows stamped."""
        self._recover_swap()
        if not self.exists():
            return 0
        cur = self.read(spark)
        if "batchid" in cur.columns:
            return 0  # token-partitioned table: already replay-exact
        if "_batch_id" not in cur.columns:
            stamped = cur.count()
            # plain int literal: the stages write _batch_id as
            # F.lit(batch_id) (IntegerType), and a wider stamp would
            # break parquet schema merging against stage-written files
            out = cur.withColumn("_batch_id", F.lit(batch_id))
        else:
            stamped = cur.where(F.col("_batch_id").isNull()).count()
            if stamped == 0:
                return 0
            existing_t = cur.schema["_batch_id"].dataType
            out = cur.withColumn(
                "_batch_id",
                F.coalesce(
                    F.col("_batch_id"), F.lit(batch_id).cast(existing_t)
                ),
            )
        if self._delta(spark):
            self._delta_write(out, "overwrite", overwriteSchema="true")
        else:
            self._staged_swap_write(out)
        return stamped

    def upsert(self, spark: SparkSession, updates: DataFrame, keys: list[str]) -> None:
        """SCD-type-1 merge: rows matching ``keys`` are replaced by the
        update, everything else is kept, new keys are inserted — the
        observable contract of Delta's ``MERGE WHEN MATCHED UPDATE WHEN
        NOT MATCHED INSERT``. Schema evolution works in both directions
        (unionByName with allowMissingColumns).

        Plan shape: one anti join (old rows that survive) + union, then a
        rewrite. The anti join broadcasts the update side when small —
        the common CDC case — so the heavy side streams through without a
        shuffle. The parquet stand-in must rewrite the whole table
        (staged to a sibling dir, then swapped, because the plan reads
        lazily from the same path it replaces); Delta MERGE instead
        rewrites only the files whose key-range stats match, which is
        what call sites get back on a Delta cluster.

        ``updates`` must be unique per key (pre-aggregate the batch to
        last-write-wins before calling); upsert replays are naturally
        idempotent, so no txn token is needed.
        """
        if not self.exists():
            self.append(updates)
            return
        if self._delta(spark):
            # Real transactional MERGE: only files whose stats match the
            # keys are rewritten — no staging-dir swap needed.
            evolve_key = "spark.databricks.delta.schema.autoMerge.enabled"
            prior = spark.conf.get(evolve_key, None)
            spark.conf.set(evolve_key, "true")
            try:
                cond = " AND ".join(f"cur.{k} <=> upd.{k}" for k in keys)
                (
                    self._delta_table(spark)
                    .alias("cur")
                    .merge(updates.alias("upd"), cond)
                    .whenMatchedUpdateAll()
                    .whenNotMatchedInsertAll()
                    .execute()
                )
            finally:
                if prior is None:
                    spark.conf.unset(evolve_key)
                else:
                    spark.conf.set(evolve_key, prior)
            return
        current = self.read(spark)
        # Null-safe key match: grouping keys can legitimately be NULL
        # (e.g. schema-evolution columns), and a plain equi-join would
        # never match them, leaving stale rows beside their replacements.
        cur, upd = current.alias("cur"), updates.alias("upd")
        cond = None
        for k in keys:
            c = F.col(f"cur.{k}").eqNullSafe(F.col(f"upd.{k}"))
            cond = c if cond is None else (cond & c)
        merged = cur.join(upd, cond, "left_anti").unionByName(
            updates, allowMissingColumns=True
        )
        self._staged_swap_write(merged)

    def delete_where(self, spark: SparkSession, condition: str) -> dict:
        """Targeted deletion (the GDPR right-to-erasure primitive and
        Delta ``DELETE FROM ... WHERE``'s observable contract): remove
        every row matching the SQL ``condition``, keep everything else
        byte-equivalent, and return exact accounting
        ``{rows_before, rows_deleted, rows_after}`` — an erasure job
        must PROVE what it removed.

        Delta mode routes to the transactional ``DeltaTable.delete``,
        which rewrites only files whose stats match the predicate. The
        parquet stand-in rewrites the table minus matching rows with the
        same staged-sibling + rename-aside swap as upsert (crash in any
        window heals via ``_recover_swap``; partition layout preserved).
        That full rewrite is the honest cost of erasure-by-value on raw
        parquet — predicates on a partition column prune the rewrite in
        Delta, and erasure at 100 TB is exactly why deletion-vector
        formats exist; on this API the cost is visible, not hidden.

        Deletion is idempotent by construction (re-running the same
        condition deletes 0 rows), so no replay token is needed."""
        self._recover_swap()
        if not self.exists():
            return {"rows_before": 0, "rows_deleted": 0, "rows_after": 0}
        before = self.read(spark).count()
        if self._delta(spark):
            self._delta_table(spark).delete(condition)
            after = self.read(spark).count()
            return {
                "rows_before": before,
                "rows_deleted": before - after,
                "rows_after": after,
            }
        current = self.read(spark)
        # Three-valued logic: DELETE removes rows where the predicate is
        # TRUE; rows where it evaluates NULL must SURVIVE (Delta's
        # semantics) — a bare NOT(cond) would silently delete them.
        survivors = current.where(
            ~F.coalesce(F.expr(condition), F.lit(False))
        )
        self._staged_swap_write(survivors)
        after = self.read(spark).count()
        return {
            "rows_before": before,
            "rows_deleted": before - after,
            "rows_after": after,
        }

    def read(
        self, spark: SparkSession, up_to_batch: int | None = None
    ) -> DataFrame:
        """The whole table; with ``up_to_batch``, only the rows stamped
        by batches <= ``up_to_batch`` (the as-of / prequential view of a
        replay log — ``up_to_batch=batch_id - 1`` is the strictly-older
        probe a replayed batch needs, so it never sees its own
        half-written rows). Unstamped (NULL ``_batch_id``) rows are not
        in any as-of view."""
        self._recover_swap()
        if self._delta(spark):
            df = spark.read.format("delta").load(self.path)
        else:
            try:
                df = (
                    spark.read.option("mergeSchema", "true")
                    .option("basePath", self.path)
                    .option("recursiveFileLookup", "false")
                    .parquet(self.path)
                )
            except Exception as e:  # noqa: BLE001 - re-raise with migration hint
                if "CANNOT_MERGE_SCHEMAS" not in str(e):
                    raise
                raise RuntimeError(
                    f"table {self.path} holds files with un-mergeable column "
                    "types (e.g. a raw table written before valueSchemaId "
                    "widened from int to long — functions/binary.py "
                    "be_int_from_bytes). Run a one-time "
                    "ParquetTable(path).rewrite_columns(spark, "
                    "{'valueSchemaId': 'bigint'}) to widen in place."
                ) from e
        if up_to_batch is not None:
            df = df.where(F.col("_batch_id") <= up_to_batch)
        return df

    def rewrite_columns(self, spark: SparkSession, cast_map: dict[str, str]) -> None:
        """One-shot in-place column-type migration (e.g. valueSchemaId
        int32 -> int64 after the be_int_from_bytes widening). Files are
        grouped by their parquet footer schema (pyarrow, no Spark schema
        merge needed), each group is re-written with the casts applied,
        and the new files replace the old ones inside the SAME
        directories — the idempotent token layout and partition dirs are
        preserved, so replay semantics and pruning are unchanged.

        Parquet-mode only: in Delta mode in-place file replacement would
        bypass the transaction log (type migration there is ALTER TABLE
        / column mapping), so this refuses loudly."""
        if self._delta(spark):
            raise RuntimeError(
                "rewrite_columns is the parquet stand-in's migration tool; "
                "on Delta use ALTER TABLE ... / column mapping so the "
                "transaction log records the change"
            )
        import pyarrow.parquet as pq

        # group by (footer schema, directory): one rewrite per uniform
        # file group, and rewritten rows stay in their own directory so
        # partition-derived column values are untouched
        by_schema: dict[tuple[str, str], list[str]] = {}
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(root, f)
                    key = (str(pq.read_schema(fp)), root)
                    by_schema.setdefault(key, []).append(fp)
        staging = self.path.rstrip("/") + "._rewrite"
        for gi, paths in enumerate(by_schema.values()):
            df = spark.read.parquet(*paths)
            for col, dtype in cast_map.items():
                if col in df.columns:
                    df = df.withColumn(col, F.col(col).cast(dtype))
            gdir = os.path.join(staging, str(gi))
            df.coalesce(max(1, len(paths))).write.mode("overwrite").parquet(gdir)
            new_files = [
                os.path.join(gdir, f)
                for f in os.listdir(gdir)
                if f.endswith(".parquet")
            ]
            # land the rewritten files beside the originals, then drop
            # the originals (per-directory, so a crash mid-way leaves
            # every directory with at least one complete copy)
            target_dir = os.path.dirname(paths[0])
            for i, nf in enumerate(new_files):
                os.replace(nf, os.path.join(target_dir, f"rw-{gi}-{i}.parquet"))
            for p in paths:
                os.remove(p)
        if os.path.isdir(staging):
            shutil.rmtree(staging)

    def compact_partitions(
        self,
        spark: SparkSession,
        values: list[str],
        target_file_bytes: int = 128 << 20,
    ) -> dict:
        """Partition-scoped compaction (Delta ``OPTIMIZE ... WHERE``):
        rewrites ONLY the named partition values of the first
        partition_by column, leaving every other partition's files
        untouched — at 100 TB a maintenance job compacts the partitions
        the last ingest window touched, never the whole table. Each
        partition dir is rewritten to staging and swapped with the same
        aside protocol as upsert; ``_recover_swap`` heals partition-
        level crashes in both windows (aside-only -> restore; aside
        beside a complete new dir -> drop the stale duplicate before
        partition discovery can read it as a bogus value).

        Returns {partition: {files_before, files_after, bytes}}.
        """
        if not self.partition_by:
            raise ValueError("compact_partitions needs a partitioned table")
        self._recover_swap()
        key = self.partition_by[0]
        if self._delta(spark):
            # Delta mode: the directory-surgery protocol below would
            # write files the transaction log never heard of (silent
            # corruption) — route to the real ``OPTIMIZE ... WHERE``.
            report_d: dict[str, dict] = {}
            for value in values:
                pdir = os.path.join(self.path, f"{key}={value}")

                def _count(d: str) -> int:
                    return sum(
                        1
                        for r, _dd, fs in os.walk(d)
                        for f in fs
                        if f.endswith(".parquet")
                    ) if os.path.isdir(d) else 0

                before = _count(pdir)
                (
                    self._delta_table(spark)
                    .optimize()
                    .where(f"{key} = '{value}'")
                    .executeCompaction()
                )
                report_d[value] = {
                    "files_before": before,
                    "files_after": _count(pdir),
                    "bytes": 0,
                }
            return report_d
        report: dict[str, dict] = {}
        for value in values:
            pdir = os.path.join(self.path, f"{key}={value}")
            if not os.path.isdir(pdir):
                report[value] = {"files_before": 0, "files_after": 0, "bytes": 0}
                continue
            files = [
                os.path.join(r, f)
                for r, _d, fs in os.walk(pdir)
                for f in fs
                if f.endswith(".parquet")
            ]
            total = sum(os.path.getsize(f) for f in files)
            n_parts = max(1, -(-total // target_file_bytes))
            # read WITHOUT basePath so the partition column is constant
            # and dropped from the files, matching partitionBy layout
            df = spark.read.option("mergeSchema", "true").parquet(pdir)
            # staging lives OUTSIDE the table root: an in-table staging
            # dir named `key=value._staging` would be picked up by
            # partition discovery as a bogus value mid-write
            staging = (
                self.path.rstrip("/") + f"._staging_{key}={value}"
            )
            df.repartition(n_parts).write.mode("overwrite").parquet(staging)
            swap_dir(pdir, staging)
            after = [
                f
                for r, _d, fs in os.walk(pdir)
                for f in fs
                if f.endswith(".parquet")
            ]
            report[value] = {
                "files_before": len(files),
                "files_after": len(after),
                "bytes": total,
            }
        return report

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        zorder: list[str] | None = None,
    ) -> dict:
        """Small-file compaction (Delta ``OPTIMIZE`` stand-in): streaming
        appends write a few files per micro-batch, and a month of
        5-minute triggers is ~10k tiny files — at which point file
        listing and per-file open overhead dominate every scan. Rewrites
        the table into ceil(bytes / target_file_bytes) right-sized files
        and swaps atomically (same ._old crash-window protocol as
        upsert, healed by every entry point).

        Partitioned tables are repartitioned BY the partition columns so
        each partition directory lands as few files; pruning layout is
        preserved. Like Delta OPTIMIZE, the rewrite starts a fresh file
        layout: idempotent-append replay tokens older than the rewrite
        are flattened into it, so compact only after the upstream
        checkpoint/replay horizon has passed those batches.

        Returns {files_before, files_after, bytes} for observability.
        """
        self._recover_swap()

        def _files(root: str) -> list[str]:
            out = []
            for r, _d, fs in os.walk(root):
                if os.path.sep + "_delta_log" in r:
                    continue
                out += [os.path.join(r, f) for f in fs if f.endswith(".parquet")]
            return out

        if self._delta(spark):
            # The real OPTIMIZE / OPTIMIZE ZORDER BY — log-transactional,
            # no swap protocol, concurrent readers unaffected.
            before = _files(self.path)
            total_bytes = sum(os.path.getsize(f) for f in before)
            opt = self._delta_table(spark).optimize()
            if zorder:
                opt.executeZOrderBy(*zorder)
            else:
                opt.executeCompaction()
            return {
                "files_before": len(before),
                "files_after": len(_files(self.path)),
                "bytes": total_bytes,
            }

        before = _files(self.path)
        total_bytes = sum(os.path.getsize(f) for f in before)
        n_parts = max(1, -(-total_bytes // target_file_bytes))

        df = self.read(spark)
        if zorder:
            # OPTIMIZE ... ZORDER BY analog: cluster rows along the
            # Morton curve while compacting, so the rewritten files are
            # min/max-prunable on every clustered column.
            from ..operators.layout import zorder_by

            df = zorder_by(df, zorder, num_partitions=n_parts)
        elif self.partition_by:
            df = df.repartition(n_parts, *self.partition_by)
        else:
            df = df.repartition(n_parts)
        self._staged_swap_write(df)
        return {
            "files_before": len(before),
            "files_after": len(_files(self.path)),
            "bytes": total_bytes,
        }

    def vacuum(self) -> dict:
        """Delta ``VACUUM`` analog for the parquet stand-in: remove
        crash leftovers that no reader references — a ``._staging`` dir
        from a compact/upsert killed mid-write, a ``._rewrite`` dir from
        an interrupted column migration, and Spark's own temporary
        ``_temporary`` dirs from killed write jobs. The live-table swap
        artifact (``._old``) is NOT removed here: ``_recover_swap`` may
        still need it, and every entry point (this one included) heals
        it first. Delta mode needs none of this (the log never
        references uncommitted files), so there it only clears the same
        local scratch dirs, and real retention-based VACUUM remains the
        platform's own command. Returns {removed: [paths]}."""
        self._recover_swap()
        removed = []
        for suffix in ("._staging", "._rewrite"):
            p = self.path.rstrip("/") + suffix
            if os.path.isdir(p):
                shutil.rmtree(p)
                removed.append(p)
        # partition-scoped compact staging leftovers (siblings named
        # <table>._staging_<key>=<value>)
        parent = os.path.dirname(self.path.rstrip("/")) or "."
        base = os.path.basename(self.path.rstrip("/"))
        if os.path.isdir(parent):
            for d in os.listdir(parent):
                if d.startswith(base + "._staging_"):
                    p = os.path.join(parent, d)
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
        for root, dirs, _files in os.walk(self.path):
            for d in list(dirs):
                if d == "_temporary":
                    p = os.path.join(root, d)
                    shutil.rmtree(p, ignore_errors=True)
                    dirs.remove(d)
                    removed.append(p)
        return {"removed": removed}

    def stream(self, spark: SparkSession, max_files_per_trigger: int | None = None) -> DataFrame:
        """Incremental read as a stream (Delta-streaming-source stand-in,
        SURVEY S3). Schema is pinned from a batch read (the union-widened
        shape) so late-arriving columns surface as NULLs. Delta mode
        returns the real Delta streaming source (bronze.py:14-17)."""
        if self._delta(spark):
            reader = spark.readStream.format("delta")
            if max_files_per_trigger:
                reader = reader.option(
                    "maxFilesPerTrigger", str(max_files_per_trigger)
                )
            return reader.load(self.path)
        schema = self.read(spark).schema
        reader = spark.readStream.schema(schema).option("mergeSchema", "true")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.parquet(self.path)
