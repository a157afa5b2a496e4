"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Normalization notes (all chosen so results hash-match the DuckDB oracle):

* ``events.ts`` is TIMESTAMP(NANOS) in the footer. Spark has no nanosecond
  timestamp; with ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives
  as a raw LongType of epoch-nanos. We truncate to microseconds and re-type
  as TIMESTAMP_NTZ (DuckDB oracles must do the same: ``CAST(ts AS
  TIMESTAMP)`` truncates ns → µs there).
* ``orders.o_orderdate`` / ``lineitem.l_shipdate`` already read as
  TIMESTAMP_NTZ, matching DuckDB's naive TIMESTAMP.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions we didn't build (the driver
    passes its own SparkSession to entry()/queries()): nanos parquet
    readability and UTC timestamp semantics are correctness-critical."""
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            pass  # static conf in this session; get_spark sessions set it


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table, applying type normalization."""
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # epoch-nanos long -> microsecond TIMESTAMP_NTZ (session tz is UTC,
        # so the tz-cast is a wall-clock no-op; matches DuckDB CAST(ts AS
        # TIMESTAMP)).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def spread_small_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a small-file scan across the cluster before heavy map-side
    expression work (r13, guide §2.5 input skew / §1.2 step 1): the
    driver's single-row-group parquet files arrive as 1-3 scan splits of
    which only ONE carries rows, so every pre-exchange stage (per-byte
    HOFs, shingle md5s, decimal partial aggregation) runs on one core.
    Hash-repartitions on ``keys`` (deterministic — a keyless round-robin
    pays sort-before-repartition) ONLY when the scan's partition count
    is below defaultParallelism; at 100 TB the scan is already parallel
    and this is a no-op with no added exchange. Results are unaffected:
    callers use it under order-insensitive aggregation/explode chains
    (the minhash_signatures precedent, accepted since r4). The media
    operators spread on ``media_id`` before their Python decode passes
    for the same reason: measured 7.4 s -> ~1 s for the video hash pass
    at sf0.1."""
    if df.isStreaming:  # micro-batches are already task-sized
        return df
    if os.environ.get("SPARK_GRAFT_NO_SPREAD") == "1":
        # measurement escape hatch (tests/test_shuffle_metrics.py): the
        # spread deliberately moves the corpus ONCE at toy scale where
        # the guard fires; the at-scale shuffle invariants are asserted
        # with it disabled, the spread exchange itself is plan-asserted.
        return df
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_parts:
        return df.repartition(n_parts, *keys)
    return df


def load_events_since(spark: SparkSession, sf_dir: str, cutoff: str) -> DataFrame:
    """events with ``ts >= cutoff`` where the predicate is applied to the
    STORED epoch-nanos long, so it reaches the parquet scan as a pushed
    filter (row-group/partition pruning at scale). Filtering the derived
    TIMESTAMP column instead would defeat pushdown — Catalyst can't
    invert timestamp_micros(ts div 1000) >= c back to the raw column.
    """
    from datetime import datetime, timezone

    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") != "bigint":
        return load_table(spark, sf_dir, "events").where(
            F.col("ts") >= F.lit(cutoff).cast("timestamp_ntz")
        )
    cutoff_ns = int(
        datetime.strptime(cutoff, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    ) * 1_000_000_000
    return df.where(F.col("ts") >= F.lit(cutoff_ns)).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    )


def load_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ``partsupp`` derived from ``part`` x ``supplier``.

    The driver testdata ships no partsupp table, so the five TPC-H queries
    that need one (q2/q9/q11/q16/q20) derive it with pure integer
    arithmetic that the DuckDB oracle replays verbatim (see
    ``queries.tpch_partsupp.PARTSUPP_CTE``): each part gets 4 suppliers at
    stride ``max(S div 4, 1)`` (distinct because ``3*stride < S``), and
    availqty/supplycost are multiplicative-hash residues of the key pair.
    Scale shape: one narrow scan of ``part``, a broadcast 1-row supplier
    count, and a 4-way explode — no shuffle, linear in |part| at any SF.
    """
    part = load_table(spark, sf_dir, "part")
    s_cnt = load_table(spark, sf_dir, "supplier").agg(F.count("*").alias("s"))
    ps0 = (
        part.select(F.col("p_partkey").cast("bigint").alias("pk"))
        .crossJoin(F.broadcast(s_cnt))
        .select(
            "pk",
            "s",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .select(
            "pk",
            (
                (F.col("pk") + F.col("i") * F.greatest(F.expr("s div 4"), F.lit(1)))
                % F.col("s")
            ).alias("sk"),
        )
    )
    cents = F.lit(100) + (F.col("pk") * 104729 + F.col("sk") * 7919) % 99900
    return ps0.withColumn("cents", cents).select(
        F.col("pk").cast("int").alias("ps_partkey"),
        F.col("sk").cast("int").alias("ps_suppkey"),
        (F.lit(1) + (F.col("pk") * 7919 + F.col("sk") * 104729) % 9999)
        .cast("int")
        .alias("ps_availqty"),
        F.concat(
            F.expr("cents div 100").cast("string"),
            F.lit("."),
            F.lpad((F.col("cents") % 100).cast("string"), 2, "0"),
        )
        .cast("decimal(12,2)")
        .alias("ps_supplycost"),
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql can reference it."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
