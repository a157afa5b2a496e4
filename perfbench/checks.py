"""Output checks for the medallion benchmark, run outside timed code.

* drain: bronze holds every event, silver every distinct eventId, and
  gold equals the pure-Python ``gen.expected_gold`` of the backlog;
* trickle: bronze, silver and gold of the always-on run equal those of a
  sequential ``run_pipeline`` over the same raw table, both ways round,
  and gold equals ``gen.expected_gold`` of every wave;
* the query layer: each query's output equals its DuckDB ``oracle_sql``
  on the same events table, compared by the repository's oracle gate.
"""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

import gen

from databricks_end_to_end_streaming_spark.streaming import run_pipeline


def _say(msg: str) -> None:
    print(f"check failed: {msg}", file=sys.stderr)


def gold_map(spark, path: str) -> dict:
    rows = (
        spark.read.parquet(path)
        .select("type", "color", "size", "count_type", "count_color",
                "count_size", F.col("last").cast("long").alias("last"))
        .collect()
    )
    return {(r[0], r[1], r[2]): (r[3], r[4], r[5], r[6]) for r in rows}


def drain_ok(spark, d: str, bl: gen.Backlog) -> bool:
    spark.sparkContext.setJobGroup("perfbench.check", "drain outputs")
    n_bronze = spark.read.parquet(f"{d}/bronze").count()
    n_silver = spark.read.parquet(f"{d}/silver").count()
    gold = gold_map(spark, f"{d}/gold")
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    ok = True
    if n_bronze != bl.events:
        _say(f"drain bronze has {n_bronze} rows, expected {bl.events}")
        ok = False
    if n_silver != bl.unique:
        _say(f"drain silver has {n_silver} rows, expected {bl.unique}")
        ok = False
    if gold != bl.gold:
        _say(f"drain gold differs from the recomputation ({len(gold)} vs {len(bl.gold)} groups)")
        ok = False
    return ok


def trickle_ok(spark, work: str, raw, tables: dict, waves: list) -> bool:
    spark.sparkContext.setJobGroup("perfbench.check", "trickle outputs")
    seq = run_pipeline(spark, os.path.join(work, "verify"), raw, cutoff=gen.CUTOFF)
    ok = True
    for name in ("bronze", "silver", "gold"):
        a = tables[name].read(spark)
        b = seq[name].read(spark).select(*a.columns)
        diff = a.exceptAll(b).union(b.exceptAll(a)).count()
        if diff:
            _say(f"trickle {name} differs from the sequential pipeline in {diff} rows")
            ok = False
    expected = gen.expected_gold([e for w in waves for e in w.events])
    if gold_map(spark, tables["gold"].path) != expected:
        _say("trickle gold differs from the recomputation over all waves")
        ok = False
    return ok


def query_failures(spark, sf: str, fns: dict) -> list[str]:
    """Names of the queries whose output differs from their oracle, by
    the comparison of the repository's oracle gate (tools/oracle_check.py:
    order-insensitive, dtype-exact, bit-exact floats)."""
    import duckdb

    from databricks_end_to_end_streaming_spark.queries import all_oracles

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from oracle_check import compare

    oracles = all_oracles()
    spark.sparkContext.setJobGroup("perfbench.check", "query oracles")
    bad = []
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
        for name, fn in fns.items():
            problems = compare(fn(spark, sf).toPandas(), con.execute(oracles[name]).df())
            if problems:
                _say(f"query {name} differs from its oracle: {'; '.join(problems)}")
                bad.append(name)
    return bad
