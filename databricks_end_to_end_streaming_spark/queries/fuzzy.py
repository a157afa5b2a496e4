"""Fuzzy string-similarity join (entity resolution) over the ``part``
dimension — the record-linkage primitive every catalog/entity pipeline
needs (match "small ring" to "small king": same entity, one keystroke
apart).

Scale shape: classic BLOCKED similarity join, never all-pairs. The edit-
distance verify runs only on candidate pairs that share a blocking key
(here: any whole token of the name). At 100 TB the entity DICTIONARY
(distinct names) is orders of magnitude smaller than the fact rows —
the distinct-name aggregation collapses the corpus first, then the
token-block self-join touches candidate pairs only (block sizes bound
the quadratic term; a hot block is an AQE skew split, same as the LSH
band join in queries/dedup.py). Background: standard blocking/windowing
record-linkage literature (Fellegi-Sunter tradition) and PassJoin-style
pigeonhole blocking — public literature.

The oracle computes EXACT all-pairs levenshtein (DuckDB at sf0.01 scale),
so driver hash-equality also PROVES the token-blocking recall on this
corpus each round — same discipline as the MinHash-LSH oracle
(queries/dedup.py): if a qualifying pair shared no token, the driver
would flag the miss.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..pin import pin
from ..tables import load_table
from . import query

FUZZY_MAX_DIST = 2  # max levenshtein distance to call two names one entity


def fuzzy_name_pairs(names: DataFrame) -> DataFrame:
    """Blocked fuzzy match pairs over a (p_name, n_parts) dictionary —
    the candidate machinery shared by the pair query and the golden-
    record clustering below. Token blocking bounds the quadratic term;
    levenshtein verifies candidates only."""
    tok = names.select(
        "p_name",
        "n_parts",
        F.explode(
            F.filter(F.split("p_name", " +"), lambda t: t != "")
        ).alias("tok"),
    )
    return (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .distinct()
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .where(F.col("edit_dist") <= FUZZY_MAX_DIST)
    )


@query(
    "fuzzy_part_name_matches",
    oracle=f"""
    WITH names AS (
      SELECT p_name, count(*) AS n_parts
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    ORDER BY name_a, name_b
    """,
)
def fuzzy_part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution matches among distinct part names: pairs within
    levenshtein distance FUZZY_MAX_DIST, with how many part rows carry
    each name (the weight a canonicalization step would merge). Blocked
    on shared whole tokens; the distinct() collapses a name pair found
    via both its tokens before the (comparatively costly) edit-distance
    verify."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    return (
        fuzzy_name_pairs(names)
        .select("name_a", "name_b", "edit_dist", "n_parts_a", "n_parts_b")
        .orderBy("name_a", "name_b")
    )


@query(
    "er_golden_records",
    oracle=f"""
    WITH RECURSIVE names AS (
      SELECT p_name, count(*) AS n_parts
      FROM part GROUP BY p_name
    ), pairs AS (
      SELECT a.p_name AS pa, b.p_name AS pb
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    ), edges AS (
      SELECT pa AS u, pb AS v FROM pairs
      UNION ALL
      SELECT pb, pa FROM pairs
    ), reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), comp AS (
      SELECT u AS p_name, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    ), lab AS (
      SELECT n.p_name, coalesce(c.cluster_id, n.p_name) AS cluster_id,
             n.n_parts
      FROM names n LEFT JOIN comp c USING (p_name)
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY n_parts DESC, p_name
      ) AS rn
      FROM lab
    )
    SELECT cluster_id,
           max(CASE WHEN rn = 1 THEN p_name END) AS canonical_name,
           count(*) AS n_names,
           CAST(sum(n_parts) AS BIGINT) AS n_parts_total
    FROM r GROUP BY cluster_id
    """,
)
def er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction — the step AFTER fuzzy matching in an
    entity-resolution pipeline: fuzzy match pairs are edges, connected
    components merge transitive matches into entities (A~B, B~C => one
    entity even when A~C fails the distance test), and each entity
    elects a canonical surviving record (most part rows, then
    lexicographic — a deterministic survivorship rule). Names with no
    match stay singleton entities under their own id.

    Scale shape: everything downstream of the corpus-collapsing
    distinct-name aggregation runs on the entity DICTIONARY. CC is
    O(diameter) rounds of key-bound join + partial-agg min
    (operators/graph.py); the survivorship window partitions by cluster
    id — cluster-sized partitions, never a global sort. The oracle's
    recursive-CTE closure re-proves both the blocking recall AND the
    label convergence each round."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    return golden_records_from(names, fuzzy_name_pairs(names))


def golden_records_from(names: DataFrame, pairs: DataFrame) -> DataFrame:
    """Survivorship core shared by the batch query and the streaming
    read-side fold (streaming/fuzzy_stage.py::golden_records_from_log):
    CC over the match pairs, singletons keep their own id, per-cluster
    canonical election (heaviest-by-rows, lexicographic tiebreak).
    ``names`` is (p_name, n_parts); ``pairs`` carries name_a/name_b."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    comps = connected_components(pairs, "name_a", "name_b")
    lab = names.join(
        comps.withColumnRenamed("node", "p_name"), "p_name", "left"
    ).select(
        "p_name",
        F.coalesce("component", "p_name").alias("cluster_id"),
        "n_parts",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_parts").desc(), "p_name"
    )
    r = lab.withColumn("rn", F.row_number().over(w))
    return r.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("p_name"))).alias(
            "canonical_name"
        ),
        F.count("*").alias("n_names"),
        F.sum("n_parts").alias("n_parts_total"),
    )


JW_THRESHOLD = 0.85

# The candidate pre-filter in jw_name_candidates hard-codes
# 4*min(ls,lt) >= max(ls,lt), which is recall-free iff the ratio bound
# 3*((JW_THRESHOLD - 0.4)/0.6) - 2 implied by the threshold is >= 1/4
# (derivation in the jaro_winkler_part_pairs docstring). Guard the
# coupling so lowering the threshold without widening the filter fails
# at import, not as silent recall loss. An explicit raise, not assert:
# `python -O` compiles asserts out and the guard must survive optimized
# runs (r11 ADVICE).
if not 3 * ((JW_THRESHOLD - 0.4) / 0.6) - 2 >= 0.25 - 1e-12:
    raise ValueError(
        "JW_THRESHOLD dropped below 0.85: the 4*min >= max length filter "
        "in jw_name_candidates is no longer recall-free — widen it"
    )

def jw_name_candidates(names: DataFrame) -> DataFrame:
    """Dictionary-level JW candidate pairs: token-blocked (must share a
    whole name token) then pruned by the theorem-recall-free
    length-ratio bound 4*min(ls,lt) >= max(ls,lt) (derivation in the
    jaro_winkler_part_pairs docstring).

    PRODUCTION CAVEAT (r11 ADVICE): unlike the length-ratio prune,
    whole-token blocking is only EMPIRICALLY recall-free — the
    all-pairs oracle re-proves it per corpus each round, because this
    corpus's near-threshold name pairs always share a whole token
    (multi-word part names). On a dictionary of single-token names, a
    qualifying typo pair that shares NO whole token (e.g.
    'chocolate'/'chocolat') is silently dropped. For such corpora add
    a secondary block — first-k-prefix (JW's prefix bonus means
    high-scoring pairs usually share a prefix) or a character-q-gram
    block (provably recall-free for JW >= 0.85 via the matching-window
    bound) — as a UNION with this token block before the distinct."""
    tok = names.select(
        "p_name",
        F.explode(
            F.filter(F.split("p_name", " +"), lambda t: t != "")
        ).alias("tok"),
    )
    ln_a, ln_b = F.length("name_a"), F.length("name_b")
    return (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.p_name") <= F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
        )
        .distinct()
        # recall-free at JW >= 0.85 (bound in the docstring)
        .where(F.least(ln_a, ln_b) * 4 >= F.greatest(ln_a, ln_b))
    )


_JW_PREFIX_L_SQL = """
         CASE WHEN NOT (1 <= least(ls, lt) AND substr(s,1,1) = substr(t,1,1)) THEN 0
              WHEN NOT (2 <= least(ls, lt) AND substr(s,2,1) = substr(t,2,1)) THEN 1
              WHEN NOT (3 <= least(ls, lt) AND substr(s,3,1) = substr(t,3,1)) THEN 2
              WHEN NOT (4 <= least(ls, lt) AND substr(s,4,1) = substr(t,4,1)) THEN 3
              ELSE 4 END AS l
"""


@query(
    "jaro_winkler_part_pairs",
    # The oracle replays the textbook greedy matcher STEP BY STEP as a
    # recursive CTE (one row per (pair, source position), carrying the
    # consumed-target mask and matched index lists) — NOT DuckDB's
    # native jaro_winkler_similarity, which implements a different
    # maximum-matching variant and disagrees with the classic greedy on
    # ~20% of random pairs (verified empirically). Struct-accumulator
    # list folds are also off-limits here (the DuckDB 1.0.0 quirk
    # documented on holt_linear_backtest), which is exactly what the
    # recursion replaces. The oracle scores EXACT ALL-PAIRS over the
    # distinct-name dictionary (no token block, no length filter), so
    # driver hash-equality each round also PROVES the Spark side's two
    # candidate prunes lose nothing on this corpus — the same
    # blocking-recall discipline as fuzzy_part_name_matches above.
    oracle=f"""
    WITH RECURSIVE names AS (
      SELECT DISTINCT p_name FROM part
    ), cand AS (
      SELECT a.p_name AS s, b.p_name AS t,
             CAST(len(a.p_name) AS INTEGER) AS ls,
             CAST(len(b.p_name) AS INTEGER) AS lt,
             greatest(CAST(greatest(len(a.p_name), len(b.p_name)) // 2 - 1
                      AS INTEGER), 0) AS w
      FROM names a JOIN names b ON a.p_name <= b.p_name
    ), rec AS (
      SELECT s, t, ls, lt, w, 0 AS i,
             list_transform(range(lt), x -> FALSE) AS mask,
             CAST([] AS INTEGER[]) AS mi,
             CAST([] AS INTEGER[]) AS mj
      FROM cand
      UNION ALL
      SELECT s, t, ls, lt, w, i + 1,
             CASE WHEN j IS NULL THEN mask
                  ELSE list_transform(range(1, lt + 1),
                         k -> CASE WHEN k = j THEN TRUE ELSE mask[k] END) END,
             CASE WHEN j IS NULL THEN mi ELSE list_append(mi, i + 1) END,
             CASE WHEN j IS NULL THEN mj ELSE list_append(mj, j) END
      FROM (
        SELECT r.*,
               list_filter(range(greatest(i + 1 - w, 1),
                                 least(i + 1 + w, lt) + 1),
                           jj -> NOT mask[jj]
                                 AND substr(t, jj, 1) = substr(s, i + 1, 1))[1]
                 AS j
        FROM rec r WHERE i < ls
      )
    ), fin AS (
      SELECT s, t, ls, lt,
             CAST(len(mi) AS INTEGER) AS m, mi, mj
      FROM rec WHERE i = ls
    ), scored AS (
      SELECT s, t, ls, lt, m,
             CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE
               CAST(len(list_filter(range(1, m + 1),
                 k -> substr(s, mi[k], 1)
                      <> substr(t, list_sort(mj)[k], 1))) AS BIGINT) END AS t2,
             {_JW_PREFIX_L_SQL}
      FROM fin
    ), jarod AS (
      SELECT s, t, m, t2, l,
             CASE WHEN m = 0 THEN CAST(0.0 AS DOUBLE) ELSE
               (CAST(m AS DOUBLE) / ls + CAST(m AS DOUBLE) / lt
                + (2 * CAST(m AS DOUBLE) - t2)
                  / (2 * CAST(m AS DOUBLE))) / 3.0
             END AS jaro
      FROM scored
    ), qual AS (
      SELECT s AS x, t AS y,
             CASE WHEN jaro > 0.7
                  THEN jaro + CAST(l AS DOUBLE) * 0.1 * (1.0 - jaro)
                  ELSE jaro END AS jw
      FROM jarod
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b, q.jw
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
               AND a.p_partkey < b.p_partkey
    JOIN qual q ON q.x = least(a.p_name, b.p_name)
               AND q.y = greatest(a.p_name, b.p_name)
    WHERE q.jw >= {JW_THRESHOLD}
    ORDER BY part_a, part_b
    """,
)
def jaro_winkler_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler near-match pairs of part names over (brand, size)
    blocks — the phonetic-typo ER complement of the token-based
    ``fuzzy_part_name_matches`` (edit-distance families miss
    transposition-heavy typos that JW is built for). The similarity is
    a pure Spark-expression implementation of the textbook greedy
    algorithm (operators/jaro.py — no UDF, whole-stage codegen),
    verified character-for-character against a sequential reference in
    pytest AND replayed step-by-step by the DuckDB oracle's recursive
    CTE.

    Scale shape (the r11 restructure): scoring runs ONCE PER DISTINCT
    NAME PAIR, never per part pair — the corpus collapses to its name
    DICTIONARY first (the fuzzy_part_name_matches shape), so JW cost
    is independent of part-row count entirely. Dictionary candidates
    are (1) token-blocked (pairs must share a whole name token —
    recall proven on-corpus every round by the oracle, which scores
    exact all-pairs over the dictionary) and (2) pruned by a
    THEOREM-recall-free length-ratio filter: with prefix bonus
    l <= 4, jw = jaro + 0.1*l*(1-jaro) <= 0.6*jaro + 0.4, so
    jw >= 0.85 forces jaro >= 0.75; and jaro <= (m/ls + m/lt + 1)/3
    with m <= min(ls,lt) gives jaro <= (2 + min/max)/3, hence
    min/max >= 3*0.75 - 2 = 1/4, i.e. 4*min(ls,lt) >= max(ls,lt) for
    every qualifying pair. Qualifying name pairs (a broadcast-sized
    relation) then join BACK to parts output-sensitively: each part
    row fans out only to its qualifying partner names, then one
    equi-join on (name, brand, size) — the quadratic (brand,size)
    block join of rounds <=10 is gone, so candidate work grows with
    the dictionary's block structure, not quadratically in the part
    count (dictionary-scaling figures recorded in README)."""
    from ..operators.jaro import (
        jw_match_state,
        jw_score_from_state,
        with_char_arrays,
    )

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    cand = jw_name_candidates(p.select("p_name").distinct())
    # fold once per row; the repartition AFTER the state column is the
    # Exchange barrier that stops CollapseProject from inlining the
    # fold into every downstream reference (operators/jaro.py), and it
    # simultaneously defeats AQE's coalesce-to-one-partition on this
    # small-byte / heavy-expression relation
    staged = (
        with_char_arrays(cand, "name_a", "name_b")
        .withColumn("_st", jw_match_state("name_a", "name_b"))
        .repartition(32, "name_a")
    )
    scored = pin(
        staged.withColumn(
            "jw", jw_score_from_state("_st", "name_a", "name_b")
        ).select("name_a", "name_b", "jw"),
        site="jw.scored",
    )
    # pin BEFORE the threshold filter: predicate pushdown would inline
    # the entire scoring expression into the blocked-join condition
    # (observed in the executed plan — the megabyte tree evaluated per
    # candidate pair inside BroadcastHashJoin, single-threaded)
    qual = scored.where(F.col("jw") >= JW_THRESHOLD)
    # symmetric partner map (both orientations; diagonal once) so the
    # join-back can anchor on part_a's name regardless of lexical order
    sym = qual.select(
        F.col("name_a").alias("nx"), F.col("name_b").alias("ny"), "jw"
    ).unionByName(
        qual.where(F.col("name_a") != F.col("name_b")).select(
            F.col("name_b").alias("nx"), F.col("name_a").alias("ny"), "jw"
        )
    )
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(F.broadcast(sym), F.col("a.p_name") == F.col("nx"))
        .join(
            b,
            (F.col("ny") == F.col("b.p_name"))
            & (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            "jw",
        )
        .orderBy("part_a", "part_b")
    )
