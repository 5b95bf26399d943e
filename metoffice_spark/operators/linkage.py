"""Record-linkage + operational-diagnostic operators (SURVEY.md
§2.20, round 5b).

- fuzzy record linkage by edit distance over the DISTINCT-value
  dictionary: pairwise Levenshtein runs on the value vocabulary
  (bounded, here 64 part names), never on the row cross product —
  the dictionary-first design that makes fuzzy matching feasible on
  a 100 TB fact table whose string column has bounded cardinality;
- join-key skew diagnostics: the frequency-distribution report
  (hottest keys, exact rank-index percentiles of key frequency, a
  skew ratio) an engineer reads before choosing salting / AQE skew
  handling for a shuffle — expressed as an oracle-checked query so
  the diagnostic itself is under the gate.

Determinism: Levenshtein is the classic unit-cost DP, identical in
Spark (levenshtein) and DuckDB (levenshtein); counts are exact
BIGINTs; percentiles use the rank-index (percentile_disc) pattern of
q_percentile_exact; every ordering carries a total tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metoffice_spark.functions.distributed import global_row_number
from metoffice_spark.io import load
from metoffice_spark.parity import cents_sql, fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_link_editdist: dictionary-blocked fuzzy linkage -----------------------

_LINK_MAXDIST = 2


def q_link_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar part-name pairs (Levenshtein <= 2) over the distinct
    name dictionary, with the record-pair fan-out each name pair
    implies (n_parts_a * n_parts_b).

    Scale: distances run on the distinct dictionary (64 names ->
    ~2k ordered pairs) regardless of fact rows; per-name counts
    aggregate with map-side combine; the fan-out product is computed
    from the two counts, never by materializing record pairs."""
    part = load(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("cnt").alias("n_parts_a")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("cnt").alias("n_parts_b")
    )
    return (
        # broadcast the right side: the name vocabulary is bounded (a
        # few thousand distinct p_names at any SF), but it derives
        # from a groupBy whose size ESTIMATE grows with the scan — an
        # unhinted cross would flip to CartesianProduct past the
        # broadcast threshold and multiply partition counts 32x32
        a.crossJoin(F.broadcast(b))
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= _LINK_MAXDIST)
        .select(
            "name_a",
            "name_b",
            F.col("dist").cast("int").alias("dist"),
            "n_parts_a",
            "n_parts_b",
            (F.col("n_parts_a") * F.col("n_parts_b"))
            .cast("bigint")
            .alias("n_record_pairs"),
        )
    )


ORACLE_LINK_EDITDIST = f"""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       a.cnt AS n_parts_a, b.cnt AS n_parts_b,
       CAST(a.cnt * b.cnt AS BIGINT) AS n_record_pairs
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_LINK_MAXDIST}
"""

QUERIES["q_link_editdist"] = (q_link_editdist, ORACLE_LINK_EDITDIST)


# --- q_skew_diag: join-key skew diagnostics ----------------------------------
#
# The pre-shuffle report for events.user_id as a join/groupBy key:
# key count, total rows, the hottest key (tie-broken smallest key),
# exact p50/p90/p99 of the per-key frequency distribution
# (percentile_disc rank-index picks: idx = ceil(p * n) as exact
# integer arithmetic), and the skew ratio max/avg in 1e-6 fixed
# point (1e6 * max * n_keys // total — all non-negative integers).
#
# Scale: per-key counts with map-side combine; everything after is
# n_keys-sized. On the real cluster this query IS the decision input
# for q_join_salted-style mitigation.


def q_skew_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of key-frequency skew statistics for events.user_id."""
    ev = load(spark, sf_dir, "events")
    # kept: jobs 23 -> 24, exchanges 14 -> 16 without it (A/B: 5 pairs, sf0.1)
    freq = scoped_persist(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # two distributed rank passes (functions/distributed.py) — the
    # per-key frequency table grows with |keys|, so neither rank may
    # funnel through a single-task global window
    ranked = global_row_number(
        global_row_number(
            freq, [F.col("cnt").asc(), F.col("user_id").asc()], out="rn"
        ),
        [F.col("cnt").desc(), F.col("user_id").asc()],
        out="hot_rn",
    ).select("user_id", "cnt", "rn", "hot_rn")
    # n_keys > 0 guard (ADVICE r06): an ungrouped agg over zero rows
    # still yields one row (n_keys=0, NULL stats), but the oracle's
    # CROSS JOINs to empty percentile picks yield zero rows — on an
    # empty events table both engines must agree on zero rows.
    base = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    ).filter(F.col("n_keys") > F.lit(0))
    # ONE pass picks all three percentile ranks plus the hottest key:
    # a conditional 1-row aggregate over the rank table. The earlier
    # per-percentile filter + crossJoin chain was a scale trap — each
    # filtered pick is 1 row but Catalyst cannot know that (equality
    # against a derived column defeats the size estimate), so past the
    # broadcast threshold the picks planned as CartesianProducts whose
    # PARTITION COUNTS multiply: 32^4 = ~1M scheduled tasks at sf0.1.
    marked = ranked.crossJoin(F.broadcast(base.select("n_keys")))
    picked = F.broadcast(
        marked.filter(
            (F.col("rn") == F.expr("cast((1 * n_keys + 1) div 2 as int)"))
            | (F.col("rn") == F.expr("cast((9 * n_keys + 9) div 10 as int)"))
            | (F.col("rn") == F.expr("cast((99 * n_keys + 99) div 100 as int)"))
            | (F.col("hot_rn") == 1)
        ).agg(
            *[
                F.max(
                    F.when(
                        F.col("rn")
                        == F.expr(
                            f"cast(({num} * n_keys + {den - 1})"
                            f" div {den} as int)"
                        ),
                        F.col("cnt"),
                    )
                )
                .cast("bigint")
                .alias(f"{p_name}_cnt")
                for p_name, num, den in (
                    ("p50", 1, 2),
                    ("p90", 9, 10),
                    ("p99", 99, 100),
                )
            ],
            F.max(F.when(F.col("hot_rn") == 1, F.col("user_id")))
            .cast("bigint")
            .alias("top_key"),
            F.max(F.when(F.col("hot_rn") == 1, F.col("cnt")))
            .cast("bigint")
            .alias("top_cnt"),
        )
    )
    return base.crossJoin(picked).withColumn(
        "skew_ratio_fp",
        F.expr("cast(1000000 * max_cnt * n_keys div total_rows as bigint)"),
    )


# ceil(p*n) = (p*n + den-1) div den on NON-NEGATIVE ints — the
# q_percentile_exact idiom (a negative-numerator formulation would
# straddle Spark div-truncate vs DuckDB //-floor).
ORACLE_SKEW_DIAG = """
WITH freq AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, cnt,
         row_number() OVER (ORDER BY cnt, user_id) AS rn,
         row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS hot_rn
  FROM freq
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS total_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM freq
)
SELECT b.n_keys, b.total_rows, b.max_cnt,
       p50.cnt AS p50_cnt, p90.cnt AS p90_cnt, p99.cnt AS p99_cnt,
       hot.user_id AS top_key, hot.cnt AS top_cnt,
       CAST(1000000 * b.max_cnt * b.n_keys // b.total_rows AS BIGINT)
         AS skew_ratio_fp
FROM base b
CROSS JOIN (SELECT r.cnt FROM ranked r, base b
            WHERE r.rn = CAST((1 * b.n_keys + 1) // 2 AS INT)) p50
CROSS JOIN (SELECT r.cnt FROM ranked r, base b
            WHERE r.rn = CAST((9 * b.n_keys + 9) // 10 AS INT)) p90
CROSS JOIN (SELECT r.cnt FROM ranked r, base b
            WHERE r.rn = CAST((99 * b.n_keys + 99) // 100 AS INT)) p99
CROSS JOIN (SELECT user_id, cnt FROM ranked WHERE hot_rn = 1) hot
"""

QUERIES["q_skew_diag"] = (q_skew_diag, ORACLE_SKEW_DIAG)


# --- q_join_spatial: grid-blocked 2-D containment join -----------------------
#
# The spatial-join family (point-in-rectangle) via GRID BLOCKING —
# the 2-D generalization of q_join_range_binned: points key to their
# grid cell (one cell per point), query rectangles expand to every
# cell they overlap, candidates meet in an EQUI-join on the cell id,
# and an exact containment filter ([lo, hi) half-open, so borders
# are unambiguous) finishes row-locally. Point space: x = event
# value in [0, 200), y = event_id % 100; three planted query
# rectangles.
#
# Scale: the cell equi-join is the entire trick — a naive theta join
# (point BETWEEN rect bounds) plans as BroadcastNestedLoopJoin and
# crosses points x rects; the grid keys both sides so Catalyst hash-
# joins them, and rectangle fan-out is bounded by cells-per-rect.
# Cell size (50 x 25) is the selectivity/fan-out knob.

_SP_RECTS = (
    (1, 0, 50, 0, 25),
    (2, 100, 200, 50, 100),
    (3, 25, 75, 10, 30),
)


def q_join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query rectangle: contained-point count and value cents
    (empty rectangles report zeros)."""
    ev = load(spark, sf_dir, "events")
    points = ev.select(
        F.col("value").alias("x"),
        (F.col("event_id") % 100).cast("double").alias("y"),
        F.expr(cents_sql("value")).alias("cents"),
        # masked cell key: floor(±inf) casts
        # to INT overflow under ANSI; a non-finite x joins no grid cell
        # — exactly what the oracle's direct range predicate does (NaN
        # and ±Inf fail x < xhi in both engines)
        F.expr(
            f"case when {fits_sql('value')} "
            "then cast(floor(value / 50) as int) end"
        ).alias("cx"),
        F.expr("cast(floor((event_id % 100) / 25) as int)").alias("cy"),
    )
    rows = ", ".join(f"({r},{a},{b},{c},{d})" for r, a, b, c, d in _SP_RECTS)
    rects = spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(rid, xlo, xhi, ylo, yhi)"
    )
    rect_cells = rects.select(
        "rid",
        "xlo",
        "xhi",
        "ylo",
        "yhi",
        F.explode(
            F.expr("sequence(xlo div 50, (xhi - 1) div 50)")
        ).alias("cx"),
    ).select(
        "rid",
        "xlo",
        "xhi",
        "ylo",
        "yhi",
        "cx",
        F.explode(
            F.expr("sequence(ylo div 25, (yhi - 1) div 25)")
        ).alias("cy"),
    )
    matched = points.join(F.broadcast(rect_cells), ["cx", "cy"]).filter(
        "x >= xlo AND x < xhi AND y >= ylo AND y < yhi"
    )
    per_rect = matched.groupBy("rid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("cents").cast("bigint").alias("cents_total"),
    )
    return (
        rects.select("rid")
        .join(per_rect, "rid", "left")
        .select(
            F.col("rid").cast("int").alias("rid"),
            F.coalesce("n_points", F.lit(0)).cast("bigint").alias("n_points"),
            F.coalesce("cents_total", F.lit(0)).cast("bigint").alias("cents_total"),
        )
    )


ORACLE_JOIN_SPATIAL = f"""
WITH points AS (
  SELECT value AS x, CAST(event_id % 100 AS DOUBLE) AS y,
         {cents_sql("value")} AS cents
  FROM events
),
rects(rid, xlo, xhi, ylo, yhi) AS (
  VALUES {", ".join(f"({r},{a},{b},{c},{d})" for r, a, b, c, d in _SP_RECTS)}
),
matched AS (
  SELECT r.rid, p.cents
  FROM points p JOIN rects r
    ON p.x >= r.xlo AND p.x < r.xhi AND p.y >= r.ylo AND p.y < r.yhi
)
SELECT CAST(r.rid AS INT) AS rid,
       CAST(coalesce(count(m.cents), 0) AS BIGINT) AS n_points,
       CAST(coalesce(sum(m.cents), 0) AS BIGINT) AS cents_total
FROM rects r LEFT JOIN matched m ON r.rid = m.rid
GROUP BY r.rid
"""

QUERIES["q_join_spatial"] = (q_join_spatial, ORACLE_JOIN_SPATIAL)


# --- q_er_blocking: blocking-quality audit for entity resolution (5q) --------
#
# The scale question q_link_editdist leaves open: its dictionary
# cross-join is only feasible while the vocabulary is small. This
# operator runs the BLOCKED form — candidate pairs share a blocking
# key (first token, char_length div 4), verified by Levenshtein <= 2
# — and AUDITS it against the unblocked ground truth on the same
# dictionary: candidate counts, matches found/missed, and blocking
# recall in 1e-6 fixed point. The audit is the point: at 100 TB only
# the blocked path runs, and this query is the harness that
# quantifies what the chosen key sacrifices.
#
# Scale: blocked candidates come from an equi-join on the block key
# (never a cross join); the ground-truth side stays dictionary-sized
# (the q_link_editdist precondition) and exists ONLY for the audit.

_ER_MAXDIST = 2


def q_er_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One audit row: names, blocks, candidate pairs, blocked vs
    total matches, and blocking recall (1e-6 fixed point)."""
    part = load(spark, sf_dir, "part")
    # kept: exchanges 11 -> 13 without it (A/B: 5 pairs, sf0.1)
    names = scoped_persist(
        part.select("p_name")
        .distinct()
        .select(
            "p_name",
            F.expr(
                "concat(substring_index(p_name, ' ', 1), '|',"
                " CAST(char_length(p_name) div 4 AS STRING))"
            ).alias("blk"),
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("blk").alias("blk_a")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b")
    )
    # ONE pass over the block join: annotate distance and aggregate
    # candidate + match counts together (a separate
    # blocked subtree re-executed the join)
    # kept: exchanges 11 -> 13 without it (A/B: 5 pairs, sf0.1)
    cand = scoped_persist(
        a.join(b, F.col("blk_a") == F.col("blk_b"))
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
    )
    blocked = cand.filter(F.col("dist") <= _ER_MAXDIST)
    truth = (
        # broadcast right: same bounded-vocab / unbounded-estimate
        # trap as q_link_editdist — unhinted, this exact-recall audit
        # flips to a partition-multiplying CartesianProduct at scale
        a.drop("blk_a")
        .crossJoin(F.broadcast(b.drop("blk_b")))
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= _ER_MAXDIST)
    )
    stats = (
        names.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_names"),
            F.countDistinct("blk").cast("bigint").alias("n_blocks"),
        )
        .crossJoin(
            F.broadcast(
                cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
            )
        )
        .crossJoin(
            F.broadcast(
                blocked.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocked"))
            )
        )
        .crossJoin(
            F.broadcast(
                truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
            )
        )
    )
    return stats.select(
        "n_names",
        "n_blocks",
        "n_candidates",
        "n_blocked",
        "n_total",
        F.expr(
            "CASE WHEN n_total > 0 THEN"
            " CAST((n_blocked * 1000000) div n_total AS BIGINT)"
            " ELSE CAST(1000000 AS BIGINT) END"
        ).alias("recall_fp"),
    )


ORACLE_ER_BLOCKING = f"""
WITH names AS (
  SELECT DISTINCT p_name,
         string_split(p_name, ' ')[1] || '|'
           || CAST(length(p_name) // 4 AS VARCHAR) AS blk
  FROM part
),
cand AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a JOIN names b ON a.blk = b.blk
  WHERE a.p_name < b.p_name
),
blocked AS (
  SELECT * FROM cand WHERE levenshtein(name_a, name_b) <= {_ER_MAXDIST}
),
truth AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a CROSS JOIN names b
  WHERE a.p_name < b.p_name
    AND levenshtein(a.p_name, b.p_name) <= {_ER_MAXDIST}
),
stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM names) AS n_names,
         (SELECT CAST(count(DISTINCT blk) AS BIGINT) FROM names) AS n_blocks,
         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM blocked) AS n_blocked,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_total
)
SELECT n_names, n_blocks, n_candidates, n_blocked, n_total,
       CASE WHEN n_total > 0 THEN
         CAST((n_blocked * 1000000) // n_total AS BIGINT)
       ELSE CAST(1000000 AS BIGINT) END AS recall_fp
FROM stats
"""

QUERIES["q_er_blocking"] = (q_er_blocking, ORACLE_ER_BLOCKING)
