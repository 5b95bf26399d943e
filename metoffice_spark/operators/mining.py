"""Forensic statistics + mining operators (SURVEY.md §2.30,
round 5l).

Six operators: Benford first-digit conformance (the forensic DQ
classic), Spearman rank correlation (the nonparametric sibling of
q_cov_stats' Pearson), k-core graph decomposition (iterative
degree-pruning over the customer-supplier graph — a different
iteration shape from BFS/PageRank/components: the EDGE set shrinks
each round), an ALS half-step recommender update (k=1 factors keep
the normal-equation solve in exact integers), cohort lifetime-value
accumulation (the revenue counterpart of q_cohort_retention's
counts), and RAKE keyphrase extraction (stopword-delimited phrase
runs via gaps-and-islands, scored degree/frequency).

House determinism rules (curation.py:834, stats.py:10-16): exact
BIGINT partials; fixed-point divides with non-negative numerators;
irrational constants (Benford's log10 expectations) precomputed ONCE
in Python and embedded as identical integer literals in both
dialects (the q_eval_ndcg discipline — no libm call in either
engine); the final chi²/correlation expressions are single shared
+,-,*,/,sqrt texts over exact integers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.llm import TOKS_DUCK, TOKS_SPARK, _spread
from metoffice_spark.parity import bigint_sql, cents_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


def _ols_num(n: str, sxy: str, sx: str, sy: str) -> str:
    """n·Sxy − Sx·Sy in DOUBLE — the OLS slope / correlation
    numerator over exact BIGINT sums. Defined ONCE and interpolated
    into BOTH dialects (the _WIDTH_CASE pattern, prep.py): the
    bitwise-parity guarantee depends on the texts being identical,
    and an all-BIGINT form would overflow int64 at ~1e5 rows per
    group (n·Sxy re-multiplies n into an already-n²-scaled sum)."""
    return (
        f"(CAST({n} AS DOUBLE) * CAST({sxy} AS DOUBLE)"
        f" - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE))"
    )


def _ols_den(n: str, sxx: str, sx: str) -> str:
    """n·Sxx − Sx² in DOUBLE (variance scale); also the degeneracy
    guard — comparing it > 0 in DOUBLE avoids the BIGINT overflow a
    raw integer guard hits at ~5e4 rows per group."""
    return (
        f"(CAST({n} AS DOUBLE) * CAST({sxx} AS DOUBLE)"
        f" - CAST({sx} AS DOUBLE) * CAST({sx} AS DOUBLE))"
    )


# --- q_benford_test: first-significant-digit conformance ---------------------
#
# Do order totals follow Benford's law? First significant digit from
# the exact-cents integer's decimal string (no float log10 anywhere:
# leading digit of floor(100x + 0.5) equals the leading significant
# digit of x for x >= 0.01 EXCEPT at half-cent round-up boundaries
# that carry into a new power of ten, e.g. x = 9.999 -> 1000 -> digit
# 1, not 9; both dialects share the identical derivation, so parity
# is unaffected by the edge). Expected shares log10(1 + 1/d) are Python-
# precomputed 1e-6 literals; per-digit chi² contributions
# (obs - exp)² / exp come out of ONE shared double expression over
# the exact integer counts.
#
# Scale: a 9-bucket map-side-combinable aggregate + a broadcast 1-row
# total — nothing wider than 9 rows ever shuffles.

_BENFORD_FP = {d: round(1_000_000 * math.log10(1 + 1 / d)) for d in range(1, 10)}


def _benford_case(digit_col: str) -> str:
    whens = " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_FP.items())
    return f"(CASE {digit_col} {whens} END)"


def q_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per leading digit of o_totalprice: observed count, expected
    1e-6 share, expected count (fixed point), chi² contribution."""
    orders = load(spark, sf_dir, "orders").select(
        F.substring(
            F.expr(cents_sql("o_totalprice")).cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    per_d = orders.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    total = per_d.agg(F.sum("obs").cast("bigint").alias("n"))
    # exp_fp = n * benford_fp (1e-6-scaled count); chi2 term over the
    # exact integers in one shared double expression:
    # (obs*1e6 - exp_fp)^2 / (exp_fp * 1e6)
    return (
        per_d.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "obs",
            F.expr(f"CAST({_benford_case('digit')} AS BIGINT)").alias("benford_fp"),
            F.expr(f"CAST(n * {_benford_case('digit')} AS BIGINT)").alias("exp_fp"),
            F.expr(
                f"(CAST(obs * 1000000 - n * {_benford_case('digit')} AS DOUBLE)"
                f" * CAST(obs * 1000000 - n * {_benford_case('digit')} AS DOUBLE))"
                f" / (CAST(n * {_benford_case('digit')} AS DOUBLE) * CAST(1000000 AS DOUBLE))"
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


ORACLE_BENFORD = f"""
WITH per_d AS (
  SELECT CAST(substring(CAST({cents_sql("o_totalprice")}
                             AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1
),
total AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM per_d)
SELECT digit, obs,
       CAST({_benford_case('digit')} AS BIGINT) AS benford_fp,
       CAST(n * {_benford_case('digit')} AS BIGINT) AS exp_fp,
       (CAST(obs * 1000000 - n * {_benford_case('digit')} AS DOUBLE)
        * CAST(obs * 1000000 - n * {_benford_case('digit')} AS DOUBLE))
       / (CAST(n * {_benford_case('digit')} AS DOUBLE) * CAST(1000000 AS DOUBLE))
         AS chi2_term
FROM per_d CROSS JOIN total
ORDER BY digit
"""

QUERIES["q_benford_test"] = (q_benford_test, ORACLE_BENFORD)


# --- q_spearman_corr: Spearman rank correlation ------------------------------
#
# Per source: Spearman rho between document length (n_chars) and
# token count — Pearson over tie-averaged ranks, carried as the
# integral 2×avg-rank (q_eval_auc trick) so every sufficient
# statistic (Sx, Sy, Sxx, Syy, Sxy) is an exact BIGINT; the one
# double expression is the textbook
# (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²)), shared
# verbatim across dialects (+,-,*,/,sqrt are correctly rounded).
#
# Scale: two per-source rank windows + one per-source aggregate —
# the q_eval_auc cost class. Overflow: avg2 <= 2n, so Sxy <= 4n³
# (9.2e18 bound -> ~1.3e6 rows per source with exact BIGINTs;
# beyond that the house prescription is the same statistic over a
# sampled or bucketed rank transform).


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: n and Spearman rho between n_chars and token
    count (double, shared expression)."""
    # rank-validity boundary (r08 null-nchars probe; text leg added by
    # the r10 composed stress probe — PARTIAL-null text makes y NULL
    # for some rows, which Spark ranks first and DuckDB last; the r07
    # all-NULL-text probe missed it because all-equal ranks are
    # accidentally symmetric). A pair missing EITHER coordinate cannot
    # be rank-correlated; mirrored in the oracle.
    docs = _spread(
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull() & F.col("text").isNotNull())
        .select(
            "doc_id", "source", "text", F.col("n_chars").cast("bigint").alias("x")
        ),
        "doc_id",
    ).select(
        "source", "x", F.expr(f"CAST(size({TOKS_SPARK}) AS BIGINT)").alias("y")
    )
    wx_r = Window.partitionBy("source").orderBy("x")
    wx_t = Window.partitionBy("source", "x")
    wy_r = Window.partitionBy("source").orderBy("y")
    wy_t = Window.partitionBy("source", "y")
    ranked = docs.select(
        "source",
        (2 * F.rank().over(wx_r) + F.count(F.lit(1)).over(wx_t) - 1)
        .cast("bigint")
        .alias("rx"),
        (2 * F.rank().over(wy_r) + F.count(F.lit(1)).over(wy_t) - 1)
        .cast("bigint")
        .alias("ry"),
    )
    g = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("sxy"),
    )
    rho = (
        f"{_ols_num('n', 'sxy', 'sx', 'sy')}"
        f" / sqrt({_ols_den('n', 'sxx', 'sx')}"
        f" * {_ols_den('n', 'syy', 'sy')})"
    )
    # guards in DOUBLE: the integer form n*sxx - sx*sx wraps int64 at
    # ~5e4 rows per source (n·Sxx ~ (4/3)n⁴ over 2n-scaled ranks)
    guard = (
        f"{_ols_den('n', 'sxx', 'sx')} > 0"
        f" AND {_ols_den('n', 'syy', 'sy')} > 0"
    )
    return g.filter(guard).select("source", "n", F.expr(rho).alias("rho"))


def _spearman_oracle() -> str:
    rho = (
        f"{_ols_num('n', 'sxy', 'sx', 'sy')}"
        f" / sqrt({_ols_den('n', 'sxx', 'sx')}"
        f" * {_ols_den('n', 'syy', 'sy')})"
    )
    guard = (
        f"{_ols_den('n', 'sxx', 'sx')} > 0"
        f" AND {_ols_den('n', 'syy', 'sy')} > 0"
    )
    return f"""
WITH base AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         CAST(len({TOKS_DUCK}) AS BIGINT) AS y
  FROM documents
  WHERE n_chars IS NOT NULL AND text IS NOT NULL
),
ranked AS (
  SELECT source,
         CAST(2 * rank() OVER (PARTITION BY source ORDER BY x)
              + count(*) OVER (PARTITION BY source, x) - 1 AS BIGINT) AS rx,
         CAST(2 * rank() OVER (PARTITION BY source ORDER BY y)
              + count(*) OVER (PARTITION BY source, y) - 1 AS BIGINT) AS ry
  FROM base
),
g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx,
         CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy
  FROM ranked GROUP BY source
)
SELECT source, n, {rho} AS rho
FROM g
WHERE {guard}
"""


QUERIES["q_spearman_corr"] = (q_spearman_corr, _spearman_oracle())


# --- q_graph_kcore: k-core decomposition by iterative degree pruning ---------
#
# The 3-core of the customer-supplier graph (same edge set as
# q_graph_pagerank, scale.py:382): repeatedly drop nodes with degree
# < 3 and the edges touching them. A different iteration shape from
# BFS (frontier growth) or PageRank (fixed topology): here the EDGE
# SET shrinks monotonically, so each round persists a smaller
# relation. Three rounds bounded (the driver-table graph converges in
# 2); the oracle unrolls the same three rounds as nested CTEs.
#
# Scale: each round = one degree aggregate (map-side combinable) +
# two semi-joins of edges against surviving nodes — shuffles scale
# with the CURRENT |E|, which only shrinks. No collect; the loop
# appends to the logical plan with per-round persist barriers.

_KCORE_K = 3
_KCORE_ROUNDS = 3


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per pruning round: surviving node/edge counts of the 3-core
    iteration: (round, n_nodes, n_edges)."""
    from metoffice_spark.operators.scale import bipartite_edges

    # shared graph-family edge substrate (scale.py:bipartite_edges);
    # no repartition(src): the keep sets broadcast into both prune
    # joins, so edge partitioning is irrelevant (q_graph_bfs lesson);
    # the degree aggregate re-shuffles by src regardless.
    # kept: rebound per round; cuts lineage that grows with the round count
    edges = scoped_persist(bipartite_edges(spark, sf_dir))

    # One degree aggregate per round serves BOTH the next prune and
    # the previous round's stats: deg over the round-r edge set has
    # one row per distinct surviving src, so n_nodes_r = count(deg
    # rows) and n_edges_r = sum(deg)/2 — no separate countDistinct
    # pass over the edges. The |nodes|-row keep set broadcasts into
    # both semi-joins. 4 degree aggregates total instead of the 6
    # edge-wide passes of the naive per-round stats form.
    # kept: rebound per round; cuts lineage that grows with the round count
    deg = scoped_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    out = None
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("src")
        edges = (
            edges.join(F.broadcast(keep), "src")
            .join(F.broadcast(keep.selectExpr("src AS dst")), "dst")
            .select("src", "dst")
        )
        # kept: rebound per round; cuts lineage that grows with the round count
        edges = scoped_persist(edges)
        # kept: rebound per round; cuts lineage that grows with the round count
        deg = scoped_persist(
            edges.groupBy("src").agg(
                F.count(F.lit(1)).cast("bigint").alias("deg")
            )
        )
        stats = deg.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.expr("CAST(coalesce(sum(deg), 0) div 2 AS BIGINT)").alias("n_edges"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out.orderBy("round")


def _kcore_oracle() -> str:
    rounds = []
    prev = "edges"
    for rnd in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""keep{rnd} AS (
  SELECT src FROM (SELECT src, count(*) AS deg FROM {prev} GROUP BY src)
  WHERE deg >= {_KCORE_K}
),
e{rnd} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN keep{rnd} ks ON e.src = ks.src
  JOIN keep{rnd} kd ON e.dst = kd.src
)"""
        )
        prev = f"e{rnd}"
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round,"
        f" CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,"
        f" CAST(count(*) // 2 AS BIGINT) AS n_edges FROM e{r}"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    from metoffice_spark.operators.scale import EDGES_CTE

    return f"""
WITH {EDGES_CTE},
{",".join(rounds)}
SELECT * FROM ({selects}) ORDER BY round
"""


QUERIES["q_graph_kcore"] = (q_graph_kcore, _kcore_oracle())


# --- q_als_step: one ALS half-step (k=1 implicit factors) --------------------
#
# One alternating-least-squares user update with scalar (k=1)
# factors: with item factors f_p fixed, each user's optimum is the
# closed form u_c = Σ r·f_p / Σ f_p² over the user's rated items —
# a single join + aggregate, the exact building block an iterative
# recommender runs per sweep. Ratings are summed lineitem quantities
# per (customer, part); initial item factors are the deterministic
# 1 + (p_partkey mod 7) (fixed point ×1e3), so both numerator and
# denominator are exact non-negative BIGINTs and the divide is one
# truncating fixed-point op. k=1 is the exactness trick: the k×k
# normal-equation solve degenerates to scalar division (the k=2+
# generalization is q_ridge_normal's shared-double 3×3 pattern).
#
# Scale: ratings aggregate (custkey, partkey)-keyed with map-side
# combine; the user update is one partkey-joined, custkey-keyed
# aggregate — the same shuffle class as any fact-fact join. No
# broadcast of factors needed at k=1 (they join positionally).

_ALS_SCALE = 1000


def q_als_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS user half-step: per customer, interaction count, sum
    of ratings, and the updated scalar factor (1e-6 fixed point)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.expr(bigint_sql("l_quantity")).alias("qty")
    )
    ratings = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum("qty").cast("bigint").alias("r"))
    )
    factors = ratings.select(
        "o_custkey",
        "r",
        ((F.col("l_partkey") % 7 + 1) * _ALS_SCALE).cast("bigint").alias("f"),
    )
    g = factors.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("r").cast("bigint").alias("r_sum"),
        F.sum(F.col("r") * F.col("f")).cast("bigint").alias("num"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("den"),
    )
    return g.select(
        "o_custkey",
        "n_items",
        "r_sum",
        F.expr("CAST((num * 1000000) div den AS BIGINT)").alias("u_fp"),
    )


ORACLE_ALS = f"""
WITH ratings AS (
  SELECT o.o_custkey, l.l_partkey,
         CAST(sum({bigint_sql("l.l_quantity")}) AS BIGINT) AS r
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_custkey, l.l_partkey
),
factors AS (
  SELECT o_custkey, r,
         CAST((l_partkey % 7 + 1) * {_ALS_SCALE} AS BIGINT) AS f
  FROM ratings
),
g AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(r) AS BIGINT) AS r_sum,
         CAST(sum(r * f) AS BIGINT) AS num,
         CAST(sum(f * f) AS BIGINT) AS den
  FROM factors GROUP BY o_custkey
)
SELECT o_custkey, n_items, r_sum,
       CAST((num * 1000000) // den AS BIGINT) AS u_fp
FROM g
"""

QUERIES["q_als_step"] = (q_als_step, ORACLE_ALS)


# --- q_cohort_ltv: cohort lifetime-value accumulation ------------------------
#
# The revenue counterpart of q_cohort_retention's counts: customers
# cohorted by first-order month, revenue cells by months-since-
# cohort, accumulated left-to-right (cumulative LTV per cohort age).
# Month index year*12 + month is exact integer calendar math — no
# day arithmetic, no intervals.
#
# Scale: first-order month via one custkey-keyed min-aggregate
# (NOT a window over raw orders); cells aggregate (cohort, age);
# the cumsum window runs over cohort×age cells — months², not rows.


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (cohort month, age in months): paying customers, revenue
    cents, and the cohort's cumulative revenue."""
    # sequencing-validity boundary (r08 null-orderdate probe, mirrored
    # in the oracle): an undated order belongs to no cohort month —
    # its NULL age forms a group the engines cumulate at opposite ends
    # of the age-ordered window.
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    ).select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate")) * 12 + F.month(F.col("o_orderdate"))
        )
        .cast("bigint")
        .alias("ym"),
        F.expr(cents_sql("o_totalprice")).alias("cents"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    cells = (
        orders.join(first, "o_custkey")
        .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("age"))
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_custs"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
    )
    w_cum = (
        Window.partitionBy("cohort_ym")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_ym",
        F.col("age").cast("bigint").alias("age"),
        "n_custs",
        "rev_cents",
        F.sum("rev_cents").over(w_cum).cast("bigint").alias("cum_cents"),
    )


ORACLE_COHORT_LTV = f"""
WITH orders_m AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
         {cents_sql("o_totalprice")} AS cents
  FROM orders
  WHERE o_orderdate IS NOT NULL
),
first AS (
  SELECT o_custkey, min(ym) AS cohort_ym FROM orders_m GROUP BY o_custkey
),
cells AS (
  SELECT f.cohort_ym, o.ym - f.cohort_ym AS age,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_custs,
         CAST(sum(o.cents) AS BIGINT) AS rev_cents
  FROM orders_m o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY f.cohort_ym, o.ym - f.cohort_ym
)
SELECT cohort_ym, CAST(age AS BIGINT) AS age, n_custs, rev_cents,
       CAST(sum(rev_cents) OVER (PARTITION BY cohort_ym ORDER BY age
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_cents
FROM cells
"""

QUERIES["q_cohort_ltv"] = (q_cohort_ltv, ORACLE_COHORT_LTV)


# --- q_text_keyphrase: RAKE keyphrase extraction -----------------------------
#
# Rapid Automatic Keyword Extraction: candidate phrases are maximal
# stopword-free token runs (gaps-and-islands: pos − row_number over
# non-stopwords segments runs without a self-join), capped at 3
# words; word score = degree/frequency where degree sums the lengths
# of runs containing the word; phrase score sums its words' scores.
# Both stay 1e-6 fixed point: score(word) = deg·1e6 div freq, then
# phrase score sums word scores — exact integers end-to-end.
#
# Scale: two corpus-shuffle passes (phrase build is window-local per
# doc; word stats aggregate by token; phrase scores re-join words to
# the VOCABULARY-sized word table). Top-20 is a window over distinct
# phrases.

_RAKE_STOP = (
    "the a an and or of to in is are was were be been for on with as at by "
    "it its this that from not but have has had i you he she they we his her"
).split()
_RAKE_TOP = 20
_RAKE_MAXLEN = 3


def q_text_keyphrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 RAKE keyphrases: (rnk, phrase, n_words, freq,
    score_fp)."""
    stops = ",".join(f"'{w}'" for w in _RAKE_STOP)
    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.expr(TOKS_SPARK)).alias("pos", "tok")
    ).withColumn("is_stop", F.expr(f"tok IN ({stops})"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        toks.filter(~F.col("is_stop"))
        .withColumn("grp", F.col("pos") - F.row_number().over(w_doc))
        .groupBy("doc_id", "grp")
        .agg(
            # collect_list order is NOT guaranteed under shuffle —
            # sort by pos explicitly (house q_agg_collect discipline)
            F.expr(
                "transform(array_sort(collect_list(struct(pos, tok))),"
                " s -> s.tok)"
            ).alias("words"),
            F.count(F.lit(1)).cast("bigint").alias("run_len"),
        )
        .filter(F.col("run_len") <= _RAKE_MAXLEN)
        .withColumn("phrase", F.concat_ws(" ", F.col("words")))
    )
    # kept: the plain plan ran 1.58x slower (A/B: 5 pairs, sf0.1)
    runs = scoped_persist(runs)
    word_stats = (
        runs.select(F.explode("words").alias("w"), "run_len")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("run_len").cast("bigint").alias("deg"),
        )
        .select("w", F.expr("CAST((deg * 1000000) div freq AS BIGINT)").alias("wscore"))
    )
    phrase_scores = (
        runs.select("phrase", F.explode("words").alias("w"))
        .join(word_stats, "w")
        .groupBy("phrase")
        .agg(F.sum("wscore").cast("bigint").alias("total_w"))
    )
    phrases = (
        runs.groupBy("phrase", "run_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .join(phrase_scores, "phrase")
        # total_w summed over occurrences: normalize back to one
        # occurrence (each occurrence contributed run_len word rows)
        .select(
            "phrase",
            F.col("run_len").alias("n_words"),
            "freq",
            F.expr("CAST(total_w div freq AS BIGINT)").alias("score_fp"),
        )
    )
    # distributed top-k; rank over the bounded _RAKE_TOP-row result
    top = phrases.orderBy(F.desc("score_fp"), F.asc("phrase")).limit(_RAKE_TOP)
    w_top = Window.orderBy(F.desc("score_fp"), F.asc("phrase"))
    return top.withColumn("rnk", F.row_number().over(w_top).cast("int")).select(
        "rnk", "phrase", "n_words", "freq", "score_fp"
    )


def _keyphrase_oracle() -> str:
    stops = ",".join(f"'{w}'" for w in _RAKE_STOP)
    return f"""
WITH toks AS (
  SELECT doc_id, p.i AS pos, p.tok,
         p.tok IN ({stops}) AS is_stop
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) + 1, 1)),
                  i -> {{'tok': toks[i], 'i': i}})) AS p
    FROM (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents)
  )
),
nonstop AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM toks WHERE NOT is_stop
),
runs AS (
  SELECT doc_id, grp,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS run_len,
         list(tok ORDER BY pos) AS words
  FROM nonstop GROUP BY doc_id, grp
  HAVING count(*) <= {_RAKE_MAXLEN}
),
word_stats AS (
  SELECT w, CAST((CAST(sum(run_len) AS BIGINT) * 1000000)
                 // CAST(count(*) AS BIGINT) AS BIGINT) AS wscore
  FROM (SELECT unnest(words) AS w, run_len FROM runs)
  GROUP BY w
),
phrase_scores AS (
  SELECT phrase, CAST(sum(ws.wscore) AS BIGINT) AS total_w
  FROM (SELECT phrase, unnest(words) AS w FROM runs) rw
  JOIN word_stats ws ON rw.w = ws.w
  GROUP BY phrase
),
phrases AS (
  SELECT r.phrase, r.run_len AS n_words,
         CAST(count(*) AS BIGINT) AS freq
  FROM runs r GROUP BY r.phrase, r.run_len
),
scored AS (
  SELECT p.phrase, p.n_words, p.freq,
         CAST(s.total_w // p.freq AS BIGINT) AS score_fp
  FROM phrases p JOIN phrase_scores s ON p.phrase = s.phrase
)
SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, phrase ASC) AS INT)
         AS rnk,
       phrase, n_words, freq, score_fp
FROM scored
ORDER BY score_fp DESC, phrase ASC
LIMIT {_RAKE_TOP}
"""


QUERIES["q_text_keyphrase"] = (q_text_keyphrase, _keyphrase_oracle())


# --- q_simpson_check: Simpson's-reversal detector ----------------------------
#
# Does the pooled association between quantity and line price
# reverse inside any return-flag stratum? The SUFFICIENT STATISTICS
# (Sx, Sy, Sxx, Sxy) stay exact BIGINT per group AND pooled (the
# pooled statistics are just the summed group partials — one
# aggregation tree, no second scan); slopes, signs, AND the
# degeneracy guards all evaluate through the shared _ols_num /
# _ols_den DOUBLE helpers — the integer forms n·Sxy − Sx·Sy would
# wrap int64 at ~1.4e5 rows per group, with DuckDB
# hard-erroring while Spark wraps silently.
#
# Scale: one (flag)-keyed aggregate with map-side combine + a
# broadcast 1-row pooled total assembled FROM the group partials.
# Overflow documented: x = quantity (<= 50), y = cents (~1e7), so
# the BIGINT sums are safe to ~1.8e10 rows; beyond that, center x
# and y on pre-aggregated global means (house q_cov_stats
# prescription).


def q_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: group OLS slope of price-cents on quantity,
    the pooled slope, and whether the signs reverse."""
    return sql_frame(spark, sf_dir, ("lineitem",), ORACLE_SIMPSON_CHECK)


def _simpson_oracle() -> str:
    return f"""
WITH li AS (
  SELECT l_returnflag,
         {bigint_sql("l_quantity")} AS x,
         {cents_sql("l_extendedprice")} AS y
  FROM lineitem
),
g AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM li GROUP BY l_returnflag
),
pooled AS (
  SELECT CAST(sum(n) AS BIGINT) AS pn,
         CAST(sum(sx) AS BIGINT) AS psx,
         CAST(sum(sy) AS BIGINT) AS psy,
         CAST(sum(sxx) AS BIGINT) AS psxx,
         CAST(sum(sxy) AS BIGINT) AS psxy
  FROM g
)
SELECT l_returnflag, n,
       {_ols_num('n', 'sxy', 'sx', 'sy')}
       / {_ols_den('n', 'sxx', 'sx')} AS slope_group,
       {_ols_num('pn', 'psxy', 'psx', 'psy')}
       / {_ols_den('pn', 'psxx', 'psx')} AS slope_pooled,
       CAST(CASE WHEN sign({_ols_num('n', 'sxy', 'sx', 'sy')})
                      * sign({_ols_num('pn', 'psxy', 'psx', 'psy')}) < 0
                 THEN 1 ELSE 0 END AS INT) AS reversed
FROM g CROSS JOIN pooled
WHERE {_ols_den('n', 'sxx', 'sx')} > 0
  AND {_ols_den('pn', 'psxx', 'psx')} > 0
"""


ORACLE_SIMPSON_CHECK = _simpson_oracle()
QUERIES["q_simpson_check"] = (q_simpson_check, ORACLE_SIMPSON_CHECK)


# --- q_rolling_regression: trailing-window OLS slope per entity --------------
#
# The rolling model fit: for every event, the OLS slope of value
# against time over the user's trailing 8 observations — the
# time-local trend estimate behind drift monitors and technical
# indicators. All five sufficient statistics are EXACT windowed
# BIGINT sums (x = epoch seconds RE-BASED to the user's first
# observation so x² sums stay far from the int64 edge; y = cents);
# the slope is the one shared double expression (q_cov_stats form).
# Windows with < 3 points or zero time variance emit NULL — honest
# undefined, not 0.
#
# Scale: one user-bounded ordered window evaluates all five sums in
# a single WindowExec pass (Spark merges same-frame aggregates);
# nothing shuffles but the (user_id) key. The trailing frame is ROWS
# (count-based), deterministic under the (es, event_id) total order.

_ROLL_N = 8

# ONE slope text for both dialects (the _ols helper discipline): the
# trailing-window OLS slope, NULL when the window is degenerate.
# sxx/sxy are 128-bit here (DECIMAL(38,0) / HUGEINT — sentinel-dated
# events make x ~ 7.2e9 s and x*x overflow int64), and DuckDB's
# direct HUGEINT->DOUBLE cast is NOT correctly rounded (1 ULP low on
# e.g. 30846722877717498069) while Spark's Decimal->DOUBLE is — so
# the 128-bit sums go through VARCHAR: string->double parses
# correctly rounded in BOTH engines, keeping the shared text
# bitwise-par. n/sx/sy stay int64 and cast directly.
def _roll_d128(s: str) -> str:
    return f"CAST(CAST({s} AS STRING) AS DOUBLE)"


_ROLL_NUM = (
    f"(CAST(n AS DOUBLE) * {_roll_d128('sxy')}"
    f" - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_ROLL_DEN = (
    f"(CAST(n AS DOUBLE) * {_roll_d128('sxx')}"
    f" - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_ROLL_SLOPE = (
    f"CASE WHEN n >= 3 AND {_ROLL_DEN} > 0 THEN"
    f" {_ROLL_NUM} / {_ROLL_DEN}"
    f" ELSE NULL END"
)


def q_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: trailing-8 OLS slope of value-cents per second
    (double; NULL when undefined), plus the window's row count."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): the regressor IS elapsed time — an untimestamped event
    # has no x (and its NULL epoch sorts at opposite ends on the two
    # engines, re-basing every window).
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("es"),
        F.expr(cents_sql("value")).alias("y"),
    )
    w_first = Window.partitionBy("user_id").orderBy("es", "event_id")
    based = ev.select(
        "user_id",
        "event_id",
        "y",
        (F.col("es") - F.first("es").over(w_first)).cast("bigint").alias("x"),
    )
    w_roll = (
        Window.partitionBy("user_id")
        .orderBy("x", "event_id")
        .rowsBetween(-(_ROLL_N - 1), Window.currentRow)
    )
    # 128-bit cross-term discipline (r11, the q_stream_stats HUGEINT
    # precedent at streaming_batch.py): x is elapsed SECONDS, so a
    # sentinel-dated event (epoch-0 vs far-future in one user) makes
    # x ~ 7.2e9 and x*x ~ 5e19 > int64 — per-window centering would
    # NOT save a window that spans both sentinels, widening does.
    # DECIMAL(38,0) here mirrors HUGEINT in the oracle; the slope text
    # (_ROLL_NUM/_ROLL_DEN above) routes the two 128-bit sums through
    # the VARCHAR-mediated _roll_d128 cast so both engines parse a
    # correctly-rounded double, and casts the int64 sums directly.
    x128 = F.col("x").cast("decimal(38,0)")
    sums = based.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w_roll).cast("bigint").alias("n"),
        F.sum("x").over(w_roll).cast("bigint").alias("sx"),
        F.sum("y").over(w_roll).cast("bigint").alias("sy"),
        F.sum(x128 * F.col("x")).over(w_roll).cast("decimal(38,0)").alias("sxx"),
        F.sum(x128 * F.col("y")).over(w_roll).cast("decimal(38,0)").alias("sxy"),
    )
    return sums.select(
        "user_id", "event_id", "n", F.expr(_ROLL_SLOPE).alias("slope")
    )


ORACLE_ROLLING_REG = f"""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         {cents_sql("value")} AS y
  FROM events
  WHERE ts IS NOT NULL
),
based AS (
  SELECT user_id, event_id, y,
         CAST(es - first_value(es) OVER (PARTITION BY user_id
              ORDER BY es, event_id) AS BIGINT) AS x
  FROM ev
),
sums AS (
  SELECT user_id, event_id,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS sx,
         CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) OVER w AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) OVER w AS HUGEINT) AS sxy
  FROM based
  WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id
               ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, n,
       {_ROLL_SLOPE} AS slope
FROM sums
"""

QUERIES["q_rolling_regression"] = (q_rolling_regression, ORACLE_ROLLING_REG)


# --- q_graph_modularity: community modularity score (round 5q) ---------------
#
# Newman modularity of the nation partition over the shared
# customer-supplier graph: with M the DIRECTED edge count (both
# directions — the bipartite_edges convention), per community c
#   q_term(c) = ein_c/M − (d_c/M)²
# where ein_c counts directed edges with BOTH ends in c and d_c the
# directed degree mass of c; Q = Σ q_term. Using directed counts
# throughout is algebraically identical to the undirected e_c/m −
# (d_c/2m)² form. Counts stay exact BIGINT; each q_term is one
# shared double expression over them.
#
# Scale: the node→community map is |V|-bounded and broadcasts into
# the two edge-end joins; the rest is two keyed aggregates + a
# broadcast 1-row M. Suppliers map through s_nationkey, customers
# through c_nationkey — the same disjoint-id encoding as the rest of
# the graph family.


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation community: nodes, degree mass, within-community
    edges, and the modularity term (double, shared expression)."""
    from metoffice_spark.operators.scale import bipartite_edges

    # kept: exchanges 11 -> 12 without it (A/B: 5 pairs, sf0.1)
    edges = scoped_persist(bipartite_edges(spark, sf_dir))
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("node"),
        F.col("c_nationkey").cast("bigint").alias("comm"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        (-(F.col("s_suppkey") + 1)).cast("bigint").alias("node"),
        F.col("s_nationkey").cast("bigint").alias("comm"),
    )
    # kept: exchanges 11 -> 12 without it (A/B: 5 pairs, sf0.1)
    comm = scoped_persist(cust.unionByName(supp))
    tagged = (
        edges.join(
            F.broadcast(comm.withColumnRenamed("node", "src")), "src"
        )
        .withColumnRenamed("comm", "c_src")
        .join(
            F.broadcast(
                comm.withColumnRenamed("node", "dst").withColumnRenamed(
                    "comm", "c_dst"
                )
            ),
            "dst",
        )
    )
    # kept: exchanges 11 -> 12 without it (A/B: 5 pairs, sf0.1)
    tagged = scoped_persist(tagged)
    m_tot = tagged.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    per_c = tagged.groupBy(F.col("c_src").alias("comm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d_c"),
        F.sum(F.when(F.col("c_src") == F.col("c_dst"), 1).otherwise(0))
        .cast("bigint")
        .alias("ein_c"),
    )
    nodes_c = comm.join(
        F.broadcast(tagged.select(F.col("src").alias("node")).distinct()), "node"
    ).groupBy("comm").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        per_c.join(nodes_c, "comm")
        .crossJoin(F.broadcast(m_tot))
        .select(
            "comm",
            "n_nodes",
            "d_c",
            "ein_c",
            F.expr(
                "CAST(ein_c AS DOUBLE) / CAST(m AS DOUBLE)"
                " - (CAST(d_c AS DOUBLE) / CAST(m AS DOUBLE))"
                " * (CAST(d_c AS DOUBLE) / CAST(m AS DOUBLE))"
            ).alias("q_term"),
        )
    )


def _modularity_oracle() -> str:
    from metoffice_spark.operators.scale import EDGES_CTE

    return f"""
WITH {EDGES_CTE},
comm AS (
  SELECT CAST(c_custkey AS BIGINT) AS node,
         CAST(c_nationkey AS BIGINT) AS comm
  FROM customer
  UNION ALL
  SELECT CAST(-(s_suppkey + 1) AS BIGINT) AS node,
         CAST(s_nationkey AS BIGINT) AS comm
  FROM supplier
),
tagged AS (
  SELECT e.src, e.dst, cs.comm AS c_src, cd.comm AS c_dst
  FROM edges e
  JOIN comm cs ON e.src = cs.node
  JOIN comm cd ON e.dst = cd.node
),
m_tot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tagged),
per_c AS (
  SELECT c_src AS comm,
         CAST(count(*) AS BIGINT) AS d_c,
         CAST(sum(CASE WHEN c_src = c_dst THEN 1 ELSE 0 END) AS BIGINT) AS ein_c
  FROM tagged GROUP BY c_src
),
nodes_c AS (
  SELECT c.comm, CAST(count(*) AS BIGINT) AS n_nodes
  FROM comm c JOIN (SELECT DISTINCT src AS node FROM tagged) t
    ON c.node = t.node
  GROUP BY c.comm
)
SELECT p.comm, n.n_nodes, p.d_c, p.ein_c,
       CAST(ein_c AS DOUBLE) / CAST(m AS DOUBLE)
       - (CAST(d_c AS DOUBLE) / CAST(m AS DOUBLE))
         * (CAST(d_c AS DOUBLE) / CAST(m AS DOUBLE)) AS q_term
FROM per_c p JOIN nodes_c n ON p.comm = n.comm
CROSS JOIN m_tot
"""


QUERIES["q_graph_modularity"] = (q_graph_modularity, _modularity_oracle())


# --- q_graph_assortativity: degree assortativity (round 5r) ------------------
#
# Pearson correlation of endpoint degrees across the directed edge
# list — THE summary of whether hubs attach to hubs (assortative,
# r > 0) or to leaves (disassortative, r < 0; typical of bipartite
# commerce graphs). Sufficient statistics are exact BIGINT sums over
# the |E|-row (deg_src, deg_dst) relation; numerator/denominators
# evaluate through the shared _ols_num/_ols_den double helpers (the
# int64-overflow lesson of review r05 applied from the start).
#
# Scale: one degree aggregate + two broadcast joins of the
# |V|-bounded degree table onto the persisted edge list + one final
# 1-row aggregate. The symmetric edge list makes Sx == Sy; both are
# still computed so the expression stays the generic Pearson shape.
# Overflow bound: Σ deg² over edges = Σ deg³ over
# nodes — exact while max-degree³ · hub-count < 9.2e18 (a single
# deg-2e6 hub already saturates it); past that, the house
# prescription is the same statistic over log-bucketed degrees
# (q_spearman_corr's sampled-rank fallback analog).


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: directed edge count, distinct nodes, and the degree
    assortativity coefficient (double, shared expression)."""
    from metoffice_spark.operators.scale import bipartite_edges

    # kept: the plain plan ran 1.24x slower (A/B: 5 pairs, sf0.1)
    edges = scoped_persist(bipartite_edges(spark, sf_dir))
    # kept: the plain plan ran 1.24x slower (A/B: 5 pairs, sf0.1)
    deg = scoped_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    paired = (
        edges.join(
            F.broadcast(deg.selectExpr("src", "deg AS dx")), "src"
        )
        .join(
            F.broadcast(deg.selectExpr("src AS dst", "deg AS dy")), "dst"
        )
    )
    g = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    ).crossJoin(
        F.broadcast(
            deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        )
    )
    r_expr = (
        f"CASE WHEN {_ols_den('n', 'sxx', 'sx')} > 0"
        f" AND {_ols_den('n', 'syy', 'sy')} > 0 THEN"
        f" {_ols_num('n', 'sxy', 'sx', 'sy')}"
        f" / sqrt({_ols_den('n', 'sxx', 'sx')}"
        f" * {_ols_den('n', 'syy', 'sy')}) END"
    )
    return g.select(
        F.col("n").alias("n_edges"),
        "n_nodes",
        F.expr(r_expr).alias("assortativity"),
    )


def _assortativity_oracle() -> str:
    from metoffice_spark.operators.scale import EDGES_CTE

    r_expr = (
        f"CASE WHEN {_ols_den('n', 'sxx', 'sx')} > 0"
        f" AND {_ols_den('n', 'syy', 'sy')} > 0 THEN"
        f" {_ols_num('n', 'sxy', 'sx', 'sy')}"
        f" / sqrt({_ols_den('n', 'sxx', 'sx')}"
        f" * {_ols_den('n', 'syy', 'sy')}) END"
    )
    return f"""
WITH {EDGES_CTE},
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
paired AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM edges e
  JOIN deg dx ON e.src = dx.src
  JOIN deg dy ON e.dst = dy.src
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM paired
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT g.n AS n_edges, nn.n_nodes, {r_expr} AS assortativity
FROM g CROSS JOIN nn
"""


QUERIES["q_graph_assortativity"] = (
    q_graph_assortativity,
    _assortativity_oracle(),
)
