"""Nonparametric statistics + graph traversal + feature encoding
(SURVEY.md §2.28, round 5j).

Six operators extending the measurement/curation tail: a two-sample
Kolmogorov-Smirnov drift test (the distribution-free complement of
q_drift_chi2's binned test), multi-round BFS reachability over the
customer-supplier graph (oracle = DuckDB recursive CTE), the
hashing-trick bag-of-words encoder, NDCG@k ranking quality with
EXACT fixed-point log2 discounts (precomputed in Python once,
embedded as identical integer literals in both dialects — no libm
call ever runs in either engine), l-diversity profiling over the
k-anonymity equivalence classes, and delete-one-group jackknife
variance of a mean.

House determinism rules (curation.py:834, stats.py:10-16): exact
BIGINT partials everywhere; fixed-point divisions only with
non-negative numerators (abs() applied before the divide); md5
nibble arithmetic for "random" bucketing (pipeline.py:583); the one
double expression (jackknife variance) is a single shared
+,-,*,/ expression over exact integers, bitwise-identical across
engines.

Reference parity: the reference (MetOffice_WOW_Connect.txt) has no
statistics beyond scalar derivation; every qid here is EXT per the
BASELINE.json north star (training-data curation at 100 TB needs
drift tests, reachability audits, feature hashing, and ranking
metrics as first-class batch operators).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.llm import TOKS_DUCK, TOKS_SPARK, _spread
from metoffice_spark.parity import cents_sql, fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_ks_test: two-sample Kolmogorov-Smirnov drift test ---------------------
#
# Per source: D = max_x |F_en(x) - F_other(x)| over the n_chars
# distribution, comparing lang='en' docs against the rest. The whole
# statistic stays in exact integers: with cumulative counts ca(x),
# cb(x) and totals n_a, n_b, D = max |ca*n_b - cb*n_a| / (n_a*n_b),
# reported 1e-6 fixed point. Complements q_drift_chi2: KS needs no
# binning choice and is sensitive to any distributional difference,
# not just frequency shifts across predefined categories.
#
# Scale: one (source, x) pre-aggregate (map-side combinable) shrinks
# the window input to |distinct values| rows per source AND supplies
# the per-source totals by re-aggregation (no second scan of the
# base table); the cumsum window partitions by source — no global
# sort. Overflow bound: ca*n_b ≤ n_a*n_b < 9.2e18 → ~3e9 docs per
# side per source; the final 1e6 fixed-point divide uses the
# two-stage _fp_div_1e6 refine (stats.py:31) so d_num·1000 — not
# d_num·1e6 — is the largest product (d_num can reach n_a·n_b when
# the supports are disjoint, so a one-shot 1e6 multiply would cap
# the bound at ~3e6 per side).


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: n_en, n_other, and the two-sample KS statistic
    (1e-6 fixed point) between en and non-en n_chars distributions."""
    # rank-validity boundary (r08 null-nchars probe, mirrored in the
    # oracle): a scoreless document has no place in either empirical
    # CDF — its NULL x cumulates at opposite ends of the two engines'
    # x-ordered windows.
    docs = load(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    ).select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("bigint").alias("a"),
    )
    per_x = docs.groupBy("source", "x").agg(
        F.sum("a").cast("bigint").alias("na_x"),
        F.sum(1 - F.col("a")).cast("bigint").alias("nb_x"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_x.select(
        "source",
        F.sum("na_x").over(w_cum).cast("bigint").alias("ca"),
        F.sum("nb_x").over(w_cum).cast("bigint").alias("cb"),
    )
    totals = per_x.groupBy("source").agg(
        F.sum("na_x").cast("bigint").alias("n_a"),
        F.sum("nb_x").cast("bigint").alias("n_b"),
    )
    # co-partitioned on source with the window output; totals is tiny
    # (one row per source) and broadcasts
    d_num = (
        cum.join(F.broadcast(totals), "source")
        .select(
            "source",
            "n_a",
            "n_b",
            F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).alias("d"),
        )
        .groupBy("source", "n_a", "n_b")
        .agg(F.max("d").cast("bigint").alias("d_num"))
    )
    from metoffice_spark.operators.stats import _fp_div_1e6

    return d_num.filter("n_a > 0 AND n_b > 0").select(
        "source",
        "n_a",
        "n_b",
        F.expr(
            f"CAST({_fp_div_1e6('d_num', '(n_a * n_b)', 'div')} AS BIGINT)"
        ).alias("ks_fp"),
    )


def _ks_oracle() -> str:
    from metoffice_spark.operators.stats import _fp_div_1e6

    return f"""
WITH base AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS a
  FROM documents
  WHERE n_chars IS NOT NULL
),
per_x AS (
  SELECT source, x,
         CAST(sum(a) AS BIGINT) AS na_x,
         CAST(sum(1 - a) AS BIGINT) AS nb_x
  FROM base GROUP BY source, x
),
cum AS (
  SELECT source,
         CAST(sum(na_x) OVER (PARTITION BY source ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         CAST(sum(nb_x) OVER (PARTITION BY source ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
  FROM per_x
),
totals AS (
  SELECT source, CAST(sum(na_x) AS BIGINT) AS n_a,
         CAST(sum(nb_x) AS BIGINT) AS n_b
  FROM per_x GROUP BY source
),
d AS (
  SELECT c.source, t.n_a, t.n_b,
         CAST(max(abs(c.ca * t.n_b - c.cb * t.n_a)) AS BIGINT) AS d_num
  FROM cum c JOIN totals t ON c.source = t.source
  GROUP BY c.source, t.n_a, t.n_b
)
SELECT source, n_a, n_b,
       CAST({_fp_div_1e6('d_num', '(n_a * n_b)', '//')} AS BIGINT) AS ks_fp
FROM d WHERE n_a > 0 AND n_b > 0
"""


QUERIES["q_ks_test"] = (q_ks_test, _ks_oracle())


# --- q_graph_bfs: multi-round BFS reachability -------------------------------
#
# Breadth-first levels from the minimum customer key over the same
# undirected customer-supplier bipartite graph as q_graph_pagerank
# (scale.py:382) / q_graph_triangles: node -(s+1) is supplier s. The
# oracle is a DuckDB WITH RECURSIVE CTE bounded at the same depth —
# a genuinely non-trivial cross-engine shape (iterative DataFrame
# joins vs recursive SQL).
#
# Scale: edges persist hash-partitioned on src once; each round is
# one frontier⋈edges equi-join plus one anti-join against the
# visited set. BOTH small sides broadcast: frontier and visited are
# bounded by |V| (the node set), and every round that instead
# shuffle-joins the full |E| edge relation costs an |E|-sized sort —
# measured 6× slower at sf0.1. When |V| outgrows the broadcast
# threshold (~1e8 nodes), drop the two hints and the join falls back
# to the persisted src partitioning (only the frontier side moves).
# Per-round scoped_persist cuts lineage so the plan does not nest L
# copies of the edge build (the q_dedup_components round-3 lesson).

_BFS_MAX_LEVEL = 4


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS levels 0..4 from MIN(o_custkey) over the customer-supplier
    graph: (level, n_nodes, min_node, max_node)."""
    # r13 optimization round (guide §2.4): BFS no longer materializes
    # the exploded-undirected bipartite_edges set. Two facts make the
    # shared substrate overkill here: (1) the per-round ``distinct``
    # already dedupes matched neighbours, so the edge-level
    # set-dedup's full |E| shuffle bought nothing — the cache now
    # builds with ZERO exchanges (broadcast orders⋈lineitem, map-only
    # projection); (2) the graph is bipartite with disjoint id spaces
    # (customers >= 0, suppliers < 0), so a frontier at odd level is
    # all suppliers and at even level all customers, and probing the
    # DIRECTED fwd table on the matching side column is exactly the
    # undirected neighbour step at half the scanned rows. Measured
    # ~30 % off the query at sf0.1; rows verified identical (the
    # level table is the same set either way).
    # Cache-size trade (ADVICE r13): fwd persists WITHOUT distinct, so
    # the cached relation holds one row per orders⋈lineitem match —
    # it scales with |lineitem|, not |E| (the per-level .distinct()
    # keeps results identical). At the 100 TB design point, if the
    # multiplicity blow-up makes |matches| >> |E|, reinstate
    # .distinct() here (one |E| shuffle buys a |E|-bounded cache) —
    # the same knob as the documented huge-|V| fallback.
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    fwd = (
        orders.select("o_orderkey", "o_custkey")
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (-(F.col("l_suppkey") + 1)).cast("bigint").alias("dst"),
        )
    )
    # kept: read by every round; cuts lineage that grows with the round count
    fwd = scoped_persist(fwd)
    seed = orders.agg(F.min("o_custkey").cast("bigint").alias("node")).select(
        "node", F.lit(0).cast("int").alias("level")
    )
    # kept: rebound per round; cuts lineage that grows with the round count
    reached = scoped_persist(seed)
    frontier = reached
    for lvl in range(1, _BFS_MAX_LEVEL + 1):
        # odd level: frontier ⊆ customers, neighbours via fwd.src;
        # even level: frontier ⊆ suppliers, neighbours via fwd.dst
        probe, out = ("src", "dst") if lvl % 2 == 1 else ("dst", "src")
        nxt = (
            F.broadcast(frontier.select("node"))
            .join(fwd, F.col("node") == F.col(probe))
            .select(F.col(out).alias("node"))
            .distinct()
            .join(F.broadcast(reached.select("node")), "node", "left_anti")
            .select("node", F.lit(lvl).cast("int").alias("level"))
        )
        # kept: rebound per round; cuts lineage that grows with the round count
        nxt = scoped_persist(nxt)
        # reached is a union of ALREADY-persisted per-level frames —
        # persisting the union again would re-materialize every level
        # each round (quadratic cache churn)
        reached = reached.unionByName(nxt)
        frontier = nxt
    return (
        reached.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("level")
    )


def _bfs_oracle() -> str:
    from metoffice_spark.operators.scale import EDGES_CTE

    return f"""
WITH RECURSIVE {EDGES_CTE},
bfs(node, level) AS (
  SELECT CAST(min(o_custkey) AS BIGINT) AS node, 0 AS level FROM orders
  UNION
  SELECT e.dst AS node, b.level + 1 AS level
  FROM bfs b JOIN edges e ON b.node = e.src
  WHERE b.level < {_BFS_MAX_LEVEL}
),
lvl AS (
  SELECT node, CAST(min(level) AS INT) AS level FROM bfs GROUP BY node
)
SELECT level, count(*) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node
FROM lvl GROUP BY level ORDER BY level
"""


QUERIES["q_graph_bfs"] = (q_graph_bfs, _bfs_oracle())


# --- q_feature_hashing: hashing-trick bag-of-words ---------------------------
#
# The fixed-dimension sparse encoder for downstream linear models
# (q_quality_classifier, q_ridge_normal): token -> bucket = first
# md5 BYTE of 'FH1|tok' mod 24 — 24, not a power of two, so BOTH
# nibbles influence the bucket (with mod 16 the high nibble cancels
# out of (hi*16 + lo) % 16 entirely — review r05); per-doc bucket
# counts serialized as a 'bb:count' string sorted by bucket
# (zero-padded so lexicographic == numeric order — and the string
# form keeps the driver's pandas hasher off raw arrays, the
# q_tokenize_ids r03 lesson). Collisions are BY DESIGN (the hashing
# trick); determinism comes from md5, shared across engines via the
# nibble-strpos idiom (pipeline.py:583, ORACLE_SHARD_ASSIGN).
#
# Scale: explode -> groupBy(doc_id, bucket) is map-side combinable;
# nothing wider than (doc_id, 16) ever shuffles; no vocabulary build,
# no global dictionary — the entire point of feature hashing at
# 100 TB.

_FH_BUCKETS = 24  # not a power of two: both hash nibbles matter
_FH_SEED = "FH1"
_FH_NIBBLES = "0123456789abcdef"


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: token count and the 24-bucket hashed bag-of-words as
    a 'bb:count|bb:count' string (buckets ascending)."""
    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = docs.select(
        "doc_id", F.explode(F.expr(TOKS_SPARK)).alias("tok")
    ).withColumn("h", F.md5(F.concat(F.lit(_FH_SEED + "|"), F.col("tok"))))
    bucketed = toks.select(
        "doc_id",
        (
            (
                F.expr(f"instr('{_FH_NIBBLES}', substring(h, 1, 1)) - 1") * 16
                + F.expr(f"instr('{_FH_NIBBLES}', substring(h, 2, 1)) - 1")
            )
            % _FH_BUCKETS
        )
        .cast("int")
        .alias("bucket"),
    )
    per_bucket = bucketed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return per_bucket.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_toks"),
        F.concat_ws(
            "|",
            F.sort_array(
                F.collect_list(
                    F.concat(
                        F.lpad(F.col("bucket").cast("string"), 2, "0"),
                        F.lit(":"),
                        F.col("cnt").cast("string"),
                    )
                )
            ),
        ).alias("feats"),
    )


ORACLE_FEATURE_HASHING = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, md5('{_FH_SEED}|' || tok) AS h FROM toks
),
bucketed AS (
  SELECT doc_id,
         CAST(((strpos('{_FH_NIBBLES}', substring(h, 1, 1)) - 1) * 16
               + (strpos('{_FH_NIBBLES}', substring(h, 2, 1)) - 1))
              % {_FH_BUCKETS} AS INT) AS bucket
  FROM hashed
),
per_bucket AS (
  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY doc_id, bucket
)
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_toks,
       string_agg(lpad(CAST(bucket AS VARCHAR), 2, '0') || ':'
                  || CAST(cnt AS VARCHAR), '|' ORDER BY bucket) AS feats
FROM per_bucket GROUP BY doc_id
"""

QUERIES["q_feature_hashing"] = (q_feature_hashing, ORACLE_FEATURE_HASHING)


# --- q_eval_ndcg: NDCG@10 with exact fixed-point discounts -------------------
#
# Ranking quality of the n_chars proxy ranker (same proxy task as
# q_eval_auc / q_eval_pr: does length predict lang='en'), per
# source. The log2 discount table 1/log2(p+1) for p = 1..10 is
# precomputed ONCE in Python as 1e-6 fixed-point integers and
# embedded as identical CASE literals in both dialects — neither
# engine ever calls libm, so cross-engine float parity is moot; DCG
# and IDCG are exact BIGINT sums, and binary gains mean IDCG is just
# the prefix sum of the first min(n_pos, 10) discounts (a second
# literal table). DCG <= IDCG always, so the final 1e6 fixed-point
# divide has a non-negative numerator <= denominator.
#
# Scale: the rank window partitions by source (per-group distributed
# sort, same cost class as q_eval_auc); everything after the top-10
# filter is a few rows per source.

_NDCG_K = 10
# 1e-6 fixed-point 1/log2(p+1), p = 1..10
_NDCG_DISC = [round(1_000_000 / math.log2(p + 1)) for p in range(1, _NDCG_K + 1)]
# prefix sums: _NDCG_IDEAL[k] = sum of the k largest discounts
_NDCG_IDEAL = [0]
for _d in _NDCG_DISC:
    _NDCG_IDEAL.append(_NDCG_IDEAL[-1] + _d)


def _disc_case(rank_col: str) -> str:
    """CASE literal mapping rank -> 1e-6 fixed-point discount (shared
    dialect text: CASE/WHEN is identical in Spark SQL and DuckDB)."""
    whens = " ".join(
        f"WHEN {p + 1} THEN {d}" for p, d in enumerate(_NDCG_DISC)
    )
    return f"(CASE {rank_col} {whens} ELSE 0 END)"


def _ideal_case(npos_col: str) -> str:
    """CASE literal mapping min(n_pos, 10) -> ideal DCG prefix sum."""
    whens = " ".join(f"WHEN {k} THEN {s}" for k, s in enumerate(_NDCG_IDEAL))
    capped = f"(CASE WHEN {npos_col} > {_NDCG_K} THEN {_NDCG_K} ELSE {npos_col} END)"
    return f"(CASE {capped} {whens} END)"


def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: n, n_pos, DCG@10 / ideal DCG / NDCG@10 of the
    n_chars ranker against lang='en', all 1e-6 fixed point."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("bigint").alias("pos"),
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    ranked = docs.select(
        "source", "pos", F.row_number().over(w_rank).alias("rk")
    )
    g = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(
            F.when(F.col("rk") <= _NDCG_K, F.col("pos")).otherwise(0)
            * F.expr(_disc_case("rk"))
        )
        .cast("bigint")
        .alias("dcg_fp"),
    )
    return g.filter("n_pos > 0").select(
        "source",
        "n",
        "n_pos",
        "dcg_fp",
        F.expr(_ideal_case("n_pos")).cast("bigint").alias("idcg_fp"),
        F.expr(
            f"CAST((dcg_fp * 1000000) div {_ideal_case('n_pos')} AS BIGINT)"
        ).alias("ndcg_fp"),
    )


ORACLE_EVAL_NDCG = f"""
WITH ranked AS (
  SELECT source,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS pos,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
),
g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN rk <= {_NDCG_K} THEN pos ELSE 0 END
                  * {_disc_case('rk')}) AS BIGINT) AS dcg_fp
  FROM ranked GROUP BY source
)
SELECT source, n, n_pos, dcg_fp,
       CAST({_ideal_case('n_pos')} AS BIGINT) AS idcg_fp,
       CAST((dcg_fp * 1000000) // {_ideal_case('n_pos')} AS BIGINT) AS ndcg_fp
FROM g WHERE n_pos > 0
"""

QUERIES["q_eval_ndcg"] = (q_eval_ndcg, ORACLE_EVAL_NDCG)


# --- q_l_diversity: sensitive-attribute diversity per QI class ---------------
#
# Companion to q_k_anonymity (quality.py:782): same quasi-identifier
# classes (c_nationkey, 1000-unit acctbal bucket), but the risk
# measure is the number of DISTINCT sensitive values (c_mktsegment)
# per class — a class can satisfy k-anonymity yet expose everyone's
# segment if all members share one. Output is the class-count /
# row-count histogram by diversity level l, with the below-threshold
# flag (l < 3).
#
# Scale: two map-side-combinable aggregates keyed on the QI tuple
# then on l; the distinct-count is exact via the (QI, segment)
# pre-distinct — the approximate path at 100 TB is q_sketch_hll on
# the same keys.

_L_DIVERSE = 3
# Balance bucket of the quasi-identifier tuple: whole 1,000-unit bands
# of the exact cents, NULL for a balance that does not fit.
_BAL_BUCKET = (
    f"CASE WHEN {fits_sql('c_acctbal')}"
    " THEN CAST(floor(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"
    " / 100000.0) AS BIGINT) END"
)


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of QI classes by sensitive diversity l: (l, below_l,
    n_classes, n_rows)."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_L_DIVERSITY)


ORACLE_L_DIVERSITY = f"""
WITH base AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nat,
         {_BAL_BUCKET} AS bal_bucket,
         c_mktsegment
  FROM customer
),
classes AS (
  SELECT nat, bal_bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
  FROM base GROUP BY nat, bal_bucket
)
SELECT l,
       CAST(CASE WHEN l < {_L_DIVERSE} THEN 1 ELSE 0 END AS INT) AS below_l,
       count(*) AS n_classes,
       CAST(sum(n) AS BIGINT) AS n_rows
FROM classes GROUP BY l ORDER BY l
"""

QUERIES["q_l_diversity"] = (q_l_diversity, ORACLE_L_DIVERSITY)


# --- q_jackknife_var: delete-one-group jackknife -----------------------------
#
# Grouped (delete-one-priority-class) jackknife of the mean order
# price: for each of the g groups, the leave-group-out mean in
# 1e-4-dollar fixed point (cents * 100 stays exact BIGINT), plus a
# per-group variance TERM such that the jackknife variance is the
# plain SUM of the emitted jk_term column:
#   var_jack = (g-1)/g * SUM_i (theta_i - theta_bar)^2
#            = SUM_i jk_term,  jk_term = (g·theta_i - sum_theta)^2
#                                         · (g-1) / g^3
# (SUM, not mean — averaging the rows understates the estimator by
# g; review r05). Each term is ONE shared double expression over
# exact integer sums — (g*theta_i - sum_theta)^2 stays integral, so
# the only double op is the final scale (correctly rounded,
# bitwise-identical across engines).
#
# Scale: one groupBy over orders (map-side combinable), a broadcast
# 1-row total, and a 5-row window — nothing shuffles more than the
# group cardinality. Overflow bound: cents*100 sums safe to ~9e16
# dollars; (g*theta)^2 safe while group means < ~4e8 fixed-point
# units apart, documented here as the 1e12-row bound.


def q_jackknife_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order priority: leave-group-out mean price (1e-4 dollars,
    fixed point) plus the shared jackknife variance of the mean."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(cents_sql("o_totalprice")).alias("cents"),
    )
    per_g = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("cents").cast("bigint").alias("s_i"),
    )
    totals = per_g.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("n_i").cast("bigint").alias("n_tot"),
        F.sum("s_i").cast("bigint").alias("s_tot"),
    )
    loo = per_g.crossJoin(F.broadcast(totals)).select(
        "o_orderpriority",
        "n_i",
        "g",
        # nullif: a degenerate slice can leave a single surviving
        # priority group, making the leave-one-out sample empty
        # (n_tot = n_i) — Spark ANSI raises DIVIDE_BY_ZERO there, so
        # theta and every term derived from it go NULL on both engines
        # instead (r07 near-empty fuzz finding).
        F.expr(
            "CAST(((s_tot - s_i) * 100) div nullif(n_tot - n_i, 0) AS BIGINT)"
        ).alias("theta_fp"),
    )
    w_all = Window.partitionBy("g")
    spread = loo.select(
        "o_orderpriority",
        "n_i",
        "g",
        "theta_fp",
        F.sum("theta_fp").over(w_all).cast("bigint").alias("sum_theta"),
    )
    return spread.select(
        "o_orderpriority",
        "n_i",
        "theta_fp",
        F.expr(
            "CAST(g * theta_fp - sum_theta AS DOUBLE)"
            " * CAST(g * theta_fp - sum_theta AS DOUBLE)"
            " * CAST(g - 1 AS DOUBLE)"
            " / (CAST(g AS DOUBLE) * CAST(g AS DOUBLE) * CAST(g AS DOUBLE))"
        ).alias("jk_term"),
    )


ORACLE_JACKKNIFE = f"""
WITH per_g AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS s_i
  FROM orders GROUP BY o_orderpriority
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS g,
         CAST(sum(n_i) AS BIGINT) AS n_tot,
         CAST(sum(s_i) AS BIGINT) AS s_tot
  FROM per_g
),
loo AS (
  SELECT p.o_orderpriority, p.n_i, t.g,
         CAST(((t.s_tot - p.s_i) * 100) // nullif(t.n_tot - p.n_i, 0) AS BIGINT) AS theta_fp
  FROM per_g p CROSS JOIN totals t
),
spread AS (
  SELECT o_orderpriority, n_i, g, theta_fp,
         CAST(sum(theta_fp) OVER () AS BIGINT) AS sum_theta
  FROM loo
)
SELECT o_orderpriority, n_i, theta_fp,
       CAST(g * theta_fp - sum_theta AS DOUBLE)
       * CAST(g * theta_fp - sum_theta AS DOUBLE)
       * CAST(g - 1 AS DOUBLE)
       / (CAST(g AS DOUBLE) * CAST(g AS DOUBLE) * CAST(g AS DOUBLE)) AS jk_term
FROM spread
"""

QUERIES["q_jackknife_var"] = (q_jackknife_var, ORACLE_JACKKNIFE)
