"""Scale-technique operators: the distributed-execution patterns a
100 TB deployment leans on, each expressed as an oracle-checkable
query so the technique itself is under the correctness gate.

- q_incr_agg        incremental aggregate maintenance (base + delta
                    partials merged == full recompute)
- q_topk_twophase   skew-safe per-group top-k (salted partial top-k,
                    then global re-rank of the survivors)
- q_join_bloom      Bloom-filter pre-filtered semi-join (k broadcast
                    bit-tests ANDed map-side before the exact join)
- q_sketch_cms      Count-Min sketch frequency estimates vs exact
                    counts for the heavy hitters

The reference has no analog (pure EXT). Determinism follows the repo
discipline (llm.py header): md5 is the only "random" source, every
aggregated quantity is an exact BIGINT (fixed-point via the
parity.cents_sql convention), and any IEEE divide happens last, on
exact integer inputs, with the identical expression on both engines.

Scale design (100 TB):
- incremental agg merges pre-aggregated partials — the delta pipeline
  never rescans the base corpus, and the merge shuffles #groups rows;
- two-phase top-k bounds every task's sort at (salt-bucket x k) rows
  even when one group holds half the table;
- the Bloom build side is O(m) bits regardless of dim cardinality and
  probes are map-side broadcast lookups, so the fact table is pruned
  before the only real join;
- the CMS is d*w cells however many events stream through it —
  map-side combine collapses each partition to <= d*w rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load
from metoffice_spark.parity import cents_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}

_NIBBLES = "0123456789abcdef"


def _nib_spark(h: str, i: int) -> str:
    """0-15 value of hex nibble ``i`` (1-based) of column ``h``."""
    return f"(locate(substring({h}, {i}, 1), '{_NIBBLES}') - 1)"


def _nib_duck(h: str, i: int) -> str:
    return f"(strpos('{_NIBBLES}', substring({h}, {i}, 1)) - 1)"


# --- q_incr_agg: incremental aggregate maintenance ---------------------------
#
# The delta-pipeline pattern: yesterday's aggregate is materialized;
# today only the delta partition is scanned, partially aggregated, and
# MERGED (sum-of-sums, sum-of-counts, min/max-of-mins/maxes). The
# oracle is the full recompute — the gate proves merge == batch.

_INCR_CUTOFF = "1997-06-01"


def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregate maintained incrementally: partial
    aggregates over the base (< cutoff shipdate) and the delta
    (>= cutoff) merged into the full-table result.

    Scale: each side is scanned once with its filter pushed to
    parquet; the merge shuffles 2 x #groups pre-aggregated rows, so a
    daily refresh costs the delta scan, never the base rescan."""
    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp")

    def partial(side: DataFrame) -> DataFrame:
        return side.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr(cents_sql("l_quantity"))).alias("qty_fp"),
            F.sum(F.expr(cents_sql("l_extendedprice"))).alias("price_fp"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )

    # The base/delta split must be EXHAUSTIVE or merge != batch: a
    # NULL shipdate fails BOTH `< cutoff` and `>= cutoff` (three-valued
    # logic) and silently vanishes from the incremental view while the
    # batch recompute keeps the row (r08 null-shipdate probe). Route
    # NULL-axis rows to the delta — at 100 TB an incremental refresh
    # that drops unplaceable rows diverges from its base table a
    # little more every day.
    merged = (
        partial(li.filter(F.col("l_shipdate") < cutoff))
        .unionByName(
            partial(
                li.filter(
                    (F.col("l_shipdate") >= cutoff)
                    | F.col("l_shipdate").isNull()
                )
            )
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("qty_fp").cast("bigint").alias("qty_fp"),
            F.sum("price_fp").cast("bigint").alias("price_fp"),
            F.min("first_ship").alias("first_ship"),
            F.max("last_ship").alias("last_ship"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "qty_fp",
        "price_fp",
        (F.col("qty_fp") / F.lit(100.0) / F.col("n_rows")).alias("avg_qty"),
        "first_ship",
        "last_ship",
    )


# Oracle: the BATCH recompute — merge-of-partials must equal it.
ORACLE_INCR_AGG = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum({cents_sql("l_quantity")}) AS BIGINT) AS qty_fp,
       CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT) AS price_fp,
       CAST(sum({cents_sql("l_quantity")}) AS BIGINT) / 100.0
         / count(*) AS avg_qty,
       min(l_shipdate) AS first_ship,
       max(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

QUERIES["q_incr_agg"] = (q_incr_agg, ORACLE_INCR_AGG)


# --- q_topk_twophase: skew-safe per-group top-k ------------------------------
#
# l_returnflag has 3 values over the whole table — the degenerate
# skew case where a plain per-group window serializes a third of the
# data through one task. Phase 1 ranks within (group, salt) so every
# task sorts ~1/S of the group; phase 2 re-ranks only the <= S*k
# survivors. The salt is Spark-internal (any hash works — it never
# affects the result), so the oracle is the plain window.

_TOPK_K = 5
_TOPK_SALTS = 16


def q_topk_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 line items per return flag by price, computed with a
    salted two-phase ranking that never sorts a whole group in one
    task. Total order (price_fp DESC, l_orderkey, l_linenumber) makes
    the result unique; the salt only bounds intermediate sort size."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.expr(cents_sql("l_extendedprice")).alias("price_fp"),
    )
    order = [F.col("price_fp").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    salted = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_TOPK_SALTS))
    )
    w1 = Window.partitionBy("l_returnflag", "salt").orderBy(*order)
    survivors = (
        salted.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= _TOPK_K)
        .drop("salt", "rk1")
    )
    w2 = Window.partitionBy("l_returnflag").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _TOPK_K)
        .select("l_returnflag", "rk", "l_orderkey", "l_linenumber", "price_fp")
    )


ORACLE_TOPK_TWOPHASE = f"""
WITH ranked AS (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         {cents_sql("l_extendedprice")} AS price_fp,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY {cents_sql("l_extendedprice")} DESC,
                    l_orderkey, l_linenumber) AS rk
  FROM lineitem
)
SELECT l_returnflag, CAST(rk AS INT) AS rk, l_orderkey, l_linenumber, price_fp
FROM ranked WHERE rk <= {_TOPK_K}
"""

QUERIES["q_topk_twophase"] = (q_topk_twophase, ORACLE_TOPK_TWOPHASE)


# --- q_join_bloom: Bloom-pre-filtered semi-join ------------------------------
#
# Build: the dim side (BUILDING-segment customers) sets k=3 positions
# in an m=4096-bit filter — position j of a key is the first 3 hex
# nibbles of md5('BLj|' || key). Probe: an orders row is a CANDIDATE
# iff all 3 of its positions are set (three broadcast semi-joins
# against <= m-row position sets — map-side, no shuffle of the fact).
# Only candidates reach the exact membership join. Both engines
# compute the identical filter, so the candidate counts (including
# false positives) are themselves oracle-checked.

_BLOOM_SEG = "BUILDING"
_BLOOM_K = 3


def _pos_spark(seed: str, key: str) -> str:
    h = f"md5(concat('{seed}|', cast({key} as string)))"
    return (
        f"({_nib_spark(h, 1)} * 256 + {_nib_spark(h, 2)} * 16"
        f" + {_nib_spark(h, 3)})"
    )


def _pos_duck(seed: str, key: str) -> str:
    h = f"md5('{seed}|' || CAST({key} AS VARCHAR))"
    return (
        f"({_nib_duck(h, 1)} * 256 + {_nib_duck(h, 2)} * 16"
        f" + {_nib_duck(h, 3)})"
    )


def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-priority: orders passing the 3-hash/4096-bit Bloom
    pre-filter for BUILDING-segment customers (candidates), the exact
    matches among them, and the false-positive overshoot.

    Scale: the bit-position sets are bounded by m (4096) rows however
    large the dim grows, broadcast to every task; the fact side is
    pruned by ANDed map-side bit-tests before the one exact
    (also broadcast) join — no shuffle of orders at any point."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == _BLOOM_SEG)
    orders = load(spark, sf_dir, "orders")

    cand = orders
    for j in range(_BLOOM_K):
        bits = cust.select(
            F.expr(_pos_spark(f"BL{j}", "c_custkey")).alias(f"pos{j}")
        ).distinct()
        cand = cand.withColumn(f"pos{j}", F.expr(_pos_spark(f"BL{j}", "o_custkey"))).join(
            F.broadcast(bits), f"pos{j}", "left_semi"
        )

    dim_keys = cust.select(F.col("c_custkey").alias("o_custkey")).distinct()
    flagged = cand.join(
        F.broadcast(dim_keys.withColumn("matched", F.lit(1))), "o_custkey", "left"
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count("matched").alias("n_matches"),
        (F.count(F.lit(1)) - F.count("matched")).alias("n_false_pos"),
    )


ORACLE_JOIN_BLOOM = f"""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'
),
cand AS (
  SELECT o.o_orderpriority, o.o_custkey
  FROM orders o
  WHERE {_pos_duck("BL0", "o.o_custkey")} IN
          (SELECT {_pos_duck("BL0", "c_custkey")} FROM dim)
    AND {_pos_duck("BL1", "o.o_custkey")} IN
          (SELECT {_pos_duck("BL1", "c_custkey")} FROM dim)
    AND {_pos_duck("BL2", "o.o_custkey")} IN
          (SELECT {_pos_duck("BL2", "c_custkey")} FROM dim)
)
SELECT o_orderpriority,
       count(*) AS n_candidates,
       count(CASE WHEN o_custkey IN (SELECT c_custkey FROM dim)
                  THEN 1 END) AS n_matches,
       count(*) - count(CASE WHEN o_custkey IN (SELECT c_custkey FROM dim)
                             THEN 1 END) AS n_false_pos
FROM cand
GROUP BY o_orderpriority
"""

QUERIES["q_join_bloom"] = (q_join_bloom, ORACLE_JOIN_BLOOM)


# --- q_sketch_cms: Count-Min frequency sketch --------------------------------
#
# d=4 hash rows x w=256 columns; cell (j, c) counts events whose
# user_id maps to column c under hash j (first 2 nibbles of
# md5('CMSj|' || user_id)). The estimate for an item is the MIN of its
# d cells — always >= the exact count, and identical on both engines
# because the sketch construction is deterministic.

_CMS_D = 4
_CMS_TRACKED = 10


def _cms_pos_spark(j: int, key: str) -> str:
    h = f"md5(concat('CMS{j}|', cast({key} as string)))"
    return f"({_nib_spark(h, 1)} * 16 + {_nib_spark(h, 2)})"


def _cms_pos_duck(j: int, key: str) -> str:
    h = f"md5('CMS{j}|' || CAST({key} AS VARCHAR))"
    return f"({_nib_duck(h, 1)} * 16 + {_nib_duck(h, 2)})"


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS estimate vs exact count for the 10 heaviest event users:
    (user_id, n_exact, n_est) with n_est = min over the 4 sketch rows.

    Scale: the sketch is d*w = 1024 cells regardless of event volume
    (map-side combine collapses each input partition to <= 1024 rows
    before the shuffle); exact counts exist only for the tracked
    heavy hitters, found via a TakeOrdered top-k, never a global
    single-partition sort."""
    ev = load(spark, sf_dir, "events")

    poses = F.array(
        *[F.expr(_cms_pos_spark(j, "user_id")).cast("int") for j in range(_CMS_D)]
    )
    cells = (
        ev.select(F.posexplode(poses).alias("j", "c"))
        .groupBy("j", "c")
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )

    tracked = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("user_id"))
        .limit(_CMS_TRACKED)
    )
    est = (
        tracked.select("user_id", "n_exact", F.posexplode(poses).alias("j", "c"))
        .join(F.broadcast(cells), ["j", "c"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cell_n").cast("bigint").alias("n_est"))
    )
    return est.select("user_id", "n_exact", "n_est")


_CMS_CELL_UNION = "\nUNION ALL\n".join(
    f"SELECT {j} AS j, {_cms_pos_duck(j, 'user_id')} AS c, count(*) AS cell_n"
    f" FROM events GROUP BY 1, 2"
    for j in range(_CMS_D)
)
_CMS_PROBE_UNION = "\nUNION ALL\n".join(
    f"SELECT user_id, n_exact, {j} AS j, {_cms_pos_duck(j, 'user_id')} AS c"
    f" FROM tracked"
    for j in range(_CMS_D)
)

ORACLE_SKETCH_CMS = f"""
WITH cells AS (
  {_CMS_CELL_UNION}
),
tracked AS (
  SELECT user_id, count(*) AS n_exact
  FROM events GROUP BY user_id
  ORDER BY n_exact DESC, user_id LIMIT {_CMS_TRACKED}
),
probes AS (
  {_CMS_PROBE_UNION}
)
SELECT p.user_id, p.n_exact,
       CAST(min(cells.cell_n) AS BIGINT) AS n_est
FROM probes p JOIN cells ON p.j = cells.j AND p.c = cells.c
GROUP BY p.user_id, p.n_exact
"""

QUERIES["q_sketch_cms"] = (q_sketch_cms, ORACLE_SKETCH_CMS)


# --- q_graph_pagerank: iterative PageRank over the order graph ---------------
#
# The iterative-graph companion to llm.py's connected components: 3
# unrolled PageRank rounds over the symmetric customer<->supplier
# trade graph (an edge per distinct (custkey, suppkey) order line;
# supplier nodes mapped to -(suppkey + 1) — negative ids are disjoint
# from customer keys at EVERY scale factor, unlike any fixed offset,
# which a large-SF custkey range would eventually collide with). All
# arithmetic is exact BIGINT — ranks are fixed-point of 1e12, every
# divide is a positive integer div — so the trajectory is bitwise
# identical on both engines (same discipline as q_kmeans_train).

_PR_BASE = 1_000_000_000_000
_PR_ROUNDS = 3


def bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected customer-supplier bipartite edge set shared by
    the whole graph family (q_graph_pagerank here, q_graph_bfs in
    nonparam.py, q_graph_kcore in mining.py): node -(s+1) is supplier
    s — disjoint from the non-negative customer-id space at EVERY
    corpus size (the q_contamination_ngram negated-id precedent).
    Both directions come from ONE pass over the distinct forward
    pairs (a self-union would plan the join+distinct subtree twice —
    no CSE across union branches). Returned UNPERSISTED and
    unpartitioned: each caller picks the layout its iteration shape
    needs (pagerank hash-partitions on src; BFS/k-core broadcast
    their |V|-bounded probe sides instead)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (-(F.col("l_suppkey") + 1)).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    return fwd.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


# The matching oracle CTE text (defines `fwd` and `edges`), shared by
# the same three graph-family oracles so the edge derivation cannot
# silently diverge between them.
EDGES_CTE = """fwd AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS src,
         CAST(-(l.l_suppkey + 1) AS BIGINT) AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT src, dst FROM fwd
  UNION ALL
  SELECT dst AS src, src AS dst FROM fwd
)"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (d=0.85, 3 rounds): (node_id, rank_fp,
    rank) for every node of the customer-supplier graph.

    Scale: edges build once (distinct pair shuffle) and persist with
    out-degrees attached; each round is one join keyed on src + one
    aggregate keyed on dst — shuffles scale with |E|, rounds with
    graph diameter, and the driver loop only appends to the logical
    plan (no mid-loop action). The 1-row node-count side crossJoins
    as a broadcast."""
    # repartitioned on src ONCE: the degree aggregate and the ed join
    # both hang off this one exchange (zero extra |E| exchanges)
    edges = bipartite_edges(spark, sf_dir).repartition(F.col("src"))
    from metoffice_spark.session import scoped_persist

    # (src, dst, outdeg) cached HASH-PARTITIONED on src: every round's
    # rank join reuses this layout (only the small rank side moves).
    # Degrees come from a map-side-combinable aggregate joined back on
    # the SAME src partitioning — a hash join over co-located keys.
    # (The earlier frame-free window form sorted all 2|E| edge rows by
    # src inside WindowExec; the aggregate ships |nodes| rows instead.)
    # ONLY ed is persisted. An earlier form also persisted the bare
    # repartitioned edge relation — a second full 2|E| cache write the
    # rounds never read (they probe ed). The deg branch and the join
    # branch both reference the same repartition exchange, which
    # ReuseExchange dedupes inside ed's one materialization job, so
    # dropping the extra persist costs no recompute. Measured
    # (7-rep strict-alternation A/B, rows identical): 2.88 → 1.89 s
    # median. Two variants measured slower and were rejected: an
    # unpartitioned cache with a per-round broadcast-deg re-join, and
    # pre-broadcast per-node contributions (the extra per-round stage
    # outweighs the narrower probe).
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # kept: the plain plan ran 2.21x slower (A/B: 5 pairs, sf0.1)
    ed = scoped_persist(edges.join(deg, "src"))

    nodes = ed.select(F.col("src").alias("node")).distinct()
    # Setup scalar (same discipline as the streaming replay bounds):
    # ONE driver-side count over the just-persisted edge cache fixes
    # the node count; inlining it as a literal keeps the iterative
    # plan free of four repeated 1-row aggregate/broadcast subtrees.
    # max(..., 1): an empty slice has no edges, so nodes.count() is 0
    # and the seed literal is never used (every frame downstream stays
    # empty, matching the oracle's zero rows) — but the Python division
    # itself must not raise (r07 empty-slice fuzz finding).
    r_init = _PR_BASE // max(nodes.count(), 1)
    r = nodes.select("node", F.lit(r_init).cast("bigint").alias("rank_fp"))
    for _ in range(_PR_ROUNDS):
        # r13 optimization round: BROADCAST the |V|-bounded rank side
        # (the q_graph_bfs frontier discipline — guide §3.1). The
        # sort-merge form re-sorted the cached 2|E| edge relation
        # EVERY round (ed is hash-partitioned on src but unsorted);
        # the broadcast hash join probes the cached partitions in
        # place, so a round costs one small broadcast + the dst
        # aggregate instead of a full |E| sort. When |V| outgrows the
        # broadcast threshold (~1e8 nodes), drop the hint and the
        # join falls back to the persisted src partitioning (only the
        # rank side moves) — the documented BFS fallback, unchanged.
        insum = (
            F.broadcast(r).join(ed, r.node == ed.src)
            .groupBy("dst")
            .agg(F.sum(F.expr("div(rank_fp, outdeg)")).alias("in_sum"))
        )
        r = insum.select(
            F.col("dst").alias("node"),
            # {r_init}L: BIGINT literal — a small-N r_init fits INT32
            # and 15 * INT would overflow silently at sf0.01+
            F.expr(f"div(15 * {r_init}L + 85 * in_sum, 100)").alias("rank_fp"),
        )
    return r.select(
        F.col("node").alias("node_id"),
        F.col("rank_fp").cast("bigint").alias("rank_fp"),
        (F.col("rank_fp") / F.lit(float(_PR_BASE))).alias("rank"),
    )


def _pr_round_sql(prev: str, rnd: int) -> str:
    return f"""r{rnd} AS (
  SELECT e.dst AS node,
         (15 * (SELECT r_init FROM base)
          + 85 * CAST(sum({prev}.rank_fp // e.outdeg) AS BIGINT)) // 100 AS rank_fp
  FROM {prev} JOIN ed e ON {prev}.node = e.src
  GROUP BY e.dst
)"""


_PR_ROUNDS_SQL = ",\n".join(_pr_round_sql(f"r{i}", i + 1) for i in range(_PR_ROUNDS))

ORACLE_GRAPH_PAGERANK = f"""
WITH {EDGES_CTE},
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
nodes AS (SELECT DISTINCT src AS node FROM ed),
base AS (SELECT {_PR_BASE} // count(*) AS r_init FROM nodes),
r0 AS (SELECT node, (SELECT r_init FROM base) AS rank_fp FROM nodes),
{_PR_ROUNDS_SQL}
SELECT node AS node_id,
       CAST(rank_fp AS BIGINT) AS rank_fp,
       CAST(rank_fp AS BIGINT) / {float(_PR_BASE)} AS rank
FROM r{_PR_ROUNDS}
"""

QUERIES["q_graph_pagerank"] = (q_graph_pagerank, ORACLE_GRAPH_PAGERANK)


# --- q_agg_distinct_twophase: skew-safe exact count-distinct -----------------
#
# groupBy(key).agg(countDistinct(v)) plans a single per-key distinct —
# one hot key serializes through one task. The two-phase form first
# shuffles DISTINCT (key, v) PAIRS (spread over the full pair-hash
# space), then counts pairs per key with map-side combine; the hot key
# costs |distinct v| tiny rows in phase 2, never |rows| in one task.


def q_agg_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users and exact distinct (user, day) activity
    pairs per event type, via pair-distinct then count — the skew-safe
    decomposition of COUNT(DISTINCT).

    Scale: phase 1's shuffle key is the whole pair (uniform however
    skewed event_type is); phase 2 shuffles pre-combined per-type
    counts only."""
    ev = load(spark, sf_dir, "events")
    pairs = ev.select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    ).distinct()
    users = (
        pairs.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        # count(user_id), not count(*): COUNT(DISTINCT user_id) skips
        # NULL per SQL, so the decomposition's phase 2 must skip the
        # one NULL row the phase-1 distinct keeps (r07 null-key fuzz
        # finding). The pair count below intentionally stays count(*):
        # a (NULL, day) PAIR is a non-NULL tuple and both engines
        # count it.
        .agg(F.count("user_id").alias("n_users"))
    )
    user_days = pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_user_days"))
    # eqNullSafe: both sides carry a NULL event_type GROUP on a
    # NULL-bearing slice, and a plain equi-join silently drops it
    # while the oracle's single GROUP BY keeps it (r07 null-group
    # fuzz finding).
    return users.join(
        user_days, users["event_type"].eqNullSafe(user_days["event_type"])
    ).select(users["event_type"], "n_users", "n_user_days")


ORACLE_AGG_DISTINCT_TWOPHASE = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT (user_id, CAST(ts AS DATE))) AS n_user_days
FROM events
GROUP BY event_type
"""

QUERIES["q_agg_distinct_twophase"] = (
    q_agg_distinct_twophase,
    ORACLE_AGG_DISTINCT_TWOPHASE,
)


# --- q_layout_zorder: Z-order clustering vs arrival layout -------------------
#
# The data-skipping argument, made measurable: rows are assigned to
# 256 "files" two ways — arrival order (round-robin on l_orderkey,
# what an unclustered ingest writes) vs fixed-width ranges of the
# Morton (Z-order) interleave of (l_partkey, l_suppkey). Per file and
# layout we keep min/max of both keys (the parquet footer stats) and
# report the summed key spans: the min/max window a point query must
# intersect. Z-order shrinks BOTH spans at once — that's the whole
# point of multi-dimensional clustering, and here it's an
# oracle-checked number, not a slogan.
#
# Scale: file assignment is a map-only expression in both layouts (a
# fixed-width z-range IS range partitioning by z-value — no global
# sort, unlike a row_number-based binning); the stats aggregate is
# map-side-combined per (layout, file).

_Z_BITS = 16
_Z_FILES = 256


def _morton_spark(x: str, y: str) -> str:
    terms = []
    for j in range(_Z_BITS):
        terms.append(f"(shiftright({x}, {j}) & 1) * {1 << (2 * j)}")
        terms.append(f"(shiftright({y}, {j}) & 1) * {1 << (2 * j + 1)}")
    return "(" + " + ".join(terms) + ")"


def _morton_duck(x: str, y: str) -> str:
    terms = []
    for j in range(_Z_BITS):
        terms.append(f"(({x} >> {j}) & 1) * {1 << (2 * j)}")
        terms.append(f"(({y} >> {j}) & 1) * {1 << (2 * j + 1)}")
    return "(" + " + ".join(terms) + ")"


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per layout (arrival round-robin vs Z-order ranges): file count
    and the summed per-file min/max spans of l_partkey and l_suppkey
    — the footer-stats window a point query must intersect.

    Scale: both layouts are map-only assignments (Z uses fixed-width
    z-ranges = range partitioning by z-value, no global sort); stats
    are one combined aggregate per (layout, file)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    morton = _morton_spark(
        f"(l_partkey % {1 << _Z_BITS})", f"(l_suppkey % {1 << _Z_BITS})"
    )
    z_width = (1 << (2 * _Z_BITS)) // _Z_FILES
    # integer div ONLY: double / could round across a file boundary
    z_file = F.expr(f"{morton} div {z_width}").cast("int")
    assigned = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("arrival").alias("layout"),
                    (F.col("l_orderkey") % _Z_FILES).cast("int").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    z_file.alias("file_id"),
                ),
            )
        ).alias("a"),
        "l_partkey",
        "l_suppkey",
    ).select("a.layout", "a.file_id", "l_partkey", "l_suppkey")
    stats = assigned.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("pk_min"),
        F.max("l_partkey").alias("pk_max"),
        F.min("l_suppkey").alias("sk_min"),
        F.max("l_suppkey").alias("sk_max"),
    )
    return stats.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(F.col("pk_max") - F.col("pk_min") + 1).cast("bigint").alias("pk_span_sum"),
        F.sum(F.col("sk_max") - F.col("sk_min") + 1).cast("bigint").alias("sk_span_sum"),
    )


ORACLE_LAYOUT_ZORDER = f"""
WITH assigned AS (
  SELECT 'arrival' AS layout,
         CAST(l_orderkey % {_Z_FILES} AS INT) AS file_id,
         l_partkey, l_suppkey
  FROM lineitem
  UNION ALL
  SELECT 'zorder' AS layout,
         CAST({_morton_duck(f"(l_partkey % {1 << _Z_BITS})", f"(l_suppkey % {1 << _Z_BITS})")}
              // {(1 << (2 * _Z_BITS)) // _Z_FILES} AS INT) AS file_id,
         l_partkey, l_suppkey
  FROM lineitem
),
stats AS (
  SELECT layout, file_id, count(*) AS n_rows,
         min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
         min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
  FROM assigned GROUP BY layout, file_id
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(pk_max - pk_min + 1) AS BIGINT) AS pk_span_sum,
       CAST(sum(sk_max - sk_min + 1) AS BIGINT) AS sk_span_sum
FROM stats
GROUP BY layout
"""

QUERIES["q_layout_zorder"] = (q_layout_zorder, ORACLE_LAYOUT_ZORDER)


# --- q_sketch_hll: HyperLogLog distinct-count sketch -------------------------
#
# The 256-register HLL companion to q_sketch_distinct's KMV: bucket =
# first 2 md5 nibbles, rho = 1 + leading-zero BITS of the remaining 14
# nibbles (capped at 40 so the 2^(40-rho) summands stay exact
# BIGINTs: 256 * 2^40 << 2^63). The harmonic sum is exact integer
# arithmetic; alpha * m^2 / S is the one final IEEE step, written as
# the identical literal expression on both engines.
#
# Scale: the sketch is 256 registers however many rows stream through;
# map-side combine collapses every partition to <= 256 (bucket, max)
# rows — the mergeable-sketch property that makes HLL THE distributed
# distinct counter.

_HLL_M = 256
_HLL_RHO_CAP = 40
# alpha_m * m^2 * 2^cap, computed once in Python so both engines see
# ONE double literal (DuckDB would evaluate 0.7213/... as DECIMAL —
# decimal literals are DECIMAL there — and the estimate diverges in
# the 8th digit; repr() round-trips the exact double on both).
_HLL_EST_CONST = (
    0.7213 / (1.0 + 1.079 / _HLL_M) * (_HLL_M * _HLL_M) * float(1 << _HLL_RHO_CAP)
)
_HLL_RAW = f"({_HLL_EST_CONST!r} / cast(s_scaled as double))"
# Small-range correction (the actual HLL algorithm): below 2.5m with
# empty registers present, LinearCounting m*ln(m/V) replaces the raw
# estimate — the raw form overshoots tiny cardinalities by 10x+. The
# branch condition compares doubles both engines compute identically,
# so the branch taken is identical too. Shared Spark/DuckDB text.
_HLL_EST_EXPR = (
    f"case when ({_HLL_M} - n_nonzero) > 0 and {_HLL_RAW} <= {2.5 * _HLL_M!r}"
    f" then cast({_HLL_M} as double)"
    f" * ln(cast({_HLL_M} as double) / cast({_HLL_M} - n_nonzero as double))"
    f" else {_HLL_RAW} end"
)


def _rho_spark(h: str) -> str:
    rest = f"substring({h}, 3, 14)"
    lz = f"length(regexp_extract({rest}, '^0*', 0))"
    nib = f"(locate(substring({rest}, {lz} + 1, 1), '{_NIBBLES}') - 1)"
    extra = (
        f"(case when {lz} >= 14 then 0"
        f" when {nib} >= 8 then 0 when {nib} >= 4 then 1"
        f" when {nib} >= 2 then 2 else 3 end)"
    )
    return f"least(4 * {lz} + {extra} + 1, {_HLL_RHO_CAP})"


def _rho_duck(h: str) -> str:
    rest = f"substring({h}, 3, 14)"
    lz = f"length(regexp_extract({rest}, '^0*'))"
    nib = f"(strpos('{_NIBBLES}', substring({rest}, {lz} + 1, 1)) - 1)"
    extra = (
        f"(CASE WHEN {lz} >= 14 THEN 0"
        f" WHEN {nib} >= 8 THEN 0 WHEN {nib} >= 4 THEN 1"
        f" WHEN {nib} >= 2 THEN 2 ELSE 3 END)"
    )
    return f"least(4 * {lz} + {extra} + 1, {_HLL_RHO_CAP})"


def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row HLL summary over events.user_id: register stats, the
    exact harmonic sum (scaled by 2^40), the HLL estimate, and the
    exact distinct count it approximates.

    Scale: per-partition state is 256 registers (map-side combine);
    the exact count exists only to audit the estimate and would be
    dropped at 100 TB."""
    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        F.expr("md5(concat('HLL|', cast(user_id as string)))").alias("h")
    )
    regs = (
        hashed.select(
            F.expr(f"{_nib_spark('h', 1)} * 16 + {_nib_spark('h', 2)}").alias("bucket"),
            F.expr(_rho_spark("h")).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    allb = spark.range(_HLL_M).select(F.col("id").cast("int").alias("bucket"))
    filled = allb.join(F.broadcast(regs), "bucket", "left").select(
        "bucket", F.coalesce("m_j", F.lit(0)).alias("m_j")
    )
    summed = filled.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.when(F.col("m_j") > 0, 1).otherwise(0)).cast("bigint").alias(
            "n_nonzero"
        ),
        F.sum(F.expr(f"cast(pow(2, {_HLL_RHO_CAP} - m_j) as bigint)")).alias(
            "s_scaled"
        ),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    return summed.crossJoin(exact).select(
        F.col("m").cast("int").alias("m"),
        "n_nonzero",
        F.col("s_scaled").cast("bigint").alias("s_scaled"),
        F.expr(_HLL_EST_EXPR).alias("est_distinct"),
        "n_exact",
    )


ORACLE_SKETCH_HLL = f"""
WITH hashed AS (
  SELECT md5('HLL|' || CAST(user_id AS VARCHAR)) AS h FROM events
),
regs AS (
  SELECT {_nib_duck("h", 1)} * 16 + {_nib_duck("h", 2)} AS bucket,
         max({_rho_duck("h")}) AS m_j
  FROM hashed GROUP BY 1
),
filled AS (
  SELECT b.bucket, coalesce(r.m_j, 0) AS m_j
  FROM (SELECT unnest(range({_HLL_M})) AS bucket) b
  LEFT JOIN regs r ON b.bucket = r.bucket
),
summed AS (
  SELECT count(*) AS m,
         CAST(sum(CASE WHEN m_j > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonzero,
         CAST(sum(CAST(pow(2, {_HLL_RHO_CAP} - m_j) AS BIGINT)) AS BIGINT)
           AS s_scaled
  FROM filled
)
SELECT CAST(m AS INT) AS m, n_nonzero, s_scaled,
       {_HLL_EST_EXPR} AS est_distinct,
       (SELECT count(DISTINCT user_id) FROM events) AS n_exact
FROM summed
"""

QUERIES["q_sketch_hll"] = (q_sketch_hll, ORACLE_SKETCH_HLL)


# --- q_graph_triangles: distributed triangle counting ------------------------
#
# Global clustering structure of the part-co-purchase graph: nodes =
# part keys, an edge joins two parts appearing in the same order.
# Triangle enumeration uses the node-ordering trick (every edge
# stored once as a < b; wedges join on the MIDDLE node b with
# a < b < c; the closing (a, c) probe is a semi-ish equi-join), so
# each triangle is counted exactly once and each triangle closes
# exactly one ordered wedge — closure_fp = 1e6 * triangles // wedges
# is the deterministic transitivity measure.
#
# Scale: the pair explosion is bounded per order (<= C(items,2) with
# <= 7 lineitems/order); edges dedup via one (a, b) aggregate; both
# triangle joins are shuffle equi-joins on a node key — the standard
# MapReduce triangle-count decomposition (node-iterator++). Degrees
# and wedge counts come from exact integer aggregates.


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: nodes, edges, ordered wedges, triangles, and the
    closure fraction (1e-6 fixed point) of the part-co-purchase
    graph."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    # kept: the plain plan ran 1.27x slower (A/B: 5 pairs, sf0.1)
    edges = scoped_persist(
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("ea"), F.col("pb").alias("eb"))
        .distinct()
    )
    # r14 optimization round (guide §2.3/§2.4): the wedge relation is
    # NEVER materialized any more. The r13 form generated all ordered
    # wedges (edges ⋈ edges on the middle node — 49M rows at sf0.1)
    # and shuffled them once more for the closing-edge join: the 49M-row
    # exchange+sort dominated the query (~25 s locally) and scales as
    # Σ deg² — the wedge explosion is the textbook scale-killer of
    # triangle counting. Two standard identities remove it:
    #   n_wedges    = Σ_b indeg(b)·outdeg(b)   (a pure degree aggregate:
    #                 every in-edge of b pairs with every out-edge)
    #   n_triangles = Σ_{(a,c)∈E} |out(a) ∩ in(c)|  (edge-iterator: for
    #                 each closing edge, count middle nodes directly)
    # so the only |wedge|-sized work left is the hash-set intersection
    # CPU inside array_intersect — no wedge row is ever shuffled. One
    # full-outer adjacency table (node, out-list, in-list) serves
    # everything: n_nodes = its row count, n_edges = Σ outdeg,
    # n_wedges = Σ indeg·outdeg (all in ONE ungrouped aggregate —
    # replaces the union+distinct node pass AND keeps the 1-row
    # crossJoin count at the ratcheted 2), and the triangle join
    # attaches its lists by plain equi-joins AQE can skew-split. The
    # lists are distinct by construction (edges are distinct), so the
    # intersection size is exact. A hot node costs its degree in list
    # bytes — ≪ its deg² wedge fan-out before. Output verified
    # row-identical vs the earlier wedge-join form.
    outs = edges.groupBy(F.col("ea").alias("n")).agg(
        F.collect_list("eb").alias("outs")
    )
    ins = edges.groupBy(F.col("eb").alias("n")).agg(
        F.collect_list("ea").alias("ins")
    )
    # kept: the plain plan ran 1.27x slower (A/B: 5 pairs, sf0.1)
    adjacency = scoped_persist(outs.join(ins, "n", "full_outer"))
    # explicit NULL-array guards: a full-outer node missing one side
    # must contribute 0 (never size(NULL), whose value is mode-
    # dependent: NULL under ANSI, -1 under legacy sizeOfNull)
    outdeg = F.when(F.col("outs").isNotNull(), F.size("outs")).otherwise(
        F.lit(0)
    ).cast("bigint")
    indeg = F.when(F.col("ins").isNotNull(), F.size("ins")).otherwise(
        F.lit(0)
    ).cast("bigint")
    stats = adjacency.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(F.sum(outdeg), F.lit(0)).cast("bigint").alias("n_edges"),
        F.coalesce(F.sum(indeg * outdeg), F.lit(0))
        .cast("bigint")
        .alias("n_wedges"),
    )
    tri_cnt = (
        edges.join(
            adjacency.select(F.col("n").alias("ea"), "outs"), "ea"
        )
        .join(adjacency.select(F.col("n").alias("eb"), "ins"), "eb")
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("outs", "ins")).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_triangles")
        )
    )
    counts = stats.crossJoin(tri_cnt)
    return counts.select("n_nodes", "n_edges", "n_wedges", "n_triangles").withColumn(
        "closure_fp",
        F.expr(
            "cast(1000000 * n_triangles div greatest(n_wedges, 1) as bigint)"
        ),
    )


ORACLE_GRAPH_TRIANGLES = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS ea, b.l_partkey AS eb
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
nodes AS (
  SELECT DISTINCT n FROM (
    SELECT ea AS n FROM pairs UNION ALL SELECT eb AS n FROM pairs)
),
wedges AS (
  SELECT e1.ea AS wa, e1.eb AS wb, e2.eb AS wc
  FROM pairs e1 JOIN pairs e2 ON e1.eb = e2.ea
),
tris AS (
  SELECT 1 FROM wedges w JOIN pairs e3 ON w.wa = e3.ea AND w.wc = e3.eb
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT) FROM tris) AS n_triangles,
       CAST(1000000 * (SELECT count(*) FROM tris)
            // greatest((SELECT count(*) FROM wedges), 1) AS BIGINT)
         AS closure_fp
"""

QUERIES["q_graph_triangles"] = (q_graph_triangles, ORACLE_GRAPH_TRIANGLES)


# --- q_hierarchy_expand: bounded transitive closure (recursive query) --------
#
# The recursive-CTE family Spark lacks natively: walk a parent
# hierarchy (parent(k) = k div 10; keys below 10 are roots — a
# synthetic org-chart/BOM shape over customer keys) to the root,
# reporting each key's root ancestor and depth. Implemented as
# LEVEL-SYNCHRONOUS expansion: L unrolled left joins of the frontier
# against the (child, parent) edge table — the distributed evaluation
# strategy for hierarchical queries (each level = one equi-join, the
# q_kmeans_train unrolled-iteration discipline). The DuckDB oracle is
# the real WITH RECURSIVE, so the unrolled plan is checked against
# actual recursive semantics.
#
# Scale: L = ceil(log10(max key)) levels; each level joins frontier
# x edges on the child key (broadcast here, shuffle equi-join at
# 100 TB) and rows that reached a root pass through untouched. The
# `reached_root` audit column proves L covered the deepest chain —
# a too-shallow unroll fails the gate instead of silently truncating.

_HIER_LEVELS = 6  # covers keys < 10^7 (sf0.1 max custkey ~ 1.5e4)


def q_hierarchy_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer key: its hierarchy root, depth, and the
    reached-root audit flag."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        cust.filter(F.col("c_custkey") >= 10).select(
            F.col("c_custkey").alias("child"),
            F.expr("c_custkey div 10").alias("parent"),
        )
    )
    walk = cust.select(
        "c_custkey",
        F.col("c_custkey").alias("cur"),
        F.lit(0).cast("int").alias("depth"),
    )
    for _ in range(_HIER_LEVELS):
        walk = (
            walk.join(
                F.broadcast(edges), walk["cur"] == edges["child"], "left"
            )
            .select(
                "c_custkey",
                F.coalesce("parent", "cur").alias("cur"),
                (F.col("depth") + F.when(F.col("parent").isNotNull(), 1).otherwise(0))
                .cast("int")
                .alias("depth"),
            )
        )
    return walk.select(
        "c_custkey",
        F.col("cur").cast("bigint").alias("root_key"),
        "depth",
        (F.col("cur") < 10).alias("reached_root"),
    )


ORACLE_HIERARCHY_EXPAND = """
WITH RECURSIVE walk AS (
  SELECT c_custkey, c_custkey AS cur, 0 AS depth FROM customer
  UNION ALL
  SELECT c_custkey, cur // 10, depth + 1 FROM walk WHERE cur >= 10
)
SELECT c_custkey, CAST(cur AS BIGINT) AS root_key, CAST(depth AS INT) AS depth,
       cur < 10 AS reached_root
FROM walk WHERE cur < 10
"""

QUERIES["q_hierarchy_expand"] = (q_hierarchy_expand, ORACLE_HIERARCHY_EXPAND)


# --- q_sample_coordinated: join-preserving consistent sampling --------------
#
# Sampling a MULTI-TABLE dataset for a dev-scale copy breaks joins
# if each table samples independently: a 25% Bernoulli of orders and
# a 25% Bernoulli of customers keeps only ~6% of order->customer
# edges intact and orphans the rest. COORDINATED sampling hashes the
# SHARED KEY with the same salted digest in every table — a customer
# is in iff hash(custkey) < p, an order is in iff hash(its custkey)
# < p — so the sampled orders' customers are present BY CONSTRUCTION
# (the q_split_train_val determinism, applied cross-table).
#
# Output per nation: population and sample sizes for both tables,
# coordinated-sample orphans (structurally 0 — the audit the
# downstream join contracts on), and INDEPENDENT-sample orphans (the
# control: the same p hashed on o_orderkey instead, which orphans
# ~(1-p) of its sample and shows why per-table sampling is wrong).
#
# Scale: the flags are map-only scan-time expressions; one
# orders->customer equi-join (dim side broadcastable) and one
# aggregate. At 100 TB the flag is computed at write time and
# PARTITIONS the sampled copy — no shuffle at all.

_COORD_P_NIBBLES = ('0', '1', '2', '3')  # 4/16 = 25%


def _coord_flag(key_expr: str) -> str:
    nibs = ", ".join(f"'{n}'" for n in _COORD_P_NIBBLES)
    return f"substring(md5(concat('u|', CAST({key_expr} AS STRING))), 1, 1) IN ({nibs})"


def _indep_flag(key_expr: str) -> str:
    nibs = ", ".join(f"'{n}'" for n in _COORD_P_NIBBLES)
    return f"substring(md5(concat('o|', CAST({key_expr} AS STRING))), 1, 1) IN ({nibs})"


def q_sample_coordinated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: table/sample sizes, coordinated orphans (must be
    0), independent-sample orphans (the broken-join control)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.expr(_coord_flag("c_custkey")).alias("c_in"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(_coord_flag("o_custkey")).alias("o_in_coord"),
        F.expr(_indep_flag("o_orderkey")).alias("o_in_indep"),
    )
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    per_cust = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum(F.when(F.col("c_in"), 1).otherwise(0)).cast("bigint").alias("n_cust_s"),
    )
    per_ord = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("o_in_coord"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_orders_coord"),
        F.sum(F.when(F.col("o_in_coord") & ~F.col("c_in"), 1).otherwise(0))
        .cast("bigint")
        .alias("orphans_coord"),
        F.sum(F.when(F.col("o_in_indep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_orders_indep"),
        F.sum(F.when(F.col("o_in_indep") & ~F.col("c_in"), 1).otherwise(0))
        .cast("bigint")
        .alias("orphans_indep"),
    )
    return per_cust.join(per_ord, "c_nationkey").select(
        "c_nationkey",
        "n_cust",
        "n_cust_s",
        "n_orders",
        "n_orders_coord",
        "orphans_coord",
        "n_orders_indep",
        "orphans_indep",
    )


ORACLE_SAMPLE_COORDINATED = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         {_coord_flag('c_custkey')} AS c_in
  FROM customer
),
ords AS (
  SELECT o_custkey,
         {_coord_flag('o_custkey')} AS o_in_coord,
         {_indep_flag('o_orderkey')} AS o_in_indep
  FROM orders
),
per_cust AS (
  SELECT c_nationkey,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(CASE WHEN c_in THEN 1 ELSE 0 END) AS BIGINT) AS n_cust_s
  FROM cust GROUP BY c_nationkey
),
per_ord AS (
  SELECT c.c_nationkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN o.o_in_coord THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orders_coord,
         CAST(sum(CASE WHEN o.o_in_coord AND NOT c.c_in THEN 1 ELSE 0 END)
           AS BIGINT) AS orphans_coord,
         CAST(sum(CASE WHEN o.o_in_indep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orders_indep,
         CAST(sum(CASE WHEN o.o_in_indep AND NOT c.c_in THEN 1 ELSE 0 END)
           AS BIGINT) AS orphans_indep
  FROM ords o JOIN cust c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
)
SELECT p.c_nationkey, p.n_cust, p.n_cust_s,
       o.n_orders, o.n_orders_coord, o.orphans_coord,
       o.n_orders_indep, o.orphans_indep
FROM per_cust p JOIN per_ord o ON p.c_nationkey = o.c_nationkey
"""

QUERIES["q_sample_coordinated"] = (q_sample_coordinated, ORACLE_SAMPLE_COORDINATED)
