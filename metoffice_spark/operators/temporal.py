"""Temporal / slowly-changing-dimension operators (SURVEY.md §2.15).

Pure EXT (the reference keeps exactly one "current state" row per
station in its state sheet, MWC:211-272 — it has no history). These
operators are the warehouse-side generalization: versioned dimension
history (SCD Type 2), point-in-time lookup against that history, and
interval/ordered analytics over event timelines.

Cross-engine determinism: every window has a total order (ts ties
broken by event_id / orderkey), every aggregated quantity is an exact
BIGINT (fixed-point via parity.cents_sql), and any IEEE divide
happens last on exact integer inputs with the identical expression on
both engines (the llm.py discipline).

Scale design (100 TB):
- SCD2 build is two windows + one aggregate, all partitioned by the
  dimension key — parallel across keys, no global sort anywhere;
- the point-in-time join is the union-window trick (dim version
  starts and probe rows merged into ONE per-key ordered stream, state
  carried forward with last(ignorenulls)) — a single shuffle on the
  key, never an interval-inequality join that Spark would plan as a
  broadcast nested loop;
- the interval sweep turns max-concurrency (a self-range-join shaped
  O(n^2) question) into +1/-1 boundary events and one running sum —
  O(n log n) per key and embarrassingly parallel across keys;
- EWMA uses a fixed K-term dyadic kernel (alpha = 1/2), so the
  "recursive" smoother becomes K bounded lag() expressions — no
  sequential scan, no UDF, exact in BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.parity import cents_sql, fits_sql

QUERIES: dict = {}


# --- q_scd2_build: SCD Type-2 dimension from a change stream -----------------
#
# events is treated as a change-data stream keyed on user_id with
# event_type as the tracked attribute. Consecutive runs of one value
# collapse into one version row with [valid_from, valid_to) validity;
# the current version has valid_to NULL. The run detection is the
# classic gaps-and-islands pattern: change marks via lag(), version
# ids via a running sum of marks.

# Shared window-order clause: (ts, event_id, event_type) — a total
# order, so the running sum's default RANGE frame has no payload-
# distinct peers and both engines see the identical prefix at every
# row. The third key is the r12 composed-battery fix: dupkey-remapped
# event_ids landing on identical extval sentinel stamps collide on
# (ts, event_id) with DIFFERENT event_type payloads, and the change
# detector's versions then depend on which peer sorts first — an
# engine accident. event_type carries an EXPLICIT NULLS LAST (Spark
# defaults NULLS FIRST, DuckDB NULLS LAST); byte-identical duprows
# ties remain pick-invariant. Unreachable on unique-id data.
_SCD2_SQL = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_id) OVER w IS NULL
                OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts, event_id, event_type NULLS LAST)
),
ver AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id, event_type NULLS LAST) AS version
  FROM seq
),
grp AS (
  SELECT user_id, CAST(version AS INT) AS version, event_type,
         min(ts) AS valid_from, max(ts) AS last_seen,
         CAST(count(*) AS BIGINT) AS n_events
  FROM ver GROUP BY user_id, version, event_type
)
SELECT user_id, version, event_type, valid_from,
       lead(valid_from) OVER v AS valid_to,
       last_seen, n_events,
       CASE WHEN lead(valid_from) OVER v IS NULL THEN 1 ELSE 0 END AS is_current
FROM grp
WINDOW v AS (PARTITION BY user_id ORDER BY version)
"""


def _scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 version table as a DataFrame (shared by build + PIT)."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in
    # _SCD2_SQL): a change event with no timestamp has no place on the
    # validity timeline — NULL ts sorts first in Spark and last in
    # DuckDB, which would renumber every affected user's versions.
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts"), F.col("event_id"), F.col("event_type").asc_nulls_last()
    )
    # NULL-aware change detector (r07 null-group fuzz finding): the
    # old `lag IS NULL OR lag <> cur` spelling makes X -> NULL a
    # NON-change on both engines (three-valued logic), so one version
    # spans two event_type values, the (user, version, event_type)
    # GROUP BY splits it, and lead() over the then-TIED version order
    # picks nondeterministically per engine. First row detection now
    # rides the never-NULL event_id; value transitions use null-safe
    # inequality, so NULL is a state like any other (NULL -> NULL runs
    # merge, X <-> NULL transitions split). Identical to the old
    # semantics on NULL-free data.
    lagv = F.lag("event_type").over(w)
    lag_id = F.lag("event_id").over(w)
    marked = ev.withColumn(
        "chg",
        F.when(
            lag_id.isNull() | ~lagv.eqNullSafe(F.col("event_type")), F.lit(1)
        ).otherwise(0),
    )
    ver = marked.withColumn("version", F.sum("chg").over(w).cast("int"))
    grp = ver.groupBy("user_id", "version", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )
    v = Window.partitionBy("user_id").orderBy("version")
    leadv = F.lead("valid_from").over(v)
    return grp.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        leadv.alias("valid_to"),
        "last_seen",
        "n_events",
        F.when(leadv.isNull(), F.lit(1)).otherwise(0).alias("is_current"),
    )


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history of each user's event_type: one row per run
    with [valid_from, valid_to) validity, event count, is_current.

    Scale: both windows and the aggregate shuffle on user_id only —
    one exchange reused across all three (sort within partitions);
    no global ordering, no state beyond a key's own timeline."""
    return _scd2(spark, sf_dir)


QUERIES["q_scd2_build"] = (q_scd2_build, _SCD2_SQL)


# --- q_join_temporal: point-in-time join against the SCD2 history ------------
#
# Probe set: each user's active days, probed at the day boundary —
# "what was this user's state at 00:00 of each day they were active".
# The scalable form is NOT an interval join: dim version-starts and
# probe rows merge into one per-user ordered stream and the version is
# carried forward with last(ignorenulls). At a tie (probe exactly at a
# version start) the dim row sorts first (kind 0 < 1), matching the
# oracle's valid_from <= day < valid_to interval semantics; versions
# sharing one valid_from (two runs starting on the same timestamp)
# order by version so the later run wins, matching the oracle's
# zero-width-interval exclusion.

def q_join_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of-day-start state lookup: (user_id, day, event_type,
    version) for every (user, active day) whose day boundary falls
    inside some SCD2 version of that user.

    Scale: one union + one window, shuffled on user_id once; the
    alternative BETWEEN-join plans as BroadcastNestedLoopJoin and
    dies at scale. Probe cardinality is bounded by distinct
    (user, day), not events."""
    dim = _scd2(spark, sf_dir).select(
        "user_id",
        F.col("valid_from").alias("pts"),
        F.lit(0).alias("kind"),
        "version",
        "event_type",
    )
    probes = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # r08 null-ts boundary (as _scd2)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .select(
            "user_id",
            F.col("day").cast("timestamp").alias("pts"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("int").alias("version"),
            F.lit(None).cast("string").alias("event_type"),
        )
    )
    merged = dim.unionByName(probes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("pts", "kind", "version")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Carry ONE never-NULL struct per dim row, not two independent
    # last(ignorenulls) columns: a version whose event_type is a
    # legitimate NULL state would be SKIPPED by the type carry (stale
    # type paired with a fresh version), where the oracle's interval
    # join returns the version's actual NULL type (r07 null-group
    # fuzz finding). The struct is non-NULL exactly for dim rows, so
    # one ignorenulls carry moves (version, type) atomically.
    state = F.when(
        F.col("kind") == 0, F.struct(F.col("version"), F.col("event_type"))
    )
    carried = merged.select(
        "user_id",
        "pts",
        "kind",
        F.last(state, ignorenulls=True).over(w).alias("st"),
    )
    return (
        carried.filter((F.col("kind") == 1) & F.col("st").isNotNull())
        .select(
            "user_id",
            F.col("pts").cast("date").alias("day"),
            F.col("st.event_type").alias("event_type"),
            F.col("st.version").alias("version"),
        )
    )


ORACLE_JOIN_TEMPORAL = f"""
WITH scd2 AS ({_SCD2_SQL}),
probes AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE ts IS NOT NULL
)
SELECT p.user_id, p.day, d.event_type, d.version
FROM probes p
-- IS NOT DISTINCT FROM: the SCD2 build treats a NULL user_id as a
-- key like any other (one merged timeline), and the Spark PIT carry
-- partitions the same way — the probe join must not silently drop
-- the NULL-key timeline via NULL = NULL (r07 null-key fuzz finding)
JOIN scd2 d
  ON p.user_id IS NOT DISTINCT FROM d.user_id
 AND d.valid_from <= CAST(p.day AS TIMESTAMP)
 AND (d.valid_to IS NULL OR d.valid_to > CAST(p.day AS TIMESTAMP))
"""

QUERIES["q_join_temporal"] = (q_join_temporal, ORACLE_JOIN_TEMPORAL)


# --- q_interval_sweep: max concurrent intervals via sweep-line ---------------
#
# Each order is open for 30 days from o_orderdate. "Max simultaneously
# open orders per customer" asked as a range self-join is O(n^2); the
# sweep-line form emits a +1 at open and a -1 at close and takes the
# max of the running sum. The default RANGE frame includes peers, so
# rows tying on (t, delta) see the identical prefix sum on both
# engines — the running value itself is deterministic, not just the
# max. Close sorts before open at the same instant (delta -1 < +1),
# making the interval end exclusive.

_OPEN_DAYS = 30


def q_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: order count and the max number of simultaneously
    open orders (30-day open window, end-exclusive).

    Scale: 2 rows per order, one shuffle on o_custkey, one running
    sum per key — O(n log n) per key vs the O(n^2) self-range-join;
    parallel across the full customer keyspace."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    bounds = orders.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.col("o_orderdate").alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    (F.col("o_orderdate") + F.expr(f"INTERVAL {_OPEN_DAYS} DAYS")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("b"),
    ).select("o_custkey", "b.t", "b.delta")
    w = Window.partitionBy("o_custkey").orderBy("t", "delta")
    running = bounds.withColumn("open_now", F.sum("delta").over(w))
    return running.groupBy("o_custkey").agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_orders"),
        F.max("open_now").cast("bigint").alias("max_open"),
    )


ORACLE_INTERVAL_SWEEP = f"""
WITH bounds AS (
  SELECT o_custkey, o_orderdate AS t, 1 AS delta FROM orders
  UNION ALL
  SELECT o_custkey, o_orderdate + INTERVAL {_OPEN_DAYS} DAY AS t, -1 AS delta
  FROM orders
),
running AS (
  SELECT o_custkey,
         sum(delta) OVER (PARTITION BY o_custkey ORDER BY t, delta) AS open_now
  FROM bounds
)
SELECT o_custkey,
       CAST(count(*) / 2 AS BIGINT) AS n_orders,
       CAST(max(open_now) AS BIGINT) AS max_open
FROM running
GROUP BY o_custkey
"""

QUERIES["q_interval_sweep"] = (q_interval_sweep, ORACLE_INTERVAL_SWEEP)


# --- q_win_ewma: exponential smoothing with a dyadic kernel ------------------
#
# EWMA with alpha = 1/2 truncated at K = 8 terms: weights 2^(K-1-j)
# for lag j are exact integers, so the smoother is
#   ewma = sum_j 2^(K-1-j) * x_(t-j)  /  sum_(present j) 2^(K-1-j)
# — exact BIGINT numerator and denominator, one final IEEE divide.
# The recursion is gone: K bounded lag() columns over one per-key
# window replace the sequential scan (and partial histories near the
# start of a series shrink the denominator instead of fabricating
# zeros).

_EWMA_K = 8


def q_win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: the dyadic-kernel EWMA of `value` over the user's
    last 8 observations (numerator/denominator exposed as exact
    BIGINTs, smoother as their quotient).

    Scale: one shuffle+sort on user_id; the kernel is 8 lag()
    expressions sharing that single window — map-side after the sort,
    no UDF, no recursion."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_WIN_EWMA)


# A failed reading (NULL or non-finite value) and an untimestamped one
# are left out: a NULL ts has no kernel position, and the engines sort
# it at opposite ends.
def _ewma_oracle() -> str:
    nums, dens = [], []
    for j in range(_EWMA_K):
        wgt = 1 << (_EWMA_K - 1 - j)
        lagx = "x_fp" if j == 0 else f"lag(x_fp, {j}) OVER w"
        nums.append(f"coalesce({lagx} * {wgt}, 0)")
        dens.append(f"CASE WHEN {lagx} IS NOT NULL THEN {wgt} ELSE 0 END")
    return f"""
WITH src AS (
  SELECT event_id, user_id, ts, {cents_sql("value")} AS x_fp
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    AND {fits_sql("value")}
)
SELECT event_id, user_id, ts, x_fp,
       CAST({" + ".join(nums)} AS BIGINT) AS ewma_num,
       CAST({" + ".join(dens)} AS BIGINT) AS ewma_den,
       CAST({" + ".join(nums)} AS BIGINT)
         / CAST({" + ".join(dens)} AS BIGINT) AS ewma
FROM src
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


ORACLE_WIN_EWMA = _ewma_oracle()
QUERIES["q_win_ewma"] = (q_win_ewma, ORACLE_WIN_EWMA)


# --- q_win_distribution: rank-distribution functions as exact integers -------
#
# ntile / percent_rank / cume_dist over customer balances per market
# segment. percent_rank and cume_dist are ratios of integers — the
# integers (rank-1, peer-inclusive running count, partition size) are
# emitted directly so the gate stays exact; the quartile comes from
# ntile over a tie-broken total order (ties on balance would make
# ntile nondeterministic otherwise).

def q_win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: balance rank within segment (ties share rank),
    peer-inclusive running count (cume_dist numerator), segment size,
    quartile by ntile(4) over the tie-broken order.

    Scale: both windows share one shuffle+sort on c_mktsegment (the
    second orders by a prefix-compatible key); segment cardinality is
    small but each partition streams — no per-row state."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_WIN_DISTRIBUTION)


ORACLE_WIN_DISTRIBUTION = f"""
SELECT c_custkey, c_mktsegment,
       {cents_sql("c_acctbal")} AS bal_fp,
       CAST(rank() OVER w_val AS BIGINT) AS rk,
       CAST(count(*) OVER (
         PARTITION BY c_mktsegment ORDER BY {cents_sql("c_acctbal")} DESC
       ) AS BIGINT) AS cume_cnt,
       CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS seg_n,
       CAST(ntile(4) OVER w_uni AS INT) AS quartile
FROM customer
WINDOW
  w_val AS (PARTITION BY c_mktsegment ORDER BY {cents_sql("c_acctbal")} DESC),
  w_uni AS (PARTITION BY c_mktsegment
            ORDER BY {cents_sql("c_acctbal")} DESC, c_custkey)
"""

QUERIES["q_win_distribution"] = (q_win_distribution, ORACLE_WIN_DISTRIBUTION)


# --- q_mode_agg: modal value per group with a deterministic tiebreak ---------
#
# mode()/arg_max() tiebreaking is engine-defined, so the mode is
# computed as count-then-rank with an explicit (count DESC, value ASC)
# order — the only cross-engine-safe formulation, and the same shape
# a skew-safe MODE at scale wants (counts pre-combine map-side; the
# rank window sees one row per distinct value, not one per input row).

def q_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: the modal customer market segment (ties to the
    lexicographically first), its count, and the nation's customer
    total.

    Scale: the rank window runs over #distinct-segments rows per
    nation, never raw customers; the nation dim joins broadcast."""
    return sql_frame(spark, sf_dir, ("nation", "customer"), ORACLE_MODE_AGG)


# NULLS LAST is spelled out: a NULL segment is a real category and may
# win the mode, but the ASC tie-break must place it the same way on both
# engines (Spark's ASC puts NULLs first, DuckDB's last).
ORACLE_MODE_AGG = """
WITH counts AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n_seg
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
ranked AS (
  SELECT c_nationkey, c_mktsegment, n_seg,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY n_seg DESC,
                                     c_mktsegment ASC NULLS LAST) AS rn,
         sum(n_seg) OVER (PARTITION BY c_nationkey) AS n_total
  FROM counts
)
SELECT n_name, c_mktsegment AS mode_segment,
       n_seg AS n_mode, CAST(n_total AS BIGINT) AS n_total
FROM ranked JOIN nation ON c_nationkey = n_nationkey
WHERE rn = 1
"""

QUERIES["q_mode_agg"] = (q_mode_agg, ORACLE_MODE_AGG)


# --- q_cov_stats: covariance / regression via sufficient statistics ----------
#
# cov(x, y) and the OLS slope of value-vs-hour-of-day per event type,
# via the 6 sufficient statistics (n, Sx, Sy, Sxy, Sxx, Syy) — all
# exact BIGINTs that partially aggregate map-side, merged with plain
# sums. The derived moments (n*Sxy - Sx*Sy etc.) stay in BIGINT; only
# the final slope is an IEEE divide of two exact integers.

def q_cov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: covariance numerator, variance numerators, and
    OLS slope of value (cents) against hour-of-day.

    Scale: one pass, map-side combine collapses each partition to
    #event-types rows — the textbook distributive-aggregate shape
    (a Welford/centered pass would need the same shuffle but lose
    exactness)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_COV_STATS)


# nullif: a degenerate slice can leave a group with one row (or one
# distinct hour), zeroing the variance term, where Spark ANSI raises and
# DuckDB gives inf/NaN; the slope is NULL on both engines instead.
ORACLE_COV_STATS = f"""
WITH src AS (
  SELECT event_type, {cents_sql("value")} AS x,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
    AND {fits_sql("value")}
),
agg AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM src GROUP BY event_type
)
SELECT event_type, n, sx, sy, sxy,
       CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       CAST(n * syy - sy * sy AS BIGINT) AS var_y_num,
       CAST(n * sxy - sx * sy AS BIGINT)
         / CAST(nullif(n * syy - sy * sy, 0) AS BIGINT) AS slope_x_on_y
FROM agg
"""

QUERIES["q_cov_stats"] = (q_cov_stats, ORACLE_COV_STATS)
