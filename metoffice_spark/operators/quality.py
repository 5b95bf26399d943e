"""Data-quality validation and change-data-capture operators — the
pipeline-governance surface (dbt-test / Deequ-shaped checks, snapshot
diffing) a production deployment runs beside its queries.

Pure EXT (no reference analog; the reference trusts its inputs). Same
cross-engine determinism discipline as the rest of the repo: integer
counts everywhere, one final IEEE divide on exact ints.

Scale design (100 TB):
- every check is an aggregate with map-side combine over one scan of
  the checked table (checks share the pass, not one scan per check);
- referential checks ride the fact scan via a broadcast left join
  against the dim key set (no second scan, no anti-join pass);
- the CDC diff is one full-outer join keyed on the primary key —
  co-located (zero-shuffle) when both snapshots are bucketed alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.nonparam import _BAL_BUCKET
from metoffice_spark.parity import cents_sql, fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_dq_checks: declarative table validations ------------------------------


def _huge_sql(c: str) -> str:
    """A finite value that fails the fixed-point bound: ``< inf``
    excludes NaN/±Inf on both engines' NaN-above-all order, NULL stays
    NULL. Detection only: a pure double comparison never raises."""
    return f"(NOT ({fits_sql(c)}) AND abs({c}) < CAST('inf' AS DOUBLE))"


_HUGE_LINEITEM = " OR ".join(
    _huge_sql(c) for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
)


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per data-quality check: (check_name, n_checked,
    n_violations, pass). Checks: primary-key uniqueness (orders,
    documents), the corpus id-content-conflict contract (a doc_id
    carrying >1 distinct text, under which the per-doc operator
    families are out of contract), not-null, referential integrity
    (orders→customer), domain ranges (discount ∈ [0,1], quantity >
    0), finite-money domain (no NaN/±Inf in any orders/lineitem money
    or quantity word, the contract under which the TPC-H operator
    families' integer-cents casts are defined), and the fixed-point
    bound: a FINITE word that fails ``parity.fits_sql`` would overflow
    the int64 fixed-point cast, so every fixed-point guard turns it
    into NULL and this check counts it. ``tools/fuzz_parity.py
    --extval kind=huge`` drives such words through every operator
    (tests/test_degenerate_slices.py pins the slice). The
    events.value word, the money-domain input of the
    behavior/stats/stream families, gets both the finite and the
    fixed-point check too.

    Scale: the five lineitem range/null/domain checks share ONE scan
    (a single aggregate computes them all), as do the two events
    checks; the orders scan serves the PK-uniqueness, FK-orphan
    (broadcast left join + null count), and money-domain counts at
    once. No check shuffles row bodies — counts only."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    docs = load(spark, sf_dir, "documents")
    events = load(spark, sf_dir, "events")
    emb = load(spark, sf_dir, "embeddings")

    # Finite-domain check: a NaN/±Inf money or quantity word is corrupt
    # upstream data. The money consumers' fixed-point guards turn it
    # into NULL and this check counts it. abs(x) >= inf is the
    # dialect-common non-finite test: both engines order NaN above
    # +Inf, so one predicate catches NaN and ±Inf alike (NULL stays
    # NULL and is not counted; the NULL axes have their own checks).
    _inf = F.lit(float("inf"))

    li_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("bad_qty"),
        # isnan spelled out as EXPLICIT INTENT, not necessity: on the
        # pinned DuckDB 1.0.0 BOTH the constant-folded and vectorized
        # comparison paths order NaN above every finite (NaN > 1 true),
        # same as Spark's total order — so the disjunct is redundant today.
        # It stays, mirrored in the oracle, because "a NaN discount
        # is a violation" should not hinge on an engine keeping
        # non-IEEE comparison semantics across upgrades.
        F.count(
            F.when(
                (F.col("l_discount") < 0)
                | (F.col("l_discount") > 1)
                | F.isnan("l_discount"),
                1,
            )
        ).alias("bad_disc"),
        F.count(F.when(F.col("l_shipdate").isNull(), 1)).alias("null_ship"),
        F.count(
            F.when(
                (F.abs(F.col("l_quantity")) >= _inf)
                | (F.abs(F.col("l_extendedprice")) >= _inf)
                | (F.abs(F.col("l_discount")) >= _inf)
                | (F.abs(F.col("l_tax")) >= _inf),
                1,
            )
        ).alias("bad_money"),
        F.count(
            F.when(F.expr(_HUGE_LINEITEM), 1)
        ).alias("huge_money"),
    )
    # vector-consumability contract (r13 dimvec + bigvec + nulvec
    # probes; the r10 nanvec shape): the vector-space operator
    # families are defined over 64-dim vectors whose every component
    # is present, finite, and dot-safe (|x| < 9.0e1 =
    # llm.VEC_COMPONENT_MAX_SQL; 64 = llm.EMB_DIM_SQL). A
    # wrong-dimension vector SILENTLY diverges the engines' dot
    # spellings (zip_with NULL-pads, list indexing NULLs are
    # sum-ignored), a NULL component forks the same way one level
    # down (Spark's lambda sum NULL-poisons, DuckDB's sum skips), and
    # an out-of-band component overflows every NORM2/DOT int64 word —
    # all are quarantined to NULL at the _ivec substrate and DETECTED
    # here. NaN components hit the magnitude predicate (|NaN| < b is
    # false on both engines' total order). Detection only — pure
    # double comparisons + a length check, so the check itself can
    # never crash. One scan, counts only (the 64-dim arrays never
    # shuffle).
    emb_agg = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(
                F.expr(
                    "size(embedding) != 64 or exists(embedding,"
                    " x -> x is null"
                    " or not (abs(cast(x as double)) < 9.0e1))"
                ),
                1,
            )
        ).alias("bad_vec"),
    )
    ev_agg = events.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(F.abs(F.col("value")) >= _inf, 1)
        ).alias("bad_money"),
        F.count(F.when(F.expr(_huge_sql("value")), 1)).alias("huge_money"),
    )
    # one scan of orders serves BOTH the uniqueness and the FK check:
    # broadcast-left-join the dim key set, count nulls instead of a
    # second anti-join scan
    ord_agg = (
        orders.join(
            F.broadcast(
                cust.select(F.col("c_custkey").alias("o_custkey"))
                .distinct()
                .withColumn("known", F.lit(1))
            ),
            "o_custkey",
            "left",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_pk"),
            F.count(F.when(F.col("known").isNull(), 1)).alias("n_orphans"),
            F.count(
                F.when(F.abs(F.col("o_totalprice")) >= _inf, 1)
            ).alias("bad_money"),
            F.count(F.when(F.expr(_huge_sql("o_totalprice")), 1)).alias("huge_money"),
        )
    )

    # The three lineitem checks EXPLODE out of the one aggregate row —
    # a 3-branch union would re-plan (and re-run) the scan per branch
    # (no CSE across union branches; same trap as the pagerank edges).
    def crow(name: str, checked, viol):
        return F.struct(
            F.lit(name).alias("check_name"),
            checked.cast("bigint").alias("n_checked"),
            viol.cast("bigint").alias("n_violations"),
        )

    li_rows = li_agg.select(
        F.explode(
            F.array(
                crow("lineitem_quantity_positive", F.col("n"), F.col("bad_qty")),
                crow("lineitem_discount_in_range", F.col("n"), F.col("bad_disc")),
                crow("lineitem_shipdate_not_null", F.col("n"), F.col("null_ship")),
                crow("lineitem_money_finite", F.col("n"), F.col("bad_money")),
                crow(
                    "lineitem_money_fits_fixed_point",
                    F.col("n"),
                    F.col("huge_money"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    ev_rows = ev_agg.select(
        F.explode(
            F.array(
                crow("events_value_finite", F.col("n"), F.col("bad_money")),
                crow(
                    "events_value_fits_fixed_point",
                    F.col("n"),
                    F.col("huge_money"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    emb_rows = emb_agg.select(
        crow(
            "embeddings_vector_consumable", F.col("n"), F.col("bad_vec")
        ).alias("c")
    ).select("c.*")
    ord_rows = ord_agg.select(
        F.explode(
            F.array(
                crow("orders_pk_unique", F.col("n"), F.col("dup_pk")),
                crow("orders_totalprice_finite", F.col("n"), F.col("bad_money")),
                crow(
                    "orders_totalprice_fits_fixed_point",
                    F.col("n"),
                    F.col("huge_money"),
                ),
                crow(
                    "orders_custkey_references_customer",
                    F.lit(None).cast("bigint"),
                    F.col("n_orphans"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    # Corpus id contract (r09 dkdocs probe decision): the doc-keyed
    # operator families assume doc_id identifies ONE content. Two
    # checks, one scan: strict PK uniqueness (byte-identical
    # redeliveries violate it but are IN-contract — the dedup/content
    # operators collapse them deterministically), and the HARD
    # contract — a doc_id carrying >1 DISTINCT text, under which "the
    # document with id X" is ill-defined and the per-doc operator
    # families' behavior is out of contract. Only md5 digests shuffle,
    # never bodies (the q_dedup_exact wire discipline); the NULL-text
    # sentinel keeps NULL distinct from absent.
    per_id = docs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct(
            F.coalesce(F.md5("text"), F.lit("<null>"))
        ).alias("nv"),
    )
    doc_agg = per_id.agg(
        F.sum("c").alias("n"),
        (F.sum("c") - F.count(F.lit(1))).alias("dup_pk"),
        F.count(F.lit(1)).alias("n_ids"),
        F.count(F.when(F.col("nv") > 1, 1)).alias("n_conflict"),
        # the NOT-NULL half of the PK contract (r09 null-id probe):
        # a NULL doc_id can't join, hash-split, or order — SQL itself
        # refuses NULL PKs; rows in the NULL-id group count here.
        # coalesce(…, 0): SUM over an EMPTY documents table is NULL,
        # but "zero rows checked" has zero violations — and the oracle
        # already coalesces, so without this the empty-slice gate
        # diverges (ADVICE r09 item 1).
        F.coalesce(
            F.sum(
                F.when(F.col("doc_id").isNull(), F.col("c")).otherwise(
                    F.lit(0)
                )
            ),
            F.lit(0),
        ).alias("n_null_pk"),
    )
    doc_rows = doc_agg.select(
        F.explode(
            F.array(
                crow("documents_pk_unique", F.col("n"), F.col("dup_pk")),
                crow("documents_pk_not_null", F.col("n"), F.col("n_null_pk")),
                crow(
                    "documents_id_content_conflict",
                    F.col("n_ids"),
                    F.col("n_conflict"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    return (
        li_rows.unionByName(ev_rows)
        .unionByName(emb_rows)
        .unionByName(ord_rows)
        .unionByName(doc_rows)
        .withColumn("pass", F.col("n_violations") == 0)
    )


ORACLE_DQ_CHECKS = f"""
WITH li_agg AS (
  SELECT count(*) AS n,
         count(CASE WHEN l_quantity <= 0 THEN 1 END) AS bad_qty,
         count(CASE WHEN l_discount < 0 OR l_discount > 1
                      OR isnan(l_discount) THEN 1 END) AS bad_disc,
         count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS null_ship,
         count(CASE WHEN abs(l_quantity)      >= CAST('inf' AS DOUBLE)
                      OR abs(l_extendedprice) >= CAST('inf' AS DOUBLE)
                      OR abs(l_discount)      >= CAST('inf' AS DOUBLE)
                      OR abs(l_tax)           >= CAST('inf' AS DOUBLE)
               THEN 1 END) AS bad_money,
         count(CASE WHEN {_HUGE_LINEITEM} THEN 1 END) AS huge_money
  FROM lineitem
),
ev_agg AS (
  SELECT count(*) AS n,
         count(CASE WHEN abs(value) >= CAST('inf' AS DOUBLE)
               THEN 1 END) AS bad_money,
         count(CASE WHEN {_huge_sql("value")} THEN 1 END) AS huge_money
  FROM events
),
emb_agg AS (
  SELECT count(*) AS n,
         count(CASE WHEN len(embedding) != 64
                      OR len(list_filter(embedding, x -> x IS NULL
                         OR NOT (abs(CAST(x AS DOUBLE)) < 9.0e1))) > 0
               THEN 1 END) AS bad_vec
  FROM embeddings
),
ord_agg AS (
  SELECT count(*) AS n, count(*) - count(DISTINCT o_orderkey) AS dup_pk,
         count(CASE WHEN abs(o_totalprice) >= CAST('inf' AS DOUBLE)
               THEN 1 END) AS bad_money,
         count(CASE WHEN {_huge_sql("o_totalprice")} THEN 1 END) AS huge_money
  FROM orders
),
orph AS (
  SELECT count(*) AS n_orphans FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
),
doc_agg AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c) - count(*) AS BIGINT) AS dup_pk,
         CAST(count(*) AS BIGINT) AS n_ids,
         CAST(count(CASE WHEN nv > 1 THEN 1 END) AS BIGINT) AS n_conflict,
         CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN c END), 0)
              AS BIGINT) AS n_null_pk
  FROM (
    SELECT doc_id, count(*) AS c,
           count(DISTINCT coalesce(md5(text), '<null>')) AS nv
    FROM documents GROUP BY doc_id
  )
)
SELECT 'lineitem_quantity_positive' AS check_name,
       CAST(n AS BIGINT) AS n_checked, CAST(bad_qty AS BIGINT) AS n_violations,
       bad_qty = 0 AS pass FROM li_agg
UNION ALL
SELECT 'lineitem_discount_in_range', CAST(n AS BIGINT), CAST(bad_disc AS BIGINT),
       bad_disc = 0 FROM li_agg
UNION ALL
SELECT 'lineitem_shipdate_not_null', CAST(n AS BIGINT), CAST(null_ship AS BIGINT),
       null_ship = 0 FROM li_agg
UNION ALL
SELECT 'lineitem_money_finite', CAST(n AS BIGINT), CAST(bad_money AS BIGINT),
       bad_money = 0 FROM li_agg
UNION ALL
SELECT 'lineitem_money_fits_fixed_point', CAST(n AS BIGINT),
       CAST(huge_money AS BIGINT), huge_money = 0 FROM li_agg
UNION ALL
SELECT 'events_value_finite', CAST(n AS BIGINT), CAST(bad_money AS BIGINT),
       bad_money = 0 FROM ev_agg
UNION ALL
SELECT 'events_value_fits_fixed_point', CAST(n AS BIGINT),
       CAST(huge_money AS BIGINT), huge_money = 0 FROM ev_agg
UNION ALL
SELECT 'embeddings_vector_consumable', CAST(n AS BIGINT),
       CAST(bad_vec AS BIGINT), bad_vec = 0 FROM emb_agg
UNION ALL
SELECT 'orders_pk_unique', CAST(n AS BIGINT), CAST(dup_pk AS BIGINT),
       dup_pk = 0 FROM ord_agg
UNION ALL
SELECT 'orders_totalprice_finite', CAST(n AS BIGINT), CAST(bad_money AS BIGINT),
       bad_money = 0 FROM ord_agg
UNION ALL
SELECT 'orders_totalprice_fits_fixed_point', CAST(n AS BIGINT),
       CAST(huge_money AS BIGINT), huge_money = 0 FROM ord_agg
UNION ALL
SELECT 'orders_custkey_references_customer', CAST(NULL AS BIGINT),
       CAST(n_orphans AS BIGINT), n_orphans = 0 FROM orph
UNION ALL
SELECT 'documents_pk_unique', CAST(n AS BIGINT), CAST(dup_pk AS BIGINT),
       dup_pk = 0 FROM doc_agg
UNION ALL
SELECT 'documents_pk_not_null', CAST(n AS BIGINT), CAST(n_null_pk AS BIGINT),
       n_null_pk = 0 FROM doc_agg
UNION ALL
SELECT 'documents_id_content_conflict', CAST(n_ids AS BIGINT),
       CAST(n_conflict AS BIGINT), n_conflict = 0 FROM doc_agg
"""

QUERIES["q_dq_checks"] = (q_dq_checks, ORACLE_DQ_CHECKS)


# --- q_cdc_diff: snapshot change-data-capture --------------------------------
#
# Two deterministic snapshots of the customer table are derived
# in-query (old: keys not ≡0 mod 10, new: keys not ≡0 mod 7, with
# every key ≡0 mod 5 moved to a new nation), then diffed by primary
# key into an insert/delete/update/unchanged changelog — the CDC feed
# a downstream incremental pipeline (q_incr_agg's delta) consumes.


def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog summary per op: (op, n_rows, sample min/max keys).

    Scale: ONE full-outer join keyed on the primary key; with both
    snapshots bucketed on the key (q_join_bucketed layout) this is
    zero-shuffle; op classification is a map-side CASE."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_CDC_DIFF)


ORACLE_CDC_DIFF = """
WITH old AS (
  SELECT c_custkey, c_nationkey, c_mktsegment FROM customer WHERE c_custkey % 10 <> 0
),
new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
              ELSE c_nationkey END AS c_nationkey,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 <> 0
),
diff AS (
  SELECT CASE WHEN o.c_custkey IS NULL THEN 'insert'
              WHEN n.c_custkey IS NULL THEN 'delete'
              WHEN o.c_nationkey <> n.c_nationkey
                   OR o.c_mktsegment <> n.c_mktsegment THEN 'update'
              ELSE 'unchanged' END AS op,
         COALESCE(o.c_custkey, n.c_custkey) AS k
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT op, count(*) AS n_rows, min(k) AS min_key, max(k) AS max_key
FROM diff GROUP BY op
"""

QUERIES["q_cdc_diff"] = (q_cdc_diff, ORACLE_CDC_DIFF)


# --- q_stats_collect: optimizer statistics + selectivity audit ---------------
#
# The ANALYZE-TABLE family: per-"file" (8 hash partitions of
# lineitem standing in for parquet files) min/max/count statistics
# over l_quantity and l_shipdate, then a data-skipping audit for the
# predicate (l_quantity < 10 AND l_shipdate >= 1995-07-01): which
# files COULD be skipped on stats alone (their [min,max] range
# misses the predicate) and the stats-estimated vs actual matching
# rows. This is the metadata a CBO and a file-pruning scan both
# consume — expressed as an oracle-checked query so the stats
# pipeline itself is under the gate (the q_layout_zorder skipping
# metric's sibling for value ranges).
#
# Scale: stats are a per-partition aggregate with map-side combine
# (8 rows out); the estimate is arithmetic over those 8 rows; only
# the actual-count audit rescans (and would be dropped at 100 TB —
# the whole point of stats is not rescanning). Uniformity estimate =
# file_rows * overlap_fraction in exact 1e-6 fixed point.

_SC_QLIT = 10_000_000  # l_quantity < 10 in 1e-6 fixed point
_SC_DLIT = "DATE '1995-07-01'"


def q_stats_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per synthetic file (l_orderkey % 8): row count, quantity and
    shipdate ranges, the could-skip flag for the audit predicate, the
    uniformity-estimated matching rows (1e-6 fixed point), and the
    actual matching rows."""
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 8).cast("int").alias("pid"),
        F.expr(cents_sql("l_quantity", 1000000)).alias("q_fp"),
        F.to_date("l_shipdate").alias("sd"),
        (
            (F.col("l_quantity") < 10)
            & (F.to_date("l_shipdate") >= F.lit("1995-07-01").cast("date"))
        ).alias("hit"),
    )
    stats = li.groupBy("pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("q_fp").alias("q_min_fp"),
        F.max("q_fp").alias("q_max_fp"),
        F.min("sd").alias("sd_min"),
        F.max("sd").alias("sd_max"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("bigint").alias("n_actual"),
    )
    return stats.select(
        "pid",
        "n_rows",
        "q_min_fp",
        "q_max_fp",
        "sd_min",
        "sd_max",
        # skip iff the file's range cannot contain a matching row
        (
            (F.col("q_min_fp") >= F.lit(_SC_QLIT))
            | (F.col("sd_max") < F.lit("1995-07-01").cast("date"))
        ).alias("could_skip"),
        # uniformity estimate: n * frac(q) * frac(sd), each fraction
        # an exact 1e-6 integer ratio clamped to [0, 1e6]
        F.expr(
            f"""cast(
              n_rows
              * least(greatest(cast({_SC_QLIT} - q_min_fp as bigint), 0)
                      div greatest((q_max_fp - q_min_fp) div 1000000 + 1, 1), 1000000)
              div 1000000
              * least(greatest(cast(datediff(sd_max, date'1995-07-01') as bigint)
                               + 1, 0) * 1000000
                      div greatest(cast(datediff(sd_max, sd_min) as bigint) + 1, 1),
                      1000000)
              as bigint)""",
        ).alias("n_est_fp"),
        "n_actual",
    )


ORACLE_STATS_COLLECT = f"""
WITH li AS (
  SELECT CAST(l_orderkey % 8 AS INT) AS pid,
         {cents_sql("l_quantity", 1000000)} AS q_fp,
         CAST(l_shipdate AS DATE) AS sd,
         (l_quantity < 10 AND CAST(l_shipdate AS DATE) >= {_SC_DLIT}) AS hit
  FROM lineitem
),
stats AS (
  SELECT pid, CAST(count(*) AS BIGINT) AS n_rows,
         min(q_fp) AS q_min_fp, max(q_fp) AS q_max_fp,
         min(sd) AS sd_min, max(sd) AS sd_max,
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_actual
  FROM li GROUP BY pid
)
SELECT pid, n_rows, q_min_fp, q_max_fp, sd_min, sd_max,
       (q_min_fp >= {_SC_QLIT} OR sd_max < {_SC_DLIT}) AS could_skip,
       CAST(
         n_rows
         * least(greatest(CAST({_SC_QLIT} - q_min_fp AS BIGINT), 0)
                 // greatest((q_max_fp - q_min_fp) // 1000000 + 1, 1), 1000000)
         // 1000000
         * least(greatest(date_diff('day', {_SC_DLIT}, sd_max) + 1, 0) * 1000000
                 // greatest(date_diff('day', sd_min, sd_max) + 1, 1), 1000000)
         AS BIGINT) AS n_est_fp,
       n_actual
FROM stats
"""

QUERIES["q_stats_collect"] = (q_stats_collect, ORACLE_STATS_COLLECT)


# --- q_pseudonymize: referential-integrity-preserving pseudonymization -------
#
# The privacy-pipeline tokenization pass (GDPR pseudonymisation):
# replace the customer key with a deterministic surrogate
# (md5-derived, so the mapping needs no lookup table and no state)
# consistently across BOTH tables that carry it, then audit that
# referential integrity survived: the orders-per-customer profile
# computed through pseudonyms must equal the profile computed on raw
# keys. Output: per order-count bucket, number of customers (raw) vs
# number of pseudonyms (tokenized) — equal iff the mapping is
# injective and applied consistently.
#
# Scale: the pseudonym is a map-only expression on each table (no
# join against a token vault — the md5 keyed-hash IS the vault);
# the audit is two small aggregates. Collision risk is the md5
# birthday bound (~2^64 for 128-bit digests) — documented.


def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per orders-per-customer count: customers counted via raw keys
    vs via pseudonyms (must match), plus a sample-free injectivity
    audit (distinct pseudonyms == distinct keys)."""
    pseud = "md5(concat('PSEUD|', cast({k} as string)))"
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.expr(pseud.format(k="o_custkey")).alias("p_key")
    )
    raw_prof = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers_raw"))
    )
    tok_prof = (
        orders.groupBy("p_key")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .groupBy(F.col("n_orders").alias("n_orders_t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers_tok"))
    )
    inj = orders.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_keys"),
        F.count_distinct("p_key").cast("bigint").alias("n_pseudonyms"),
    )
    # FULL OUTER: a bucket where the profiles diverge (e.g. an md5
    # collision merging two pseudonyms) exists on only ONE side — an
    # inner join would silently drop exactly the row the audit exists
    # to surface; zero-filled counts make it a visible mismatch.
    return (
        raw_prof.join(
            tok_prof, raw_prof["n_orders"] == tok_prof["n_orders_t"], "full"
        )
        .crossJoin(F.broadcast(inj))
        .select(
            F.coalesce(raw_prof["n_orders"], tok_prof["n_orders_t"])
            .cast("bigint")
            .alias("n_orders"),
            F.coalesce("n_customers_raw", F.lit(0))
            .cast("bigint")
            .alias("n_customers_raw"),
            F.coalesce("n_customers_tok", F.lit(0))
            .cast("bigint")
            .alias("n_customers_tok"),
            (
                F.coalesce("n_customers_raw", F.lit(0))
                == F.coalesce("n_customers_tok", F.lit(0))
            ).alias("profile_match"),
            "n_keys",
            "n_pseudonyms",
        )
    )


ORACLE_PSEUDONYMIZE = """
WITH orders_p AS (
  SELECT o_custkey, md5('PSEUD|' || CAST(o_custkey AS VARCHAR)) AS p_key
  FROM orders
),
raw_prof AS (
  SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers_raw
  FROM (SELECT o_custkey, count(*) AS n_orders FROM orders_p GROUP BY o_custkey)
  GROUP BY n_orders
),
tok_prof AS (
  SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers_tok
  FROM (SELECT p_key, count(*) AS n_orders FROM orders_p GROUP BY p_key)
  GROUP BY n_orders
),
inj AS (
  SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_keys,
         CAST(count(DISTINCT p_key) AS BIGINT) AS n_pseudonyms
  FROM orders_p
)
SELECT CAST(coalesce(r.n_orders, t.n_orders) AS BIGINT) AS n_orders,
       CAST(coalesce(r.n_customers_raw, 0) AS BIGINT) AS n_customers_raw,
       CAST(coalesce(t.n_customers_tok, 0) AS BIGINT) AS n_customers_tok,
       coalesce(r.n_customers_raw, 0) = coalesce(t.n_customers_tok, 0)
         AS profile_match,
       i.n_keys, i.n_pseudonyms
FROM raw_prof r FULL JOIN tok_prof t ON r.n_orders = t.n_orders
CROSS JOIN inj i
"""

QUERIES["q_pseudonymize"] = (q_pseudonymize, ORACLE_PSEUDONYMIZE)


# --- q_dp_release: calibrated-noise aggregate release ------------------------
#
# The DP-release operator shape (Snowflake/BigQuery differential
# privacy aggregates): a count released with Laplace(b = 1/epsilon)
# noise via inverse-CDF sampling,
#
#   u ~ (0,1),  noise = b * sgn(u - 0.5) * ln(1 - 2|u - 0.5|)
#   (ln(...) <= 0, so the noise is NEGATIVE when u >= 0.5 — exactly
#   the code's (u >= 0.5 ? -1 : 1) * -ln form below; the mirrored
#   sign convention samples the same symmetric Laplace)
#
# Here u is an md5-derived fraction SEEDED from the group key, which
# makes the run reproducible and oracle-checkable — production DP
# must draw u from a secret RNG (deterministic noise provides no
# privacy); this operator tests the release pipeline's shape, noise
# calibration, and budget accounting, not the privacy guarantee.
# Documented boundary. ln/IEEE last on the md5-exact fraction (the
# _HLL_EST_EXPR precedent), floored to 1e-6 fixed point.
#
# Scale: map-side-combined counts + a per-group noise expression —
# release cost is the aggregate itself.

_DP_EPS_FP = 1_000_000  # epsilon = 1.0 (b = 1/eps = 1.0)
# (0,1) fraction from 8 md5 nibbles of the group key (relational.py
# _FRAC, seeded by group)
# coalesce inside the shared hash text: Spark's concat() returns NULL
# when ANY arg is NULL while DuckDB's concat() skips NULL args, so a
# NULL group key got NULL noise on one engine and real noise on the
# other (r07 null-group fuzz finding); the NULL group now draws the
# same deterministic noise on both.
_DP_FRAC = " + ".join(
    "(instr('0123456789abcdef',"
    " substring(md5(concat('DP|', coalesce(event_type, ''))), {i}, 1))"
    " - 1) / {p}e0".format(i=i + 1, p=16 ** (i + 1))
    for i in range(8)
)
_DP_NOISE = (
    f"(case when ({_DP_FRAC}) >= 0.5e0 then -1e0 else 1e0 end)"
    f" * -ln(1e0 - 2e0 * abs(({_DP_FRAC}) - 0.5e0))"
)


def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: true count, the seeded Laplace noise (1e-6
    fixed point), and the released noisy count."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_DP_RELEASE)


ORACLE_DP_RELEASE = f"""
WITH counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
  FROM events GROUP BY event_type
)
SELECT event_type, n_true,
       CAST(floor(1000000e0 * ({_DP_NOISE})) AS BIGINT) AS noise_fp,
       CAST(1000000 * n_true
            + CAST(floor(1000000e0 * ({_DP_NOISE})) AS BIGINT) AS BIGINT)
         AS n_released_fp,
       CAST({_DP_EPS_FP} AS BIGINT) AS eps_fp
FROM counts
"""

QUERIES["q_dp_release"] = (q_dp_release, ORACLE_DP_RELEASE)


# --- q_bloom_file_index: per-file Bloom filters for point lookups -------------
#
# The point-lookup sibling of q_stats_collect's range skipping (and
# of q_join_bloom's join pre-filter): each of 8 synthetic files
# (l_orderkey % 8 partitions) builds a 1024-bit Bloom filter over its
# l_partkey set — 32 BIGINT words aggregated by BIT_OR (fully
# map-side combinable, the q_agg_bitmap_distinct discipline) with
# k = 3 md5-derived bit positions per key. Five probe keys then ask:
# which files must be scanned? Output per (probe, file): the bloom
# verdict, the ground truth, and the false-positive flag — bloom
# says "maybe" only when wrong, never misses (audited: no
# false-negative row can exist by construction of the check).
#
# Scale: the index is 8 x 32 words regardless of fact rows; probes
# test bits with pure expressions. This is how a lake maintains
# file-level point-lookup indexes without a real table format.

_BF_BITS = 1024  # 32 words x 32 bits (shifts stay < 63)
_BF_PROBES = (3, 17, 171, 1003, 4242)


def _bf_positions(key_expr: str) -> list[str]:
    # k = 3 positions from 3-nibble md5 slices (0..4095) mod 1024
    return [
        f"((instr('0123456789abcdef', substring(md5(concat('BF{i}|', "
        f"cast({key_expr} as string))), 1, 1)) - 1) * 256"
        f" + (instr('0123456789abcdef', substring(md5(concat('BF{i}|', "
        f"cast({key_expr} as string))), 2, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substring(md5(concat('BF{i}|', "
        f"cast({key_expr} as string))), 3, 1)) - 1)) % {_BF_BITS}"
        for i in range(3)
    ]


def q_bloom_file_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (probe_key, file): bloom maybe-contains verdict, actual
    membership, and the false-positive flag."""
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 8).cast("int").alias("pid"), "l_partkey"
    )
    pos = _bf_positions("l_partkey")
    bits = None
    for p in pos:
        part = li.select(
            "pid",
            F.expr(f"cast(({p}) div 32 as int)").alias("word_idx"),
            F.expr(f"shiftleft(cast(1 as bigint), cast(({p}) % 32 as int))")
            .alias("bit"),
        )
        bits = part if bits is None else bits.unionByName(part)
    # kept: the plain plan ran 2.01x slower (A/B: 5 pairs, sf0.1)
    index = scoped_persist(
        bits.groupBy("pid", "word_idx").agg(F.expr("bit_or(bit)").alias("word"))
    )
    probes = spark.createDataFrame([(k,) for k in _BF_PROBES], "probe_key bigint")
    ppos = _bf_positions("probe_key")
    checks = None
    for p in ppos:
        c = probes.select(
            "probe_key",
            F.expr(f"cast(({p}) div 32 as int)").alias("word_idx"),
            F.expr(f"shiftleft(cast(1 as bigint), cast(({p}) % 32 as int))")
            .alias("need"),
        )
        checks = c if checks is None else checks.unionByName(c)
    hit = (
        checks.join(F.broadcast(index), "word_idx")
        .select(
            "probe_key",
            "pid",
            ((F.col("word").bitwiseAND(F.col("need"))) != 0).alias("bit_set"),
        )
        .groupBy("probe_key", "pid")
        .agg((F.sum(F.when(F.col("bit_set"), 1).otherwise(0)) == 3).alias(
            "bloom_maybe"
        ))
    )
    actual = (
        li.distinct()
        .withColumnRenamed("l_partkey", "probe_key")
        .withColumn("present", F.lit(True))
        .distinct()
    )
    return (
        hit.join(actual, ["probe_key", "pid"], "left")
        .select(
            "probe_key",
            "pid",
            "bloom_maybe",
            F.coalesce("present", F.lit(False)).alias("actually_present"),
            (F.col("bloom_maybe") & ~F.coalesce("present", F.lit(False))).alias(
                "false_positive"
            ),
        )
    )


ORACLE_BLOOM_FILE_INDEX = f"""
WITH li AS (
  SELECT CAST(l_orderkey % 8 AS INT) AS pid, l_partkey FROM lineitem
),
bits AS (
  {" UNION ALL ".join(
      f'''SELECT pid, CAST(({p}) // 32 AS INT) AS word_idx,
          CAST(1 AS BIGINT) << CAST(({p}) % 32 AS INT) AS bit FROM li'''
      for p in _bf_positions("l_partkey")
  )}
),
idx AS (
  SELECT pid, word_idx, bit_or(bit) AS word FROM bits GROUP BY pid, word_idx
),
probes(probe_key) AS (VALUES {", ".join(f"({k})" for k in _BF_PROBES)}),
checks AS (
  {" UNION ALL ".join(
      f'''SELECT probe_key, CAST(({p}) // 32 AS INT) AS word_idx,
          CAST(1 AS BIGINT) << CAST(({p}) % 32 AS INT) AS need FROM probes'''
      for p in _bf_positions("probe_key")
  )}
),
hit AS (
  SELECT c.probe_key, i.pid,
         sum(CASE WHEN (i.word & c.need) <> 0 THEN 1 ELSE 0 END) = 3
           AS bloom_maybe
  FROM checks c JOIN idx i USING (word_idx)
  GROUP BY c.probe_key, i.pid
),
actual AS (
  SELECT DISTINCT l_partkey AS probe_key, pid, TRUE AS present FROM li
)
SELECT h.probe_key, h.pid, h.bloom_maybe,
       coalesce(a.present, FALSE) AS actually_present,
       h.bloom_maybe AND NOT coalesce(a.present, FALSE) AS false_positive
FROM hit h LEFT JOIN actual a ON a.probe_key = h.probe_key AND a.pid = h.pid
"""

QUERIES["q_bloom_file_index"] = (q_bloom_file_index, ORACLE_BLOOM_FILE_INDEX)


# --- q_profile_columns: single-scan column profiling --------------------------
#
# The data-catalog profiling report (pandas-profiling / dbt docs /
# Glue crawler shape): for a set of lineitem columns, one row each of
# (non-null count, distinct count, min, max, modal value + its
# frequency), all column values canonicalized to strings so one
# result schema fits every column type. The null/distinct/min/max
# block fuses into ONE scan (the q_dq_checks single-multi-aggregate
# discipline; distincts use Spark's two-phase expand); the modal
# values come from one (column, value) counting pass with a
# rank-window tie-broken (count DESC, value ASC) — the q_mode_agg
# discipline per profiled column.
#
# Scale: 2 scans total for ANY number of profiled columns (stats +
# modes), never a scan per column; the mode aggregate carries
# (column, value) pairs with map-side combine.

_PROFILE_COLS = ("l_returnflag", "l_linestatus", "l_quantity", "l_partkey")


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One profiling row per column: counts, range, and modal value."""
    li = (
        load(spark, sf_dir, "lineitem").select(
            *[
                F.col(c).cast("string").alias(c)
                for c in _PROFILE_COLS
            ]
        )
    )
    stat_aggs = []
    for c in _PROFILE_COLS:
        stat_aggs += [
            F.count(c).cast("bigint").alias(f"nn_{c}"),
            F.count_distinct(c).cast("bigint").alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    stats = li.agg(*stat_aggs)
    long = None
    for c in _PROFILE_COLS:
        part = li.select(F.lit(c).alias("col_name"), F.col(c).alias("val"))
        long = part if long is None else long.unionByName(part)
    counts = long.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("col_name").orderBy(
        F.col("cnt").desc(), F.col("val").asc()
    )
    modes = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("col_name", F.col("val").alias("mode_val"),
                F.col("cnt").alias("mode_cnt"))
    )
    rows = None
    for c in _PROFILE_COLS:
        r = stats.select(
            F.lit(c).alias("col_name"),
            F.col(f"nn_{c}").alias("n_nonnull"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_val"),
            F.col(f"mx_{c}").alias("max_val"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.join(modes, "col_name")


def _profile_oracle() -> str:
    # non-finite rendering (r10 extreme-value probe): Spark stringifies
    # doubles as 'NaN'/'Infinity'/'-Infinity', DuckDB as 'nan'/'inf'/
    # '-inf' — a profiler reporting the TRUE min/max/mode must agree on
    # the spelling, so the oracle canonicalizes the double column to
    # Spark's rendering (both spellings sort after digit strings, so
    # only the rendering differs, never the pick).
    def ren(c: str) -> str:
        if c != "l_quantity":
            return f"CAST({c} AS VARCHAR)"
        return (
            f"CASE WHEN isnan({c}) THEN 'NaN'"
            f" WHEN {c} = CAST('inf' AS DOUBLE) THEN 'Infinity'"
            f" WHEN {c} = CAST('-inf' AS DOUBLE) THEN '-Infinity'"
            f" ELSE CAST({c} AS VARCHAR) END"
        )

    stat_rows = " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
        CAST(count({c}) AS BIGINT) AS n_nonnull,
        CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
        min({ren(c)}) AS min_val,
        max({ren(c)}) AS max_val
        FROM lineitem"""
        for c in _PROFILE_COLS
    )
    long_rows = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {ren(c)} AS val FROM lineitem"
        for c in _PROFILE_COLS
    )
    return f"""
WITH stats AS ({stat_rows}),
long AS ({long_rows}),
counts AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS cnt
  FROM long GROUP BY col_name, val
),
modes AS (
  SELECT col_name, val AS mode_val, cnt AS mode_cnt FROM (
    SELECT *, row_number() OVER (PARTITION BY col_name
                                 ORDER BY cnt DESC, val ASC) AS rn
    FROM counts) WHERE rn = 1
)
SELECT s.col_name, s.n_nonnull, s.n_distinct, s.min_val, s.max_val,
       m.mode_val, m.mode_cnt
FROM stats s JOIN modes m USING (col_name)
"""


QUERIES["q_profile_columns"] = (q_profile_columns, _profile_oracle())


# --- q_k_anonymity: re-identification risk audit ----------------------------
#
# The privacy gate run before a table leaves the trust boundary
# (k-anonymity, Sweeney): every row must share its quasi-identifier
# combination — here (mktsegment, nationkey, account-balance bucket)
# — with at least k-1 others, or be suppressed. Reported per
# segment: equivalence-class count, classes below k, rows they
# contain, and the suppression rate a k=5 release would pay.
#
# The partner of q_pseudonymize (which protects DIRECT identifiers;
# k-anonymity measures what the remaining QUASI identifiers leak)
# and q_dp_release (the aggregate-release alternative when the rate
# reported here is unacceptable).
#
# Scale: two map-side-combinable aggregates (rows -> classes ->
# segment summary); nothing row-level survives the first exchange.
# Determinism: the balance bucket floors cents into 100000-cent
# buckets via non-negative-safe floor (balances can be negative, so
# the bucket uses floor division on the SIGNED value — floor in
# BOTH engines by construction: Spark floor(x / 1e5) on an exact
# double of an integer < 2^53, DuckDB the identical expression);
# the rate is the one IEEE division.

_K_ANON = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: equivalence classes over the
    quasi-identifier tuple, classes/rows below k=5, suppression
    rate."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_K_ANONYMITY)


ORACLE_K_ANONYMITY = f"""
WITH classes AS (
  SELECT c_mktsegment, c_nationkey,
         {_BAL_BUCKET} AS bal_bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_k,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT)
         AS suppressed_rows,
       CAST(min(n) AS BIGINT) AS k_actual,
       CAST(sum(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS DOUBLE)
         / CAST(sum(n) AS DOUBLE) AS suppression_rate
FROM classes
GROUP BY c_mktsegment
"""

QUERIES["q_k_anonymity"] = (q_k_anonymity, ORACLE_K_ANONYMITY)


# --- q_gap_islands: key-sequence completeness audit (round 5s) ---------------
#
# The classic gaps-and-islands report turned DQ check: o_orderkey is
# a dense sequence, so any missing ranges mean lost loads. Islands
# come from the rank trick (key − row_number is constant within a
# contiguous run — no self-join, no recursion); the output is the
# island inventory: islands found, their spans, and the gap ranges
# between consecutive islands. Complements q_dq_checks (column
# rules) with SEQUENCE-level completeness.
#
# Scale: one distinct-key projection (key column only), one global
# rank window over the KEY DIMENSION (distinct keys, not fact rows;
# the same cost class as q_percentile_exact's rank pick), one
# island aggregate. At 100 TB the window partitions by key div 2^20
# blocks whose boundary islands merge in a second tiny pass
# (documented; the fixture's key space fits the exact form).


def q_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Island inventory of the o_orderkey sequence: per island its
    range and size plus the gap to the next island."""
    from pyspark.sql import Window

    from metoffice_spark.functions.distributed import global_row_number

    keys = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").cast("bigint").alias("k"))
        .distinct()
    )
    # k - global rank is the classic island key; the rank comes from
    # the DISTRIBUTED global_row_number — the key inventory grows
    # with |orders|, so no single-task window
    islands = (
        global_row_number(keys, [F.col("k").asc()], out="__rn")
        .select("k", (F.col("k") - F.col("__rn")).alias("grp"))
        .groupBy("grp")
        .agg(
            F.min("k").cast("bigint").alias("island_start"),
            F.max("k").cast("bigint").alias("island_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        )
    )
    # lead() over a global order, distributed: rank the islands, then
    # self-join rank r against r+1 (both sides shuffle on the rank —
    # no single-task window even when the island count is large)
    ranked = global_row_number(
        islands, [F.col("island_start").asc()], out="irn"
    )
    nxt = ranked.select(
        (F.col("irn") - 1).alias("irn"),
        F.col("island_start").alias("next_start"),
    )
    return (
        ranked.join(nxt, "irn", "left")
        .select(
            "island_start",
            "island_end",
            "n_keys",
            (F.col("next_start") - F.col("island_end") - 1)
            .cast("bigint")
            .alias("gap_to_next"),
        )
        .orderBy("island_start")
    )


ORACLE_GAP_ISLANDS = """
WITH keys AS (
  SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k FROM orders
),
islands AS (
  SELECT min(k) AS island_start, max(k) AS island_end,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM (SELECT k, k - row_number() OVER (ORDER BY k) AS grp FROM keys)
  GROUP BY grp
)
SELECT CAST(island_start AS BIGINT) AS island_start,
       CAST(island_end AS BIGINT) AS island_end, n_keys,
       CAST(lead(island_start) OVER (ORDER BY island_start)
            - island_end - 1 AS BIGINT) AS gap_to_next
FROM islands ORDER BY island_start
"""

QUERIES["q_gap_islands"] = (q_gap_islands, ORACLE_GAP_ISLANDS)
