"""Mergeable-sketch set operations (SURVEY.md §2.19).

Pure EXT — the round-5 sketch wave over ``events``, extending the
single-set sketches (q_sketch_distinct KMV, q_sketch_hll,
q_sketch_cms) to the operations a 100 TB deployment actually runs on
sketches:

- KMV set algebra: union cardinality, Jaccard, and intersection
  estimates for pairs of event-type audiences from their bottom-k
  sketches alone (the theta-sketch workflow: sketch once per
  segment, answer overlap questions without rescanning);
- HLL register MERGE audit: per-type register sets max-merged into
  the global sketch, checked register-by-register against the
  directly-built global sketch — the partial-aggregate mergeability
  property (merge == rebuild, the q_incr_agg discipline) that makes
  distributed sketching correct at all.

Determinism follows the repo discipline: md5-nibble hashing shared
verbatim between engines (`instr` is dialect-common — relational.py
_FRAC precedent), counts exact BIGINTs, the est divides IEEE-last
with identical literal text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load
from metoffice_spark.operators.scale import (
    _HLL_EST_EXPR,
    _HLL_M,
    _HLL_RHO_CAP,
    _nib_duck,
    _nib_spark,
    _rho_duck,
    _rho_spark,
)
from metoffice_spark.parity import fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_sketch_setops: KMV union / Jaccard / intersection ---------------------
#
# Elements are (user_id, day) activity pairs per event type; each
# type keeps its bottom-k (k=32) of md5-hashed elements. For a pair
# of types, the bottom-k of the UNION of the two sketches is itself
# the KMV sketch of the union set (bottom-k is a mergeable
# aggregate), so:
#
#   est_union   = (k-1) / kth_min_of_merged
#   est_jaccard = |merged bottom-k present in BOTH sketches| / k
#   est_inter   = est_jaccard * est_union
#
# — answered from 2 * k * 16 bytes per pair, never rescanning events.
#
# Scale: sketches are per-type bottom-k (partial-aggregatable:
# each partition keeps its k smallest, merge keeps the k smallest of
# the union); the pair algebra runs on 2k rows per pair. The exact
# union/intersection columns audit the estimates and would be dropped
# at 100 TB.

_KMV_K = 32
_PAIRS = (("view", "click"), ("view", "purchase"), ("click", "purchase"))

# uniform (0,1) fraction from the first 8 md5 nibbles of the element
# (relational.py _FRAC, rebased onto a named hash column).
_SK_FRAC = " + ".join(
    "(instr('0123456789abcdef', substring(h, {i}, 1)) - 1) / {p}e0".format(
        i=i + 1, p=16 ** (i + 1)
    )
    for i in range(8)
)


def q_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type pair: KMV union / Jaccard / intersection
    estimates from the two bottom-32 sketches, with exact audits.

    r13 optimization round (guide §2.3/§2.4 — one pass, fewer
    exchanges): the old form shuffled the element table twice
    (distinct, then the flags aggregate) and ran THREE per-pair
    branch chains (window + aggregate + 1-row crossJoin each, then a
    union). Now ONE elem-keyed aggregate builds the membership flags
    straight off events (max over duplicate deliveries == the flag
    over the distinct set — same boundary semantics, the NULL-elem
    filter unchanged), the md5 fraction is computed once per DISTINCT
    element instead of once per (type, elem) row, the per-type
    sketches explode off the flags map-only, and all three pairs run
    through ONE tagged window + ONE aggregate. The 3 output rows are
    value-identical (verified row-for-row at sf0.1, parity-gated at
    both SFs); the always-3-rows contract on empty slices is kept by
    LEFT-joining the pair spine derived from the 1-row exact audit
    (an ungrouped aggregate always emits one row). At 100 TB this is
    the difference between three scans of the element table and one.
    """
    ev = load(spark, sf_dir, "events")
    types = sorted({t for p in _PAIRS for t in p})
    # elem IS NOT NULL boundary (mirrored in the oracle): a NULL
    # user_id yields a NULL element with no identity — and its NULL
    # hash would enter the bottom-k under Spark's NULLS FIRST default
    # yet miss it under DuckDB's NULLS LAST (a null-key fuzz
    # finding). An element that cannot be identified is not a set
    # member.
    base = ev.select(
        "event_type",
        F.expr(
            "concat(cast(user_id as string), '|', cast(to_date(ts) as string))"
        ).alias("elem"),
    ).filter(F.col("elem").isNotNull())
    flags = (
        base.groupBy("elem").agg(
            *[
                F.max(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(
                    f"in_{t}"
                )
                for t in types
            ]
        )
    )
    exact_aggs = []
    for a, b in _PAIRS:
        # coalesce to 0: the oracle spells the union audit as count(*)
        # over the (a, b)-filtered elems, which is 0 on an empty slice
        # where this 0/1-flag sum is NULL (r07 empty-slice fuzz
        # finding); on any non-empty input the two are identical.
        exact_aggs.append(
            F.coalesce(
                F.sum(F.greatest(F.col(f"in_{a}"), F.col(f"in_{b}"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"u_{a}_{b}")
        )
        exact_aggs.append(
            F.sum(F.expr(f"in_{a} * in_{b}")).cast("bigint").alias(f"i_{a}_{b}")
        )
    # the 1-row exact audit, unpivoted to one row per pair — doubles
    # as the ALWAYS-PRESENT pair spine for the final left join
    exact3 = flags.agg(*exact_aggs).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{a}|{b}").alias("pair"),
                        F.col(f"u_{a}_{b}").alias("exact_union"),
                        F.col(f"i_{a}_{b}").alias("exact_inter"),
                    )
                    for a, b in _PAIRS
                ]
            )
        ).alias("x")
    ).select("x.pair", "x.exact_union", "x.exact_inter")

    fracs = flags.withColumn(
        "h", F.expr("md5(concat('KMV|', elem))")
    ).withColumn("frac", F.expr(_SK_FRAC))
    tagged = (
        fracs.select(
            "elem",
            "frac",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("event_type"),
                            F.col(f"in_{t}").alias("m"),
                        )
                        for t in types
                    ]
                )
            ).alias("p"),
        )
        .filter(F.col("p.m") == 1)
        .select(F.col("p.event_type").alias("event_type"), "elem", "frac")
    )
    w_sk = Window.partitionBy("event_type").orderBy("frac", "elem")
    sketches = (
        tagged.withColumn("rn", F.row_number().over(w_sk))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "elem", "frac")
    )

    pair_lits = [
        F.struct(
            F.lit(f"{a}|{b}").alias("pair"),
            F.lit(a).alias("pa"),
            F.lit(b).alias("pb"),
        )
        for a, b in _PAIRS
    ]
    marked = (
        sketches.select(
            "event_type", "elem", "frac", F.explode(F.array(*pair_lits)).alias("p")
        )
        .filter(
            (F.col("event_type") == F.col("p.pa"))
            | (F.col("event_type") == F.col("p.pb"))
        )
        .groupBy(F.col("p.pair").alias("pair"), "elem", "frac")
        .agg(
            F.max(
                F.when(F.col("event_type") == F.col("p.pa"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == F.col("p.pb"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    w_m = Window.partitionBy("pair").orderBy("frac", "elem")
    bottomk = marked.withColumn("rn", F.row_number().over(w_m)).filter(
        F.col("rn") <= _KMV_K
    )
    est = bottomk.groupBy("pair").agg(
        F.max("frac").alias("kth_min"),
        F.sum(F.expr("in_a * in_b")).cast("bigint").alias("n_common_k"),
    )
    return exact3.join(est, "pair", "left").select(
        "pair",
        F.lit(_KMV_K).cast("int").alias("k"),
        "n_common_k",
        F.expr(f"({_KMV_K} - 1) / kth_min").alias("est_union"),
        F.expr(
            f"cast(1000000 * n_common_k div {_KMV_K} as bigint)"
        ).alias("jaccard_fp"),
        F.expr(
            f"(cast(n_common_k as double) / {_KMV_K}e0)"
            f" * (({_KMV_K} - 1) / kth_min)"
        ).alias("est_inter"),
        "exact_union",
        "exact_inter",
    )


def _setops_pair_sql(a: str, b: str) -> str:
    return f"""
SELECT '{a}|{b}' AS pair, CAST({_KMV_K} AS INT) AS k,
       e.n_common_k,
       ({_KMV_K} - 1) / e.kth_min AS est_union,
       CAST(1000000 * e.n_common_k // {_KMV_K} AS BIGINT) AS jaccard_fp,
       (cast(e.n_common_k as double) / {_KMV_K}e0)
         * (({_KMV_K} - 1) / e.kth_min) AS est_inter,
       x.exact_union, x.exact_inter
FROM (
  SELECT max(frac) AS kth_min,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_common_k
  FROM (
    SELECT *, row_number() OVER (ORDER BY frac, elem) AS rn
    FROM (
      SELECT elem, frac,
             max(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END) AS in_b
      FROM sketches WHERE event_type IN ('{a}', '{b}')
      GROUP BY elem, frac))
  WHERE rn <= {_KMV_K}
) e CROSS JOIN (
  -- flag algebra over the UNFILTERED element table, mirroring the
  -- Spark side's one-scan-for-all-pairs flags aggregate exactly:
  -- union = sum of greatest(ea, eb) (coalesced to 0), never count(*)
  -- of a pair-filtered subquery — on a slice where a pair has no
  -- elements but other types do, sum-over-zero-flags is 0 on both
  -- engines while filtered-empty sum is NULL (r07 near-empty fuzz
  -- finding); identical on any slice where the pair is populated.
  SELECT CAST(coalesce(sum(greatest(ea, eb)), 0) AS BIGINT) AS exact_union,
         CAST(sum(ea * eb) AS BIGINT) AS exact_inter
  FROM (
    SELECT elem,
           max(CASE WHEN event_type = '{a}' THEN 1 ELSE 0 END) AS ea,
           max(CASE WHEN event_type = '{b}' THEN 1 ELSE 0 END) AS eb
    FROM elems
    GROUP BY elem)
) x
"""


ORACLE_SKETCH_SETOPS = f"""
WITH elems AS (
  SELECT DISTINCT event_type,
         CAST(user_id AS VARCHAR) || '|' || CAST(CAST(ts AS DATE) AS VARCHAR)
           AS elem
  FROM events
  -- elem IS NOT NULL boundary, BOTH components (ADVICE r07): the
  -- Spark side filters the concatenated elem itself, so a NULL ts
  -- (concat propagates NULL) drops the row too. Filtering only
  -- user_id here would let a NULL-ts row survive as a NULL elem in
  -- the oracle's distinct/flags audit and diverge on a
  -- --nullify events.ts slice.
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
hashed AS (
  SELECT event_type, elem, md5('KMV|' || elem) AS h FROM elems
),
frac AS (
  SELECT event_type, elem, {_SK_FRAC} AS frac FROM hashed
),
sketches AS (
  SELECT event_type, elem, frac FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY frac, elem) AS rn
    FROM frac) WHERE rn <= {_KMV_K}
)
{" UNION ALL ".join(_setops_pair_sql(a, b) for a, b in _PAIRS)}
"""

QUERIES["q_sketch_setops"] = (q_sketch_setops, ORACLE_SKETCH_SETOPS)


# --- q_sketch_hll_merge: HLL register-merge audit ----------------------------
#
# Build one 256-register HLL per event type over user_id, merge the
# per-type register sets by per-bucket MAX, and check the merged
# sketch register-by-register against the sketch built directly over
# all events. max is associative, so n_register_mismatch MUST be 0
# and the two estimates bitwise equal — the property that lets a
# cluster sketch per partition / per day / per type and combine,
# which is the entire point of HLL at 100 TB. Exact global distinct
# audits the estimate itself.


def q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: type count, register mismatches between merged and
    direct sketches (must be 0), both estimates, exact distinct."""
    ev = load(spark, sf_dir, "events")
    # kept: the plain plan ran 1.25x slower (A/B: 5 pairs, sf0.1)
    hashed = scoped_persist(
        ev.select(
            "event_type",
            F.expr("md5(concat('HLL|', cast(user_id as string)))").alias("h"),
        ).select(
            "event_type",
            F.expr(f"{_nib_spark('h', 1)} * 16 + {_nib_spark('h', 2)}").alias(
                "bucket"
            ),
            F.expr(_rho_spark("h")).alias("rho"),
        )
    )
    per_type = hashed.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("m_j")
    )
    merged = per_type.groupBy("bucket").agg(F.max("m_j").alias("m_merged"))
    direct = hashed.groupBy("bucket").agg(F.max("rho").alias("m_direct"))
    allb = spark.range(_HLL_M).select(F.col("id").cast("int").alias("bucket"))
    regs = (
        allb.join(F.broadcast(merged), "bucket", "left")
        .join(F.broadcast(direct), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("m_merged", F.lit(0)).alias("m_merged"),
            F.coalesce("m_direct", F.lit(0)).alias("m_direct"),
        )
    )

    def est_cols(col: str, suffix: str):
        summed = regs.agg(
            F.sum(F.when(F.col(col) > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_nonzero"),
            F.sum(
                F.expr(f"cast(pow(2, {_HLL_RHO_CAP} - {col}) as bigint)")
            ).alias("s_scaled"),
        )
        return summed.select(
            F.expr(_HLL_EST_EXPR).alias(f"est_{suffix}")
        )

    mism = regs.agg(
        F.sum(F.when(F.col("m_merged") != F.col("m_direct"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_register_mismatch")
    )
    ntypes = ev.agg(F.count_distinct("event_type").cast("bigint").alias("n_types"))
    exact = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    return (
        ntypes.crossJoin(mism)
        .crossJoin(est_cols("m_merged", "merged"))
        .crossJoin(est_cols("m_direct", "direct"))
        .crossJoin(exact)
    )


ORACLE_SKETCH_HLL_MERGE = f"""
WITH hashed AS (
  SELECT event_type, md5('HLL|' || CAST(user_id AS VARCHAR)) AS h FROM events
),
br AS (
  SELECT event_type,
         {_nib_duck("h", 1)} * 16 + {_nib_duck("h", 2)} AS bucket,
         {_rho_duck("h")} AS rho
  FROM hashed
),
per_type AS (
  SELECT event_type, bucket, max(rho) AS m_j FROM br GROUP BY event_type, bucket
),
merged AS (
  SELECT bucket, max(m_j) AS m_merged FROM per_type GROUP BY bucket
),
direct AS (
  SELECT bucket, max(rho) AS m_direct FROM br GROUP BY bucket
),
regs AS (
  SELECT b.bucket, coalesce(m.m_merged, 0) AS m_merged,
         coalesce(d.m_direct, 0) AS m_direct
  FROM (SELECT unnest(range({_HLL_M})) AS bucket) b
  LEFT JOIN merged m ON b.bucket = m.bucket
  LEFT JOIN direct d ON b.bucket = d.bucket
),
est_m AS (
  SELECT {_HLL_EST_EXPR} AS est_merged FROM (
    SELECT CAST(sum(CASE WHEN m_merged > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonzero,
           CAST(sum(CAST(pow(2, {_HLL_RHO_CAP} - m_merged) AS BIGINT))
             AS BIGINT) AS s_scaled
    FROM regs)
),
est_d AS (
  SELECT {_HLL_EST_EXPR} AS est_direct FROM (
    SELECT CAST(sum(CASE WHEN m_direct > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonzero,
           CAST(sum(CAST(pow(2, {_HLL_RHO_CAP} - m_direct) AS BIGINT))
             AS BIGINT) AS s_scaled
    FROM regs)
)
SELECT (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
         AS n_types,
       (SELECT CAST(sum(CASE WHEN m_merged <> m_direct THEN 1 ELSE 0 END)
          AS BIGINT) FROM regs) AS n_register_mismatch,
       est_m.est_merged, est_d.est_direct,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact
FROM est_m CROSS JOIN est_d
"""

QUERIES["q_sketch_hll_merge"] = (q_sketch_hll_merge, ORACLE_SKETCH_HLL_MERGE)


# --- q_agg_bitmap_distinct: bitmap-OR exact distinct --------------------------
#
# The groupBitmap family (ClickHouse/roaring): distinct counting by
# OR-ing fixed-width bitmaps instead of shuffling raw keys. Keys map
# to (word = key div 32, bit = key mod 32 — shifts stay below DuckDB's
# 63-bit left-shift overflow guard); per (group, word) the
# aggregate is a single BIT_OR (associative + commutative = fully
# map-side combinable); the distinct count is the popcount sum. For
# a bounded dense key domain this moves ONE BIGINT per 32 keys per
# group across the wire — the cheapest exact-distinct there is, and
# the bitmaps themselves union/intersect across groups for audience
# algebra (q_sketch_setops' exact sibling). Audited against
# count(DISTINCT) from the raw rows.
#
# Scale note: dense bitmaps fit bounded domains (user ids here);
# sparse/huge domains take roaring-style containers or fall back to
# q_agg_distinct_twophase. Documented boundary.


def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: distinct users via bitmap popcount, words
    used, and the count(DISTINCT) audit."""
    ev = load(spark, sf_dir, "events")
    # Sign-correct decomposition (r13 idneg probe): ids are opaque
    # SIGNED words, and the naive (id div 32, id % 32) splits them
    # with truncation — a negative id yields a NEGATIVE bit position,
    # where the engines fork loudly (DuckDB `<<` raises on a negative
    # shift; Java's shiftleft masks the shift amount and answers
    # garbage). The floor-division pair below — non-negative bit via
    # pmod, word index from the exactly-divisible remainder-free
    # numerator (truncation == floor there) — is total over int64.
    words = (
        ev.select(
            "event_type",
            F.expr(
                "cast((user_id - ((user_id % 32) + 32) % 32) div 32 as bigint)"
            ).alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint),"
                " cast(((user_id % 32) + 32) % 32 as int))"
            ).alias("bit"),
        )
        .groupBy("event_type", "word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    counts = words.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.expr("bit_count(word)")).cast("bigint").alias("n_distinct_bitmap"),
    )
    audit = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_distinct_exact")
    )
    # eqNullSafe: the NULL event_type group must meet its own audit
    # row, not be dropped by NULL-vs-NULL equality (r07 null-group
    # fuzz finding; the oracle side gets the same via IS NOT DISTINCT
    # FROM in its correlated subquery).
    return counts.join(audit, counts["event_type"].eqNullSafe(audit["et"])).select(
        "event_type", "n_words", "n_distinct_bitmap", "n_distinct_exact"
    )


ORACLE_AGG_BITMAP = """
WITH words AS (
  -- sign-correct (r13 idneg): pmod bit + floor-div word, see builder
  SELECT event_type,
         CAST((user_id - ((user_id % 32) + 32) % 32) // 32 AS BIGINT)
           AS word_idx,
         bit_or(CAST(1 AS BIGINT)
                << CAST(((user_id % 32) + 32) % 32 AS INT)) AS word
  FROM events
  GROUP BY event_type,
           CAST((user_id - ((user_id % 32) + 32) % 32) // 32 AS BIGINT)
),
counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(bit_count(word)) AS BIGINT) AS n_distinct_bitmap
  FROM words GROUP BY event_type
)
SELECT c.event_type, c.n_words, c.n_distinct_bitmap,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events e
        WHERE e.event_type IS NOT DISTINCT FROM c.event_type) AS n_distinct_exact
FROM counts c
"""

QUERIES["q_agg_bitmap_distinct"] = (q_agg_bitmap_distinct, ORACLE_AGG_BITMAP)


# --- q_sketch_quantile: mergeable histogram quantiles + exact audit ---------
#
# The quantile answer that SURVIVES MERGING: per-partition (and
# per-day, per-shard...) equi-width bin counts combine by simple
# addition — the property exact rank-selection (q_percentile_exact)
# lacks and t-digest/KLL approximate. The estimate's error bound is
# structural: the true quantile lives in the selected bin, so
# |est - exact| < one bin width, checked row-by-row here by running
# the exact rank selection alongside (the audit — at 100 TB only the
# histogram side runs; the audit is what the oracle verifies
# bitwise).
#
# Scale: bin counts aggregate with map-side combine into <= ~330
# rows per event type; the cumulative window walks those tiny
# per-type bin lists, never rows. All-integer index arithmetic
# (ceil(p*n/100) = (p*n+99) div 100, non-negative).

_QSK_BIN = 100  # cents per bin
_QSK_PCTS = (50, 90, 99)


def q_sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, percentile): histogram-sketch estimate (bin
    lower edge), the exact value, and the within-bin error in
    cents."""
    # rank-validity boundary (a ts+value probe, mirrored in the
    # oracle): a NULL reading has neither a histogram bin nor an
    # exact rank — and its NULL bin/rank sorts at opposite ends on
    # the two engines.
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.expr(fits_sql("value"))
        )
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_fp"),
        )
    )
    bins = ev.groupBy(
        "event_type", F.expr(f"v_fp div {_QSK_BIN}").alias("bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_bin"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bins.select(
        "event_type",
        "bin",
        F.sum("n_bin").over(w_cum).cast("bigint").alias("cum"),
        F.sum("n_bin").over(Window.partitionBy("event_type")).cast("bigint").alias("n"),
    )
    pcts = cum.select(
        "event_type",
        "bin",
        "cum",
        "n",
        F.explode(F.array(*[F.lit(p) for p in _QSK_PCTS])).alias("pct"),
    ).withColumn("k", F.expr("(pct * n + 99) div 100"))
    est = (
        pcts.filter(F.col("cum") >= F.col("k"))
        .groupBy("event_type", "pct")
        .agg(
            F.max("n").alias("n"),
            F.max("k").alias("k"),
            (F.min("bin") * _QSK_BIN).alias("est_fp"),
        )
    )
    # exact audit: rank-index selection (q_percentile_exact idiom)
    w_rank = Window.partitionBy("event_type").orderBy("v_fp", "event_id")
    ranked = ev.select(
        "event_type",
        "v_fp",
        F.row_number().over(w_rank).alias("rn"),
    )
    exact = (
        est.join(ranked, "event_type")
        .filter(F.col("rn") == F.col("k"))
        .select("event_type", "pct", F.col("v_fp").alias("exact_fp"))
    )
    return (
        est.join(exact, ["event_type", "pct"])
        .select(
            "event_type",
            F.col("pct").cast("int").alias("pct"),
            F.col("n").cast("bigint").alias("n"),
            F.col("k").cast("bigint").alias("k"),
            (F.col("est_fp") / F.lit(100.0)).alias("est"),
            (F.col("exact_fp") / F.lit(100.0)).alias("exact"),
            (F.col("exact_fp") - F.col("est_fp")).cast("bigint").alias("err_cents"),
        )
    )


ORACLE_SKETCH_QUANTILE = f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_fp
  FROM events
  WHERE value IS NOT NULL AND {fits_sql("value")}
),
bins AS (
  SELECT event_type, v_fp // {_QSK_BIN} AS bin,
         CAST(count(*) AS BIGINT) AS n_bin
  FROM ev GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin,
         CAST(sum(n_bin) OVER (PARTITION BY event_type ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n_bin) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM bins
),
pcts AS (
  SELECT c.*, p.pct, (p.pct * c.n + 99) // 100 AS k
  FROM cum c CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in _QSK_PCTS)}]) AS pct) p
),
est AS (
  SELECT event_type, pct,
         CAST(max(n) AS BIGINT) AS n,
         CAST(max(k) AS BIGINT) AS k,
         min(bin) * {_QSK_BIN} AS est_fp
  FROM pcts WHERE cum >= k
  GROUP BY event_type, pct
),
ranked AS (
  SELECT event_type, v_fp,
         row_number() OVER (PARTITION BY event_type ORDER BY v_fp, event_id) AS rn
  FROM ev
),
exact AS (
  SELECT e.event_type, e.pct, r.v_fp AS exact_fp
  FROM est e JOIN ranked r ON r.event_type = e.event_type AND r.rn = e.k
)
SELECT e.event_type,
       CAST(e.pct AS INT) AS pct,
       e.n, e.k,
       e.est_fp / 100.0 AS est,
       x.exact_fp / 100.0 AS exact,
       CAST(x.exact_fp - e.est_fp AS BIGINT) AS err_cents
FROM est e JOIN exact x ON x.event_type = e.event_type AND x.pct = e.pct
"""

QUERIES["q_sketch_quantile"] = (q_sketch_quantile, ORACLE_SKETCH_QUANTILE)


# --- q_heavy_hitters_mg: two-phase heavy hitters with exact audit -------------
#
# The mergeable heavy-hitters recipe over the Zipfian token stream:
# phase 1 keeps each shard's top-_HH_M tokens by local count (the
# per-partition Misra-Gries summary stand-in — deterministic
# (cnt DESC, tok) tie-break); phase 2 recounts the surviving
# candidates EXACTLY over the full stream. At 100 TB only the
# candidate set (≤ shards × m keys) crosses the shard boundary and
# the exact recount is a broadcast semi-join — the full token
# dictionary never shuffles. Audit columns: est_lb (sum of the
# surviving shards' local counts — a provable lower bound) vs the
# exact count, and the is_hh verdict at the N/_HH_K threshold via
# integer cross-multiplication. Recall caveat (documented): a key
# spread thinly below every shard's top-m is missed — the tradeoff
# this pattern accepts vs a full dictionary shuffle.

_HH_SHARDS = 8
_HH_M = 20
_HH_K = 100  # heavy = freq > N / K


def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top candidate tokens: phase-1 lower bound, exact count, and
    the N/K heavy-hitter verdict."""
    from metoffice_spark.operators.llm import TOKS_SPARK

    toks = (
        load(spark, sf_dir, "documents").select(
            (F.col("doc_id") % _HH_SHARDS).cast("int").alias("shard"),
            F.explode(F.expr(TOKS_SPARK)).alias("tok"),
        )
    )
    local = toks.groupBy("shard", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("shard").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    surv = local.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _HH_M
    )
    est = surv.groupBy("tok").agg(F.sum("cnt").cast("bigint").alias("est_lb"))
    exact = (
        toks.join(F.broadcast(est.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    )
    total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        est.join(exact, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            "est_lb",
            "exact_cnt",
            "n_total",
            F.expr(f"exact_cnt * {_HH_K} > n_total").alias("is_hh"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(40)
    )


def _hh_oracle() -> str:
    from metoffice_spark.operators.llm import TOKS_DUCK

    return f"""
WITH toks AS (
  SELECT CAST(doc_id % {_HH_SHARDS} AS INT) AS shard, tok
  FROM (SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents)
),
local AS (
  SELECT shard, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY shard, tok
),
surv AS (
  SELECT shard, tok, cnt,
         row_number() OVER (PARTITION BY shard
                            ORDER BY cnt DESC, tok ASC) AS rn
  FROM local QUALIFY rn <= {_HH_M}
),
est AS (
  SELECT tok, CAST(sum(cnt) AS BIGINT) AS est_lb FROM surv GROUP BY tok
),
exact AS (
  SELECT t.tok, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM toks t JOIN (SELECT DISTINCT tok FROM est) c ON t.tok = c.tok
  GROUP BY t.tok
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
SELECT e.tok, e.est_lb, x.exact_cnt, t.n_total,
       x.exact_cnt * {_HH_K} > t.n_total AS is_hh
FROM est e JOIN exact x ON e.tok = x.tok CROSS JOIN total t
ORDER BY x.exact_cnt DESC, e.tok ASC
LIMIT 40
"""


QUERIES["q_heavy_hitters_mg"] = (q_heavy_hitters_mg, _hh_oracle())
