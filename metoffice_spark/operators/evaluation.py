"""Model / experiment evaluation operators (SURVEY.md §2.21, round
5c).

The measurement half of the classifier stack (§2.17): once a
pipeline deploys scored filters, it needs distributed evaluation —

- precision/recall at decile depths of the ranked corpus (the
  PR-curve a curation team reads before picking a quality-filter
  threshold), over the hashed-feature classifier's scores with a
  deterministic proxy label;
- a two-proportion z-test between deterministic A/B cohorts (the
  experiment readout), from exact integer conversion counts with the
  one IEEE expression last.

Determinism: ranks are total (score DESC, doc_id ASC); cumulative
counts are exact BIGINT running sums; every fixed-point division has
a non-negative numerator; the z statistic is a single shared IEEE
expression over exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.functions.distributed import global_order_stats
from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.classify import _QC_BUCKET, _QC_WEIGHT
from metoffice_spark.operators.corpus import _BIGRAMS_DUCK
from metoffice_spark.operators.llm import TOKS_DUCK, TOKS_SPARK
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_eval_pr: precision/recall at decile depths ----------------------------
#
# Rank every document by the hashed-feature classifier score
# (q_quality_classifier's model) and report precision/recall/F1 if
# the filter kept exactly the top d/10 of the corpus, d = 1..10.
# The proxy ground-truth label is lang = 'en' (fixed, so the
# evaluation is deterministic and self-contained).
#
# Scale: the rank and the true-positive prefix sum come from ONE
# distributed global_order_stats pass (range-partition + broadcast
# offsets — no single-task sort over the document table); the decile
# join probes 10 exact ranks against it.


def q_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per decile d=1..10 of the score ranking: depth k, cumulative
    true positives, precision/recall/F1 in 1e-6 fixed point."""
    docs = load(spark, sf_dir, "documents")
    scored = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.expr(TOKS_SPARK)).alias("tok"),
        )
        .select("doc_id", "lang", F.expr(_QC_BUCKET).alias("bkt"))
        .select("doc_id", "lang", F.expr(_QC_WEIGHT).cast("bigint").alias("w"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").cast("bigint").alias("score_fp"))
    )
    # kept: exchanges 9 -> 11 without it (A/B: 5 pairs, sf0.1)
    labeled = scoped_persist(
        docs.select("doc_id", "lang")
        .join(scored.select("doc_id", "score_fp"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("score_fp", F.lit(0)).alias("score_fp"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
    )
    ranked = global_order_stats(
        labeled,
        [F.col("score_fp").desc(), F.col("doc_id").asc()],
        rn="rn",
        running={"cum_tp": F.col("pos")},
    ).select("rn", "cum_tp")
    totals = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    deciles = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
    cuts = deciles.crossJoin(F.broadcast(totals)).select(
        "decile",
        "n",
        "n_pos",
        F.expr("cast((decile * n + 9) div 10 as int)").alias("k"),
    )
    return (
        cuts.join(ranked, cuts["k"] == ranked["rn"])
        .select(
            "decile",
            F.col("k").cast("bigint").alias("k"),
            F.col("cum_tp").alias("tp"),
            F.expr("cast(1000000 * cum_tp div k as bigint)").alias("precision_fp"),
            F.expr("cast(1000000 * cum_tp div n_pos as bigint)").alias("recall_fp"),
            # F1 = 2 tp / (k + n_pos): exact integers, one division
            F.expr(
                "cast(1000000 * 2 * cum_tp div (k + n_pos) as bigint)"
            ).alias("f1_fp"),
        )
    )


ORACLE_EVAL_PR = f"""
WITH scored AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_fp
  FROM (
    SELECT doc_id, CAST({_QC_WEIGHT} AS BIGINT) AS w
    FROM (
      SELECT doc_id, {_QC_BUCKET} AS bkt
      FROM (SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents)))
  GROUP BY doc_id
),
labeled AS (
  SELECT d.doc_id, coalesce(s.score_fp, 0) AS score_fp,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents d LEFT JOIN scored s USING (doc_id)
),
ranked AS (
  SELECT row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rn,
         CAST(sum(pos) OVER (ORDER BY score_fp DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_tp
  FROM labeled
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
  FROM labeled
),
cuts AS (
  SELECT d.decile, t.n, t.n_pos,
         CAST((d.decile * t.n + 9) // 10 AS INT) AS k
  FROM (SELECT unnest(range(1, 11)) AS decile) d CROSS JOIN totals t
)
SELECT CAST(c.decile AS INT) AS decile, CAST(c.k AS BIGINT) AS k,
       r.cum_tp AS tp,
       CAST(1000000 * r.cum_tp // c.k AS BIGINT) AS precision_fp,
       CAST(1000000 * r.cum_tp // c.n_pos AS BIGINT) AS recall_fp,
       CAST(1000000 * 2 * r.cum_tp // (c.k + c.n_pos) AS BIGINT) AS f1_fp
FROM cuts c JOIN ranked r ON c.k = r.rn
"""

QUERIES["q_eval_pr"] = (q_eval_pr, ORACLE_EVAL_PR)


# --- q_ab_ztest: two-proportion experiment readout ---------------------------
#
# A/B cohorts by event_id parity (deterministic assignment — the
# q_split_train_val hash-split discipline would be used in
# production; parity keeps the oracle trivial to audit), conversion =
# the event is a purchase with value > 100 (a per-UNIT binary metric
# that stays strictly inside (0,1) at every scale factor; a per-USER
# metric saturates to p = 1 at the smoke SF's 15 users, which zeroes
# the pooled-variance denominator). The pooled two-proportion
# z statistic
#
#   z = (pA - pB) / sqrt(p (1 - p) (1/nA + 1/nB)),  p = (xA+xB)/(nA+nB)
#
# is computed as ONE shared IEEE expression over the four exact
# BIGINT counts — both engines see identical text, so the branch on
# |z| > 1.96 is identical too.
#
# Scale: the cohort/conversion flags are a map-only projection and
# the readout is ONE multi-count aggregate (map-side combine) to a
# single row — the cheapest possible experiment query.

# nullif guards on every denominator (r07 near-empty fuzz finding): a
# slice can empty one cohort (n = 0) or drain all conversions
# (pooled p = 0, zeroing the sqrt) — Spark ANSI raises DIVIDE_BY_ZERO
# where DuckDB's IEEE divide gives inf/NaN, so NULL is the one value
# the engines agree on. Identical text on both, so one guard fixes
# both; any non-degenerate slice has both cohorts non-empty and the
# statistic is unchanged.
_Z_EXPR = (
    "(cast(x_a as double) / cast(nullif(n_a, 0) as double)"
    " - cast(x_b as double) / cast(nullif(n_b, 0) as double))"
    " / nullif(sqrt((cast(x_a + x_b as double) / cast(nullif(n_a + n_b, 0) as double))"
    " * (1e0 - cast(x_a + x_b as double) / cast(nullif(n_a + n_b, 0) as double))"
    " * (1e0 / cast(nullif(n_a, 0) as double) + 1e0 / cast(nullif(n_b, 0) as double))), 0e0)"
)


def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: cohort sizes, conversions, conversion rates, the
    pooled z statistic, and the 5%-level significance flag."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_AB_ZTEST)


ORACLE_AB_ZTEST = f"""
WITH flagged AS (
  SELECT event_id % 2 AS grp,
         CASE WHEN event_type = 'purchase' AND value > 100.0
              THEN 1 ELSE 0 END AS conv
  FROM events
),
counts AS (
  SELECT
    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
  FROM flagged
)
SELECT n_a, x_a, n_b, x_b,
       cast(x_a as double) / cast(nullif(n_a, 0) as double) AS p_a,
       cast(x_b as double) / cast(nullif(n_b, 0) as double) AS p_b,
       {_Z_EXPR} AS z_stat,
       abs({_Z_EXPR}) > 1.96e0 AS significant
FROM counts
"""

QUERIES["q_ab_ztest"] = (q_ab_ztest, ORACLE_AB_ZTEST)


# --- q_eval_rouge: n-gram overlap scoring between document pairs ------------
#
# ROUGE-1 / ROUGE-2 between each document and the NEXT document of
# the same source (the deterministic self-contained pairing; in a
# real eval job the pair table is (reference, model_output)). The
# summarization-eval metric a training pipeline runs distributed:
# multiset n-gram overlap, precision against the candidate length,
# recall against the reference length, F1.
#
# Determinism: overlaps are exact BIGINT sums of min(count_a,
# count_b); precision/recall/F1 in 1e-6 fixed point with
# non-negative numerators throughout (p, r, and p+r are >= 0, so
# div == // between engines); the emitted doubles are fp/1e6 — an
# exact double scaling of integers < 2^53.
#
# Scale: token counts aggregate per (doc, token) with map-side
# combine (never raw token streams on the wire); the pair overlap is
# an equi-join on (doc, token) — each doc sits in at most 2 pairs,
# so the fan-out is bounded at 2x the token-count table, and the
# join never materializes a cross product.


def _rouge_counts(docs: DataFrame, ngram_expr: str):
    return (
        docs.select("doc_id", F.explode(F.expr(ngram_expr)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _rouge_side(pairs: DataFrame, counts: DataFrame, tag: str) -> DataFrame:
    """Overlap + lengths for one n-gram order."""
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), "g", F.col("c").alias("ca")
    )
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), "g", F.col("c").alias("cb")
    )
    ov = (
        pairs.join(ca, "doc_a")
        .join(cb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias(f"ov{tag}"))
    )
    lens = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias(f"len{tag}")
    )
    return ov, lens


def q_eval_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (doc_a, doc_b) same-source adjacent pair: unigram/bigram
    overlaps, lengths, and ROUGE-1 / ROUGE-2 F1 (1e-6 fixed point,
    emitted as doubles)."""
    from metoffice_spark.operators.corpus import _bigrams_spark

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w_src = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select(
            F.col("doc_id").alias("doc_a"),
            F.lead("doc_id").over(w_src).alias("doc_b"),
        )
        .filter(F.col("doc_b").isNotNull())
    )
    # tokenize ONCE into a column before the bigram builder: its
    # transform() lambda is interpreted, so an inlined tokenizer
    # re-splits the document per bigram index (see
    # corpus._bigrams_spark)
    toksed = docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
    uni = _rouge_counts(toksed, "toks")
    bi = _rouge_counts(toksed, _bigrams_spark())
    ov1, len1 = _rouge_side(pairs, uni, "1")
    ov2, len2 = _rouge_side(pairs, bi, "2")

    la1 = len1.select(F.col("doc_id").alias("doc_a"), F.col("len1").alias("na1"))
    lb1 = len1.select(F.col("doc_id").alias("doc_b"), F.col("len1").alias("nb1"))
    la2 = len2.select(F.col("doc_id").alias("doc_a"), F.col("len2").alias("na2"))
    lb2 = len2.select(F.col("doc_id").alias("doc_b"), F.col("len2").alias("nb2"))

    def f1(ov: str, na: str, nb: str):
        # guarded like the oracle's CASE WHEN n > 0: a NULL-text doc
        # has zero tokens, so an unguarded div raises under ANSI (r07
        # null-text fuzz finding); NULL p/r collapses through the
        # p + r > 0 test to the same 0 the oracle emits.
        p = F.expr(f"CASE WHEN {nb} > 0 THEN 1000000 * {ov} div {nb} END")
        r = F.expr(f"CASE WHEN {na} > 0 THEN 1000000 * {ov} div {na} END")
        return F.when(p + r > 0, (2 * p * r) / (p + r)).otherwise(F.lit(0))

    out = (
        pairs.join(la1, "doc_a", "left")
        .join(lb1, "doc_b", "left")
        .join(la2, "doc_a", "left")
        .join(lb2, "doc_b", "left")
        .join(ov1, ["doc_a", "doc_b"], "left")
        .join(ov2, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("ov1", F.lit(0)).cast("bigint").alias("ov1"),
            F.coalesce("na1", F.lit(0)).cast("bigint").alias("na1"),
            F.coalesce("nb1", F.lit(0)).cast("bigint").alias("nb1"),
            F.coalesce("ov2", F.lit(0)).cast("bigint").alias("ov2"),
            F.coalesce("na2", F.lit(0)).cast("bigint").alias("na2"),
            F.coalesce("nb2", F.lit(0)).cast("bigint").alias("nb2"),
        )
        .withColumn(
            "rouge1_f",
            F.floor(f1("ov1", "na1", "nb1")).cast("bigint") / F.lit(1e6),
        )
        .withColumn(
            "rouge2_f",
            F.when(
                (F.col("na2") > 0) & (F.col("nb2") > 0),
                F.floor(f1("ov2", "na2", "nb2")).cast("bigint"),
            ).otherwise(F.lit(0))
            / F.lit(1e6),
        )
    )
    return out


ORACLE_EVAL_ROUGE = f"""
WITH pr AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_id AS doc_a,
           lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS doc_b
    FROM documents)
  WHERE doc_b IS NOT NULL
),
uni AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({TOKS_DUCK}) AS g FROM documents)
  GROUP BY doc_id, g
),
bi AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({_BIGRAMS_DUCK}) AS g FROM documents)
  GROUP BY doc_id, g
),
len1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM uni GROUP BY doc_id),
len2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM bi GROUP BY doc_id),
o1 AS (
  SELECT p.doc_a, p.doc_b, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
  FROM pr p
  JOIN uni a ON a.doc_id = p.doc_a
  JOIN uni b ON b.doc_id = p.doc_b AND b.g = a.g
  GROUP BY p.doc_a, p.doc_b
),
o2 AS (
  SELECT p.doc_a, p.doc_b, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
  FROM pr p
  JOIN bi a ON a.doc_id = p.doc_a
  JOIN bi b ON b.doc_id = p.doc_b AND b.g = a.g
  GROUP BY p.doc_a, p.doc_b
),
base AS (
  SELECT p.doc_a, p.doc_b,
         CAST(COALESCE(x1.ov, 0) AS BIGINT) AS ov1,
         CAST(COALESCE(la1.len, 0) AS BIGINT) AS na1,
         CAST(COALESCE(lb1.len, 0) AS BIGINT) AS nb1,
         CAST(COALESCE(x2.ov, 0) AS BIGINT) AS ov2,
         CAST(COALESCE(la2.len, 0) AS BIGINT) AS na2,
         CAST(COALESCE(lb2.len, 0) AS BIGINT) AS nb2
  FROM pr p
  LEFT JOIN len1 la1 ON la1.doc_id = p.doc_a
  LEFT JOIN len1 lb1 ON lb1.doc_id = p.doc_b
  LEFT JOIN len2 la2 ON la2.doc_id = p.doc_a
  LEFT JOIN len2 lb2 ON lb2.doc_id = p.doc_b
  LEFT JOIN o1 x1 ON x1.doc_a = p.doc_a AND x1.doc_b = p.doc_b
  LEFT JOIN o2 x2 ON x2.doc_a = p.doc_a AND x2.doc_b = p.doc_b
),
fp AS (
  SELECT *,
         CASE WHEN nb1 > 0 THEN (1000000 * ov1) // nb1 END AS pf1,
         CASE WHEN na1 > 0 THEN (1000000 * ov1) // na1 END AS rf1,
         CASE WHEN nb2 > 0 THEN (1000000 * ov2) // nb2 END AS pf2,
         CASE WHEN na2 > 0 THEN (1000000 * ov2) // na2 END AS rf2
  FROM base
)
SELECT doc_a, doc_b, ov1, na1, nb1, ov2, na2, nb2,
       CAST(CASE WHEN pf1 + rf1 > 0 THEN (2 * pf1 * rf1) // (pf1 + rf1)
                 ELSE 0 END AS BIGINT) / 1e6 AS rouge1_f,
       CAST(CASE WHEN pf2 + rf2 > 0 THEN (2 * pf2 * rf2) // (pf2 + rf2)
                 ELSE 0 END AS BIGINT) / 1e6 AS rouge2_f
FROM fp
"""

QUERIES["q_eval_rouge"] = (q_eval_rouge, ORACLE_EVAL_ROUGE)


# --- q_eval_calibration: reliability curve + per-bin calibration gap --------
#
# The third leg of the eval stack: q_eval_pr measures ranking
# quality, q_ab_ztest compares cohorts, and this measures whether
# the classifier's SCORES mean what they claim — per predicted-
# probability bin, the observed positive rate and the calibration
# gap (the summands of expected calibration error).
#
# The predicted probability is the min-max-normalized classifier
# score (deterministic, self-contained); label = (lang = 'en'), as
# in q_eval_pr. All fixed point: p_hat = 1e6 (score - min) div
# (max - min) (non-negative numerator), 10 equal-width bins, per-bin
# mean-predicted and observed rates as exact integer quotients, gap
# = abs difference.
#
# Scale: per-doc scores aggregate once (map-side combine); the
# global min/max is a 1-row aggregate CROSS JOINed back (broadcast —
# never an unbounded window over the corpus); the bin rollup is a
# <= 10-row aggregate.


def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per probability bin: size, mean predicted probability,
    observed positive rate, calibration gap (all 1e-6 fixed
    point)."""
    docs = load(spark, sf_dir, "documents")
    scored = (
        docs.select("doc_id", "lang", F.explode(F.expr(TOKS_SPARK)).alias("tok"))
        .select("doc_id", "lang", F.expr(_QC_BUCKET).alias("bkt"))
        .select("doc_id", "lang", F.expr(_QC_WEIGHT).cast("bigint").alias("w"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").cast("bigint").alias("score_fp"))
    )
    # labeled feeds BOTH the bounds aggregate and the binning
    # crossJoin; not persisted, as the plain plan ran no slower
    # (A/B: 5 pairs, sf0.1)
    labeled = (
        docs.select("doc_id", "lang")
        .join(scored.select("doc_id", "score_fp"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("score_fp", F.lit(0)).alias("score_fp"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
    )
    bounds = labeled.agg(
        F.min("score_fp").alias("lo"), F.max("score_fp").alias("hi")
    )
    binned = labeled.crossJoin(F.broadcast(bounds)).select(
        "pos",
        F.expr(
            "least(cast(1000000 * (score_fp - lo) div greatest(hi - lo, 1)"
            " div 100000 as int), 9)"
        ).alias("bin"),
        F.expr(
            "1000000 * (score_fp - lo) div greatest(hi - lo, 1)"
        ).alias("p_hat_fp"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("cast(sum(p_hat_fp) div count(1) as bigint)").alias(
                "mean_pred_fp"
            ),
            F.expr("cast(1000000 * sum(pos) div count(1) as bigint)").alias(
                "obs_rate_fp"
            ),
        )
        .withColumn(
            "gap_fp", F.abs(F.col("mean_pred_fp") - F.col("obs_rate_fp"))
        )
        .select("bin", "n", "mean_pred_fp", "obs_rate_fp", "gap_fp")
    )


ORACLE_EVAL_CALIBRATION = f"""
WITH scored AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_fp
  FROM (
    SELECT doc_id, CAST({{qc_weight}} AS BIGINT) AS w
    FROM (
      SELECT doc_id, {{qc_bucket}} AS bkt
      FROM (SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents)))
  GROUP BY doc_id
),
labeled AS (
  SELECT d.doc_id, coalesce(s.score_fp, 0) AS score_fp,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents d LEFT JOIN scored s USING (doc_id)
),
bounds AS (
  SELECT min(score_fp) AS lo, max(score_fp) AS hi FROM labeled
),
binned AS (
  SELECT pos,
         least(CAST(1000000 * (score_fp - lo) // greatest(hi - lo, 1)
               // 100000 AS INT), 9) AS bin,
         1000000 * (score_fp - lo) // greatest(hi - lo, 1) AS p_hat_fp
  FROM labeled CROSS JOIN bounds
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(p_hat_fp) // count(*) AS BIGINT) AS mean_pred_fp,
       CAST(1000000 * sum(pos) // count(*) AS BIGINT) AS obs_rate_fp,
       CAST(abs(sum(p_hat_fp) // count(*)
                - 1000000 * sum(pos) // count(*)) AS BIGINT) AS gap_fp
FROM binned
GROUP BY bin
"""

ORACLE_EVAL_CALIBRATION = ORACLE_EVAL_CALIBRATION.replace(
    "{qc_weight}", _QC_WEIGHT
).replace("{qc_bucket}", _QC_BUCKET)

QUERIES["q_eval_calibration"] = (q_eval_calibration, ORACLE_EVAL_CALIBRATION)
