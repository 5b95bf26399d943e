"""Statistical evaluation + storage analytics (SURVEY.md §2.23,
round 5e).

The measurement / model-fitting tail of the engine: ranking metrics
(AUC), feature association (chi²), inequality (Gini), closed-form
regression via distributed normal equations, neighborhood similarity
for link prediction, survival/hazard tables, dictionary-encoding
storage estimates, and a JSONL export sink.

House determinism rules (curation.py:834): exact BIGINT partials
everywhere; fixed-point divisions only with non-negative numerators;
when products would overflow int64 (chi², Gini, the 3×3 solve) the
LAST step is one shared IEEE-double expression over exact integers —
+,-,*,/ and sqrt are correctly rounded, so identical expression
shapes give bitwise-equal doubles in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load
from metoffice_spark.parity import cents_sql, fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


def _fp_div_1e6(num: str, den: str, op: str) -> str:
    """Two-stage exact 1e-6 fixed-point divide of num/den (num ≤ den,
    both non-negative BIGINT): stage 1 computes the 1e3-scaled
    quotient, stage 2 refines the remainder — so the largest product
    is max(num, den)·1000 instead of num·1e6, raising the int64
    overflow bound from ~9.2e12 to ~9.2e15 (≈135M balanced rows per
    AUC group). op is 'div' (Spark) or '//' (DuckDB); both truncate
    on non-negative operands."""
    q1 = f"((({num}) * 1000) {op} ({den}))"
    rem = f"((({num}) * 1000) - {q1} * ({den}))"
    return f"(1000 * {q1} + ({rem} * 1000) {op} ({den}))"


def _chi2_2x2(dialect_cast: str = "DOUBLE") -> str:
    """The shared 2×2 chi-squared expression over exact BIGINT cells
    a,b,c,d with n = a+b+c+d: every FACTOR casts to double before any
    multiply (a*d alone overflows int64 at ~1e9-row margins), and the
    text is dialect-shared — ONE definition serves Spark and DuckDB
    for both q_chi2_terms and q_drift_chi2."""
    d = dialect_cast
    return (
        f"(CAST(a + b AS {d}) + CAST(c + d AS {d}))"
        f" * (CAST(a AS {d}) * CAST(d AS {d})"
        f" - CAST(b AS {d}) * CAST(c AS {d}))"
        f" * (CAST(a AS {d}) * CAST(d AS {d})"
        f" - CAST(b AS {d}) * CAST(c AS {d}))"
        f" / (CAST(a + b AS {d}) * CAST(c + d AS {d})"
        f" * CAST(a + c AS {d}) * CAST(b + d AS {d}))"
    )


# --- q_eval_auc: tie-corrected ROC AUC per source ----------------------------
#
# Mann-Whitney form: with ranks ascending by score, AUC =
# (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), ties handled with
# average ranks. Everything stays integral by carrying 2×avg_rank =
# 2*rank + tie_count - 1 (rank() = min rank of the tie group), so
# AUC_fp = 1e6 * (R2_pos - n_pos*(n_pos+1)) div (2*n_pos*n_neg) with
# a provably non-negative numerator (R_pos ≥ n_pos(n_pos+1)/2).
#
# Proxy task (deterministic + self-contained, same as q_eval_pr):
# does n_chars predict lang = 'en', per source group.
#
# Scale: the rank window is PARTITIONED by source — a per-group
# distributed sort, the same cost class as any ranking metric; the
# approximate path at 100 TB is a score histogram's cumulative counts
# (q_eval_pr's documented tradeoff). Degenerate groups (no positives
# or no negatives) are excluded — AUC is undefined there.


def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: n, n_pos, tie-corrected AUC of n_chars predicting
    lang='en', in 1e-6 fixed point."""
    # rank-validity boundary (r08 null-nchars probe, mirrored in the
    # oracle): a document with no score cannot be ranked by the score
    # — and Spark ranks NULL scores first where DuckDB ranks them
    # last, shifting every AUC rank sum.
    docs = load(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    ).select(
        "source",
        F.col("n_chars").cast("bigint").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("bigint").alias("pos"),
    )
    w_rank = Window.partitionBy("source").orderBy("s")
    w_tie = Window.partitionBy("source", "s")
    ranked = docs.select(
        "source",
        "pos",
        F.rank().over(w_rank).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(w_tie).cast("bigint").alias("tc"),
    )
    g = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.expr("pos * (2 * rk + tc - 1)")).cast("bigint").alias("r2_pos"),
    )
    # Two-stage exact fixed-point divide (_fp_div_1e6): numerator ≤
    # denominator, so the overflow bound is ~135M balanced rows per
    # group instead of ~4.3M with a single 1e6 multiply.
    num = "(r2_pos - n_pos * (n_pos + 1))"
    den = "(2 * n_pos * (n - n_pos))"
    return g.filter("n_pos > 0 AND n_pos < n").select(
        "source",
        "n",
        "n_pos",
        F.expr(f"cast({_fp_div_1e6(num, den, 'div')} as bigint)").alias("auc_fp"),
    )


ORACLE_EVAL_AUC = f"""
WITH ranked AS (
  SELECT source,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS pos,
         CAST(rank() OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY source, n_chars) AS BIGINT) AS tc
  FROM documents
  WHERE n_chars IS NOT NULL
),
g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(pos * (2 * rk + tc - 1)) AS BIGINT) AS r2_pos
  FROM ranked GROUP BY source
)
SELECT source, n, n_pos,
       CAST({_fp_div_1e6('(r2_pos - n_pos * (n_pos + 1))',
                         '(2 * n_pos * (n - n_pos))', '//')} AS BIGINT) AS auc_fp
FROM g WHERE n_pos > 0 AND n_pos < n
"""

QUERIES["q_eval_auc"] = (q_eval_auc, ORACLE_EVAL_AUC)


# --- q_chi2_terms: chi-squared term-label association ------------------------
#
# Feature selection for the classifier stack (§2.17): per token, the
# 2×2 chi² statistic between doc-level term presence and the label
# (lang = 'en'), top 30 terms. a,b,c,d are exact BIGINT counts from
# the distinct (doc, token) inverted index; the df >= _CHI2_MIN_DF
# cutoff bounds the candidate vocabulary (the same explicit skew /
# noise lever as q_dedup_ngram_jaccard). chi² = N(ad-bc)² /
# ((a+b)(c+d)(a+c)(b+d)) overflows int64 at corpus scale, so the one
# final expression is IEEE double over the exact counts.
#
# Scale: explode → distinct is the standard inverted-index shuffle
# (tokens, never bodies); the top-k is TakeOrdered (no global sort).

_CHI2_MIN_DF = 5
_CHI2_TOPK = 30


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 30 tokens by chi² association with lang='en': the 2×2
    counts and the chi² statistic."""
    from metoffice_spark.operators.llm import TOKS_SPARK

    docs = load(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("bigint").alias("pos"),
            F.explode(F.expr(TOKS_SPARK)).alias("tok"),
        )
        .distinct()
    )
    totals = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    terms = (
        pairs.groupBy("tok")
        .agg(
            F.sum("pos").cast("bigint").alias("a"),
            F.count(F.lit(1)).cast("bigint").alias("df"),
        )
        .filter(F.col("df") >= _CHI2_MIN_DF)
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            "a",
            (F.col("df") - F.col("a")).alias("b"),
            (F.col("n_pos") - F.col("a")).alias("c"),
            (F.col("n_docs") - F.col("n_pos") - F.col("df") + F.col("a")).alias("d"),
            "n_docs",
        )
    )
    scored = terms.filter("a + c > 0 AND b + d > 0").select(
        "tok", "a", "b", "c", "d", F.expr(_chi2_2x2()).alias("chi2")
    )
    return scored.orderBy(F.col("chi2").desc(), F.col("tok").asc()).limit(_CHI2_TOPK)


def _chi2_oracle() -> str:
    from metoffice_spark.operators.llm import TOKS_DUCK

    chi2 = _chi2_2x2()
    return f"""
WITH pairs AS (
  SELECT DISTINCT doc_id,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS pos, tok
  FROM (SELECT doc_id, lang, unnest({TOKS_DUCK}) AS tok FROM documents)
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM documents
),
terms AS (
  SELECT tok, CAST(sum(pos) AS BIGINT) AS a, CAST(count(*) AS BIGINT) AS df
  FROM pairs GROUP BY tok HAVING count(*) >= {_CHI2_MIN_DF}
),
cells AS (
  SELECT tok, a, df - a AS b, n_pos - a AS c,
         n_docs - n_pos - df + a AS d, n_docs
  FROM terms CROSS JOIN totals
)
SELECT tok, a, b, c, d, {chi2} AS chi2
FROM cells
WHERE a + c > 0 AND b + d > 0
ORDER BY chi2 DESC, tok ASC
LIMIT {_CHI2_TOPK}
"""


QUERIES["q_chi2_terms"] = (q_chi2_terms, _chi2_oracle())


# --- q_gini_spend: Gini coefficient of customer spend per segment ------------
#
# Inequality measurement over grouped totals: per market segment, the
# Gini coefficient of per-customer total spend (cents), via the
# rank-sum identity G = (2·Σ i·x_i) / (n·Σx) - (n+1)/n over the
# ascending (spend, custkey) ordering. Partials (Σx, Σ i·x_i, n) are
# exact BIGINTs; i·x_i products push the numerator past int64 once
# multiplied by 1e6, so the final ratio is the one shared IEEE-double
# expression.
#
# Scale: the row_number window is partitioned by segment (bounded
# per-group sort); everything after is a per-segment aggregate.
# Overflow bound (documented, not guarded): Σ i·x grows ~ mean·n²/2
# per segment and leaves int64 around ~2e7 customers per segment; at
# that scale the Lorenz curve comes from quantile-binned partial sums
# (q_agg_histogram's machinery) instead of exact ranks.


def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: customer count, total spend (cents), and
    the Gini coefficient of per-customer spend."""
    # rank-validity boundary (r08 null-price probe, mirrored in the
    # oracle): an unpriced order contributes no spend; without the
    # filter a customer whose EVERY order is unpriced gets a NULL
    # total that ranks first in Spark and last in DuckDB, shifting
    # every i*x term in the segment.
    spend = (
        load(spark, sf_dir, "orders")
        # finite extension (r10 composed battery): a customer whose
        # EVERY surviving order is non-finite passes IS NOT NULL but
        # sums to a NULL total — the same NULLS FIRST/LAST rank split
        # the r08 boundary exists for
        .filter(
            F.col("o_totalprice").isNotNull()
            & F.expr(fits_sql("o_totalprice"))
        )
        .select(
            "o_custkey",
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = cust.join(spend, cust.c_custkey == spend.o_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("c_custkey").alias("ck"), "x"
    )
    w = Window.partitionBy("seg").orderBy(F.col("x").asc(), F.col("ck").asc())
    ranked = seg.select("seg", "x", F.row_number().over(w).cast("bigint").alias("i"))
    g = ranked.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("i * x")).cast("bigint").alias("six"),
    )
    gini = (
        "(2.0 * cast(six as double) - cast(n + 1 as double) * cast(sx as double))"
        " / (cast(n as double) * cast(sx as double))"
    )
    return g.filter("sx > 0").select(
        "seg", "n", F.col("sx").alias("total_cents"), F.expr(gini).alias("gini")
    )


ORACLE_GINI = f"""
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                         AS BIGINT) AS x
  FROM orders WHERE o_totalprice IS NOT NULL
    AND {fits_sql("o_totalprice")}
  GROUP BY o_custkey
),
ranked AS (
  SELECT c.c_mktsegment AS seg, s.x,
         CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                                 ORDER BY s.x ASC, c.c_custkey ASC) AS BIGINT) AS i
  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
),
g AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(i * x) AS BIGINT) AS six
  FROM ranked GROUP BY seg
)
SELECT seg, n, sx AS total_cents,
       (2.0 * CAST(six AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
FROM g WHERE sx > 0
"""

QUERIES["q_gini_spend"] = (q_gini_spend, ORACLE_GINI)


# --- q_ridge_normal: ridge regression via distributed normal equations -------
#
# Closed-form linear model at cluster scale: regress event value
# (cents) on x1 = hour-of-day and x2 = portable day-of-week
# ((epoch_days + 4) % 7 — relational.py:1392's engine-proof form),
# with intercept and ridge λ on the non-intercept diagonal. The
# DISTRIBUTED part is one map-side-combinable aggregate producing the
# 3×3 Gram matrix and X'y as nine exact BIGINT sums; the solve is
# Cramer's rule on that single row — a constant-size expression, no
# second pass. Determinants overflow int64, so the solve is the one
# shared IEEE-double expression over the exact sums.

_RIDGE_LAMBDA = 1000


def _cramer3(m: dict[str, str], b: tuple[str, str, str]) -> tuple[str, str, str, str]:
    """3×3 Cramer's rule expression text (valid in both dialects).

    m maps cell names a11..a33 to expression strings; returns
    (det, w0_num, w1_num, w2_num)."""

    def det3(c11, c12, c13, c21, c22, c23, c31, c32, c33):
        return (
            f"({c11}) * (({c22}) * ({c33}) - ({c23}) * ({c32}))"
            f" - ({c12}) * (({c21}) * ({c33}) - ({c23}) * ({c31}))"
            f" + ({c13}) * (({c21}) * ({c32}) - ({c22}) * ({c31}))"
        )

    a = m
    det = det3(a["a11"], a["a12"], a["a13"], a["a21"], a["a22"], a["a23"],
               a["a31"], a["a32"], a["a33"])
    d0 = det3(b[0], a["a12"], a["a13"], b[1], a["a22"], a["a23"],
              b[2], a["a32"], a["a33"])
    d1 = det3(a["a11"], b[0], a["a13"], a["a21"], b[1], a["a23"],
              a["a31"], b[2], a["a33"])
    d2 = det3(a["a11"], a["a12"], b[0], a["a21"], a["a22"], b[1],
              a["a31"], a["a32"], b[2])
    return det, d0, d1, d2


def _ridge_solve_exprs() -> dict[str, str]:
    lam = f"{_RIDGE_LAMBDA}.0"
    c = {k: f"cast({k} as double)" for k in
         ("n", "sx1", "sx2", "sx11", "sx12", "sx22", "sy", "sx1y", "sx2y")}
    m = {
        "a11": c["n"], "a12": c["sx1"], "a13": c["sx2"],
        "a21": c["sx1"], "a22": f"{c['sx11']} + {lam}", "a23": c["sx12"],
        "a31": c["sx2"], "a32": c["sx12"], "a33": f"{c['sx22']} + {lam}",
    }
    det, d0, d1, d2 = _cramer3(m, (c["sy"], c["sx1y"], c["sx2y"]))
    return {"det": det, "w0": f"({d0}) / ({det})",
            "w1": f"({d1}) / ({det})", "w2": f"({d2}) / ({det})"}


def q_ridge_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the Gram sums and the ridge coefficients (intercept,
    hour, day-of-week) for value_cents ~ hour + dow."""
    ev = load(spark, sf_dir, "events").select(
        F.hour("ts").cast("bigint").alias("x1"),
        F.expr(
            "cast((datediff(to_date(ts), to_date('1970-01-01')) + 4) % 7 as bigint)"
        ).alias("x2"),
        F.expr(cents_sql("value")).alias("y"),
    )
    gram = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum(F.expr("x1 * x1")).cast("bigint").alias("sx11"),
        F.sum(F.expr("x1 * x2")).cast("bigint").alias("sx12"),
        F.sum(F.expr("x2 * x2")).cast("bigint").alias("sx22"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x1 * y")).cast("bigint").alias("sx1y"),
        F.sum(F.expr("x2 * y")).cast("bigint").alias("sx2y"),
    )
    s = _ridge_solve_exprs()
    return gram.select(
        "n", "sx1", "sx2", "sx11", "sx12", "sx22", "sy", "sx1y", "sx2y",
        F.expr(s["w0"]).alias("w0"),
        F.expr(s["w1"]).alias("w1"),
        F.expr(s["w2"]).alias("w2"),
    )


def _ridge_oracle() -> str:
    s = _ridge_solve_exprs()
    return f"""
WITH ev AS (
  SELECT CAST(hour(ts) AS BIGINT) AS x1,
         CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
              AS BIGINT) AS x2,
         {cents_sql("value")} AS y
  FROM events
),
gram AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
         CAST(sum(x1 * x1) AS BIGINT) AS sx11,
         CAST(sum(x1 * x2) AS BIGINT) AS sx12,
         CAST(sum(x2 * x2) AS BIGINT) AS sx22,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * y) AS BIGINT) AS sx1y,
         CAST(sum(x2 * y) AS BIGINT) AS sx2y
  FROM ev
)
SELECT n, sx1, sx2, sx11, sx12, sx22, sy, sx1y, sx2y,
       {s['w0']} AS w0, {s['w1']} AS w1, {s['w2']} AS w2
FROM gram
"""


QUERIES["q_ridge_normal"] = (q_ridge_normal, _ridge_oracle())


# --- q_graph_jaccard: neighborhood Jaccard for link prediction ---------------
#
# Candidate customer pairs from the customer-supplier bipartite graph
# scored by neighbor-set Jaccard — the common-neighbors link
# predictor. All-pairs is quadratic, so candidates come from a
# BOUNDED representative join: per supplier, only its _J_REPS lowest
# custkeys pair up (≤ C(_J_REPS,2) pairs per supplier — the same
# candidate-cap lever as q_dedup_fuzzy's bands), then the EXACT
# intersection is recounted for candidates only by joining both
# adjacency lists (the LSH verify-on-candidates shape).
#
# Scale: edges shuffle once (distinct), candidates are bounded per
# supplier, and the verify join moves only candidate pairs × their
# adjacency rows. Degrees broadcast back (|customers| ≪ |edges|).

_J_REPS = 5
_J_TOPK = 50


def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top candidate customer pairs by neighbor (supplier) Jaccard:
    pair, intersection, union, jaccard_fp."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # kept: the plain plan ran 1.42x slower (A/B: 5 pairs, sf0.1)
    edges = scoped_persist(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = edges.groupBy("cust").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    w = Window.partitionBy("supp").orderBy(F.col("cust").asc())
    reps = edges.select("supp", "cust", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= _J_REPS
    )
    a = reps.select("supp", F.col("cust").alias("ca"))
    b = reps.select("supp", F.col("cust").alias("cb"))
    cand = (
        a.join(b, "supp")
        .filter(F.col("ca") < F.col("cb"))
        .select("ca", "cb")
        .distinct()
    )
    ea = edges.select(F.col("cust").alias("ca"), F.col("supp").alias("sa"))
    eb = edges.select(F.col("cust").alias("cb2"), F.col("supp").alias("sb"))
    # candidates are bounded (≤ C(_J_REPS,2) per supplier), so they
    # BROADCAST into the first adjacency join — the only shuffle left
    # is the (cb, supp)-keyed equi-join against the second adjacency.
    inter = (
        ea.join(F.broadcast(cand), "ca")
        .join(eb, (F.col("cb") == F.col("cb2")) & (F.col("sa") == F.col("sb")))
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    da = deg.select(F.col("cust").alias("ca"), F.col("deg").alias("da"))
    db = deg.select(F.col("cust").alias("cb"), F.col("deg").alias("db"))
    scored = (
        inter.join(F.broadcast(da), "ca")
        .join(F.broadcast(db), "cb")
        .select(
            "ca",
            "cb",
            "inter",
            (F.col("da") + F.col("db") - F.col("inter")).alias("uni"),
            F.expr(
                "cast(1000000 * inter div (da + db - inter) as bigint)"
            ).alias("jaccard_fp"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_fp").desc(), F.col("ca").asc(), F.col("cb").asc()
    ).limit(_J_TOPK)


ORACLE_GRAPH_JACCARD = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (
  SELECT cust, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY cust
),
reps AS (
  SELECT supp, cust,
         row_number() OVER (PARTITION BY supp ORDER BY cust ASC) AS rn
  FROM edges QUALIFY rn <= {_J_REPS}
),
cand AS (
  SELECT DISTINCT a.cust AS ca, b.cust AS cb
  FROM reps a JOIN reps b ON a.supp = b.supp AND a.cust < b.cust
),
inter AS (
  SELECT c.ca, c.cb, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN edges ea ON ea.cust = c.ca
  JOIN edges eb ON eb.cust = c.cb AND eb.supp = ea.supp
  GROUP BY c.ca, c.cb
)
SELECT i.ca, i.cb, i.inter,
       da.deg + db.deg - i.inter AS uni,
       CAST(1000000 * i.inter // (da.deg + db.deg - i.inter) AS BIGINT)
         AS jaccard_fp
FROM inter i
JOIN deg da ON da.cust = i.ca
JOIN deg db ON db.cust = i.cb
ORDER BY jaccard_fp DESC, ca ASC, cb ASC
LIMIT {_J_TOPK}
"""

QUERIES["q_graph_jaccard"] = (q_graph_jaccard, ORACLE_GRAPH_JACCARD)


# --- q_survival_hazard: discrete-time hazard table ---------------------------
#
# User-lifetime survival analysis over the event stream: per user,
# lifetime = days between first and last event; the terminal state is
# an EVENT (churn) when the user's last action is 'error', otherwise
# the lifetime is CENSORED (still active at observation end). The
# hazard table reports, per lifetime day d: events, censored, the
# at-risk count n(d) = users with lifetime ≥ d (reverse cumulative
# sum), and the discrete hazard d(d)/n(d) in fixed point. (The
# Kaplan-Meier survival curve is the running product of 1 - hazard —
# a float cascade both engines would round differently, so the oracle
# -checkable surface is the exact hazard table it derives from.)
#
# Scale: per-user agg (one shuffle on user_id); the day-level table
# is tiny (≤ observation window in days), so its ordered window is a
# deliberate single-partition step over an already-aggregated input.


def q_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per lifetime day: events, censored, at-risk count, hazard_fp."""
    # sequencing-validity boundary (r10 nullgroup probe, mirrored in
    # the oracle): an untimestamped event has no position on the
    # lifetime axis. Partial-NULL users were already consistent
    # (min/max skip NULLs, and both engines sort DESC NULLS LAST for
    # the last-event pick), but a user whose EVERY ts is NULL got a
    # d=NULL day that the reverse-cumsum window orders NULLS FIRST in
    # Spark and NULLS LAST in DuckDB, shifting every at-risk count.
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    per_user = (
        ev.select(
            "user_id",
            "ts",
            F.first("event_type").over(w_last).alias("last_type"),
        )
        .groupBy("user_id", "last_type")
        .agg(
            F.expr(
                "cast(datediff(to_date(max(ts)), to_date(min(ts))) as bigint)"
            ).alias("d")
        )
        .select(
            "d",
            F.when(F.col("last_type") == "error", 1).otherwise(0).alias("is_event"),
        )
    )
    days = per_user.groupBy("d").agg(
        F.sum("is_event").cast("bigint").alias("events"),
        F.sum(F.expr("1 - is_event")).cast("bigint").alias("censored"),
    )
    # reverse cumsum via the DESC sort (r12, the q_ts_interpolate
    # finding): Spark's (CURRENT ROW, UNBOUNDED FOLLOWING) frame has
    # no running accumulator and re-evaluates per row — O(n^2) in the
    # day-count; the DESC-sorted UNBOUNDED PRECEDING frame is the
    # O(n) spelling of the same at-risk total. The relation is tiny
    # (distinct lifetime days), but the spelling is the principle.
    w_risk = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return days.select(
        "d",
        "events",
        "censored",
        F.sum(F.expr("events + censored")).over(w_risk).cast("bigint").alias("at_risk"),
    ).withColumn(
        "hazard_fp", F.expr("cast(1000000 * events div at_risk as bigint)")
    )


ORACLE_SURVIVAL = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts IS NOT NULL
),
per_user AS (
  SELECT user_id,
         CAST(datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
              AS BIGINT) AS d,
         CASE WHEN max(CASE WHEN rn = 1 THEN event_type END) = 'error'
              THEN 1 ELSE 0 END AS is_event
  FROM ordered GROUP BY user_id
),
days AS (
  SELECT d, CAST(sum(is_event) AS BIGINT) AS events,
         CAST(sum(1 - is_event) AS BIGINT) AS censored
  FROM per_user GROUP BY d
)
SELECT d, events, censored,
       CAST(sum(events + censored) OVER (ORDER BY d ASC
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         AS at_risk,
       CAST(1000000 * events // sum(events + censored) OVER (ORDER BY d ASC
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         AS hazard_fp
FROM days
"""

QUERIES["q_survival_hazard"] = (q_survival_hazard, ORACLE_SURVIVAL)


# --- q_compress_dict: dictionary-encoding storage estimate -------------------
#
# The storage-layout planning companion to q_layout_zorder: per
# column, how much a dictionary encoding would save. bit_width =
# ceil(log2(distinct)) computed EXACTLY via the binary-string length
# of (distinct - 1) (no float log), dict_bits = rows × bit_width,
# plain_bits = total UTF-8 bytes of the string form × 8, ratio in
# fixed point. The per-column stats all come from ONE scan (explode
# of a per-row struct array — column pruning keeps only the three
# profiled columns).


def q_compress_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per profiled orders column: rows, distinct, exact bit width,
    dictionary vs plain size estimate, compression ratio."""
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    o = load(spark, sf_dir, "orders").select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("e")
    ).select("e.col", "e.v")
    per_col = o.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.sum(F.octet_length("v")).cast("bigint").alias("plain_bytes"),
    )
    return (
        per_col.withColumn(
            "bit_width",
            F.expr("cast(length(bin(greatest(n_distinct - 1, 1))) as bigint)"),
        )
        .withColumn("dict_bits", F.expr("n * bit_width"))
        .withColumn("plain_bits", F.expr("plain_bytes * 8"))
        .withColumn(
            "ratio_fp", F.expr("cast(1000000 * dict_bits div plain_bits as bigint)")
        )
        .select(
            "col", "n", "n_distinct", "bit_width", "plain_bytes",
            "dict_bits", "plain_bits", "ratio_fp",
        )
    )


ORACLE_COMPRESS = """
WITH long AS (
  SELECT 'o_orderstatus' AS col, CAST(o_orderstatus AS VARCHAR) AS v FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
),
per_col AS (
  SELECT col, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
         CAST(sum(strlen(v)) AS BIGINT) AS plain_bytes
  FROM long GROUP BY col
)
SELECT col, n, n_distinct,
       CAST(length(bin(greatest(n_distinct - 1, 1))) AS BIGINT) AS bit_width,
       plain_bytes,
       n * CAST(length(bin(greatest(n_distinct - 1, 1))) AS BIGINT) AS dict_bits,
       plain_bytes * 8 AS plain_bits,
       CAST(1000000 * (n * CAST(length(bin(greatest(n_distinct - 1, 1)))
                              AS BIGINT))
            // (plain_bytes * 8) AS BIGINT) AS ratio_fp
FROM per_col
"""

QUERIES["q_compress_dict"] = (q_compress_dict, ORACLE_COMPRESS)


# --- q_sink_jsonl: JSONL export of the curated corpus ------------------------
#
# The training-data handoff format: one JSON object per document.
# Payload columns are the metadata surface (ints + token-safe enum
# strings — doc text stays in parquet; the JSON layer is the
# manifest), so the byte-exact line is checkable cross-engine:
# Spark's to_json(struct(...)) compact form is reproduced in the
# oracle by explicit concatenation. Map-only — the sink shape is a
# pure projection that a writer would stream straight to object
# storage, partitioned by source.


def q_sink_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: the JSONL manifest line and its byte length."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.col("lang"),
                F.col("source"),
                F.col("n_chars").alias("n_chars"),
            )
        ).alias("line"),
    ).withColumn("line_bytes", F.octet_length("line").cast("bigint"))


ORACLE_SINK_JSONL = """
SELECT doc_id, line,
       -- strlen = UTF-8 byte count (r11 dim-unicode probe: DuckDB's
       -- STRING -> BLOB cast RAISES on any non-ASCII character, and
       -- Jackson writes non-ASCII JSON values raw, so a unicode
       -- source/lang is a legal line the byte count must cover)
       CAST(strlen(line) AS BIGINT) AS line_bytes
FROM (
  SELECT doc_id,
         -- tripwire (ADVICE r05 house pattern): raw concatenation only
         -- equals Spark's to_json while the enum fields need no JSON
         -- escaping; a datagen change introducing quotes/backslashes/
         -- control chars must fail LOUDLY here, not hash-diverge.
         -- COALESCE-wrapped fields replicate to_json's NULL-field DROP
         -- (r07 null-lang fuzz finding): a NULL lang/source omits the
         -- field, it does not null the whole line.
         CASE WHEN regexp_matches(coalesce(lang, '') || coalesce(source, ''),
                                  '["\\\\[:cntrl:]]')
              THEN error('jsonl oracle: lang/source needs JSON escaping')
         ELSE '{"doc_id":' || CAST(doc_id AS VARCHAR)
           || COALESCE(',"lang":"' || lang || '"', '')
           || COALESCE(',"source":"' || source || '"', '')
           -- n_chars too (r08 null-nchars fuzz finding): || propagates
           -- a NULL n_chars into the WHOLE line where to_json just
           -- drops the field
           || COALESCE(',"n_chars":' || CAST(n_chars AS VARCHAR), '')
           || '}' END AS line
  FROM documents
)
"""

QUERIES["q_sink_jsonl"] = (q_sink_jsonl, ORACLE_SINK_JSONL)


# --- q_forecast_snaive: seasonal-naive forecast backtest ---------------------
#
# The standard first forecasting baseline at warehouse scale: predict
# each (event_type, hour-of-day) cell of the FINAL observed day by
# the mean of the same cell over all earlier days (the seasonal
# profile), then score the backtest — per event_type, the mean
# absolute error between hourly forecast and hourly actual, all in
# 1e-6 fixed-point cents. Exact throughout: sums and counts are
# BIGINT, each mean is one fixed-point div with non-negative
# numerator (values >= 0), abs-difference of two fixed points is
# exact.
#
# Scale: one shuffle on (event_type, hr) for the train profile + one
# for the holdout day; the final-day scalar broadcasts as a 1-row
# crossJoin (no driver-side collect — the q_sample_weighted lesson).


def q_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: holdout hours scored, seasonal-naive MAE_fp
    (1e-6 cents) on the final day."""
    ev = (
        load(spark, sf_dir, "events").select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.hour("ts").cast("int").alias("hr"),
            F.expr(cents_sql("value")).alias("cents"),
        )
    )
    last_day = ev.agg(F.max("day").alias("dmax"))
    evd = ev.crossJoin(F.broadcast(last_day))
    train = (
        evd.filter("day < dmax")
        .groupBy("event_type", "hr")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
        .select(
            "event_type", "hr", F.expr("cast(1000000 * s div c as bigint)").alias("fc_fp")
        )
    )
    actual = (
        evd.filter("day = dmax")
        .groupBy("event_type", "hr")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
        .select(
            "event_type",
            "hr",
            F.expr("cast(1000000 * s div c as bigint)").alias("ac_fp"),
        )
    )
    scored = actual.join(train, ["event_type", "hr"])
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.expr("cast(sum(abs(ac_fp - fc_fp)) div count(1) as bigint)").alias("mae_fp"),
    )


ORACLE_FORECAST = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hr,
         {cents_sql("value")} AS cents
  FROM events
),
last_day AS (SELECT max(day) AS dmax FROM ev),
train AS (
  SELECT event_type, hr,
         CAST(1000000 * CAST(sum(cents) AS BIGINT) // count(*) AS BIGINT) AS fc_fp
  FROM ev, last_day WHERE day < dmax GROUP BY event_type, hr
),
actual AS (
  SELECT event_type, hr,
         CAST(1000000 * CAST(sum(cents) AS BIGINT) // count(*) AS BIGINT) AS ac_fp
  FROM ev, last_day WHERE day = dmax GROUP BY event_type, hr
)
SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(abs(a.ac_fp - t.fc_fp)) // count(*) AS BIGINT) AS mae_fp
FROM actual a JOIN train t ON a.event_type = t.event_type AND a.hr = t.hr
GROUP BY a.event_type
"""

QUERIES["q_forecast_snaive"] = (q_forecast_snaive, ORACLE_FORECAST)


# --- q_target_encoding: leave-one-out mean target encoding -------------------
#
# The categorical-feature encoder that leaks no row's own target:
# enc_i = (sum_cat - y_i + m * prior) / (cnt_cat - 1 + m), smoothing
# m toward the global mean. Everything exact: category sums/counts
# are BIGINT partials, the global prior is a 1e-6 fixed-point scalar
# broadcast via 1-row crossJoin, the encode itself is one map-side
# fixed-point expression (numerator non-negative: values >= 0).
#
# Scale: per-category aggregate (small) broadcasts back onto the fact
# rows — the fact table is touched map-only. Output sampled by
# event_id to stay row-bounded.

_TE_SMOOTH = 10


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sampled event: its category, target cents, and the
    leave-one-out smoothed target encoding (1e-6 fixed point)."""
    ev = (
        load(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.expr(cents_sql("value")).alias("y"),
        )
    )
    cats = ev.groupBy("event_type").agg(
        F.sum("y").cast("bigint").alias("s_cat"),
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
    )
    prior = ev.agg(
        F.expr("cast(1000000 * sum(y) div count(1) as bigint)").alias("prior_fp")
    )
    return (
        ev.filter("event_id % 97 = 0")
        .join(F.broadcast(cats), "event_type")
        .crossJoin(F.broadcast(prior))
        .select(
            "event_id",
            "event_type",
            "y",
            F.expr(
                f"cast((1000000 * (s_cat - y) + {_TE_SMOOTH} * prior_fp)"
                f" div (n_cat - 1 + {_TE_SMOOTH}) as bigint)"
            ).alias("enc_fp"),
        )
    )


ORACLE_TARGET_ENC = f"""
WITH ev AS (
  SELECT event_id, event_type,
         {cents_sql("value")} AS y
  FROM events
),
cats AS (
  SELECT event_type, CAST(sum(y) AS BIGINT) AS s_cat,
         CAST(count(*) AS BIGINT) AS n_cat
  FROM ev GROUP BY event_type
),
prior AS (
  SELECT CAST(1000000 * CAST(sum(y) AS BIGINT) // count(*) AS BIGINT)
           AS prior_fp
  FROM ev
)
SELECT e.event_id, e.event_type, e.y,
       CAST((1000000 * (c.s_cat - e.y) + {_TE_SMOOTH} * p.prior_fp)
            // (c.n_cat - 1 + {_TE_SMOOTH}) AS BIGINT) AS enc_fp
FROM ev e JOIN cats c ON e.event_type = c.event_type
CROSS JOIN prior p
WHERE e.event_id % 97 = 0
"""

QUERIES["q_target_encoding"] = (q_target_encoding, ORACLE_TARGET_ENC)


# --- q_drift_chi2: event-mix drift between observation windows ---------------
#
# Data-drift monitoring without logs of logs: split the stream into a
# baseline window (first 14 days from the earliest event) and the
# current window (everything after), then per event_type run the same
# exact-count 2x2 chi-squared machinery as q_chi2_terms — counts are
# BIGINT, the statistic is the one shared IEEE-double expression.
# (The chi-squared form is chosen over PSI deliberately: PSI needs
# ln(), which is not correctly-rounded-guaranteed across engines;
# chi-squared is rational in the counts.)
#
# Scale: the min-day scalar broadcasts via 1-row crossJoin; the rest
# is one event_type-keyed aggregate.

_DRIFT_BASE_DAYS = 14


def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: baseline/current counts, window shares in
    1e-6 fixed point, and the 2x2 chi-squared drift statistic."""
    # sequencing-validity boundary (a null-ts probe, mirrored in the
    # oracle): an undated event belongs to neither drift window — and
    # the engines disagree on its flag (Spark's cast(NULL<14 as int)
    # is NULL and drops out of sum(); DuckDB's CASE lands it in ELSE 0).
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", F.to_date("ts").alias("day"))
    )
    d0 = ev.agg(F.min("day").alias("dmin"))
    flagged = ev.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.expr(f"cast(datediff(day, dmin) < {_DRIFT_BASE_DAYS} as int)").alias("w1"),
    )
    per_type = flagged.groupBy("event_type").agg(
        F.sum("w1").cast("bigint").alias("a"),
        F.sum(F.expr("1 - w1")).cast("bigint").alias("b"),
    )
    totals = flagged.agg(
        F.sum("w1").cast("bigint").alias("n1"),
        F.sum(F.expr("1 - w1")).cast("bigint").alias("n2"),
    )
    cells = per_type.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "a",
        "b",
        (F.col("n1") - F.col("a")).alias("c"),
        (F.col("n2") - F.col("b")).alias("d"),
        "n1",
        "n2",
    )
    # n1 > 0 AND n2 > 0 guards the degenerate split (all events inside
    # the baseline window → every b = d = 0 → 0/0 chi²): drift is
    # undefined with an empty window, so no rows are emitted then.
    return cells.filter("n1 > 0 AND n2 > 0").select(
        "event_type",
        F.col("a").alias("n_base"),
        F.col("b").alias("n_cur"),
        F.expr("cast(1000000 * a div n1 as bigint)").alias("share_base_fp"),
        F.expr("cast(1000000 * b div n2 as bigint)").alias("share_cur_fp"),
        F.expr(_chi2_2x2()).alias("chi2"),
    )


ORACLE_DRIFT = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day FROM events
  WHERE ts IS NOT NULL
),
d0 AS (SELECT min(day) AS dmin FROM ev),
flagged AS (
  SELECT event_type,
         CASE WHEN datediff('day', dmin, day) < {_DRIFT_BASE_DAYS}
              THEN 1 ELSE 0 END AS w1
  FROM ev, d0
),
per_type AS (
  SELECT event_type, CAST(sum(w1) AS BIGINT) AS a,
         CAST(sum(1 - w1) AS BIGINT) AS b
  FROM flagged GROUP BY event_type
),
totals AS (
  SELECT CAST(sum(w1) AS BIGINT) AS n1, CAST(sum(1 - w1) AS BIGINT) AS n2
  FROM flagged
),
cells AS (
  SELECT event_type, a, b, n1 - a AS c, n2 - b AS d, n1, n2
  FROM per_type CROSS JOIN totals
)
SELECT event_type, a AS n_base, b AS n_cur,
       CAST(1000000 * a // n1 AS BIGINT) AS share_base_fp,
       CAST(1000000 * b // n2 AS BIGINT) AS share_cur_fp,
       {_chi2_2x2()} AS chi2
FROM cells WHERE n1 > 0 AND n2 > 0
"""

QUERIES["q_drift_chi2"] = (q_drift_chi2, ORACLE_DRIFT)


# --- q_eval_multiclass: per-class P/R/F1 + Cohen's kappa ---------------------
#
# The multi-class readout over q_nb_langid's confusion matrix (the
# house classifier): per class, one-vs-rest precision/recall/F1 in
# 1e-6 fixed point from exact BIGINT marginals, plus the overall
# accuracy and Cohen's kappa shared across rows. kappa =
# (N·correct - Σ row_c·col_c) / (N² - Σ row_c·col_c) is rational in
# the counts; products exceed int64 at corpus scale, so the final
# step is the one shared IEEE-double expression (house rule).
#
# Scale: the confusion matrix is |classes|² rows regardless of corpus
# size — everything here is post-aggregate arithmetic; the heavy
# lifting is q_nb_langid's own two-level token aggregation.


def q_eval_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per class: support, predicted count, tp, precision/recall/F1
    (1e-6 fixed point), plus overall accuracy_fp and kappa."""
    from metoffice_spark.operators.classify import q_nb_langid

    # kept: the plain plan ran 1.15x slower (A/B: 10 pairs, sf0.1)
    conf = scoped_persist(q_nb_langid(spark, sf_dir))
    actuals = conf.groupBy(F.col("actual_lang").alias("cls")).agg(
        F.sum("n_docs").cast("bigint").alias("support")
    )
    preds = conf.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.sum("n_docs").cast("bigint").alias("pred_n")
    )
    tp = conf.filter("actual_lang = pred_lang").select(
        F.col("actual_lang").alias("cls"), F.col("n_docs").alias("tp")
    )
    classes = (
        actuals.join(preds, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
            F.coalesce("pred_n", F.lit(0)).cast("bigint").alias("pred_n"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    margins = (
        actuals.join(preds, "cls", "full")
        .select(
            F.coalesce("support", F.lit(0)).alias("s"),
            F.coalesce("pred_n", F.lit(0)).alias("p"),
        )
        .agg(
            F.sum("s").cast("bigint").alias("n_total"),
            F.sum(F.expr("s * p")).cast("bigint").alias("pe_num"),
        )
    )
    # coalesce: with a zero diagonal sum(n_docs) is NULL in Spark but
    # the oracle coalesces to 0 — keep both sides on the 0 branch.
    correct = conf.filter("actual_lang = pred_lang").agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("bigint").alias("n_correct")
    )
    kappa = (
        "(cast(n_total as double) * cast(n_correct as double)"
        " - cast(pe_num as double))"
        " / (cast(n_total as double) * cast(n_total as double)"
        " - cast(pe_num as double))"
    )
    return (
        classes.crossJoin(F.broadcast(margins))
        .crossJoin(F.broadcast(correct))
        .select(
            "cls",
            "support",
            "pred_n",
            "tp",
            F.expr(
                "cast(case when pred_n > 0 then 1000000 * tp div pred_n"
                " else 0 end as bigint)"
            ).alias("precision_fp"),
            F.expr(
                "cast(case when support > 0 then 1000000 * tp div support"
                " else 0 end as bigint)"
            ).alias("recall_fp"),
            F.expr(
                "cast(case when support + pred_n > 0 then"
                " 1000000 * 2 * tp div (support + pred_n)"
                " else 0 end as bigint)"
            ).alias("f1_fp"),
            F.expr("cast(1000000 * n_correct div n_total as bigint)").alias(
                "accuracy_fp"
            ),
            F.expr(kappa).alias("kappa"),
        )
    )


def _eval_multiclass_oracle() -> str:
    from metoffice_spark.operators.classify import ORACLE_NB_LANGID

    return f"""
WITH conf AS ({ORACLE_NB_LANGID}),
actuals AS (
  SELECT actual_lang AS cls, CAST(sum(n_docs) AS BIGINT) AS support
  FROM conf GROUP BY actual_lang
),
preds AS (
  SELECT pred_lang AS cls, CAST(sum(n_docs) AS BIGINT) AS pred_n
  FROM conf GROUP BY pred_lang
),
tp AS (
  SELECT actual_lang AS cls, CAST(n_docs AS BIGINT) AS tp
  FROM conf WHERE actual_lang = pred_lang
),
classes AS (
  SELECT coalesce(a.cls, p.cls) AS cls,
         CAST(coalesce(a.support, 0) AS BIGINT) AS support,
         CAST(coalesce(p.pred_n, 0) AS BIGINT) AS pred_n
  FROM actuals a FULL JOIN preds p ON a.cls = p.cls
),
margins AS (
  SELECT CAST(sum(support) AS BIGINT) AS n_total,
         CAST(sum(support * pred_n) AS BIGINT) AS pe_num
  FROM classes
),
correct AS (
  SELECT CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS n_correct
  FROM conf WHERE actual_lang = pred_lang
)
SELECT c.cls, c.support, c.pred_n,
       CAST(coalesce(t.tp, 0) AS BIGINT) AS tp,
       CAST(CASE WHEN c.pred_n > 0
                 THEN 1000000 * coalesce(t.tp, 0) // c.pred_n
                 ELSE 0 END AS BIGINT) AS precision_fp,
       CAST(CASE WHEN c.support > 0
                 THEN 1000000 * coalesce(t.tp, 0) // c.support
                 ELSE 0 END AS BIGINT) AS recall_fp,
       CAST(CASE WHEN c.support + c.pred_n > 0
                 THEN 1000000 * 2 * coalesce(t.tp, 0) // (c.support + c.pred_n)
                 ELSE 0 END AS BIGINT) AS f1_fp,
       CAST(1000000 * x.n_correct // m.n_total AS BIGINT) AS accuracy_fp,
       (CAST(m.n_total AS DOUBLE) * CAST(x.n_correct AS DOUBLE)
          - CAST(m.pe_num AS DOUBLE))
         / (CAST(m.n_total AS DOUBLE) * CAST(m.n_total AS DOUBLE)
            - CAST(m.pe_num AS DOUBLE)) AS kappa
FROM classes c
LEFT JOIN tp t ON t.cls = c.cls
CROSS JOIN margins m CROSS JOIN correct x
"""


QUERIES["q_eval_multiclass"] = (q_eval_multiclass, _eval_multiclass_oracle())


# --- q_text_readability: Flesch-style readability scoring --------------------
#
# Corpus curation's readability gate: per document, word count
# (house tokenizer), sentence count (non-empty [.!?]+ segments,
# floored at 1), a syllable PROXY (vowel-group count — the standard
# cheap stand-in; real syllabification is dictionary work), and the
# Flesch reading-ease formula. Counts are exact ints; the formula's
# final step is the one shared IEEE-double expression.
#
# Scale: map-only over documents — no shuffle at all.


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: words, sentences, vowel-group syllable proxy,
    Flesch reading-ease score."""
    from metoffice_spark.operators.llm import TOKS_SPARK

    docs = load(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        F.expr(f"cast(size({TOKS_SPARK}) as bigint)").alias("words"),
        F.expr(
            "cast(greatest(1, size(filter(split(text, '[.!?]+'),"
            " s -> trim(s) <> ''))) as bigint)"
        ).alias("sentences"),
        F.expr(
            "cast(size(filter(split(lower(text), '[^aeiouy]+'),"
            " s -> s <> '')) as bigint)"
        ).alias("syllables"),
    )
    flesch = (
        "206.835 - 1.015 * (cast(words as double) / cast(sentences as double))"
        " - 84.6 * (cast(syllables as double) / cast(words as double))"
    )
    return counted.filter("words > 0").select(
        "doc_id", "words", "sentences", "syllables", F.expr(flesch).alias("flesch")
    )


def _readability_oracle() -> str:
    from metoffice_spark.operators.llm import TOKS_DUCK

    return f"""
WITH counted AS (
  SELECT doc_id,
         CAST(len({TOKS_DUCK}) AS BIGINT) AS words,
         CAST(greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'),
              s -> trim(s) <> ''))) AS BIGINT) AS sentences,
         CAST(len(list_filter(string_split_regex(lower(text), '[^aeiouy]+'),
              s -> s <> '')) AS BIGINT) AS syllables
  FROM documents
)
SELECT doc_id, words, sentences, syllables,
       206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
         - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)) AS flesch
FROM counted WHERE words > 0
"""


QUERIES["q_text_readability"] = (q_text_readability, _readability_oracle())
