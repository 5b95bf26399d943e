"""Distributed linear algebra (SURVEY.md §2.22, round 5c):
power-iteration PCA over the embedding corpus.

The one iterative-linear-algebra representative of the ML stack: the
dominant principal direction of the embedding Gram matrix via two
power-iteration steps, every intermediate an exact BIGINT so the
trajectory is bitwise identical cross-engine (the q_graph_pagerank /
q_kmeans_train fixed-point discipline applied to matvecs).

Pipeline: fixed-point vectors (1e-6 BIGINT, llm.py `_ivec_*`) →
per-vec_id row sums s → Gram G[i,j] = Σ_vec s_i·s_j (one int64 gemm
per task, partials summed per (i,j)) → downscale (sign-split
truncating div, the q_semdedup_centroid idiom — Gram sums are
signed) → two unrolled matvec+renormalize rounds → 64 rows of the
1e3-scaled eigenvector estimate plus a Rayleigh-quotient eigenvalue
estimate (IEEE, last).

Overflow budget (int64 max ≈ 9.2e18): `_ivec` admits components
|x| < 90, so |x_fp| < 9e7 and one product |x_i·x_j| < 8.1e15. A
vec_id carried by k rows enters as its row sum (|s| < k·9e7), so
|G| < Σ_vec k²·8.1e15, which fits int64 only while Σ_vec k² < ~1,100
(sf0.1 has 5e3 vectors). Embedding components are unit-scale in
practice (|x_fp| ≲ 1e6 ⇒ |G| ≲ Σ_vec k²·1e12, 5e15 at sf0.1), so
the bound is enforced rather than assumed: the numpy gemm checks a
float64 |X|ᵀ|X| bound before each int64 product and raises, and
every Spark-side BIGINT sum and product is ANSI arithmetic, which
raises on overflow instead of wrapping. G' = G div 1e6 < 9.2e12 and
|v| ≤ 1e3, so a matvec row stays under 64·9.2e12·1e3 ≈ 5.9e17.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load
from metoffice_spark.operators.llm import _ivec_duck, _ivec_spark
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}

_PCA_ROUNDS = 2
# element-wise sum of one vec_id's fixed-point vectors (ANSI BIGINT
# addition: overflow raises)
_VSUM_SPARK = (
    "aggregate(collect_list(v), array_repeat(cast(0 as bigint), 64),"
    " (acc, x) -> zip_with(acc, x, (a, b) -> a + b))"
)
# sign-split truncating division: |num| // den is non-negative (the
# engines agree), sign reapplied == truncate-toward-zero == Spark div.
def _tdiv_spark(num: str, den: str) -> str:
    return f"if({num} < 0, -((-({num})) div ({den})), ({num}) div ({den}))"


def _tdiv_duck(num: str, den: str) -> str:
    return (
        f"CASE WHEN {num} < 0 THEN -((-({num})) // ({den}))"
        f" ELSE ({num}) // ({den}) END"
    )


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per dimension: the 1e3-scaled dominant-eigenvector estimate
    after two exact power-iteration rounds, with the IEEE Rayleigh
    eigenvalue estimate repeated on every row."""
    # Unembedded (NULL) and quarantined (_ivec → NULL) vectors do not
    # participate in the Gram matrix; the oracle's xs relation yields
    # NULL cells for them, which its sums skip.
    #
    # The oracle pairs rows by `xs a JOIN xs b USING (vec_id)`, so a
    # vec_id carried by k rows contributes every cross pair:
    # G = Σ_vec (Σ_r x_r)(Σ_s x_s)ᵀ, and a NULL vec_id contributes
    # nothing. Rows are therefore summed per vec_id first (one shuffle;
    # each group holds one vec_id's duplicate rows), and each task then
    # stacks its per-vec_id sums into one int64 matrix and runs ONE
    # exact X^T·X gemm, emitting 64×64 partial rows; one global
    # aggregate sums the partials. An explode self-join would fan
    # sf0.1's 320k exploded rows out to 20.5M (row, pair) products.
    vecs = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & F.col("vec_id").isNotNull())
        .select("vec_id", F.expr(_ivec_spark("embedding")).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("vec_id")
        .agg(F.expr(_VSUM_SPARK).alias("v"))
        .select("v")
    )

    def _gram_partials(it):
        import numpy as np
        import pandas as pd

        acc = np.zeros((64, 64), dtype=np.int64)
        any_rows = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["v"].tolist(), dtype=np.int64)
            # int64 matmul wraps silently; |X|ᵀ|X| in float64 bounds
            # every partial sum, so check it before trusting the gemm
            ax = np.abs(x).astype(np.float64)
            if (ax.T @ ax).max(initial=0.0) + np.abs(acc).max() >= 2.0**62:
                raise OverflowError("q_pca_power: Gram partial exceeds int64")
            acc += x.T @ x
            any_rows = True
        if any_rows:
            gi, gj = np.meshgrid(
                np.arange(64, dtype=np.int32),
                np.arange(64, dtype=np.int32),
                indexing="ij",
            )
            yield pd.DataFrame(
                {"gi": gi.ravel(), "gj": gj.ravel(), "g": acc.ravel()}
            )

    gram = (
        vecs.mapInPandas(_gram_partials, "gi int, gj int, g long")
        .groupBy("gi", "gj")
        .agg(F.sum("g").cast("bigint").alias("g"))
        .select(
            "gi", "gj", F.expr(_tdiv_spark("g", "1000000")).alias("gs")
        )
    )
    v = spark.range(64).select(
        F.col("id").cast("int").alias("j"), F.lit(1000).cast("bigint").alias("vj")
    )
    for _ in range(_PCA_ROUNDS):
        u = (
            gram.join(F.broadcast(v), gram["gj"] == v["j"])
            .groupBy(F.col("gi").alias("dim"))
            .agg(F.sum(F.expr("gs * vj")).cast("bigint").alias("u"))
        )
        mx = u.agg(F.max(F.abs(F.col("u"))).alias("mx"))
        v = (
            u.crossJoin(F.broadcast(mx))
            .select(
                F.col("dim").alias("j"),
                F.expr(_tdiv_spark("1000 * u", "greatest(mx, 1)"))
                .cast("bigint")
                .alias("vj"),
            )
        )
    # Rayleigh quotient lambda ~ (v.Gv)/(v.v) over the final v: exact
    # integer dot products, one IEEE divide last. Gv reuses the same
    # matvec; the 1e6 Gram downscale is undone in the estimate.
    gv = (
        gram.join(F.broadcast(v), gram["gj"] == v["j"])
        .groupBy(F.col("gi").alias("dim"))
        .agg(F.sum(F.expr("gs * vj")).cast("bigint").alias("gv"))
    )
    rayleigh = (
        gv.join(F.broadcast(v), gv["dim"] == v["j"])
        .agg(
            F.sum(F.expr("gv * vj")).cast("bigint").alias("num"),
            F.sum(F.expr("vj * vj")).cast("bigint").alias("den"),
        )
        .select(
            F.expr(
                "cast(num as double) * 1000000e0 / cast(greatest(den, 1) as double)"
            ).alias("eigval_est")
        )
    )
    return (
        v.select(F.col("j").alias("dim"), F.col("vj").alias("v_fp"))
        .crossJoin(F.broadcast(rayleigh))
    )


_XS_DUCK = f"""
xs AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS i, v[i] AS xi
  FROM (SELECT vec_id, {_ivec_duck('embedding')} AS v FROM embeddings
        WHERE embedding IS NOT NULL),
       unnest(range(1, 65)) AS t(i)
)
"""


def _pca_oracle() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(
            f"""u{r} AS (
  SELECT g.gi AS dim, CAST(sum(g.gs * p.vj) AS BIGINT) AS u
  FROM gram g JOIN {prev} p ON g.gj = p.j GROUP BY g.gi
),
v{r} AS (
  SELECT dim AS j,
         CAST({_tdiv_duck('1000 * u', '(SELECT greatest(max(abs(u)), 1) FROM u' + str(r) + ')')} AS BIGINT) AS vj
  FROM u{r}
)"""
        )
        prev = f"v{r}"
    body = ",\n".join(rounds)
    return f"""
WITH {_XS_DUCK.strip()},
gram AS (
  SELECT a.i AS gi, b.i AS gj,
         {_tdiv_duck('CAST(sum(a.xi * b.xi) AS BIGINT)', '1000000')} AS gs
  FROM xs a JOIN xs b USING (vec_id)
  GROUP BY a.i, b.i
),
v0 AS (
  SELECT CAST(unnest(range(64)) AS INT) AS j, CAST(1000 AS BIGINT) AS vj
),
{body},
gv AS (
  SELECT g.gi AS dim, CAST(sum(g.gs * p.vj) AS BIGINT) AS gv
  FROM gram g JOIN {prev} p ON g.gj = p.j GROUP BY g.gi
),
ray AS (
  SELECT cast(CAST(sum(gv.gv * p.vj) AS BIGINT) as double) * 1000000e0
           / cast(greatest(CAST(sum(p.vj * p.vj) AS BIGINT), 1) as double)
           AS eigval_est
  FROM gv JOIN {prev} p ON gv.dim = p.j
)
SELECT p.j AS dim, p.vj AS v_fp, r.eigval_est
FROM {prev} p CROSS JOIN ray r
"""


QUERIES["q_pca_power"] = (q_pca_power, _pca_oracle())


# --- q_knn_classify: k-nearest-neighbor label prediction ----------------------
#
# The kNN classifier over the embedding corpus with leave-one-out
# evaluation on a deterministic query sample (vec_id % 25 == 0):
# each query's 5 nearest neighbors (exact integer cosine, excluding
# itself) vote on its label; majority with (votes DESC, label ASC)
# tie-break. Output per query: predicted vs actual label and the
# top-1 neighbor — the classifier eval that tells a curation team
# whether embedding space separates their taxonomy.
#
# Scale: the query side is a small deterministic sample broadcast
# against the corpus (the q_sim_search shape); at 100 TB the
# candidate generation swaps to the IVF/LSH/PQ paths — same voting
# plan on top. Cosine parity via the fixed-point DOT/NORM2 helpers;
# one IEEE divide per (query, candidate), ranks totally tie-broken.

from metoffice_spark.operators.llm import (  # noqa: E402
    DOT_DUCK,
    DOT_SPARK,
    NORM2_DUCK,
    NORM2_SPARK,
)

_KNN_K = 5


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sampled query vector: actual label, kNN-majority predicted
    label, winning vote count, and the nearest neighbor id."""
    # kept: the plain plan ran 1.15x slower (A/B: 5 pairs, sf0.1)
    emb = scoped_persist(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.expr(_ivec_spark("embedding")).alias("v")
        )
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("actual_label"),
        F.col("v").alias("qv"),
    )
    dot = DOT_SPARK.format(a="qv", b="v")
    n2q = NORM2_SPARK.format(v="qv")
    n2c = NORM2_SPARK.format(v="v")
    scored = (
        F.broadcast(qs)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "actual_label",
            "vec_id",
            "label",
            F.expr(
                f"cast({dot} as double) / (sqrt(cast({n2q} as double))"
                f" * sqrt(cast({n2c} as double)))"
            ).alias("cos"),
        )
    )
    w_nn = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    topk = scored.withColumn("rn", F.row_number().over(w_nn)).filter(
        F.col("rn") <= _KNN_K
    )
    votes = topk.groupBy("q_id", "actual_label", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes"),
    )
    w_vote = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    pred = votes.withColumn("vr", F.row_number().over(w_vote)).filter(
        F.col("vr") == 1
    )
    nn1 = topk.filter(F.col("rn") == 1).select(
        F.col("q_id").alias("q2"), F.col("vec_id").alias("nn_vec_id")
    )
    return pred.join(F.broadcast(nn1), pred["q_id"] == nn1["q2"]).select(
        "q_id",
        "actual_label",
        F.col("label").alias("pred_label"),
        "n_votes",
        "nn_vec_id",
    )


ORACLE_KNN_CLASSIFY = f"""
WITH emb AS (
  SELECT vec_id, label, {_ivec_duck('embedding')} AS v FROM embeddings
),
qs AS (
  SELECT vec_id AS q_id, label AS actual_label, v AS qv
  FROM emb WHERE vec_id % 25 = 0
),
scored AS (
  SELECT q.q_id, q.actual_label, e.vec_id, e.label,
         CAST({DOT_DUCK.format(a='q.qv', b='e.v')} AS DOUBLE)
           / (sqrt(CAST({NORM2_DUCK.format(v='q.qv')} AS DOUBLE))
              * sqrt(CAST({NORM2_DUCK.format(v='e.v')} AS DOUBLE))) AS cos
  FROM qs q JOIN emb e ON e.vec_id <> q.q_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, vec_id) AS rn
    FROM scored) WHERE rn <= {_KNN_K}
),
votes AS (
  SELECT q_id, actual_label, label, CAST(count(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY q_id, actual_label, label
),
pred AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY n_votes DESC, label ASC) AS vr
    FROM votes) WHERE vr = 1
),
nn1 AS (
  SELECT q_id, vec_id AS nn_vec_id FROM topk WHERE rn = 1
)
SELECT p.q_id, p.actual_label, p.label AS pred_label, p.n_votes, n.nn_vec_id
FROM pred p JOIN nn1 n USING (q_id)
"""

QUERIES["q_knn_classify"] = (q_knn_classify, ORACLE_KNN_CLASSIFY)


# --- q_random_projection: Johnson-Lindenstrauss sign projection ---------------
#
# Dimensionality-reduction featurization: project the 64-dim
# embeddings onto _RP_K dimensions with a deterministic ±1 sign
# matrix (md5-derived per (j, pos) — the house hash-family idiom), in
# exact 1e-6 fixed point. The JL audit column compares the projected
# mean-square norm against the original: E[Σp²/k] = Σv², so the
# ratio concentrates near 1 — emitted as the one final IEEE division.
#
# Scale: the sign matrix is k×64 rows built from a range() relation
# and BROADCAST onto the exploded (vec, pos, x) stream; the projection
# is one (vec_id)-keyed aggregate with map-side combine. No Python,
# no d×k literal in the plan.

_RP_K = 4


def _rp_sign(j: str, pos: str) -> str:
    # ±1 from the low bit of the first md5 nibble of (j, pos) — valid
    # in both dialects.
    return (
        f"CASE WHEN (instr('0123456789abcdef', substring(md5(concat('RP', "
        f"CAST({j} AS STRING), '|', CAST({pos} AS STRING))), 1, 1)) - 1) % 2 = 0 "
        f"THEN 1 ELSE -1 END"
    )


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per vector: the _RP_K sign-projected coordinates (1e-6 fixed
    point) and the JL norm-preservation ratio."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_ivec_spark("embedding")).alias("v")
    )
    exploded = emb.select(
        "vec_id",
        F.expr(NORM2_SPARK.format(v="v")).alias("n2v"),
        F.posexplode("v").alias("pos", "x"),
    )
    signs = spark.range(64).select(
        F.col("id").cast("int").alias("pos"),
        *[
            F.expr(_rp_sign(str(j), "id")).cast("bigint").alias(f"s{j}")
            for j in range(_RP_K)
        ],
    )
    proj = (
        exploded.join(F.broadcast(signs), "pos")
        .groupBy("vec_id", "n2v")
        .agg(
            *[
                F.sum(F.expr(f"x * s{j}")).cast("bigint").alias(f"p{j}")
                for j in range(_RP_K)
            ]
        )
    )
    p2 = " + ".join(f"p{j} * p{j}" for j in range(_RP_K))
    return proj.select(
        "vec_id",
        *[f"p{j}" for j in range(_RP_K)],
        F.expr(
            f"(cast({p2} as double) / {_RP_K}e0) / cast(n2v as double)"
        ).alias("norm_ratio"),
    )


def _rp_oracle() -> str:
    sign_cols = ",\n         ".join(
        f"CAST({_rp_sign(str(j), 'range')} AS BIGINT) AS s{j}"
        for j in range(_RP_K)
    )
    psums = ",\n         ".join(
        f"CAST(sum(x * s{j}) AS BIGINT) AS p{j}" for j in range(_RP_K)
    )
    p2 = " + ".join(f"p{j} * p{j}" for j in range(_RP_K))
    return f"""
WITH emb AS (
  SELECT vec_id, {_ivec_duck('embedding')} AS v FROM embeddings
),
exploded AS (
  SELECT vec_id, {NORM2_DUCK.format(v='v')} AS n2v,
         unnest(range(1, len(v) + 1)) - 1 AS pos, unnest(v) AS x
  FROM emb
),
signs AS (
  SELECT CAST(range AS INT) AS pos,
         {sign_cols}
  FROM range(64)
),
proj AS (
  SELECT vec_id, n2v,
         {psums}
  FROM exploded e JOIN signs s ON e.pos = s.pos
  GROUP BY vec_id, n2v
)
SELECT vec_id, {", ".join(f"p{j}" for j in range(_RP_K))},
       (CAST({p2} AS DOUBLE) / {_RP_K}e0) / CAST(n2v AS DOUBLE) AS norm_ratio
FROM proj
"""


QUERIES["q_random_projection"] = (q_random_projection, _rp_oracle())
