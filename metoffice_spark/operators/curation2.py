"""Round-5i curation additions (SURVEY.md §2.27): the quality-gate
ensemble, contrastive hard-negative mining, and T5-style span
corruption — the three remaining steps of a pretraining data factory
this engine had not yet covered end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_quality_ensemble: the combined keep/drop gate --------------------------
#
# Real curation pipelines drop a document when ANY configured filter
# fires; this operator composes the three house quality signals —
# q_quality_gopher's repetition verdict, q_quality_classifier's
# hashed-feature score sign, and q_text_readability's Flesch floor —
# into one verdict with a first-failure reason code. The Spark side
# reuses the three builders verbatim; the oracle nests the three
# oracle texts as derived tables, so the ensemble stays
# bitwise-checkable without duplicating any filter logic.
#
# Scale: three doc_id-keyed joins of per-doc aggregates — each input
# is one row per document, so the ensemble adds no new wide shuffle.

_ENS_FLESCH_MIN = 50.0


def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: the three filter flags, the combined verdict,
    and the first-failure reason code."""
    from metoffice_spark.operators.classify import q_quality_classifier
    from metoffice_spark.operators.pipeline import q_quality_gopher
    from metoffice_spark.operators.stats import q_text_readability

    g = q_quality_gopher(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    c = q_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("clf_keep")
    )
    r = q_text_readability(spark, sf_dir).select(
        "doc_id", (F.col("flesch") >= F.lit(_ENS_FLESCH_MIN)).alias("read_keep")
    )
    ens = (
        g.join(c, "doc_id", "left")
        .join(r, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("gopher_keep", F.lit(False)).alias("gopher_keep"),
            F.coalesce("clf_keep", F.lit(False)).alias("clf_keep"),
            F.coalesce("read_keep", F.lit(False)).alias("read_keep"),
        )
    )
    return ens.select(
        "doc_id",
        "gopher_keep",
        "clf_keep",
        "read_keep",
        (F.col("gopher_keep") & F.col("clf_keep") & F.col("read_keep")).alias(
            "keep"
        ),
        F.expr(
            "CASE WHEN NOT gopher_keep THEN 'gopher'"
            " WHEN NOT clf_keep THEN 'classifier'"
            " WHEN NOT read_keep THEN 'readability'"
            " ELSE 'ok' END"
        ).alias("reason"),
    )


def _ensemble_oracle() -> str:
    from metoffice_spark.operators.classify import ORACLE_QUALITY_CLASSIFIER
    from metoffice_spark.operators.pipeline import ORACLE_QUALITY_GOPHER
    from metoffice_spark.operators.stats import _readability_oracle

    return f"""
WITH ens AS (
  SELECT g.doc_id,
         coalesce(g.keep, false) AS gopher_keep,
         coalesce(c.keep, false) AS clf_keep,
         coalesce(r.flesch >= {_ENS_FLESCH_MIN}, false) AS read_keep
  FROM ({ORACLE_QUALITY_GOPHER}) g
  LEFT JOIN ({ORACLE_QUALITY_CLASSIFIER}) c ON c.doc_id = g.doc_id
  LEFT JOIN ({_readability_oracle()}) r ON r.doc_id = g.doc_id
)
SELECT doc_id, gopher_keep, clf_keep, read_keep,
       gopher_keep AND clf_keep AND read_keep AS keep,
       CASE WHEN NOT gopher_keep THEN 'gopher'
            WHEN NOT clf_keep THEN 'classifier'
            WHEN NOT read_keep THEN 'readability'
            ELSE 'ok' END AS reason
FROM ens
"""


QUERIES["q_quality_ensemble"] = (q_quality_ensemble, _ensemble_oracle())


# --- q_hard_negatives: contrastive hard-negative mining -----------------------
#
# For each sampled anchor vector, the top-_HN_K most-similar vectors
# with a DIFFERENT label — the hard negatives a contrastive trainer
# pairs against in-label positives (q_negative_sample draws uniform
# negatives; these are the hard ones). Exact-integer dot/norm with
# one IEEE cosine last (the q_knn_classify discipline); the sampled
# anchor set broadcasts, so the corpus is scanned once map-only and
# the only shuffle is the per-anchor top-k window.
#
# Scale: brute force over (anchors × corpus) is the EXACT form the
# oracle can check; at 100 TB the same output comes from probing the
# IVF/PQ indexes (q_sim_search_ivf / q_ann_pq) with a label-exclusion
# residual — documented swap, identical output contract.

_HN_K = 3


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sampled anchor: rank, hard-negative vec_id/label, cosine."""
    from metoffice_spark.operators.llm import (
        DOT_SPARK,
        NORM2_SPARK,
        _ivec_spark,
    )

    emb = (
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.expr(_ivec_spark("embedding")).alias("v")
        )
    )
    qs = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    dot = DOT_SPARK.format(a="qv", b="v")
    n2q = NORM2_SPARK.format(v="qv")
    n2c = NORM2_SPARK.format(v="v")
    scored = (
        F.broadcast(qs)
        .crossJoin(emb)
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            F.expr(
                f"cast({dot} as double) / (sqrt(cast({n2q} as double))"
                f" * sqrt(cast({n2c} as double)))"
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HN_K)
        .select(
            "q_id",
            "q_label",
            F.col("rn").cast("int").alias("rnk"),
            F.col("vec_id").alias("neg_vec_id"),
            F.col("label").alias("neg_label"),
            "cos",
        )
    )


def _hn_oracle() -> str:
    from metoffice_spark.operators.llm import DOT_DUCK, NORM2_DUCK, _ivec_duck

    dot = DOT_DUCK.format(a="q.qv", b="e.v")
    n2q = NORM2_DUCK.format(v="q.qv")
    n2c = NORM2_DUCK.format(v="e.v")
    return f"""
WITH emb AS (
  SELECT vec_id, label, {_ivec_duck('embedding')} AS v FROM embeddings
),
qs AS (
  SELECT vec_id AS q_id, label AS q_label, v AS qv
  FROM emb WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label,
         CAST({dot} AS DOUBLE) / (sqrt(CAST({n2q} AS DOUBLE))
           * sqrt(CAST({n2c} AS DOUBLE))) AS cos
  FROM qs q CROSS JOIN emb e
  WHERE e.label <> q.q_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, vec_id) AS rn
  FROM scored
)
SELECT q_id, q_label, CAST(rn AS INT) AS rnk, vec_id AS neg_vec_id,
       label AS neg_label, cos
FROM ranked WHERE rn <= {_HN_K}
"""


QUERIES["q_hard_negatives"] = (q_hard_negatives, _hn_oracle())


# --- q_span_corruption: T5-style denoising objective prep ---------------------
#
# Per sampled document: mask ~25% of 5-token blocks (block chosen by
# the md5 parity of (doc_id, block) — deterministic, no RNG), emit
# the input with one '<extra_id_N>' sentinel per masked block and the
# target holding the sentinels plus the masked tokens — the exact
# text-to-text denoising pair a T5/UL2 pipeline materializes.
#
# Scale: explode → block-level flags → two ordered string aggregates
# bounded by doc_id partitions; bodies shuffle once as (doc, pos,
# token) rows. Sampled (doc_id % 7) to keep the driver result
# row-bounded; the full-corpus form drops the filter.

_SC_BLOCK = 5


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sampled doc: token counts, mask counts, and the
    (input_text, target_text) denoising pair."""
    from metoffice_spark.operators.llm import TOKS_SPARK

    docs = load(spark, sf_dir, "documents").filter("doc_id % 7 = 0")
    # kept: the plain plan ran 1.25x slower (A/B: 5 pairs, sf0.1)
    toks = scoped_persist(
        docs.select(
            "doc_id", F.posexplode(F.expr(TOKS_SPARK)).alias("pos", "tok")
        ).select(
            "doc_id",
            "pos",
            "tok",
            F.expr(f"cast(pos div {_SC_BLOCK} as int)").alias("blk"),
            F.expr(
                f"(instr('0123456789abcdef', substring(md5(concat('SC|', "
                f"cast(doc_id as string), '|', cast(pos div {_SC_BLOCK}"
                f" as string))), 1, 1)) - 1) < 4"
            ).alias("corrupt"),
        )
    )
    blocks = toks.groupBy("doc_id", "blk", "corrupt").agg(
        F.min("pos").alias("minpos")
    )
    w_sent = Window.partitionBy("doc_id").orderBy("blk")
    sentinels = (
        blocks.filter("corrupt")
        .withColumn("sent_idx", F.row_number().over(w_sent) - 1)
        .select(
            "doc_id",
            "blk",
            "minpos",
            F.concat(F.lit("<extra_id_"), F.col("sent_idx"), F.lit(">")).alias(
                "sentinel"
            ),
        )
    )
    marked = toks.join(sentinels, ["doc_id", "blk"], "left")
    inp = F.expr(
        "CASE WHEN NOT corrupt THEN tok"
        " WHEN pos = minpos THEN sentinel END"
    )
    tgt = F.expr(
        "CASE WHEN corrupt AND pos = minpos THEN concat(sentinel, ' ', tok)"
        " WHEN corrupt THEN tok END"
    )
    pieces = marked.select(
        "doc_id", "pos", "corrupt", inp.alias("i_str"), tgt.alias("t_str")
    )
    joined = (
        "array_join(transform(array_sort(collect_list(struct(pos, s)))"
        ", x -> x.s), ' ')"
    )
    return pieces.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.expr("cast(corrupt as int)")).cast("bigint").alias("n_masked"),
        F.expr(
            joined.replace(
                "collect_list(struct(pos, s))",
                "collect_list(CASE WHEN i_str IS NOT NULL"
                " THEN struct(pos, i_str AS s) END)",
            )
        ).alias("input_text"),
        F.expr(
            joined.replace(
                "collect_list(struct(pos, s))",
                "collect_list(CASE WHEN t_str IS NOT NULL"
                " THEN struct(pos, t_str AS s) END)",
            )
        ).alias("target_text"),
    )


def _sc_oracle() -> str:
    from metoffice_spark.operators.llm import TOKS_DUCK

    return f"""
WITH toks AS (
  SELECT doc_id, pos, tok,
         CAST((pos - 1) // {_SC_BLOCK} AS INT) AS blk,
         (instr('0123456789abcdef', substring(md5('SC|'
            || CAST(doc_id AS VARCHAR) || '|'
            || CAST((pos - 1) // {_SC_BLOCK} AS VARCHAR)), 1, 1)) - 1) < 4
           AS corrupt
  FROM (
    SELECT doc_id, unnest({TOKS_DUCK}) AS tok,
           unnest(range(1, len({TOKS_DUCK}) + 1)) AS pos
    FROM documents WHERE doc_id % 7 = 0)
),
blocks AS (
  SELECT doc_id, blk, corrupt, min(pos) AS minpos
  FROM toks GROUP BY doc_id, blk, corrupt
),
sentinels AS (
  SELECT doc_id, blk, minpos,
         '<extra_id_' || CAST(row_number() OVER (PARTITION BY doc_id
                              ORDER BY blk) - 1 AS VARCHAR) || '>' AS sentinel
  FROM blocks WHERE corrupt
),
marked AS (
  SELECT t.doc_id, t.pos, t.tok, t.corrupt, s.minpos, s.sentinel
  FROM toks t LEFT JOIN sentinels s ON s.doc_id = t.doc_id AND s.blk = t.blk
),
pieces AS (
  SELECT doc_id, pos, corrupt,
         CASE WHEN NOT corrupt THEN tok
              WHEN pos = minpos THEN sentinel END AS i_str,
         CASE WHEN corrupt AND pos = minpos THEN sentinel || ' ' || tok
              WHEN corrupt THEN tok END AS t_str
  FROM marked
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       coalesce(string_agg(i_str, ' ' ORDER BY pos), '') AS input_text,
       coalesce(string_agg(t_str, ' ' ORDER BY pos), '') AS target_text
FROM pieces GROUP BY doc_id
"""


QUERIES["q_span_corruption"] = (q_span_corruption, _sc_oracle())
