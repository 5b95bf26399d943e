"""Corpus-statistics + retrieval-fusion operators (SURVEY.md §2.16).

Pure EXT — the round-4b wave: the remaining quality / retrieval
signals a large-scale training-data pipeline runs over a web corpus
that the earlier waves did not cover:

- bigram language-model scoring (the classic perplexity-proxy quality
  filter: score each document under a corpus-trained smoothed bigram
  model — the distributed analog of a KenLM pass);
- n-gram repetition scoring (the Gopher "repetition" family: fraction
  of duplicated 3-grams per document);
- reciprocal-rank fusion of two retrieval rankers (RRF, the standard
  way hybrid search merges BM25-ish and structural rankings);
- semantic dedup against per-cluster centroids (the SemDeDup idea:
  within an embedding cluster, keep one representative and flag
  vectors whose cosine to the centroid exceeds a threshold).

Determinism follows the repo discipline (llm.py header): counts and
fixed-point quantities are exact BIGINTs, ln/IEEE divides happen last
on exact integer inputs with the identical expression in both
engines, ranking windows carry total tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.functions.distributed import global_row_number
from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.llm import (
    DOT_DUCK,
    DOT_SPARK,
    NORM2_DUCK,
    NORM2_SPARK,
    TOKS_DUCK,
    TOKS_SPARK,
    _ivec_duck,
    _ivec_spark,
)
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_lm_bigram_score: smoothed bigram LM scoring ---------------------------
#
# Train a Laplace-smoothed bigram model on the corpus itself, then
# score every document by its average negative log-probability — the
# cheap distributed stand-in for the "perplexity under a reference LM"
# quality filter (CCNet / RefinedWeb). With c12 = corpus count of the
# bigram, c1 = corpus count of its first token, V = vocabulary size:
#
#   -ln p(w2|w1) = ln((c1 + V) / (c12 + 1))
#
# computed as floor-1e6-ln fixed point (the BM25 pattern: ln of a
# quotient of exact integers, floored to 6 digits, summed exactly).
# The argument is > 1 whenever c12 <= c1 + V - 1 (always), so the
# fixed-point term is non-negative and the sum cannot straddle the
# Spark-div(truncate) vs DuckDB-//(floor) split.
#
# Scale: bigram instances aggregate per (doc, bigram) first (map-side
# combine), corpus stats are a second-level aggregate of those
# partials, and scoring is one equi-join on the bigram key — the model
# "table" shuffles as (bigram, count) pairs, never document bodies.
# V and the doc count are setup scalars (llm.py discipline).


def _bigrams_spark(col: str = "toks") -> str:
    # r13 optimization round: takes a MATERIALIZED token-array column.
    # transform() lambdas are interpreted per element, so inlining
    # TOKS_SPARK here re-ran split+filter over the whole document for
    # every bigram index — O(tokens²) per document (the
    # q_repetition_ngram finding: 13 s → 1.1 s once tokenized once).
    return (
        f"case when size({col}) < 2 then array()"
        f" else transform(sequence(1, size({col}) - 1),"
        f" i -> concat_ws(' ', {col}[i - 1], {col}[i])) end"
    )


_BIGRAMS_DUCK = (
    f"list_transform(range(1, greatest(len({TOKS_DUCK}), 1)),"
    f" i -> ({TOKS_DUCK})[i] || ' ' || ({TOKS_DUCK})[i + 1])"
)


def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: bigram count and average negative log-prob under
    the corpus-trained Laplace bigram model, in 1e-6 fixed point.

    Docs with < 2 tokens have no bigrams and are excluded (the model
    assigns them no probability), identically in both engines."""
    docs = load(spark, sf_dir, "documents")
    # per-(doc, bigram) counts: the partial-aggregated substrate both
    # the model AND the scoring pass derive from (one tokenize).
    # kept: exchanges 7 -> 9 without it (A/B: 5 pairs, sf0.1)
    db = scoped_persist(
        docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .select("doc_id", F.explode(F.expr(_bigrams_spark())).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # corpus model: c12 per bigram; c1 per first token; V distinct toks
    c12 = db.groupBy("bg").agg(F.sum("n").cast("bigint").alias("c12"))
    # kept: exchanges 7 -> 9 without it (A/B: 5 pairs, sf0.1)
    uni = scoped_persist(
        docs.select(F.explode(F.expr(TOKS_SPARK)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    )
    v_size = uni.count()  # setup scalar, inlined as a literal

    model = c12.withColumn("w1", F.expr("split(bg, ' ')[0]")).join(
        uni.withColumnRenamed("t", "w1"), "w1"
    )
    scored = db.join(model.select("bg", "c12", "c1"), "bg").withColumn(
        "nll_fp",
        F.expr(
            f"n * cast(floor(1000000.0 * ln((c1 + {v_size}.0) / (c12 + 1.0)))"
            " as bigint)"
        ),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.sum("nll_fp").cast("bigint").alias("nll_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_fp",
            F.expr("nll_fp div n_bigrams").cast("bigint").alias("avg_nll_fp"),
        )
    )


ORACLE_LM_BIGRAM = f"""
WITH db AS (
  SELECT doc_id, bg, count(*) AS n
  FROM (SELECT doc_id, unnest({_BIGRAMS_DUCK}) AS bg FROM documents)
  GROUP BY doc_id, bg
),
c12 AS (SELECT bg, CAST(sum(n) AS BIGINT) AS c12 FROM db GROUP BY bg),
uni AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest({TOKS_DUCK}) AS t FROM documents)
  GROUP BY t
),
v AS (SELECT count(*) AS v_size FROM uni),
model AS (
  SELECT c12.bg, c12.c12, uni.c1
  FROM c12 JOIN uni ON string_split(c12.bg, ' ')[1] = uni.t
),
scored AS (
  SELECT db.doc_id, db.n,
         db.n * CAST(floor(1000000.0 * ln(
           (m.c1 + (SELECT v_size FROM v) * 1.0) / (m.c12 + 1.0)))
           AS BIGINT) AS nll_fp
  FROM db JOIN model m ON db.bg = m.bg
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_bigrams,
       CAST(sum(nll_fp) AS BIGINT) AS nll_fp,
       CAST(sum(nll_fp) // sum(n) AS BIGINT) AS avg_nll_fp
FROM scored
GROUP BY doc_id
"""

QUERIES["q_lm_bigram_score"] = (q_lm_bigram_score, ORACLE_LM_BIGRAM)


# --- q_repetition_ngram: duplicated-3-gram repetition score ------------------
#
# The Gopher repetition family: a document whose 3-grams repeat a lot
# is template/spam-like. Per document: total 3-gram instances,
# distinct 3-grams, the duplicated fraction in 1e-6 fixed point, and
# the count of the single most repeated 3-gram.
#
# Scale: explode → per-(doc, gram) count (map-side combine) → per-doc
# aggregate; the shuffle key is (doc_id, gram-string); nothing is
# corpus-global, so the operator is embarrassingly parallel per doc.

# On a materialized `toks` column — see _bigrams_spark for why the
# tokenizer must never be inlined into the transform() lambda.
_REP_GRAMS_SPARK = (
    "case when size(toks) < 3 then array()"
    " else transform(sequence(1, size(toks) - 2),"
    " i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1])) end"
)

_REP_GRAMS_DUCK = (
    f"list_transform(range(1, greatest(len({TOKS_DUCK}) - 1, 1)),"
    f" i -> ({TOKS_DUCK})[i] || ' ' || ({TOKS_DUCK})[i + 1]"
    f" || ' ' || ({TOKS_DUCK})[i + 2])"
)


def q_repetition_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document (with >= 1 3-gram): instances, distinct grams,
    duplicated fraction (1e-6 fixed point), max single-gram count."""
    docs = load(spark, sf_dir, "documents")
    per_gram = (
        docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .select("doc_id", F.explode(F.expr(_REP_GRAMS_SPARK)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_gram.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.expr("(1000000 * (sum(n) - count(1))) div sum(n)")
        .cast("bigint")
        .alias("dup_frac_fp"),
        F.max("n").cast("bigint").alias("top_gram_count"),
    )


ORACLE_REPETITION = f"""
WITH per_gram AS (
  SELECT doc_id, g, count(*) AS n
  FROM (SELECT doc_id, unnest({_REP_GRAMS_DUCK}) AS g FROM documents)
  GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST((1000000 * (sum(n) - count(*))) // sum(n) AS BIGINT) AS dup_frac_fp,
       CAST(max(n) AS BIGINT) AS top_gram_count
FROM per_gram
GROUP BY doc_id
"""

QUERIES["q_repetition_ngram"] = (q_repetition_ngram, ORACLE_REPETITION)


# --- q_rank_rrf_fusion: reciprocal-rank fusion of two rankers ----------------
#
# Hybrid retrieval's standard merge: two independent rankings of the
# matched set are fused by RRF(d) = Σ_r 1/(K + rank_r(d)), K = 60.
# Fixed point: 1000000 div (60 + rank) per ranker, summed exactly.
# Ranker A = total query-term frequency (desc); ranker B = matched
# term count desc, then document length asc (short matching docs
# first) — deliberately different orderings so the fusion is
# non-trivial. Both carry doc_id as the final tie-break, so every
# rank is total and engine-independent.
#
# Scale: only docs matching >= 1 query term are ranked (the candidate
# set, bounded by the posting lists of 3 terms), so the global ranking
# windows sort candidates, not the corpus; the query-term table (3
# rows) broadcasts. The corpus-wide frequency ranking reuses the BM25
# pattern (one partial-aggregated term count).

_RRF_RANKS = (4, 8, 12)  # query = corpus frequency ranks 4/8/12
_RRF_K = 60
_RRF_TOPK = 10


def q_rank_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by reciprocal-rank fusion of the tf ranking
    and the (match count, shortness) ranking; exact-integer scores."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("t"))
    # every full ranking below is a distributed global_row_number —
    # the term vocabulary and the candidate set both grow with the
    # corpus, so none may funnel through a single-task window; the
    # final top-10 is a TakeOrderedAndProject (distributed top-k),
    # with the rank assigned over the bounded 10-row result
    freq_rank = global_row_number(
        toks.groupBy("t").agg(F.count(F.lit(1)).alias("freq")),
        [F.desc("freq"), F.asc("t")],
        out="rnk",
    )
    qterms = freq_rank.filter(F.col("rnk").isin(*_RRF_RANKS)).select("t")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    cand = (
        toks.join(F.broadcast(qterms), "t")
        .groupBy("doc_id")
        .agg(
            F.sum(F.lit(1)).cast("bigint").alias("tf_total"),
            F.count_distinct("t").cast("int").alias("n_terms"),
        )
        .join(dl, "doc_id")
    )
    ranked = global_row_number(
        global_row_number(
            cand, [F.desc("tf_total"), F.asc("doc_id")], out="rank_a"
        ),
        [F.desc("n_terms"), F.asc("dl"), F.asc("doc_id")],
        out="rank_b",
    )
    fused = ranked.withColumn(
        "rrf_fp",
        F.expr(
            f"1000000 div ({_RRF_K} + rank_a) + 1000000 div ({_RRF_K} + rank_b)"
        ).cast("bigint"),
    )
    top = fused.orderBy(F.desc("rrf_fp"), F.asc("doc_id")).limit(_RRF_TOPK)
    w_f = Window.orderBy(F.desc("rrf_fp"), F.asc("doc_id"))  # 10-row input
    return top.withColumn("rnk", F.row_number().over(w_f).cast("int")).select(
        "rnk",
        "doc_id",
        "rrf_fp",
        F.col("rank_a").cast("int").alias("rank_a"),
        F.col("rank_b").cast("int").alias("rank_b"),
    )


def _rrf_oracle() -> str:
    ranks = ", ".join(str(r) for r in _RRF_RANKS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_DUCK}) AS t FROM documents
),
freq_rank AS (
  SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS rnk
  FROM toks GROUP BY t
),
qterms AS (SELECT t FROM freq_rank WHERE rnk IN ({ranks})),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
cand AS (
  SELECT toks.doc_id,
         CAST(count(*) AS BIGINT) AS tf_total,
         CAST(count(DISTINCT t) AS INT) AS n_terms,
         any_value(dl.dl) AS dl
  FROM toks JOIN qterms USING (t) JOIN dl ON toks.doc_id = dl.doc_id
  GROUP BY toks.doc_id
),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY tf_total DESC, doc_id) AS rank_a,
         row_number() OVER (ORDER BY n_terms DESC, dl ASC, doc_id) AS rank_b
  FROM cand
),
fused AS (
  SELECT doc_id,
         CAST(1000000 // ({_RRF_K} + rank_a)
              + 1000000 // ({_RRF_K} + rank_b) AS BIGINT) AS rrf_fp,
         CAST(rank_a AS INT) AS rank_a,
         CAST(rank_b AS INT) AS rank_b
  FROM ranked
)
SELECT CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id) AS INT) AS rnk,
       doc_id, rrf_fp, rank_a, rank_b
FROM fused
QUALIFY rnk <= {_RRF_TOPK}
"""


QUERIES["q_rank_rrf_fusion"] = (q_rank_rrf_fusion, _rrf_oracle())


# --- q_semdedup_centroid: semantic dedup vs cluster centroids ----------------
#
# The SemDeDup recipe at cluster granularity: within each embedding
# cluster (the `label` column — the corpus' precomputed clustering),
# compute the centroid, measure every member's cosine to it, and flag
# members above the similarity threshold as semantic duplicates —
# keeping exactly one representative (min vec_id among the flagged).
#
# Arithmetic: vectors quantize to 1e-6 fixed point (the llm.py house
# pattern); the centroid is the exact per-dimension integer mean
# (sum div count — BIGINT, order-free); cosine is the one IEEE
# divide at the end of exact-integer dot/norm sums, the identical
# expression in both engines.
#
# Scale: per-(label, dim) sums partial-aggregate map-side; the
# centroid table (labels × 1 row) broadcasts back; cosine is map-only;
# the keep-mark is a min() window bounded by the label partition.

# The driver's synthetic embeddings are near-isotropic (cos-to-
# centroid tops out ~0.46), so the real-corpus SemDeDup threshold
# (~0.9+) would flag nothing and leave the keep-representative logic
# untested; 0.3 flags the top ~10% tail at every driver SF.
_SEM_THRESH = 0.3


def q_semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per vector: its label, cosine to the label centroid, whether it
    is flagged near-centroid, and whether it survives the dedup
    (keep = not flagged, or the min-vec_id representative)."""
    # kept: the plain plan ran 1.17x slower (A/B: 5 pairs, sf0.1)
    emb = scoped_persist(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.expr(_ivec_spark("embedding")).alias("v")
        )
    )
    sums = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").cast("bigint").alias("sx"), F.count(F.lit(1)).alias("cnt"))
    )
    # Per-dimension sums are signed (embedding components are negative
    # about half the time), and the house determinism discipline
    # (curation.py:834) declares Spark `div` (truncate) vs DuckDB `//`
    # divergent on negative numerators. Divide |sx| (non-negative, so
    # the engines agree) and reapply the sign: an explicit
    # truncate-toward-zero identical in both dialects (ADVICE r04).
    cent = sums.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, sx, cnt)))"
            ", s -> if(s.sx < 0, -((-s.sx) div s.cnt), s.sx div s.cnt))"
        ).alias("c")
    )
    dot = DOT_SPARK.format(a="v", b="c")
    n2v = NORM2_SPARK.format(v="v")
    n2c = NORM2_SPARK.format(v="c")
    scored = emb.join(F.broadcast(cent), "label").withColumn(
        "cos_c",
        F.expr(
            f"cast({dot} as double) / (sqrt(cast({n2v} as double))"
            f" * sqrt(cast({n2c} as double)))"
        ),
    )
    flagged = scored.withColumn("is_dup", F.col("cos_c") >= F.lit(_SEM_THRESH))
    w_rep = Window.partitionBy("label", "is_dup")
    return flagged.select(
        "vec_id",
        "label",
        "cos_c",
        "is_dup",
        (~F.col("is_dup") | (F.col("vec_id") == F.min("vec_id").over(w_rep))).alias(
            "keep"
        ),
    )


ORACLE_SEMDEDUP = f"""
WITH emb AS (
  SELECT vec_id, label, {_ivec_duck('embedding')} AS v FROM embeddings
),
sums AS (
  SELECT label, pos, CAST(sum(x) AS BIGINT) AS sx, count(*) AS cnt
  FROM (SELECT label, unnest(v) AS x,
               unnest(range(1, len(v) + 1)) AS pos
        FROM emb)
  GROUP BY label, pos
),
cent AS (
  -- sign-split truncating divide: |sx| // cnt is non-negative (engines
  -- agree), sign reapplied = truncate-toward-zero, matching Spark div.
  SELECT label,
         list(CASE WHEN sx < 0 THEN -((-sx) // cnt) ELSE sx // cnt END
              ORDER BY pos) AS c
  FROM sums GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label,
         CAST({DOT_DUCK.format(a='e.v', b='c.c')} AS DOUBLE)
           / (sqrt(CAST({NORM2_DUCK.format(v='e.v')} AS DOUBLE))
              * sqrt(CAST({NORM2_DUCK.format(v='c.c')} AS DOUBLE))) AS cos_c
  FROM emb e JOIN cent c USING (label)
),
flagged AS (
  SELECT *, cos_c >= {_SEM_THRESH} AS is_dup FROM scored
)
SELECT vec_id, label, cos_c, is_dup,
       (NOT is_dup) OR vec_id = min(vec_id) OVER (PARTITION BY label, is_dup)
         AS keep
FROM flagged
"""

QUERIES["q_semdedup_centroid"] = (q_semdedup_centroid, ORACLE_SEMDEDUP)


# --- q_minhash_est_audit: minhash Jaccard estimate vs exact ------------------
#
# The sketch-accuracy audit pattern (house precedent: q_sketch_hll's
# est-vs-exact, q_ann_pq's ADC-vs-exact): for every planted near-dup
# pair (original, original+100000 — the q_dedup_fuzzy corpus), compare
# the minhash-estimated Jaccard (fraction of the 12 signature slots
# agreeing) against the exact shingle-set Jaccard, both in 1e-6 fixed
# point, plus the absolute estimation error. This is the measurement a
# pipeline runs before trusting LSH thresholds at scale.
#
# Scale: the pair set is keyed (orig, orig+100000) — an equi-join on
# doc_id, never a candidate cross product; signatures are 12 16-bit
# slices (48 bytes/doc) so the join moves sketches, not shingle sets;
# the exact leg joins the two (few) sides' shingle arrays row-local.

def q_minhash_est_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per planted near-dup pair: minhash-estimated vs exact Jaccard
    (1e-6 fixed point) and the absolute error."""
    from metoffice_spark.operators.llm import (
        _HS_SPARK,
        _N_MINHASH,
        _SHINGLES_SPARK,
        _corpus,
        _mh_spark,
    )

    corpus = _corpus(spark, sf_dir)
    # .distinct(): the audit is per-document CONTENT — a byte-identical
    # duplicate-id delivery (a duplicate-docs probe) must collapse to one
    # (doc_id, shingle-set) row on both sides, or every downstream
    # doc_a join multiplies pair rows asymmetrically vs the oracle.
    shingled = (
        corpus.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .select("doc_id", F.array_distinct(F.expr(_SHINGLES_SPARK)).alias("sh"))
        .distinct()
    )
    hashed = shingled.select("doc_id", F.expr(_HS_SPARK).alias("hs"))
    mh_arr = "array(" + ", ".join(_mh_spark(j) for j in range(_N_MINHASH)) + ")"
    # sigs feeds the orig AND planted join branches; not persisted, as
    # the plain plan ran faster (A/B: 5 pairs, sf0.1)
    sigs = hashed.select("doc_id", F.expr(mh_arr).alias("mh"))

    orig_s = shingled.filter(
        (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 100000)
    ).select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    plant_s = shingled.filter(F.col("doc_id") >= 100000).select(
        (F.col("doc_id") - 100000).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
    )
    orig_m = sigs.filter(
        (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 100000)
    ).select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"))
    plant_m = sigs.filter(F.col("doc_id") >= 100000).select(
        (F.col("doc_id") - 100000).alias("doc_a"), F.col("mh").alias("mh_b")
    )

    est = orig_m.join(plant_m, "doc_a").select(
        "doc_a",
        F.expr(
            "cast(1000000 * size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y),"
            f" b -> b)) as bigint) div {_N_MINHASH}"
        ).alias("est_fp"),
    )
    exact = plant_s.join(orig_s, "doc_a").select(
        "doc_a",
        "doc_b",
        F.expr(
            "cast(1000000 * size(array_intersect(sh_a, sh_b)) as bigint)"
            " div (size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)))"
        ).alias("exact_fp"),
    )
    return exact.join(est, "doc_a").select(
        "doc_a",
        "doc_b",
        "est_fp",
        "exact_fp",
        F.abs(F.col("est_fp") - F.col("exact_fp")).cast("bigint").alias("err_fp"),
    )


def _minhash_audit_oracle() -> str:
    from metoffice_spark.operators.llm import (
        _CORPUS_DUCK,
        _HS_DUCK,
        _N_MINHASH,
        _SHINGLES_DUCK,
        _mh_duck,
    )

    mh_list = "[" + ", ".join(_mh_duck(j) for j in range(_N_MINHASH)) + "]"
    return f"""
WITH {_CORPUS_DUCK.strip()},
shingled AS (
  -- DISTINCT (doc_id, sh) mirrors the Spark side's .distinct():
  -- byte-identical duplicate-id deliveries collapse to one content
  -- row before any doc_a join (r09 drdocs probe)
  SELECT doc_id, sh, {_HS_DUCK} AS hs
  FROM (
    SELECT DISTINCT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
    FROM (SELECT doc_id, {TOKS_DUCK} AS toks FROM corpus)
    WHERE len(toks) >= 3
  )
),
sigs AS (SELECT doc_id, {mh_list} AS mh FROM shingled),
-- est joins sigs x sigs DIRECTLY (no shingled participation),
-- mirroring the Spark side's orig_m x plant_m join graph: under an
-- id carrying >1 distinct content (r10 dkdocs re-probe after the
-- avalanche-mask fix changed the dup selection), routing through
-- shingled fanned the oracle 2x per extra content while Spark did
-- not — the est leg must be per (content_a, content_b) on BOTH sides.
est AS (
  SELECT so.doc_id AS doc_a,
         CAST(1000000 * len(list_filter(range(1, {_N_MINHASH} + 1),
              i -> so.mh[i] = sp.mh[i])) AS BIGINT) // {_N_MINHASH} AS est_fp
  -- sp.doc_id >= 100000 mirrors the Spark plant branch filter
  -- (r13 idneg probe): without it a NEGATIVE orig id pairs
  -- arithmetically with a REAL sub-100000 document that the Spark
  -- side's plant_m (doc_id >= 100000) never admits
  FROM sigs so JOIN sigs sp ON sp.doc_id = so.doc_id + 100000
  WHERE so.doc_id % 25 = 0 AND so.doc_id < 100000
    AND sp.doc_id >= 100000
),
exact AS (
  SELECT o.doc_id AS doc_a, p.doc_id AS doc_b,
         CAST(1000000 * len(list_intersect(o.sh, p.sh)) AS BIGINT)
           // (len(o.sh) + len(p.sh) - len(list_intersect(o.sh, p.sh)))
           AS exact_fp
  FROM shingled o JOIN shingled p ON p.doc_id = o.doc_id + 100000
  WHERE o.doc_id % 25 = 0 AND o.doc_id < 100000
    AND p.doc_id >= 100000
)
SELECT e.doc_a, e.doc_b, s.est_fp, e.exact_fp,
       CAST(abs(s.est_fp - e.exact_fp) AS BIGINT) AS err_fp
FROM exact e JOIN est s USING (doc_a)
"""


QUERIES["q_minhash_est_audit"] = (q_minhash_est_audit, _minhash_audit_oracle())


# --- q_sample_reservoir: per-group uniform K-sample --------------------------
#
# The distributed analog of per-group reservoir sampling: a uniform
# K-row sample per group, deterministic across engines and cluster
# sizes. Classic reservoir state (one pass, mutable array) does not
# distribute; ranking by a seeded hash of the row key IS the same
# distribution (every row gets an i.i.d.-uniform 128-bit draw; the K
# smallest draws are a uniform K-subset) and is embarrassingly
# parallel: the rank window is bounded by the group partition, so at
# 100 TB each group sorts its own (already co-located) rows — no
# global pass, no driver state.

_RES_K = 10
_RES_SEED = "RS1"


def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform deterministic K=10 sample per lang: (lang, doc_id,
    draw rank); the md5-of-key draw makes the sample identical on any
    cluster size and in the oracle."""
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.md5(
            F.concat(F.lit(f"{_RES_SEED}|"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _RES_K)
        .select("lang", "doc_id", "rnk")
    )


ORACLE_SAMPLE_RESERVOIR = f"""
SELECT lang, doc_id, CAST(rnk AS INT) AS rnk
FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('{_RES_SEED}|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rnk
  FROM documents
)
WHERE rnk <= {_RES_K}
"""

QUERIES["q_sample_reservoir"] = (q_sample_reservoir, ORACLE_SAMPLE_RESERVOIR)


# --- q_dataset_card: single-scan corpus summary per source -------------------
#
# The "dataset card" table every corpus release ships: per source, the
# size, length, language-spread, token, and duplication metrics — all
# computed in ONE scan of the documents table. The scale pattern under
# test is metric fusion: N separate metric queries would be N scans of
# 100 TB; fused aggregation is one pass with map-side partials
# (count-distincts plan as Spark's two-phase expand, still one scan).
# Token totals evaluate the tokenizer expression once per row inside
# the same projection. Mean lengths are exact integer-division fixed
# point; no floats anywhere.


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: docs, distinct langs, char totals/mean, token
    totals/mean, distinct text digests, and exact duplicate count
    (docs minus distinct digests) — one scan, one aggregate."""
    docs = load(spark, sf_dir, "documents")
    row = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("bigint").alias("nc"),
        F.expr(f"cast(size({TOKS_SPARK}) as bigint)").alias("nt"),
        F.md5("text").alias("digest"),
    )
    return (
        row.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.sum("nc").cast("bigint").alias("chars_total"),
            F.expr("sum(nc) div count(1)").cast("bigint").alias("chars_mean"),
            F.sum("nt").cast("bigint").alias("tokens_total"),
            F.expr("sum(nt) div count(1)").cast("bigint").alias("tokens_mean"),
            F.count_distinct("digest").cast("bigint").alias("n_digests"),
            (F.count(F.lit(1)) - F.count_distinct("digest"))
            .cast("bigint")
            .alias("n_exact_dups"),
        )
    )


ORACLE_DATASET_CARD = f"""
WITH row_m AS (
  SELECT source, lang,
         CAST(n_chars AS BIGINT) AS nc,
         CAST(len({TOKS_DUCK}) AS BIGINT) AS nt,
         md5(text) AS digest
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(nc) AS BIGINT) AS chars_total,
       CAST(sum(nc) // count(*) AS BIGINT) AS chars_mean,
       CAST(sum(nt) AS BIGINT) AS tokens_total,
       CAST(sum(nt) // count(*) AS BIGINT) AS tokens_mean,
       CAST(count(DISTINCT digest) AS BIGINT) AS n_digests,
       CAST(count(*) - count(DISTINCT digest) AS BIGINT) AS n_exact_dups
FROM row_m
GROUP BY source
"""

QUERIES["q_dataset_card"] = (q_dataset_card, ORACLE_DATASET_CARD)


# --- q_dedup_incremental: batch-vs-index incremental dedup -------------------
#
# Production dedup is INCREMENTAL: today's crawl lands against the
# standing digest index, not against itself plus all history re-read.
# Split the corpus deterministically (doc_id parity) into the standing
# index (even) and the arriving batch (odd); the batch survives if its
# digest misses the index (anti-join) AND it is the first holder of
# the digest within the batch (min-doc_id per digest). The checked
# property is merge == batch: survivors + index equal a full-corpus
# dedup keep-set restricted to the same winners — the same discipline
# q_incr_agg locks for aggregates.
#
# Scale: both legs shuffle 16-byte digests + ids, never bodies; the
# anti-join is a digest equi-join, and the within-batch winner is a
# partial-aggregated min. At 100 TB the index side is the bucketed
# digest table on disk; nothing rescans history bodies.


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per surviving batch doc: doc_id, digest, and survivor class
    ('new' = digest unseen anywhere, 'batch_first' = duplicate within
    the batch only, kept as first holder) — plus merge==batch audit
    columns proving the incremental result equals full-corpus dedup."""
    return sql_frame(spark, sf_dir, ("documents",), ORACLE_DEDUP_INCREMENTAL)


# merge==batch audit: the full-corpus keep-set winner of a digest must
# be the doc the incremental path kept, provided no index doc holds the
# digest, which the NOT EXISTS guarantees.
ORACLE_DEDUP_INCREMENTAL = """
WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
batch AS (SELECT * FROM d WHERE doc_id % 2 = 1),
idx AS (SELECT * FROM d WHERE doc_id % 2 = 0),
first_in_batch AS (
  SELECT digest, min(doc_id) AS doc_id, count(*) AS batch_copies
  FROM batch GROUP BY digest
),
survivors AS (
  SELECT f.* FROM first_in_batch f
  WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.digest = f.digest)
),
full_winner AS (SELECT digest, min(doc_id) AS full_winner_id FROM d GROUP BY digest)
SELECT s.doc_id, s.digest,
       CASE WHEN s.batch_copies = 1 THEN 'new' ELSE 'batch_first' END
         AS survivor_class,
       CAST(s.batch_copies AS BIGINT) AS batch_copies,
       w.full_winner_id = s.doc_id AS merge_eq_batch
FROM survivors s JOIN full_winner w USING (digest)
"""

QUERIES["q_dedup_incremental"] = (q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL)


# --- q_fn_url_suite: URL parsing/normalization functions ---------------------
#
# The URL toolkit a web-corpus pipeline runs on every crawl record:
# scheme/host/path/query-param extraction and a canonical form
# (lowercased host, fragment and tracking params dropped). The corpus
# tables carry no URL column, so the suite builds a deterministic URL
# per document in-query (the planted-data house pattern) — identical
# literals in both engines. Extraction is regexp_extract with ONE
# regex text shared across engines (Java∩RE2-safe subset, the
# q_fn_regex_suite discipline); Spark's parse_url would be faster JVM-
# side but has no DuckDB twin, so the regex form is the parity
# surface and the docstring records the swap.
#
# Scale: map-only — no shuffle, no UDF; regex evaluates inside
# whole-stage codegen.

_URL_RE_SCHEME = "^([a-z]+)://"
_URL_RE_HOST = "^[a-z]+://([^/?#]+)"
_URL_RE_PATH = "^[a-z]+://[^/?#]+(/[^?#]*)"
_URL_RE_QPARAM = "[?&]q=([^&#]*)"


def q_fn_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: a synthesized URL, its scheme/host/path/q-param,
    and the canonical form (no fragment, no utm param, host kept
    lowercase)."""
    docs = load(spark, sf_dir, "documents")
    url = F.expr(
        "concat('https://', upper(source), '.Example.com/', lang, '/doc/',"
        " cast(doc_id as string), '?q=', lang, '&utm_source=feed#sec',"
        " cast(doc_id % 5 as string))"
    )
    d = docs.select("doc_id", url.alias("url"))
    lower_url = F.expr("lower(url)")
    return d.select(
        "doc_id",
        "url",
        F.regexp_extract(lower_url, _URL_RE_SCHEME, 1).alias("scheme"),
        F.regexp_extract(lower_url, _URL_RE_HOST, 1).alias("host"),
        F.regexp_extract(lower_url, _URL_RE_PATH, 1).alias("path"),
        F.regexp_extract(F.col("url"), _URL_RE_QPARAM, 1).alias("q_param"),
        F.expr(
            "concat('https://', "
            f"regexp_extract(lower(url), '{_URL_RE_HOST}', 1), "
            f"regexp_extract(lower(url), '{_URL_RE_PATH}', 1), "
            f"'?q=', regexp_extract(url, '{_URL_RE_QPARAM}', 1))"
        ).alias("canonical"),
    )


ORACLE_FN_URL_SUITE = f"""
WITH d AS (
  SELECT doc_id,
         'https://' || upper(source) || '.Example.com/' || lang || '/doc/'
           || CAST(doc_id AS VARCHAR) || '?q=' || lang
           || '&utm_source=feed#sec' || CAST(doc_id % 5 AS VARCHAR) AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(lower(url), '{_URL_RE_SCHEME}', 1) AS scheme,
       regexp_extract(lower(url), '{_URL_RE_HOST}', 1) AS host,
       regexp_extract(lower(url), '{_URL_RE_PATH}', 1) AS path,
       regexp_extract(url, '{_URL_RE_QPARAM}', 1) AS q_param,
       'https://' || regexp_extract(lower(url), '{_URL_RE_HOST}', 1)
         || regexp_extract(lower(url), '{_URL_RE_PATH}', 1)
         || '?q=' || regexp_extract(url, '{_URL_RE_QPARAM}', 1) AS canonical
FROM d
"""

QUERIES["q_fn_url_suite"] = (q_fn_url_suite, ORACLE_FN_URL_SUITE)
