"""Training-data-pipeline operators beyond SURVEY §2.11's first wave:
quality filtering, sequence packing, contamination detection,
stratified sampling, and TF-IDF term weighting over the ``documents``
table (BASELINE.json north star: "the operations a large-scale
training-data pipeline would need").

The reference has no analog (pure EXT); each operator follows the
repo's cross-engine determinism discipline (llm.py header): integer
counts for everything aggregated, md5-hex for "random" orderings,
fixed-point BIGINT for log-scaled scores, and a final IEEE divide only
on exact integer inputs.

Scale design (100 TB):
- quality signals are one explode + partial-aggregated (doc, token)
  counts — map-side combine keeps the shuffle at distinct-pair volume;
- packing windows partition by (lang): the running token sum is local
  to a stratum (at 100 TB: per shard/date partition), never a single
  global sort;
- contamination detection is an inverted-index equi-join on n-gram
  hashes (shuffle keyed on the 32-hex digest), never eval x train
  all-pairs;
- sampling and TF-IDF shuffle ids + 32-hex digests / terms, not
  document bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load
from metoffice_spark.operators.llm import TOKS_DUCK, TOKS_SPARK, _spread

QUERIES: dict = {}


# --- q_quality_gopher: repetition-based quality signals ----------------------
#
# The Gopher-rules family of pretraining filters: a document is kept
# only if it is long enough and not dominated by a single repeated
# token or by duplicated bigrams. All ratios are exact-int divides.

_MIN_TOKENS = 10
_TOP_FRAC_MAX = 0.20      # most-common token may cover <= 20% of tokens
_DUP_BG_FRAC_MAX = 0.20   # duplicated bigrams may cover <= 20% of bigrams

# bigrams of the token array. The short-doc case needs an explicit
# CASE guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
# returning empty, so a <= 1-token document would evaluate
# element_at(toks, 0/2) and throw where DuckDB's range() is empty.
_BIGRAMS_SPARK = (
    "CASE WHEN size(toks) < 2 THEN array()"
    " ELSE transform(sequence(1, size(toks) - 1),"
    " i -> concat(element_at(toks, cast(i as int)), ' ',"
    " element_at(toks, cast(i + 1 as int)))) END"
)
_BIGRAMS_DUCK = (
    "list_transform(range(1, greatest(len(toks), 1)),"
    " i -> toks[i] || ' ' || toks[i + 1])"
)


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: per document, the
    most-common-token fraction, duplicate-bigram fraction, and
    type-token ratio, plus the keep/drop verdict.

    Scale: one explode into (doc_id, token) with map-side partial
    counts (the shuffle carries distinct pairs), bigram stats computed
    entirely as array expressions on the scan side — no Python, no
    all-pairs, body never shuffled."""
    from metoffice_spark.session import scoped_persist

    docs = load(spark, sf_dir, "documents")
    # persist barrier: CollapseProject would otherwise inline the
    # tokenize expression into EVERY downstream reference (the two
    # bigram size() calls, the explode, the CASE guard) — recomputing
    # split+filter per reference and blowing up codegen. Cached,
    # toks is computed once per row.
    # kept: plain 1.15x slower here, 20.7x in q_pipeline_e2e (A/B: 5 pairs, sf0.1)
    base = scoped_persist(
        _spread(docs, "doc_id").select(
            "doc_id", "lang", F.expr(TOKS_SPARK.format(col="text")).alias("toks")
        )
    )
    # per-(doc, token) counts -> per-doc top/total/distinct
    tok_stats = (
        base.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_tok_count"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
        )
    )
    bg_stats = base.select(
        "doc_id",
        "lang",
        F.expr(f"size({_BIGRAMS_SPARK})").cast("bigint").alias("n_bigrams"),
        F.expr(f"size(array_distinct({_BIGRAMS_SPARK}))")
        .cast("bigint")
        .alias("n_bigrams_distinct"),
    )
    joined = bg_stats.join(tok_stats, "doc_id")
    top_frac = F.col("top_tok_count").cast("double") / F.col("n_tokens").cast("double")
    dup_bg = (F.col("n_bigrams") - F.col("n_bigrams_distinct")).cast("double") / F.greatest(
        F.col("n_bigrams"), F.lit(1)
    ).cast("double")
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    keep = (
        (F.col("n_tokens") >= _MIN_TOKENS)
        & (top_frac <= _TOP_FRAC_MAX)
        & (dup_bg <= _DUP_BG_FRAC_MAX)
    )
    return joined.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        "top_tok_count",
        (F.col("n_bigrams") - F.col("n_bigrams_distinct")).alias("dup_bigrams"),
        top_frac.alias("top_tok_frac"),
        dup_bg.alias("dup_bigram_frac"),
        ttr.alias("type_token_ratio"),
        keep.alias("keep"),
    )


ORACLE_QUALITY_GOPHER = f"""
WITH base AS (
  SELECT doc_id, lang, {TOKS_DUCK.format(col="text")} AS toks FROM documents
),
tok_stats AS (
  SELECT doc_id,
         max(c) AS top_tok_count,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct
  FROM (
    SELECT doc_id, t, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS t FROM base)
    GROUP BY doc_id, t
  )
  GROUP BY doc_id
),
bg_stats AS (
  SELECT doc_id, lang,
         CAST(len({_BIGRAMS_DUCK}) AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct({_BIGRAMS_DUCK})) AS BIGINT) AS n_bigrams_distinct
  FROM base
)
SELECT b.doc_id, b.lang, t.n_tokens, t.n_distinct, t.top_tok_count,
       b.n_bigrams - b.n_bigrams_distinct AS dup_bigrams,
       CAST(t.top_tok_count AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS top_tok_frac,
       CAST(b.n_bigrams - b.n_bigrams_distinct AS DOUBLE)
         / CAST(greatest(b.n_bigrams, 1) AS DOUBLE) AS dup_bigram_frac,
       CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS type_token_ratio,
       t.n_tokens >= {_MIN_TOKENS}
         AND CAST(t.top_tok_count AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
             <= {_TOP_FRAC_MAX}
         AND CAST(b.n_bigrams - b.n_bigrams_distinct AS DOUBLE)
             / CAST(greatest(b.n_bigrams, 1) AS DOUBLE) <= {_DUP_BG_FRAC_MAX}
         AS keep
FROM bg_stats b JOIN tok_stats t ON b.doc_id = t.doc_id
"""

QUERIES["q_quality_gopher"] = (q_quality_gopher, ORACLE_QUALITY_GOPHER)


# --- q_pack_sequences: token-budget sequence packing -------------------------
#
# Pretraining batch assembly: assign documents (in deterministic
# doc_id order, per language stratum) to fixed-size context bins by
# the exclusive running token sum — bin = floor(prefix_sum / CTX).
# This is the streaming-friendly formulation of greedy packing: one
# window per stratum, no driver loop.

_CTX_TOKENS = 256


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~CTX_TOKENS-token training sequences per
    language. Output: one row per (lang, bin) with doc count, token
    total, and fill ratio.

    Scale: the running sum windows by (lang) — at 100 TB the stratum
    key becomes (shard, date) so every sort is partition-local; the
    shuffle carries (doc_id, n_tokens) pairs only."""
    docs = load(spark, sf_dir, "documents")
    toks = _spread(docs, "doc_id").select(
        "doc_id",
        "lang",
        F.expr(f"size({TOKS_SPARK.format(col='text')})").cast("bigint").alias("n_toks"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = toks.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("n_toks").over(w), F.lit(0)) / F.lit(_CTX_TOKENS)
        ).cast("bigint"),
    )
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens_total"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .withColumn(
            "fill_ratio",
            F.col("tokens_total").cast("double") / F.lit(float(_CTX_TOKENS)),
        )
    )


ORACLE_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len({TOKS_DUCK.format(col="text")}) AS BIGINT) AS n_toks
  FROM documents
),
binned AS (
  SELECT doc_id, lang, n_toks,
         CAST(floor(COALESCE(sum(n_toks) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_CTX_TOKENS}) AS BIGINT) AS bin
  FROM toks
)
SELECT lang, bin, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS tokens_total,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       CAST(CAST(sum(n_toks) AS BIGINT) AS DOUBLE) / {_CTX_TOKENS}.0 AS fill_ratio
FROM binned
GROUP BY lang, bin
"""

QUERIES["q_pack_sequences"] = (q_pack_sequences, ORACLE_PACK_SEQUENCES)


# --- q_contamination_ngram: train/eval n-gram overlap ------------------------
#
# Benchmark-contamination detection: the corpus is split into an eval
# set (doc_id % 20 == 0) and a train set; contamination is planted
# in-query (identically in both engines) by leaking every 3rd eval
# document back into the train set under a new id. A train doc is
# flagged against an eval doc when they share >= _MIN_SHARED distinct
# word-5-grams (hashed; the join key is the 32-hex digest).

_MIN_SHARED = 3

# CASE guard for the same descending-sequence trap as _BIGRAMS_SPARK
_G5_SPARK = (
    "CASE WHEN size(toks) < 5 THEN array()"
    " ELSE transform(sequence(1, size(toks) - 4),"
    " i -> md5(concat_ws(' ',"
    " element_at(toks, cast(i as int)), element_at(toks, cast(i + 1 as int)),"
    " element_at(toks, cast(i + 2 as int)), element_at(toks, cast(i + 3 as int)),"
    " element_at(toks, cast(i + 4 as int))))) END"
)
_G5_DUCK = (
    "list_transform(range(1, greatest(len(toks) - 3, 1)),"
    " i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]"
    " || ' ' || toks[i + 3] || ' ' || toks[i + 4]))"
)


def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect eval-set contamination of the training corpus by shared
    word-5-gram hashes; emits (train_doc, eval_doc, n_shared,
    eval_coverage) for pairs with >= _MIN_SHARED shared grams.

    Scale: both sides explode to (gram_hash, doc_id) and equi-join on
    the hash (inverted index) — candidate volume is shared-gram pairs,
    never |train| x |eval|; bodies never leave the scan."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % 20 == 0
    evald = docs.filter(is_eval)
    train = docs.filter(~is_eval).unionByName(
        # the planted leak: every 3rd eval doc appears in train
        # verbatim under a NEGATED id — disjoint from the dense
        # non-negative doc_id space at EVERY corpus size (a fixed
        # +500000 offset collides once the corpus passes 500k docs;
        # the q_graph_pagerank disjoint-id precedent)
        evald.filter((F.col("doc_id") / 20) % 3 == 0).select(
            (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
        )
    )

    def grams(df: DataFrame, out: str) -> DataFrame:
        return (
            _spread(df, "doc_id")
            .select(
                F.col("doc_id").alias(out),
                F.expr(TOKS_SPARK.format(col="text")).alias("toks"),
            )
            .select(out, F.explode(F.expr(f"array_distinct({_G5_SPARK})")).alias("g"))
        )

    tg = grams(train, "train_doc")
    eg = grams(evald, "eval_doc")
    eval_sizes = eg.groupBy("eval_doc").agg(F.count("*").alias("eval_grams"))
    shared = (
        tg.join(eg, "g")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _MIN_SHARED)
    )
    return shared.join(eval_sizes, "eval_doc").select(
        "train_doc",
        "eval_doc",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("eval_grams").cast("double")).alias(
            "eval_coverage"
        ),
    )


ORACLE_CONTAMINATION = f"""
WITH evald AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
),
train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
  UNION ALL
  -- negated planted-leak ids: collision-free at every corpus size
  SELECT -(doc_id + 1) AS doc_id, text FROM evald WHERE (doc_id / 20) % 3 = 0
),
tg AS (
  SELECT doc_id AS train_doc, unnest(list_distinct({_G5_DUCK})) AS g
  FROM (SELECT doc_id, {TOKS_DUCK.format(col="text")} AS toks FROM train)
),
eg AS (
  SELECT doc_id AS eval_doc, unnest(list_distinct({_G5_DUCK})) AS g
  FROM (SELECT doc_id, {TOKS_DUCK.format(col="text")} AS toks FROM evald)
),
eval_sizes AS (
  SELECT eval_doc, count(*) AS eval_grams FROM eg GROUP BY eval_doc
),
shared AS (
  SELECT train_doc, eval_doc, count(*) AS n_shared
  FROM tg JOIN eg USING (g)
  GROUP BY train_doc, eval_doc
  HAVING count(*) >= {_MIN_SHARED}
)
SELECT s.train_doc, s.eval_doc, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / CAST(z.eval_grams AS DOUBLE) AS eval_coverage
FROM shared s JOIN eval_sizes z ON s.eval_doc = z.eval_doc
"""

QUERIES["q_contamination_ngram"] = (q_contamination_ngram, ORACLE_CONTAMINATION)


# --- q_sample_stratified: deterministic per-stratum uniform sample -----------

_SAMPLE_K = 20
_SAMPLE_SEED = "S1"


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-per-stratum sample: rank documents inside each lang by
    md5(seed || doc_id) (a deterministic uniform permutation) and keep
    the first k. The md5 rank IS the randomness — reproducible across
    engines, runs, and cluster sizes.

    Scale: shuffles (doc_id, lang, 32-hex digest); the per-stratum
    window sorts one stratum per task."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(_SAMPLE_SEED + "|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars", h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _SAMPLE_K)
        .select("lang", "sample_rank", "doc_id", "n_chars")
    )


ORACLE_SAMPLE_STRATIFIED = f"""
SELECT lang, sample_rank, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('{_SAMPLE_SEED}|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS INT) AS sample_rank
  FROM documents
)
WHERE sample_rank <= {_SAMPLE_K}
"""

QUERIES["q_sample_stratified"] = (q_sample_stratified, ORACLE_SAMPLE_STRATIFIED)


# --- q_tfidf: fixed-point TF-IDF term weighting -------------------------------
#
# score_fp = tf * floor(1e6 * ln(N / df)): ln on exact integer inputs
# is one correctly-rounded IEEE op (identical in both engines, same
# discipline as the dew-point oracle), floored to fixed-point BIGINT
# BEFORE the tf multiply so every aggregate/compare stays integer.

_TFIDF_TOP = 5


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (fixed-point scores).

    Scale: (doc, term) partial counts -> term document frequencies
    (distinct-doc counts, a term-keyed aggregate) -> broadcast-size N
    -> per-doc top-k window. The only wide rows are (term, doc, tf)."""
    docs = load(spark, sf_dir, "documents")
    tok = (
        _spread(docs, "doc_id")
        .select("doc_id", F.expr(TOKS_SPARK.format(col="text")).alias("toks"))
        .select("doc_id", F.explode("toks").alias("term"))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    idf_fp = F.floor(
        F.lit(1000000.0) * F.log(F.col("n").cast("double") / F.col("df").cast("double"))
    ).cast("bigint")
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * idf_fp).alias("score_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_fp").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_TOP)
        .select("doc_id", "rnk", "term", "tf", "df", "score_fp")
    )


ORACLE_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_DUCK.format(col="text")}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
df_counts AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf * CAST(floor(1000000.0 * ln(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)))
                     AS BIGINT) AS score_fp
  FROM tf t JOIN df_counts d ON t.term = d.term CROSS JOIN n_docs n
)
SELECT doc_id, rnk, term, tf, df, score_fp
FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score_fp DESC, term) AS INT) AS rnk
  FROM scored
)
WHERE rnk <= {_TFIDF_TOP}
"""

QUERIES["q_tfidf"] = (q_tfidf, ORACLE_TFIDF)


# --- q_kmeans_step: one exact-integer Lloyd iteration ------------------------
#
# The clustering primitive behind IVF index builds and corpus
# bucketing: assign every vector to its nearest seeded centroid by
# exact squared-L2 over fixed-point BIGINTs (components <= 1e6, so
# 64 * (2e6)^2 < 2^53 — no overflow, no float drift), then emit the
# per-(cluster, dim) integer sums that ARE the next centroids.

_K_CLUSTERS = 5


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd k-means iteration over the embeddings corpus: seeds =
    vectors 0..k-1, output = (cid, d, n_members, sum_fp, mean_fp) —
    the updated centroid table.

    Scale: the k seed centroids broadcast (tiny); assignment is a
    map-side zip_with distance + per-vector top-1 window (k rows per
    vector, never corpus x corpus); the update is a partial-aggregated
    (cid, dim) integer sum — exactly the shape of a 1000-executor
    k-means on 100 TB of vectors, minus the driver-side loop that
    would iterate it to convergence."""
    from metoffice_spark.operators.llm import _ivec_spark

    emb = load(spark, sf_dir, "embeddings")
    # unembedded (NULL) vectors do not participate in clustering —
    # boundary filter mirrored in the oracle (r07 null-embed finding)
    base = (
        emb.filter(F.col("embedding").isNotNull())
        .select("vec_id", F.expr(_ivec_spark("embedding")).alias("v"))
        # vector-validity (r10 nanvec contract): _ivec nulls a vector
        # with non-finite components; a failed encoding clusters nowhere
        .filter(F.col("v").isNotNull())
    )
    cent = (
        base.filter(F.col("vec_id") < _K_CLUSTERS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("c"))
    )
    d2 = F.expr(
        "aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, p) -> acc + p)"
    )
    pairs = base.crossJoin(F.broadcast(cent)).select("vec_id", "cid", "v", d2.alias("d2"))
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assigned = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "v")
    )
    return (
        assigned.select("cid", F.posexplode("v").alias("d", "x"))
        .groupBy("cid", "d")
        .agg(F.count("*").alias("n_members"), F.sum("x").alias("sum_fp"))
        .select(
            "cid",
            "d",
            "n_members",
            "sum_fp",
            (F.col("sum_fp").cast("double") / F.col("n_members").cast("double")).alias(
                "mean_fp"
            ),
        )
    )


def _oracle_kmeans() -> str:
    from metoffice_spark.operators.llm import _ivec_duck

    return f"""
WITH base AS (
  SELECT * FROM (
    SELECT vec_id, {_ivec_duck("embedding")} AS v FROM embeddings
    WHERE embedding IS NOT NULL
  ) WHERE v IS NOT NULL
),
cent AS (
  SELECT vec_id AS cid, v AS c FROM base WHERE vec_id < {_K_CLUSTERS}
),
pairs AS (
  SELECT b.vec_id, c.cid, b.v,
         list_aggregate(list_transform(range(1, len(b.v) + 1),
           i -> (b.v[i] - c.c[i]) * (b.v[i] - c.c[i])), 'sum') AS d2
  FROM base b CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid, v FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM pairs
  ) WHERE rn = 1
),
exploded AS (
  SELECT a.cid, CAST(i - 1 AS INT) AS d, a.v[CAST(i AS INT)] AS x
  FROM assigned a CROSS JOIN range(1, 65) t(i)
)
SELECT cid, d, count(*) AS n_members,
       CAST(sum(x) AS BIGINT) AS sum_fp,
       CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_fp
FROM exploded
GROUP BY cid, d
"""


QUERIES["q_kmeans_step"] = (q_kmeans_step, _oracle_kmeans())


# --- q_shard_assign: deterministic training-shard assignment -----------------
#
# The "global shuffle" stage of batch assembly, in its scale-correct
# form: shard = f(md5(seed || doc_id)) directly — balanced in
# expectation with NO global row_number (a single total-order sort is
# the classic 100 TB serialization point). Within-shard position comes
# from a per-shard window (N_SHARDS parallel sorts).

_N_SHARDS = 8
_SHARD_SEED = "SH1"
_NIBBLES = "0123456789abcdef"


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to one of N_SHARDS training shards by
    digest, and report per-shard balance: doc count, token total, and
    the first/last digest anchors of the shard's internal order."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(_SHARD_SEED + "|"), F.col("doc_id").cast("string")))
    v = F.expr(
        f"(locate(substring(h, 1, 1), '{_NIBBLES}') - 1) * 16"
        f" + (locate(substring(h, 2, 1), '{_NIBBLES}') - 1)"
    )
    base = (
        _spread(docs, "doc_id")
        .select(
            "doc_id",
            F.expr(f"size({TOKS_SPARK.format(col='text')})").cast("bigint").alias("n_toks"),
            h.alias("h"),
        )
        .withColumn("shard", (v % _N_SHARDS).cast("int"))
    )
    return (
        base.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("toks_total"),
            F.min("h").alias("first_digest"),
            F.max("h").alias("last_digest"),
        )
    )


ORACLE_SHARD_ASSIGN = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({TOKS_DUCK.format(col="text")}) AS BIGINT) AS n_toks,
         md5('{_SHARD_SEED}|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
sharded AS (
  SELECT *,
         CAST(((strpos('{_NIBBLES}', substring(h, 1, 1)) - 1) * 16
               + (strpos('{_NIBBLES}', substring(h, 2, 1)) - 1))
              % {_N_SHARDS} AS INT) AS shard
  FROM base
)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS toks_total,
       min(h) AS first_digest,
       max(h) AS last_digest
FROM sharded
GROUP BY shard
"""

QUERIES["q_shard_assign"] = (q_shard_assign, ORACLE_SHARD_ASSIGN)


# --- q_mix_rebalance: corpus mixture rebalancing -----------------------------
#
# Downsample every language stratum to the minority stratum's size
# (the uniform-mixture target) with a DETERMINISTIC Bernoulli: keep a
# doc iff its 6-nibble digest prefix is lexicographically below the
# per-lang threshold hex(floor(n_min * 16^6 / n_lang)). All threshold
# arithmetic is exact integer division, so both engines draw the
# identical sample.

_MIX_SEED = "MIX1"
_MIX_RES = 16_777_216  # 16^6


def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang mixture rebalance report: corpus count, integer keep
    threshold, kept count, and achieved-vs-target ratio.

    Scale: one count-by-lang aggregate (broadcast back — #langs rows),
    then a map-only keep decision per row; no sort, no sampling state,
    rerunnable on any cluster size with an identical result."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    thr = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n_docs",
        F.expr(f"(n_min * {_MIX_RES}) div n_docs").alias("thr"),
    )
    h6 = F.substring(
        F.md5(F.concat(F.lit(_MIX_SEED + "|"), F.col("doc_id").cast("string"))), 1, 6
    )
    # thr == 16^6 exactly for the minority lang (keep-all): its hex is
    # 7 digits and lpad-to-6 would truncate, so keep-all is explicit
    thr_hex = F.lower(F.lpad(F.expr("hex(thr)"), 6, "0"))
    kept = (
        docs.select("doc_id", "lang", h6.alias("h6"))
        .join(F.broadcast(thr), "lang")
        .withColumn("keep", (F.col("thr") >= _MIX_RES) | (F.col("h6") < thr_hex))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("thr").alias("thr"),
            F.sum(F.col("keep").cast("bigint")).cast("bigint").alias("n_kept"),
        )
        .select(
            "lang",
            "n_docs",
            "thr",
            "n_kept",
            (F.col("n_kept").cast("double") / F.col("n_docs").cast("double")).alias(
                "kept_frac"
            ),
        )
    )


ORACLE_MIX_REBALANCE = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
thr AS (
  SELECT lang, n_docs,
         (SELECT min(n_docs) FROM counts) * {_MIX_RES} // n_docs AS thr
  FROM counts
),
kept AS (
  SELECT d.lang, t.n_docs, t.thr,
         t.thr >= {_MIX_RES}
         OR substring(md5('{_MIX_SEED}|' || CAST(d.doc_id AS VARCHAR)), 1, 6)
            < lower(lpad(printf('%x', t.thr), 6, '0')) AS keep
  FROM documents d JOIN thr t ON d.lang = t.lang
)
SELECT lang, max(n_docs) AS n_docs, max(thr) AS thr,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         / CAST(max(n_docs) AS DOUBLE) AS kept_frac
FROM kept
GROUP BY lang
"""

QUERIES["q_mix_rebalance"] = (q_mix_rebalance, ORACLE_MIX_REBALANCE)


# --- q_pipeline_e2e: the full curation chain as ONE declarative plan ---------
#
# quality filter -> exact dedup -> mixture rebalance -> shard assign,
# chained the way a production curation job runs them. Each stage
# reuses the standalone operator's exact expressions (and the oracle
# embeds the standalone oracle texts as CTEs), so the composite is
# provably the composition of its parts.


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: Gopher-keep docs, dedup them exactly
    (min-id winner per normalized digest), rebalance the survivors to
    the minority lang's size, assign training shards, and report
    per-shard (n_docs, toks_total).

    Scale: every stage keeps its standalone shape — the chain is one
    logical plan, so Catalyst pipelines the map-side stages and the
    only shuffles are the three aggregates (token stats, digest
    groups, shard stats) plus one broadcast of the per-lang
    thresholds. Nothing is re-scanned: the document body is read once
    and leaves the scan only as digests and counts."""
    from metoffice_spark.operators.llm import NORM_SPARK

    g = q_quality_gopher(spark, sf_dir).filter("keep").select("doc_id", "lang", "n_tokens")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.expr(NORM_SPARK), 256).alias("k")
    )
    from metoffice_spark.session import scoped_persist

    # winners feeds THREE consumers (counts, the n_min scalar via
    # counts, and kept) — uncached, the whole quality+digest+dedup
    # subtree re-evaluates per branch (~3x, with the tokenize explode
    # inside doubling again; measured 16 s at sf0.1). The persisted
    # frame is tiny: one (doc_id, lang, n_tokens) row per unique doc.
    # kept: the plain plan ran 20.7x slower (A/B: 5 pairs, sf0.1)
    winners = scoped_persist(
        g.join(docs, "doc_id")
        .groupBy("k")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
        .select("doc_id", "lang", "n_tokens")
    )
    counts = winners.groupBy("lang").agg(F.count("*").alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    thr = counts.crossJoin(F.broadcast(n_min)).select(
        "lang", F.expr(f"(n_min * {_MIX_RES}) div n_docs").alias("thr")
    )
    h6 = F.substring(
        F.md5(F.concat(F.lit(_MIX_SEED + "|"), F.col("doc_id").cast("string"))), 1, 6
    )
    thr_hex = F.lower(F.lpad(F.expr("hex(thr)"), 6, "0"))
    kept = (
        winners.join(F.broadcast(thr), "lang")
        .withColumn("h6", h6)
        .filter((F.col("thr") >= _MIX_RES) | (F.col("h6") < thr_hex))
    )
    hs = F.md5(F.concat(F.lit(_SHARD_SEED + "|"), F.col("doc_id").cast("string")))
    shard = F.expr(
        f"cast(((locate(substring(hs, 1, 1), '{_NIBBLES}') - 1) * 16"
        f" + (locate(substring(hs, 2, 1), '{_NIBBLES}') - 1)) % {_N_SHARDS} as int)"
    )
    return (
        kept.withColumn("hs", hs)
        .withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("toks_total"),
        )
    )


def _oracle_pipeline_e2e() -> str:
    from metoffice_spark.operators.llm import NORM_DUCK

    return f"""
WITH gq AS ({ORACLE_QUALITY_GOPHER}),
winners AS (
  SELECT min(g.doc_id) AS doc_id,
         min_by(g.lang, g.doc_id) AS lang,
         min_by(g.n_tokens, g.doc_id) AS n_tokens
  FROM gq g JOIN (SELECT doc_id, sha256({NORM_DUCK}) AS k FROM documents) d
    ON g.doc_id = d.doc_id
  WHERE g.keep
  GROUP BY d.k
),
counts AS (
  SELECT lang, count(*) AS n_docs FROM winners GROUP BY lang
),
thr AS (
  SELECT lang, (SELECT min(n_docs) FROM counts) * {_MIX_RES} // n_docs AS thr
  FROM counts
),
kept AS (
  SELECT w.*,
         md5('{_SHARD_SEED}|' || CAST(w.doc_id AS VARCHAR)) AS hs
  FROM winners w JOIN thr t ON w.lang = t.lang
  WHERE t.thr >= {_MIX_RES}
     OR substring(md5('{_MIX_SEED}|' || CAST(w.doc_id AS VARCHAR)), 1, 6)
        < lower(lpad(printf('%x', t.thr), 6, '0'))
)
SELECT CAST(((strpos('{_NIBBLES}', substring(hs, 1, 1)) - 1) * 16
             + (strpos('{_NIBBLES}', substring(hs, 2, 1)) - 1))
            % {_N_SHARDS} AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS toks_total
FROM kept
GROUP BY 1
"""


QUERIES["q_pipeline_e2e"] = (q_pipeline_e2e, _oracle_pipeline_e2e())


# --- q_kmeans_train: 3 unrolled Lloyd iterations -----------------------------
#
# The iterative companion to q_kmeans_step: the driver-side Python
# loop appends iterations to ONE logical plan (no collect between
# rounds), and each round's centroid is the exact truncated-integer
# mean (sum div n — `div` and DuckDB `//` both truncate toward zero,
# verified), so every iteration stays bitwise cross-engine and the
# whole unrolled computation is SQL-expressible for the oracle.

_TRAIN_ITERS = 3

_D2_SPARK = (
    "aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),"
    " cast(0 as bigint), (acc, p) -> acc + p)"
)


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd iterations over the embeddings corpus; output = the
    final centroid table (cid, d, n_members, c_fp).

    Scale: per iteration one broadcast (k centroids), one map-side
    distance + top-1 window (k rows per vector), one (cid, dim)
    integer-sum shuffle. The loop is plan construction only — nothing
    materializes until the final aggregate, and at 100 TB each
    iteration would checkpoint its (k x dim) centroid table instead
    (tiny), keeping lineage bounded."""
    from metoffice_spark.operators.llm import _ivec_spark

    emb = load(spark, sf_dir, "embeddings")
    # unembedded (NULL) vectors do not participate in clustering —
    # boundary filter mirrored in the oracle (r07 null-embed finding)
    base = (
        emb.filter(F.col("embedding").isNotNull())
        .select("vec_id", F.expr(_ivec_spark("embedding")).alias("v"))
        # vector-validity (r10 nanvec contract): _ivec nulls a vector
        # with non-finite components; a failed encoding clusters nowhere
        .filter(F.col("v").isNotNull())
    )
    cent = (
        base.filter(F.col("vec_id") < _K_CLUSTERS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("c"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    upd = None
    for _ in range(_TRAIN_ITERS):
        pairs = base.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cid", "v", F.expr(_D2_SPARK).alias("d2")
        )
        assigned = (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "v")
        )
        upd = (
            assigned.select("cid", F.posexplode("v").alias("d", "x"))
            .groupBy("cid", "d")
            .agg(F.count("*").alias("n"), F.sum("x").alias("s"))
        )
        cent = (
            upd.withColumn("m", F.expr("s div n"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("ds"))
            .select("cid", F.expr("transform(ds, p -> p.m)").alias("c"))
        )
    return upd.select(
        "cid",
        "d",
        F.col("n").alias("n_members"),
        F.expr("s div n").alias("c_fp"),
    )


def _oracle_kmeans_train() -> str:
    from metoffice_spark.operators.llm import _ivec_duck

    d2 = (
        "list_aggregate(list_transform(range(1, len(b.v) + 1),"
        " i -> (b.v[i] - c.c[i]) * (b.v[i] - c.c[i])), 'sum')"
    )
    parts = [
        f"""WITH base AS (
  SELECT * FROM (
    SELECT vec_id, {_ivec_duck("embedding")} AS v FROM embeddings
    WHERE embedding IS NOT NULL
  ) WHERE v IS NOT NULL
),
cent0 AS (
  SELECT vec_id AS cid, v AS c FROM base WHERE vec_id < {_K_CLUSTERS}
)"""
    ]
    for i in range(1, _TRAIN_ITERS + 1):
        parts.append(f""",
asg{i} AS (
  SELECT vec_id, cid, v FROM (
    SELECT b.vec_id, c.cid, b.v,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM base b CROSS JOIN cent{i - 1} c
  ) WHERE rn = 1
),
upd{i} AS (
  SELECT a.cid, CAST(i - 1 AS INT) AS d, count(*) AS n,
         CAST(sum(a.v[CAST(i AS INT)]) AS BIGINT) AS s
  FROM asg{i} a CROSS JOIN range(1, 65) t(i)
  GROUP BY a.cid, i
),
cent{i} AS (
  SELECT cid, list(s // n ORDER BY d) AS c FROM upd{i} GROUP BY cid
)""")
    parts.append(f"""
SELECT cid, d, n AS n_members, s // n AS c_fp FROM upd{_TRAIN_ITERS}
""")
    return "".join(parts)


QUERIES["q_kmeans_train"] = (q_kmeans_train, _oracle_kmeans_train())


# --- q_negative_sample: hashed negative sampling (contrastive pairs) ---------
#
# For every anchor document, k deterministic "random" negatives drawn
# by hashing (anchor, slot) into the dense doc_id space [0, N) —
# the contrastive-training pair generator. No cross join, no global
# row_number: doc_ids are dense (TESTDATA.md), so the draw is a pure
# hash mod N and the negative's features arrive via one equi-join.

_NEG_K = 4


def _hex6_spark(h: str) -> str:
    terms = " + ".join(
        f"(locate(substring({h}, {i + 1}, 1), '{_NIBBLES}') - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"({terms})"


def _hex6_duck(h: str) -> str:
    terms = " + ".join(
        f"(strpos('{_NIBBLES}', substring({h}, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"({terms})"


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor doc_id, slot, negative doc_id, negative's length):
    negatives are hash-draws over the dense id space, bumped by one
    (mod N) when the draw hits the anchor itself.

    Scale: slot fan-out is a map-side posexplode (k rows per anchor);
    the only shuffle is the equi-join fetching the negative's
    features — co-located if the corpus is bucketed by doc_id. The
    1-row corpus count broadcasts."""
    docs = load(spark, sf_dir, "documents")
    n1 = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    draws = []
    for j in range(_NEG_K):
        h = f"md5(concat('NEG{j}|', cast(doc_id as string)))"
        draws.append(F.expr(f"{_hex6_spark(h)} % n_docs").cast("bigint"))
    anchors = (
        _spread(docs, "doc_id")
        .crossJoin(F.broadcast(n1))
        .select(
            "doc_id",
            F.col("n_docs"),
            F.posexplode(F.array(*draws)).alias("slot", "draw"),
        )
        .select(
            "doc_id",
            "slot",
            F.when(F.col("draw") == F.col("doc_id"), (F.col("draw") + 1) % F.col("n_docs"))
            .otherwise(F.col("draw"))
            .alias("neg_doc_id"),
        )
    )
    negs = docs.select(
        F.col("doc_id").alias("neg_doc_id"),
        F.col("n_chars").alias("neg_n_chars"),
        F.col("lang").alias("neg_lang"),
    )
    return anchors.join(negs, "neg_doc_id").select(
        "doc_id", "slot", "neg_doc_id", "neg_n_chars", "neg_lang"
    )


_NEG_DRAWS_SQL = "\nUNION ALL\n".join(
    "SELECT doc_id, {j} AS slot, {v} % (SELECT n_docs FROM n1) AS draw FROM documents".format(
        j=j, v=_hex6_duck(f"md5('NEG{j}|' || CAST(doc_id AS VARCHAR))")
    )
    for j in range(_NEG_K)
)

ORACLE_NEGATIVE_SAMPLE = f"""
WITH n1 AS (SELECT count(*) AS n_docs FROM documents),
draws AS (
  {_NEG_DRAWS_SQL}
),
anchors AS (
  SELECT doc_id, slot,
         CASE WHEN draw = doc_id THEN (draw + 1) % (SELECT n_docs FROM n1)
              ELSE draw END AS neg_doc_id
  FROM draws
)
SELECT a.doc_id, a.slot, a.neg_doc_id,
       d.n_chars AS neg_n_chars, d.lang AS neg_lang
FROM anchors a JOIN documents d ON a.neg_doc_id = d.doc_id
"""

QUERIES["q_negative_sample"] = (q_negative_sample, ORACLE_NEGATIVE_SAMPLE)


# --- q_batch_length_buckets: length-bucketed batch packing --------------------
#
# The training-efficiency staple: order documents by token length
# (descending, doc_id tie-break), cut into fixed-size batches of 16,
# and account the PADDING WASTE each batch pays (every sequence pads
# to the batch max). Length-sorted batching is what keeps that waste
# small versus random batching — this query measures it exactly:
# per batch, the max/min length, total padding tokens, and the
# utilization in 1e-6 fixed point (all-integer: lengths and counts).
#
# Scale: the global length sort is per-STRATUM (lang) in production
# (the q_pack_sequences lever) — here the corpus-wide sort is the
# oracle-checkable form; everything after is per-batch arithmetic.

_BLB_BATCH = 16


def q_batch_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per batch of 16 length-sorted docs: size, max/min token
    length, padding tokens, and utilization (1e-6 fp)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"size({TOKS_SPARK})").cast("bigint").alias("n_toks"),
    )
    # distributed global rank (functions/distributed.py) — the doc
    # table grows with the corpus, so the length-sort rank must not
    # funnel through a single-task window
    from metoffice_spark.functions.distributed import global_row_number

    batched = global_row_number(
        docs, [F.desc("n_toks"), F.asc("doc_id")], out="__rn"
    ).select(
        "doc_id",
        "n_toks",
        F.expr(f"cast((__rn - 1) div {_BLB_BATCH} as int)").alias("batch_id"),
    )
    return batched.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_toks").cast("bigint").alias("max_len"),
        F.min("n_toks").cast("bigint").alias("min_len"),
        F.expr("cast(count(1) * max(n_toks) - sum(n_toks) as bigint)").alias(
            "pad_tokens"
        ),
        # greatest(...,1): an all-zero-token batch would divide by 0
        # (Spark-ANSI crash vs DuckDB NULL) — the dup_bigram_frac guard
        F.expr(
            "cast(1000000 * sum(n_toks)"
            " div greatest(count(1) * max(n_toks), 1) as bigint)"
        ).alias("util_fp"),
    )


ORACLE_BATCH_LENGTH_BUCKETS = f"""
WITH docs AS (
  SELECT doc_id, CAST(len({TOKS_DUCK}) AS BIGINT) AS n_toks FROM documents
),
batched AS (
  SELECT doc_id, n_toks,
         CAST((row_number() OVER (ORDER BY n_toks DESC, doc_id ASC) - 1)
              // {_BLB_BATCH} AS INT) AS batch_id
  FROM docs
)
SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_toks) AS BIGINT) AS max_len,
       CAST(min(n_toks) AS BIGINT) AS min_len,
       CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS pad_tokens,
       CAST(1000000 * sum(n_toks) // greatest(count(*) * max(n_toks), 1)
            AS BIGINT) AS util_fp
FROM batched GROUP BY batch_id
"""

QUERIES["q_batch_length_buckets"] = (
    q_batch_length_buckets,
    ORACLE_BATCH_LENGTH_BUCKETS,
)


# --- q_mix_temperature: temperature-scaled corpus mixing ----------------------
#
# The multilingual mixing knob (alpha-temperature sampling,
# mBERT/XLM-R style) at alpha = 1/2: target share per language is
# proportional to floor(sqrt(count)) — sqrt is IEEE-correctly-rounded
# on exact integers, so the floor is bitwise cross-engine. Output per
# lang: count, sqrt weight, target share and the per-document keep
# rate that realizes it against the majority language, all exact
# 1e-6 fixed point (non-negative integer divisions only).
#
# Scale: per-lang counts (map-side combine) + arithmetic on L rows.


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per lang: doc count, sqrt-temperature weight, target mixture
    share (1e-6 fp), and the realized keep rate vs the
    largest-weight language."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    weighted = counts.withColumn(
        "w", F.expr("cast(floor(sqrt(cast(n_docs as double))) as bigint)")
    )
    tot = weighted.agg(F.sum("w").cast("bigint").alias("w_total"))
    anchor = weighted.agg(
        F.expr("max(struct(w, n_docs)).n_docs").alias("anchor_n"),
        F.expr("max(struct(w, n_docs)).w").alias("anchor_w"),
    )
    return weighted.crossJoin(F.broadcast(tot)).crossJoin(
        F.broadcast(anchor)
    ).select(
        "lang",
        "n_docs",
        "w",
        F.expr("cast(1000000 * w div w_total as bigint)").alias("share_fp"),
        F.expr(
            "cast(least(1000000 * w * anchor_n div (anchor_w * n_docs),"
            " 1000000) as bigint)"
        ).alias("keep_rate_fp"),
    )


ORACLE_MIX_TEMPERATURE = """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
weighted AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
  FROM counts
),
tot AS (
  SELECT CAST(sum(w) AS BIGINT) AS w_total FROM weighted
),
anchor AS (
  SELECT (max(struct_pack(w := w, n_docs := n_docs))).n_docs AS anchor_n,
         (max(struct_pack(w := w, n_docs := n_docs))).w AS anchor_w
  FROM weighted
)
SELECT wd.lang, wd.n_docs, wd.w,
       CAST(1000000 * wd.w // t.w_total AS BIGINT) AS share_fp,
       CAST(least(1000000 * wd.w * a.anchor_n // (a.anchor_w * wd.n_docs),
                  1000000) AS BIGINT) AS keep_rate_fp
FROM weighted wd CROSS JOIN tot t CROSS JOIN anchor a
"""

QUERIES["q_mix_temperature"] = (q_mix_temperature, ORACLE_MIX_TEMPERATURE)


# --- q_sft_template: chat-template assembly for SFT data prep ---------------
#
# The last hop before a fine-tuning run: flatten (prompt, response)
# pairs into the model's chat template and emit the audit columns a
# data loader contracts on (rendered length, token count, content
# fingerprint). Pairs are deterministic and self-contained: within
# each source, documents pair up adjacently by doc_id (odd row with
# its successor — each doc lands in at most one example); prompt and
# response truncate at 400 chars (the max-length gate).
#
# Cross-engine text discipline: the separator newline is the actual
# chr(10) in both dialects (never the two-char '\n' literal, which
# DuckDB does not unescape); the corpus is ASCII-locked (llm.py
# decode guard), so length() agrees byte-for-char; the fingerprint
# is md5 of the exact rendered string.
#
# Scale: one shuffle on source for the pairing window (per-source
# frames bounded); rendering, token counting, and hashing are
# map-only expressions — no UDF, no driver loop. At 100 TB this is
# the same one-exchange shape.

_SFT_TOKS = "size(filter(split(lower(r), '[^a-z0-9]+'), t -> t <> ''))"


def q_sft_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (prompt, response) adjacent pair: rendered chat-template
    stats — char length, token count, md5 fingerprint."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = (
        docs.select(
            "source",
            "doc_id",
            "text",
            F.row_number().over(w).alias("rn"),
            F.lead("text").over(w).alias("rtext"),
            F.lead("doc_id").over(w).alias("rid"),
        )
        .filter((F.col("rn") % 2 == 1) & F.col("rid").isNotNull())
    )
    rendered = paired.select(
        F.col("doc_id").alias("example_id"),
        F.col("rid").alias("response_id"),
        "source",
        F.concat(
            F.lit("<|user|>"),
            F.lit("\n"),
            F.substring("text", 1, 400),
            F.lit("\n"),
            F.lit("<|assistant|>"),
            F.lit("\n"),
            F.substring("rtext", 1, 400),
        ).alias("r"),
    )
    return rendered.select(
        "example_id",
        "response_id",
        "source",
        F.length("r").cast("bigint").alias("n_chars"),
        F.expr(_SFT_TOKS).cast("bigint").alias("n_toks"),
        F.md5("r").alias("fingerprint"),
    )


ORACLE_SFT_TEMPLATE = """
WITH paired AS (
  SELECT source, doc_id, text,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         lead(text) OVER (PARTITION BY source ORDER BY doc_id) AS rtext,
         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS rid
  FROM documents
),
rendered AS (
  SELECT doc_id AS example_id, rid AS response_id, source,
         '<|user|>' || chr(10) || substr(text, 1, 400) || chr(10) ||
         '<|assistant|>' || chr(10) || substr(rtext, 1, 400) AS r
  FROM paired
  WHERE rn % 2 = 1 AND rid IS NOT NULL
)
SELECT example_id, response_id, source,
       CAST(length(r) AS BIGINT) AS n_chars,
       CAST(len(list_filter(string_split_regex(lower(r), '[^a-z0-9]+'),
                            t -> t <> '')) AS BIGINT) AS n_toks,
       md5(r) AS fingerprint
FROM rendered
"""

QUERIES["q_sft_template"] = (q_sft_template, ORACLE_SFT_TEMPLATE)
