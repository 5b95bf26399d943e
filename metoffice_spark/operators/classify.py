"""Corpus classification + retrieval operators (SURVEY.md §2.17).

Pure EXT — the round-5 wave over ``documents``: the model-driven
curation stages of a training-data pipeline that the statistical
waves (§2.11, §2.16) did not cover:

- naive-Bayes language identification trained on the corpus itself
  and audited as a confusion matrix (the classifier-based langid
  pass, e.g. fastText lid.176 in production pipelines);
- a hashed-feature linear quality classifier (the fastText-style
  supervised filter: hash tokens into a bounded weight table, score =
  mean bucket weight — the deployable shape of CCNet / DCLM quality
  classifiers);
- span-level (line-level) deduplication: CCNet's "dedup by line
  across the corpus" re-expressed over fixed 8-token spans;
- boolean retrieval (AND / OR / AND-NOT) over an inverted index —
  posting-list joins, the lookup half of a corpus search service.

Determinism follows the repo discipline (llm.py header): counts and
fixed-point quantities are exact BIGINTs, ln/IEEE divides happen
last on exact integer inputs with the identical expression in both
engines, ranking windows carry total tie-breaks. md5-nibble hashing
(relational.py `_FRAC` precedent: `instr` is dialect-common) keeps
every hash-derived quantity bitwise identical cross-engine.

Reference tie-in: the reference's only "classification" is the
3-way temperature banding at MWC:320-327 (a CASE expression); these
operators are its EXT generalization to learned/model-driven
predicates, per the BASELINE.json north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load
from metoffice_spark.operators.llm import (
    _SPANS_DUCK,
    TOKS_DUCK,
    TOKS_SPARK,
    _spans_spark,
)
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}

# ln of a quotient of exact integers, floored to 6 digits (the BM25 /
# bigram-LM fixed-point idiom, corpus.py:113). Arguments are arranged
# so num >= den >= 1, hence the result is always non-negative and no
# expression straddles the Spark-div(truncate) vs DuckDB-//(floor)
# split. `1000000e0` not `1000000.0`: decimal literals parse as
# DECIMAL in DuckDB (relational.py _FRAC precedent).
def _ln_fp(num: str, den: str) -> str:
    return (
        f"cast(floor(1000000e0 * ln(cast({num} as double)"
        f" / cast({den} as double))) as bigint)"
    )


# --- q_nb_langid: naive-Bayes language identification ------------------------
#
# Train a Laplace-smoothed unigram NB model on the corpus's own lang
# labels, re-classify every document, and report the confusion
# matrix. Per language L with token counts c_lt, lang mass c_l,
# vocabulary size V, doc counts n_l / N:
#
#   score(doc, L) = ln(N / n_l) + sum_tokens tf * ln((c_l + V) / (c_lt + 1))
#
# i.e. the NEGATIVE log-posterior — every ln argument is >= 1
# (c_lt <= c_l, n_l <= N), so all fixed-point terms are non-negative
# exact BIGINTs; predicted lang = argmin with a total (score, lang)
# tie-break.
#
# Scale: the model is (V x L) rows — bounded by the tokenizer
# vocabulary, not the corpus — and broadcasts; document term
# frequencies aggregate (doc, token) with map-side combine; the
# argmin window is bounded by L rows per document. Nothing corpus-
# sized is ever resident on one node.


def q_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix (actual_lang, pred_lang, n_docs) of a
    corpus-trained Laplace-smoothed naive-Bayes language classifier
    re-applied to its own training corpus."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    # ONE explode feeds everything: per-(doc, token) partials carry the
    # lang label, and the corpus model counts are a SECOND-LEVEL
    # aggregate of those partials (the q_lm_bigram_score two-level
    # shape) — no second scan + explode of the corpus.
    tf = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.expr(TOKS_SPARK)).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = tf.groupBy("lang", "tok").agg(F.sum("tf").alias("c_lt"))
    langs = counts.groupBy("lang").agg(F.sum("c_lt").alias("c_l"))
    vocab = tf.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("vsize"))
    # Dense (token x lang) model: unseen (lang, token) pairs carry the
    # smoothing mass ln((c_l + V) / 1).
    model = (
        vocab.crossJoin(F.broadcast(langs))
        .join(counts, ["lang", "tok"], "left")
        .withColumn("c_lt", F.coalesce("c_lt", F.lit(0)))
        .crossJoin(F.broadcast(vsize))
        .select(
            "lang",
            "tok",
            F.expr(_ln_fp("c_l + vsize", "c_lt + 1")).alias("term_fp"),
        )
    )
    priors = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .crossJoin(docs.agg(F.count(F.lit(1)).alias("ndocs")))
        .select("lang", F.expr(_ln_fp("ndocs", "n_l")).alias("prior_fp"))
    )
    term_scores = (
        tf.join(model.withColumnRenamed("lang", "cand_lang"), "tok")
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum(F.col("tf") * F.col("term_fp")).alias("sum_fp"))
    )
    # docs x langs grid so zero-token documents still classify (by
    # prior alone) instead of silently dropping out.
    grid = docs.crossJoin(
        F.broadcast(priors.withColumnRenamed("lang", "cand_lang"))
    )
    scored = grid.join(term_scores, ["doc_id", "cand_lang"], "left").select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        "cand_lang",
        (F.col("prior_fp") + F.coalesce("sum_fp", F.lit(0))).alias("score_fp"),
    )
    w = Window.partitionBy("doc_id").orderBy("score_fp", "cand_lang")
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.groupBy("actual_lang", F.col("cand_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


ORACLE_NB_LANGID = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({TOKS_DUCK}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
),
counts AS (
  SELECT lang, tok, count(*) AS c_lt FROM toks GROUP BY lang, tok
),
langs AS (
  SELECT lang, sum(c_lt) AS c_l FROM counts GROUP BY lang
),
vocab AS (SELECT DISTINCT tok FROM tf),
vsize AS (SELECT count(*) AS vsize FROM vocab),
model AS (
  SELECT l.lang, v.tok,
         {_ln_fp("l.c_l + s.vsize", "coalesce(c.c_lt, 0) + 1")} AS term_fp
  FROM vocab v CROSS JOIN langs l CROSS JOIN vsize s
  LEFT JOIN counts c ON c.lang = l.lang AND c.tok = v.tok
),
priors AS (
  SELECT lang, {_ln_fp("(SELECT count(*) FROM documents)", "count(*)")}
           AS prior_fp
  FROM documents GROUP BY lang
),
term_scores AS (
  SELECT t.doc_id, m.lang AS cand_lang, sum(t.tf * m.term_fp) AS sum_fp
  FROM tf t JOIN model m ON t.tok = m.tok
  GROUP BY t.doc_id, m.lang
),
scored AS (
  SELECT d.doc_id, d.lang AS actual_lang, p.lang AS cand_lang,
         p.prior_fp + coalesce(ts.sum_fp, 0) AS score_fp
  FROM documents d CROSS JOIN priors p
  LEFT JOIN term_scores ts
    ON ts.doc_id = d.doc_id AND ts.cand_lang = p.lang
),
pred AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score_fp, cand_lang) AS rn
    FROM scored) WHERE rn = 1
)
SELECT actual_lang, cand_lang AS pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY actual_lang, cand_lang
"""

QUERIES["q_nb_langid"] = (q_nb_langid, ORACLE_NB_LANGID)


# --- q_quality_classifier: hashed-feature linear scorer ----------------------
#
# The fastText-supervised-classifier shape every big curation
# pipeline deploys (CCNet, DCLM, FineWeb-edu): tokens hash into a
# bounded weight table (here 64 buckets via md5 nibbles), document
# score = mean bucket weight. Weights themselves derive from md5 of
# the bucket id — a deterministic stand-in for trained parameters, so
# both engines reconstruct the identical model from nothing but the
# expression text (the q_sim_search_lsh constant-plane precedent).
#
# Scale: pure map + per-doc combine — the weight table never even
# materializes (it is an expression); at 100 TB this is the cheapest
# possible classifier pass, one shuffle-free projection per document.

_QC_BUCKETS = 64
# bucket(token) in [0, 64): first two md5 nibbles mod 64.
_QC_BUCKET = (
    "(((instr('0123456789abcdef', substring(md5(concat('QC|', tok)), 1, 1)) - 1)"
    " * 16 +"
    " (instr('0123456789abcdef', substring(md5(concat('QC|', tok)), 2, 1)) - 1))"
    f" % {_QC_BUCKETS})"
)
# weight(bucket) in [-128, 127]: first two md5 nibbles of the bucket id.
_QC_WEIGHT = (
    "((instr('0123456789abcdef',"
    " substring(md5(concat('QW|', cast(bkt as string))), 1, 1)) - 1) * 16 +"
    " (instr('0123456789abcdef',"
    " substring(md5(concat('QW|', cast(bkt as string))), 2, 1)) - 1) - 128)"
)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: token count, summed hashed-bucket weight (exact
    signed BIGINT), mean weight (one IEEE divide last), and the keep
    decision (non-negative mean)."""
    docs = load(spark, sf_dir, "documents")
    tok_w = docs.select(
        "doc_id", F.explode(F.expr(TOKS_SPARK)).alias("tok")
    ).select(
        "doc_id", F.expr(_QC_BUCKET).alias("bkt")
    ).select(
        "doc_id", F.expr(_QC_WEIGHT).cast("bigint").alias("w")
    )
    scored = tok_w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("w").cast("bigint").alias("score_fp"),
    )
    # left join back so zero-token documents keep (score 0), with
    # greatest(n,1) guarding the divide on both engines identically.
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("score_fp", F.lit(0)).cast("bigint").alias("score_fp"),
        )
        .withColumn(
            "mean_w",
            F.expr(
                "cast(score_fp as double)"
                " / cast(greatest(n_tokens, 1) as double)"
            ),
        )
        .withColumn("keep", F.col("score_fp") >= 0)
    )


ORACLE_QUALITY_CLASSIFIER = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents
),
bkt AS (SELECT doc_id, {_QC_BUCKET} AS bkt FROM tok),
w AS (SELECT doc_id, CAST({_QC_WEIGHT} AS BIGINT) AS w FROM bkt),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(w) AS BIGINT) AS score_fp
  FROM w GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.score_fp, 0) AS BIGINT) AS score_fp,
       cast(coalesce(s.score_fp, 0) as double)
         / cast(greatest(coalesce(s.n_tokens, 0), 1) as double) AS mean_w,
       coalesce(s.score_fp, 0) >= 0 AS keep
FROM documents d LEFT JOIN scored s USING (doc_id)
"""

QUERIES["q_quality_classifier"] = (q_quality_classifier, ORACLE_QUALITY_CLASSIFIER)


# --- q_dedup_lines: span-level (line-level) deduplication --------------------
#
# CCNet deduplicates by LINE hash across the whole corpus, not by
# document: boilerplate lines (navigation, cookie banners) repeat in
# millions of pages whose documents are otherwise unique. The corpus
# text has no newlines, so the "line" unit is a fixed 8-token span
# (disjoint chunking); the checked quantities are each document's
# distinct-span count, how many of those spans also occur in some
# OTHER document, and the resulting duplication fraction + keep flag.
#
# Scale: only (doc_id, span_md5) pairs shuffle — 16-byte digests,
# never span text; the cross-corpus frequency table aggregates with
# map-side combine and joins back on the digest key. This is exactly
# the q_dedup_exact digest discipline applied at sub-document grain.



def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: distinct 8-token spans, spans shared with other
    documents, duplication fraction (1e-6 fixed point) and keep flag
    (< 50% duplicated)."""
    docs = load(spark, sf_dir, "documents")
    # The (doc_id, sh) table must be a SET across rows, not just
    # row-local array_distinct (r09 drdocs probe: a duplicate-id
    # delivery otherwise double-counts every span, inflating both the
    # sh-window doc frequency and n_spans vs the oracle's SELECT
    # DISTINCT) — hence the .distinct(). The cross-corpus
    # doc-frequency stays a COUNT window on sh (per-doc-distinct spans
    # make the partition count exactly the doc frequency), replacing
    # the groupBy + join-back pair; _spread parallelizes the
    # tokenize+md5 work off the scan's few input partitions.
    from metoffice_spark.operators.llm import _spread

    doc_spans = (
        _spread(docs.select("doc_id", "text"), "doc_id")
        # tokenize ONCE into a column: the span builder's transform()
        # lambda is interpreted, so an inlined tokenizer re-splits the
        # document per span index (r13 finding, see _spans_spark)
        .select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_spans_spark()))).alias("sh"),
        )
        .distinct()
    )
    w_sh = Window.partitionBy("sh")
    per_doc = (
        doc_spans.withColumn("n_docs_span", F.count(F.lit(1)).over(w_sh))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("n_docs_span") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac_fp",
            F.expr(
                "cast(1000000 * n_dup_spans div greatest(n_spans, 1) as bigint)"
            ),
        )
        .withColumn("keep", F.col("dup_frac_fp") < 500000)
    )


ORACLE_DEDUP_LINES = f"""
WITH doc_spans AS (
  SELECT DISTINCT doc_id, unnest({_SPANS_DUCK}) AS sh FROM documents
),
freq AS (
  SELECT sh, count(*) AS n_docs_span FROM doc_spans GROUP BY sh
),
per_doc AS (
  SELECT ds.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN f.n_docs_span >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans
  FROM doc_spans ds JOIN freq f USING (sh)
  GROUP BY ds.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(1000000 * coalesce(p.n_dup_spans, 0)
            // greatest(coalesce(p.n_spans, 0), 1) AS BIGINT) AS dup_frac_fp,
       CAST(1000000 * coalesce(p.n_dup_spans, 0)
            // greatest(coalesce(p.n_spans, 0), 1) AS BIGINT) < 500000 AS keep
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES["q_dedup_lines"] = (q_dedup_lines, ORACLE_DEDUP_LINES)


# --- q_bool_retrieval: boolean posting-list retrieval ------------------------
#
# The lookup half of a corpus search service: an inverted index
# (term -> sorted posting list of doc_ids) answering AND (posting
# intersection), OR (union), AND-NOT (difference). Three fixed
# queries run against the documents corpus; each reports its hit
# count and the first five doc_ids.
#
# Scale: the scan filters to the query terms BEFORE building postings
# (predicate pushdown bounds the index to the query's lists, the
# term-at-a-time evaluation model); intersections are semi-joins and
# differences anti-joins on doc_id — never materialized bitmaps.

_BOOL_TERMS = ("join", "filter", "stream", "window", "data", "slow")


def q_bool_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three boolean queries (AND / OR / AND-NOT) over token postings:
    (query_id, n_hits, first five doc_ids '|'-joined)."""
    docs = load(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _BOOL_TERMS)
    # kept: the plain plan ran 1.69x slower (A/B: 5 pairs, sf0.1)
    postings = scoped_persist(
        docs.select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("tok"))
        .filter(F.expr(f"tok in ({terms})"))
        .distinct()
    )

    def plist(term: str) -> DataFrame:
        return postings.filter(F.col("tok") == term).select("doc_id")

    q1 = plist("join").join(plist("filter"), "doc_id", "left_semi")
    q2 = plist("stream").union(plist("window")).distinct()
    q3 = plist("data").join(plist("slow"), "doc_id", "left_anti")

    def summarize(df: DataFrame, qid: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.expr(
                "array_join(transform(slice(array_sort(collect_list(doc_id))"
                ", 1, 5), v -> cast(v as string)), '|')"
            ).alias("first_hits"),
        ).select(F.lit(qid).alias("query_id"), "n_hits", "first_hits")

    return (
        summarize(q1, "join AND filter")
        .unionByName(summarize(q2, "stream OR window"))
        .unionByName(summarize(q3, "data AND NOT slow"))
    )


ORACLE_BOOL_RETRIEVAL = f"""
WITH postings AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents)
  WHERE tok IN ({", ".join(f"''{t}''".replace("''", "'") for t in _BOOL_TERMS)})
),
q1 AS (
  SELECT doc_id FROM postings WHERE tok = 'join'
  INTERSECT
  SELECT doc_id FROM postings WHERE tok = 'filter'
),
q2 AS (
  SELECT doc_id FROM postings WHERE tok = 'stream'
  UNION
  SELECT doc_id FROM postings WHERE tok = 'window'
),
q3 AS (
  SELECT doc_id FROM postings WHERE tok = 'data'
  EXCEPT
  SELECT doc_id FROM postings WHERE tok = 'slow'
)
SELECT 'join AND filter' AS query_id, CAST(count(*) AS BIGINT) AS n_hits,
       coalesce(array_to_string(list_transform(list_sort(list(doc_id))[1:5],
                                      v -> CAST(v AS VARCHAR)), '|'), '')
         AS first_hits
FROM q1
UNION ALL
SELECT 'stream OR window', CAST(count(*) AS BIGINT),
       coalesce(array_to_string(list_transform(list_sort(list(doc_id))[1:5],
                                      v -> CAST(v AS VARCHAR)), '|'), '')
FROM q2
UNION ALL
SELECT 'data AND NOT slow', CAST(count(*) AS BIGINT),
       coalesce(array_to_string(list_transform(list_sort(list(doc_id))[1:5],
                                      v -> CAST(v AS VARCHAR)), '|'), '')
FROM q3
"""

QUERIES["q_bool_retrieval"] = (q_bool_retrieval, ORACLE_BOOL_RETRIEVAL)


# --- q_mmr_diversify: maximal-marginal-relevance re-ranking ------------------
#
# The diversification pass a retrieval stack runs after scoring
# (Carbonell & Goldstein MMR): greedily pick k results maximizing
# relevance MINUS similarity to what is already picked. With
# lambda = 0.5 the MMR ordering is equivalent to
#
#   mmr_i = rel_fp_i - max_{j in picked} sim_fp(i, j)
#
# rel_fp = 1e6 * tf // max_tf (non-negative //), sim = exact Jaccard
# of the two documents' distinct-token sets in 1e-6 fixed point,
# every argmax tie-broken by doc_id — fully deterministic, so the
# 5 greedy rounds unroll into one logical plan (the q_kmeans_train
# iterative discipline: no mid-loop collect) and the oracle is the
# matching unrolled CTE chain.
#
# Scale: candidates are the top-10 of the query's posting lists
# (bounded by query terms, the q_rank_rrf_fusion candidate pattern);
# the pairwise Jaccard grid is 10 x 10 rows of token ARRAYS — the
# greedy loop never touches the corpus again.

_MMR_TERMS = ("join", "stream", "data")
_MMR_CANDS = 10
_MMR_K = 5


def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 MMR-diversified results: (rnk, doc_id, rel_fp, mmr_fp);
    round 1 has mmr_fp = rel_fp (nothing picked yet)."""
    docs = load(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _MMR_TERMS)
    # persisted: tf feeds both the candidate ranking and the max_tf
    # scalar — without the barrier the tokenize+explode runs twice.
    # kept: jobs 39 -> 61, exchanges 22 -> 47 without it (A/B: 5 pairs, sf0.1)
    tf = scoped_persist(
        docs.select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("tok"))
        .filter(F.expr(f"tok in ({terms})"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    # distributed top-k candidate cut (TakeOrderedAndProject) — no
    # full-corpus global rank window
    # kept: jobs 39 -> 61, exchanges 22 -> 47 without it (A/B: 5 pairs, sf0.1)
    cands = scoped_persist(
        tf.orderBy(F.col("tf").desc(), F.col("doc_id").asc())
        .limit(_MMR_CANDS)
        .crossJoin(tf.agg(F.max("tf").alias("max_tf")))
        .select(
            "doc_id",
            F.expr("cast(1000000 * tf div max_tf as bigint)").alias("rel_fp"),
        )
    )
    ctoks = (
        docs.join(cands.select("doc_id"), "doc_id", "left_semi")
        .select(
            "doc_id",
            F.expr(f"array_sort(array_distinct({TOKS_SPARK}))").alias("toks"),
        )
    )
    a = ctoks.select(F.col("doc_id").alias("da"), F.col("toks").alias("ta"))
    b = ctoks.select(F.col("doc_id").alias("db"), F.col("toks").alias("tb"))
    # kept: jobs 39 -> 61, exchanges 22 -> 47 without it (A/B: 5 pairs, sf0.1)
    sims = scoped_persist(
        # broadcast right: the candidate grid is <= _MMR_CANDS^2 rows,
        # but ctoks derives from a semi-join whose size estimate
        # tracks the documents scan — unhinted, the grid flips to a
        # CartesianProduct (32x32 partitions) past the threshold
        a.crossJoin(F.broadcast(b))
        .filter(F.col("da") != F.col("db"))
        .select(
            "da",
            "db",
            F.expr(
                "cast(1000000 * size(array_intersect(ta, tb)) div"
                " (size(ta) + size(tb) - size(array_intersect(ta, tb)))"
                " as bigint)"
            ).alias("sim_fp"),
        )
    )
    # Persist each round's 1-row pick. The
    # selection loop references `picked` TWICE per round (the
    # remaining-candidates anti-join and the picked-similarity
    # semi-join) and unions it forward, so the unpersisted lineage
    # doubled per round — round K re-executed round 1's subtree
    # ~2^(K-1) times (measured 9-21 s at sf0.1; ~1.5 s persisted).
    # Same per-level persist discipline as the BFS frontier; the
    # cached frames are single rows.
    # kept: rebound per round; cuts lineage that grows with the round count
    picked = scoped_persist(
        cands.orderBy(F.col("rel_fp").desc(), F.col("doc_id").asc())
        .limit(1)
        .select(
            F.lit(1).cast("int").alias("rnk"),
            "doc_id",
            "rel_fp",
            F.col("rel_fp").alias("mmr_fp"),
        )
    )
    for r in range(2, _MMR_K + 1):
        rem = cands.join(picked.select("doc_id"), "doc_id", "left_anti")
        msim = (
            sims.join(
                picked.select(F.col("doc_id").alias("db")), "db", "left_semi"
            )
            .groupBy(F.col("da").alias("doc_id"))
            .agg(F.max("sim_fp").alias("msim"))
        )
        scored = rem.join(msim, "doc_id")
        nxt = (
            scored.select(
                F.lit(r).cast("int").alias("rnk"),
                "doc_id",
                "rel_fp",
                (F.col("rel_fp") - F.col("msim")).cast("bigint").alias("mmr_fp"),
            )
            .orderBy(F.col("mmr_fp").desc(), F.col("doc_id").asc())
            .limit(1)
        )
        # union of ALREADY-persisted 1-row frames (the BFS pattern) —
        # persisting the union would re-materialize every level
        # kept: rebound per round; cuts lineage that grows with the round count
        picked = picked.unionByName(scoped_persist(nxt))
    return picked


def _mmr_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _MMR_TERMS)
    rounds = []
    prev = "p1"
    for r in range(2, _MMR_K + 1):
        rounds.append(
            f"""r{r} AS (
  SELECT {r} AS rnk, c.doc_id, c.rel_fp,
         CAST(c.rel_fp - max(s.sim_fp) AS BIGINT) AS mmr_fp
  FROM cands c
  JOIN sims s ON s.da = c.doc_id
  JOIN {prev} p ON s.db = p.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
  GROUP BY c.doc_id, c.rel_fp
  ORDER BY mmr_fp DESC, c.doc_id ASC LIMIT 1
),
p{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM r{r})"""
        )
        prev = f"p{r}"
    return f"""
WITH tf AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents)
  WHERE tok IN ({terms})
  GROUP BY doc_id
),
cands AS (
  SELECT doc_id,
         CAST(1000000 * tf // (SELECT max(tf) FROM tf) AS BIGINT) AS rel_fp
  FROM (SELECT *, row_number() OVER (ORDER BY tf DESC, doc_id ASC) AS rn
        FROM tf)
  WHERE rn <= {_MMR_CANDS}
),
ctoks AS (
  SELECT doc_id, list_sort(list_distinct({TOKS_DUCK})) AS toks
  FROM documents WHERE doc_id IN (SELECT doc_id FROM cands)
),
sims AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         CAST(1000000 * len(list_intersect(a.toks, b.toks))
              // (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))) AS BIGINT) AS sim_fp
  FROM ctoks a JOIN ctoks b ON a.doc_id <> b.doc_id
),
p1 AS (
  SELECT 1 AS rnk, doc_id, rel_fp, rel_fp AS mmr_fp
  FROM cands ORDER BY rel_fp DESC, doc_id ASC LIMIT 1
),
{",".join(rounds)}
SELECT CAST(rnk AS INT) AS rnk, doc_id, rel_fp, mmr_fp FROM {prev}
"""


QUERIES["q_mmr_diversify"] = (q_mmr_diversify, _mmr_oracle())


# --- q_pref_pairs: preference-pair construction (DPO/RLHF data prep) ----------
#
# Build (chosen, rejected) document pairs per (source, lang) group:
# the group's highest-scoring document under the hashed-feature
# quality model (q_quality_classifier's score) versus its lowest,
# with the exact score margin — the preference-data construction
# step of a DPO/RLHF pipeline, where "prompt group" here is the
# (source, lang) stratum. Ties break on doc_id (chosen: lowest id
# among max-score; rejected: lowest id among min-score); groups with
# a single document or zero margin drop (a pair needs a strict
# preference).
#
# Scale: scoring is the map-only classifier pass; argmax/argmin are
# min/max over (score, doc_id)-ordered STRUCTS (the q_ohlc_bars
# partial-combinable trick — no window, no sort).


def q_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang): chosen/rejected doc ids and the exact
    score margin (strictly positive)."""
    docs = load(spark, sf_dir, "documents")
    tok_w = (
        docs.select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("tok"))
        .select("doc_id", F.expr(_QC_BUCKET).alias("bkt"))
        .select("doc_id", F.expr(_QC_WEIGHT).cast("bigint").alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").cast("bigint").alias("score_fp"))
    )
    scored = (
        docs.select("doc_id", "source", "lang")
        .join(tok_w, "doc_id", "left")
        .withColumn("score_fp", F.coalesce("score_fp", F.lit(0)))
    )
    # argmax: maximize score then minimize doc_id -> order by
    # (score, -doc_id) struct max would flip id direction; use
    # (score, negated id) for chosen and plain min for rejected.
    pairs = scored.groupBy("source", "lang").agg(
        F.expr(
            "max(struct(score_fp, -doc_id as nid))"
        ).alias("mx"),
        F.expr("min(struct(score_fp, doc_id))").alias("mn"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return (
        pairs.select(
            "source",
            "lang",
            "n_docs",
            F.expr("-mx.nid").cast("bigint").alias("chosen_doc"),
            F.col("mx.score_fp").alias("chosen_score_fp"),
            F.col("mn.doc_id").cast("bigint").alias("rejected_doc"),
            F.col("mn.score_fp").alias("rejected_score_fp"),
        )
        .withColumn(
            "margin_fp",
            (F.col("chosen_score_fp") - F.col("rejected_score_fp")).cast("bigint"),
        )
        .filter(F.col("margin_fp") > 0)
    )


ORACLE_PREF_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_DUCK}) AS tok FROM documents
),
w AS (
  SELECT doc_id, CAST({_QC_WEIGHT} AS BIGINT) AS w
  FROM (SELECT doc_id, {_QC_BUCKET} AS bkt FROM tok)
),
scored AS (
  SELECT d.doc_id, d.source, d.lang,
         coalesce(s.score_fp, 0) AS score_fp
  FROM documents d
  LEFT JOIN (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score_fp
             FROM w GROUP BY doc_id) s USING (doc_id)
),
pairs AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         (max(struct_pack(score_fp := score_fp, nid := -doc_id))) AS mx,
         (min(struct_pack(score_fp := score_fp, doc_id := doc_id))) AS mn
  FROM scored GROUP BY source, lang
)
SELECT source, lang, n_docs,
       CAST(-(mx.nid) AS BIGINT) AS chosen_doc,
       CAST(mx.score_fp AS BIGINT) AS chosen_score_fp,
       CAST(mn.doc_id AS BIGINT) AS rejected_doc,
       CAST(mn.score_fp AS BIGINT) AS rejected_score_fp,
       CAST(mx.score_fp - mn.score_fp AS BIGINT) AS margin_fp
FROM pairs
WHERE mx.score_fp - mn.score_fp > 0
"""

QUERIES["q_pref_pairs"] = (q_pref_pairs, ORACLE_PREF_PAIRS)
