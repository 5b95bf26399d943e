"""Data-curation operators for LLM training corpora (SURVEY.md §2.15).

Pure EXT — the round-4 curation wave: phrase-level boilerplate
detection (the CCNet/RefinedWeb common-line idea re-expressed over
n-gram phrases), a BPE merge-step pair count, OOV-rate scoring
against a corpus-derived vocabulary, per-dimension embedding
statistics, weighted systematic sampling, product-quantization ANN,
and the JSON / regex scalar-function suites.

Determinism follows the repo discipline (llm.py header): md5 is the
only "random" source, counts and fixed-point quantities are exact
BIGINTs, IEEE divides happen last on exact integer inputs with the
identical expression on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.functions.distributed import global_row_number
from metoffice_spark.io import load
from metoffice_spark.operators.llm import TOKS_DUCK, TOKS_SPARK, _ivec_duck, _ivec_spark
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_text_boilerplate: phrase-frequency boilerplate detection --------------
#
# Boilerplate = 3-gram phrases that recur across many documents
# (navigation chrome, license footers, template text). A phrase is
# flagged when its document frequency exceeds 2% of the corpus — a
# RELATIVE threshold, so the operator is scale-stable (an absolute
# cutoff silently stops flagging anything as the corpus grows). Each
# doc then reports what fraction of its phrase instances are
# boilerplate, aggregated per source.

_BP_DF_FRAC = 0.02  # flag phrases present in > 2% of docs

# The tokenizer array expression, shared with the oracles below.
_TOKS_ARR = TOKS_SPARK
_TOKS_ARR_DUCK = TOKS_DUCK


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: docs, phrase instances, boilerplate-phrase
    instances, and the boilerplate fraction (instances covered by
    3-gram phrases whose document frequency > 2% of the corpus).

    Scale: phrase DF is one (phrase -> distinct-doc count) aggregate
    with map-side combine; the flagged set (bounded by the DF cutoff
    — high-DF phrases are few by Zipf) joins back by phrase hash.
    Nothing is all-pairs; no Python in the path."""
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # setup scalar, inlined as a literal (llm.py discipline)
    cutoff = int(n_docs * _BP_DF_FRAC)

    # sequence(1, 0) is DESCENDING in Spark — docs with < 3 tokens must
    # short-circuit to an empty array (the short-doc guard).
    # On a materialized `toks` column: the transform() lambda is
    # interpreted, so inlining the tokenizer re-split the document per
    # gram index — O(tokens²) per doc (see corpus._bigrams_spark).
    grams_expr = (
        "case when size(toks) < 3 then array()"
        " else transform(sequence(1, size(toks) - 2),"
        " i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1])) end"
    )
    # kept: the plain plan ran 1.18x slower (A/B: 10 pairs, sf0.1)
    grams = scoped_persist(
        docs.select("doc_id", "source", F.expr(_TOKS_ARR).alias("toks")).select(
            "doc_id",
            "source",
            F.explode(F.expr(grams_expr)).alias("phrase"),
        )
    )
    flagged = (
        grams.groupBy("phrase")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > cutoff)
        .select("phrase")
    )
    tagged = grams.join(
        flagged.withColumn("is_bp", F.lit(1)), "phrase", "left"
    )
    per_doc = tagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_phrases"),
        F.count("is_bp").alias("n_bp"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_phrases").cast("bigint").alias("phrase_instances"),
        F.sum("n_bp").cast("bigint").alias("bp_instances"),
        (F.sum("n_bp").cast("bigint") / F.sum("n_phrases").cast("bigint")).alias(
            "bp_frac"
        ),
    )


def _boilerplate_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_ARR_DUCK} AS t FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS phrase
  FROM toks
),
flagged AS (
  SELECT phrase FROM grams
  GROUP BY phrase
  HAVING count(DISTINCT doc_id) >
         (SELECT CAST(floor(count(*) * {_BP_DF_FRAC}) AS BIGINT) FROM documents)
),
per_doc AS (
  SELECT g.doc_id, g.source,
         count(*) AS n_phrases,
         count(f.phrase) AS n_bp
  FROM grams g LEFT JOIN flagged f ON g.phrase = f.phrase
  GROUP BY g.doc_id, g.source
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_phrases) AS BIGINT) AS phrase_instances,
       CAST(sum(n_bp) AS BIGINT) AS bp_instances,
       CAST(sum(n_bp) AS BIGINT) / CAST(sum(n_phrases) AS BIGINT) AS bp_frac
FROM per_doc
GROUP BY source
"""


QUERIES["q_text_boilerplate"] = (q_text_boilerplate, _boilerplate_oracle())


# --- q_bpe_pair_count: one BPE merge-step pair count -------------------------
#
# The counting step of byte-pair encoding: over the corpus vocabulary
# (distinct words with frequencies), count adjacent CHARACTER pairs
# weighted by word frequency; the top pair is the next BPE merge. At
# scale the vocab is capped (top-256 by frequency) so the char-pair
# explosion is bounded by 256 * max-word-length however large the
# corpus — the corpus itself is touched only by the word count.

_BPE_VOCAB = 256
_BPE_TOP = 20


def q_bpe_pair_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs (the BPE merge candidates)
    over the top-256-word vocabulary, weighted by word frequency.

    Scale: the only corpus-wide work is the word count (map-side
    combine); pair explosion runs over <= 256 vocab rows; the final
    top-k is a window over #distinct-pairs rows."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(TOKS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.orderBy(F.desc("freq"), F.asc("w")).limit(_BPE_VOCAB)
    # Single-char words yield no pairs; Spark's sequence(1, 0) would
    # descend ([1, 0]) and fabricate them — guard explicitly.
    pairs = vocab.select(
        "freq",
        F.explode(
            F.expr(
                "case when char_length(w) < 2 then array()"
                " else transform(sequence(1, char_length(w) - 1),"
                " i -> substring(w, i, 2)) end"
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("n"))
    # distributed top-k (TakeOrderedAndProject); the rank window runs
    # over the bounded _BPE_TOP-row result, never the full pair vocab
    top = counts.orderBy(F.desc("n"), F.asc("pair")).limit(_BPE_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "rnk", "pair", "n"
    )


ORACLE_BPE_PAIR_COUNT = f"""
WITH words AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({TOKS_DUCK}) AS w FROM documents)
  GROUP BY w
),
vocab AS (
  SELECT w, freq FROM words ORDER BY freq DESC, w LIMIT {_BPE_VOCAB}
),
pairs AS (
  SELECT freq,
         unnest(list_transform(range(1, greatest(length(w), 1)),
                i -> substring(w, i, 2))) AS pair
  FROM vocab
),
counts AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY pair
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk, pair, n
FROM counts
QUALIFY rnk <= {_BPE_TOP}
"""

QUERIES["q_bpe_pair_count"] = (q_bpe_pair_count, ORACLE_BPE_PAIR_COUNT)


# --- q_oov_rate: out-of-vocabulary rate against a corpus vocabulary ----------
#
# The vocabulary is the corpus's own top-20 tokens (frequency-ranked,
# ties to the lexicographically first). Every doc's tokens are split
# into in/out-of-vocab; rates aggregate per language. The vocab is a
# broadcast-sized set by construction, so membership is a map-side
# broadcast join at any corpus size.

_OOV_VOCAB = 20


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language: token count, OOV token count, and the OOV rate
    against the corpus top-20 vocabulary.

    Scale: vocab is top-k (bounded, broadcast); the per-token
    membership probe is map-side; only (lang) partial sums shuffle."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.expr(TOKS_SPARK)).alias("t"))
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("t"))
        .limit(_OOV_VOCAB)
        .select("t")
    )
    tagged = toks.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "t", "left"
    )
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.count(F.lit(1)) - F.count("in_v")).cast("bigint").alias("n_oov"),
        (
            (F.count(F.lit(1)) - F.count("in_v")).cast("bigint")
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )


ORACLE_OOV_RATE = f"""
WITH toks AS (
  SELECT lang, unnest({TOKS_DUCK}) AS t FROM documents
),
vocab AS (
  SELECT t FROM toks GROUP BY t
  ORDER BY count(*) DESC, t LIMIT {_OOV_VOCAB}
)
SELECT lang,
       count(*) AS n_tokens,
       CAST(count(*) - count(v.t) AS BIGINT) AS n_oov,
       CAST(count(*) - count(v.t) AS BIGINT) / count(*) AS oov_rate
FROM toks LEFT JOIN vocab v USING (t)
GROUP BY lang
"""

QUERIES["q_oov_rate"] = (q_oov_rate, ORACLE_OOV_RATE)


# --- q_embed_dimstats: per-dimension embedding statistics --------------------
#
# The normalization pass every embedding pipeline runs before
# quantization / whitening: per-dimension count, sum, sum-of-squares,
# min, max in 1e-6 fixed point, plus the mean as the final divide.
# posexplode fans each vector into 64 (dim, value) rows that partially
# aggregate map-side down to 64 rows per partition before the shuffle.

def q_embed_dimstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per embedding dimension: n, sum, sum of squares, min, max
    (1e-6 fixed point) and the mean.

    Scale: the 64x row fan-out collapses to 64 rows per partition via
    map-side combine — the shuffle carries #dims rows regardless of
    corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.expr(_ivec_spark("embedding"))).alias("dim", "x")
    )
    return (
        dims.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("bigint").alias("sum_fp"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sumsq_fp"),
            F.min("x").cast("bigint").alias("min_fp"),
            F.max("x").cast("bigint").alias("max_fp"),
        )
        .select(
            "dim",
            "n",
            "sum_fp",
            "sumsq_fp",
            "min_fp",
            "max_fp",
            (F.col("sum_fp") / F.col("n")).alias("mean_fp"),
        )
    )


ORACLE_EMBED_DIMSTATS = f"""
WITH iv AS (
  SELECT {_ivec_duck("embedding")} AS v FROM embeddings
),
dims AS (
  -- dim and x both derive from the MASKED vector: a failed encoding
  -- (NULL v, r10 nanvec contract) unnests to zero rows, exactly as
  -- Spark's posexplode of a NULL array emits nothing
  SELECT unnest(range(len(v))) AS dim, unnest(v) AS x FROM iv
)
SELECT CAST(dim AS INT) AS dim, count(*) AS n,
       CAST(sum(x) AS BIGINT) AS sum_fp,
       CAST(sum(x * x) AS BIGINT) AS sumsq_fp,
       CAST(min(x) AS BIGINT) AS min_fp,
       CAST(max(x) AS BIGINT) AS max_fp,
       CAST(sum(x) AS BIGINT) / count(*) AS mean_fp
FROM dims
GROUP BY dim
"""

QUERIES["q_embed_dimstats"] = (q_embed_dimstats, ORACLE_EMBED_DIMSTATS)


# --- q_sample_weighted: weighted systematic sampling -------------------------
#
# Systematic (grid) sampling proportional to document length: lay N
# grid points over the cumulative-weight axis; a doc is picked once
# per grid point inside its weight interval (long docs can be picked
# multiple times — by design, that IS length-proportional sampling).
# Selection count = floor(cum * N / total) - floor(prev_cum * N /
# total): pure integer arithmetic, no floats anywhere.
#
# The cumulative sum is computed scale-safely: docs hash into 16
# ordered buckets (first md5 nibble), partial sums run per bucket, and
# bucket prefix offsets (a 16-row aggregate) broadcast back — the
# classic two-phase distributed prefix sum. The oracle is the plain
# global window cumsum, proving the decomposition exact.

_WS_N = 50
_WS_SEED = "WS1"
_NIBBLES = "0123456789abcdef"


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional systematic sample of documents: the picked
    docs with their weight interval and pick count (N = 50 grid
    points over the cumulative n_chars axis).

    Scale: two-phase prefix sum — per-bucket window sort (16-way
    parallel) + a broadcast 16-row offset table; the alternative
    single global ordered window serializes the corpus through one
    task."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("w"),
        F.md5(F.concat(F.lit(f"{_WS_SEED}|"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    )
    docs = docs.withColumn(
        "bucket",
        F.expr(f"locate(substring(h, 1, 1), '{_NIBBLES}') - 1").cast("int"),
    )
    wb = Window.partitionBy("bucket").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = docs.withColumn("local_cum", F.sum("w").over(wb))
    btot = (
        docs.groupBy("bucket").agg(F.sum("w").alias("bw"))
    )
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "bucket", F.coalesce(F.sum("bw").over(woff), F.lit(0)).alias("off")
    )
    # The grand total rides along as a broadcast 1-row crossJoin (the
    # pipeline.py:428 discipline) — no driver-side collect, so the
    # whole query is still one job / one composed plan at 100 TB.
    total_df = docs.agg(F.sum("w").cast("bigint").alias("_total"))
    cum = (
        local.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(total_df))
        .select(
            "doc_id",
            "w",
            (F.col("local_cum") + F.col("off")).cast("bigint").alias("cum"),
            "_total",
        )
    )
    # Integer division ONLY: floor(double /) can land off-by-one at
    # exactly-divisible grid points and diverge from the oracle's //.
    picks = F.expr(
        f"(cum * {_WS_N}) div _total - ((cum - w) * {_WS_N}) div _total"
    ).cast("bigint")
    return (
        cum.withColumn("n_picks", picks)
        .filter(F.col("n_picks") > 0)
        .select("doc_id", "w", "cum", "n_picks")
    )


ORACLE_SAMPLE_WEIGHTED = f"""
WITH src AS (
  SELECT doc_id, n_chars AS w,
         md5('{_WS_SEED}|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
cums AS (
  SELECT doc_id, w,
         CAST(sum(w) OVER (ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST((SELECT sum(w) FROM src) AS BIGINT) AS total
  FROM src
)
SELECT doc_id, w, cum,
       CAST((cum * {_WS_N}) // total - ((cum - w) * {_WS_N}) // total
            AS BIGINT) AS n_picks
FROM cums
WHERE (cum * {_WS_N}) // total - ((cum - w) * {_WS_N}) // total > 0
"""

QUERIES["q_sample_weighted"] = (q_sample_weighted, ORACLE_SAMPLE_WEIGHTED)


# --- q_fn_json_suite: JSON extraction functions ------------------------------
#
# events.props carries a JSON payload; extract, type, aggregate, and
# re-serialize (the re-serialization is built by hand with concat so
# both engines emit byte-identical strings — engine-native to_json
# differs in whitespace).

def q_fn_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: count, sum/min/max of the JSON field $.k, and
    a hand-serialized JSON summary payload.

    Scale: map-only JSON extraction (Jackson inside codegen, no
    Python), then a #event-types-row aggregate."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    agg = ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("k_sum"),
        F.min("k").cast("bigint").alias("k_min"),
        F.max("k").cast("bigint").alias("k_max"),
    )
    payload = F.concat(
        F.lit('{"type":"'),
        F.col("event_type"),
        F.lit('","n":'),
        F.col("n").cast("string"),
        F.lit(',"sum":'),
        F.col("k_sum").cast("string"),
        F.lit("}"),
    )
    return agg.select(
        "event_type", "n", "n_with_k", "k_sum", "k_min", "k_max",
        payload.alias("summary_json"),
    )


ORACLE_FN_JSON_SUITE = """
WITH src AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
),
agg AS (
  SELECT event_type, count(*) AS n, count(k) AS n_with_k,
         CAST(sum(k) AS BIGINT) AS k_sum,
         CAST(min(k) AS BIGINT) AS k_min,
         CAST(max(k) AS BIGINT) AS k_max
  FROM src GROUP BY event_type
)
SELECT event_type, n, n_with_k, k_sum, k_min, k_max,
       '{"type":"' || event_type || '","n":' || CAST(n AS VARCHAR)
         || ',"sum":' || CAST(k_sum AS VARCHAR) || '}' AS summary_json
FROM agg
"""

QUERIES["q_fn_json_suite"] = (q_fn_json_suite, ORACLE_FN_JSON_SUITE)


# --- q_fn_regex_suite: regular-expression functions --------------------------
#
# Extraction, global replacement, and match counting over part names.
# Patterns stay in the POSIX-class subset where Java (Spark) and RE2
# (DuckDB) agree; DuckDB's regexp_replace needs the explicit 'g' flag
# to match Spark's global-by-default semantics.

def q_fn_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part: first word, vowel count, vowel-masked name, and word
    count via regex functions.

    Scale: map-only codegen expressions; no shuffle at all."""
    part = load(spark, sf_dir, "part")
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        name.alias("p_name"),
        F.regexp_extract(name, "^[a-z]+", 0).alias("first_word"),
        (
            F.length(name) - F.length(F.regexp_replace(name, "[aeiou]", ""))
        ).cast("bigint").alias("n_vowels"),
        F.regexp_replace(name, "[aeiou]", "_").alias("masked"),
        F.size(F.split(name, " ")).cast("bigint").alias("n_words"),
    )


ORACLE_FN_REGEX_SUITE = """
SELECT p_partkey, p_name,
       regexp_extract(p_name, '^[a-z]+') AS first_word,
       CAST(length(p_name) - length(regexp_replace(p_name, '[aeiou]', '', 'g'))
            AS BIGINT) AS n_vowels,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS masked,
       CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
FROM part
"""

QUERIES["q_fn_regex_suite"] = (q_fn_regex_suite, ORACLE_FN_REGEX_SUITE)


# --- q_ann_pq: product-quantization ANN with ADC -----------------------------
#
# Product quantization: the 64-dim embedding splits into 8 subspaces
# of 8 dims; each subspace gets a 16-entry codebook (the subvectors of
# 16 hash-seeded anchor vectors — deterministic k-means++-style
# seeding); every corpus vector compresses to 8 one-nibble codes.
# Queries score candidates with asymmetric distance computation (ADC):
# a per-query 8x16 lookup table of exact subspace distances, summed
# along each vector's code word. All distances are exact BIGINTs in
# 1e-6 fixed point squared space.
#
# Scale: the corpus is touched twice ever — once to encode (64x
# smaller codes persist thereafter) and once per query batch to sum 8
# broadcast-LUT lookups per vector; the LUT is 128 cells per query
# regardless of corpus size. The argmin-per-subspace uses the
# min(dist2 * 16 + c) packing so code assignment is one aggregate
# (deterministic smallest-c tiebreak), never a window over the
# exploded corpus.

_PQ_SUBDIM = 8        # dims per subspace
_PQ_K = 16            # codebook entries per subspace
_PQ_QUERIES = 5       # vec_id < 5 are the query set
_PQ_TOPK = 5
_PQ_SEED = "PQ1"

_SQDIST_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " cast(0 as bigint), (acc, p) -> acc + p)"
)
_SQDIST_DUCK = (
    "list_aggregate(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: per query, the top-5 corpus vectors by ADC
    distance, with the exact distance of each winner alongside (the
    quantization-error audit).

    Scale: codes are 8 nibbles/vector (64x compression); the ADC scan
    joins codes to a broadcast 128-cell-per-query LUT and shuffles
    only (query, vector) partial sums; nothing is all-pairs."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.expr(_ivec_spark("embedding")).alias("v"))
    qs = base.filter(F.col("vec_id") < _PQ_QUERIES)
    cs = base.filter(F.col("vec_id") >= _PQ_QUERIES)

    # 16 hash-seeded anchors, c = 0..15 in hash order
    hashed = cs.select(
        "vec_id",
        "v",
        F.md5(F.concat(F.lit(f"{_PQ_SEED}|"), F.col("vec_id").cast("string"))).alias(
            "h"
        ),
    )
    anchors = hashed.orderBy("h").limit(_PQ_K)
    anchors = anchors.select(
        (F.row_number().over(Window.orderBy("h")) - 1).cast("int").alias("c"), "v"
    )
    # codebook cells: (c, s, d, a) — d is the within-subspace offset
    book = anchors.select(
        "c", F.posexplode("v").alias("dim", "a")
    ).select(
        "c",
        (F.col("dim") / _PQ_SUBDIM).cast("int").alias("s"),
        (F.col("dim") % _PQ_SUBDIM).cast("int").alias("d"),
        "a",
    )

    # encode: per (vec_id, s) the argmin-c subspace distance, via the
    # dist2*16+c packing (one aggregate, smallest-c tiebreak)
    cexp = cs.select("vec_id", F.posexplode("v").alias("dim", "x")).select(
        "vec_id",
        (F.col("dim") / _PQ_SUBDIM).cast("int").alias("s"),
        (F.col("dim") % _PQ_SUBDIM).cast("int").alias("d"),
        "x",
    )
    sub_d2 = (
        cexp.join(F.broadcast(book), ["s", "d"])
        .groupBy("vec_id", "s", "c")
        .agg(F.sum((F.col("x") - F.col("a")) * (F.col("x") - F.col("a"))).alias("d2"))
    )
    codes = (
        sub_d2.groupBy("vec_id", "s")
        .agg(F.min(F.col("d2") * _PQ_K + F.col("c")).alias("m"))
        .select("vec_id", "s", F.expr(f"m % {_PQ_K}").cast("int").alias("code"))
    )

    # per-query ADC lookup table: (q_id, s, c) -> exact subspace dist
    qexp = qs.select(
        F.col("vec_id").alias("q_id"), F.posexplode("v").alias("dim", "qx")
    ).select(
        "q_id",
        (F.col("dim") / _PQ_SUBDIM).cast("int").alias("s"),
        (F.col("dim") % _PQ_SUBDIM).cast("int").alias("d"),
        "qx",
    )
    lut = (
        qexp.join(F.broadcast(book), ["s", "d"])
        .groupBy("q_id", "s", "c")
        .agg(
            F.sum((F.col("qx") - F.col("a")) * (F.col("qx") - F.col("a"))).alias(
                "cell"
            )
        )
    )

    # ADC scan: sum the 8 LUT cells along each vector's code word
    adc = (
        codes.join(F.broadcast(lut), (codes.s == lut.s) & (codes.code == lut.c))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("cell").cast("bigint").alias("adc_fp"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_fp", "vec_id")
    winners = (
        adc.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _PQ_TOPK)
    )

    # quantization-error audit: exact distance for the winners only
    qv = qs.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    return (
        winners.join(cs, "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "rnk",
            "vec_id",
            "adc_fp",
            F.expr(_SQDIST_SPARK.format(a="qv", b="v")).cast("bigint").alias(
                "exact_fp"
            ),
        )
    )


ORACLE_ANN_PQ = f"""
WITH base AS (
  SELECT vec_id, {_ivec_duck("embedding")} AS v FROM embeddings
),
qs AS (SELECT * FROM base WHERE vec_id < {_PQ_QUERIES}),
cs AS (SELECT * FROM base WHERE vec_id >= {_PQ_QUERIES}),
anchors AS (
  SELECT row_number() OVER (
           ORDER BY md5('{_PQ_SEED}|' || CAST(vec_id AS VARCHAR))) - 1 AS c, v
  FROM cs
  ORDER BY md5('{_PQ_SEED}|' || CAST(vec_id AS VARCHAR)) LIMIT {_PQ_K}
),
book AS (
  SELECT c, (dim - 1) // {_PQ_SUBDIM} AS s, (dim - 1) % {_PQ_SUBDIM} AS d, a
  FROM (SELECT c, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS a
        FROM anchors)
),
cexp AS (
  SELECT vec_id, (dim - 1) // {_PQ_SUBDIM} AS s, (dim - 1) % {_PQ_SUBDIM} AS d, x
  FROM (SELECT vec_id, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS x
        FROM cs)
),
sub_d2 AS (
  SELECT cexp.vec_id, cexp.s, book.c,
         CAST(sum((cexp.x - book.a) * (cexp.x - book.a)) AS BIGINT) AS d2
  FROM cexp JOIN book ON cexp.s = book.s AND cexp.d = book.d
  GROUP BY cexp.vec_id, cexp.s, book.c
),
codes AS (
  SELECT vec_id, s,
         CAST(min(d2 * {_PQ_K} + c) % {_PQ_K} AS INT) AS code
  FROM sub_d2 GROUP BY vec_id, s
),
qexp AS (
  SELECT vec_id AS q_id,
         (dim - 1) // {_PQ_SUBDIM} AS s, (dim - 1) % {_PQ_SUBDIM} AS d, qx
  FROM (SELECT vec_id, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS qx
        FROM qs)
),
lut AS (
  SELECT q_id, qexp.s, book.c,
         CAST(sum((qexp.qx - book.a) * (qexp.qx - book.a)) AS BIGINT) AS cell
  FROM qexp JOIN book ON qexp.s = book.s AND qexp.d = book.d
  GROUP BY q_id, qexp.s, book.c
),
adc AS (
  SELECT l.q_id, codes.vec_id, CAST(sum(l.cell) AS BIGINT) AS adc_fp
  FROM codes JOIN lut l ON codes.s = l.s AND codes.code = l.c
  GROUP BY l.q_id, codes.vec_id
),
winners AS (
  SELECT q_id, vec_id, adc_fp,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY adc_fp, vec_id) AS INT) AS rnk
  FROM adc
  QUALIFY rnk <= {_PQ_TOPK}
)
SELECT w.q_id, w.rnk, w.vec_id, w.adc_fp,
       CAST({_SQDIST_DUCK.format(a="q.v", b="c.v")} AS BIGINT) AS exact_fp
FROM winners w
JOIN qs q ON q.vec_id = w.q_id
JOIN cs c ON c.vec_id = w.vec_id
"""

QUERIES["q_ann_pq"] = (q_ann_pq, ORACLE_ANN_PQ)


# --- q_tokenize_ids: vocabulary-id encoding ----------------------------------
#
# The tokenize-to-ids step every training pipeline runs last: map each
# document's token stream onto integer ids from a corpus-derived
# vocabulary (top-32 by frequency; id = frequency rank, 0 = UNK).
# Order preservation under distributed reassembly is the actual
# operator here: tokens explode WITH POSITION, ids come back from a
# broadcast vocab join, and the array rebuilds via sort of (pos, id)
# structs — deterministic on both engines.

_TOKID_VOCAB = 32


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: the ordered token-id sequence (top-32 vocab, 0 =
    UNK) as a '|'-joined string, token count, and UNK count.

    The id sequence is emitted as a string, not an array — top-level
    arrays break the driver's pandas-based canonicalizer (the
    q_agg_collect pattern, relational.py); order preservation, the
    property under test, survives the join intact.

    Scale: vocab is top-k (broadcast); the id probe is map-side; the
    only shuffle regroups (doc_id, pos, id) rows back into arrays —
    and at 100 TB even that disappears if the explode/regroup runs
    partition-local per document batch."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", F.posexplode(F.expr(TOKS_SPARK)).alias("pos", "t")
        )
    )
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("t"))
        .limit(_TOKID_VOCAB)
        .select(
            "t",
            (F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("t"))))
            .cast("int")
            .alias("tok_id"),
        )
    )
    tagged = toks.join(F.broadcast(vocab), "t", "left").select(
        "doc_id", "pos", F.coalesce("tok_id", F.lit(0)).cast("int").alias("tok_id")
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.expr("array_join(transform(array_sort(collect_list(struct(pos, tok_id))),"
                   " s -> cast(s.tok_id as string)), '|')").alias("ids"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unk"),
        )
    )


ORACLE_TOKENIZE_IDS = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(range(1, len({TOKS_DUCK}) + 1)) AS pos,
         unnest({TOKS_DUCK}) AS t
  FROM documents
),
vocab AS (
  SELECT t,
         CAST(row_number() OVER (ORDER BY count(*) DESC, t) AS INT) AS tok_id
  FROM toks GROUP BY t
  ORDER BY count(*) DESC, t LIMIT {_TOKID_VOCAB}
)
SELECT doc_id,
       string_agg(CAST(coalesce(v.tok_id, 0) AS VARCHAR), '|' ORDER BY pos) AS ids,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
FROM toks LEFT JOIN vocab v USING (t)
GROUP BY doc_id
"""

QUERIES["q_tokenize_ids"] = (q_tokenize_ids, ORACLE_TOKENIZE_IDS)


# --- q_rank_bm25: BM25 document ranking --------------------------------------
#
# Full-text relevance ranking with BM25 (k1 = 1.2, b = 0.75) for a
# fixed 3-term query, in exact integer arithmetic end-to-end: with
# A = total corpus tokens, D = doc count, dl = doc length, the term
# score
#     idf * 2.2 tf / (tf + 1.2 * (0.25 + 0.75 dl D / A))
# multiplies out to
#     (idf_fp * 22 A tf) // (10 A tf + 3 A + 9 dl D)
# — one integer division per (doc, term), summed exactly (idf_fp
# multiplies INSIDE the division so the quotient keeps idf_fp's six
# fixed-point digits). idf is the Lucene BM25 form ln(1 + (D - df +
# 0.5)/(df + 0.5)) = ln((2D + 2)/(2df + 1)) in the repo's
# floor-1e6-ln fixed point — strictly positive for df <= D, which
# matters: a negative numerator would hit the Spark-div(truncate) vs
# DuckDB-//(floor) semantic split. Query terms are corpus frequency
# ranks 5/10/15 — present in many but not all docs, so tf, dl AND
# missing terms all differentiate.
#
# Scale: df and tf are partial-aggregated counts; the query-term set
# (3 rows) and the scalar (A, D) pair broadcast; scoring is one
# map-side expression per (doc, matched term) followed by a per-doc
# sum and a bounded top-k window.

_BM25_RANKS = (5, 10, 15)
_BM25_TOPK = 10


def q_rank_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for the fixed 3-term query drawn from
    corpus frequency ranks 5/10/15; exact-integer scores.

    Scale: no per-row floats until the final audit column; the
    corpus-wide inputs are two broadcast scalars and a 3-row term
    table."""
    docs = load(spark, sf_dir, "documents")
    # kept: the plain plan ran 1.30x slower (A/B: 5 pairs, sf0.1)
    toks = scoped_persist(
        docs.select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("t"))
    )
    # corpus scalars (setup literals, llm.py discipline)
    a_total, d_docs = toks.count(), docs.count()

    # distributed vocab rank (functions/distributed.py): the term
    # vocabulary grows with the corpus — no single-task global window
    freq_rank = global_row_number(
        toks.groupBy("t").agg(F.count(F.lit(1)).alias("freq")),
        [F.desc("freq"), F.asc("t")],
        out="rnk",
    )
    qterms = freq_rank.filter(F.col("rnk").isin(*_BM25_RANKS)).select("t")

    tf = (
        toks.join(F.broadcast(qterms), "t")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df_ = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.select(
        "t",
        F.expr(
            f"cast(floor(1000000.0 * ln((2.0 * {d_docs} + 2.0)"
            f" / (2.0 * df + 1.0))) as bigint)"
        ).alias("idf_fp"),
    )
    scored = (
        tf.join(F.broadcast(idf), "t")
        .join(dl, "doc_id")
        .withColumn(
            "term_score_fp",
            F.expr(
                f"(idf_fp * 22 * {a_total}L * tf) div"
                f" (10 * {a_total}L * tf + 3 * {a_total}L + 9 * dl * {d_docs}L)"
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("term_score_fp").cast("bigint").alias("score_fp"),
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
    )
    # distributed top-k (TakeOrderedAndProject), rank assigned over
    # the bounded k-row result — never a full-corpus global window
    top = per_doc.orderBy(F.desc("score_fp"), F.asc("doc_id")).limit(_BM25_TOPK)
    w = Window.orderBy(F.desc("score_fp"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "rnk", "doc_id", "score_fp", "n_terms_hit"
    )


def _bm25_oracle() -> str:
    ranks = ", ".join(str(r) for r in _BM25_RANKS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_DUCK}) AS t FROM documents
),
scalars AS (
  SELECT (SELECT count(*) FROM toks) AS a_total,
         (SELECT count(*) FROM documents) AS d_docs
),
freq_rank AS (
  SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS rnk
  FROM toks GROUP BY t
),
qterms AS (SELECT t FROM freq_rank WHERE rnk IN ({ranks})),
tf AS (
  SELECT doc_id, t, count(*) AS tf
  FROM toks JOIN qterms USING (t)
  GROUP BY doc_id, t
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
idf AS (
  SELECT t, CAST(floor(1000000.0 * ln(
           (2.0 * d_docs + 2.0) / (2.0 * df + 1.0))) AS BIGINT)
           AS idf_fp
  FROM (SELECT t, count(*) AS df FROM tf GROUP BY t), scalars
),
scored AS (
  SELECT tf.doc_id,
         (idf.idf_fp * 22 * s.a_total * tf.tf) //
           (10 * s.a_total * tf.tf + 3 * s.a_total + 9 * dl.dl * s.d_docs)
           AS term_score_fp
  FROM tf
  JOIN idf USING (t)
  JOIN dl USING (doc_id)
  CROSS JOIN scalars s
),
per_doc AS (
  SELECT doc_id, CAST(sum(term_score_fp) AS BIGINT) AS score_fp,
         CAST(count(*) AS INT) AS n_terms_hit
  FROM scored GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS INT) AS rnk,
       doc_id, score_fp, n_terms_hit
FROM per_doc
QUALIFY rnk <= {_BM25_TOPK}
"""


QUERIES["q_rank_bm25"] = (q_rank_bm25, _bm25_oracle())


# --- q_bpe_train: three unrolled BPE merge rounds ----------------------------
#
# Distributed tokenizer TRAINING: where q_bpe_pair_count scores the
# candidates for ONE merge, this runs the actual BPE loop — count
# adjacent symbol pairs, adopt the best merge, rewrite the
# vocabulary, repeat — for 3 rounds, as ONE lazy plan
# (q_kmeans_train discipline: the chosen merge re-enters each round
# as a 1-row broadcast, never a driver-side collect).
#
# The greedy left-to-right pair merge is expressible as a plain
# string replace through a SEPARATOR ENCODING: a word's symbol
# sequence is rendered ' s1  s2  ...  sk ' (TWO spaces between
# symbols, ONE at each end). The merge of pair (a, b) is then
# replace(s, ' a  b ', ' ab '): the single-space sentinels match
# only whole symbols (no cross-symbol false hits), and because the
# replacement re-supplies both boundary spaces, consecutive matches
# chain correctly — ' a  b  a  b ' -> ' ab  ab ', while the
# overlapping ' a  a  a ' -> ' aa  a ' reproduces BPE's greedy
# left-to-right scan. Both engines' replace() scans left-to-right
# over non-overlapping occurrences, which the parity gate holds to
# the bit.
#
# Determinism: pair counts are exact BIGINT sums of word
# frequencies; the adopted merge is the (count DESC, pair ASC) total
# order's first row. Scale: the corpus-wide work is ONE word count
# with map-side combine; every round then runs over the bounded
# vocabulary (top-256 words), so 50 merges cost 50 tiny stages after
# one corpus pass — the shape real BPE trainers (and q_kmeans_train)
# use.

_BPE_TRAIN_ROUNDS = 3


def _bpe_spaced_spark(col: str) -> str:
    return f"concat(' ', trim(regexp_replace({col}, '(.)', '$1  ')), ' ')"


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per adopted merge: round, left/right symbols, merged
    token, and the weighted pair count that won the round."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(TOKS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.orderBy(F.desc("freq"), F.asc("w")).limit(_BPE_VOCAB)
    # kept: the plain plan ran 1.20x slower (A/B: 5 pairs, sf0.1)
    cur = scoped_persist(
        vocab.select(F.expr(_bpe_spaced_spark("w")).alias("s"), "freq")
    )
    merges = []
    for rnd in range(1, _BPE_TRAIN_ROUNDS + 1):
        syms = cur.select(F.expr("split(trim(s), '  ')").alias("a"), "freq")
        pairs = syms.filter(F.expr("size(a) >= 2")).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> concat(element_at(a, cast(i as int)), '  ',"
                    " element_at(a, cast(i + 1 as int))))"
                )
            ).alias("pair"),
        )
        cnt = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("cnt"))
        best = cnt.orderBy(F.desc("cnt"), F.asc("pair")).limit(1)
        merges.append(
            best.select(
                F.lit(rnd).cast("int").alias("round"),
                F.expr("split(pair, '  ')[0]").alias("left"),
                F.expr("split(pair, '  ')[1]").alias("right"),
                F.expr("replace(pair, '  ', '')").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        cur = cur.crossJoin(F.broadcast(best)).select(
            F.expr(
                "replace(s, concat(' ', pair, ' '),"
                " concat(' ', replace(pair, '  ', ''), ' '))"
            ).alias("s"),
            "freq",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def _bpe_train_oracle() -> str:
    spaced = "' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '"
    rounds = []
    prev = "w0"
    for rnd in range(1, _BPE_TRAIN_ROUNDS + 1):
        rounds.append(f"""
p{rnd} AS (
  SELECT freq, unnest(list_transform(range(1, len(a)),
                i -> a[i] || '  ' || a[i + 1])) AS pair
  FROM (SELECT string_split(trim(s), '  ') AS a, freq FROM {prev})
  WHERE len(a) >= 2
),
c{rnd} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p{rnd} GROUP BY pair
),
b{rnd} AS (
  SELECT pair, cnt FROM c{rnd} ORDER BY cnt DESC, pair LIMIT 1
),
w{rnd} AS (
  SELECT replace(s, ' ' || b.pair || ' ',
                 ' ' || replace(b.pair, '  ', '') || ' ') AS s, freq
  FROM {prev} CROSS JOIN b{rnd} b
)""")
        prev = f"w{rnd}"
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS round,"
        f" split_part(pair, '  ', 1) AS \"left\","
        f" split_part(pair, '  ', 2) AS \"right\","
        f" replace(pair, '  ', '') AS merged,"
        f" cnt AS pair_count FROM b{r}"
        for r in range(1, _BPE_TRAIN_ROUNDS + 1)
    )
    return f"""
WITH words AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({TOKS_DUCK}) AS w FROM documents)
  GROUP BY w
),
vocab AS (
  SELECT w, freq FROM words ORDER BY freq DESC, w LIMIT {_BPE_VOCAB}
),
w0 AS (
  SELECT {spaced} AS s, freq FROM vocab
),{",".join(rounds)}
{selects}
"""


QUERIES["q_bpe_train"] = (q_bpe_train, _bpe_train_oracle())
