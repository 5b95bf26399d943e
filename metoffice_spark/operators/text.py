"""Text-analysis operators over ``documents`` (SURVEY.md §2.11,
q_text_analysis + the training-data-pipeline text suite).

Pure EXT (no reference analog — the reference's only string handling
is the scrape slice, MWC:179-183, covered by q_src_text_scrape /
q_fn_str_locate). Everything here is built-in Catalyst expressions —
split/explode/regexp/aggregate lambdas — no Python in the hot path.

Cross-engine determinism: all counts are integers; every ratio is a
single IEEE divide of two exact integers, so Spark and DuckDB agree
bitwise. Marker-occurrence counts use the replace-length trick
(``(len(s) - len(replace(s, m, ''))) / len(m)``), which is defined
identically (non-overlapping, left-to-right) in both engines.

Scale notes: per-document metrics are map-only (no shuffle at all);
the term-frequency query shuffles (lang, term) pairs once with
map-side partial aggregation; the top-k window partitions by lang —
bounded cardinality, no skew hotspot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.llm import TOKS_DUCK, TOKS_SPARK


# --- q_text_analysis: term frequencies + top-k per language -----------------

def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize -> per-(lang, term) counts -> top-10 terms per lang.

    The scale path: explode produces (lang, term) rows, partial
    aggregation combines map-side, the final shuffle carries one row
    per distinct (lang, term). The top-k window partitions by lang."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.expr(TOKS_SPARK)).alias("term")
    )
    counts = tok.groupBy("lang", "term").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("lang", "term", "cnt", "rnk")
    )


ORACLE_TEXT_ANALYSIS = f"""
SELECT lang, term, cnt, CAST(rn AS INT) AS rnk FROM (
  SELECT lang, term, count(*) AS cnt,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, term) AS rn
  FROM (SELECT lang, unnest({TOKS_DUCK}) AS term FROM documents)
  GROUP BY lang, term)
WHERE rn <= 10
"""


# --- q_text_langid: stopword-marker language ID ------------------------------

# Tiny marker lists per language; occurrences counted in ' '||lower||' '
# so word boundaries at the ends of the document count too.
_MARKERS = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " les "),
    "es": (" el ", " los ", " una "),
}


def _marker_count(padded: str, m: str) -> str:
    """Dialect-common occurrence count of marker ``m`` in ``padded``."""
    return (
        f"CAST((length({padded}) - length(replace({padded}, '{m}', '')))"
        f" / {len(m)} AS BIGINT)"
    )


_PADDED = "(' ' || lower(text) || ' ')"
_SCORES = {
    lang: "(" + " + ".join(_marker_count(_PADDED, m) for m in ms) + ")"
    for lang, ms in _MARKERS.items()
}
_PREDICT = f"""
CASE WHEN {_SCORES['en']} >= {_SCORES['de']} AND {_SCORES['en']} >= {_SCORES['fr']}
          AND {_SCORES['en']} >= {_SCORES['es']} THEN 'en'
     WHEN {_SCORES['de']} >= {_SCORES['fr']} AND {_SCORES['de']} >= {_SCORES['es']} THEN 'de'
     WHEN {_SCORES['fr']} >= {_SCORES['es']} THEN 'fr'
     ELSE 'es' END
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-marker language ID: deterministic stopword scoring with a
    fixed argmax precedence (en > de > fr > es on ties). Map-only —
    the 100 TB plan is a pure projection, zero shuffles."""
    return sql_frame(spark, sf_dir, ("documents",), ORACLE_TEXT_LANGID)


ORACLE_TEXT_LANGID = f"""
SELECT doc_id, lang,
       {_SCORES['en']} AS score_en,
       {_SCORES['de']} AS score_de,
       {_SCORES['fr']} AS score_fr,
       {_SCORES['es']} AS score_es,
       {_PREDICT} AS predicted_lang,
       ({_PREDICT}) = lang AS agrees
FROM documents
"""


# --- q_text_quality: heuristic quality scoring -------------------------------

# All inputs exact integers; every ratio is one divide; the composite
# score is a fixed arithmetic sequence on those ratios.
_Q_NTOK_SPARK = f"size({TOKS_SPARK})"
_Q_NTOK_DUCK = f"len({TOKS_DUCK})"
_Q_TOKCHARS_SPARK = (
    f"aggregate({TOKS_SPARK}, cast(0 as bigint), (a, t) -> a + length(t))"
)
_Q_TOKCHARS_DUCK = (
    f"list_aggregate(list_transform({TOKS_DUCK}, t -> length(t)), 'sum')"
)
_Q_NPUNCT = "length(text) - length(regexp_replace(text, '[.,;:!?]', '{g}'))"
_Q_NSTOP_SPARK = f"size(filter({TOKS_SPARK}, t -> t in ('the', 'a', 'and', 'of', 'to')))"
_Q_NSTOP_DUCK = (
    f"len(list_filter({TOKS_DUCK}, t -> t in ('the', 'a', 'and', 'of', 'to')))"
)


def _quality_exprs(ntok: str, tokchars: str, npunct: str, nstop: str) -> dict[str, str]:
    return {
        "n_tokens": f"CAST({ntok} AS BIGINT)",
        "n_chars_txt": "CAST(length(text) AS BIGINT)",
        "avg_token_len": f"CAST({tokchars} AS DOUBLE) / CAST({ntok} AS DOUBLE)",
        "punct_ratio": f"CAST({npunct} AS DOUBLE) / CAST(length(text) AS DOUBLE)",
        "stopword_ratio": f"CAST({nstop} AS DOUBLE) / CAST({ntok} AS DOUBLE)",
    }


_QUAL_SPARK = _quality_exprs(
    _Q_NTOK_SPARK,
    _Q_TOKCHARS_SPARK,
    _Q_NPUNCT.format(g=""),
    _Q_NSTOP_SPARK,
)
_QUAL_DUCK = _quality_exprs(
    _Q_NTOK_DUCK,
    _Q_TOKCHARS_DUCK,
    "length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))",
    _Q_NSTOP_DUCK,
)

# Composite score: long-enough docs with modest punctuation and a sane
# stopword share rank higher. Fixed op order -> bitwise-identical.
def _qscore(e: dict[str, str]) -> str:
    return (
        f"(CASE WHEN {e['n_tokens']} >= 20 THEN 0.4 ELSE 0.0 END"
        f" + (1.0 - {e['punct_ratio']}) * 0.3"
        f" + {e['stopword_ratio']} * 0.3)"
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword quality heuristics + composite score.
    Map-only projection — embarrassingly parallel at any scale."""
    docs = load(spark, sf_dir, "documents").filter(F.expr(_Q_NTOK_SPARK) > 0)
    cols = [F.expr(x).alias(name) for name, x in _QUAL_SPARK.items()]
    return docs.select(
        "doc_id",
        "lang",
        *cols,
        F.expr(_qscore(_QUAL_SPARK)).alias("quality_score"),
        (F.expr(_qscore(_QUAL_SPARK)) >= 0.5).alias("keep"),
    )


ORACLE_TEXT_QUALITY = f"""
SELECT doc_id, lang,
       {_QUAL_DUCK['n_tokens']} AS n_tokens,
       {_QUAL_DUCK['n_chars_txt']} AS n_chars_txt,
       {_QUAL_DUCK['avg_token_len']} AS avg_token_len,
       {_QUAL_DUCK['punct_ratio']} AS punct_ratio,
       {_QUAL_DUCK['stopword_ratio']} AS stopword_ratio,
       {_qscore(_QUAL_DUCK)} AS quality_score,
       {_qscore(_QUAL_DUCK)} >= 0.5 AS keep
FROM documents
WHERE {_Q_NTOK_DUCK} > 0
"""


# --- q_text_tokens: whitespace + BPE-ish token counting ---------------------

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space
# punctuation — the greedy regex shape GPT-style tokenizers use before
# merges. Counted via regexp_extract_all length (RE2/Java-common syntax).
_BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9 ]"
_WS_SPARK = "size(filter(split(text, ' +'), t -> t <> ''))"
_WS_DUCK = "len(list_filter(string_split_regex(text, ' +'), t -> t <> ''))"
_BPE_SPARK = f"size(regexp_extract_all(lower(text), '{_BPE_PAT}', 0))"
_BPE_DUCK = f"len(regexp_extract_all(lower(text), '{_BPE_PAT}'))"


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) rolled up per lang.

    Integer sums only — the per-lang rollup is a tiny-cardinality
    shuffle with map-side combine; the token counting itself is
    map-only JVM regex work."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.expr(_WS_SPARK).cast("bigint").alias("ws_tokens"),
        F.expr(_BPE_SPARK).cast("bigint").alias("bpe_tokens"),
        F.length("text").cast("bigint").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("ws_tokens_total"),
        F.sum("bpe_tokens").alias("bpe_tokens_total"),
        F.sum("chars").alias("chars_total"),
    )


ORACLE_TEXT_TOKENS = f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(CAST({_WS_DUCK} AS BIGINT)) AS BIGINT) AS ws_tokens_total,
       CAST(sum(CAST({_BPE_DUCK} AS BIGINT)) AS BIGINT) AS bpe_tokens_total,
       CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS chars_total
FROM documents
GROUP BY lang
"""


# --- q_text_fingerprint: shingle-hash document fingerprints ------------------

from metoffice_spark.operators.llm import _SHINGLES_DUCK, _SHINGLES_SPARK  # noqa: E402


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints: word-3-shingles hashed with md5;
    the min and max hash are the document's fingerprint anchors (the
    k=1 special case of a min-k sketch), plus the distinct-shingle
    count. Map-only; at scale the fingerprint feeds the dedup index."""
    docs = load(spark, sf_dir, "documents")
    shingled = (
        docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .select("doc_id", F.expr(_SHINGLES_SPARK).alias("sh"))
    )
    hashed = shingled.select(
        "doc_id",
        F.expr("transform(array_distinct(sh), s -> md5(s))").alias("hs"),
        F.expr("size(array_distinct(sh))").cast("bigint").alias("n_shingles"),
    )
    return hashed.select(
        "doc_id",
        "n_shingles",
        F.array_min("hs").alias("fp_min"),
        F.array_max("hs").alias("fp_max"),
    )


ORACLE_TEXT_FINGERPRINT = f"""
WITH shingled AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS sh
  FROM (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents)
  WHERE len(toks) >= 3
),
hashed AS (
  SELECT doc_id,
         list_transform(list_distinct(sh), s -> md5(s)) AS hs,
         CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
  FROM shingled
)
SELECT doc_id, n_shingles,
       list_aggregate(hs, 'min') AS fp_min,
       list_aggregate(hs, 'max') AS fp_max
FROM hashed
"""


# --- q_text_redact: PII scrubbing --------------------------------------------
#
# The driver corpus carries no PII, so the query plants a synthetic
# email + phone per document (identically in both engines), then
# redacts them — the standard scrub stage of a training-data pipeline.
# Patterns stay in the Java-regex/RE2 common subset.

_EMAIL_PAT = "[a-z0-9]+@[a-z0-9.]+[a-z]"
_PHONE_PAT = "\\+1-555-[0-9]{4}"          # regex: \+1-555-\d{4}
_PHONE_PAT_DUCK = _PHONE_PAT

_WITH_PII_SQL = (
    "text || ' contact: user' || CAST(doc_id AS STRING) || '@example.com"
    " phone +1-555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
)


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count + replace emails/phones with typed tags.
    Map-only regex work — embarrassingly parallel at any scale."""
    docs = load(spark, sf_dir, "documents")
    with_pii = docs.withColumn("t", F.expr(_WITH_PII_SQL))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_PAT, "<EMAIL>"),
        _PHONE_PAT,
        "<PHONE>",
    )
    return with_pii.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_PAT), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_PAT), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
        F.sha2(redacted, 256).alias("redacted_digest"),
    )


ORACLE_TEXT_REDACT = f"""
SELECT doc_id,
       CAST(length(regexp_extract_all(t, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
       CAST(length(regexp_extract_all(t, '{_PHONE_PAT_DUCK}')) AS BIGINT) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(t, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                                  '{_PHONE_PAT_DUCK}', '<PHONE>', 'g')) AS BIGINT)
         AS redacted_len,
       sha256(regexp_replace(regexp_replace(t, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                             '{_PHONE_PAT_DUCK}', '<PHONE>', 'g')) AS redacted_digest
FROM (SELECT doc_id, {_WITH_PII_SQL} AS t FROM documents)
"""


QUERIES = {
    "q_text_analysis": (q_text_analysis, ORACLE_TEXT_ANALYSIS),
    "q_text_redact": (q_text_redact, ORACLE_TEXT_REDACT),
    "q_text_langid": (q_text_langid, ORACLE_TEXT_LANGID),
    "q_text_quality": (q_text_quality, ORACLE_TEXT_QUALITY),
    "q_text_tokens": (q_text_tokens, ORACLE_TEXT_TOKENS),
    "q_text_fingerprint": (q_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
}


# --- q_text_vocab: BPE-style vocabulary induction (first merge round) --------
#
# The first iteration of byte-pair-encoding training: count adjacent
# symbol pairs inside words across the corpus and rank the merge
# candidates. Each further BPE round is the same count over re-merged
# symbols — this demonstrates the scalable core (explode -> count ->
# top-k), which is the part that touches all 100 TB.

_CHARS_SPARK = (
    "filter(split(tok, ''), c -> c <> '')"
)
_PAIRS_SPARK = (
    "transform(sequence(1, size(cs) - 1),"
    " i -> concat(element_at(cs, cast(i as int)), element_at(cs, cast(i + 1 as int))))"
)
_PAIRS_DUCK = "list_transform(range(1, len(cs)), i -> cs[i] || cs[i + 1])"


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 adjacent character pairs inside tokens (the first BPE
    merge candidates) with corpus-wide counts. Two shuffles total:
    the (pair) count aggregation (map-side combined) and the final
    top-k — at 100 TB the pair vocabulary is tiny, so the reduce side
    is trivially small."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(TOKS_SPARK)).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(_PAIRS_SPARK.replace("cs", f"({_CHARS_SPARK})"))
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    # distributed top-k; rank over the bounded 30-row result only
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(30)
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "pair", "cnt", "rnk"
    )


_PAIRS_DUCK_ON_TOK = _PAIRS_DUCK.replace("cs", "(string_split(tok, ''))")

ORACLE_TEXT_VOCAB = f"""
SELECT pair, cnt, CAST(rn AS INT) AS rnk FROM (
  SELECT pair, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, pair) AS rn
  FROM (
    SELECT unnest({_PAIRS_DUCK_ON_TOK}) AS pair
    FROM (
      SELECT unnest({TOKS_DUCK}) AS tok FROM documents
    ) WHERE length(tok) >= 2
  )
  GROUP BY pair)
WHERE rn <= 30
"""

QUERIES["q_text_vocab"] = (q_text_vocab, ORACLE_TEXT_VOCAB)


# --- q_text_chunk: overlapping token-window chunking (RAG prep) --------------
#
# Split every document into fixed-size overlapping token windows
# (size 64, stride 32) — the retrieval-corpus chunking step of a RAG /
# pretraining pipeline. Chunk boundaries are pure array arithmetic on
# the token array; the chunk body never leaves the map side (only its
# md5 fingerprint and token count shuffle if anything downstream
# aggregates).

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 32


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (doc, chunk): chunk index, token count, and the
    md5 fingerprint of the space-joined window.

    Scale: map-only — tokenize, generate start offsets with
    ``sequence``, explode, slice. No shuffle, no Python; at 100 TB
    this is the embarrassingly parallel stage before embedding."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.expr(TOKS_SPARK.format(col="text")).alias("toks")
    ).filter(F.size("toks") > 0)
    starts = F.expr(f"sequence(0, size(toks) - 1, {_CHUNK_STRIDE})")
    chunked = base.select(
        "doc_id",
        F.col("toks"),
        F.posexplode(starts).alias("chunk_idx", "s"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.expr(f"slice(toks, s + 1, {_CHUNK_SIZE})").alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("bigint").alias("n_chunk_toks"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_digest"),
    )


ORACLE_TEXT_CHUNK = f"""
WITH base AS (
  SELECT doc_id, {TOKS_DUCK.format(col="text")} AS toks FROM documents
),
nonempty AS (
  SELECT doc_id, toks FROM base WHERE len(toks) > 0
),
starts AS (
  SELECT doc_id, toks,
         unnest(range(0, len(toks), {_CHUNK_STRIDE})) AS s
  FROM nonempty
),
chunked AS (
  SELECT doc_id,
         CAST(s / {_CHUNK_STRIDE} AS INT) AS chunk_idx,
         list_slice(toks, s + 1, s + {_CHUNK_SIZE}) AS chunk
  FROM starts
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
       md5(array_to_string(chunk, ' ')) AS chunk_digest
FROM chunked
"""

QUERIES["q_text_chunk"] = (q_text_chunk, ORACLE_TEXT_CHUNK)


# --- q_text_entropy: token-distribution entropy per language -----------------
#
# Shannon entropy of the unigram distribution, a corpus-diversity /
# quality signal: H = ln(N) - (1/N) * sum(c_i * ln(c_i)). The inner
# sum uses the tfidf discipline (pipeline.py:385): ln over an exact
# integer count, floor-scaled to 1e6 fixed point, then an exact
# BIGINT sum — order-free and partial-agg safe; the outer ln/divide
# run once on exact integers with the identical expression.

_ENT_SCALE = 1_000_000
_ENT_OUT = 1_000_000_000  # output quantum: 9 decimal digits of entropy


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language: token count, distinct tokens, Shannon entropy of
    the token distribution (nats), and the normalized ratio against
    the uniform-distribution maximum ln(n_distinct).

    Scale: one (lang, token) partial-aggregated shuffle, then a
    #langs-row aggregate; bodies never move, only token strings."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.expr(TOKS_SPARK.format(col="text"))).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lnc_fp = F.floor(
        F.lit(float(_ENT_SCALE)) * F.log(F.col("c").cast("double"))
    ).cast("bigint")
    agg = counts.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * lnc_fp).cast("bigint").alias("clnc_fp"),
    )
    ent = F.log(F.col("n_tokens").cast("double")) - (
        F.col("clnc_fp").cast("double")
        / F.col("n_tokens").cast("double")
        / F.lit(float(_ENT_SCALE))
    )
    # n_distinct > 1 guard: a single-token stratum has ln(1) = 0 in
    # the denominator (Spark-ANSI crash vs DuckDB NULL); the ratio is
    # undefined there → definitionally NULL on both engines.
    #
    # The outer ln() is the one transcendental that escapes the
    # fixed-point discipline: Java Math.log is only 1-ulp-accurate,
    # libm's is correctly rounded, so the engines can disagree in the
    # 16th digit (seen on the seed-23/keep-250 fuzzed slice). Quantize
    # both outputs to 1e9 fixed point — floor then exact IEEE divide —
    # so 9 decimal digits survive and the ulp noise cannot.
    def _q9(col):
        return F.floor(F.lit(float(_ENT_OUT)) * col) / F.lit(float(_ENT_OUT))

    return agg.select(
        "lang",
        "n_tokens",
        "n_distinct",
        _q9(ent).alias("entropy_nats"),
        F.when(
            F.col("n_distinct") > 1,
            _q9(ent / F.log(F.col("n_distinct").cast("double"))),
        ).alias("entropy_ratio"),
    )


ORACLE_TEXT_ENTROPY = f"""
WITH counts AS (
  SELECT lang, t, count(*) AS c
  FROM (SELECT lang, unnest({TOKS_DUCK.format(col="text")}) AS t FROM documents)
  GROUP BY lang, t
),
agg AS (
  SELECT lang,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         CAST(sum(c * CAST(floor({_ENT_SCALE}e0 * ln(CAST(c AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS clnc_fp
  FROM counts GROUP BY lang
),
ent AS (
  SELECT lang, n_tokens, n_distinct,
         ln(CAST(n_tokens AS DOUBLE))
           - (CAST(clnc_fp AS DOUBLE) / CAST(n_tokens AS DOUBLE) / {_ENT_SCALE}e0)
           AS e
  FROM agg
)
SELECT lang, n_tokens, n_distinct,
       CAST(floor({_ENT_OUT}e0 * e) AS BIGINT) / {_ENT_OUT}e0 AS entropy_nats,
       CASE WHEN n_distinct > 1 THEN
         CAST(floor({_ENT_OUT}e0 * (e / ln(CAST(n_distinct AS DOUBLE)))) AS BIGINT)
           / {_ENT_OUT}e0 END AS entropy_ratio
FROM ent
"""

QUERIES["q_text_entropy"] = (q_text_entropy, ORACLE_TEXT_ENTROPY)
