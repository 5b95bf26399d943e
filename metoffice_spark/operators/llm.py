"""LLM-data-pipeline operators: dedup + similarity search + multimodal
(SURVEY.md §2.11 + q_dedup_exact; BASELINE.json north star).

The reference has no analog for these (pure EXT per SURVEY §2.11) —
they are the operators a 100 TB training-data pipeline needs over the
``documents`` / ``embeddings`` driver tables.

Cross-engine determinism rules used throughout (the oracle gate
compares doubles bitwise):

- **Integer fixed-point vectors**: every embedding component becomes
  ``floor(x * 1e6 + 0.5)`` as BIGINT. Integer sums are exact and
  order-free (no float-summation-order hazard between Spark's partial
  aggregation and DuckDB's), and the final ``dot / (sqrt(n2a) *
  sqrt(n2b))`` is a fixed sequence of correctly-rounded IEEE ops on
  exact integer inputs — bit-identical in both engines.
- **md5-hex minhashing**: "random" hash families are
  ``md5(seed || '|' || shingle)`` — deterministic, identical text in
  both dialects, uniformly distributed.
- **No float group-aggregates**: any SUM that feeds output goes over
  BIGINT.

Scale design (100 TB):
- exact dedup shuffles a 64-hex digest + doc_id, never the document
  text (q_dedup_exact);
- near-dup detection is MinHash + LSH banding: candidates are pairs
  sharing a band bucket (shuffle keyed on bucket), never all-pairs;
  verification runs only on candidates via an inverted-index join on
  distinct shingles (q_dedup_fuzzy);
- similarity search broadcasts the (small) query set and computes
  cosine JVM-side with ``zip_with``/``aggregate`` — no Python in the
  hot path; the LSH/IVF variants in this module bucket the corpus so
  the scan per query is a cluster, not the world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.session import scoped_persist

# --- shared dialect snippets ------------------------------------------------

# Text normalization (whitespace collapse + case fold + trim).
NORM_SPARK = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
NORM_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

# Tokens: lowercase alnum runs, empties dropped.
TOKS_SPARK = "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"
TOKS_DUCK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"


# Dot-safe vector-component bound. The cast bound
# (parity.FIXED_POINT_MAX) only guarantees the scaled
# component floor(x*1e6+0.5) fits int64; every downstream consumer
# SQUARES the scaled words and sums them across the vector (NORM2,
# DOT, PQ squared-diffs, Gram partials), so a component that merely
# passes the cast bound — e.g. 1e9, scaled 1e15, squared 1e30 — makes
# 13 of the 19 vector consumers RAISE on BOTH ANSI engines: not a
# wrong answer, but one corrupt word killing a 100 TB job. The bound
# must make the WORST consumer arithmetic total-safe:
#     dim_max * (B * 1e6)^2 < 2^63   with dim_max = 64 (FIXTURES.md)
#  => B < sqrt(2^63 / 64) / 1e6 ~ 380.3
# B = 9.0e1 keeps the one-significant-digit guard family and a ~17x
# margin (64 * (9.0e7)^2 ~ 5.2e17); squared DIFFS (ANN/PQ) double the
# word to 1.8e8, still 4.4x inside. Cross-row accumulations (kmeans
# centroid sums) stay safe to ~1e11 rows per group. A float32
# embedding component with |x| >= 90 is a failed encoding in any
# real vector space (stock data max |x| ~ 0.46), so this is the same
# vector-validity quarantine class as NaN — the whole vector nulls,
# the proven NULL-embedding shape. Keep the literal '9.0e1'
# textually identical on both engines.
VEC_COMPONENT_MAX_SQL = "9.0e1"

# Vector-space dimension (r13 dimvec probe,
# artifacts/FUZZPARITY_r13_extdimvec_FINDING.md). The embeddings
# table is a 64-dim vector space (FIXTURES.md; stock data uniformly
# len 64 at every SF), and DIMENSION is part of the space's identity:
# a truncated/padded/empty vector has no position in it any more than
# a NaN-carrying one does. The probe showed the mismatch class is the
# WORST kind — silently asymmetric, not a loud crash: Spark's
# zip_with NULL-pads the short side of a DOT (NULL product ⇒ NULL
# sum), while DuckDB's range(1, len(a)+1) indexing yields
# out-of-range NULLs that list_aggregate('sum') IGNORES (a partial
# dot over the overlapping prefix) — 12 of 18 embedding consumers
# diverged in VALUES or rowcount, plus two ANSI element_at raises on
# the empty shape. So dimension-validity is checked at the same
# substrate gateway as component-validity: wrong length ⇒ the vector
# quarantines to NULL, the proven NULL-embedding shape. Keep the
# literal '64' textually identical on both engines.
EMB_DIM_SQL = "64"


def _ivec_spark(col: str) -> str:
    """array<float> -> array<bigint> fixed-point at 1e-6 (Spark SQL).

    Vector-validity (r10 nanvec probe; bound retuned by the r13
    bigvec probe — see VEC_COMPONENT_MAX_SQL; dimension check added
    by the r13 dimvec probe — see EMB_DIM_SQL): a vector carrying any
    NaN/±Inf component is a FAILED encoding — it has no position in
    the vector space, and its fixed-point cast crashes both ANSI
    engines; a huge-but-finite component (|x| >= 9.0e1) is the same
    failure class whose squared fixed-point word would crash every
    dot/norm consumer instead; a wrong-DIMENSION vector (truncated /
    padded / empty) is the same class again, whose zip_with-vs-list-
    indexing mismatch SILENTLY diverges the engines; and a NULL
    COMPONENT (r13 nulvec probe) is an INCOMPLETE encoding — the
    probe showed letting it through is the same silent fork in a
    different guise (Spark's aggregate() lambda sum NULL-poisons the
    norm while DuckDB's list_aggregate('sum') ignores NULL words —
    a partial norm, 11 of 18 consumers diverging in values). In
    every case the vector becomes NULL, the exact shape the r07
    NULL-embedding probes already proved every consumer handles
    symmetrically (NULL norms, NULL cosine, natural exclusion from
    candidate sets). A NULL vector stays NULL: size(NULL) and
    exists(NULL, ...) are NULL, the CASE falls through, and
    transform(NULL) is NULL."""
    return (
        f"case when size({col}) != {EMB_DIM_SQL}"
        f" or exists({col}, x -> x is null"
        f" or not (abs(cast(x as double)) < {VEC_COMPONENT_MAX_SQL}))"
        f" then null else transform({col},"
        " x -> cast(floor(cast(x as double) * 1000000.0 + 0.5)"
        " as bigint)) end"
    )


def _ivec_duck(col: str) -> str:
    # len(list_filter(...)) > 0 is DuckDB's exists-lambda; the
    # explicit `x IS NULL OR` disjunct makes a NULL component a
    # quarantine hit on both engines (r13 nulvec probe) instead of a
    # 3VL fall-through whose downstream sum semantics diverge
    return (
        f"CASE WHEN len({col}) != {EMB_DIM_SQL}"
        f" OR len(list_filter({col}, x -> x IS NULL"
        f" OR NOT (abs(CAST(x AS DOUBLE)) < {VEC_COMPONENT_MAX_SQL}))) > 0"
        f" THEN NULL ELSE list_transform({col},"
        " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)"
        " AS BIGINT)) END"
    )


NORM2_SPARK = "aggregate({v}, cast(0 as bigint), (a, x) -> a + x * x)"
NORM2_DUCK = "list_aggregate(list_transform({v}, x -> x * x), 'sum')"

DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as bigint),"
    " (acc, p) -> acc + p)"
)
DOT_DUCK = (
    "list_aggregate(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]),"
    " 'sum')"
)


# Zero-norm guard on BOTH dialects: fixed-point rounding can collapse
# a tiny-magnitude embedding to the all-zero vector (n2 = 0), where
# the unguarded divide is NaN on Spark but NULL on DuckDB (sorts and
# >= filters then diverge). Cosine to a zero vector is undefined →
# definitionally NULL on both engines.
def _cos_spark(a: str, b: str, n2a: str, n2b: str) -> str:
    dot = DOT_SPARK.format(a=a, b=b)
    return (
        f"case when ({n2a}) > 0 and ({n2b}) > 0 then"
        f" cast({dot} as double) / (sqrt(cast({n2a} as double))"
        f" * sqrt(cast({n2b} as double))) end"
    )


def _cos_duck(a: str, b: str, n2a: str, n2b: str) -> str:
    dot = DOT_DUCK.format(a=a, b=b)
    return (
        f"CASE WHEN ({n2a}) > 0 AND ({n2b}) > 0 THEN"
        f" CAST({dot} AS DOUBLE) / (sqrt(CAST({n2a} AS DOUBLE))"
        f" * sqrt(CAST({n2b} AS DOUBLE))) END"
    )


# --- q_dedup_exact ----------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a digest of the *normalized* text.

    Scale: the shuffle key is sha256 hex (64 bytes), not the document
    body — at 100 TB the exchange moves digests + ids only. Keep-first
    = min(doc_id) per group (deterministic winner)."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        F.sha2(F.expr(NORM_SPARK), 256).alias("k"), "doc_id"
    )
    return (
        keyed.groupBy("k")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
        .select("doc_id", "dup_count")
    )


ORACLE_DEDUP_EXACT = f"""
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM (SELECT doc_id, sha256({NORM_DUCK}) AS k FROM documents)
GROUP BY k
"""


# --- q_dedup_fuzzy: MinHash + LSH banding -----------------------------------
#
# Word-3-shingles -> 12 minhashes (md5 family) -> 4 bands x 3 rows ->
# candidate pairs share a band bucket -> verify true Jaccard on the
# candidates only, via an inverted-index join on distinct shingles.
#
# The driver corpus has no near-duplicates (500/500 distinct), so the
# query plants them deterministically IN-QUERY (identically in both
# engines): every doc_id % 25 == 0 gains a variant copy with a short
# suffix appended — Jaccard ~0.9 against its original.

_N_MINHASH = 12
_BAND_ROWS = 3  # 4 bands x 3 rows
# Hot-bucket cap for the LSH band self-join: buckets larger than this
# are dropped before pairing (skew guard — see q_dedup_fuzzy).
_MAX_BUCKET = 64

_PLANT_SUFFIX = " planted near duplicate suffix"

_SHINGLES_SPARK = (
    "transform(sequence(1, size(toks) - 2),"
    " i -> concat(element_at(toks, cast(i as int)), ' ',"
    " element_at(toks, cast(i + 1 as int)), ' ',"
    " element_at(toks, cast(i + 2 as int))))"
)
_SHINGLES_DUCK = (
    "list_transform(range(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])"
)


# One hash pass per shingle: hs = md5('A|'||s) || md5('B|'||s) (64 hex
# chars), then minhash j is the min over shingles of the j-th 4-hex
# (16-bit) slice — the classic shared-hash shortcut: 2 md5 calls per
# shingle instead of 12, and a 6x smaller expression tree to compile.
# Slices of a strong hash are independent enough for LSH banding; the
# extra 16-bit collision mass is ~|shingles|/65536 (<0.3% here).
_HS_SPARK = "transform(sh, s -> concat(md5(concat('A|', s)), md5(concat('B|', s))))"
_HS_DUCK = "list_transform(sh, s -> md5('A|' || s) || md5('B|' || s))"


def _mh_spark(j: int) -> str:
    return f"array_min(transform(hs, h -> substring(h, {4 * j + 1}, 4)))"


def _mh_duck(j: int) -> str:
    return f"list_aggregate(list_transform(hs, h -> substring(h, {4 * j + 1}, 4)), 'min')"


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a small-but-CPU-heavy input across all cores.

    The driver tables arrive as one parquet file -> 1-2 scan
    partitions, which would serialize the md5/shingle work onto 2 of
    32 cores. Hash on the row key keeps results partition-independent
    (everything downstream is key-local or re-shuffled anyway)."""
    return df.repartition(F.col(key))


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_PLANT_SUFFIX)).alias("text"),
    )
    return _spread(docs.unionByName(planted), "doc_id")


_CORPUS_DUCK = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || '{_PLANT_SUFFIX}' AS text
  FROM documents WHERE doc_id % 25 = 0
)
"""


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    Plan shape at scale: one shuffle on band buckets generates the
    candidate pairs; verification then JOINS THE (FEW) CANDIDATES back
    to the materialized shingle-set table and computes Jaccard per row
    with ``array_intersect`` — never an all-pairs product, and no
    exploded shingle self-join (the candidate set is tiny relative to
    the corpus, so fetching both docs' sketches is the cheap side)."""
    corpus = _corpus(spark, sf_dir)
    shingled = (
        corpus.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .select("doc_id", F.array_distinct(F.expr(_SHINGLES_SPARK)).alias("sh"))
    )
    # The shingle table is referenced by BOTH the banding branch and
    # the verification branch (each a self-join). It is not persisted:
    # the plain plan ran no slower (A/B: 5 pairs, sf0.1). At 100 TB
    # these tables are *materialized* dedup indexes (write once, reuse
    # across runs).
    hashed = shingled.select("doc_id", F.expr(_HS_SPARK).alias("hs"))
    mh_cols = [F.expr(_mh_spark(j)).alias(f"mh{j}") for j in range(_N_MINHASH)]
    sigs = hashed.select("doc_id", *mh_cols)
    band_exprs = [
        F.md5(
            F.concat_ws(
                "#", *[f"mh{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS)]
            )
        ).alias(f"band{b}")
        for b in range(_N_MINHASH // _BAND_ROWS)
    ]
    banded = sigs.select("doc_id", *band_exprs)
    buckets = banded.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(_N_MINHASH // _BAND_ROWS)])
        ).alias("band_id", "bucket"),
    )
    # Hot-bucket guard (VERDICT r03): a degenerate band bucket (all
    # boilerplate docs hashing identically) would turn the self-join
    # below into one n-squared task at 100 TB. Drop buckets with more
    # than _MAX_BUCKET members BEFORE pairing — mirrored in the DuckDB
    # oracle so the semantics stay bitwise-identical. Oversized buckets
    # carry near-zero precision anyway (they pair everything with
    # everything); real near-dup clusters are small. An unbounded COUNT
    # window over (band_id, bucket) shares the pairing join's shuffle
    # key, so the guard costs no extra exchange of the bucket table
    # (vs. a groupBy + semi-join, which re-shuffles it twice).
    w_bucket = Window.partitionBy("band_id", "bucket")
    buckets = (
        buckets.withColumn("bsz", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("bsz") <= _MAX_BUCKET)
        .drop("bsz")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # Verification: fetch both candidates' shingle sets (pairs are few,
    # so they broadcast) and compute exact Jaccard row-local.
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    c = F.size(F.array_intersect("sh_a", "sh_b"))
    out = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "jaccard",
            c.cast("double")
            / (F.size("sh_a") + F.size("sh_b") - c).cast("double"),
        )
        .filter(F.col("jaccard") >= 0.6)
    )
    return out.select("doc_a", "doc_b", "jaccard")


def _fuzzy_oracle() -> str:
    mh_sql = ",\n         ".join(
        f"{_mh_duck(j)} AS mh{j}" for j in range(_N_MINHASH)
    )
    band_sql = ",\n         ".join(
        "md5(concat_ws('#', "
        + ", ".join(f"mh{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS))
        + f")) AS band{b}"
        for b in range(_N_MINHASH // _BAND_ROWS)
    )
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS bucket FROM bands"
        for b in range(_N_MINHASH // _BAND_ROWS)
    )
    jac = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    )
    return f"""
WITH {_CORPUS_DUCK.strip()},
shingled AS (
  SELECT doc_id, sh, {_HS_DUCK} AS hs
  FROM (
    SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
    FROM (SELECT doc_id, {TOKS_DUCK} AS toks FROM corpus)
    WHERE len(toks) >= 3
  )
),
sigs AS (
  SELECT doc_id,
         {mh_sql}
  FROM shingled
),
bands AS (
  SELECT doc_id,
         {band_sql}
  FROM sigs
),
buckets_raw AS (
  {band_union}
),
safe AS (
  SELECT band_id, bucket FROM buckets_raw
  GROUP BY band_id, bucket HAVING count(*) <= {_MAX_BUCKET}
),
buckets AS (
  SELECT bu.* FROM buckets_raw bu JOIN safe USING (band_id, bucket)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b, {jac} AS jaccard
FROM pairs p
JOIN shingled a ON a.doc_id = p.doc_a
JOIN shingled b ON b.doc_id = p.doc_b
WHERE {jac} >= 0.6
"""


ORACLE_DEDUP_FUZZY = _fuzzy_oracle()


# --- q_sim_search: brute-force cosine top-k ---------------------------------

def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k=5 per query vector (queries = vec_id < 8).

    The query side is broadcast (tiny), the corpus side streams —
    one pass over the corpus, no shuffle of embeddings. All arithmetic
    is JVM-side ``zip_with``/``aggregate`` over fixed-point BIGINTs.
    Scale path beyond brute force = q_sim_search_ivf."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.expr(_ivec_spark("embedding")).alias("v")
    ).withColumn("n2", F.expr(NORM2_SPARK.format(v="v")))
    q = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("n2").alias("qn2")
    )
    c = base.filter(F.col("vec_id") >= 8)
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        F.expr(_cos_spark("qv", "v", "qn2", "n2")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "vec_id", "cos_sim", "rnk")
    )


ORACLE_SIM_SEARCH = f"""
WITH base AS (
  SELECT vec_id, {_ivec_duck('embedding')} AS v FROM embeddings
),
b2 AS (
  SELECT vec_id, v, {NORM2_DUCK.format(v='v')} AS n2 FROM base
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         {_cos_duck('q.v', 'c.v', 'q.n2', 'c.n2')} AS cos_sim
  FROM b2 q JOIN b2 c ON q.vec_id < 8 AND c.vec_id >= 8
)
SELECT q_id, vec_id, cos_sim, CAST(rn AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored)
WHERE rn <= 5
"""


# --- q_sim_search_lsh: sign-random-projection LSH bucketed search ------------
#
# _N_PLANES deterministic hyperplanes with +/-1 entries derived from
# md5 (via hashlib at module load — plain constants, embedded as
# identical literals in both dialects). A vector's bucket is the
# _N_PLANES-bit sign pattern of its plane dots (exact BIGINT sums);
# queries multi-probe their own bucket plus all _N_PLANES hamming-1
# neighbors (8 planes -> 9 probed buckets of 256). Approximate by
# design: recall comes from probing, and the oracle runs the identical
# algorithm.

# 8 planes -> 256 buckets: sized so a bucket holds ~corpus/256 vectors
# and hamming-1 multiprobe (9 buckets) yields a few dozen candidates at
# the driver corpus size. At a larger corpus, raise the plane count to
# keep buckets at the target occupancy (buckets scale as 2^planes).
_N_PLANES = 8
_DIM = 64


def _plane_signs() -> list[list[int]]:
    import hashlib

    planes = []
    for j in range(_N_PLANES):
        hx = (
            hashlib.md5(f"P{j}A".encode()).hexdigest()
            + hashlib.md5(f"P{j}B".encode()).hexdigest()
        )
        planes.append([1 if c in "89abcdef" else -1 for c in hx[:_DIM]])
    return planes


_PLANES = _plane_signs()


def _plane_lit_spark(j: int) -> str:
    return "array(" + ", ".join(str(x) for x in _PLANES[j]) + ")"


def _plane_lit_duck(j: int) -> str:
    return "[" + ", ".join(str(x) for x in _PLANES[j]) + "]"


def _bucket_spark() -> str:
    dots = [
        "aggregate(zip_with(v, "
        + _plane_lit_spark(j)
        + ", (x, p) -> x * cast(p as bigint)), cast(0 as bigint), (a, t) -> a + t)"
        for j in range(_N_PLANES)
    ]
    return (
        "cast("
        + " + ".join(
            f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)" for j, d in enumerate(dots)
        )
        + " as bigint)"
    )


def _bucket_duck() -> str:
    dots = [
        "list_aggregate(list_transform(range(1, len(v) + 1),"
        f" i -> v[i] * ({_plane_lit_duck(j)})[i]), 'sum')"
        for j in range(_N_PLANES)
    ]
    return (
        "CAST("
        + " + ".join(
            f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)" for j, d in enumerate(dots)
        )
        + " AS BIGINT)"
    )


# bucket with bit j flipped, dialect-common (no xor needed)
def _flip(j: int) -> str:
    p = 1 << j
    return (
        f"CASE WHEN CAST(floor(bucket / {p}.0) AS BIGINT) % 2 = 1"
        f" THEN bucket - {p} ELSE bucket + {p} END"
    )


_PROBES_SPARK = "array(bucket, " + ", ".join(_flip(j) for j in range(_N_PLANES)) + ")"
_PROBES_DUCK = "[bucket, " + ", ".join(_flip(j) for j in range(_N_PLANES)) + "]"


def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed similarity search (sign random projections).

    Scale shape: the corpus is hashed once into _N_PLANES-bit buckets
    (8 planes -> 256 buckets, a partitionable key); each query probes
    _N_PLANES + 1 = 9 buckets (own + hamming-1) via an equi-join on
    bucket id — the scan per query is
    the candidate buckets, never the corpus. Candidates are ranked by
    exact fixed-point cosine; output is approximate top-5 (whatever
    the probed buckets contain), identically in both engines."""
    emb = load(spark, sf_dir, "embeddings")
    # kept: the plain plan ran 1.23x slower (A/B: 5 pairs, sf0.1)
    base = scoped_persist(
        _spread(emb, "vec_id")
        .select("vec_id", F.expr(_ivec_spark("embedding")).alias("v"))
        .withColumn("n2", F.expr(NORM2_SPARK.format(v="v")))
        .withColumn("bucket", F.expr(_bucket_spark()))
    )
    q = base.filter(F.col("vec_id") < 8)
    c = base.filter(F.col("vec_id") >= 8)
    probes = q.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
        F.explode(F.expr(_PROBES_SPARK)).alias("probe"),
    )
    cand = probes.join(c, probes.probe == c.bucket).select(
        "q_id",
        "vec_id",
        F.expr(_cos_spark("qv", "v", "qn2", "n2")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "vec_id", "cos_sim", "rnk")
    )


ORACLE_SIM_SEARCH_LSH = f"""
WITH base AS (
  SELECT vec_id, v, {NORM2_DUCK.format(v='v')} AS n2, {_bucket_duck()} AS bucket
  FROM (SELECT vec_id, {_ivec_duck('embedding')} AS v FROM embeddings)
),
probes AS (
  SELECT vec_id AS q_id, v AS qv, n2 AS qn2, unnest({_PROBES_DUCK}) AS probe
  FROM base WHERE vec_id < 8
),
cand AS (
  SELECT p.q_id, c.vec_id,
         {_cos_duck('p.qv', 'c.v', 'p.qn2', 'c.n2')} AS cos_sim
  FROM probes p JOIN base c ON p.probe = c.bucket AND c.vec_id >= 8
)
SELECT q_id, vec_id, cos_sim, CAST(rn AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM cand)
WHERE rn <= 5
"""


# --- q_multimodal_cols: opaque binary payload + typed metadata ---------------


def _utf8_bytes(t: str) -> str:
    """DuckDB expression: the REAL UTF-8 byte list of text ``t``.

    Each character's code point (unicode()) expands to its UTF-8
    byte sequence with pure integer CASE arithmetic — the encoding is
    a closed-form function of the code point, so the byte-domain
    multimodal oracles hold for ARBITRARY text, not just ASCII (r11
    unicode axis; verified exact against Python's encoder on
    BMP/astral/RTL/combining probes). DuckDB's own STRING->BLOB cast
    can't do this job: it RAISES on any non-ASCII character.

    Loud-failure tripwire (ADVICE r11 item 2): a code point outside
    well-formed UTF-8's domain — the surrogate range U+D800-U+DFFF or
    anything above U+10FFFF — error()s instead of silently emitting
    CESU-8-style bytes that would diverge from Spark's
    encode(text,'UTF-8') payload. Unreachable with well-formed parquet
    strings; it exists so an oracle-invalid input fails loudly (the
    house pattern the pre-r11 pure-ASCII guard established)."""
    return (
        f"flatten(list_transform("
        f"list_transform(range(1, length({t}) + 1),"
        f" i -> unicode(substring({t}, CAST(i AS INT), 1))),"
        f" cp -> CASE"
        f" WHEN (cp >= 55296 AND cp < 57344) OR cp > 1114111"
        f" THEN [CAST(error('utf8 oracle: invalid code point') AS BIGINT)]"
        f" WHEN cp < 128 THEN [cp]"
        f" WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]"
        f" WHEN cp < 65536 THEN [224 + cp // 4096,"
        f" 128 + (cp // 64) % 64, 128 + cp % 64]"
        f" ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64,"
        f" 128 + (cp // 64) % 64, 128 + cp % 64] END))"
    )


def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: an opaque ``binary`` payload plus a
    typed metadata struct carried through filter -> join -> agg, with
    array-typed embeddings reduced to hashable scalars at the end.

    At 100 TB the payload column is image/audio bytes; everything here
    (struct-field filter, equi-join, byte-length sums, digests) stays
    JVM-side and column-pruned — the binary column is only read where
    actually referenced."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    assets = docs.select(
        "doc_id",
        "lang",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("n_chars").alias("n_chars"), F.col("source").alias("src")
        ).alias("meta"),
    )
    big = assets.filter(F.col("meta.n_chars") > 200)
    joined = big.join(emb, big.doc_id == emb.vec_id)
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum(F.length("payload").cast("bigint")).alias("total_bytes"),
            F.min(F.md5("payload")).alias("min_digest"),
            F.sum(
                F.expr(
                    # 9.0e1 = VEC_COMPONENT_MAX_SQL: the checksum
                    # SUMS scaled words across rows, so the dot-safe
                    # vector bound (not the scalar cast bound) is the
                    # one that keeps the accumulation inside int64.
                    # 64 = EMB_DIM_SQL (r13 dimvec probe): the outer
                    # CASE must gate on dimension BEFORE element_at
                    # touches the array — ANSI element_at(v, 1) on an
                    # empty vector raises on Spark while DuckDB's
                    # v[1] answers NULL, an asymmetric raise the
                    # probe caught on this exact site; nesting (not
                    # AND) guarantees the access is never evaluated
                    # for an out-of-dimension vector
                    "case when size(embedding) = 64 then"
                    " case when abs(cast(element_at(embedding, 1)"
                    " as double)) < 9.0e1"
                    " then cast(floor(cast(element_at(embedding, 1)"
                    " as double) * 1000000.0 + 0.5) as bigint) end end"
                )
            ).alias("emb0_fp_sum"),
        )
        .select("lang", "n_assets", "total_bytes", "min_digest", "emb0_fp_sum")
    )


ORACLE_MULTIMODAL_COLS = """
SELECT d.lang,
       count(*) AS n_assets,
       -- strlen = UTF-8 byte count (r11 unicode axis: the old
       -- CAST(text AS BLOB) raises on any non-ASCII character)
       CAST(sum(strlen(d.text)) AS BIGINT) AS total_bytes,
       min(md5(d.text)) AS min_digest,
       CAST(sum(CASE WHEN len(e.embedding) = 64
                      AND abs(CAST(e.embedding[1] AS DOUBLE)) < 9.0e1
                THEN CAST(floor(CAST(e.embedding[1] AS DOUBLE)
                               * 1000000.0 + 0.5) AS BIGINT) END) AS BIGINT)
         AS emb0_fp_sum
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.n_chars > 200
GROUP BY d.lang
"""


# --- q_dedup_simhash: 64-bit SimHash with lossless band blocking -------------
#
# Bit j of a document's SimHash is the sign of sum over tokens (with
# multiplicity) of +/-1 driven by the j-th hex nibble's high bit of
# md5('A|'||token) (bits 0-31) / md5('B|'||token) (bits 32-63) — a
# deterministic 64-bit hash family both engines compute identically.
# Candidate pairs come from 8 bands x 8 bits; with hamming <= 6 at
# least one band must match exactly (pigeonhole), so the banding is
# LOSSLESS for the threshold — the scale path never does all-pairs.

_SIMHASH_THR = 6


def _simhash_sums_sql() -> str:
    def bit(j: int) -> str:
        src = "md5('A|' || token)" if j < 32 else "md5('B|' || token)"
        pos = (j % 32) + 1
        return (
            f"SUM(CASE WHEN substring({src}, {pos}, 1) IN"
            " ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)"
            f" AS s{j}"
        )

    return ",\n         ".join(bit(j) for j in range(64))


_SIM_LO = " + ".join(f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
_SIM_HI = " + ".join(
    f"(CASE WHEN s{j} >= 0 THEN {1 << (j - 32)} ELSE 0 END)" for j in range(32, 64)
)


def _simhash_bands_sql() -> str:
    parts = []
    for b in range(8):
        word = "lo" if b < 4 else "hi"
        shift = float(1 << (8 * (b % 4)))
        parts.append(f"CAST(floor({word} / {shift}) AS BIGINT) % 256 AS band{b}")
    return ",\n         ".join(parts)


# SQL from a ``sim_tok`` relation of (doc_id, token) to the 64-bit
# signature table (dialect-common).
_SIMHASH_SIGS_SQL = """
SELECT doc_id, CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi
FROM (
  SELECT doc_id,
         {sums}
  FROM sim_tok GROUP BY doc_id
)
"""


def _simhash_pairs_sql(hamming: str) -> str:
    """Banding + candidate pairs from a ``sim_sigs`` relation of
    (doc_id, lo, hi); only the hamming expr differs per dialect."""
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, lo, hi, {b} AS band_id, band{b} AS bucket FROM bands"
        for b in range(8)
    )
    return f"""
WITH bands AS (
  SELECT doc_id, lo, hi,
         {_simhash_bands_sql()}
  FROM sim_sigs
),
buckets AS (
  {band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.lo AS lo_a, a.hi AS hi_a,
                  b.doc_id AS doc_b, b.lo AS lo_b, b.hi AS hi_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({hamming} AS INT) AS hamming
FROM cand
WHERE {hamming} <= {_SIMHASH_THR}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit, 8-band lossless blocking).

    Shuffles: one groupBy(doc_id) for the bit sums, one on band
    buckets for candidates — never an all-pairs product. The signature
    table (16 bytes/doc) is persisted: both sides of the bucket
    self-join read it, and at 100 TB it is a materialized index. On
    this corpus SimHash is intentionally coarse (every doc shares the
    same vocabulary), so the pair set is larger than MinHash's — that
    IS the operator's semantics (topical near-duplication)."""
    corpus = _corpus(spark, sf_dir)
    corpus.createOrReplaceTempView("simhash_corpus")
    spark.sql(
        f"SELECT doc_id, explode({TOKS_SPARK}) AS token FROM simhash_corpus"
    ).createOrReplaceTempView("sim_tok")
    # kept: the plain plan ran 21.3x slower (A/B: 5 pairs, sf0.1)
    sigs = scoped_persist(spark.sql(
        _SIMHASH_SIGS_SQL.format(lo=_SIM_LO, hi=_SIM_HI, sums=_simhash_sums_sql())
    ))
    sigs.createOrReplaceTempView("sim_sigs")
    hamming = "bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)"
    return spark.sql(_simhash_pairs_sql(hamming))


ORACLE_DEDUP_SIMHASH = (
    f"""
WITH {_CORPUS_DUCK.strip().replace('corpus AS', 'simhash_corpus AS', 1)},
sim_tok AS (
  SELECT doc_id, unnest({TOKS_DUCK}) AS token
  FROM simhash_corpus
),
sim_sigs AS (
{_SIMHASH_SIGS_SQL.format(lo=_SIM_LO, hi=_SIM_HI, sums=_simhash_sums_sql())}
),
"""
    + _simhash_pairs_sql(
        "bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))"
    ).lstrip().removeprefix("WITH ")
)


# --- q_dedup_ngram_jaccard: exact bigram Jaccard via inverted index ----------

_NGRAM_DF_CUTOFF = 50   # drop stop-shingles present in > 50 docs
_NGRAM_JAC_THR = 0.3

_BIGRAMS_SPARK = (
    "transform(sequence(1, size(toks) - 1),"
    " i -> concat(element_at(toks, cast(i as int)), ' ',"
    " element_at(toks, cast(i + 1 as int))))"
)
_BIGRAMS_DUCK = "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard over candidate pairs from an inverted
    index, with a document-frequency cutoff on stop-shingles.

    This is the 100 TB shape for exact n-gram dedup: the only shuffle
    keys are bigrams (with hot keys removed by the DF cutoff — the
    skew lever) and (doc_a, doc_b) pair ids. Jaccard is computed over
    the rare-bigram sets on both sides, identically."""
    corpus = _corpus(spark, sf_dir)
    # .distinct() makes the posting list a SET at (doc_id, bg) level
    # ACROSS rows, not just within one row's array_distinct — the
    # oracle's SELECT DISTINCT semantics. Without it a duplicate-id
    # delivery (r09 drdocs probe) double-counts every posting: DF
    # counts drift past the cutoff asymmetrically and the intersection
    # multiplicities can push c past na+nb-c (a DIVIDE_BY_ZERO crash,
    # llm.py jaccard denominator). Standard inverted-index builds
    # dedup postings; the extra (doc_id, bg) exchange is the price of
    # a well-defined index under at-least-once ingest.
    bigr = (
        corpus.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .filter(F.expr("size(toks) >= 2"))
        .select("doc_id", F.explode(F.array_distinct(F.expr(_BIGRAMS_SPARK))).alias("bg"))
        .distinct()
    )
    df_counts = bigr.groupBy("bg").agg(F.count("*").alias("n_docs"))
    # the rare-bigram inverted index feeds three consumers (sizes + both
    # sides of the intersection self-join) — persist it once; at 100 TB
    # it is the materialized posting-list table
    # kept: plain 1.78x slower, 3.42x in q_dedup_components (A/B: 5 pairs, sf0.1)
    rare = scoped_persist(
        bigr.join(df_counts.filter(F.col("n_docs") <= _NGRAM_DF_CUTOFF), "bg")
        .select("doc_id", "bg")
    )
    sizes = rare.groupBy("doc_id").agg(F.count("*").alias("n"))
    ra, rb = rare.alias("ra"), rare.alias("rb")
    inter = (
        ra.join(rb, (F.col("ra.bg") == F.col("rb.bg")) & (F.col("ra.doc_id") < F.col("rb.doc_id")))
        .select(F.col("ra.doc_id").alias("doc_a"), F.col("rb.doc_id").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c")).cast("double"),
        )
        .filter(F.col("jaccard") >= _NGRAM_JAC_THR)
    )
    return out.select("doc_a", "doc_b", "jaccard")


ORACLE_DEDUP_NGRAM = f"""
WITH {_CORPUS_DUCK.strip()},
bigr AS (
  SELECT DISTINCT doc_id, unnest({_BIGRAMS_DUCK}) AS bg
  FROM (SELECT doc_id, {TOKS_DUCK} AS toks FROM corpus)
  WHERE len(toks) >= 2
),
dfc AS (SELECT bg, count(*) AS n_docs FROM bigr GROUP BY bg),
rare AS (
  SELECT b.doc_id, b.bg FROM bigr b
  JOIN dfc ON dfc.bg = b.bg AND dfc.n_docs <= {_NGRAM_DF_CUTOFF}
),
sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
inter AS (
  SELECT ra.doc_id AS doc_a, rb.doc_id AS doc_b, count(*) AS c
  FROM rare ra JOIN rare rb ON ra.bg = rb.bg AND ra.doc_id < rb.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(i.c AS DOUBLE) / CAST(na.n + nb.n - i.c AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.c AS DOUBLE) / CAST(na.n + nb.n - i.c AS DOUBLE) >= {_NGRAM_JAC_THR}
"""


# --- q_dedup_embed_cosine: embedding near-dup pairs, label-blocked -----------

# Deterministic perturbation for the planted variants (dialect-common
# inside the transform lambda; scientific literals are DOUBLE in both).
_PERTURB = "cast(cast(x as double) * 1.05e0 + 1.0e-2 as float)"
_COS_THR = 0.98


def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the coarse
    IVF partition): only same-label pairs are compared — at 100 TB the
    blocking key is the cluster assignment, so each task does
    |cluster|^2 work instead of N^2. Planted variants (vec_id % 25,
    scaled + shifted) sit at cos >= 0.997; natural same-label pairs
    top out at ~0.47 on this corpus."""
    emb = load(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(f"transform(embedding, x -> {_PERTURB})").alias("embedding"),
        F.col("label"),
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(planted)
    base = corpus.select(
        "vec_id", "label", F.expr(_ivec_spark("embedding")).alias("v")
    ).withColumn("n2", F.expr(NORM2_SPARK.format(v="v")))
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label"),
        F.col("v").alias("va"), F.col("n2").alias("n2a"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label"),
        F.col("v").alias("vb"), F.col("n2").alias("n2b"),
    )
    pairs = a.join(b, "label").filter(F.col("vec_a") < F.col("vec_b"))
    out = pairs.select(
        "label",
        "vec_a",
        "vec_b",
        F.expr(_cos_spark("va", "vb", "n2a", "n2b")).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= _COS_THR)
    return out


ORACLE_DEDUP_EMBED = f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> {_PERTURB}), label
  FROM embeddings WHERE vec_id % 25 = 0
),
base AS (
  SELECT vec_id, label, {_ivec_duck('embedding')} AS v FROM corpus
),
b2 AS (
  SELECT vec_id, label, v, {NORM2_DUCK.format(v='v')} AS n2 FROM base
)
SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_cos_duck('a.v', 'b.v', 'a.n2', 'b.n2')} AS cos_sim
FROM b2 a JOIN b2 b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_cos_duck('a.v', 'b.v', 'a.n2', 'b.n2')} >= {_COS_THR}
"""


# --- q_sim_search_ivf: IVF-style clustered search ----------------------------

def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF similarity search: ``label`` is the coarse cluster (inverted
    file list); each query probes only its best cluster, chosen by
    cosine against exact-integer cluster centroids.

    Centroids are per-dimension BIGINT sums (cos is scale-invariant,
    so the /n division is skipped — the sum IS the centroid direction,
    and integer sums are exact + order-free in both engines). At
    100 TB: the corpus is stored clustered (partitioned by label), a
    query reads ~1/k of the data — this is the scale path over
    q_sim_search's full scan. Every shuffle key is a dimension index,
    a cluster label or a q_id, never an embedding payload."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", F.expr(_ivec_spark("embedding")).alias("v")
    ).withColumn("n2", F.expr(NORM2_SPARK.format(v="v")))
    q = base.filter(F.col("vec_id") < 8)
    c = base.filter(F.col("vec_id") >= 8)

    # centroid direction: per-(label, dim) integer sums over the corpus
    cd = (
        c.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"))
    )
    cnorm = cd.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("cn2"))

    # query x centroid scores in exploded space (join on dim)
    qd = q.select(F.col("vec_id").alias("q_id"), F.posexplode("v").alias("d", "qx"))
    scores = (
        qd.join(cd, "d")
        .groupBy("q_id", "label")
        .agg(F.sum(F.col("qx") * F.col("s")).alias("dot"))
        .join(cnorm, "label")
        .select(
            "q_id",
            "label",
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("cn2").cast("double"))
            ).alias("score"),
        )
    )
    w_best = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("label"))
    probe = (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("label").alias("probe_label"))
    )

    # exact search inside the probed cluster only
    qv = q.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("n2").alias("qn2"))
    cand = (
        c.join(
            F.broadcast(probe), c.label == probe.probe_label
        )
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "probe_label",
            "vec_id",
            F.expr(_cos_spark("qv", "v", "qn2", "n2")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "probe_label", "vec_id", "cos_sim", "rnk")
    )


ORACLE_SIM_SEARCH_IVF = f"""
WITH base AS (
  SELECT vec_id, label, {_ivec_duck('embedding')} AS v FROM embeddings
),
b2 AS (
  SELECT vec_id, label, v, {NORM2_DUCK.format(v='v')} AS n2 FROM base
),
qs AS (SELECT * FROM b2 WHERE vec_id < 8),
cs AS (SELECT * FROM b2 WHERE vec_id >= 8),
cd AS (
  SELECT label, d, sum(x) AS s FROM (
    SELECT label, unnest(range(1, len(v) + 1)) AS d, unnest(v) AS x FROM cs)
  GROUP BY label, d
),
cnorm AS (SELECT label, sum(s * s) AS cn2 FROM cd GROUP BY label),
qd AS (
  SELECT vec_id AS q_id, unnest(range(1, len(v) + 1)) AS d, unnest(v) AS qx FROM qs
),
scores AS (
  SELECT qd.q_id, cd.label,
         CAST(sum(qd.qx * cd.s) AS DOUBLE) / sqrt(CAST(any_value(cn.cn2) AS DOUBLE))
           AS score
  FROM qd JOIN cd ON qd.d = cd.d JOIN cnorm cn ON cn.label = cd.label
  GROUP BY qd.q_id, cd.label
),
probe AS (
  SELECT q_id, label AS probe_label FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, label) AS rn
    FROM scores) WHERE rn = 1
),
cand AS (
  SELECT p.q_id, p.probe_label, c.vec_id,
         {_cos_duck('q.v', 'c.v', 'q.n2', 'c.n2')} AS cos_sim
  FROM probe p
  JOIN qs q ON q.vec_id = p.q_id
  JOIN cs c ON c.label = p.probe_label
)
SELECT q_id, probe_label, vec_id, cos_sim, CAST(rn AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM cand)
WHERE rn <= 5
"""


# --- q_multimodal_decode: mapInPandas decode/feature-extract pipeline --------

# Luminance threshold for the dark-fraction feature: bytes below this
# 8-bit value count as "dark" (mirrored literally in the oracle).
_DARK_CUTOFF = 110


def _pil_image():
    """Executor-side optional-codec probe: PIL.Image when installed,
    else None (cached). Detection is per-interpreter so each worker
    resolves its own environment."""
    global _PIL_IMAGE
    if _PIL_IMAGE is _UNRESOLVED:
        try:
            from PIL import Image  # type: ignore[import-not-found]

            _PIL_IMAGE = Image
        except ImportError:
            _PIL_IMAGE = None
    return _PIL_IMAGE


_UNRESOLVED = object()
_PIL_IMAGE = _UNRESOLVED


def _decode_batches(batches):
    """Arrow-batched decode of opaque binary payloads.

    Routing is CONTRACTUAL, on the typed metadata's ``enc`` field —
    never sniffed from payload bytes, since a genuine RAW luminance
    buffer may legally begin with any byte sequence, including a
    codec magic (round-6 review). ``enc='raw'`` payloads are 8-bit
    luminance buffers — for that format this IS the real decode, done
    with numpy over the Arrow batch (no per-row Python): byte mean
    (brightness), byte min/max, and the dark-pixel fraction all come
    from the actual bytes of the binary column. Any other ``enc``
    (png/jpeg/...) routes through ``_codec_decode`` — a real PIL
    luminance decode when PIL is installed, a loud
    NotImplementedError when it is not (compressed bytes must never
    be silently scored as luminance); frame count for 'video' comes
    from the typed metadata."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        mins, maxs, sums, darks, lens = [], [], [], [], []
        for payload, meta in zip(pdf["payload"], pdf["meta"]):
            if payload is None:
                # missing asset: score as an empty payload (n_bytes 0,
                # zeroed stats) on BOTH engines — the oracle coalesces
                # NULL text to '' (r07 null-text fuzz finding)
                px = np.frombuffer(b"", dtype=np.uint8)
            elif meta["enc"] == "raw":
                px = np.frombuffer(payload, dtype=np.uint8)
            else:
                px = _codec_decode(payload)
            lens.append(px.size)
            mins.append(int(px.min()) if px.size else 0)
            maxs.append(int(px.max()) if px.size else 0)
            sums.append(int(px.sum(dtype=np.int64)))
            darks.append(int((px < _DARK_CUTOFF).sum()))
        n_bytes = np.array(lens, dtype=np.int64)
        meta = pdf["meta"]
        fmt = meta.map(lambda m: m["fmt"])
        out = pdf[["doc_id"]].copy()
        out["fmt"] = fmt
        # masked Int32, not int32: metadata is an OPAQUE passthrough —
        # a missing width/height (e.g. derived from a NULL source
        # column) must surface as NULL, not crash the decode kernel
        # (r08 null-nchars fuzz finding; the oracle passes NULL too)
        out["width"] = pd.array(meta.map(lambda m: m["width"]), dtype="Int32")
        out["height"] = pd.array(meta.map(lambda m: m["height"]), dtype="Int32")
        out["n_bytes"] = n_bytes
        out["brightness"] = (
            np.array(sums, dtype=np.int64) // np.maximum(n_bytes, 1)
        ).astype("int32")
        out["px_min"] = np.array(mins, dtype=np.int32)
        out["px_max"] = np.array(maxs, dtype=np.int32)
        out["dark_frac_fp"] = (
            1_000_000 * np.array(darks, dtype=np.int64) // np.maximum(n_bytes, 1)
        )
        out["n_frames"] = (
            ((pdf["doc_id"] % 24) + 1).where(fmt == "video", 1).astype("int32")
        )
        yield out


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_decode_gray(payload: bytes):
    """Pure-stdlib PNG decode (zlib + numpy — no PIL) to a flat uint8
    luminance array. Implements the full PNG spec subset a training
    pipeline's image corpus actually uses: 8-bit depth, grayscale
    (colortype 0) and truecolor RGB (colortype 2), non-interlaced,
    all five scanline filters (None/Sub/Up/Average/Paeth). RGB
    converts to luminance with the ITU-R 601-2 fixed-point formula
    ((19595 R + 38470 G + 7471 B + 0x8000) >> 16) so a PIL-equipped
    environment produces identical integers. Unsupported variants
    (16-bit, palette, alpha, interlace) raise ValueError for the
    caller to route to PIL."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, width, height, colortype, idat = 8, None, None, None, []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            width, height, bitdepth, colortype, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if bitdepth != 8 or colortype not in (0, 2) or interlace != 0:
                raise ValueError(
                    f"unsupported PNG variant (depth={bitdepth}, "
                    f"color={colortype}, interlace={interlace})"
                )
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    bpp = 3 if colortype == 2 else 1
    stride = width * bpp
    try:
        # chunk CRCs are deliberately not re-verified (decode cost;
        # a corrupt stream fails structurally right here instead)
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # ValueError, not zlib.error: keeps the caller's fallback
        # contract — unsupported/corrupt PNGs route to PIL when
        # installed, loud failure when not
        raise ValueError(f"corrupt PNG zlib stream: {e}") from e
    if len(raw) != height * (stride + 1):
        raise ValueError("malformed PNG: scanline length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype, line = rows[y, 0], rows[y, 1:].astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            cur = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0  # left
                b = int(prev[x])  # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0  # up-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    if colortype == 0:
        return out.ravel()
    px = out.reshape(height, width, 3).astype(np.uint32)
    lum = (
        19595 * px[:, :, 0] + 38470 * px[:, :, 1] + 7471 * px[:, :, 2] + 0x8000
    ) >> 16
    return lum.astype(np.uint8).ravel()


def _codec_decode(payload: bytes):
    """Codec decode of a compressed payload to a flat uint8 luminance
    array, feeding the same byte-domain feature extraction as the RAW
    path. PNG decodes with the pure-stdlib decoder above —
    deterministic and dependency-free, so the codec path is REAL in
    this container; unsupported PNG variants and other formats (JPEG
    etc.) route to PIL when installed, else raise loudly — compressed
    bytes scored as raw luminance would be a silent correctness bug.
    Audio/video codecs (FLAC/H.264) would slot in here the same way
    via librosa/ffmpeg."""
    if payload[:8] == _PNG_MAGIC:
        try:
            return _png_decode_gray(payload)
        except ValueError:
            if _pil_image() is None:
                raise  # unsupported variant, no PIL to fall back to
    Image = _pil_image()
    if Image is None:
        raise NotImplementedError(
            "non-PNG codec decode requires PIL (not installed in this "
            "container); PNG and RAW payloads decode normally"
        )
    import io

    import numpy as np

    with Image.open(io.BytesIO(payload)) as img:
        return np.asarray(img.convert("L"), dtype=np.uint8).ravel()


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode pipeline: binary payload + typed metadata
    struct -> ``mapInPandas`` RAW-luminance decode + feature extract
    (byte mean/min/max, dark fraction) computed from the actual bytes.

    Scale shape: map-only (zero shuffles) — each Arrow batch of binary
    blobs is decoded executor-side; at 100 TB this is the
    decode/resize/frame-sample stage of a media training pipeline.
    The metadata's ``enc`` field (here always 'raw') contractually
    selects the decode branch; codec encodings route to
    ``_codec_decode`` — REAL for PNG via the pure-stdlib zlib/numpy
    decoder (tests/test_png_codec.py drives it through this same
    ``mapInPandas`` plumbing), PIL-extended for other formats, loud
    NotImplementedError when neither applies."""
    docs = load(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
            .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
            .otherwise(F.lit("video"))
            .alias("fmt"),
            F.lit("raw").alias("enc"),
            ((F.col("n_chars") % 64) + 16).cast("int").alias("width"),
            (((F.col("doc_id") * 7) % 64) + 16).cast("int").alias("height"),
        ).alias("meta"),
    )
    return assets.mapInPandas(
        _decode_batches,
        "doc_id long, fmt string, width int, height int, n_bytes long,"
        " brightness int, px_min int, px_max int, dark_frac_fp long,"
        " n_frames int",
    )


# The oracle replays the byte-domain decode in SQL. r04-r10 it only
# held for pure-ASCII corpora (ascii(char) == UTF-8 byte) behind a
# loud error() guard; the r11 unicode axis promoted it to BYTE-TRUE
# for ARBITRARY text: each character's code point (unicode()) expands
# to its UTF-8 byte sequence with pure CASE arithmetic — the exact
# integers numpy reads with frombuffer(uint8) off Spark's
# encode(text, 'UTF-8') payload. Verified exact against Python's
# encoder on BMP/astral/RTL/combining probes.
ORACLE_MULTIMODAL_DECODE = f"""
WITH px AS (
  -- coalesce(text, ''): a NULL payload is a MISSING asset and scores
  -- as empty (n_bytes 0, zeroed stats) on both engines.
  -- Single pass carrying n_chars — NO join-back on doc_id: the Spark
  -- side is map-only one-output-per-input-ROW, and a doc_id join
  -- would fan out 2x2 under duplicate-id deliveries (r09 drdocs
  -- probe) where the row-granular pipeline emits one row per copy.
  SELECT doc_id, n_chars,
         strlen(coalesce(text, '')) AS n,
         {_utf8_bytes("coalesce(text, '')")} AS v
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS fmt,
       CAST((n_chars % 64) + 16 AS INT) AS width,
       CAST(((doc_id * 7) % 64) + 16 AS INT) AS height,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(COALESCE(list_aggregate(v, 'sum'), 0) // greatest(n, 1) AS INT)
         AS brightness,
       CAST(COALESCE(list_aggregate(v, 'min'), 0) AS INT) AS px_min,
       CAST(COALESCE(list_aggregate(v, 'max'), 0) AS INT) AS px_max,
       CAST(1000000 * len(list_filter(v, x -> x < {_DARK_CUTOFF}))
            // greatest(n, 1) AS BIGINT) AS dark_frac_fp,
       -- fmt-conditioned pmod (r13 idneg probe): the decode kernel's
       -- pandas `doc_id % 24` is Python FLOOR-mod — already [0,24)
       -- for any sign — while the old `doc_id % 3 = 2` truncated-mod
       -- condition missed the negative video residues (-1/-2) that
       -- the fmt CASE's ELSE branch routes to 'video'
       CAST(CASE WHEN doc_id % 3 = 0 OR doc_id % 3 = 1 THEN 1
                 ELSE ((doc_id % 24) + 24) % 24 + 1 END AS INT)
         AS n_frames
FROM px
"""


QUERIES = {
    "q_dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "q_dedup_fuzzy": (q_dedup_fuzzy, ORACLE_DEDUP_FUZZY),
    "q_dedup_simhash": (q_dedup_simhash, ORACLE_DEDUP_SIMHASH),
    "q_dedup_ngram_jaccard": (q_dedup_ngram_jaccard, ORACLE_DEDUP_NGRAM),
    "q_dedup_embed_cosine": (q_dedup_embed_cosine, ORACLE_DEDUP_EMBED),
    "q_sim_search": (q_sim_search, ORACLE_SIM_SEARCH),
    "q_sim_search_ivf": (q_sim_search_ivf, ORACLE_SIM_SEARCH_IVF),
    "q_sim_search_lsh": (q_sim_search_lsh, ORACLE_SIM_SEARCH_LSH),
    "q_multimodal_cols": (q_multimodal_cols, ORACLE_MULTIMODAL_COLS),
    "q_multimodal_decode": (q_multimodal_decode, ORACLE_MULTIMODAL_DECODE),
}


# --- q_split_train_val: deterministic hash-based dataset split ----------------
#
# Train/val/test assignment must be a pure function of the example id
# (reproducible across runs, engines, and re-partitions — never
# rand()). The split key is the first hex nibble of md5(doc_id):
# 12/16 train, 2/16 val, 2/16 test.

_SPLIT_EXPR = """
CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 1)
          IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
     WHEN substring(md5(CAST(doc_id AS STRING)), 1, 1) IN ('c','d') THEN 'val'
     ELSE 'test' END
"""


def q_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split of the document
    corpus, stratified report per (split, lang). Map-only assignment —
    at 100 TB the split column is computed at scan time and partitions
    the written dataset; no shuffle beyond the tiny report rollup."""
    return sql_frame(spark, sf_dir, ("documents",), ORACLE_SPLIT_TRAIN_VAL)


ORACLE_SPLIT_TRAIN_VAL = f"""
SELECT {_SPLIT_EXPR} AS split, lang,
       count(*) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1, 2
"""

QUERIES["q_split_train_val"] = (q_split_train_val, ORACLE_SPLIT_TRAIN_VAL)


# --- q_dedup_components: near-dup clusters via connected components ----------
#
# Pairs alone don't dedup a corpus: A~B and B~C must collapse to ONE
# canonical doc. That is connected components over the similarity
# graph — an ITERATIVE algorithm: min-label propagation until
# fixpoint (the standard large-scale approach; each iteration is one
# join+aggregate, converging in O(graph diameter) rounds). The oracle
# is a DuckDB recursive CTE computing the same reachability minimum.

def _ngram_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity edges: the exact-bigram-Jaccard pairs (cheapest of
    the near-dup detectors; any pair source composes here)."""
    return q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the near-dup graph by min-label
    propagation; every corpus doc gets a component id (the minimum
    doc_id reachable from it) and a canonical flag.

    The driver loop only checks convergence (a count of changed
    labels); all data work is joins + aggregates. At 100 TB this is
    the alternating big-star/small-star pattern — each round is one
    shuffle on doc_id, diameter rounds total (here <= ~4)."""
    nodes = _corpus(spark, sf_dir).select("doc_id")
    # kept: the plain plan ran 3.42x slower (A/B: 5 pairs, sf0.1)
    edges = scoped_persist(_ngram_edges(spark, sf_dir))
    # bidirectional edge list
    fwd = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    # kept: the plain plan ran 3.42x slower (A/B: 5 pairs, sf0.1)
    adj = scoped_persist(fwd.unionByName(rev))

    # Per-round lineage TRUNCATION, not just caching: with persist()
    # alone each round's logical plan embeds every previous round, and
    # analysis/codegen time grows superlinearly (measured 1.0 → 9.6 s
    # by round 4 at sf0.1). localCheckpoint materializes the ~|V|-row
    # label frame and cuts the plan back to a leaf each round
    # (14.7 s → 2.0 s loop at sf0.1); on a real cluster use
    # checkpoint() with a reliable dir to survive executor loss.
    labels = nodes.select("doc_id", F.col("doc_id").alias("lbl")).localCheckpoint()
    for _ in range(32):  # diameter bound; converges in ~3 rounds here
        neigh = (
            adj.join(labels, adj.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "lbl")
        )
        # r14 (VERDICT r13 item 4, guide §2.4): convergence detection
        # FOLDED into the label aggregate. The old form ran TWO jobs
        # per round — the localCheckpoint materialization, then a
        # separate new⋈old join (two more exchanges) just to count
        # changed labels. The union already carries each doc's own
        # (old) label row, so tagging it lets the same aggregate emit
        # old_lbl = max(own-tagged lbl) next to the min; chg is then a
        # per-row flag, and the ONE action below both materializes the
        # lazy checkpoint and returns the changed count — one job, no
        # extra shuffle, per round.
        new_labels = (
            labels.select("doc_id", "lbl", F.lit(True).alias("own"))
            .unionByName(neigh.select("doc_id", "lbl", F.lit(False).alias("own")))
            .groupBy("doc_id")
            .agg(
                F.min("lbl").alias("lbl"),
                (
                    F.min("lbl")
                    < F.max(F.when(F.col("own"), F.col("lbl")))
                ).alias("chg"),
            )
        ).localCheckpoint(eager=False)
        # first action computes every partition → the lazy checkpoint
        # materializes in the same job that returns the count
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("doc_id", "lbl")
        if changed == 0:
            break
    else:
        # fell through 32 rounds without converging (graph diameter
        # exceeded the bound): failing loudly beats silently emitting
        # split components the recursive-CTE oracle would refute.
        raise RuntimeError(
            "q_dedup_components: min-label propagation did not converge"
            f" within 32 rounds ({changed} labels still changing)"
        )
    out = labels.select(
        "doc_id",
        F.col("lbl").alias("component"),
        (F.col("doc_id") == F.col("lbl")).alias("is_canonical"),
    )
    adj.unpersist()
    edges.unpersist()
    return out


def _components_oracle() -> str:
    # reuse the full ngram-jaccard pair SQL as the edge relation
    pair_sql = ORACLE_DEDUP_NGRAM.strip().rstrip()
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({pair_sql})
),
{_CORPUS_DUCK.strip()},
adj AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT a.dst, r.lbl FROM reach r JOIN adj a ON a.src = r.doc_id
)
SELECT doc_id, min(lbl) AS component, doc_id = min(lbl) AS is_canonical
FROM reach GROUP BY doc_id
"""


ORACLE_DEDUP_COMPONENTS = _components_oracle()

QUERIES["q_dedup_components"] = (q_dedup_components, ORACLE_DEDUP_COMPONENTS)


# --- q_embed_quantize: int8 embedding quantization ----------------------------
#
# Symmetric per-vector int8 quantization (scale = max|x| / 127): the
# storage/serving compression step of an embedding pipeline. Every
# step is a fixed IEEE op sequence (no float aggregation across rows),
# so both engines agree bitwise.

_ABSMAX_SPARK = "aggregate({v}, cast(0.0 as double), (a, x) -> greatest(a, abs(cast(x as double))))"
_ABSMAX_DUCK = "list_aggregate(list_transform({v}, x -> abs(CAST(x AS DOUBLE))), 'max')"

# quantize component: q = floor(x/scale + 0.5) clamped to [-127, 127]
_QERR_SPARK = (
    "aggregate({v}, cast(0.0 as double), (a, x) -> greatest(a,"
    " abs(cast(x as double) - greatest(least(floor(cast(x as double) / scale + 0.5e0),"
    " 127e0), -127e0) * scale)))"
)
_QERR_DUCK = (
    "list_aggregate(list_transform({v}, x -> abs(CAST(x AS DOUBLE)"
    " - greatest(least(floor(CAST(x AS DOUBLE) / scale + 0.5e0), 127e0), -127e0)"
    " * scale)), 'max')"
)


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization report: scale and the
    worst-case reconstruction error per embedding. Map-only (zero
    shuffles) — at 100 TB this stage rewrites the embedding store and
    the error column is the acceptance gate."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
    ).withColumn(
        "scale",
        F.expr(_ABSMAX_SPARK.format(v="v")) / F.lit(127.0),
    )
    return base.filter(F.col("scale") > 0).select(
        "vec_id",
        "label",
        "scale",
        F.expr(_QERR_SPARK.format(v="v")).alias("max_abs_err"),
        (F.expr(_QERR_SPARK.format(v="v")) <= F.col("scale") * F.lit(0.5) + F.lit(1e-12)).alias(
            "within_half_ulp"
        ),
    )


ORACLE_EMBED_QUANTIZE = f"""
WITH base AS (
  SELECT vec_id, label, embedding AS v,
         {_ABSMAX_DUCK.format(v='embedding')} / 127.0 AS scale
  FROM embeddings
)
SELECT vec_id, label, scale,
       {_QERR_DUCK.format(v='v')} AS max_abs_err,
       {_QERR_DUCK.format(v='v')} <= scale * 0.5 + 1e-12 AS within_half_ulp
FROM base
WHERE scale > 0
"""

QUERIES["q_embed_quantize"] = (q_embed_quantize, ORACLE_EMBED_QUANTIZE)


# --- q_multimodal_framesample: video frame sampling ---------------------------
#
# The frame-sample stage of a video training pipeline: for each
# 'video' asset (doc_id % 3 == 2, the q_multimodal_decode format
# assignment), treat the binary payload as a sequence of fixed
# 64-byte RAW frames, keep every 3rd full frame (temporal
# subsampling), and emit ONE ROW PER SAMPLED FRAME with byte-domain
# features (mean, dark-pixel count) computed by numpy inside
# ``mapInPandas`` — the fan-out (one input row -> many frame rows)
# plumbing that distinguishes frame sampling from the row-preserving
# decode in q_multimodal_decode.
#
# Scale: map-only fan-out — frames never shuffle; at 100 TB the
# sampled-frame stream feeds the feature extractor with stride
# (=3 here) as the compute/recall knob. Codec-compressed video would
# go through _codec_decode (stubbed: no ffmpeg in this container);
# the RAW-frame path is real byte arithmetic, and the oracle replays
# it over per-character ascii codes (ASCII-locked by the
# q_multimodal_decode guard).

_FRAME_BYTES = 64
_FRAME_STRIDE = 3


def _framesample_batches(batches):
    import numpy as np

    for pdf in batches:
        out_doc, out_idx, out_mean, out_dark = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            # missing asset -> empty buffer -> zero frames, matching
            # the oracle's coalesce(text, '') (r07 null-text finding)
            buf = np.frombuffer(payload or b"", dtype=np.uint8)
            n_frames = len(buf) // _FRAME_BYTES
            for f in range(0, n_frames, _FRAME_STRIDE):
                frame = buf[f * _FRAME_BYTES : (f + 1) * _FRAME_BYTES]
                out_doc.append(int(doc_id))
                out_idx.append(f)
                out_mean.append(int(frame.sum()) // _FRAME_BYTES)
                out_dark.append(int((frame < _DARK_CUTOFF).sum()))
        import pandas as pd

        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "frame_idx": pd.Series(out_idx, dtype="int32"),
                "frame_mean": pd.Series(out_mean, dtype="int32"),
                "n_dark": pd.Series(out_dark, dtype="int32"),
            }
        )


def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per sampled 64-byte frame of each video asset:
    (doc_id, frame_idx, frame_mean, n_dark)."""
    docs = load(spark, sf_dir, "documents")
    assets = docs.filter(F.col("doc_id") % 3 == 2).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return assets.mapInPandas(
        _framesample_batches,
        "doc_id long, frame_idx int, frame_mean int, n_dark int",
    )


ORACLE_MULTIMODAL_FRAMESAMPLE = f"""
WITH vids AS (
  -- coalesce(text, ''): missing asset -> empty buffer -> zero frames,
  -- matching the Spark side's None guard (r07 null-text finding).
  -- v is the REAL UTF-8 byte list (r11 unicode axis): frames index
  -- BYTES, and with multi-byte characters a substring-by-character
  -- walk lands on the wrong byte offsets — so the byte list is
  -- materialized once per doc and frames slice it.
  SELECT doc_id, strlen(coalesce(text, '')) AS n,
         {_utf8_bytes("coalesce(text, '')")} AS v
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT doc_id, v, unnest(range(0, greatest(n // {_FRAME_BYTES}, 0)))
           AS frame_idx
  FROM vids
),
sampled AS (
  SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
         v[CAST(frame_idx * {_FRAME_BYTES} + 1 AS INT)
           : CAST((frame_idx + 1) * {_FRAME_BYTES} AS INT)] AS px
  FROM frames WHERE frame_idx % {_FRAME_STRIDE} = 0
)
SELECT doc_id, frame_idx,
       CAST(list_aggregate(px, 'sum') // {_FRAME_BYTES} AS INT) AS frame_mean,
       CAST(len(list_filter(px, x -> x < {_DARK_CUTOFF})) AS INT) AS n_dark
FROM sampled
"""

QUERIES["q_multimodal_framesample"] = (
    q_multimodal_framesample,
    ORACLE_MULTIMODAL_FRAMESAMPLE,
)


# 8-token disjoint span digests (the CCNet line-dedup grain; shared by
# q_dedup_lines in classify.py and q_dedup_containment below).
_SPAN = 8


def _spans_spark(col: str = "toks") -> str:
    # r13 optimization round: operates on a MATERIALIZED token-array
    # column, never the inlined tokenizer. Spark's higher-order
    # transform() lambda is interpreted per element, so an inlined
    # TOKS_SPARK here re-ran split+filter over the whole document for
    # EVERY span index — O(tokens²) per document (the q_repetition_
    # ngram finding: 13 s → 1.1 s at sf0.1 once tokenized once).
    return (
        f"case when size({col}) < {_SPAN} then array()"
        f" else transform(sequence(1, size({col}) div {_SPAN}),"
        f" i -> md5(concat_ws(' ', slice({col}, (i - 1) * {_SPAN} + 1, {_SPAN}))))"
        f" end"
    )


_SPANS_DUCK = (
    f"list_transform(range(0, greatest(len({TOKS_DUCK}) // {_SPAN}, 0)),"
    f" i -> md5(array_to_string(({TOKS_DUCK})"
    f"[i * {_SPAN} + 1 : i * {_SPAN} + {_SPAN}], ' ')))"
)


# --- q_dedup_containment: asymmetric (subset) near-dup detection -------------
#
# Symmetric Jaccard misses SUBSET duplication: a short document fully
# contained in a longer one has Jaccard |A|/|B| (arbitrarily low)
# but containment C(A->B) = |A n B| / |A| = 1. MinHash-LSH recalls
# by Jaccard, so a Jaccard-banded candidate stage would miss exactly
# the pairs this operator exists to find. Candidates instead come
# from SHARED RARE 8-token SPANS (the q_dedup_lines digest grain): a
# containment pair by construction shares every span of the smaller
# doc, so any one rare span recalls it.
#
# Scale: the span self-join shuffles 16-byte digests only, with a
# document-frequency cutoff dropping boilerplate spans (the
# q_dedup_ngram_jaccard skew lever — a span in >64 docs generates
# O(n^2) candidate pairs and near-zero precision); verification
# fetches the two docs' distinct-shingle sets (array_intersect,
# row-local) for the few candidates only. Fixed point: containment
# in 1e-6 with non-negative numerators, div == // between engines.

_CONT_DF_CUTOFF = 64
_CONT_THR_FP = 500000  # report pairs with max-direction containment >= 0.5


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs sharing a rare 8-token span, verified by exact
    directional shingle containment; flags subset-duplicates that
    symmetric Jaccard (< 0.6) would keep.

    The corpus plants token-aligned EXCERPTS (first 24 tokens of
    every 20th long document) — true subset pairs with containment
    ~1 but low Jaccard, the case a Jaccard-only dedup ships to
    training twice."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = (
        docs.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .filter((F.col("doc_id") % 20 == 0) & (F.size("toks") >= 48))
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat_ws(" ", F.slice("toks", 1, 24)).alias("text"),
        )
    )
    corpus = _spread(docs.unionByName(excerpts), "doc_id")
    doc_spans = (
        corpus.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .select("doc_id", F.explode(F.expr(_spans_spark())).alias("sp"))
        .distinct()
    )
    rare = doc_spans.join(
        doc_spans.groupBy("sp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= _CONT_DF_CUTOFF),
        "sp",
    ).select("doc_id", "sp")
    a, b = rare.alias("a"), rare.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sp") == F.col("b.sp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    shingled = (
        corpus.select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .select(
            "doc_id",
            F.array_distinct(F.expr(_SHINGLES_SPARK)).alias("sh"),
        )
    )
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    out = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("inter"),
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
        .withColumn("cont_ab_fp", F.expr("1000000 * inter div n_a"))
        .withColumn("cont_ba_fp", F.expr("1000000 * inter div n_b"))
        .filter(
            (F.col("cont_ab_fp") >= _CONT_THR_FP)
            | (F.col("cont_ba_fp") >= _CONT_THR_FP)
        )
        .withColumn(
            "jaccard_fp",
            F.expr("1000000 * inter div (n_a + n_b - inter)"),
        )
        .withColumn(
            "subset_only",
            (F.greatest("cont_ab_fp", "cont_ba_fp") >= 800000)
            & (F.col("jaccard_fp") < 600000),
        )
    )
    return out.select(
        "doc_a", "doc_b", "inter", "n_a", "n_b",
        "cont_ab_fp", "cont_ba_fp", "jaccard_fp", "subset_only",
    )


def _containment_oracle() -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(({TOKS_DUCK})[1:24], ' ') AS text
  FROM documents
  WHERE doc_id % 20 = 0 AND len({TOKS_DUCK}) >= 48
),
doc_spans AS (
  SELECT DISTINCT doc_id, sp
  FROM (SELECT doc_id, unnest({_SPANS_DUCK}) AS sp FROM corpus)
),
rare AS (
  SELECT d.doc_id, d.sp
  FROM doc_spans d
  JOIN (SELECT sp FROM doc_spans GROUP BY sp
        HAVING count(*) <= {_CONT_DF_CUTOFF}) f ON d.sp = f.sp
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b ON a.sp = b.sp AND a.doc_id < b.doc_id
),
shingled AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
  FROM (SELECT doc_id, {TOKS_DUCK} AS toks FROM corpus)
  WHERE len(toks) >= 3
),
verified AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
         CAST(len(sa.sh) AS BIGINT) AS n_a,
         CAST(len(sb.sh) AS BIGINT) AS n_b
  FROM pairs p
  JOIN shingled sa ON sa.doc_id = p.doc_a
  JOIN shingled sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, inter, n_a, n_b,
       CAST(1000000 * inter // n_a AS BIGINT) AS cont_ab_fp,
       CAST(1000000 * inter // n_b AS BIGINT) AS cont_ba_fp,
       CAST(1000000 * inter // (n_a + n_b - inter) AS BIGINT) AS jaccard_fp,
       greatest(1000000 * inter // n_a, 1000000 * inter // n_b) >= 800000
         AND 1000000 * inter // (n_a + n_b - inter) < 600000 AS subset_only
FROM verified
WHERE 1000000 * inter // n_a >= {_CONT_THR_FP}
   OR 1000000 * inter // n_b >= {_CONT_THR_FP}
"""


QUERIES["q_dedup_containment"] = (q_dedup_containment, _containment_oracle())
