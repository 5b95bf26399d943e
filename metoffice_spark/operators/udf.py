"""UDF / UDAF / UDTF surface (SURVEY.md §2.10).

The reference has no user-extensibility (one hard-coded Apps Script
function); these are the EXT extension points a real engine exposes,
and the substrate the LLM text operators would use when a metric
can't be a Catalyst expression.

All three follow the no-row-at-a-time rule: scalar + grouped-agg are
Arrow-batched ``pandas_udf``s (vectorized exchange, JVM<->Python only
at batch granularity), and the UDTF runs with Arrow serialization
enabled. The Python logic is written to be bit-compatible with the
DuckDB oracle SQL: integer sums inside pandas (int64, exact), single
IEEE divide at the end, regex semantics on the ASCII corpus identical
between Python `re`, Java regex, and RE2.

Scale: pandas UDFs run per Arrow batch per partition — fully parallel,
no driver involvement; grouped-agg shuffles once on the group key like
any aggregate. Still, the docstring rule of thumb stands: built-in
expressions beat Arrow UDFs ~2-10x, so UDFs are for semantics Catalyst
can't express, not convenience.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from metoffice_spark.io import load
from metoffice_spark.parity import FIXED_POINT_MAX, cents_sql


# --- q_udf_scalar: vectorized scalar pandas UDFs -----------------------------
#
# NOTE: pandas_udf/udtf decorators parse their DDL schema and therefore
# need an active SparkSession — so UDF objects are built inside the
# query functions (import of this module must stay session-free for
# the registry).

def _norm_text_impl(s: pd.Series) -> pd.Series:
    """Whitespace-collapse + casefold, vectorized over an Arrow batch."""
    return s.str.lower().str.strip().str.replace(r"\s+", " ", regex=True)


def _vowel_count_impl(s: pd.Series) -> pd.Series:
    # nullable Int64: a NULL text stays NULL (oracle behavior) instead
    # of astype("int64") raising on the NaN the .str accessor yields
    return s.str.lower().str.count(r"[aeiou]").astype("Int64")


def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar UDFs over documents: text normalization +
    vowel counting. Each batch crosses the JVM<->Python boundary once
    (Arrow), never per row."""
    norm_text = pandas_udf(_norm_text_impl, "string")
    vowel_count = pandas_udf(_vowel_count_impl, "long")
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("norm_text"),
        vowel_count(F.col("text")).alias("n_vowels"),
    )


ORACLE_UDF_SCALAR = """
SELECT doc_id,
       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text,
       CAST(length(regexp_extract_all(lower(text), '[aeiou]')) AS BIGINT) AS n_vowels
FROM documents
"""


# --- q_udaf_grouped: grouped-aggregate pandas UDFs ---------------------------

def _weighted_sum_impl(x: pd.Series) -> int:
    # int64 sum — exact and order-free, so Spark's partition order
    # can't desync from DuckDB's.
    return int(x.sum())


def _weighted_mean_impl(x: pd.Series, w: pd.Series) -> float:
    # exact integer numerator/denominator, one IEEE divide at the end —
    # bit-identical to the oracle's CAST(sum .. )/CAST(sum ..) form.
    num = int((x * w).sum())
    den = int(w.sum())
    return float(num) / float(den)


def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDFs per language: a weighted character sum
    and an exact-integer weighted mean. Shuffles once on lang (tiny
    cardinality), each group aggregated inside one Arrow batch."""
    weighted_sum = pandas_udf(_weighted_sum_impl, "long")
    weighted_mean = pandas_udf(_weighted_mean_impl, "double")
    docs = load(spark, sf_dir, "documents")
    w = (F.col("doc_id") + F.lit(1)).cast("long")
    return (
        docs.groupBy("lang")
        .agg(
            weighted_sum((F.col("n_chars") * w)).alias("wchar_sum"),
            weighted_mean(F.col("n_chars").cast("long"), w).alias("wchar_mean"),
        )
        .select("lang", "wchar_sum", "wchar_mean")
    )


ORACLE_UDAF_GROUPED = """
SELECT lang,
       CAST(sum(n_chars * (doc_id + 1)) AS BIGINT) AS wchar_sum,
       CAST(sum(n_chars * (doc_id + 1)) AS DOUBLE) / CAST(sum(doc_id + 1) AS DOUBLE)
         AS wchar_mean
FROM documents
GROUP BY lang
"""


# --- q_udtf: Python table function (lateral token exploder) ------------------

_TOK_RE = re.compile(r"[^a-z0-9]+")


class _TokenExplode:
    """One row per token with its 1-based position — the §2.10 table
    function. Mirrors the TOKS_* tokenizer used by the text suite."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        for i, tok in enumerate(t for t in _TOK_RE.split(text.lower()) if t):
            yield i + 1, tok, len(tok)


def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral Python UDTF: documents x token_explode(text). Arrow
    serialization on; at scale this is a map-side expand (no shuffle)."""
    # session-wide conf: set for THIS builder only and restore after —
    # a leaked flag would change every later UDTF in the shared
    # parity/bench session (session-wide tuning lives in session.py).
    _k = "spark.sql.execution.pythonUDTF.arrow.enabled"
    try:
        _prev = spark.conf.get(_k, None)
        spark.conf.set(_k, "true")
    except Exception:
        _prev = None
    token_explode = udtf(_TokenExplode, returnType="pos int, token string, token_len int")
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spark.udtf.register("token_explode", token_explode)
    out = spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.token_len
        FROM documents d, LATERAL token_explode(d.text) t
        """
    )
    # plan is resolved eagerly at sql(); safe to restore before collect
    try:
        if _prev is None:
            spark.conf.unset(_k)
        else:
            spark.conf.set(_k, _prev)
    except Exception:
        pass
    return out


ORACLE_UDTF = """
SELECT doc_id, CAST(pos AS INT) AS pos, token, CAST(length(token) AS INT) AS token_len
FROM (
  SELECT doc_id,
         unnest(range(1, len(toks) + 1)) AS pos,
         unnest(toks) AS token
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
    FROM documents)
)
"""



# --- q_udf_grouped_map: applyInPandas (grouped-map) --------------------------
#
# The fourth Pandas surface (after scalar, grouped-agg, and the
# mapInPandas decode path in llm.py): a GROUPED-MAP transformation —
# each group arrives as one pandas DataFrame and returns a
# DataFrame, the API for per-group logic that needs the whole group
# in memory (sklearn-style fits, per-entity resampling). Here:
# per-event-type min-max normalization to 1e-6 fixed point.
#
# Bit-compatibility: cents via numpy floor on float64 (the same IEEE
# op Spark's floor(value*100+0.5) runs), then int64 floor division
# with a non-negative numerator — identical to the oracle's //.
#
# Scale: one shuffle on the group key (same as any aggregate); each
# group must FIT IN ONE WORKER'S MEMORY — the documented contract of
# grouped-map (skewed keys want the salted pre-aggregate instead).


def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type via applyInPandas: value cents and min-max
    normalized 1e-6 fixed point."""
    import numpy as np

    def _minmax(pdf: pd.DataFrame) -> pd.DataFrame:
        # SQL NULL semantics, not numpy's: a NULL value is NaN here,
        # and `.astype("int64")` of NaN is the int64-min SENTINEL, not
        # a NULL. Keep the math in float64 (cents * 1e6 < 2^53, so
        # floor-div stays exact), bound lo/hi over the NON-null values
        # only (SQL min/max), and ship masked Int64 arrays so NULLs
        # arrive as NULLs. The mask is ~(abs < FIXED_POINT_MAX), not
        # isnan: a NaN/±Inf reading is as unrepresentable in cents as
        # a huge-finite one (numpy's .astype("int64") of 1e19 wraps
        # silently), so the kernel applies the oracle's cents_sql
        # guard and maps every such value to NULL.
        raw = pdf["value"].to_numpy(dtype="float64")
        v = np.floor(raw * 100 + 0.5)
        null = ~(np.abs(raw) < FIXED_POINT_MAX)
        valid = v[~null]
        lo = valid.min() if valid.size else 0.0
        span = max((valid.max() - lo) if valid.size else 1.0, 1.0)
        norm = (1000000 * (v - lo)) // span

        def ints(x: np.ndarray) -> pd.arrays.IntegerArray:
            return pd.arrays.IntegerArray(
                np.where(null, 0, x).astype("int64"), null.copy()
            )

        return pd.DataFrame(
            {
                # masked Int64, not int64: a NULL event_id arrives as
                # NaN, and .astype("int64") either raises or coins the
                # int64-min sentinel (r09 null-id probe) — the id must
                # pass through as a NULL like any other column
                "event_id": pdf["event_id"].astype("Int64"),
                "event_type": pdf["event_type"],
                "v_fp": ints(v),
                "norm_fp": ints(norm),
            }
        )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return ev.groupBy("event_type").applyInPandas(
        _minmax, "event_id long, event_type string, v_fp long, norm_fp long"
    )


ORACLE_UDF_GROUPED_MAP = f"""
WITH ev AS (
  SELECT event_type, event_id,
         {cents_sql("value")} AS v_fp
  FROM events
),
b AS (
  SELECT event_type, min(v_fp) AS lo, max(v_fp) AS hi
  FROM ev GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.v_fp,
       CAST(1000000 * (e.v_fp - b.lo) // greatest(b.hi - b.lo, 1) AS BIGINT)
         AS norm_fp
FROM ev e JOIN b ON e.event_type IS NOT DISTINCT FROM b.event_type
"""


QUERIES = {
    "q_udf_scalar": (q_udf_scalar, ORACLE_UDF_SCALAR),
    "q_udaf_grouped": (q_udaf_grouped, ORACLE_UDAF_GROUPED),
    "q_udtf": (q_udtf, ORACLE_UDTF),
    "q_udf_grouped_map": (q_udf_grouped_map, ORACLE_UDF_GROUPED_MAP),
}


# --- q_udf_cogrouped: co-grouped applyInPandas as-of merge --------------------
#
# The last member of the Pandas API family (scalar / grouped-agg /
# grouped-map / UDTF / mapInPandas / applyInPandasWithState are
# covered elsewhere): ``groupBy().cogroup().applyInPandas`` — both
# sides shuffle ONCE on user_id, then each (clicks, purchases)
# group pair crosses into Python as two Arrow batches. The kernel is
# the canonical cogroup workload, a per-key as-of merge: every
# purchase picks the latest click at-or-before it (ties on the
# second broken by event_id, matching the oracle's (ep, event_id)
# DESC ranking). numpy searchsorted per group — vectorized, never
# per-row Python.
#
# Scale: identical shuffle shape to a shuffle join on user_id; the
# Python boundary is Arrow-batched per group. The oracle expresses
# the same as-of pick as a LEFT JOIN + rank-1 filter.


def q_udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: the as-of (latest prior) click's time, the gap
    in seconds, and that click's value in cents — NULL columns when
    the user never clicked before the purchase.

    r14 optimization round (guide §4, VERDICT r13 item 5): the cogroup
    key is COARSENED from user_id to pmod(hash(user_id), B) buckets,
    and the kernel does the per-user as-of merge vectorized across the
    whole bucket (pandas merge_asof with by=user). Per-user grouping
    paid the Arrow-batch + Python-call overhead once per user (~6 ms ×
    1500 users at sf0.1 = the whole 8-9 s wall; the shuffled bytes are
    so small that AQE coalesces the cogroup stage to ONE task, so the
    per-group overhead did not even parallelize). Bucketed: 9× faster
    (8.5 → 0.95 s, rows verified identical). B scales with the
    session's parallelism so a bigger cluster gets more buckets; the
    OUTPUT is bucket-count-invariant (the merge is keyed by user
    inside the kernel, so every choice of B yields the same rows)."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): an as-of merge is defined on the time axis — an
    # untimestamped click/purchase has no "at-or-before" position
    # (NULL ep breaks searchsorted's ordering on the Python side and
    # fails the oracle's c.ep <= p.ep asymmetrically).
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("ep"),
        # masked cents (r10 extreme-value probe): a NaN/±Inf click
        # value is an invalid reading — NULL cents, same CASE as the
        # oracle (an unmasked floor would diverge: Spark floor(NaN)=0,
        # DuckDB crashes the BIGINT cast)
        F.expr(cents_sql("value")).alias("cents"),
    )
    # bucket count: scale-adaptive (one bucket per session core at
    # local 32 ≈ the measured optimum; more buckets on a big cluster
    # restore shuffle-grain parallelism). Results are invariant to B.
    nbuckets = max(8, spark.sparkContext.defaultParallelism)
    b = F.pmod(F.hash("user_id"), F.lit(nbuckets)).alias("b")
    clicks = ev.filter("event_type = 'click'").select(
        b, "user_id", "event_id", "ep", "cents"
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        b, "user_id", "event_id", "ep"
    )

    def asof_merge(key, c: pd.DataFrame, p: pd.DataFrame) -> pd.DataFrame:
        # p carries its own user_id column (masked Int64 below): a NULL
        # user_id is a group key like any other (r07 null-key fuzz
        # finding) — inside merge_asof it is represented by the
        # (filled=0, isnull=True) by-pair, disjoint from real user 0.
        p = p.sort_values(["ep", "event_id"], kind="stable").reset_index(
            drop=True
        )
        out = pd.DataFrame(
            {
                "user_id": p["user_id"].astype("Int64"),
                # Int64 (masked), not int64: a NULL purchase event_id
                # must pass through as NULL (r09 null-id probe)
                "purchase_event_id": p["event_id"].astype("Int64"),
                "purchase_s": (
                    p["ep"].astype("int64")
                    if len(p)
                    else pd.Series([], dtype="int64")
                ),
            }
        )
        if len(c) == 0 or len(p) == 0:
            out["last_click_s"] = pd.array([None] * len(p), dtype="Int64")
            out["gap_s"] = pd.array([None] * len(p), dtype="Int64")
            out["click_cents"] = pd.array([None] * len(p), dtype="Int64")
            return out
        # cents as the final click tie-break (r09 dupkey probe): two
        # clicks can collide on (ep, event_id) — duplicate ids at the
        # same SECOND-floored epoch — with different values. merge_asof
        # (backward, exact matches allowed) picks the LAST in-frame-
        # order right row with ep <= purchase ep per by-group, so this
        # stable total sort makes the pick the engine-independent
        # max(ep, event_id, cents), mirroring the oracle's ORDER BY
        # ... DESC chain. na_position="first": NULL ids/cents sort
        # SMALLEST, so the last-row pick prefers the max NON-NULL
        # (event_id, cents) — the oracle's DESC NULLS LAST rank
        # (r09 null-id probe).
        c = c.sort_values(
            ["ep", "event_id", "cents"], na_position="first", kind="stable"
        ).reset_index(drop=True)
        left = pd.DataFrame(
            {
                "u_f": p["user_id"].fillna(0).astype("int64"),
                "u_n": p["user_id"].isna().to_numpy(),
                "ep": p["ep"].astype("int64"),
            }
        )
        right = pd.DataFrame(
            {
                "u_f": c["user_id"].fillna(0).astype("int64"),
                "u_n": c["user_id"].isna().to_numpy(),
                "ep": c["ep"].astype("int64"),
                # masked Int64 payloads: a miss gathers as <NA>, never
                # a float NaN round-trip
                "c_ep": c["ep"].astype("Int64"),
                "c_cents": c["cents"].astype("Int64"),
            }
        )
        m = pd.merge_asof(
            left,
            right,
            on="ep",
            by=["u_f", "u_n"],
            direction="backward",
            allow_exact_matches=True,
        )
        out["last_click_s"] = pd.array(m["c_ep"], dtype="Int64")
        out["gap_s"] = out["purchase_s"].astype("Int64") - out["last_click_s"]
        out["click_cents"] = pd.array(m["c_cents"], dtype="Int64")
        return out

    return (
        clicks.groupBy("b")
        .cogroup(purchases.groupBy("b"))
        .applyInPandas(
            asof_merge,
            "user_id bigint, purchase_event_id bigint, purchase_s bigint,"
            " last_click_s bigint, gap_s bigint, click_cents bigint",
        )
    )


ORACLE_UDF_COGROUPED = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         {cents_sql("value")} AS cents
  FROM events
  WHERE ts IS NOT NULL
),
p AS (SELECT user_id, event_id, ep FROM ev WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, ep, cents FROM ev WHERE event_type = 'click'),
-- ROW granularity (r09 dupkey/duprows probes): the kernel emits one
-- output row per purchase ROW; a rank partitioned by (user, id)
-- would merge purchases that collide on event_id into one pick. The
-- as-of pick runs once per DISTINCT (user, id, ep) key and fans back
-- out over p, so duplicate-id purchases each keep their own pick and
-- byte-identical duplicate purchases replicate theirs.
pd AS (SELECT DISTINCT user_id, event_id, ep FROM p),
best AS (
  SELECT pd.user_id, pd.event_id, pd.ep,
         c.ep AS c_ep, c.cents AS c_cents,
         row_number() OVER (PARTITION BY pd.user_id, pd.event_id, pd.ep
                            ORDER BY c.ep DESC, c.event_id DESC,
                                     c.cents DESC) AS rn
  FROM pd LEFT JOIN c ON c.user_id IS NOT DISTINCT FROM pd.user_id
                     AND c.ep <= pd.ep
),
b1 AS (SELECT * FROM best WHERE rn = 1)
SELECT p.user_id, p.event_id AS purchase_event_id, p.ep AS purchase_s,
       CAST(b1.c_ep AS BIGINT) AS last_click_s,
       CAST(p.ep - b1.c_ep AS BIGINT) AS gap_s,
       CAST(b1.c_cents AS BIGINT) AS click_cents
-- ep is provably non-NULL here (ev filters ts IS NOT NULL — the
-- sequencing-validity boundary), but the join is null-safe anyway so
-- a future relaxation of that boundary cannot silently drop rows on
-- this one leg while the pandas kernel takes a different path
-- (ADVICE r09 item 2).
FROM p JOIN b1 ON b1.user_id IS NOT DISTINCT FROM p.user_id
              AND b1.event_id IS NOT DISTINCT FROM p.event_id
              AND b1.ep IS NOT DISTINCT FROM p.ep
"""

QUERIES["q_udf_cogrouped"] = (q_udf_cogrouped, ORACLE_UDF_COGROUPED)
