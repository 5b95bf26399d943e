"""Ingestion sources + record sinks (MWC:108-183, 369-409), engine form.

- q_src_json_rest   — the Mobile Alerts JSON payload shape (MWC:115-138)
  round-tripped through ``to_json``/``from_json`` with the explicit
  nested schema (FIXTURES.md §A1): proves typed extraction from nested
  JSON documents (the live HTTP fetch is driver-side work the engine
  deliberately keeps out of the query plan).
- q_src_text_scrape — the barometer HTML workaround (MWC:160-183):
  anchor search + fixed-width slice with the narrower-slice retry when
  the first parse fails.
- q_sink_http_form  — the full 13-field WOW observation payload
  (MWC:373-387) including form-encoded body: the flagship end-to-end
  derivation chain (dew point → wind decode/correction → SMHI
  reduction → rain state machine → imperial units → fixed-precision
  strings).
- q_sink_error_alert— dead-letter side-channel (MWC:125-135, 399-409):
  rows failing validation are routed with a reason instead of
  aborting the batch.
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from metoffice_spark.functions.weather import (
    DEWPOINT_SQL,
    SLP_SQL,
    WG_CORR_SQL,
    WINDDIR_SQL,
    WS_CORR_SQL,
    c_to_f_sql,
    hpa_to_inhg_sql,
    mm_to_in_sql,
    ms_to_mph_sql,
)
from metoffice_spark.io import load, sql_frame
from metoffice_spark.obs import observations, oracle_cte
from metoffice_spark.operators.rain import _RAIN_BASE_SQL, _RAIN_DAILY_SQL, _RAIN_RATE_SQL
from metoffice_spark.parity import cents_sql, fixed_str_sql, form_enc_sql

_CTE = oracle_cte()

# Mobile Alerts measurement document schema (FIXTURES.md §A1; MWC:137-157).
MEASUREMENT_SCHEMA = StructType(
    [
        StructField(
            "devices",
            ArrayType(
                StructType(
                    [
                        StructField("deviceid", StringType()),
                        StructField(
                            "measurement",
                            StructType(
                                [
                                    StructField("ts", LongType()),
                                    StructField("t1", DoubleType()),
                                    StructField("h", DoubleType()),
                                    StructField("ws", DoubleType()),
                                    StructField("wg", DoubleType()),
                                    StructField("wd", IntegerType()),
                                    StructField("r", DoubleType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def parse_measurement_payloads(
    payloads: DataFrame, col: str, keep: list[str] | None = None
) -> DataFrame:
    """Typed extraction from raw measurement-JSON strings (MWC:142-157):
    ``from_json`` with the explicit schema, then the positional
    3-device contract (th / wind / rain, MWC:109-114). ``payloads``
    is any frame holding one JSON document per row in ``col`` —
    whether synthesized (q_src_json_rest) or fetched from a live REST
    endpoint by the driver (tests/test_ingest_http.py runs this
    against a real local HTTP server); the fetch itself stays out of
    the query plan by design, the parse is the engine's job and is
    identical for both."""
    parsed = payloads.select(
        *(keep or []), F.from_json(F.col(col), MEASUREMENT_SCHEMA).alias("doc")
    )
    m = F.col("doc.devices")
    return parsed.select(
        *(keep or []),
        m[0]["deviceid"].alias("deviceid_th"),
        m[0]["measurement"]["t1"].alias("t1"),
        m[0]["measurement"]["h"].alias("h"),
        m[1]["measurement"]["ws"].alias("ws"),
        m[1]["measurement"]["wg"].alias("wg"),
        m[1]["measurement"]["wd"].alias("wd"),
        m[2]["measurement"]["r"].alias("r"),
        m[2]["measurement"]["ts"].alias("rain_ts_epoch"),
    )


def q_src_json_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: build the 3-device payload (positional
    contract MWC:109-114), parse with the explicit schema, extract
    typed fields (MWC:142-157)."""
    df = observations(spark, sf_dir)
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.concat(F.col("station_id"), F.lit("-th")).alias("deviceid"),
                    F.struct(
                        F.unix_timestamp("ts").alias("ts"),
                        F.col("tempc").alias("t1"),
                        F.col("hum").alias("h"),
                        F.lit(None).cast("double").alias("ws"),
                        F.lit(None).cast("double").alias("wg"),
                        F.lit(None).cast("int").alias("wd"),
                        F.lit(None).cast("double").alias("r"),
                    ).alias("measurement"),
                ),
                F.struct(
                    F.concat(F.col("station_id"), F.lit("-wind")).alias("deviceid"),
                    F.struct(
                        F.unix_timestamp("ts").alias("ts"),
                        F.lit(None).cast("double").alias("t1"),
                        F.lit(None).cast("double").alias("h"),
                        F.col("windspeed_ms").alias("ws"),
                        F.col("windgust_ms").alias("wg"),
                        F.col("winddir_sector").alias("wd"),
                        F.lit(None).cast("double").alias("r"),
                    ).alias("measurement"),
                ),
                F.struct(
                    F.concat(F.col("station_id"), F.lit("-rain")).alias("deviceid"),
                    F.struct(
                        F.unix_timestamp("rain_sensor_ts").alias("ts"),
                        F.lit(None).cast("double").alias("t1"),
                        F.lit(None).cast("double").alias("h"),
                        F.lit(None).cast("double").alias("ws"),
                        F.lit(None).cast("double").alias("wg"),
                        F.lit(None).cast("int").alias("wd"),
                        F.col("rain_counter_mm").alias("r"),
                    ).alias("measurement"),
                ),
            ).alias("devices")
        )
    )
    return parse_measurement_payloads(
        df.select("obs_id", payload.alias("payload")), "payload", keep=["obs_id"]
    )


ORACLE_SRC_JSON_REST = f"""{_CTE}
SELECT obs_id,
       station_id || '-th' AS deviceid_th,
       tempc AS t1,
       hum AS h,
       windspeed_ms AS ws,
       windgust_ms AS wg,
       winddir_sector AS wd,
       rain_counter_mm AS r,
       CAST(floor(epoch(rain_sensor_ts)) AS BIGINT) AS rain_ts_epoch
FROM observations
"""


def scrape_pressure(
    pages: DataFrame, col: str, keep: list[str] | None = None
) -> DataFrame:
    """Anchor-substring pressure extraction with retry (MWC:169-183):
    find 'hPa', slice 6 chars back from the anchor, and when that
    fails to parse, slice 5 (the 3-digit-pressure fallback at
    MWC:181-183). ``pages`` is any frame holding one HTML/text page
    per row in ``col`` — synthesized (q_src_text_scrape) or fetched
    from a live endpoint by the driver (tests/test_ingest_http.py);
    the extraction is the engine's job and is identical for both."""
    d = pages.withColumn("__n", F.locate("hPa", F.col(col)))
    wide = F.col(col).substr(F.col("__n") - 7, F.lit(6))
    narrow = F.col(col).substr(F.col("__n") - 6, F.lit(5))
    parsed = F.coalesce(
        F.expr(f"try_cast(substring({col}, __n - 7, 6) AS DOUBLE)"),
        F.expr(f"try_cast(substring({col}, __n - 6, 5) AS DOUBLE)"),
    )
    return d.select(
        *(keep or []),
        wide.alias("slice_wide"),
        narrow.alias("slice_narrow"),
        parsed.alias("pressure_scraped"),
    )


_PAGE_SQL = (
    "('<div>Pressure p=' || " + fixed_str_sql("pressure_site_hpa", 1) + " || ' hPa</div>')"
)


def q_src_text_scrape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-substring extraction with retry (MWC:169-183): find 'hPa',
    slice 6 chars, and when that fails to parse, slice 5 (the
    3-digit-pressure fallback at MWC:181-183)."""
    df = observations(spark, sf_dir)
    return scrape_pressure(
        df.withColumn("page", F.expr(_PAGE_SQL)), "page", keep=["obs_id"]
    )


ORACLE_SRC_TEXT_SCRAPE = f"""{_CTE},
pages AS (
  SELECT obs_id, {_PAGE_SQL} AS page, strpos({_PAGE_SQL}, 'hPa') AS n
  FROM observations
)
SELECT obs_id,
       substring(page, n - 7, 6) AS slice_wide,
       substring(page, n - 6, 5) AS slice_narrow,
       COALESCE(TRY_CAST(substring(page, n - 7, 6) AS DOUBLE),
                TRY_CAST(substring(page, n - 6, 5) AS DOUBLE)) AS pressure_scraped
FROM pages
"""


def wow_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full WOW observation record (MWC:373-387): every REF
    derivation composed end-to-end, one row per observation.

    Runs as ONE SQL text, the template the DuckDB oracle also executes
    (only the timestamp formatter differs), so the build is parsed and
    analysed once per events file version (``io.sql_frame``) rather
    than hundreds of py4j expression-builder calls per build.
    Its last stage fuses into a whole-stage method too large for the
    JIT; ``spark.sql.codegen.hugeMethodLimit`` in ``session`` makes
    Spark run that stage unfused (see the comment there)."""
    return sql_frame(spark, sf_dir, ("events",), _WOW_PAYLOAD_SPARK_SQL)


def q_sink_http_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wow_payload(spark, sf_dir)


def http_post_wow(df: DataFrame, url: str, timeout_s: float = 10.0) -> DataFrame:
    """The live WOW POST (MWC:369-396) as an engine operator: POST each
    payload row's url-encoded ``body`` to ``url`` and return
    (obs_id, http_code) — callers split on ``http_code == 200`` for the
    publish / dead-letter routing (MWC:399-409).

    Executor-side: ``mapInPandas`` runs the IO inside Arrow batches on
    the partitions that hold the rows — no driver funnel, and at 1000
    executors the POST fan-out parallelism is the partition count. The
    HTTP client is stdlib urllib, one connectionless POST per row
    (exactly the reference's one-record protocol). Network failures
    map to code -1 rather than raising, so one bad endpoint cannot
    fail the job (the reference aborts; the engine dead-letters)."""
    import pandas as pd  # local: keep module import light

    def _post_batches(it):
        import urllib.error
        import urllib.request

        for pdf in it:
            codes = []
            for body in pdf["body"]:
                req = urllib.request.Request(
                    url,
                    data=body.encode("utf-8"),
                    method="POST",
                    headers={"Content-Type": "application/x-www-form-urlencoded"},
                )
                try:
                    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                        codes.append(int(resp.status))
                except urllib.error.HTTPError as e:
                    codes.append(int(e.code))
                except Exception:
                    codes.append(-1)
            yield pd.DataFrame({"obs_id": pdf["obs_id"], "http_code": codes})

    return df.select("obs_id", "body").mapInPandas(
        _post_batches, "obs_id long, http_code int"
    )


# One payload template, two engines: the Spark builder and the DuckDB
# oracle run the SAME text except for the timestamp formatter
# (date_format vs strftime), so the flagship arithmetic cannot diverge
# between them by construction. ``derived`` names each unrounded
# imperial value once: ``fixed_str_sql`` repeats its argument six
# times, and rounding the formulas themselves made the text ~40 % longer
# and its parse, analysis and optimisation ~0.5 s instead of ~0.3 s per
# build on a 4-core host.
def _wow_payload_sql(datefmt: str) -> str:
    return f"""{_CTE}, {_RAIN_BASE_SQL.strip()},
derived AS (
SELECT obs_id, station_id, ts, hum, windspeed_ms, winddir_sector,
       {c_to_f_sql("tempc")} AS tempf_x,
       {ms_to_mph_sql(f"({WS_CORR_SQL})")} AS windspeedmph_x,
       {ms_to_mph_sql(f"({WG_CORR_SQL})")} AS windgustmph_x,
       {c_to_f_sql(f"({DEWPOINT_SQL})")} AS dewptf_x,
       {mm_to_in_sql(f"({_RAIN_DAILY_SQL})")} AS dailyrainin_x,
       {mm_to_in_sql(f"({_RAIN_RATE_SQL})")} AS rainin_x,
       {hpa_to_inhg_sql(f"({SLP_SQL})")} AS baromin_x
FROM rain_state
),
payload AS (
SELECT obs_id,
       'wow-' || station_id AS siteid,
       '9999999' AS siteauthenticationkey,
       {datefmt} AS dateutc,
       {fixed_str_sql("tempf_x", 1)} AS tempf,
       {fixed_str_sql("hum", 0)} AS humidity,
       {fixed_str_sql("windspeedmph_x", 2)} AS windspeedmph,
       {fixed_str_sql("windgustmph_x", 2)} AS windgustmph,
       {WINDDIR_SQL} AS winddir,
       {fixed_str_sql("dewptf_x", 1)} AS dewptf,
       {fixed_str_sql("dailyrainin_x", 3)} AS dailyrainin,
       {fixed_str_sql("rainin_x", 3)} AS rainin,
       {fixed_str_sql("baromin_x", 3)} AS baromin,
       'metoffice-spark' AS softwaretype
FROM derived
)
SELECT *,
       'siteid=' || {form_enc_sql("siteid")}
       || '&siteAuthenticationKey=' || {form_enc_sql("siteauthenticationkey")}
       || '&dateutc=' || {form_enc_sql("dateutc")}
       || '&tempf=' || tempf
       || '&humidity=' || humidity
       || '&windspeedmph=' || windspeedmph
       || '&windgustmph=' || windgustmph
       || '&winddir=' || winddir
       || '&dewptf=' || dewptf
       || '&dailyrainin=' || dailyrainin
       || '&rainin=' || rainin
       || '&baromin=' || baromin
       || '&softwaretype=' || softwaretype AS body
FROM payload
"""


_WOW_PAYLOAD_SPARK_SQL = _wow_payload_sql(
    "date_format(ts, 'yyyy-MM-dd HH:mm:ss')"
)
ORACLE_SINK_HTTP_FORM = _wow_payload_sql("strftime(ts, '%Y-%m-%d %H:%M:%S')")


def q_sink_error_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter channel (MWC:125-135, 399-409): validation failures
    become rows with a reason instead of aborting — the distributed
    analog of log+email+abort."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_SINK_ERROR_ALERT)


ORACLE_SINK_ERROR_ALERT = f"""{_CTE}
SELECT obs_id, station_id,
       CASE WHEN hum > 99.5 THEN 'humidity_out_of_range'
            WHEN windgust_ms > 25.0 THEN 'gust_implausible'
            WHEN pressure_site_hpa < 980.0 THEN 'pressure_low' END AS reason
FROM observations
WHERE (CASE WHEN hum > 99.5 THEN 'humidity_out_of_range'
            WHEN windgust_ms > 25.0 THEN 'gust_implausible'
            WHEN pressure_site_hpa < 980.0 THEN 'pressure_low' END) IS NOT NULL
"""

def q_fn_str_locate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone anchor-locate/slice/retry function surface (MWC:179-183):
    ``search('hPa')`` -> wide slice -> numeric-parse fallback to the
    narrow slice. The same expressions back q_src_text_scrape; this qid
    registers them as the survey's own q_fn_str_locate row."""
    df = observations(spark, sf_dir)
    df = df.withColumn("page", F.expr(_PAGE_SQL)).withColumn("n", F.locate("hPa", F.col("page")))
    wide_ok = F.expr("try_cast(substring(page, n - 7, 6) AS DOUBLE)").isNotNull()
    return df.select(
        "obs_id",
        "n",
        wide_ok.alias("wide_parse_ok"),
        F.when(
            wide_ok, F.expr("substring(page, n - 7, 6)")
        ).otherwise(F.expr("substring(page, n - 6, 5)")).alias("chosen_slice"),
        F.coalesce(
            F.expr("try_cast(substring(page, n - 7, 6) AS DOUBLE)"),
            F.expr("try_cast(substring(page, n - 6, 5) AS DOUBLE)"),
        ).alias("pressure_scraped"),
    )


ORACLE_FN_STR_LOCATE = f"""{_CTE},
pages AS (
  SELECT obs_id, {_PAGE_SQL} AS page,
         CAST(strpos({_PAGE_SQL}, 'hPa') AS INT) AS n
  FROM observations
)
SELECT obs_id, n,
       TRY_CAST(substring(page, n - 7, 6) AS DOUBLE) IS NOT NULL AS wide_parse_ok,
       CASE WHEN TRY_CAST(substring(page, n - 7, 6) AS DOUBLE) IS NOT NULL
            THEN substring(page, n - 7, 6)
            ELSE substring(page, n - 6, 5) END AS chosen_slice,
       COALESCE(TRY_CAST(substring(page, n - 7, 6) AS DOUBLE),
                TRY_CAST(substring(page, n - 6, 5) AS DOUBLE)) AS pressure_scraped
FROM pages
"""


# --- q_sink_partitioned: partitioned parquet sink + pruned read-back --------

# Completed sink roots; the most recent is kept because the returned
# DataFrame lazily re-reads it (same discipline as streaming replays).
_SINK_ROOTS: list[str] = []


def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned parquet sink and partition-pruned
    read-back: write ``documents`` partitioned by ``lang``, read it
    back filtered to one lang, and aggregate per source.

    This is the 100 TB table-layout primitive: at scale the write is
    the date/lang-partitioned lake table and the read-back proves the
    filter becomes a PartitionFilter (directory pruning — the scan
    never opens the other partitions' files; locked by
    tests/test_plans.py). The aggregate result equals the plain
    filtered aggregate, which is what the oracle checks."""
    import shutil
    import tempfile
    import uuid

    docs = load(spark, sf_dir, "documents")
    base = os.path.join(tempfile.gettempdir(), "metoffice_sink")
    for stale in _SINK_ROOTS[:-1]:
        shutil.rmtree(stale, ignore_errors=True)
    del _SINK_ROOTS[: max(0, len(_SINK_ROOTS) - 1)]
    root = os.path.join(base, uuid.uuid4().hex[:12])
    docs.write.partitionBy("lang").mode("overwrite").parquet(root)
    _SINK_ROOTS.append(root)
    # own-process exit reap (the _MERGE_ROOTS atexit pattern): the
    # within-process keep-latest above cannot see PRIOR processes'
    # roots, which otherwise leak until /tmp is cleaned
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # Explicit schema on the read-back: an EMPTY relation written with
    # partitionBy leaves no parquet files and no partition dirs, so
    # schema inference fails (UNABLE_TO_INFER_SCHEMA) — with the
    # writer's schema the read-back is an empty typed frame and the
    # aggregate matches the oracle's zero rows (r07 empty-slice fuzz
    # finding). Partition-directory discovery (and pruning) is
    # unaffected when files do exist.
    back = spark.read.schema(docs.schema).parquet(root).filter(F.col("lang") == "en")
    return (
        back.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("chars_total"),
        )
    )


ORACLE_SINK_PARTITIONED = """
SELECT source, count(*) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total
FROM documents
WHERE lang = 'en'
GROUP BY source
"""




# --- q_src_multiformat: CSV/JSON source round-trip ---------------------------
#
# The multi-format ingest surface: the same relation written to and
# read back from line-JSON, RFC-4180 CSV, and ORC with explicit schemas.
# The checked property is round-trip fidelity — the read-back rows
# aggregate to exactly the parquet truth, per format.

_FMT_ROOTS: list[str] = []

_DOCS_SCHEMA = "doc_id long, lang string, source string, n_chars long, text string"


def q_src_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write ``documents`` as JSON-lines, quoted CSV, and ORC, read
    each back with explicit schemas, and prove fidelity: per format, row
    count, rows whose text survived byte-identical, and the n_chars
    checksum — all equal to the parquet truth.

    Scale: format encode/decode is embarrassingly parallel. Caveat —
    JSONL and ORC splits parallelize per block, but multiLine=true
    (required for embedded newlines in quoted CSV text) makes the CSV
    leg whole-file per task: at 100 TB the CSV side must be written as
    MANY files (as this writer does) or the quoted text escaped so
    multiLine can stay off. The comparison join is keyed on doc_id,
    co-located at 100 TB if the lake is bucketed by doc_id. Schemas
    are explicit, never inferred — an inference pass over 100 TB is a
    full extra scan."""
    import shutil
    import tempfile
    import uuid

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    base = os.path.join(tempfile.gettempdir(), "metoffice_multiformat")
    for stale in _FMT_ROOTS[:-1]:
        shutil.rmtree(stale, ignore_errors=True)
    del _FMT_ROOTS[: max(0, len(_FMT_ROOTS) - 1)]
    root = os.path.join(base, uuid.uuid4().hex[:12])
    _FMT_ROOTS.append(root)
    # own-process exit reap (the _MERGE_ROOTS atexit pattern): the
    # within-process keep-latest above cannot see PRIOR processes'
    # roots, which otherwise leak until /tmp is cleaned
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    jdir, cdir = os.path.join(root, "json"), os.path.join(root, "csv")
    odir = os.path.join(root, "orc")
    docs.write.mode("overwrite").json(jdir)
    docs.write.mode("overwrite").orc(odir)
    # nullValue sentinel keeps empty string and NULL distinct through
    # the round-trip (default CSV reads an empty field back as NULL,
    # which would silently break byte-fidelity on empty documents)
    # probed: writer quotes an empty string ("") while NULL becomes
    # the \N sentinel, so both survive the round-trip distinctly
    # whitespace fidelity (r10 degenerate-text probe): Spark's CSV
    # WRITER trims leading/trailing whitespace by default
    # (ignoreLeading/TrailingWhiteSpace default TRUE on write, unlike
    # read) — a whitespace-only document silently loses its bytes
    # through the round-trip. A byte-faithful sink must switch both
    # off on write AND read.
    csv_opts = {
        "header": "true",
        "quote": '"',
        "escape": '"',
        "multiLine": "true",
        "nullValue": "\\N",
        "ignoreLeadingWhiteSpace": "false",
        "ignoreTrailingWhiteSpace": "false",
    }
    docs.write.mode("overwrite").options(**csv_opts).csv(cdir)

    back_j = spark.read.schema(_DOCS_SCHEMA).json(jdir).withColumn(
        "fmt", F.lit("json")
    )
    back_c = (
        spark.read.schema(_DOCS_SCHEMA)
        .options(**csv_opts)
        .csv(cdir)
        .withColumn("fmt", F.lit("csv"))
    )
    # DISTINCT content tuples, matched null-safely on (doc_id, text)
    # (r09 dup probes): a plain doc_id equi-join fans out 2x2 under
    # duplicate-id deliveries, inflating n_rows; joining each
    # round-tripped ROW against the distinct truth-tuple SET keeps row
    # granularity (n_rows == rows read back) while still counting
    # byte-exact survival — a corrupted text matches no tuple and
    # drops from n_text_exact, exactly the fidelity property. The
    # eqNullSafe text match keeps the r07 NULL-text finding fixed: a
    # NULL that round-trips to NULL survived faithfully (JSON drops
    # the field, ORC stores NULL, CSV uses the \\N sentinel).
    truth = (
        docs.select("doc_id", F.col("text").alias("text_truth"))
        .distinct()
        .withColumn("matched", F.lit(1))
    )
    back_o = spark.read.schema(_DOCS_SCHEMA).orc(odir).withColumn(
        "fmt", F.lit("orc")
    )
    back = back_j.unionByName(back_c).unionByName(back_o).alias("b")
    back = back.join(
        truth.alias("t"),
        F.col("b.doc_id").eqNullSafe(F.col("t.doc_id"))
        & F.col("b.text").eqNullSafe(F.col("t.text_truth")),
        "left",
    )
    return back.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("matched").cast("bigint").alias("n_text_exact"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )


# Truth: both formats must reproduce documents exactly.
ORACLE_SRC_MULTIFORMAT = """
SELECT fmt, count(*) AS n_rows,
       count(*) AS n_text_exact,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM documents, (SELECT unnest(['csv', 'json', 'orc']) AS fmt)
GROUP BY fmt
"""




# --- q_sink_compact: small-file compaction (lake maintenance) ----------------
#
# The nightly lake-maintenance primitive: a fragmented table (many
# tiny files — the streaming-ingest failure mode) is rewritten into
# few right-sized files. The checked property is content preservation
# (post-compaction aggregates equal the source truth); the file-count
# collapse itself is asserted by tests/test_scale_ops.py.

_COMPACT_ROOTS: list[str] = []

_FRAG_FILES = 64   # simulated ingest fragmentation
_COMPACT_FILES = 4  # target layout


def q_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment ``events`` into 64 tiny parquet files, compact to 4,
    and return the per-type aggregate read FROM THE COMPACTED table —
    equal to the source truth iff compaction lost/duplicated nothing.

    Scale: compaction is one round-robin repartition (no key, no
    skew) sized so files land near the HDFS-friendly target;
    at 100 TB this runs per lake partition with
    ``spark.sql.files.maxRecordsPerFile`` bounding file size, and the
    read side schedules 16x fewer splits afterwards."""
    import shutil
    import tempfile
    import uuid

    ev = load(spark, sf_dir, "events")
    base = os.path.join(tempfile.gettempdir(), "metoffice_compact")
    for stale in _COMPACT_ROOTS[:-1]:
        shutil.rmtree(stale, ignore_errors=True)
    del _COMPACT_ROOTS[: max(0, len(_COMPACT_ROOTS) - 1)]
    root = os.path.join(base, uuid.uuid4().hex[:12])
    _COMPACT_ROOTS.append(root)
    # own-process exit reap (the _MERGE_ROOTS atexit pattern): the
    # within-process keep-latest above cannot see PRIOR processes'
    # roots, which otherwise leak until /tmp is cleaned
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    frag, compact = os.path.join(root, "frag"), os.path.join(root, "compact")
    ev.repartition(_FRAG_FILES).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(_COMPACT_FILES).write.mode(
        "overwrite"
    ).parquet(compact)

    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.expr(cents_sql("value", 1000)))
        .cast("bigint")
        .alias("value_fp_total"),
    )


ORACLE_SINK_COMPACT = f"""
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum({cents_sql("value", 1000)}) AS BIGINT)
         AS value_fp_total
FROM events
GROUP BY event_type
"""



# --- q_src_schema_merge: schema-evolution parquet read -----------------------
#
# The lake-table schema-evolution primitive: two parquet drops of the
# same logical table with DIFFERENT column sets (an old writer without
# `source`, a new writer without `lang`) read back as ONE relation via
# mergeSchema, absent columns null-filled. At 100 TB this is how a
# years-old partition coexists with today's writer without a rewrite;
# the checked property is that the merged read aggregates exactly like
# the explicit NULL-padded union.

def q_src_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents split deterministically (doc_id parity) into an
    old-schema drop (doc_id, lang, n_chars) and a new-schema drop
    (doc_id, source, n_chars); read both with mergeSchema and prove
    the union semantics: per drop, row count, non-null lang/source
    counts, and the n_chars checksum.

    Scale: mergeSchema unifies footers only (no data rewrite); the
    read stays one splittable scan per file. Schema drift bigger than
    add/remove-column (type changes) belongs to a real table format,
    not raw parquet — documented boundary."""
    import atexit
    import shutil
    import tempfile
    import uuid

    docs = load(spark, sf_dir, "documents")
    # Scratch lifecycle (ADVICE r04): the returned DataFrame reads the
    # drops lazily, so the current root must outlive this builder. Wipe
    # the whole base at entry (removes every prior run's root, not just
    # all-but-newest) and reap the final root at interpreter exit — no
    # module-global state, nothing leaked past process end.
    base = os.path.join(tempfile.gettempdir(), "metoffice_schema_merge")
    shutil.rmtree(base, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    root = os.path.join(base, uuid.uuid4().hex[:12])

    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "n_chars")
    old.write.mode("overwrite").parquet(os.path.join(root, "drop=old"))
    new.write.mode("overwrite").parquet(os.path.join(root, "drop=new"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "drop=old"), os.path.join(root, "drop=new")
    )
    return (
        merged.withColumn(
            "drop_kind",
            F.when(F.col("doc_id") % 2 == 0, F.lit("old")).otherwise(F.lit("new")),
        )
        .groupBy("drop_kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("lang").cast("bigint").alias("n_lang"),
            F.count("source").cast("bigint").alias("n_source"),
            F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("chars_total"),
        )
    )


ORACLE_SRC_SCHEMA_MERGE = """
WITH merged AS (
  SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, n_chars
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, source, n_chars
  FROM documents WHERE doc_id % 2 = 1
)
SELECT CASE WHEN doc_id % 2 = 0 THEN 'old' ELSE 'new' END AS drop_kind,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(lang) AS BIGINT) AS n_lang,
       CAST(count(source) AS BIGINT) AS n_source,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total
FROM merged
GROUP BY 1
"""


QUERIES = {
    "q_src_json_rest": (q_src_json_rest, ORACLE_SRC_JSON_REST),
    "q_src_text_scrape": (q_src_text_scrape, ORACLE_SRC_TEXT_SCRAPE),
    "q_fn_str_locate": (q_fn_str_locate, ORACLE_FN_STR_LOCATE),
    "q_sink_http_form": (q_sink_http_form, ORACLE_SINK_HTTP_FORM),
    "q_sink_error_alert": (q_sink_error_alert, ORACLE_SINK_ERROR_ALERT),
    "q_sink_partitioned": (q_sink_partitioned, ORACLE_SINK_PARTITIONED),
    "q_src_multiformat": (q_src_multiformat, ORACLE_SRC_MULTIFORMAT),
    "q_sink_compact": (q_sink_compact, ORACLE_SINK_COMPACT),
    "q_src_schema_merge": (q_src_schema_merge, ORACLE_SRC_SCHEMA_MERGE),
}
