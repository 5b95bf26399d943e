"""Structured Streaming suite (SURVEY.md §2.9) — the reference IS a
streaming job re-expressed on Spark's engine:

- the 15-minute timer tick (MWC:34-39) -> micro-batch trigger
  (file-source replay with ``Trigger.AvailableNow``);
- the rainhistory spreadsheet (MWC:211-272) -> per-key state in
  ``applyInPandasWithState`` carrying exactly the B2/C2/D2 cells
  ``{day_start_r, prev_saved_r, cur_day}`` (MWC:215-216, 236-239);
- the staleness guard (MWC:244) -> event-time watermark;
- the day-boundary reset (MWC:231-240) -> daily tumbling window;
- the WOW POST + email alert (MWC:369-409) -> ``foreachBatch`` sink
  with a dead-letter side channel.

Every query here REALLY runs Structured Streaming (readStream ->
IncrementalExecution -> state store -> sink), then returns the sink's
contents as a batch DataFrame so the driver's DuckDB oracle can check
final results value-for-value. Determinism comes from controlled
replay: the observation stream is snapshotted to parquet files whose
modification times fix the micro-batch order, one file per micro-batch
(`maxFilesPerTrigger=1`). Every query goes through one replay path,
:func:`_stream`: snapshot, run to completion, clean up.

Empirically pinned Spark semantics the oracles encode (verified on
this Spark build, see tests/test_streaming.py):
- append-mode aggregation emits a window when
  ``window_end <= watermark`` (inclusive), where the watermark is
  ``floor_ms(max event time so far) - delay``;
- a late row is dropped iff its window was already evicted, i.e.
  ``window_end <= watermark(previous batch)``;
- ``session_window`` starts a NEW session when the gap is >= the
  session timeout (intervals are half-open), and a session's end is
  ``last event + gap``;
- availableNow appends a trailing no-data micro-batch that flushes
  windows closed by the final watermark.

Scale notes: state is per (station) or per (station, window) — at
1000 executors the state store shards by group key exactly like the
shuffle; file replay becomes Kafka partitions; `foreachBatch` writes
stay executor-side. Nothing here funnels through the driver.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from metoffice_spark.functions.weather import c_to_f_sql
from metoffice_spark.io import load
from metoffice_spark.obs import OBS_PER_HOUR, observations, oracle_cte
from metoffice_spark.operators.rain import ORACLE_RAIN_METRICS
from metoffice_spark.parity import fixed_str_sql
from metoffice_spark.session import scoped_persist

_CTE = oracle_cte()

_OBS_SCHEMA = (
    "station_id string, ts timestamp, obs_id long, tempc double, hum double,"
    " windspeed_ms double, windgust_ms double, winddir_sector int,"
    " rain_counter_mm double, rain_sensor_ts timestamp, pressure_site_hpa double"
)

_OBS_COLS = [
    "station_id", "ts", "obs_id", "tempc", "hum", "windspeed_ms", "windgust_ms",
    "winddir_sector", "rain_counter_mm", "rain_sensor_ts", "pressure_site_hpa",
]


def _run_root() -> str:
    base = os.path.join(tempfile.gettempdir(), "metoffice_stream")
    # Sweep replay trees left by OLDER queries in this process (their
    # input/ckpt were deleted when their run ended; their small out/ stays
    # until later queries start in case the driver re-collects). The
    # last _KEEP_ROOTS survive so a caller holding the results of a few
    # recent streaming queries (e.g. a stashed dead-letter dir) can
    # still lazily re-collect them. Roots from other live processes are
    # untouched.
    for stale in _COMPLETED_ROOTS[:-_KEEP_ROOTS]:
        shutil.rmtree(stale, ignore_errors=True)
    del _COMPLETED_ROOTS[: max(0, len(_COMPLETED_ROOTS) - _KEEP_ROOTS)]
    return os.path.join(base, uuid.uuid4().hex[:12])


# Roots whose streaming run ended, failed runs included; oldest are
# deleted when the next replay starts (the returned DataFrames of the
# last _KEEP_ROOTS runs may still be lazily re-collected by the driver,
# so they are kept).
_KEEP_ROOTS = 4
_COMPLETED_ROOTS: list[str] = []


def _write_file(df: DataFrame, path: str, mtime: int) -> None:
    """Materialize ``df`` as exactly one parquet file at ``path`` with a
    pinned mtime — mtime order fixes the micro-batch replay order."""
    stage = path + "_stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), path)
    shutil.rmtree(stage)
    os.utime(path, (mtime, mtime))


def _obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return observations(spark, sf_dir).select(*_OBS_COLS)


def _replay(spark: SparkSession, frame: DataFrame, preds=None) -> tuple[str, str]:
    """Snapshot ``frame`` into ``input/`` files, one per predicate in
    ``preds`` (one file of every row when None), and return
    (input_dir, root). File order is micro-batch order.

    ``preds`` may also be a function of the frame's max event time (a
    timestamp literal), for splits placed relative to the stream's end."""
    root = _run_root()
    input_dir = os.path.join(root, "input")
    os.makedirs(input_dir)
    # Every file filters one persisted frame, so the substrate is computed
    # once whatever the number of files. Each file write is coalesce(1),
    # one task; the single action before the writes fills the cache with
    # all cores instead. That action is the max-ts collect when the split
    # needs it, and a noop write otherwise.
    # kept: the only persist on the stream_ticks path
    frame = scoped_persist(frame)
    if callable(preds):
        mx = frame.select(F.max("ts")).collect()[0][0]
        # An empty table has no max ts, and NULL - INTERVAL fails
        # analysis. The epoch keeps every split well-typed and selects
        # no rows, like the oracle's NULL scalar subquery.
        preds = preds(F.lit(mx if mx is not None else datetime.datetime(1970, 1, 1)))
    else:
        frame.write.format("noop").mode("overwrite").save()
    for i, pred in enumerate(preds or [F.lit(True)]):
        _write_file(
            frame.filter(pred),
            os.path.join(input_dir, f"{i:04d}.parquet"),
            1_000_000 + i * 1000,
        )
    return input_dir, root


def _read_stream(spark: SparkSession, input_dir: str, schema: str = _OBS_SCHEMA):
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(input_dir)
    )


def _append(df: DataFrame, _bid: int, out: str) -> None:
    df.write.mode("append").parquet(out)


def _stream(
    spark: SparkSession,
    frame: DataFrame,
    transform,
    preds=None,
    batch=None,
    mode: str = "append",
    schema: str = _OBS_SCHEMA,
) -> DataFrame:
    """The replay path of every query here: snapshot ``frame``
    (:func:`_replay`), run ``transform`` of the replayed stream to
    completion (availableNow), sink each micro-batch through
    ``batch(df, batch_id, out)`` (default: append it to ``out``) and
    return the parquet at ``out``.

    Raises on a failed or timed-out run rather than return a partial
    sink. Either way the input and checkpoint are deleted and the root
    is queued for the sweep in :func:`_run_root`."""
    input_dir, root = _replay(spark, frame, preds)
    shaped = transform(_read_stream(spark, input_dir, schema))
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    sink = batch or _append
    try:
        q = (
            shaped.writeStream.foreachBatch(lambda df, bid: sink(df, bid, out))
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):  # raises if the query failed
            q.stop()
            raise TimeoutError("streaming replay did not finish within 600s")
    finally:
        shutil.rmtree(input_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        _COMPLETED_ROOTS.append(root)
    # the default sink writes exactly ``shaped``'s schema; naming it
    # spares the parquet schema-inference job
    return (spark.read if batch else spark.read.schema(shaped.schema)).parquet(out)


def _last_day(mx):
    """Two micro-batches split one day before the last event, so
    per-key state crosses a checkpoint between them."""
    split = mx - F.expr("INTERVAL 1 DAY")
    return [F.col("ts") <= split, F.col("ts") > split]


# Final-watermark emission cutoff, as a DuckDB scalar subquery:
# floor-to-ms(max event time) - delay.
def _wm_cutoff_sql(delay: str) -> str:
    return (
        "(SELECT date_trunc('milliseconds', max(ts)) - INTERVAL "
        f"{delay} FROM observations)"
    )


# --- q_stream_ingest: micro-batch source + stateless transform --------------

def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timer-tick source (MWC:34-39): file-source replay through a
    stateless typed projection (the JSON-ingest shape of MWC:142-157),
    appended to a parquet sink. Stateless -> append mode, no watermark."""
    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: sdf.select(
            "station_id",
            "obs_id",
            "ts",
            "tempc",
            "hum",
            (F.col("windspeed_ms") != 0).alias("has_wind"),
            (F.to_date("rain_sensor_ts") == F.to_date("ts")).alias("fresh"),
        ),
    )


ORACLE_STREAM_INGEST = f"""{_CTE}
SELECT station_id, obs_id, ts, tempc, hum,
       windspeed_ms <> 0 AS has_wind,
       CAST(rain_sensor_ts AS DATE) = CAST(ts AS DATE) AS fresh
FROM observations
"""


# --- q_stream_tumbling: daily tumbling window (the day-boundary reset) ------

def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling windows per station (the MWC:231-240 day logic as
    a streaming aggregation). Append mode: a day emits when the
    watermark (max event time - 1h) passes its end — the final,
    still-open day stays in state, exactly what the oracle encodes."""
    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"), F.col("station_id"))
            .agg(
                F.count("*").alias("n_obs"),
                (F.max("rain_counter_mm") - F.min("rain_counter_mm")).alias("rain_day_mm"),
            )
            .select(
                "station_id", F.col("w.start").alias("day_start"), "n_obs", "rain_day_mm"
            )
        ),
    )


ORACLE_STREAM_TUMBLING = f"""{_CTE}
SELECT station_id,
       time_bucket(INTERVAL '1 day', ts, TIMESTAMP '1970-01-01 00:00:00') AS day_start,
       count(*) AS n_obs,
       max(rain_counter_mm) - min(rain_counter_mm) AS rain_day_mm
FROM observations
GROUP BY 1, 2
HAVING day_start + INTERVAL 1 DAY <= {_wm_cutoff_sql("1 HOUR")}
"""


# --- q_stream_sliding: 6h windows sliding by 3h ------------------------------

def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (6h length, 3h slide): every observation lands in
    exactly two windows. The oracle replicates the expansion with an
    explicit 2-offset unnest — the same row-multiplying expand Spark's
    physical plan uses."""
    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), F.col("station_id"))
            .agg(F.count("*").alias("n_obs"), F.max("windspeed_ms").alias("max_wind"))
            .select("station_id", F.col("w.start").alias("wstart"), "n_obs", "max_wind")
        ),
    )


ORACLE_STREAM_SLIDING = f"""{_CTE},
expanded AS (
  SELECT station_id, ts, windspeed_ms,
         time_bucket(INTERVAL '3 hours', ts, TIMESTAMP '1970-01-01 00:00:00')
           - off * INTERVAL 3 HOUR AS wstart
  FROM observations, (SELECT unnest([0, 1]) AS off)
)
SELECT station_id, wstart, count(*) AS n_obs, max(windspeed_ms) AS max_wind
FROM expanded
GROUP BY 1, 2
HAVING wstart + INTERVAL 6 HOUR <= {_wm_cutoff_sql("1 HOUR")}
"""


# --- q_stream_session: session windows (30-minute gap) -----------------------

def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per station with a 30-minute gap. Append mode:
    a session emits once the watermark passes its end (last obs + gap);
    each station's final open session stays in state — mirrored by the
    oracle's emission cutoff."""
    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: (
            sdf.withWatermark("ts", "1 second")
            .groupBy(F.col("station_id"), F.session_window("ts", "30 minutes").alias("sw"))
            .agg(F.count("*").alias("n_obs"))
            .select(
                "station_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_obs",
            )
        ),
    )


# A new session starts when the gap is >= 30 min (session intervals are
# half-open [ts, ts+gap), so an exactly-30-min gap does NOT merge).
# Duplicate-delivery boundary (r09 duprows probe): session BOUNDARIES
# depend only on the time axis — exactly session_window's semantics —
# so the marks/sid chain runs over DISTINCT (station, ts) (tie-free:
# a lag+cumsum pair over a TIED ordering pairs new_s with rows
# engine-arbitrarily), and the row COUNT fans back out afterward so
# duplicate deliveries still count as observations, matching Spark's
# count(*) per session window.
ORACLE_STREAM_SESSION = f"""{_CTE},
dts AS (SELECT DISTINCT station_id, ts FROM observations),
marks AS (
  SELECT station_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY station_id ORDER BY ts) IS NULL
                OR ts >= lag(ts) OVER (PARTITION BY station_id ORDER BY ts)
                         + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM dts
),
sess AS (
  SELECT station_id, ts,
         sum(new_s) OVER (PARTITION BY station_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marks
),
rows_in AS (
  SELECT o.station_id, s.sid, o.ts
  FROM observations o JOIN sess s
    ON s.station_id IS NOT DISTINCT FROM o.station_id AND s.ts = o.ts
)
SELECT station_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_obs
FROM rows_in
GROUP BY station_id, sid
HAVING max(ts) + INTERVAL 30 MINUTE <= {_wm_cutoff_sql("1 SECOND")}
"""


# --- q_stream_watermark: late-data handling (staleness guard, MWC:244) ------

def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly counts with a 1-hour watermark and *planted late data*:
    rows with ``obs_id % 89 == 0`` older than (max ts - 2d12h) are
    replayed two batches after their window closed, so the watermark
    drops them (MWC:244's stale-sensor guard, generalized).

    Replay plan, one micro-batch per file: file0 = on-time history,
    file1 = next day (advances the watermark far past the planted
    windows), file2 = planted late rows + the final day. The split
    points are set from the max event time (:func:`_replay`)."""

    def splits(mx):
        t1 = mx - F.expr("INTERVAL 2 DAY")
        t2 = mx - F.expr("INTERVAL 1 DAY")
        late = (F.col("obs_id") % 89 == 0) & (
            F.col("ts") <= t1 - F.expr("INTERVAL 12 HOUR")
        )
        return [
            (F.col("ts") <= t1) & ~late,
            (F.col("ts") > t1) & (F.col("ts") <= t2),
            late | (F.col("ts") > t2),
        ]

    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), F.col("station_id"))
            .agg(F.count("*").alias("n_obs"))
            .select("station_id", F.col("w.start").alias("wstart"), "n_obs")
        ),
        preds=splits,
    )


ORACLE_STREAM_WATERMARK = f"""{_CTE},
kept AS (
  SELECT * FROM observations
  WHERE NOT (obs_id % 89 = 0
             AND ts <= (SELECT max(ts) FROM observations)
                       - INTERVAL 2 DAY - INTERVAL 12 HOUR)
)
SELECT station_id,
       time_bucket(INTERVAL '1 hour', ts, TIMESTAMP '1970-01-01 00:00:00') AS wstart,
       count(*) AS n_obs
FROM kept
GROUP BY 1, 2
HAVING wstart + INTERVAL 1 HOUR <= {_wm_cutoff_sql("1 HOUR")}
"""


# --- q_stream_stateful: the rain machine as per-key streaming state ----------

def _rain_machine(key, pdf_iter, state: GroupState):
    """Per-station rain state machine — the spreadsheet cells as
    GroupState: (cur_day ordinal, day_start_r [B2], saved_r [C2]).

    Exactly MWC:229-280: day-boundary reset writes C2=0 (rain across
    midnight attributed to neither day), staleness guard on the
    sensor's own date, first-rain-of-day rate uses the daily
    accumulation, state written back only when the counter advanced."""
    if state.exists:
        cur_day, day_start, saved = state.get
    else:
        cur_day, day_start, saved = -1, 0.0, 0.0
    chunks = list(pdf_iter)
    # counter as the final tie-break, mirroring _RAIN_BASE_SQL's
    # windows (r09 duprows class): duplicate deliveries tie on
    # (ts, obs_id) with DISTINCT counter values, and day_start/saved
    # are order-dependent state — pandas' stable sort would otherwise
    # pick the file-order twin where the oracle picks min-r.
    pdf = pd.concat(chunks).sort_values(["ts", "obs_id", "rain_counter_mm"])
    out_rows = []
    for row in pdf.itertuples():
        day = row.ts.toordinal()
        r = row.rain_counter_mm
        if day != cur_day:  # MWC:231-240 day-boundary reset (C2 = 0)
            cur_day, day_start, saved = day, r, 0.0
        fresh = row.rain_sensor_ts.date() == row.ts.date()  # MWC:244
        raining = fresh and r != day_start
        daily = r - day_start if raining else 0.0
        if raining:
            base = saved if saved != 0.0 else day_start  # MWC:256-263
            rate = float(OBS_PER_HOUR) * (r - base)
        else:
            rate = 0.0
        if raining and r != saved:  # MWC:270-272 guarded writeback
            saved = r
        out_rows.append((key[0], row.obs_id, row.ts, r, daily, rate))
    state.update((cur_day, day_start, saved))
    yield pd.DataFrame(
        out_rows,
        columns=["station_id", "obs_id", "ts", "r", "dailyrainmm", "rainmm"],
    )


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandasWithState`` rain machine, replayed across TWO
    micro-batches (split at max ts - 1 day) so the B2/C2/D2 state
    genuinely persists through the checkpoint between batches. The
    output must equal the batch window-function form (rain.py) —
    SURVEY §5.2.4's replay-determinism requirement — so the oracle is
    the same SQL that checks q_rain_daily_delta/q_rain_rate."""
    return _machine_stream(spark, sf_dir, "q_stream_stateful")


# Same semantics as the batch rain machine -> reuse its oracle text.
ORACLE_STREAM_STATEFUL = ORACLE_RAIN_METRICS


# --- q_stream_sink: foreachBatch WOW sink + dead-letter channel --------------

def q_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WOW POST sink (MWC:369-409) as ``foreachBatch``: per batch,
    build the form payload, route sensor-fault rows (windspeed == 0,
    the 'error' events) to a dead-letter parquet (the MWC:399-409
    log+email analog) and the rest to the publish parquet. Returns the
    published rows; the dead-letter table is asserted in tests."""

    def route(df: DataFrame, _bid: int, out: str) -> None:
        dl_dir = os.path.join(os.path.dirname(out), "dead_letter")
        # stash the dead-letter path so tests can inspect the side channel
        q_stream_sink.last_dead_letter_dir = dl_dir  # type: ignore[attr-defined]
        df.persist()
        try:
            ok = df.filter(F.col("ws") != 0).withColumn(
                "body",
                F.concat_ws(
                    "&",
                    F.concat(F.lit("siteid="), F.col("siteid")),
                    F.concat(F.lit("tempf="), F.col("tempf")),
                    F.concat(F.lit("humidity="), F.col("humidity")),
                ),
            ).drop("ws")
            ok.write.mode("append").parquet(out)
            dl = df.filter(F.col("ws") == 0).select(
                "obs_id", F.lit("sensor fault: windspeed=0").alias("reason")
            )
            dl.write.mode("append").parquet(dl_dir)
        finally:
            df.unpersist()

    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: sdf.select(
            "obs_id",
            F.concat(F.lit("wow-"), F.col("station_id")).alias("siteid"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("dateutc"),
            F.expr(fixed_str_sql(c_to_f_sql("tempc"), 1)).alias("tempf"),
            F.expr(fixed_str_sql("hum", 0)).alias("humidity"),
            F.col("windspeed_ms").alias("ws"),
        ),
        batch=route,
    )


ORACLE_STREAM_SINK = f"""{_CTE}
SELECT obs_id,
       'wow-' || station_id AS siteid,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS dateutc,
       {fixed_str_sql(c_to_f_sql("tempc"), 1)} AS tempf,
       {fixed_str_sql("hum", 0)} AS humidity,
       'siteid=wow-' || station_id
         || '&tempf=' || {fixed_str_sql(c_to_f_sql("tempc"), 1)}
         || '&humidity=' || {fixed_str_sql("hum", 0)} AS body
FROM observations
WHERE windspeed_ms <> 0
"""


# --- q_stream_dedup: stateful streaming deduplication ------------------------

def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the replay appends a second file that
    re-delivers every obs_id % 101 == 0 row (an at-least-once source
    retry); ``dropDuplicates`` holds seen keys in state across
    micro-batches and suppresses the redeliveries. The dedup key is
    the FULL output tuple — content identity, the streaming face of
    q_dedup_exact's content digest (r09 dupkey probe: an id-only key
    is UNDEFINED when the source violates id uniqueness — two
    DIFFERENT readings sharing an id would keep whichever arrived
    first, an arrival-order accident no oracle can mirror; the
    sanctioned duplicate class is at-least-once redelivery, which is
    byte-identical and content-keyed dedup suppresses it exactly).
    Output == the distinct observation set. At scale the state store
    shards by key hash; with a watermark
    (dropDuplicatesWithinWatermark) the state is bounded."""
    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: sdf.dropDuplicates(
            ["station_id", "obs_id", "ts", "rain_counter_mm"]
        ).select("station_id", "obs_id", "ts", "rain_counter_mm"),
        # the second file re-delivers a subset of the first
        preds=[F.lit(True), F.col("obs_id") % 101 == 0],
    )


ORACLE_STREAM_DEDUP = f"""{_CTE}
SELECT DISTINCT station_id, obs_id, ts, rain_counter_mm FROM observations
"""


# --- q_stream_join: stream-stream interval join ------------------------------

def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: the wind
    sub-stream joined to the rain sub-stream of the same station
    within [-30min, +30min) — Spark buffers both sides in join state,
    with watermarks bounding the buffers (the stateful-join operator
    class, distinct from windowed aggregation).

    Both sides replay in one batch, so the final output equals the
    batch interval join the oracle runs; the watermark + time-range
    condition is what bounds the state at scale (without it, both
    buffers grow forever).

    Hot state keys: keyed only on station_id, the symmetric-hash join
    state would hold EVERY buffered row of a station under one key, and
    each arriving row would scan the whole opposite buffer — O(n²) per
    station (89 s for the sf0.1 replay; the true 100 TB killer, since a
    station's history is unbounded). The standard interval-join
    decomposition adds a 30-minute event-time BUCKET to the equality
    key: the wind side joins on its own bucket, the rain side explodes
    to the three buckets a ±30 min match can land in, and the unchanged range
    predicate keeps semantics exact — each qualifying pair matches in
    exactly ONE exploded copy (bucket(w_ts) is a single value), so
    the output is row-identical (verified: 873 552 rows equal at
    sf0.1; 20 s vs 89 s). State per (station, bucket) key is bounded
    by one half-hour of one station regardless of history length."""
    # 30 min in microseconds — the bucket width equals the join
    # half-window, which is what makes the 3-bucket explode complete
    _bkt = "floor(unix_micros({c}) / 1800000000)"

    def join(base: DataFrame) -> DataFrame:
        wind = (
            base.filter(F.col("obs_id") % 2 == 0)
            .select(
                F.col("station_id").alias("w_station"),
                F.col("ts").alias("w_ts"),
                F.col("obs_id").alias("w_obs"),
                "windspeed_ms",
            )
            .withWatermark("w_ts", "1 hour")
            .withColumn("wb", F.expr(_bkt.format(c="w_ts")))
        )
        rain = (
            base.filter(F.col("obs_id") % 2 == 1)
            .select(
                F.col("station_id").alias("r_station"),
                F.col("ts").alias("r_ts"),
                F.col("obs_id").alias("r_obs"),
                "rain_counter_mm",
            )
            .withWatermark("r_ts", "1 hour")
            .withColumn(
                "rb",
                F.explode(
                    F.expr(
                        "array({b} - 1, {b}, {b} + 1)".format(
                            b=_bkt.format(c="r_ts")
                        )
                    )
                ),
            )
        )
        return (
            wind.join(
                rain,
                (F.col("w_station") == F.col("r_station"))
                & (F.col("wb") == F.col("rb"))
                & (F.col("r_ts") >= F.col("w_ts") - F.expr("INTERVAL 30 MINUTES"))
                & (F.col("r_ts") < F.col("w_ts") + F.expr("INTERVAL 30 MINUTES")),
            )
            .select("w_station", "w_obs", "r_obs", "windspeed_ms", "rain_counter_mm")
        )

    return _stream(spark, _obs(spark, sf_dir), join)


ORACLE_STREAM_JOIN = f"""{_CTE}
SELECT w.station_id AS w_station, w.obs_id AS w_obs, r.obs_id AS r_obs,
       w.windspeed_ms, r.rain_counter_mm
FROM (SELECT * FROM observations WHERE obs_id % 2 = 0) w
JOIN (SELECT * FROM observations WHERE obs_id % 2 = 1) r
  ON w.station_id = r.station_id
 AND r.ts >= w.ts - INTERVAL 30 MINUTE
 AND r.ts < w.ts + INTERVAL 30 MINUTE
"""


# --- q_stream_cep: cross-batch pattern detection (CEP) -----------------------

_CEP_WINDOW_US = 3600 * 1_000_000  # view -> purchase within 1 hour

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _cep_machine(key, pdf_iter, state: GroupState):
    """Per-user CEP state machine: carry the most recent view's epoch
    (microseconds) across micro-batches; every purchase within the
    1-hour window of that view emits a match row."""
    (last_view_us,) = state.get if state.exists else (-1,)
    pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    rows = []
    for r in pdf.itertuples():
        t_us = r.ts.value // 1000
        if r.event_type == "view":
            last_view_us = t_us
        elif r.event_type == "purchase" and last_view_us >= 0:
            lag = t_us - last_view_us
            if lag <= _CEP_WINDOW_US:
                rows.append((key[0], r.event_id, lag))
    state.update((last_view_us,))
    yield pd.DataFrame(
        rows, columns=["user_id", "purchase_event_id", "lag_us"]
    )


def q_stream_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex event processing on the event stream: detect
    'purchase within 1 hour of the user's most recent view', with the
    pending-view state carried across THREE time-ordered micro-batches
    by ``applyInPandasWithState`` — the detection genuinely spans
    batch boundaries (a view in batch 1 can match a purchase in batch
    2), which is what distinguishes CEP state from windowed
    aggregation. Oracle = the batch union-window carry.

    Scale: state is one BIGINT per user in the state store (sharded
    by user like the shuffle); the pattern here is fixed — a
    production CEP layers an NFA over the same carry."""
    return _stream(
        spark,
        load(spark, sf_dir, "events"),
        lambda sdf: sdf.groupBy("user_id").applyInPandasWithState(
            _cep_machine,
            "user_id long, purchase_event_id long, lag_us long",
            "last_view_us long",
            "append",
            GroupStateTimeout.NoTimeout,
        ),
        # three TIME-ORDERED batches (calendar split: the events corpus
        # spans 2024-01-01..30 at every SF) so per-user event order is
        # preserved across the replay, as a real log/Kafka source would.
        preds=[
            F.col("ts") < "2024-01-11",
            (F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21"),
            F.col("ts") >= "2024-01-21",
        ],
        schema=_EV_SCHEMA,
    )


ORACLE_STREAM_CEP = f"""
WITH carried AS (
  SELECT *, last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_ts
  FROM events
)
SELECT user_id, event_id AS purchase_event_id,
       CAST(date_diff('microsecond', v_ts, ts) AS BIGINT) AS lag_us
FROM carried
WHERE event_type = 'purchase' AND v_ts IS NOT NULL
  AND date_diff('microsecond', v_ts, ts) <= {_CEP_WINDOW_US}
"""


# --- q_stream_cagg: streaming continuous aggregate (materialized view) -------

def q_stream_cagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate — the streaming face of
    q_rollup_hypertable's finest level: per (station, 15-minute
    bucket) counts/sums maintained INCREMENTALLY in update mode
    across three replay micro-batches. Each batch's foreachBatch
    appends the re-emitted (updated) rows with the batch id; the
    materialized view is the LATEST emission per key (argmax batch
    via row_number), checked against the batch 15-minute rollup —
    update-mode re-emission + last-writer-wins upsert is exactly how
    a streaming pipeline maintains a rollup table a BI dashboard
    reads.

    Scale: state is (station, window)-keyed aggregates in the state
    store; the sink-side dedup is the merge-on-read compaction of
    q_cdc_apply. No watermark: every window stays updatable (the
    final emission includes all data), which is the right trade for
    a small always-hot rollup; a production variant adds one to
    bound state."""
    # coalesce: the batch split must be EXHAUSTIVE (the r08 q_incr_agg
    # lesson, re-found by the r09 null-id probe) — a NULL obs_id fails
    # all three plain `% 3 == k` predicates and silently vanishes from
    # the replay; bucketing NULL ids into batch 2 keeps every
    # observation delivered exactly once.
    # pmod, not % (r13 idneg probe): truncated % sends a NEGATIVE
    # obs_id to bucket -1/-2, which matches NONE of the three split
    # predicates — the same silent-nondelivery class as the NULL id,
    # on the sign axis; pmod makes the split exhaustive over int64.
    bucket3 = F.coalesce(F.pmod(F.col("obs_id"), F.lit(3)), F.lit(2))
    sunk = _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: (
            sdf.groupBy(F.window("ts", "15 minutes").alias("w"), F.col("station_id"))
            .agg(
                F.count("*").alias("n_obs"),
                F.sum(F.floor(F.col("tempc") * 1000 + F.lit(0.5)).cast("bigint"))
                .cast("bigint")
                .alias("tempc_fp_sum"),
            )
            .select(
                "station_id",
                F.col("w.start").alias("bucket_start"),
                "n_obs",
                "tempc_fp_sum",
            )
        ),
        preds=[bucket3 == 0, bucket3 == 1, bucket3 == 2],
        batch=lambda df, bid, out: df.withColumn("bid", F.lit(bid))
        .write.mode("append")
        .parquet(out),
        mode="update",
    )
    w_last = Window.partitionBy("station_id", "bucket_start").orderBy(
        F.col("bid").desc()
    )
    return (
        sunk.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("station_id", "bucket_start", "n_obs", "tempc_fp_sum")
    )


ORACLE_STREAM_CAGG = f"""{_CTE}
SELECT station_id,
       time_bucket(INTERVAL '15 minutes', ts,
                   TIMESTAMP '1970-01-01 00:00:00') AS bucket_start,
       count(*) AS n_obs,
       CAST(sum(CAST(floor(tempc * 1000 + 0.5) AS BIGINT)) AS BIGINT)
         AS tempc_fp_sum
FROM observations
GROUP BY 1, 2
"""


# --- q_stream_static_join: stream-static enrichment join ---------------------

def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each observation micro-batch broadcast-
    joins the STATIC region dimension (station_id = region key, the
    q_join_salted mapping) — the stateless enrichment pattern (Kafka
    stream x dimension table). The replay splits the stream into
    three micro-batches to prove the static side re-joins per batch;
    unmatched stations pass through with a NULL name (left join —
    enrichment must never drop fact rows).

    Scale: zero streaming state — the static side is a broadcast
    re-resolved per micro-batch, so a dimension refresh lands on the
    next batch without restarting the query."""
    # coalesce: exhaustive batch split under NULL obs_id (r09 null-id
    # probe; same class as q_stream_cagg / the r08 q_incr_agg split).
    # pmod, not % (r13 idneg probe): truncated % sends a NEGATIVE
    # obs_id to bucket -1/-2, which matches NONE of the three split
    # predicates — the same silent-nondelivery class as the NULL id,
    # on the sign axis; pmod makes the split exhaustive over int64.
    bucket3 = F.coalesce(F.pmod(F.col("obs_id"), F.lit(3)), F.lit(2))
    region = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("string").alias("station_id"),
        F.col("r_name").alias("region_name"),
    )
    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: sdf.join(F.broadcast(region), "station_id", "left").select(
            "station_id", "obs_id", "region_name", "tempc", "windspeed_ms"
        ),
        preds=[bucket3 == 0, bucket3 == 1, bucket3 == 2],
    )


ORACLE_STREAM_STATIC_JOIN = f"""{_CTE}
SELECT o.station_id, o.obs_id, r.r_name AS region_name,
       o.tempc, o.windspeed_ms
FROM observations o
LEFT JOIN region r ON CAST(r.r_regionkey AS VARCHAR) = o.station_id
"""


# --- q_stream_twap: running time-weighted average as per-key state -----------
#
# The prep.py q_time_weighted_avg trapezoid as a STREAMING stateful
# operator: per station, the running time-weighted mean of tempc
# after every observation, with the integration state
# (first_es, prev_es, prev_vfp, num, n) carried across micro-batches
# by ``applyInPandasWithState`` — a genuinely different state shape
# from the rain machine's day-reset cells (an accumulating integral
# that never resets). Replayed across TWO batches split a day before
# the end so the state provably survives the checkpoint. The oracle
# is the equivalent batch cumulative-window form — replay
# determinism means streaming ≡ batch exactly (SURVEY §5.2.4).
#
# Exactness: vfp = floor(100·tempc + 0.5) cents, es = floored epoch
# seconds (both floors match the oracle); tempc goes below zero, so
# the truncating divide uses the sign-split idiom (corpus.py:434) in
# BOTH the pandas fold and the SQL.


def _twap_machine(key, pdf_iter, state: GroupState):
    """Per-station running trapezoid: num accumulates
    (v_prev + v_cur)·dt; twap_fp = num div (2·span), sign-split."""
    import math as _math

    if state.exists:
        first_es, prev_es, prev_vfp, num, n = state.get
    else:
        first_es, prev_es, prev_vfp, num, n = -1, -1, 0, 0, 0
    pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "obs_id"])
    out_rows = []
    for row in pdf.itertuples():
        # exact ns→s floor; .timestamp() round-trips through a double
        # and can truncate to the wrong second at sub-us precision
        es = row.ts.value // 10**9
        vfp = int(_math.floor(row.tempc * 100 + 0.5))
        if n == 0:
            first_es = es
        else:
            num += (prev_vfp + vfp) * (es - prev_es)
        n += 1
        prev_es, prev_vfp = es, vfp
        span = es - first_es
        if span > 0:
            mag = num if num >= 0 else -num
            twap = mag // (2 * span)
            twap = twap if num >= 0 else -twap
        else:
            twap = None
        out_rows.append((key[0], row.obs_id, n, span, twap))
    state.update((first_es, prev_es, prev_vfp, num, n))
    yield pd.DataFrame(
        out_rows, columns=["station_id", "obs_id", "n_obs", "span_s", "twap_fp"]
    )


def q_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-station TWAP of tempc after each observation,
    state carried across two micro-batches."""
    return _machine_stream(spark, sf_dir, "q_stream_twap")


ORACLE_STREAM_TWAP = f"""{_CTE},
base AS (
  SELECT station_id, obs_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(floor(tempc * 100 + 0.5) AS BIGINT) AS vfp
  FROM observations
),
-- windows order by RAW ts (sub-second precision), matching the
-- pandas machine's sort_values(["ts", "obs_id"]) — ordering by the
-- floored second would diverge on same-second ties whose obs_id
-- order differs from sub-second order (review r05)
s1 AS (
  SELECT station_id, obs_id, ts, es, vfp,
         CAST(row_number() OVER w AS BIGINT) AS n_obs,
         lag(es) OVER w AS pes,
         lag(vfp) OVER w AS pvfp
  FROM base
  WINDOW w AS (PARTITION BY station_id ORDER BY ts, obs_id)
),
-- duplicate-delivery boundary (r09 duprows probe): byte-identical
-- rows tie on (ts, obs_id), and a tie group's per-row lag
-- contributions are {{segment, 0, ...}} assigned in engine-arbitrary
-- per-row order — a second ROWS-framed pass over the same tied
-- ordering pairs cumulative sums with rows nondeterministically.
-- Cumulative state is therefore only defined at TIE-GROUP
-- granularity: sum each (ts, obs_id) group's contributions (group
-- rows are tie-FREE), run the cumulative over those, then fan back
-- out — every twin shares its group's num, exactly like the
-- single-pass machine (GROUPS frame mode, which DuckDB lacks).
grp AS (
  SELECT station_id, ts, obs_id, max(es) AS es,
         sum(CASE WHEN pes IS NULL THEN 0
                  ELSE (pvfp + vfp) * (es - pes) END) AS gc
  FROM s1 GROUP BY station_id, ts, obs_id
),
gcum AS (
  SELECT station_id, ts, obs_id,
         CAST(es - first_value(es) OVER w2 AS BIGINT) AS span_s,
         CAST(coalesce(sum(gc) OVER (PARTITION BY station_id ORDER BY ts, obs_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
           AS BIGINT) AS num
  FROM grp
  WINDOW w2 AS (PARTITION BY station_id ORDER BY ts, obs_id)
)
SELECT s1.station_id, s1.obs_id, s1.n_obs, g.span_s,
       CASE WHEN g.span_s > 0 THEN
         CASE WHEN g.num >= 0 THEN g.num // (2 * g.span_s)
              ELSE -((-g.num) // (2 * g.span_s)) END
       END AS twap_fp
FROM s1 JOIN gcum g
  ON g.station_id IS NOT DISTINCT FROM s1.station_id
 AND g.ts = s1.ts
 AND g.obs_id IS NOT DISTINCT FROM s1.obs_id
"""


QUERIES = {
    "q_stream_ingest": (q_stream_ingest, ORACLE_STREAM_INGEST),
    "q_stream_twap": (q_stream_twap, ORACLE_STREAM_TWAP),
    "q_stream_static_join": (q_stream_static_join, ORACLE_STREAM_STATIC_JOIN),
    "q_stream_cagg": (q_stream_cagg, ORACLE_STREAM_CAGG),
    "q_stream_cep": (q_stream_cep, ORACLE_STREAM_CEP),
    "q_stream_dedup": (q_stream_dedup, ORACLE_STREAM_DEDUP),
    "q_stream_join": (q_stream_join, ORACLE_STREAM_JOIN),
    "q_stream_tumbling": (q_stream_tumbling, ORACLE_STREAM_TUMBLING),
    "q_stream_sliding": (q_stream_sliding, ORACLE_STREAM_SLIDING),
    "q_stream_session": (q_stream_session, ORACLE_STREAM_SESSION),
    "q_stream_watermark": (q_stream_watermark, ORACLE_STREAM_WATERMARK),
    "q_stream_stateful": (q_stream_stateful, ORACLE_STREAM_STATEFUL),
    "q_stream_sink": (q_stream_sink, ORACLE_STREAM_SINK),
}


# --- q_stream_anomaly: prequential z-score anomaly detection ------------------
#
# Per station, each observation's z-score against the running
# mean/variance of all PRIOR observations (prequential — the
# detector never sees the point it judges), with the sufficient
# statistics (n, sum_vfp, sum_vfp2) as exact BIGINT streaming state.
# The z expression is ONE shared IEEE shape — Python floats and SQL
# DOUBLEs are the same binary64 ops in the same order — and the
# degeneracy guard (n >= 2 AND n·sum2 − sum² > 0) is exact integer,
# never a float-rounded variance compare (a constant series must
# yield NULL, not sqrt(-1e-12)). Oracle = the batch lagged-window
# form; the anomaly flag is |z| > 3.
#
# Scale: state is three BIGINTs per station; the guard product
# n·sum2 ~ n²·2.5e7 would pass a BIGINT at ~1.9e4 observations per
# station, so the oracle computes it in HUGEINT (int128) — the same
# arbitrary-precision semantics as the Python machine's int — which
# is exact to n ~ 1e9 per station, far past any real replay. Both
# sides therefore stay bit-identical instead of degrading into a
# float-rounded variance compare.


def _anomaly_machine(key, pdf_iter, state: GroupState):
    import math as _math

    if state.exists:
        n, s1, s2 = state.get
    else:
        n, s1, s2 = 0, 0, 0
    pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "obs_id"])
    out_rows = []
    for row in pdf.itertuples():
        vfp = int(_math.floor(row.tempc * 100 + 0.5))
        if n >= 2 and n * s2 - s1 * s1 > 0:
            mean = s1 / n
            z = (vfp - mean) / _math.sqrt(s2 / n - mean * mean)
            flag = 1 if abs(z) > 3.0 else 0
        else:
            z, flag = None, None
        out_rows.append((key[0], row.obs_id, n, z, flag))
        n, s1, s2 = n + 1, s1 + vfp, s2 + vfp * vfp
    state.update((n, s1, s2))
    yield pd.DataFrame(
        out_rows, columns=["station_id", "obs_id", "n_prior", "z", "is_anomaly"]
    )


def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per observation: prior-count, prequential z-score of tempc and
    the |z| > 3 anomaly flag, state across two micro-batches."""
    return _machine_stream(spark, sf_dir, "q_stream_anomaly")


ORACLE_STREAM_ANOMALY = f"""{_CTE},
base AS (
  SELECT station_id, obs_id,
         CAST(floor(tempc * 100 + 0.5) AS BIGINT) AS vfp,
         ts
  FROM observations
),
prior AS (
  SELECT station_id, obs_id, vfp,
         CAST(coalesce(count(vfp) OVER w, 0) AS BIGINT) AS n,
         CAST(coalesce(sum(vfp) OVER w, 0) AS BIGINT) AS s1,
         CAST(coalesce(sum(vfp * vfp) OVER w, 0) AS BIGINT) AS s2
  FROM base
  WINDOW w AS (PARTITION BY station_id ORDER BY ts, obs_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT station_id, obs_id, n AS n_prior,
       CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 > 0 THEN
         (CAST(vfp AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
       END AS z,
       CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 > 0 THEN
         CAST(CASE WHEN abs(
           (CAST(vfp AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) > 3.0
           THEN 1 ELSE 0 END AS INT)
       END AS is_anomaly
FROM prior
"""

QUERIES["q_stream_anomaly"] = (q_stream_anomaly, ORACLE_STREAM_ANOMALY)


# --- q_stream_gap_detector: missed-tick detection (round 5s) -----------------
#
# The monitoring query the reference itself needs: its contract is
# one observation per station every 15 minutes (observ_exec_freq=4,
# MWC:34-39), and a production deployment must ALERT when ticks go
# missing. Per station, state = the previous floored epoch second;
# every arrival whose gap exceeds 1.5 cadences emits a missed-tick
# row with the gap and how many ticks were lost. Pure integer state
# and output; oracle = the batch lag-window form.
#
# Scale: one BIGINT per station of state; output is bounded by the
# number of GAPS, not observations.

_TICK_S = 3600 // OBS_PER_HOUR  # the 15-min cadence in seconds
_GAP_TOL = _TICK_S + _TICK_S // 2  # 1.5 cadences


def _gap_machine(key, pdf_iter, state: GroupState):
    if state.exists:
        (prev_es,) = state.get
    else:
        prev_es = -1
    pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "obs_id"])
    out_rows = []
    for row in pdf.itertuples():
        es = row.ts.value // 10**9  # exact ns→s floor (see _twap_machine)
        if prev_es >= 0:
            gap = es - prev_es
            if gap > _GAP_TOL:
                # ticks missed: whole cadences hidden inside the gap
                out_rows.append(
                    (key[0], row.obs_id, gap, (gap - 1) // _TICK_S)
                )
        prev_es = es
    state.update((prev_es,))
    yield pd.DataFrame(
        out_rows, columns=["station_id", "obs_id", "gap_s", "n_missed"]
    )


def q_stream_gap_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missed-tick alerts: observations arriving more than 1.5
    cadences after their predecessor, with the implied missed count;
    state across two micro-batches."""
    return _machine_stream(spark, sf_dir, "q_stream_gap_detector")


ORACLE_STREAM_GAP = f"""{_CTE},
base AS (
  SELECT station_id, obs_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM observations
),
gaps AS (
  SELECT station_id, obs_id,
         es - lag(es) OVER (PARTITION BY station_id
                            ORDER BY ts, obs_id) AS gap_s
  FROM base
)
SELECT station_id, obs_id, CAST(gap_s AS BIGINT) AS gap_s,
       CAST((gap_s - 1) // {_TICK_S} AS BIGINT) AS n_missed
FROM gaps WHERE gap_s > {_GAP_TOL}
"""

QUERIES["q_stream_gap_detector"] = (q_stream_gap_detector, ORACLE_STREAM_GAP)


# --- the per-station state machines, each replayed over _last_day's two
# micro-batches: qid -> (machine, output schema, state schema) ----------------

_MACHINES = {
    "q_stream_stateful": (
        _rain_machine,
        "station_id string, obs_id long, ts timestamp, r double,"
        " dailyrainmm double, rainmm double",
        "cur_day long, day_start double, saved double",
    ),
    "q_stream_twap": (
        _twap_machine,
        "station_id string, obs_id long, n_obs long, span_s long, twap_fp long",
        "first_es long, prev_es long, prev_vfp long, num long, n long",
    ),
    "q_stream_anomaly": (
        _anomaly_machine,
        "station_id string, obs_id long, n_prior long, z double, is_anomaly int",
        "n long, s1 long, s2 long",
    ),
    "q_stream_gap_detector": (
        _gap_machine,
        "station_id string, obs_id long, gap_s long, n_missed long",
        "prev_es long",
    ),
}


def _machine_stream(spark: SparkSession, sf_dir: str, qid: str) -> DataFrame:
    machine, out_schema, state_schema = _MACHINES[qid]
    return _stream(
        spark,
        _obs(spark, sf_dir),
        lambda sdf: sdf.groupBy("station_id").applyInPandasWithState(
            machine, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        ),
        preds=_last_day,
    )
