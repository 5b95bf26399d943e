"""Streaming-suite semantics: replay determinism (SURVEY §5.2.4), the
dead-letter side channel, watermark late-drop, and checkpoint recovery
across job restarts — properties the oracle-parity suite can't see
(it only checks final values)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stateful_replay_equals_batch(spark, sf_smoke):
    """The applyInPandasWithState rain machine replayed over two
    micro-batches must equal the batch rain SQL (``ORACLE_RAIN_METRICS``)
    — the reference's spreadsheet state vs its whole-history recompute."""
    from metoffice_spark.io import sql_frame
    from metoffice_spark.operators.rain import ORACLE_RAIN_METRICS
    from metoffice_spark.operators.streaming_batch import q_stream_stateful

    cols = ["station_id", "obs_id", "r", "dailyrainmm", "rainmm"]
    streamed = _rows(q_stream_stateful(spark, sf_smoke), cols)
    batch = _rows(sql_frame(spark, sf_smoke, ("events",), ORACLE_RAIN_METRICS), cols)
    assert streamed == batch


def test_checkpoint_recovery_resumes_state(spark, sf_smoke):
    """The reference's spreadsheet state survives across job runs
    (MWC:211-272: read at :211, written back at :236-239/:271-272); the
    rebuild's analog is the streaming checkpoint. Run the stateful rain
    machine to completion on day-1 data (job 1), then RESTART a brand
    new query from the same checkpoint with the final day's file added
    (job 2):

    - exactly-once: job 2 must process only the new file (no replays of
      job 1's rows into the sink);
    - state recovery: the new file starts MID-day (split = max ts - 24h),
      so its first rows extend a day whose B2/C2 state was written by
      job 1 — if the checkpoint state were lost, the machine would
      treat them as a fresh day reset and diverge from batch."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from metoffice_spark.io import sql_frame
    from metoffice_spark.obs import observations
    from metoffice_spark.operators import streaming_batch as sb
    from metoffice_spark.operators.rain import ORACLE_RAIN_METRICS

    root = tempfile.mkdtemp(prefix="metoffice_ckpt_recovery_")
    input_dir = os.path.join(root, "input")
    os.makedirs(input_dir)
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    obs = observations(spark, sf_smoke).select(*sb._OBS_COLS)
    mx = obs.select(F.max("ts").alias("m")).collect()[0].m
    split = F.lit(mx) - F.expr("INTERVAL 1 DAY")

    machine, out_schema, state_schema = sb._MACHINES["q_stream_stateful"]

    def run_job() -> None:
        sdf = sb._read_stream(spark, input_dir)
        shaped = sdf.groupBy("station_id").applyInPandasWithState(
            machine, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
        q = (
            shaped.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600), "streaming job did not finish"
        assert q.exception() is None

    try:
        sb._write_file(
            obs.filter(F.col("ts") <= split),
            os.path.join(input_dir, "0000.parquet"),
            1_000_000,
        )
        run_job()
        n_job1 = spark.read.parquet(out).count()
        assert 0 < n_job1 < obs.count()

        sb._write_file(
            obs.filter(F.col("ts") > split),
            os.path.join(input_dir, "0001.parquet"),
            1_001_000,
        )
        run_job()  # restart from the same checkpoint

        final = spark.read.parquet(out)
        # exactly-once across the restart: nothing reprocessed
        assert final.count() == obs.count()
        assert final.select("obs_id").distinct().count() == obs.count()
        # recovered state: identical to the uninterrupted batch machine
        cols = ["station_id", "obs_id", "r", "dailyrainmm", "rainmm"]
        batch = sql_frame(spark, sf_smoke, ("events",), ORACLE_RAIN_METRICS)
        assert _rows(final, cols) == _rows(batch, cols)
    finally:
        shutil.rmtree(root, ignore_errors=True)


import pytest


@pytest.mark.parametrize(
    "qid", ["q_stream_twap", "q_stream_anomaly", "q_stream_gap_detector"]
)
def test_mid_replay_crash_recovers_exactly_once(spark, sf_smoke, qid):
    """Fault injection MID-replay (SURVEY §7 endgame item 2, started
    early): the sink crashes inside the SECOND micro-batch before
    writing — the failure mode test_checkpoint_recovery_resumes_state
    does not cover (that test restarts between complete, committed
    jobs). The restarted query must (a) reprocess ONLY the failed
    batch — batch 0's committed offset survives the crash — and (b)
    produce output identical to the uninterrupted run, proving the
    per-station state (integration cells / sufficient statistics /
    prev-tick) was recovered from the checkpoint, not rebuilt from a
    fresh-day reset."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from metoffice_spark.operators import streaming_batch as sb

    machine, out_schema, state_schema = sb._MACHINES[qid]
    input_dir, root = sb._replay(spark, sb._obs(spark, sf_smoke), sb._last_day)
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    def run(sink):
        sdf = sb._read_stream(spark, input_dir)
        shaped = sdf.groupBy("station_id").applyInPandasWithState(
            machine, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
        q = (
            shaped.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(600)
        except Exception:  # noqa: BLE001 — the injected crash surfaces here
            pass
        return q.exception()

    def crashing(df, bid):
        if bid >= 1:
            raise RuntimeError("injected mid-replay crash")
        df.write.mode("append").parquet(out)

    def healthy(df, bid):
        df.write.mode("append").parquet(out)

    try:
        exc = run(crashing)
        assert exc is not None and "injected mid-replay crash" in str(exc)
        n_partial = spark.read.parquet(out).count()
        assert n_partial > 0  # batch 0 landed before the crash

        assert run(healthy) is None  # restart from the same checkpoint
        final = spark.read.parquet(out)
        # (a) exactly-once: batch 0 not reprocessed, no duplicate rows
        key = ["station_id", "obs_id"]
        assert final.count() == final.select(*key).distinct().count()
        # (b) state recovered: identical to the uninterrupted streaming
        # run (the registry query replays the same deterministic files)
        reg_fn = sb.QUERIES[qid][0]
        cols = final.columns
        assert _rows(final, cols) == _rows(reg_fn(spark, sf_smoke), cols)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_failed_replay_raises_and_queues_its_root(spark, sf_smoke):
    """A replay whose batch function raises must re-raise, and its root
    (input, checkpoint and partial output) must still be queued for the
    sweep, with the input and checkpoint already gone."""
    from metoffice_spark.operators import streaming_batch as sb

    def boom(df, bid, out):
        df.write.mode("append").parquet(out)
        raise RuntimeError("injected sink failure")

    before = list(sb._COMPLETED_ROOTS)
    with pytest.raises(Exception, match="injected sink failure"):
        sb._stream(spark, sb._obs(spark, sf_smoke), lambda sdf: sdf, batch=boom)
    queued = [r for r in sb._COMPLETED_ROOTS if r not in before]
    try:
        assert len(queued) == 1
        assert os.path.isdir(os.path.join(queued[0], "out"))  # the partial sink
        assert not os.path.exists(os.path.join(queued[0], "input"))
        assert not os.path.exists(os.path.join(queued[0], "ckpt"))
    finally:
        for root in queued:
            shutil.rmtree(root, ignore_errors=True)


def test_sink_dead_letter_channel(spark, sf_smoke):
    """Sensor-fault rows (windspeed==0, the 'error' events) must land in
    the dead-letter parquet, and published + dead == total."""
    from metoffice_spark.obs import observations
    from metoffice_spark.operators.streaming_batch import q_stream_sink

    ok = q_stream_sink(spark, sf_smoke)
    dl_dir = q_stream_sink.last_dead_letter_dir
    assert os.path.isdir(dl_dir)
    dl = spark.read.parquet(dl_dir)
    total = observations(spark, sf_smoke).count()
    n_ok, n_dl = ok.count(), dl.count()
    assert n_dl > 0, "no dead-letter rows — the error channel never fired"
    assert n_ok + n_dl == total
    assert dl.filter(F.col("reason").contains("windspeed")).count() == n_dl


def test_http_sink_routes_4xx_to_dead_letter(spark, sf_smoke):
    """Real HTTP round-trip for the WOW sink (MWC:369-409): POST every
    payload body to a local http.server that rejects calm-wind
    observations (winddir=000) with 422; the engine must record the
    planted 4xx per-row and the 200/4xx split must exactly match the
    calm predicate. Exercises the live network path the oracle gate
    cannot (executor-side mapInPandas POSTs, per-row status capture)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from metoffice_spark.operators.ingest import http_post_wow, wow_payload

    class _WowHandler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            code = 422 if b"winddir=000" in body else 200
            self.send_response(code)
            self.end_headers()
            self.wfile.write(b"ok" if code == 200 else b"rejected")

        def log_message(self, *args):  # silence per-request stderr noise
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), _WowHandler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        url = f"http://127.0.0.1:{server.server_port}/wow"
        payload = wow_payload(spark, sf_smoke)
        results = http_post_wow(payload, url).collect()
        calm_ids = {
            r.obs_id for r in payload.filter(F.col("winddir") == "000").collect()
        }
        assert calm_ids, "fixture produced no calm observations"
        assert len(results) == payload.count()
        got_dead = {r.obs_id for r in results if r.http_code != 200}
        assert all(r.http_code in (200, 422) for r in results)
        assert got_dead == calm_ids
    finally:
        server.shutdown()
        server.server_close()


def test_watermark_drops_planted_late_rows(spark, sf_smoke):
    """The planted late rows (obs_id % 89 == 0, older than max-2.5d)
    must be missing from the streaming counts but present in a batch
    aggregation of the same windows."""
    from metoffice_spark.obs import observations
    from metoffice_spark.operators.streaming_batch import q_stream_watermark

    streamed = q_stream_watermark(spark, sf_smoke)
    obs = observations(spark, sf_smoke)
    mx = obs.select(F.max("ts").alias("m")).collect()[0].m
    batch_all = (
        obs.groupBy(
            F.window("ts", "1 hour").alias("w"), "station_id"
        )
        .agg(F.count("*").alias("n_obs"))
        .select("station_id", F.col("w.start").alias("wstart"), "n_obs")
    )
    s = {(r.station_id, r.wstart): r.n_obs for r in streamed.collect()}
    b = {(r.station_id, r.wstart): r.n_obs for r in batch_all.collect()}
    # planted rows' windows
    planted = obs.filter(
        (F.col("obs_id") % 89 == 0)
        & (F.col("ts") <= F.lit(mx) - F.expr("INTERVAL 2 DAY") - F.expr("INTERVAL 12 HOUR"))
    )
    planted_per_window: dict = {}
    for r in planted.select(
        "station_id", F.date_trunc("hour", "ts").alias("h")
    ).collect():
        planted_per_window[(r.station_id, r.h)] = (
            planted_per_window.get((r.station_id, r.h), 0) + 1
        )
    assert planted_per_window, "fixture produced no planted late rows"
    # every planted row is missing from its streamed window (a window
    # holding only dropped rows never materializes at all)
    for k, n_late in planted_per_window.items():
        assert s.get(k, 0) == b[k] - n_late, f"window {k}: late rows not dropped"


def test_session_windows_respect_gap(spark, sf_smoke):
    """No two consecutive observations inside one reported session may
    be >= 30 minutes apart, and session_end == last obs + 30 min."""
    from metoffice_spark.operators.streaming_batch import q_stream_session

    rows = q_stream_session(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        dur = (r.session_end - r.session_start).total_seconds()
        assert dur >= 30 * 60  # at minimum one obs + gap
        # n_obs sessions can't be longer than n_obs * gap
        assert dur <= (r.n_obs) * 30 * 60


def test_tumbling_excludes_open_final_day(spark, sf_smoke):
    """Append mode: the still-open final day must NOT be emitted."""
    from metoffice_spark.obs import observations
    from metoffice_spark.operators.streaming_batch import q_stream_tumbling

    out = q_stream_tumbling(spark, sf_smoke)
    mx_day = (
        observations(spark, sf_smoke)
        .select(F.date_trunc("day", F.max("ts")).alias("d"))
        .collect()[0]
        .d
    )
    assert out.filter(F.col("day_start") == F.lit(mx_day)).count() == 0
    assert out.count() > 0


def test_stream_dedup_suppresses_redelivery(spark, sf_smoke):
    """Redelivered rows (obs_id % 101 == 0, second file) must be
    dropped: output row count == distinct obs count, no dup obs_ids."""
    from metoffice_spark.obs import observations
    from metoffice_spark.operators.streaming_batch import q_stream_dedup

    out = q_stream_dedup(spark, sf_smoke)
    n_obs = observations(spark, sf_smoke).count()
    assert out.count() == n_obs
    assert out.select("obs_id").distinct().count() == n_obs
