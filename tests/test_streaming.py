"""Phase 3 parity: replaying the events stream through a REAL Structured
Streaming query (file source, foreachBatch merge sink) must produce the
exact batch flagship output (VERDICT r1 item 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def fixtures(spark):
    from opcua_ingestion_engine_spark import catalog as C

    return dict(
        updates=C.opc_updates(spark, SF_SMOKE),
        devices=C.site_devices(spark, SF_SMOKE),
        templates=C.sos_templates(spark),
        connections=C.opc_client_connections(spark),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_replay_matches_batch_flagship(spark, fixtures, tmp_path):
    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.streaming import replay

    batch = ingest.modvalues_snapshot(
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
    )
    sink = replay.replay_modvalues(
        spark,
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
        str(tmp_path),
        num_batches=5,
    )
    assert sink.batches_seen == 5  # maxFilesPerTrigger=1 => one per file
    assert _rows(sink.snapshot()) == _rows(batch)


def test_replay_with_load_shedding_same_final_state(spark, fixtures, tmp_path):
    """T7 queue-10 drop-oldest is pure load shedding under LWW state:
    the final snapshot is unchanged."""
    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.streaming import replay

    batch = ingest.modvalues_snapshot(
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
    )
    sink = replay.replay_modvalues(
        spark,
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
        str(tmp_path),
        num_batches=3,
        queue_size=10,
    )
    assert _rows(sink.snapshot()) == _rows(batch)


def test_merge_is_order_insensitive_and_idempotent(spark, fixtures):
    """T9: the state reducer must tolerate batch reorder and replay."""
    from opcua_ingestion_engine_spark.operators import ingest

    joined, mon, tpl = ingest.prepare_stream(
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
    )
    odd = ingest.perpoint_state(joined.filter(F.col("event_id") % 2 == 1))
    even = ingest.perpoint_state(joined.filter(F.col("event_id") % 2 == 0))
    full = ingest.perpoint_state(joined)

    ab = ingest.merge_perpoint_states(odd, even)
    ba = ingest.merge_perpoint_states(even, odd)
    twice = ingest.merge_perpoint_states(ab, even)  # replayed batch

    assert _rows(ab) == _rows(full)
    assert _rows(ba) == _rows(full)
    assert _rows(twice) == _rows(full)


def test_stateful_liveness_stream(spark, fixtures, tmp_path):
    """T4 applyInPandasWithState: (1) after draining the 2-batch replay,
    every device's latest emitted state matches the batch last-event rule;
    (2) once the (shortened) watchdog timeout elapses with no data, every
    device emits the one-shot offline mark."""
    import time

    from opcua_ingestion_engine_spark.streaming import replay, state as ST

    src = str(tmp_path / "src")
    replay.write_replay_batches(fixtures["updates"], src, 2)
    stream = (
        spark.readStream.schema(fixtures["updates"].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    live = ST.liveness_stream(stream, timeout_ms=2000)
    collected: list = []
    q = (
        live.writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: collected.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    expected = (
        fixtures["updates"]
        .groupBy("daq_name")
        .agg(
            F.max(
                F.struct(
                    F.col("received_ts"), F.col("event_id"), F.col("status_code")
                )
            ).alias("m")
        )
        .select(
            "daq_name",
            F.unix_micros("m.received_ts").alias("ts_us"),
            F.col("m.status_code").alias("status"),
        )
        .collect()
    )
    devices = {r["daq_name"] for r in expected}

    # NOTE: with ProcessingTimeTimeout neither availableNow termination nor
    # processAllAvailable() quiescence ever happens (the engine always
    # schedules another cleanup batch) — poll the sink, then stop().
    try:
        def final_updates():
            out = {}
            for r in collected:
                if r["reason"] != "update":
                    continue
                cur = out.get(r["daq_name"])
                if cur is None or r["last_ts_us"] >= cur["last_ts_us"]:
                    out[r["daq_name"]] = r
            return out

        deadline = time.time() + 120
        while time.time() < deadline:
            f = final_updates()
            if devices <= set(f) and all(
                f[r["daq_name"]]["last_ts_us"] == r["ts_us"] for r in expected
            ):
                break
            time.sleep(1)

        f = final_updates()
        assert devices <= set(f), devices - set(f)
        for r in expected:
            got = f[r["daq_name"]]
            assert got["last_ts_us"] == r["ts_us"], r["daq_name"]
            assert got["online"] == (1.0 if r["status"] == 0 else 0.0)

        # watchdog: with no further data, the 2s processing-time timeout
        # fires in a cleanup batch and marks every device offline once
        deadline = time.time() + 120
        while time.time() < deadline:
            timed_out = {
                r["daq_name"] for r in collected if r["reason"] == "timeout"
            }
            if devices <= timed_out:
                break
            time.sleep(1)
        timed_out = {r["daq_name"] for r in collected if r["reason"] == "timeout"}
        assert devices <= timed_out, devices - timed_out
        assert all(
            r["online"] == 0.0 for r in collected if r["reason"] == "timeout"
        )
    finally:
        q.stop()


def test_heartbeat_refresh_bulk_update(spark, fixtures):
    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.streaming import state as ST

    snap = ingest.modvalues_snapshot(
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
    ).localCheckpoint(eager=True)
    online = snap.filter(
        (F.col("measure_name") == "myPV_online") & (F.col("measure_value") == 1.0)
    ).select("device")
    n_online_rows = snap.join(online, "device", "left_semi").count()
    out = ST.heartbeat_refresh(snap, online, "2099-01-01T00:00:00.000000")
    assert out.filter(F.col("last_updated") == "2099-01-01T00:00:00.000000").count() == n_online_rows
    # offline devices untouched
    offline_before = snap.join(online, "device", "left_anti").select("device", "measure_name", "last_updated")
    offline_after = out.join(online, "device", "left_anti").select("device", "measure_name", "last_updated")
    assert _rows(offline_before) == _rows(offline_after)


def test_watermarked_streaming_window_agg_matches_batch(spark, fixtures, tmp_path):
    """T10 (true streaming form) — a watermarked event-time tumbling
    window aggregation over the replayed stream. Events arrive across
    micro-batches in received_ts order while windows key on source-time
    ``ts``, so windows genuinely span batches and close under the
    watermark. In append mode only watermark-closed windows emit; with
    availableNow the trailing window(s) stay open at stream end, so the
    emitted set must be a prefix-subset of the batch result, exactly
    equal on every emitted window."""
    import os

    from opcua_ingestion_engine_spark.streaming.replay import write_replay_batches

    u = fixtures["updates"].select("event_id", "source_ts", "received_ts", "measure_name", "value")
    src = str(tmp_path / "wm_src")
    write_replay_batches(u, src, num_batches=4)

    def agg(df):
        return df.groupBy(
            F.window("source_ts", "1 hour").alias("w"), "measure_name"
        ).agg(F.count("*").alias("n")).select(
            F.col("w.start").alias("window_start"), "measure_name", "n"
        )

    batch = {(r["window_start"], r["measure_name"]): r["n"] for r in agg(u).collect()}

    stream = (
        spark.readStream.schema(u.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "batch_*"))
        .withWatermark("source_ts", "10 minutes")
    )
    q = (
        agg(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_windows")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        (r["window_start"], r["measure_name"]): r["n"]
        for r in spark.table("wm_windows").collect()
    }
    assert emitted, "watermark never closed any window"
    for k, n in emitted.items():
        assert batch[k] == n, (k, n, batch[k])
    # everything except the still-open trailing window(s) must have closed
    open_starts = {ws for ws, _ in batch} - {ws for ws, _ in emitted}
    closed_max = max(ws for ws, _ in emitted)
    assert all(ws > closed_max for ws in open_starts), (
        "a window older than the newest emitted one never closed"
    )


def test_custom_source_outage_reconnect_parity(spark, fixtures, tmp_path):
    """T5/T6 — a simulated server outage (one connection silent for the
    middle of the replay) loses exactly that window's notifications, like
    the reference's reconnect loop (no backfill, resume from live data —
    OpcSubscribeService.cs:873-957). The streamed final state must equal
    the batch flagship over the outage-filtered stream: the LWW state
    heals with no special-casing."""
    import time

    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.streaming.opcua_source import OpcUaSimDataSource
    from opcua_ingestion_engine_spark.streaming.replay import ModvaluesMergeSink

    u = fixtures["updates"]
    bounds = u.agg(
        F.min(F.unix_micros("received_ts")).alias("lo"),
        F.max(F.unix_micros("received_ts")).alias("hi"),
    ).collect()[0]
    o_start = bounds["lo"] + (bounds["hi"] - bounds["lo"]) // 3
    o_end = bounds["lo"] + 2 * (bounds["hi"] - bounds["lo"]) // 3
    lost = (
        (F.col("conn_id") == 1)
        & (F.unix_micros("received_ts") >= o_start)
        & (F.unix_micros("received_ts") < o_end)
    )
    surviving = u.filter(~lost)
    expected_rows = surviving.count()
    assert expected_rows < u.count(), "outage window must drop something"

    batch = ingest.modvalues_snapshot(
        surviving,
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
    )

    spark.dataSource.register(OpcUaSimDataSource)
    sink = ModvaluesMergeSink(
        fixtures["devices"], fixtures["templates"], fixtures["connections"]
    )
    rows_seen = [0]

    def process(df, batch_id):
        df = df.localCheckpoint(eager=True)
        n = df.count()
        if n == 0:
            return
        sink.process_batch(df, batch_id)
        rows_seen[0] += n

    stream = (
        spark.readStream.format("opcua_sim")
        .option("path", f"{SF_SMOKE}/events.parquet")
        .option("num_batches", "4")
        .option("outage_conn", "1")
        .option("outage_start_us", str(o_start))
        .option("outage_end_us", str(o_end))
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_outage"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline and rows_seen[0] < expected_rows:
            time.sleep(1)
    finally:
        q.stop()
    assert rows_seen[0] == expected_rows
    assert _rows(sink.snapshot()) == _rows(batch)


def test_custom_opcua_source_matches_batch_flagship(spark, fixtures, tmp_path):
    """S1 — the custom Python streaming DataSource (per-connection
    partitions, watermark offsets) drained through the foreachBatch merge
    sink must produce the exact batch flagship output, like the file
    replay does."""
    import time

    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.streaming.opcua_source import OpcUaSimDataSource
    from opcua_ingestion_engine_spark.streaming.replay import ModvaluesMergeSink

    batch = ingest.modvalues_snapshot(
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
    )
    expected_rows = fixtures["updates"].count()

    spark.dataSource.register(OpcUaSimDataSource)
    sink = ModvaluesMergeSink(
        fixtures["devices"], fixtures["templates"], fixtures["connections"]
    )
    rows_seen = [0]

    def process(df, batch_id):
        df = df.localCheckpoint(eager=True)
        n = df.count()
        if n == 0:
            return
        sink.process_batch(df, batch_id)
        # increment only AFTER the merge lands: the poll loop stops the
        # query when the count completes, and stopping mid-merge would
        # leave the final window out of the state
        rows_seen[0] += n

    stream = (
        spark.readStream.format("opcua_sim")
        .option("path", f"{SF_SMOKE}/events.parquet")
        .option("num_batches", "4")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline and rows_seen[0] < expected_rows:
            time.sleep(1)
    finally:
        q.stop()
    assert rows_seen[0] == expected_rows
    # one watermark step per trigger; some windows can be row-empty
    assert sink.batches_seen >= 2
    assert _rows(sink.snapshot()) == _rows(batch)


def test_streaming_dedup_within_watermark(spark, fixtures, tmp_path):
    """E1 (streaming form) — dropDuplicatesWithinWatermark over the
    replayed stream: duplicate event_ids injected across micro-batches
    inside the watermark horizon collapse to one row, so the streaming
    dedup matches batch dropDuplicates on the same input."""
    import os

    from opcua_ingestion_engine_spark.streaming.replay import write_replay_batches

    u = fixtures["updates"].select(
        "event_id", "source_ts", "received_ts", "value"
    ).filter(F.col("event_id") < 2000)
    # duplicate every 5th event — the replay interleaves them into later
    # micro-batches than their originals
    dupes = u.filter(F.col("event_id") % 5 == 0)
    stream_input = u.unionByName(dupes)
    src = str(tmp_path / "dd_src")
    write_replay_batches(stream_input, src, num_batches=4)

    batch_n = u.dropDuplicates(["event_id"]).count()

    stream = (
        spark.readStream.schema(u.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "batch_*"))
        .withWatermark("source_ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dd_out")
    assert got.count() == batch_n
    assert got.select("event_id").distinct().count() == batch_n


def test_replayer_beats_reference_ingest_ceiling(spark, fixtures, tmp_path):
    """BASELINE.md rate floor: the reference's ingest ceiling is
    ~low-hundreds of updates/s (2 serial row-locked transactions per
    notification). The replayed Structured Streaming pipeline — source
    through the LWW merge sink — must sustain well above that on the
    same notification stream. Floor set conservatively at 500 updates/s
    end-to-end (measured ~5-8k/s locally) so load jitter can't flake
    the assertion while still pinning a >2x margin over the reference.
    Runs on the sf0.1 stream (100k notifications): at the smoke SF the
    ~8s fixed streaming-query startup dominates and the rate measures
    overhead, not throughput."""
    import time

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.streaming import replay

    sf = "/root/testdata/sf0.1"
    updates = C.opc_updates(spark, sf)
    n_updates = updates.count()
    t0 = time.time()
    sink = replay.replay_modvalues(
        spark,
        updates,
        C.site_devices(spark, sf),
        C.sos_templates(spark),
        C.opc_client_connections(spark),
        str(tmp_path),
        num_batches=2,
    )
    elapsed = time.time() - t0
    assert sink.batches_seen == 2
    rate = n_updates / elapsed
    assert rate >= 500, (rate, n_updates, elapsed)


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """[EXT] stream-stream interval join with watermarks on both sides:
    purchases joined to same-user errors in the preceding 5 minutes must
    emit exactly the pairs the batch range join produces
    (operators/timeseries.range_join_buckets)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import timeseries as TS
    from opcua_ingestion_engine_spark.streaming import replay

    ev = C.load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "ss_join")
    replay.write_replay_batches(
        ev.select(
            "event_id",
            F.col("ts").alias("received_ts"),  # splitter orders by received_ts
            "user_id",
            "event_type",
            "value",
        ),
        src,
        num_batches=4,
    )
    schema = (
        "event_id long, received_ts timestamp, user_id long, "
        "event_type string, value double"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("received_ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    e = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("received_ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "30 minutes")
    )
    joined = p.join(
        e,
        F.expr(
            "p_user = e_user AND "
            "e_ts >= p_ts - interval 5 minutes AND e_ts < p_ts"
        ),
        "inner",
    ).select("p_id", "e_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_interval_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["p_id"], r["e_id"]) for r in spark.table("ss_interval_join").collect()
    )

    pb = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    eb = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id"),
        F.col("event_id").alias("e_id"),
        F.col("ts").alias("err_ts"),
    )
    want = sorted(
        (r["p_id"], r["e_id"])
        for r in TS.range_join_buckets(
            pb, eb, key="user_id", left_ts="ts", right_ts="err_ts",
            lower_s=-300, upper_s=0,
        ).collect()
    )
    assert len(want) > 0 and got == want


def test_restart_from_checkpoint_resumes_exactly_once(spark, fixtures, tmp_path):
    """T9 — kill/restart recovery: a first availableNow run consumes the
    batch files present, a second run against the SAME checkpoint must
    resume at the recorded offset (no re-merge of consumed files) and
    finish with the exact batch-flagship state."""
    import os
    import shutil

    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.streaming import replay

    batch = ingest.modvalues_snapshot(
        fixtures["updates"],
        fixtures["devices"],
        fixtures["templates"],
        fixtures["connections"],
    )
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    hidden = tmp_path / "hidden"
    hidden.mkdir()
    paths = replay.write_replay_batches(fixtures["updates"], str(src), 6)
    for p in paths[3:]:  # simulate data not yet arrived at first run
        shutil.move(p, str(hidden / os.path.basename(p)))

    sink = replay.ModvaluesMergeSink(
        fixtures["devices"], fixtures["templates"], fixtures["connections"]
    )
    schema = fixtures["updates"].schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/batch_*")
        )
        q = (
            stream.writeStream.foreachBatch(sink.process_batch)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sink.batches_seen == 3  # "crash" after half the stream
    for p in hidden.iterdir():
        shutil.move(str(p), str(src / p.name))
    run_once()
    # offsets resumed: only the 3 new files triggered, nothing re-merged
    assert sink.batches_seen == 6
    assert _rows(sink.snapshot()) == _rows(batch)


def _seeded_events(out_dir: str, seed: int = 7, n: int = 2_000) -> str:
    """An ``events``-shaped parquet file whose user ids run past 100, so
    users fold onto devices (``user_id % 100``) as at sf0.1; returns the
    directory."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start_us + np.sort(rng.integers(0, 86_400_000_000, n)),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1_500, n, dtype=np.int64)),
            "event_type": pa.array(np.array(
                ["click", "view", "signup", "purchase", "error"])[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(["{}"] * n),
        }),
        os.path.join(out_dir, "events.parquet"),
    )
    return out_dir


def test_batch_reader_matches_catalog_derivation(spark, tmp_path):
    """The connector's batch form (spark.read.format('opcua_sim')) must
    produce exactly the notification set catalog.opc_updates derives with
    DataFrame expressions — also on a history with user ids >= 100, where
    the connection must be the device's (user_id % 100 % 3), not the raw
    user's (user_id % 3)."""
    import pyarrow.parquet as pq

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.streaming.opcua_source import (
        OpcUaSimDataSource,
    )

    try:
        spark.dataSource.register(OpcUaSimDataSource)
    except Exception:
        pass  # already registered by another test in this session
    seeded = _seeded_events(str(tmp_path / "seeded"))
    users = pq.read_table(f"{seeded}/events.parquet").column("user_id").to_pylist()
    assert any(u % 3 != u % 100 % 3 for u in users)
    for sf_dir in (SF_SMOKE, seeded):
        got = (
            spark.read.format("opcua_sim")
            .option("path", f"{sf_dir}/events.parquet")
            .load()
        )
        want = C.opc_updates(spark, sf_dir)
        assert _rows(got.select(*sorted(got.columns))) == _rows(
            want.select(*sorted(want.columns))
        ), sf_dir


def test_windowed_partition_read_equals_filtered_full_read(tmp_path):
    """A connector partition reads only its received-ts window from the
    history (a source-ts filter before pandas conversion), and yields
    exactly the rows the full read yields after filtering by connection
    and window — for TIMESTAMP(MICROS), TIMESTAMP(NANOS) and raw int64
    nanosecond fixtures, on windows that cut through the 150 s arrival
    delay."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opcua_ingestion_engine_spark.streaming.opcua_source import (
        _ConnWindowPartition,
        _load_notifications,
        _read_partition,
    )

    micros = f"{_seeded_events(str(tmp_path / 'us'))}/events.parquet"
    table = pq.read_table(micros)
    ns = table.column("ts").cast(pa.timestamp("ns"))
    paths = {"us": micros}
    for unit, col in (("ns", ns), ("int64", ns.cast(pa.int64()))):
        (tmp_path / unit).mkdir()
        paths[unit] = str(tmp_path / unit / "events.parquet")
        pq.write_table(table.set_column(table.schema.get_field_index("ts"), "ts", col),
                       paths[unit], row_group_size=200)

    full = _load_notifications(micros)
    received = np.sort(full["received_us"].to_numpy())
    windows = [
        (int(received[0]) - 1, int(received[-1])),
        (int(received[500]), int(received[900])),
        (int(received[1200]), int(received[1200]) + 100_000_000),
    ]
    for unit, path in paths.items():
        assert _load_notifications(path)["received_us"].equals(full["received_us"]), unit
        for start, end in windows:
            if end - start < 200_000_000:
                assert len(_load_notifications(path, (start, end))) < len(full) / 4
            for conn in (0, 1, 2):
                part = _ConnWindowPartition(path, conn, start, end)
                got = sorted(
                    (eid, dev, int(src), int(rcv))
                    for batch in _read_partition(part)
                    for eid, dev, src, rcv in zip(
                        batch.column("event_id").to_pylist(),
                        batch.column("daq_name").to_pylist(),
                        batch.column("source_ts").cast(pa.int64()).to_pylist(),
                        batch.column("received_ts").cast(pa.int64()).to_pylist(),
                    )
                )
                want = full[
                    (full["conn_id"] == conn)
                    & (full["received_us"] > start)
                    & (full["received_us"] <= end)
                ]
                assert got == sorted(zip(
                    want["event_id"].tolist(),
                    ("DEV-" + (want["user_id"] % 100).astype(str).str.zfill(3)).tolist(),
                    want["source_us"].tolist(),
                    want["received_us"].tolist(),
                )), (unit, start, end, conn)


def _python_backed_nodes(df) -> list[str]:
    """Nodes of ``df``'s physical plan that run Python: Python/pandas
    evaluation nodes, and RDD scans whose lineage holds a PythonRDD (a
    ``createDataFrame(<list>)`` frame)."""
    out = []
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if "Python" in name or "Pandas" in name:
            out.append(name)
        elif name == "RDDScanExec" and "PythonRDD" in node.rdd().toDebugString():
            out.append(node.simpleString(25))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_catalog_dimensions_and_snapshot_stay_in_the_jvm(spark, fixtures, tmp_path):
    """The list-defined catalog dimensions and the table layer's
    metadata-only frames plan as ``LocalTableScan`` (no Python-RDD-backed
    ``Scan ExistingRDD``), and the physical plan of a sink's view holds
    no Python-backed node."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming import replay

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    root = str(tmp_path / "durable_state")
    sink = replay.ModvaluesMergeSink(
        fixtures["devices"], fixtures["templates"], fixtures["connections"],
        state_root=root,
    )
    sink.process_batch(fixtures["updates"], 0)
    frames = {
        "sos_templates": C.sos_templates(spark),
        "opc_client_connections": C.opc_client_connections(spark),
        "browse_exclusion_folders": C.browse_exclusion_folders(spark),
        "table_snapshots": TF.table_snapshots(spark, root),
        "stats_agg": TF.stats_agg(spark, root),
    }
    for name, df in frames.items():
        p = plan(df)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, (name, p)
    assert _python_backed_nodes(sink.snapshot()) == []


def _has_protobuf() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401
        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState needs the protobuf package (TWS state-server "
    "protocol); absent in this image",
)
def test_liveness_tws_matches_applyinpandas(spark, fixtures, tmp_path):
    """The transformWithState liveness (forward API) must emit the same
    final update-driven state per device as the applyInPandasWithState
    form: latest (ts, status) under LWW, online = status==0."""
    from opcua_ingestion_engine_spark.streaming import replay, state as ST

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    src = str(tmp_path / "src_tws")
    replay.write_replay_batches(fixtures["updates"], src, 2)

    def run(builder, ckpt):
        stream = (
            spark.readStream.schema(fixtures["updates"].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/batch_*")
        )
        collected: list = []
        q = (
            builder(stream, timeout_ms=3_600_000)  # long timeout: no firings
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()
        final = {}
        for r in collected:
            if r["reason"] == "update":
                final[r["daq_name"]] = (r["last_ts_us"], r["online"], r["last_status"])
        return final

    a = run(ST.liveness_stream, "ckpt_a")
    b = run(ST.liveness_stream_tws, "ckpt_b")
    assert a and a == b


def test_incremental_neardup_matches_batch(spark, tmp_path):
    """E2 streaming form: documents arriving over 3 micro-batches through
    the incremental LSH sink must yield exactly the pair set the batch
    MinHash pipeline computes over the full corpus — each pair emitted in
    the batch where its later doc arrives, never twice."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.streaming.neardup import (
        IncrementalNearDupSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    for i in range(3):  # deliberately id-interleaved batches
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/batch_{i:02d}")

    sink = IncrementalNearDupSink(threshold=0.2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sink.batches_seen == 3

    got = sorted(
        (r["doc_a"], r["doc_b"]) for r in sink.pairs.collect()
    )
    want = sorted(
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_neardup_pairs(docs, threshold=0.2).collect()
    )
    assert len(got) == len(set(got))  # no pair emitted twice
    assert got == want and len(want) > 0


def test_reconnect_policy_tcp_schedule():
    """Pin the piecewise-linear TCP probe schedule to hand-computed values
    from the reference's constants (OpcSubscribeService.cs:879-891):
    base 30s flat through iteration 100 (leg-1 slope (30-30)/99 = 0),
    then +(600-30)/100 = 5.7 s/iteration, capped at 600s from 200 on."""
    import pytest as _pytest

    from opcua_ingestion_engine_spark.streaming.reconnect import tcp_probe_delay_s

    assert tcp_probe_delay_s(1) == 30.0
    assert tcp_probe_delay_s(50) == 30.0
    assert tcp_probe_delay_s(100) == 30.0
    assert abs(tcp_probe_delay_s(101) - 35.7) < 1e-9
    assert abs(tcp_probe_delay_s(150) - (30.0 + 5.7 * 50)) < 1e-9
    assert tcp_probe_delay_s(200) == 600.0
    assert tcp_probe_delay_s(500) == 600.0
    with _pytest.raises(ValueError):
        tcp_probe_delay_s(0)


def test_reconnect_policy_state_machine():
    """The two-layer machine: OPC delays double (1,2,4,...) while TCP holds;
    a TCP drop mid-attempt resets BOTH layers (OpcSubscribeService.cs:
    916-927); success exits clean."""
    from opcua_ingestion_engine_spark.streaming.reconnect import ReconnectPolicy

    p = ReconnectPolicy()
    # dark server: probe layer paces at the schedule
    assert p.next_delay_s() == 30.0
    p.tcp_probe_failed()
    p.tcp_probe_failed()
    assert p.state == "probing_tcp" and p.next_delay_s() == 30.0

    # TCP answers: exponential OPC attempts from 1s
    p.tcp_probe_succeeded()
    got = []
    for _ in range(4):
        got.append(p.next_delay_s())
        p.opc_attempt_failed(tcp_still_up=True)
    assert got == [1.0, 2.0, 4.0, 8.0]

    # TCP drops mid-attempt: both layers reset
    p.opc_attempt_failed(tcp_still_up=False)
    assert p.state == "probing_tcp"
    assert p.tcp_iteration == 1 and p.next_delay_s() == 30.0
    p.tcp_probe_succeeded()
    assert p.next_delay_s() == 1.0  # opc delay back to initial

    # success exits; a later outage starts fresh
    p.opc_attempt_succeeded()
    assert p.state == "connected" and p.next_delay_s() == 0.0


def test_reconnect_policy_custom_base_and_opc_cap():
    """leg 1 stays FLAT at a non-default base (leg1_end_s follows base_s),
    and the OPC doubling honors the safety cap."""
    from opcua_ingestion_engine_spark.streaming.reconnect import (
        ReconnectPolicy,
        tcp_probe_delay_s,
    )

    assert tcp_probe_delay_s(1, base_s=5.0) == 5.0
    assert tcp_probe_delay_s(99, base_s=5.0) == 5.0
    assert tcp_probe_delay_s(100, base_s=5.0) == 5.0

    p = ReconnectPolicy(opc_max_s=8.0)
    p.tcp_probe_succeeded()
    seen = []
    for _ in range(6):
        seen.append(p.next_delay_s())
        p.opc_attempt_failed(tcp_still_up=True)
    assert seen == [1.0, 2.0, 4.0, 8.0, 8.0, 8.0]


def test_incremental_heavy_hitters_matches_batch(spark, tmp_path):
    """E4 streaming form: the Misra-Gries sketch merged across real
    micro-batches + exact verify must equal the batch operator's answer
    on the same corpus, for any batch split."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators.text import frequent_tokens
    from opcua_ingestion_engine_spark.streaming.heavyhitters import (
        IncrementalHeavyHittersSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "hh_src")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/batch_{i:02d}")

    sink = IncrementalHeavyHittersSink(capacity=600)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sink.batches_seen == 3

    stream_res = {(r["token"], r["cnt"])
                  for r in sink.result(min_frac=0.002).collect()}
    batch_res = {(r["token"], r["cnt"])
                 for r in frequent_tokens(docs, min_frac=0.002).collect()}
    assert stream_res == batch_res and len(batch_res) > 0

    # guarantee guard: capacity below 1/min_frac must refuse
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sink.result(min_frac=1e-4)


def test_incremental_rollup_matches_batch(spark, tmp_path):
    """Continuous-aggregate parity: minute-state merged across real
    micro-batches, hour/day derived from it, must equal the batch
    cascade over the same events — bit-for-bit (DECIMAL-exact sums),
    for an arbitrary batch split including buckets reopened by late
    rows."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import timeseries as TS
    from opcua_ingestion_engine_spark.streaming.rollup import (
        IncrementalRollupSink,
    )

    ev = C.load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    src = str(tmp_path / "ru_src")
    # id-interleaved batches: every batch touches most buckets, so the
    # merge path (not the fresh-bucket path) is what's exercised
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/batch_{i:02d}")

    sink = IncrementalRollupSink()
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ru_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sink.batches_seen == 3

    stream_rows = {tuple(r) for r in sink.result().collect()}
    batch_rows = {tuple(r) for r in TS.multires_rollup(ev).collect()}
    assert stream_rows == batch_rows and len(batch_rows) > 0


def test_streaming_zscore_matches_batch(spark, tmp_path):
    """Stateful streaming z-score must flag exactly the rows the batch
    window flags, with bit-identical scores — the DECIMAL-exact window
    sums are reproduced in the state function. Batches split by TIME
    (the ordering contract a replay/watermarked feed satisfies)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import timeseries as TS
    from opcua_ingestion_engine_spark.streaming.anomaly import zscore_stream

    ev = C.load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    lo, hi = ev.selectExpr(
        "percentile(unix_micros(ts), 0.33)", "percentile(unix_micros(ts), 0.66)"
    ).first()
    src = str(tmp_path / "zs_src")
    parts = [
        ev.filter(F.unix_micros("ts") <= lo),
        ev.filter((F.unix_micros("ts") > lo) & (F.unix_micros("ts") <= hi)),
        ev.filter(F.unix_micros("ts") > hi),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch_{i:02d}")

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    out_path = str(tmp_path / "zs_out")
    q = (
        zscore_stream(stream).writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "zs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["event_id"], r["z"])
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r["user_id"], r["event_id"], r["z"])
        for r in TS.rolling_zscore_anomalies(ev).collect()
    }
    assert got == want and len(want) > 0


def test_incremental_corpus_build_batching_invariance(spark):
    """The streaming corpus-build manifest must equal the one-shot batch
    answer regardless of HOW the ordered stream was batched (2-way vs
    5-way), and a replayed batch must not re-admit its documents (the
    digest state makes redelivery idempotent for whole batches)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark import plans
    from opcua_ingestion_engine_spark.streaming.corpusbuild import (
        IncrementalCorpusBuildSink,
    )
    from tests.conftest import SF_SMOKE

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source"
    )
    want = {
        tuple(r)
        for r in plans.QUERIES["q_e8_corpus_build"].fn(spark, SF_SMOKE).collect()
    }
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    bench = docs.filter(F.col("doc_id") % 97 == 0)

    for n_batches in (2, 5):
        sink = IncrementalCorpusBuildSink(bench)
        step = hi // n_batches + 1
        for i in range(n_batches):
            sink.process_batch(
                docs.filter(
                    (F.col("doc_id") >= i * step)
                    & (F.col("doc_id") < (i + 1) * step)
                ),
                i,
            )
        got = {tuple(r) for r in sink.result().collect()}
        assert got == want and len(want) > 0, n_batches

    # redelivery: replaying the last batch is NOT idempotent for the
    # manifest (append-only sink) — but the digest state admits nothing
    # new, so the only delta is duplicate manifest rows, which a MERGE
    # sink keyed on doc_id collapses; pin the state-side guarantee
    sink2 = IncrementalCorpusBuildSink(bench)
    sink2.process_batch(docs, 0)
    before = sink2.digests.count()
    sink2.process_batch(docs, 1)  # full replay
    assert sink2.digests.count() == before  # no digest re-admitted


def test_incremental_neardup_redelivery_is_idempotent(spark):
    """foreachBatch is at-least-once: re-executing a committed batch with
    the same batch_id must not emit self-pairs, duplicate pairs, or
    double-append state."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.streaming.neardup import (
        IncrementalNearDupSink,
    )
    from tests.conftest import SF_SMOKE

    docs = C.load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    sink = IncrementalNearDupSink(threshold=0.2)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sink.process_batch(b0, 0)
    sink.process_batch(b1, 1)
    pairs_before = sorted(tuple(r) for r in sink.pairs.collect())
    index_before = sink.index.count()

    sink.process_batch(b1, 1)  # redelivery of a committed batch
    assert sorted(tuple(r) for r in sink.pairs.collect()) == pairs_before
    assert sink.index.count() == index_before
    assert not any(a == b for a, b, _ in pairs_before)


def test_durable_state_restart_redelivery_and_versions(spark, fixtures, tmp_path):
    """Durable sink mode (state committed per micro-batch through the
    tablefmt manifest CAS): (1) a RESTART mid-stream — new sink object,
    same state root — resumes from the committed snapshot, serves the
    same view as the writer before its first batch, and the final
    state still equals the batch flagship; (2) REDELIVERING an already-
    merged batch commits a new version whose snapshot is IDENTICAL (the
    LWW reducer is idempotent); (3) the version chain is linear."""
    from opcua_ingestion_engine_spark.operators import ingest, tablefmt as TF
    from opcua_ingestion_engine_spark.streaming import replay

    batch = ingest.modvalues_snapshot(
        fixtures["updates"], fixtures["devices"],
        fixtures["templates"], fixtures["connections"],
    )
    root = str(tmp_path / "durable_state")
    src = str(tmp_path / "src")
    paths = replay.write_replay_batches(fixtures["updates"], src, 4)
    schema = fixtures["updates"].schema

    def mk_sink():
        return replay.ModvaluesMergeSink(
            fixtures["devices"], fixtures["templates"],
            fixtures["connections"], state_root=root,
        )

    sink_a = mk_sink()
    for i, p in enumerate(paths[:2]):
        sink_a.process_batch(spark.read.schema(schema).parquet(p), i)
    assert TF.latest_version(root) == 1

    # (1) restart: fresh sink resumes from the committed snapshot, and
    # serves the current-state view before its first batch
    sink_b = mk_sink()
    assert sink_b.state is not None
    assert _rows(sink_b.snapshot()) == _rows(sink_a.snapshot())
    for i, p in enumerate(paths[2:], start=2):
        sink_b.process_batch(spark.read.schema(schema).parquet(p), i)
    assert _rows(sink_b.snapshot()) == _rows(batch)

    # (2a) SAME-batch_id replay (the Structured Streaming retry case) is
    # skipped outright via the manifest-recorded batch ids — no new
    # version, snapshot unchanged
    before = _rows(sink_b.snapshot())
    sink_b.process_batch(spark.read.schema(schema).parquet(paths[3]), 3)
    assert TF.latest_version(root) == 3 and _rows(sink_b.snapshot()) == before
    # (2b) same data under a NEW batch_id (source-level duplicate) still
    # merges idempotently: new version, identical snapshot
    sink_b.process_batch(spark.read.schema(schema).parquet(paths[2]), 99)
    assert _rows(sink_b.snapshot()) == before
    assert TF.latest_version(root) == 4
    # (2c) a RESTARTED sink reloads the committed batch ids from the
    # manifests, so replaying an old batch after restart is also a no-op
    sink_c = mk_sink()
    sink_c.process_batch(spark.read.schema(schema).parquet(paths[1]), 1)
    assert TF.latest_version(root) == 4
    # (3) the chain is linear, and every manifest records its batch_id
    hist = TF.history(root)
    assert [(m["version"], m["parent"]) for m in hist] == [
        (v, None if v == 0 else v - 1) for v in range(5)
    ]
    assert [m["app"]["batch_id"] for m in hist] == [0, 1, 2, 3, 99]


def test_incremental_corpus_build_failed_attempt_leaves_state_untouched(
    spark, monkeypatch
):
    """Commit atomicity under a REAL mid-batch failure: if any Spark job
    of the attempt raises, NO sink state may have changed — assigning the
    digest state before the manifest job would make the retry's
    anti-join drop the batch's documents from the manifest forever."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.streaming.corpusbuild import (
        IncrementalCorpusBuildSink,
    )
    from tests.conftest import SF_SMOKE

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source"
    ).filter(F.col("doc_id") < 120)
    bench = docs.filter(F.col("doc_id") % 97 == 0)

    clean = IncrementalCorpusBuildSink(bench)
    clean.process_batch(docs, 0)
    want = sorted(tuple(r) for r in clean.result().collect())
    assert want

    sink = IncrementalCorpusBuildSink(bench)
    df_cls = type(docs)
    real_ckpt = df_cls.localCheckpoint
    boom = {"left": 2}

    def failing_ckpt(self, eager=True):
        if boom["left"] > 0:
            boom["left"] -= 1
            raise RuntimeError("injected executor loss")
        return real_ckpt(self, eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", failing_ckpt)
    import pytest as _pytest

    # two consecutive failed attempts, each dying at the first
    # checkpoint job of the batch
    for _ in range(2):
        with _pytest.raises(RuntimeError, match="injected"):
            sink.process_batch(docs, 7)
        assert sink.digests is None and sink.manifest is None
        assert 7 not in sink._done_batch_ids

    # the foreachBatch retry of the SAME batch_id must now ingest fully
    sink.process_batch(docs, 7)
    assert sorted(tuple(r) for r in sink.result().collect()) == want


def test_incremental_heavy_hitters_failed_attempt_no_double_count(
    spark, monkeypatch
):
    """Commit atomicity: if the corpus-state checkpoint job fails, the
    driver-side MG sketch must NOT already hold the batch's counts —
    else the foreachBatch retry of the same batch_id double-counts every
    token of the batch."""
    from opcua_ingestion_engine_spark.streaming.heavyhitters import (
        IncrementalHeavyHittersSink,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(6)],
        "doc_id long, text string",
    )
    sink = IncrementalHeavyHittersSink(capacity=50)

    df_cls = type(docs)
    real_ckpt = df_cls.localCheckpoint
    boom = {"armed": True}

    def failing_ckpt(self, eager=True):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected executor loss")
        return real_ckpt(self, eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", failing_ckpt)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(docs, 3)
    assert sink.sketch == {} and sink.docs is None
    assert 3 not in sink._done_batch_ids

    sink.process_batch(docs, 3)  # the retry must count each token ONCE
    assert sink.sketch["alpha"] == 6
    got = {r["token"]: r["cnt"] for r in sink.result(0.2).collect()}
    assert got == {"alpha": 6, "beta": 6, "gamma": 6}


def test_streaming_decontaminate_matches_batch_any_split(spark):
    """Streaming decontamination: the union of per-batch survivors must
    equal the one-shot dedup.decontaminate over the same docs for ANY
    batch split (each doc's verdict depends only on the frozen
    reference); redelivered batches are skipped; hits carry the
    (doc, reference, jaccard) evidence."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.streaming.decontam import (
        StreamingDecontaminateSink,
    )
    from tests.conftest import SF_SMOKE

    docs = C.load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    want = sorted(
        r["doc_id"] for r in D.decontaminate(corpus, bench).collect()
    )
    # sanity: the fixtures actually contain cross hits (planted near-dups
    # land on both sides of the %97 split often enough at smoke scale)
    n_dropped = corpus.count() - len(want)

    sink = StreamingDecontaminateSink(bench)
    for i in range(4):
        sink.process_batch(corpus.filter(F.col("doc_id") % 4 == i), i)
    got = sorted(r["doc_id"] for r in sink.kept.collect())
    assert got == want
    assert sink.batches_seen == 4

    # redelivery: same batch_id again — no duplicate survivor rows
    sink.process_batch(corpus.filter(F.col("doc_id") % 4 == 0), 0)
    assert sorted(r["doc_id"] for r in sink.kept.collect()) == want

    # evidence rows agree with the dropped set
    if n_dropped:
        hit_ids = {r["doc_a"] for r in sink.hits.collect()}
        assert hit_ids == set(
            r["doc_id"] for r in corpus.collect()
        ) - set(want)

    # a different split converges to the same answer
    sink2 = StreamingDecontaminateSink(bench)
    for i in range(2):
        sink2.process_batch(corpus.filter(F.col("doc_id") % 2 == i), i)
    assert sorted(r["doc_id"] for r in sink2.kept.collect()) == want


def test_quality_gate_sink_matches_batch_and_recovers(spark, tmp_path):
    """Streaming model-quality gate: the union of per-batch survivors
    equals the one-shot batch gate over the same corpus under any
    split (stateless per-doc verdict, frozen model); redelivered
    batches add no version; a restarted sink recovers its ledger from
    the manifests; the hashed-model mode gates the same docs as its
    own batch filter."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.quality import (
        score_quality,
        score_quality_vocab,
        train_quality_classifier,
    )
    from opcua_ingestion_engine_spark.streaming.qualitygate import (
        QualityGateSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    vocab = {"fast": 0.9, "slow": -0.8, "the": -0.15, "table": -0.1}
    bias = -0.05

    root = str(tmp_path / "qgate")
    sink = QualityGateSink(root, model=(vocab, bias))
    for i in range(3):
        sink.process_batch(docs.filter(F.col("doc_id") % 3 == i), i)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    batch_gate = (
        score_quality_vocab(docs, vocab, bias)
        .filter(F.col("keep"))
        .drop("keep")
    )
    got = sink.snapshot(spark)
    assert rows(got) == rows(batch_gate)
    assert 0 < got.count() < docs.count()  # the gate actually cuts

    # redelivery: no new version
    v = TF.latest_version(root)
    sink.process_batch(docs.filter(F.col("doc_id") % 3 == 0), 0)
    assert TF.latest_version(root) == v

    # restart recovery: a fresh sink skips committed batches too
    sink2 = QualityGateSink(root, model=(vocab, bias))
    sink2.process_batch(docs.filter(F.col("doc_id") % 3 == 1), 1)
    assert TF.latest_version(root) == v
    # ...and ingests a genuinely new batch
    extra = spark.createDataFrame(
        [(100001, "fast fast fast"), (100002, "slow slow slow")],
        "doc_id long, text string",
    )
    sink2.process_batch(extra, 99)
    snap = sink2.snapshot(spark)
    assert snap.filter(F.col("doc_id") == 100001).count() == 1
    assert snap.filter(F.col("doc_id") == 100002).count() == 0

    # hashed-model mode == its own batch filter
    labeled = docs.withColumn(
        "label",
        (F.size(F.filter(F.split("text", " "), lambda t: t == "fast"))
         > F.size(F.filter(F.split("text", " "), lambda t: t == "slow")))
        .cast("double"),
    )
    model = train_quality_classifier(
        labeled, n_features=1 << 10, epochs=10, lr=0.5, l2=1e-4
    )
    root2 = str(tmp_path / "qgate_hashed")
    sink3 = QualityGateSink(root2, model=model)
    for i in range(2):
        sink3.process_batch(docs.filter(F.col("doc_id") % 2 == i), i)
    want = score_quality(docs, model).filter(F.col("quality_score") > 0.5)
    assert rows(sink3.snapshot(spark).select("doc_id")) == rows(
        want.select("doc_id")
    )

    with pytest.raises(ValueError, match="model"):
        QualityGateSink(str(tmp_path / "bad"), model="nope")


def test_bm25_index_sink_real_stream_end_to_end(spark, tmp_path):
    """IncrementalBm25IndexSink driven by a REAL Structured Streaming
    query (file source, one file per micro-batch, foreachBatch): after
    the stream drains, the maintained index serves exactly the one-shot
    BM25 answer over the full corpus — the deployment wiring, not just
    direct process_batch calls."""
    from opcua_ingestion_engine_spark.operators.retrieval import bm25_topk
    from opcua_ingestion_engine_spark.streaming.bm25index import (
        IncrementalBm25IndexSink,
        bm25_topk_from_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast fast slow"),
            (2, "fast"),
            (3, "slow table"),
            (4, "fast table chair"),
            (5, "chair fast fast"),
            (6, "table stream vector stream"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_src")
    for i, half in enumerate(
        (F.col("doc_id") <= 3, F.col("doc_id") > 3)
    ):
        docs.filter(half).coalesce(1).write.parquet(f"{src}/batch_{i}")

    root = str(tmp_path / "bm25_stream_idx")
    sink = IncrementalBm25IndexSink(root)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    q = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(sink._postings_batches) == [0, 1]
    for terms in (["fast", "table"], ["stream"]):
        got = [
            (r["doc_id"], r["score"], r["rank"])
            for r in bm25_topk_from_index(spark, root, terms, k=10).collect()
        ]
        want = [
            (r["doc_id"], r["score"], r["rank"])
            for r in bm25_topk(docs, terms, k=10).collect()
        ]
        assert got == want, terms


def test_liveness_composition_one_session(spark, fixtures, tmp_path):
    """Round-10 queue #7: T8 startup reset + T9 merge sink + T4
    watchdog + T3 heartbeat composed as ONE streaming session — two
    CONCURRENT queries over the same replayed file source — with an
    injected outage (one device never publishes; the source then goes
    silent). Each concern was pinned separately in earlier rounds; this
    drives them together:

    - a previous session's modvalues table is bulk-reset at startup
      (T8) through the versioned-table layer;
    - the merge sink (T9) and the applyInPandasWithState watchdog (T4)
      consume the SAME source concurrently;
    - the watchdog trips on the outage; the heartbeat (T3) then stamps
      exactly the devices the liveness output called online;
    - the final modvalues state equals the batch flagship over the
      replayed updates, and the silent device survives ONLY as its
      reset (offline) rows.
    """
    import time

    from opcua_ingestion_engine_spark.operators import ingest, sink as SK
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming import replay
    from opcua_ingestion_engine_spark.streaming import state as ST

    updates = fixtures["updates"]
    prev = ingest.modvalues_snapshot(
        updates, fixtures["devices"], fixtures["templates"],
        fixtures["connections"],
    )
    # injected outage, part 1: device D (a monitored device with rows in
    # the previous session's table) never publishes this session
    dead = (
        prev.select(F.col("device").alias("daq_name"))
        .join(updates.select("daq_name").distinct(), "daq_name", "left_semi")
        .orderBy("daq_name")
        .first()["daq_name"]
    )
    live_updates = updates.filter(F.col("daq_name") != dead)

    # ---- T8: bulk-reset the PREVIOUS session's modvalues table -------
    prev_root = str(tmp_path / "prev_modvalues")
    TF.commit_version(prev, prev_root)
    reset_text = "2024-06-01T00:00:00.000000"
    TF.commit_version(
        SK.bulk_reset_online(
            TF.read_version(spark, prev_root), reset_text
        ),
        prev_root,
    )
    reset_tbl = TF.read_version(spark, prev_root)
    onl = reset_tbl.filter(F.col("tag_name") == "myPV_online")
    assert onl.filter(
        (F.col("tag_value") != 0.0) | (F.col("last_updated") != reset_text)
    ).count() == 0

    # ---- ONE session, TWO concurrent queries over one source ---------
    src = str(tmp_path / "src")
    replay.write_replay_batches(live_updates, src, 3)
    stream = (
        spark.readStream.schema(updates.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch_*")
    )
    collected: list = []
    watchdog_q = (
        ST.liveness_stream(stream, timeout_ms=2500)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: collected.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_watchdog"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        merge_sink = replay.ModvaluesMergeSink(
            fixtures["devices"], fixtures["templates"],
            fixtures["connections"],
            state_root=str(tmp_path / "state"),
        )
        replay.run_replay_stream(
            spark, updates.schema, src, str(tmp_path / "ckpt_merge"),
            merge_sink,
        )

        # T9 equality while the watchdog query is still live
        batch = ingest.modvalues_snapshot(
            live_updates, fixtures["devices"], fixtures["templates"],
            fixtures["connections"],
        )
        snap = merge_sink.snapshot()
        assert _rows(snap) == _rows(batch)

        # injected outage, part 2: the source is exhausted — the
        # watchdog's processing-time timeout must mark every device
        # that DID publish offline, exactly once each; the dead device
        # never appears (it was never keyed)
        devices = {r["daq_name"] for r in live_updates.select(
            "daq_name").distinct().collect()}
        deadline = time.time() + 120
        while time.time() < deadline:
            timed_out = {
                r["daq_name"] for r in collected if r["reason"] == "timeout"
            }
            if devices <= timed_out:
                break
            time.sleep(1)
        timed_out = {
            r["daq_name"] for r in collected if r["reason"] == "timeout"
        }
        assert devices <= timed_out, devices - timed_out
        assert dead not in {r["daq_name"] for r in collected}
    finally:
        watchdog_q.stop()

    # ---- T3: heartbeat stamps exactly the liveness-online set --------
    # pre-outage online set: devices whose latest data-driven emission
    # said online (the heartbeat the service would have run mid-session)
    last_update: dict = {}
    for r in collected:
        if r["reason"] != "update":
            continue
        cur = last_update.get(r["daq_name"])
        if cur is None or r["last_ts_us"] >= cur["last_ts_us"]:
            last_update[r["daq_name"]] = r
    online_pre = spark.createDataFrame(
        [(k,) for k, r in last_update.items() if r["online"] == 1.0]
        or [("__none__",)],
        "device string",
    )
    hb_text = "2099-01-01T00:00:00.000000"
    stamped = ST.heartbeat_refresh(snap, online_pre, hb_text)
    online_names = {
        r["device"] for r in online_pre.collect() if r["device"] != "__none__"
    }
    for r in stamped.collect():
        if r["device"] in online_names:
            assert r["last_updated"] == hb_text
        else:
            assert r["last_updated"] != hb_text

    # post-outage the online set is EMPTY (every publisher timed out):
    # the heartbeat is a provable no-op
    online_post = spark.createDataFrame([("__none__",)], "device string")
    assert _rows(ST.heartbeat_refresh(snap, online_post, hb_text)) == _rows(
        snap
    )

    # ---- composition with the reset table: the dead device carries NO
    # session data — its rebuilt rows are the template defaults with
    # liveness OFFLINE (no update ever arrived), and its reset-table
    # rows keep the T8 stamp untouched
    dead_live = snap.filter(
        (F.col("device") == dead) & (F.col("tag_name") == "myPV_online")
    ).collect()
    assert dead_live and all(r["tag_value"] == 0.0 for r in dead_live)
    dead_rows = reset_tbl.filter(
        (F.col("device") == dead) & (F.col("tag_name") == "myPV_online")
    ).collect()
    assert dead_rows and all(
        r["tag_value"] == 0.0 and r["last_updated"] == reset_text
        for r in dead_rows
    )


def test_table_changes_streaming_source(spark, tmp_path):
    """Round-10 [EXT]: the versioned table as a Structured Streaming
    SOURCE (Delta readStream/readChangeFeed parity). Offsets are commit
    versions; each micro-batch is planned O(changes) from manifests
    alone (appends -> inserts, dv-deletes -> pre-image deletes,
    mor-upserts -> both, maintenance pass-through); a checkpointed
    restart resumes from the committed offset and serves ONLY the new
    versions; rewrite-class commits refuse at plan time."""
    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.tablestream import (
        TableChangesDataSource, _plan_steps,
    )

    spark.dataSource.register(TableChangesDataSource)
    root = str(tmp_path / "srctbl")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    TF.commit_append(mk([(1, 10), (2, 20), (3, 30)]), root)        # v0
    TF.commit_append(mk([(4, 40), (5, 50)]), root)                 # v1
    TF.delete_where_dv(spark, root, "k = 1")                       # v2
    TF.commit_upsert(                                              # v3
        spark, root, mk([(2, 222), (6, 60)]), keys=["k"], mor=True
    )
    TF.compact(spark, root)                                        # v4 (pass-through)
    TF.commit_append(mk([(7, 70)]), root)                          # v5

    def drain(ckpt: str) -> list:
        got: list = []
        q = (
            spark.readStream.format("table_changes")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(
                lambda df, _id: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    ckpt = str(tmp_path / "ckpt")
    got = drain(ckpt)
    want = TF.table_changes(spark, root, None).collect()
    key = lambda r: (
        r["_commit_version"], r["_change_type"], r["k"], r["v"]
    )
    assert sorted(map(key, got)) == sorted(map(key, want))
    # the compaction contributed nothing; versions present are the
    # data-changing ones only
    assert {r["_commit_version"] for r in got} == {0, 1, 2, 3, 5}

    # checkpointed restart: ONLY the versions committed after the drain
    TF.delete_where_dv(spark, root, "k = 7")                       # v6
    TF.commit_append(mk([(8, 80)]), root)                          # v7
    got2 = drain(ckpt)
    assert sorted(map(key, got2)) == sorted([
        (6, "delete", 7, 70), (7, "insert", 8, 80)
    ])

    # a fresh checkpoint with starting_version skips older history
    got3: list = []
    q = (
        spark.readStream.format("table_changes")
        .option("path", root)
        .option("starting_version", "6")
        .load()
        .writeStream.foreachBatch(lambda df, _id: got3.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(map(key, got3)) == sorted([
        (6, "delete", 7, 70), (7, "insert", 8, 80)
    ])

    # rewrite-class commits refuse at PLAN time (restore is one)
    TF.restore(root, 5)                                            # v8
    with _pytest.raises(ValueError, match="rewrite-class"):
        _plan_steps(root, 7, TF.latest_version(root))


def test_streaming_maintained_matview(spark, tmp_path):
    """Round-10 [EXT] composition: a materialized aggregate maintained
    by a STREAMING query over the table_changes source — each
    micro-batch is a version range planned O(changes) from manifests,
    folded O(changes) into the view; checkpointed restarts continue;
    a from-scratch replay (fresh checkpoint, same history) folds
    nothing thanks to the view's manifest-CAS cursor."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.matview import (
        MaterializedAggView,
    )
    from opcua_ingestion_engine_spark.streaming.tablestream import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    src, vr = str(tmp_path / "mvsrc"), str(tmp_path / "mvview")
    mk = lambda rows: spark.createDataFrame(rows, "k long, g string, x long")
    TF.commit_append(mk([(1, "a", 1), (2, "a", 2), (3, "b", 4)]), src)
    TF.commit_upsert(
        spark, src, mk([(2, "a", 200), (9, "b", 8)]), keys=["k"], mor=True
    )
    TF.delete_where_dv(spark, src, "k = 3")
    view = MaterializedAggView(src, vr, group_keys=["g"], sum_cols=["x"])

    def drain(ckpt: str) -> None:
        q = (
            spark.readStream.format("table_changes")
            .option("path", src)
            .load()
            .writeStream.foreachBatch(view.streaming_maintainer())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def want():
        return sorted(
            tuple(r)
            for r in TF.read_version(spark, src)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("x").cast("decimal(38,6)")).alias("sum_x"),
            )
            .collect()
        )

    def got():
        return sorted(
            tuple(r)
            for r in view.result(spark).select("g", "n", "sum_x").collect()
        )

    ckpt = str(tmp_path / "ck1")
    drain(ckpt)
    assert got() == want()
    assert view.cursor() == TF.latest_version(src)

    # live advance: more commits, same checkpoint — only the new
    # versions are planned and folded
    TF.commit_append(mk([(10, "c", 16), (11, "a", 32)]), src)
    TF.update_where_dv(spark, src, "k = 9", {"x": "x + 100"})
    v_view = TF.latest_version(vr)
    drain(ckpt)
    assert got() == want()
    assert TF.latest_version(vr) > v_view

    # from-scratch replay with a FRESH checkpoint: the engine re-serves
    # the whole history, the cursor trims everything, the view commits
    # nothing new
    v_view = TF.latest_version(vr)
    drain(str(tmp_path / "ck2"))
    assert TF.latest_version(vr) == v_view
    assert got() == want()


@pytest.mark.parametrize("seed", [5, 21, 77])
def test_table_stream_equals_batch_feed_random_histories(spark, tmp_path, seed):
    """Property (seeded): for a RANDOM mix of appends, dv-deletes,
    mor-upserts, mor-updates, compactions and DV consolidations, the
    streaming source's full drain equals ``table_changes(None)`` row
    for row — the two planners must classify every manifest step
    identically, whatever the interleaving."""
    import random

    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.tablestream import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    rng = random.Random(seed)
    root = str(tmp_path / f"rnd{seed}")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    next_k = 0

    def fresh(n):
        nonlocal next_k
        rows = [(next_k + i, (next_k + i) * 10) for i in range(n)]
        next_k += n
        return rows

    TF.commit_append(mk(fresh(8)), root)
    for _ in range(10):
        op = rng.choice(
            ["append", "dvdel", "morup", "morupd", "compact", "consol"]
        )
        if op == "append":
            TF.commit_append(mk(fresh(rng.randint(1, 5))), root)
        elif op == "dvdel":
            k = rng.randrange(next_k)
            TF.delete_where_dv(spark, root, f"k = {k}")
        elif op == "morup":
            ups = [(rng.randrange(next_k), rng.randint(0, 999))]
            ups += fresh(1)
            TF.commit_upsert(spark, root, mk(ups), keys=["k"], mor=True)
        elif op == "morupd":
            k = rng.randrange(next_k)
            TF.update_where_dv(spark, root, f"k = {k}", {"v": "v + 1"})
        elif op == "compact":
            TF.compact(spark, root)
        else:
            TF.consolidate_dv(spark, root)

    want = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in TF.table_changes(spark, root, None).collect()
    )
    got: list = []
    q = (
        spark.readStream.format("table_changes")
        .option("path", root)
        .load()
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / f"ck{seed}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_k = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in got
    )
    assert got_k == want
    # and replaying the feed reproduces the live snapshot
    state: dict = {}
    for v_, ct, k, val in got_k:
        if ct == "delete":
            state.pop((k, val), None)
        else:
            state[(k, val)] = True
    live = {
        (r["k"], r["v"]) for r in TF.read_version(spark, root).collect()
    }
    assert set(state) == live


def test_table_stream_initial_snapshot_mode(spark, tmp_path):
    """Round-10 [EXT]: ``initial_snapshot`` — Delta readStream's
    snapshot-then-follow: the first micro-batch is the anchor
    version's LIVE rows (deletion vectors subtracted positionally,
    executor-side) as inserts; the feed then follows. This is the
    in-product path for tables whose older history is rewrite-class
    (where a from-scratch CDF drain refuses)."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.tablestream import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    root = str(tmp_path / "snapsrc")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    TF.commit_version(mk([(i, i * 10) for i in range(8)]), root)   # v0
    TF.delete_where(spark, root, "k = 0")       # v1: CoW REWRITE step
    TF.delete_where_dv(spark, root, "k = 3")    # v2: live rows carry a DV
    anchor = TF.latest_version(root)

    def drain(ckpt: str) -> list:
        got: list = []
        q = (
            spark.readStream.format("table_changes")
            .option("path", root)
            .option("initial_snapshot", "true")
            .load()
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    # from-scratch CDF (no snapshot option) refuses across the rewrite
    import pytest as _pytest

    with _pytest.raises(Exception, match="rewrite-class"):
        q = (
            spark.readStream.format("table_changes")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(lambda df, _id: None)
            .option("checkpointLocation", str(tmp_path / "ck_refuse"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ckpt = str(tmp_path / "ck")
    got = drain(ckpt)
    key = lambda r: (r["_commit_version"], r["_change_type"], r["k"], r["v"])
    # the snapshot: live rows at the anchor (k=0 rewritten away, k=3
    # dv-subtracted), all inserts stamped with the anchor version
    assert sorted(map(key, got)) == sorted(
        (anchor, "insert", k, k * 10) for k in range(1, 8) if k != 3
    )

    # follow: later commits stream as usual on the same checkpoint
    TF.commit_append(mk([(20, 200)]), root)
    TF.delete_where_dv(spark, root, "k = 5")
    got2 = drain(ckpt)
    assert sorted(map(key, got2)) == sorted([
        (anchor + 1, "insert", 20, 200),
        (anchor + 2, "delete", 5, 50),
    ])
