"""Deployment-shaped E2E: the per-point state PERSISTED between merge
rounds as a bucketed table (blue/green swap — the parquet analogue of
Delta MERGE-in-place), then snapshotted. Final result must equal the
one-shot batch flagship over the same updates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opcua_ingestion_engine_spark.session import local_frame

from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.usefixtures("executed_plans")


@pytest.fixture(scope="module")
def fx(spark):
    from opcua_ingestion_engine_spark import catalog as C

    return dict(
        updates=C.opc_updates(spark, SF_SMOKE),
        devices=C.site_devices(spark, SF_SMOKE),
        templates=C.sos_templates(spark),
        connections=C.opc_client_connections(spark),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_persisted_bucketed_state_rounds(spark, fx):
    from opcua_ingestion_engine_spark.operators import ingest, sink

    batch = ingest.modvalues_snapshot(
        fx["updates"], fx["devices"], fx["templates"], fx["connections"]
    )

    # three time-ordered update rounds (a day of ingest = many such)
    # Bounds computed as unix_micros INSIDE the aggregation — converting a
    # naive driver-side datetime with .timestamp() would re-interpret it in
    # the local timezone and shift the windows on non-UTC machines.
    bounds = fx["updates"].agg(
        F.unix_micros(F.min("received_ts")).alias("lo_us"),
        F.unix_micros(F.max("received_ts")).alias("hi_us"),
    ).collect()[0]
    lo_us, hi_us = bounds["lo_us"], bounds["hi_us"] + 1
    step = (hi_us - lo_us) // 3 + 1
    names = ["pstate_a", "pstate_b"]
    mon = tpl = None
    stored = None
    for i in range(3):
        win_lo, win_hi = lo_us + i * step, lo_us + (i + 1) * step
        batch_updates = fx["updates"].filter(
            (F.unix_micros("received_ts") >= win_lo)
            & (F.unix_micros("received_ts") < win_hi)
        )
        joined, m, t = ingest.prepare_stream(
            batch_updates, fx["devices"], fx["templates"], fx["connections"]
        )
        if mon is None:
            mon, tpl = m, t
        incoming = ingest.perpoint_state(joined)
        merged = ingest.merge_perpoint_states(stored, incoming)
        # blue/green: write the new state version, then read it back as
        # the next round's stored side (never read+overwrite one table)
        table = names[i % 2]
        sink.write_bucketed_state(
            merged, table, ["daq_name", "measure_name"], num_buckets=4
        )
        stored = spark.table(table)

    got = ingest.snapshot_from_state(stored, *ingest.static_rows(mon, tpl))
    assert _rows(got) == _rows(batch)
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_crash_mid_merge_recovers_idempotently(spark, fx):
    """Deployment recovery contract for the blue/green MERGE protocol: the
    'current' pointer advances only AFTER a successful write, so a crash
    mid-merge leaves (a) the previous state table intact and (b) possibly
    a partial/complete orphan write of the target table. Recovery =
    re-run the same micro-batch from the intact previous table (exactly
    what foreachBatch re-delivery does after restart). Pins:

    1. partial-write crash: recovery overwrites the torn table and the
       final state equals the never-crashed control run;
    2. complete-write-but-no-pointer-advance crash: the re-run write is
       byte-equal to the first (LWW merge is deterministic), so replay is
       idempotent.
    """
    from opcua_ingestion_engine_spark.operators import ingest, sink

    bounds = fx["updates"].agg(
        F.unix_micros(F.min("received_ts")).alias("lo_us"),
        F.unix_micros(F.max("received_ts")).alias("hi_us"),
    ).collect()[0]
    lo_us, hi_us = bounds["lo_us"], bounds["hi_us"] + 1
    mid = lo_us + (hi_us - lo_us) // 2

    def batch_state(win_lo, win_hi, stored):
        upd = fx["updates"].filter(
            (F.unix_micros("received_ts") >= win_lo)
            & (F.unix_micros("received_ts") < win_hi)
        )
        joined, _, _ = ingest.prepare_stream(
            upd, fx["devices"], fx["templates"], fx["connections"]
        )
        return ingest.merge_perpoint_states(stored, ingest.perpoint_state(joined))

    # round 1 -> crash_a (intact; pointer advances to it)
    sink.write_bucketed_state(
        batch_state(lo_us, mid, None), "crash_a", ["daq_name", "measure_name"], 4
    )
    stored = spark.table("crash_a")

    # control: what round 2 SHOULD produce
    control = batch_state(mid, hi_us, stored)
    control_rows = _rows(control)

    # crash case 1: torn write of crash_b (half the rows), pointer still at a
    torn = control.limit(max(1, len(control_rows) // 2))
    sink.write_bucketed_state(torn, "crash_b", ["daq_name", "measure_name"], 4)
    assert len(_rows(spark.table("crash_b"))) < len(control_rows)

    # recovery: pointer says crash_a; replay the SAME batch, overwrite crash_b
    recovered = batch_state(mid, hi_us, spark.table("crash_a"))
    sink.write_bucketed_state(
        recovered, "crash_b", ["daq_name", "measure_name"], 4
    )
    assert _rows(spark.table("crash_b")) == control_rows

    # crash case 2: write completed but pointer never advanced — replaying
    # the batch must reproduce the identical table (idempotent redelivery)
    replay = batch_state(mid, hi_us, spark.table("crash_a"))
    sink.write_bucketed_state(replay, "crash_c", ["daq_name", "measure_name"], 4)
    assert _rows(spark.table("crash_c")) == _rows(spark.table("crash_b"))

    for t in ("crash_a", "crash_b", "crash_c"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_persisted_rollup_state_rounds(spark, tmp_path):
    """Deployment form of the continuous aggregate: the MINUTE state
    lives on disk between rounds (blue/green parquet swap, same
    discipline as the modvalues rounds above) — each round reads the
    stored state, merges the batch's partial buckets, writes the new
    version, and the cascade derived from the FINAL stored state equals
    the one-shot batch rollup. Then compaction: rewriting the state
    directory into target-sized files changes file count, not content."""
    import os

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import sink
    from opcua_ingestion_engine_spark.operators import timeseries as TS

    ev = C.load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    state_dir = str(tmp_path / "minute_state")

    for i in range(3):
        batch = ev.filter(F.col("event_id") % 3 == i)
        partial = TS.rollup_minute(batch)
        if os.path.isdir(state_dir):
            stored = spark.read.parquet(state_dir)
            merged = TS.rollup_up(stored.unionByName(partial), "minute")
        else:
            merged = partial
        # blue/green: write the new version beside, then swap
        nxt = f"{state_dir}.next"
        merged.write.mode("overwrite").parquet(nxt)
        if os.path.isdir(state_dir):
            import shutil

            shutil.rmtree(state_dir)
        os.rename(nxt, state_dir)

    final_minute = spark.read.parquet(state_dir)
    got = {tuple(r) for r in TS.rollup_cascade(final_minute).collect()}
    want = {tuple(r) for r in TS.multires_rollup(ev).collect()}
    assert got == want and len(want) > 0

    # maintenance: compaction preserves content
    n_files = sink.compact_small_files(spark, state_dir)
    assert n_files >= 1
    after = {tuple(r) for r in
             TS.rollup_cascade(spark.read.parquet(state_dir)).collect()}
    assert after == want


def test_persisted_zordered_table_append_rounds(spark, tmp_path):
    """Deployment form of the z-ordered layout: the quantile sketch is
    computed ONCE on the initial load, persisted as a `_zorder_sketch`
    sidecar, and every later append quantizes against it — so layout
    maintenance at 100 TB is a JSON read per batch, not a statistics
    scan of history. Pins: (1) exactly one sketch ever computed (later
    rounds load the sidecar); (2) after three appends, file-stat pruning
    still works on BOTH interleaved columns, including over the appended
    files; (3) content equals the union of all batches."""
    import glob

    import pyarrow.parquet as pq

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import sink

    ev = C.load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "zt")

    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    sink.write_zordered(batches[0], path, "user_id", "value", n_files=4)
    sketch0 = sink.load_zorder_sketch(path)
    for b in batches[1:]:
        sink.write_zordered(
            b, path, "user_id", "value", n_files=4, mode="append"
        )
    # (1) the sidecar is byte-identical: appends reused, not recomputed
    assert sink.load_zorder_sketch(path) == sketch0

    # (2) pruning on both dimensions across ALL files (incl. appended)
    def files_touched(col, point):
        touched, total = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            hit = any(
                (st := md.row_group(rg).column(idx).statistics) is None
                or (st.min <= point <= st.max)
                for rg in range(md.num_row_groups)
            )
            total += 1
            touched += int(hit)
        return touched, total

    tx, nx = files_touched("user_id", 42)
    ty, ny = files_touched("value", 9.0)
    assert nx >= 8  # several files after 3 rounds of 4
    assert tx <= nx * 3 // 4, (tx, nx)
    assert ty <= ny * 3 // 4, (ty, ny)

    # (3) layout discipline never loses or duplicates rows
    back = {tuple(r) for r in spark.read.parquet(path).collect()}
    want = {tuple(r) for r in ev.collect()}
    assert back == want and len(want) > 0


def test_versioned_table_merge_rounds_time_travel_and_vacuum(spark, fx, tmp_path):
    """The Delta-less MERGE deployment: per-point state committed as
    immutable versions with an atomic pointer. Pins: (1) each round's
    snapshot is time-travelable and the final one equals the one-shot
    batch state; (2) a crash AFTER data write but BEFORE pointer advance
    leaves readers on the old version, and the recommit is idempotent;
    (3) vacuum removes old versions and crash orphans loudly, never the
    live snapshot."""
    import os

    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "modvalues_versions")

    bounds = fx["updates"].agg(
        F.unix_micros(F.min("received_ts")).alias("lo_us"),
        F.unix_micros(F.max("received_ts")).alias("hi_us"),
    ).collect()[0]
    lo_us, hi_us = bounds["lo_us"], bounds["hi_us"] + 1
    step = (hi_us - lo_us) // 3 + 1

    def round_state(i, stored):
        upd = fx["updates"].filter(
            (F.unix_micros("received_ts") >= lo_us + i * step)
            & (F.unix_micros("received_ts") < lo_us + (i + 1) * step)
        )
        joined, _, _ = ingest.prepare_stream(
            upd, fx["devices"], fx["templates"], fx["connections"]
        )
        return ingest.merge_perpoint_states(stored, ingest.perpoint_state(joined))

    expected = []
    stored = None
    for i in range(3):
        stored = round_state(i, stored)
        v = TF.commit_version(stored, root)
        assert v == i
        expected.append({tuple(r) for r in stored.collect()})
        stored = TF.read_version(spark, root)  # next round reads committed

    # (1) time travel reproduces every intermediate state
    for i in range(3):
        got = {tuple(r) for r in TF.read_version(spark, root, version=i).collect()}
        assert got == expected[i], f"version {i}"
    assert TF.latest_version(root) == 2

    # (2) crash: v3 data lands but the pointer never advances
    crashed = round_state(2, TF.read_version(spark, root))  # any next state
    crashed.write.mode("overwrite").parquet(
        os.path.join(root, "data", "v00003")
    )
    assert TF.latest_version(root) == 2  # readers unaffected
    assert {tuple(r) for r in TF.read_version(spark, root).collect()} == expected[2]
    v = TF.commit_version(crashed, root)  # recommit after recovery
    assert v == 3 and TF.latest_version(root) == 3

    # (3) vacuum: keep newest 2, reclaim the rest + any orphans
    removed = TF.vacuum(root, keep=2)
    assert removed == [0, 1]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="vacuum"):
        TF.read_version(spark, root, version=0)
    assert {tuple(r) for r in TF.read_version(spark, root).collect()} == {
        tuple(r) for r in crashed.collect()
    }
    assert sorted(m["version"] for m in TF.history(root)) == [2, 3]


def test_versioned_table_two_writers_both_commit(spark, tmp_path):
    """Manifest-CAS concurrency (VERDICT r3 #4): two interleaved writers
    that both read the SAME base snapshot must both land — the loser
    rebases its merge on the winner's snapshot, so neither update is
    lost, and the version chain stays linear (the reference's row-lock
    serialization, Services/OpcSubscribeService.cs:608-612, done
    optimistically)."""
    import threading

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "cas_table")
    base = local_frame(spark, [("a", 0), ("b", 0)], "key string, val int")
    assert TF.commit_version(base, root) == 0

    barrier = threading.Barrier(2)
    versions = {}
    errors = []

    def writer(name, key):
        first = [True]

        def merge(current):
            counts = {r["key"]: r["val"] for r in current.collect()}
            counts[key] += 1
            if first[0]:
                first[0] = False
                barrier.wait(timeout=30)  # both writers read base BEFORE either claims
            return local_frame(spark,
                sorted(counts.items()), "key string, val int"
            )

        try:
            versions[name] = TF.commit_merge(spark, root, merge)
        except Exception as e:  # surface thread failures in the assert
            errors.append((name, e))

    threads = [
        threading.Thread(target=writer, args=("A", "a")),
        threading.Thread(target=writer, args=("B", "b")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    # both committed, on distinct versions
    assert sorted(versions.values()) == [1, 2], versions
    # neither update lost: the rebased loser re-applied on the winner's state
    final = {r["key"]: r["val"] for r in TF.read_version(spark, root).collect()}
    assert final == {"a": 1, "b": 1}, final
    # linear parent chain 0 <- 1 <- 2
    assert [(m["version"], m["parent"]) for m in TF.history(root)] == [
        (0, None), (1, 0), (2, 1),
    ]


def test_vacuum_grace_spares_inflight_commits(spark, tmp_path):
    """vacuum must NOT reclaim a fresh unmanifested data directory — it
    may be a concurrent commit between its data write and its CAS link
    (reclaiming it would commit a manifest pointing at deleted data).
    Past the grace window (or with grace 0) it is crash debris and goes;
    same rule for manifest .tmp files a killed writer leaves behind."""
    import os
    import time

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "grace_table")
    df = local_frame(spark, [("a", 1)], "key string, val int")
    TF.commit_version(df, root)

    orphan = os.path.join(root, "data", "v00001-inflight")
    df.write.mode("overwrite").parquet(orphan)
    man_tmp = os.path.join(root, "_versions", "v00001.json.dead.tmp")
    with open(man_tmp, "w") as f:
        f.write("{}")

    TF.vacuum(root, keep=1)  # default grace: both fresh -> both survive
    assert os.path.exists(orphan) and os.path.exists(man_tmp)

    old = time.time() - 7200
    os.utime(orphan, (old, old))
    os.utime(man_tmp, (old, old))
    TF.vacuum(root, keep=1)  # now past the grace window -> reclaimed
    assert not os.path.exists(orphan) and not os.path.exists(man_tmp)

    # grace 0: immediate reclaim (single-writer maintenance mode)
    df.write.mode("overwrite").parquet(orphan)
    TF.vacuum(root, keep=1, orphan_grace_s=0)
    assert not os.path.exists(orphan)


def test_incremental_ann_index_equals_oneshot_and_recovers(spark, tmp_path):
    """The maintained IVF-PQ index (streaming/annindex.py): vectors fed
    in 3 id-interleaved waves with FIXED quantizers must produce exactly
    the one-shot codes table (encode is per-row deterministic), searches
    served from it must equal ivfpq_search over the one-shot build, a
    replayed batch_id must not add a version, and a fresh sink on the
    same root must resume (restart recovery) and UPSERT re-ingested ids
    instead of duplicating them."""
    import numpy as np

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink,
        ann_index_search,
    )

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    cent, books, oneshot_codes = S.ivfpq_train_encode(emb)

    root = str(tmp_path / "ann_index")
    sink = IncrementalAnnIndexSink(root, quantizers=(cent, books))
    for i in range(3):
        sink.process_batch(emb.filter(F.col("vec_id") % 3 == i), i)

    got = _rows(TF.read_version(spark, root + "/codes"))
    assert got == _rows(oneshot_codes)

    # served search == in-plan search over the one-shot build
    q = emb.filter(F.col("vec_id") < 10)
    served = _rows(sink.search(emb, q, k=5, nprobe=14, rerank=200))
    inplan = _rows(
        S.ivfpq_search(oneshot_codes, cent, books, emb, q,
                       k=5, nprobe=14, rerank=200)
    )
    assert served == inplan and len(served) == 50

    # redelivery: same batch_id again — no new version committed
    v_before = TF.latest_version(root + "/codes")
    sink.process_batch(emb.filter(F.col("vec_id") % 3 == 0), 0)
    assert TF.latest_version(root + "/codes") == v_before

    # restart recovery: a FRESH sink adopts the persisted quantizers and
    # committed batch ids; a replayed batch is skipped across restart too
    sink2 = IncrementalAnnIndexSink(root)
    assert np.array_equal(sink2._cent, cent)
    sink2.process_batch(emb.filter(F.col("vec_id") % 3 == 1), 1)
    assert TF.latest_version(root + "/codes") == v_before

    # upsert: re-ingest one id with a DIFFERENT vector under a new batch
    # id — the codes row is replaced, never duplicated
    one = emb.filter(F.col("vec_id") == 7).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    sink2.process_batch(one, 99)
    snap = TF.read_version(spark, root + "/codes")
    assert snap.count() == emb.count()
    assert snap.filter(F.col("neighbor_id") == 7).count() == 1
    new_row = snap.filter(F.col("neighbor_id") == 7).collect()[0]
    old_row = oneshot_codes.filter(F.col("neighbor_id") == 7).collect()[0]
    assert tuple(new_row) != tuple(old_row)
    # and time travel still serves the pre-upsert index
    pre = TF.read_version(spark, root + "/codes", v_before)
    assert _rows(pre.filter(F.col("neighbor_id") == 7)) == [tuple(old_row)]


def test_incremental_ann_index_self_training_recall(spark, tmp_path):
    """Self-training path: quantizers trained on the FIRST wave only and
    frozen; later waves are encoded against them. Recall vs brute force
    must still clear the same bar as the one-shot index at the serve
    geometry (the fixture is near-isotropic, so a first-wave sample is
    representative — the documented staleness trade)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink,
    )

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path / "ann_index_self")
    sink = IncrementalAnnIndexSink(root)
    for i in range(3):
        sink.process_batch(emb.filter(F.col("vec_id") % 3 == i), i)

    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in sink.search(emb, q, k=5, nprobe=14, rerank=200).collect()
    }
    assert len(brute & got) / len(brute) >= 0.9


def test_incremental_ann_index_vacuum_bounds_versions(spark, tmp_path):
    """Index maintenance: vacuum reclaims old code-table versions (one
    full snapshot accrues per batch) without touching the live one —
    searches still serve, vacuumed versions raise on time travel."""
    import pytest as _pytest

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink,
    )

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path / "ann_vac")
    sink = IncrementalAnnIndexSink(root)
    for i in range(3):
        sink.process_batch(emb.filter(F.col("vec_id") % 3 == i), i)

    assert TF.latest_version(root + "/codes") == 2
    removed = sink.vacuum(keep=1, orphan_grace_s=0)
    assert removed == [0, 1]  # keep=1 retains only the live v2
    # live snapshot unharmed: full corpus still indexed and serveable
    assert TF.read_version(spark, root + "/codes").count() == emb.count()
    q = emb.filter(F.col("vec_id") < 3)
    assert sink.search(emb, q, k=5, nprobe=14, rerank=200).count() == 15
    with _pytest.raises(ValueError, match="vacuum"):
        TF.read_version(spark, root + "/codes", 0)


def test_commit_append_log_structured_rounds(spark, tmp_path):
    """commit_append: each commit writes ONLY its batch directory (write
    amplification O(batch), not O(table)); readers union the manifest's
    directory list; time travel sees each prefix; vacuum never reclaims
    a directory still referenced by a retained manifest; appends cannot
    evolve the schema."""
    import os

    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "log_table")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    assert TF.commit_append(mk(0, 5), root) == 0
    assert TF.commit_append(mk(5, 8), root) == 1
    assert TF.commit_append(mk(8, 10), root) == 2

    # one data dir per commit, shared across manifests
    data_dirs = os.listdir(os.path.join(root, "data"))
    assert len(data_dirs) == 3
    assert TF.read_version(spark, root).count() == 10
    assert sorted(
        r["k"] for r in TF.read_version(spark, root, 1).collect()
    ) == list(range(8))
    hist = TF.history(root)
    assert [len(TF._data_list(m)) for m in hist] == [1, 2, 3]

    # schema evolution is refused
    with _pytest.raises(ValueError, match="schema mismatch"):
        TF.commit_append(spark.range(3).select(F.col("id").alias("k")), root)

    # vacuum: v0 dropped, but its directory is shared by live v2 — all
    # three dirs must survive; the live read is untouched
    removed = TF.vacuum(root, keep=2, orphan_grace_s=0)
    assert removed == [0]
    assert len(os.listdir(os.path.join(root, "data"))) == 3
    assert TF.read_version(spark, root).count() == 10

    # a REWRITE commit (compaction) then vacuum(keep=1): the rewrite's
    # single dir is live; every append-era dir is now unreferenced and
    # must be reclaimed
    TF.commit_version(TF.read_version(spark, root), root)
    removed = TF.vacuum(root, keep=1, orphan_grace_s=0)
    assert sorted(removed) == [1, 2]
    assert len(os.listdir(os.path.join(root, "data"))) == 1
    assert TF.read_version(spark, root).count() == 10


def test_commit_append_two_writers_rebase(spark, tmp_path):
    """Two interleaved appenders must both land (CAS loser rebases onto
    the winner's manifest) and the union holds both batches."""
    import threading

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "log_race")
    TF.commit_append(
        spark.range(0, 4).select(F.col("id").alias("k")), root
    )

    errs = []

    def appender(lo, hi):
        try:
            TF.commit_append(
                spark.range(lo, hi).select(F.col("id").alias("k")), root
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=appender, args=(4, 7))
    t2 = threading.Thread(target=appender, args=(7, 12))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert TF.latest_version(root) == 2
    assert sorted(
        r["k"] for r in TF.read_version(spark, root).collect()
    ) == list(range(12))


def test_incremental_ann_index_append_mode(spark, tmp_path):
    """Append-mode sink: disjoint waves land as O(batch) append commits
    (one new data dir per batch) and the final index equals the one-shot
    build; a redelivered overlapping row is dropped, never duplicated or
    shadowed."""
    import os

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink,
    )

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    cent, books, oneshot_codes = S.ivfpq_train_encode(emb)

    root = str(tmp_path / "ann_append")
    sink = IncrementalAnnIndexSink(
        root, quantizers=(cent, books), mode="append"
    )
    for i in range(3):
        sink.process_batch(emb.filter(F.col("vec_id") % 3 == i), i)

    assert _rows(TF.read_version(spark, root + "/codes")) == _rows(
        oneshot_codes
    )
    assert len(os.listdir(os.path.join(root, "codes", "data"))) == 3

    # a NEW batch overlapping already-ingested ids: the duplicates are
    # dropped as source-level redelivery; nothing duplicates or shadows
    sink.process_batch(emb.filter(F.col("vec_id") < 30), 9)
    snap = TF.read_version(spark, root + "/codes")
    assert snap.count() == emb.count()
    assert snap.groupBy("neighbor_id").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_durable_span_sink_restart_crash_and_equality(spark, tmp_path, monkeypatch):
    """Durable span-dedup state (postings as an append-structured
    versioned table + O(docs) seen table): (1) waves fed through the
    durable sink produce the batch operator's exact report and each
    batch appends ONE postings directory; (2) a RESTART resumes from
    the manifests and a replayed committed batch is fully skipped;
    (3) a crash BETWEEN the postings and seen sub-commits retries to
    the correct state — no duplicate postings, nothing lost; (4)
    trim-on-read equals the batch trim."""
    import os

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 150)
    want = _rows(D.repeated_spans(docs, k=15))
    assert want

    root = str(tmp_path / "span_state")
    sink = IncrementalSpanDedupSink(k=15, state_root=root)
    sink.process_batch(docs.filter(F.col("doc_id") % 3 == 0), 0)
    sink.process_batch(docs.filter(F.col("doc_id") % 3 == 1), 1)

    # (2) restart mid-stream: a fresh sink resumes from the manifests
    sink2 = IncrementalSpanDedupSink(k=15, state_root=root)
    assert sink2.batches_seen == 2
    v_post = TF.latest_version(root + "/postings")
    sink2.process_batch(docs.filter(F.col("doc_id") % 3 == 1), 1)  # replay
    assert TF.latest_version(root + "/postings") == v_post

    # (3) crash between the two sub-commits of wave 2: the seen commit
    # fails once; postings already landed. The same-batch retry must
    # skip the postings append (no duplicates) and land only seen.
    real_append = TF.commit_append
    boom = {"armed": False}

    def failing_append(df, root_, **kw):
        if boom["armed"] and root_.endswith("/seen"):
            boom["armed"] = False
            raise RuntimeError("injected crash before seen commit")
        return real_append(df, root_, **kw)

    monkeypatch.setattr(TF, "commit_append", failing_append)
    import pytest as _pytest

    boom["armed"] = True
    wave2 = docs.filter(F.col("doc_id") % 3 == 2)
    with _pytest.raises(RuntimeError, match="injected"):
        sink2.process_batch(wave2, 2)
    assert 2 in sink2._postings_done and 2 not in sink2._seen_done
    assert 2 not in sink2._done_batch_ids

    sink2.process_batch(wave2, 2)  # foreachBatch retry completes it
    # (1) report equals the one-shot batch operator; one dir per batch
    assert _rows(sink2.result()) == want
    assert len(os.listdir(os.path.join(root, "postings", "data"))) == 3

    # postings carry no duplicate (doc_id, start) rows after the crash
    p = TF.read_version(spark, root + "/postings")
    assert p.groupBy("doc_id", "start").count().filter(
        F.col("count") > 1
    ).count() == 0

    # (4) trim-on-read from durable state == batch trim
    got_trim = _rows(sink2.trim(docs))
    assert got_trim == _rows(D.trim_repeated_spans(docs, k=15))

    # a THIRD sink instance (fresh process) serves the same report
    sink3 = IncrementalSpanDedupSink(k=15, state_root=root)
    assert sink3.batches_seen == 3
    assert _rows(sink3.result()) == want


def test_compact_collapses_append_dirs_without_losing_rows(spark, tmp_path):
    """compact(): one rewrite version collapses the append log; vacuum
    then reclaims the append-era dirs; content identical throughout. An
    empty table refuses to compact."""
    import os

    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "compact_me")
    with _pytest.raises(FileNotFoundError):
        TF.compact(spark, root)

    for lo, hi in ((0, 4), (4, 9), (9, 12)):
        TF.commit_append(
            spark.range(lo, hi).select(F.col("id").alias("k")), root
        )
    v = TF.compact(spark, root)
    assert v == 3
    assert len(TF._data_list(TF.history(root)[-1])) == 1
    TF.vacuum(root, keep=1, orphan_grace_s=0)
    assert len(os.listdir(os.path.join(root, "data"))) == 1
    assert sorted(
        r["k"] for r in TF.read_version(spark, root).collect()
    ) == list(range(12))
    assert TF.history(root)[-1]["app"] == {
        "compaction": True, "data_identical": True,
    }


def test_durable_rollup_restart_redelivery_and_crash(spark, tmp_path, monkeypatch):
    """Durable continuous aggregate: (1) waves through the durable sink
    equal the batch cascade; (2) a restart resumes from the manifests
    and a replayed batch is SKIPPED (the additive merge makes the guard
    load-bearing — without it every touched bucket doubles); (3) a
    failed commit leaves no state, and the retry merges cleanly."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators import timeseries as TS
    from opcua_ingestion_engine_spark.streaming.rollup import (
        IncrementalRollupSink,
    )

    ev = C.load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    want = _rows(TS.multires_rollup(ev))

    root = str(tmp_path / "rollup_state")
    sink = IncrementalRollupSink(state_root=root)
    sink.process_batch(ev.filter(F.col("event_id") % 3 == 0), 0)

    # (3) crash: the commit itself fails once — no manifest, no state
    real = TF.commit_merge
    boom = {"armed": True}

    def failing_merge(spark_, root_, fn, **kw):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected commit failure")
        return real(spark_, root_, fn, **kw)

    monkeypatch.setattr(TF, "commit_merge", failing_merge)
    import pytest as _pytest

    wave1 = ev.filter(F.col("event_id") % 3 == 1)
    with _pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(wave1, 1)
    assert TF.latest_version(root) == 0 and 1 not in sink._done_batch_ids
    sink.process_batch(wave1, 1)  # retry lands cleanly
    assert TF.latest_version(root) == 1

    # (2) restart: fresh sink resumes; replayed committed batch skipped
    sink2 = IncrementalRollupSink(state_root=root)
    assert sink2.batches_seen == 2
    sink2.process_batch(wave1, 1)  # replay — must NOT double buckets
    assert TF.latest_version(root) == 1
    sink2.process_batch(ev.filter(F.col("event_id") % 3 == 2), 2)

    # (1) equality with the one-shot batch cascade
    assert _rows(sink2.result()) == want and want

    # a third instance serves the same cascade from disk alone
    sink3 = IncrementalRollupSink(state_root=root)
    assert _rows(sink3.result()) == want


def test_durable_heavy_hitters_restart_crash_and_equality(
    spark, tmp_path, monkeypatch
):
    """Durable heavy hitters (docs as an append table + the O(capacity)
    sketch as its own rewrite table): waves == batch answer; restart
    resumes from manifests; a crash BETWEEN the docs and sketch commits
    retries to the correct state (docs skip, sketch lands on the OLD
    base — no double count)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators import text as T
    from opcua_ingestion_engine_spark.streaming.heavyhitters import (
        IncrementalHeavyHittersSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = _rows(T.frequent_tokens(docs, min_frac=0.01, capacity=600))
    assert want

    root = str(tmp_path / "hh_state")
    sink = IncrementalHeavyHittersSink(capacity=600, state_root=root)
    sink.process_batch(docs.filter(F.col("doc_id") % 3 == 0), 0)

    # crash between the docs append and the sketch commit of wave 1
    # (the sketch lands via commit_merge since round 10 — two-writer
    # rebase safety — so the injection targets that entry point)
    real_cm = TF.commit_merge
    boom = {"armed": True}

    def failing_cm(spark_, root_, merge_fn, **kw):
        if boom["armed"] and root_.endswith("/sketch"):
            boom["armed"] = False
            raise RuntimeError("injected crash before sketch commit")
        return real_cm(spark_, root_, merge_fn, **kw)

    monkeypatch.setattr(TF, "commit_merge", failing_cm)
    import pytest as _pytest

    wave1 = docs.filter(F.col("doc_id") % 3 == 1)
    with _pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(wave1, 1)
    assert 1 in sink._docs_done and 1 not in sink._sketch_done
    sink.process_batch(wave1, 1)  # retry: docs skipped, sketch lands
    assert TF.latest_version(root + "/docs") == 1

    # restart + replay skip + final wave; a fresh instance answers
    sink2 = IncrementalHeavyHittersSink(capacity=600, state_root=root)
    assert sink2.batches_seen == 2
    v_docs = TF.latest_version(root + "/docs")
    sink2.process_batch(wave1, 1)  # replay of a fully committed batch
    assert TF.latest_version(root + "/docs") == v_docs
    sink2.process_batch(docs.filter(F.col("doc_id") % 3 == 2), 2)
    assert _rows(sink2.result(0.01)) == want

    sink3 = IncrementalHeavyHittersSink(capacity=600, state_root=root)
    assert _rows(sink3.result(0.01)) == want


def test_durable_neardup_restart_crash_and_equality(spark, tmp_path, monkeypatch):
    """Durable near-dup (shingles/index/pairs as three append tables,
    pairs LAST): waves == the batch MinHash pipeline; a crash between
    the index and pairs appends retries to the exact state (no doubled
    pairs — the store is read from the table alone once its append
    landed); restart resumes and a replayed batch is skipped."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.neardup import (
        IncrementalNearDupSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = sorted(
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_neardup_pairs(docs, threshold=0.2).collect()
    )
    assert want

    root = str(tmp_path / "nd_state")
    sink = IncrementalNearDupSink(threshold=0.2, state_root=root)
    sink.process_batch(docs.filter(F.col("doc_id") % 3 == 0), 0)

    # crash between the index append and the pairs append of wave 1
    real_append = TF.commit_append
    boom = {"armed": True}

    def failing_append(df, root_, **kw):
        if boom["armed"] and root_.endswith("/pairs"):
            boom["armed"] = False
            raise RuntimeError("injected crash before pairs commit")
        return real_append(df, root_, **kw)

    monkeypatch.setattr(TF, "commit_append", failing_append)
    import pytest as _pytest

    wave1 = docs.filter(F.col("doc_id") % 3 == 1)
    with _pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(wave1, 1)
    assert 1 in sink._sub_done["shingles"] and 1 in sink._sub_done["index"]
    assert 1 not in sink._sub_done["pairs"]
    sink.process_batch(wave1, 1)  # retry completes only the pairs append

    # restart: fresh sink resumes; replay of a committed batch skipped
    sink2 = IncrementalNearDupSink(threshold=0.2, state_root=root)
    assert sink2.batches_seen == 2
    v = TF.latest_version(root + "/pairs")
    sink2.process_batch(wave1, 1)
    assert TF.latest_version(root + "/pairs") == v
    sink2.process_batch(docs.filter(F.col("doc_id") % 3 == 2), 2)

    got = sorted(
        (r["doc_a"], r["doc_b"]) for r in sink2.pairs.collect()
    )
    assert got == want
    # no doubled pair rows anywhere in the table
    assert sink2.pairs.groupBy("doc_a", "doc_b").count().filter(
        F.col("count") > 1
    ).count() == 0

    sink3 = IncrementalNearDupSink(threshold=0.2, state_root=root)
    assert sorted((r["doc_a"], r["doc_b"]) for r in sink3.pairs.collect()) == want


def test_durable_corpus_build_restart_crash_and_equality(
    spark, tmp_path, monkeypatch
):
    """Durable corpus build (training manifest + content digests as two
    append tables, digests LAST — the digest table is the cross-batch
    dedup guard): (1) ordered waves through the durable sink equal the
    one-shot batch capstone; (2) a crash between the manifest and
    digest sub-commits retries to the exact state — the retry
    recomputes the identical fresh set from the table-state guard and
    completes only the missing digest commit, no doubled manifest rows;
    (3) a restart resumes from the manifests and a replayed committed
    batch is fully skipped; (4) a fresh instance serves the same
    manifest."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark import plans
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.corpusbuild import (
        IncrementalCorpusBuildSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source"
    )
    want = {
        tuple(r)
        for r in plans.QUERIES["q_e8_corpus_build"].fn(spark, SF_SMOKE).collect()
    }
    assert want
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    step = hi // 3 + 1
    bench = docs.filter(F.col("doc_id") % 97 == 0)

    def wave(i):
        return docs.filter(
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
        )

    root = str(tmp_path / "corpus_state")
    sink = IncrementalCorpusBuildSink(bench, state_root=root)
    sink.process_batch(wave(0), 0)

    # (2) crash between the manifest append and the digest append of
    # wave 1: the guard hasn't admitted the batch, so the retry must
    # recompute identical admissions, SKIP the landed manifest append,
    # and land only the digests
    real_append = TF.commit_append
    boom = {"armed": True}

    def failing_append(df, root_, **kw):
        if boom["armed"] and root_.endswith("/digests"):
            boom["armed"] = False
            raise RuntimeError("injected crash before digest commit")
        return real_append(df, root_, **kw)

    monkeypatch.setattr(TF, "commit_append", failing_append)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(wave(1), 1)
    assert 1 in sink._sub_done["manifest"]
    assert 1 not in sink._sub_done["digests"]
    assert 1 not in sink._done_batch_ids
    v_man = TF.latest_version(root + "/manifest")
    sink.process_batch(wave(1), 1)  # retry completes only the digests
    assert TF.latest_version(root + "/manifest") == v_man

    # (3) restart mid-stream: a fresh sink resumes from the manifests
    sink2 = IncrementalCorpusBuildSink(bench, state_root=root)
    assert sink2.batches_seen == 2
    v_dig = TF.latest_version(root + "/digests")
    sink2.process_batch(wave(1), 1)  # replay of a committed batch
    assert TF.latest_version(root + "/digests") == v_dig
    sink2.process_batch(wave(2), 2)

    # (1) manifest equals the one-shot batch capstone; no doubled rows
    got = {tuple(r) for r in sink2.result().collect()}
    assert got == want
    assert sink2.result().groupBy("doc_id").count().filter(
        F.col("count") > 1
    ).count() == 0
    # digest table holds each content hash exactly once
    digs = TF.read_version(spark, root + "/digests")
    assert digs.groupBy("_dig").count().filter(F.col("count") > 1).count() == 0

    # (4) a THIRD instance (fresh process) serves the same manifest
    sink3 = IncrementalCorpusBuildSink(bench, state_root=root)
    assert sink3.batches_seen == 3
    assert {tuple(r) for r in sink3.result().collect()} == want


def test_maybe_compact_cadence_and_sink_auto_compact(spark, tmp_path):
    """Auto-compaction cadence: (1) maybe_compact is a no-op below the
    directory threshold, compacts exactly at it, and None disables; (2)
    a durable span sink with a tight cadence keeps its postings
    directory list bounded while the report, the replay guard, and
    restart recovery stay intact (compaction never vacuums, so the
    batch_id ledger survives)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    # (1) cadence mechanics on a bare table
    root = str(tmp_path / "cadence")
    assert TF.maybe_compact(spark, root, 2) is None  # empty table
    TF.commit_append(spark.range(0, 3).select(F.col("id").alias("k")), root)
    assert TF.maybe_compact(spark, root, 2) is None  # 1 dir < 2
    TF.commit_append(spark.range(3, 5).select(F.col("id").alias("k")), root)
    assert TF.maybe_compact(spark, root, None) is None  # disabled
    v = TF.maybe_compact(spark, root, 2)  # 2 dirs >= 2 -> compacts
    assert v == 2
    assert len(TF._data_list(TF.history(root)[-1])) == 1
    assert sorted(
        r["k"] for r in TF.read_version(spark, root).collect()
    ) == list(range(5))
    assert TF.maybe_compact(spark, root, 2) is None  # back below

    # (2) a durable sink under a tight cadence
    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 150)
    want = _rows(D.repeated_spans(docs, k=15))
    sroot = str(tmp_path / "span_state")
    sink = IncrementalSpanDedupSink(k=15, state_root=sroot, auto_compact=2)
    for i in range(4):
        sink.process_batch(docs.filter(F.col("doc_id") % 4 == i), i)
    post_root = sroot + "/postings"
    # the live manifest's directory list stays under the cadence bound
    assert len(TF._data_list(TF.history(post_root)[-1])) < 2 + 1
    assert _rows(sink.result()) == want

    # restart: the batch_id ledger survived compaction (manifests are
    # never vacuumed by the cadence), so recovery and replay-skip hold
    sink2 = IncrementalSpanDedupSink(k=15, state_root=sroot, auto_compact=2)
    assert sink2.batches_seen == 4
    v_post = TF.latest_version(post_root)
    sink2.process_batch(docs.filter(F.col("doc_id") % 4 == 1), 1)
    assert TF.latest_version(post_root) == v_post
    assert _rows(sink2.result()) == want


def test_snapshot_diff_classification(spark):
    """Keyed diff: insert/delete/update pre+post images, null-safe value
    compare (NULL->NULL is unchanged, NULL<->value is an update), and
    the old=None empty-table baseline."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    old = local_frame(spark,
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, None, 40)],
        "k int, s string, x int",
    )
    new = local_frame(spark,
        [(2, "b", None), (3, "c2", 30), (4, "now", 40), (5, "e", 50)],
        "k int, s string, x int",
    )
    got = {
        tuple(r)
        for r in TF.snapshot_diff(old, new, ["k"], commit_version=7).collect()
    }
    assert got == {
        (1, "a", 10, "delete", 7),
        (3, "c", 30, "update_preimage", 7),
        (3, "c2", 30, "update_postimage", 7),
        (4, None, 40, "update_preimage", 7),
        (4, "now", 40, "update_postimage", 7),
        (5, "e", 50, "insert", 7),
    }
    # k=2 (unchanged, with a NULL value on both sides) emitted nothing
    assert TF.snapshot_diff(old, old, ["k"]).count() == 0
    # empty-table baseline: everything inserts
    base = _rows(TF.snapshot_diff(None, new, ["k"]))
    assert len(base) == 4 and all(r[3] == "insert" for r in base)
    # key-only table (no non-key columns): insert/delete still classify
    ko = TF.snapshot_diff(
        old.select("k"), new.select("k"), ["k"]
    )
    assert _rows(ko) == [(1, "delete"), (5, "insert")]
    with pytest.raises(ValueError):
        TF.snapshot_diff(old, new, ["nope"])
    with pytest.raises(ValueError):
        TF.snapshot_diff(old.select("k", "s"), new, ["k"])


def test_table_changes_fast_path_and_fallback(spark, tmp_path):
    """Change feed plan selection: pure-append ranges serve from the
    tail directories ONLY (per-commit versions, no keys needed, and no
    touch of the old data); rewrite steps or vacuumed intermediate
    manifests fall back to the keyed endpoint diff."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "cdc")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(mk(0, 3), root)       # v0
    TF.commit_append(mk(3, 5), root)       # v1
    TF.commit_append(mk(5, 6), root)       # v2

    # full-range feed from empty: every row insert, true per-commit version
    feed = _rows(TF.table_changes(spark, root, None))
    assert feed == sorted(
        [(i, i * 10, "insert", 0 if i < 3 else (1 if i < 5 else 2))
         for i in range(6)]
    )
    # sub-range (v0, v2]: only the two tails, no keys required
    sub = _rows(TF.table_changes(spark, root, 0, 2))
    assert sub == sorted(
        [(i, i * 10, "insert", 1 if i < 5 else 2) for i in range(3, 6)]
    )
    # the fast path must not touch the v0 directory: the scan's input
    # files are exactly the v1+v2 tails
    v0_dir = TF._data_list(TF.history(root)[0])[0]
    touched = TF.table_changes(spark, root, 0, 2).inputFiles()
    assert touched and not any(v0_dir in p for p in touched)

    # empty range
    assert TF.table_changes(spark, root, 2, 2).count() == 0

    # a rewrite step breaks the append chain -> keyed diff required
    snap = TF.read_version(spark, root).filter(F.col("k") >= 3)
    upd = snap.withColumn(
        "v", F.when(F.col("k") == 3, F.lit(999)).otherwise(F.col("v"))
    ).filter(F.col("k") != 5)
    TF.commit_version(upd, root)          # v3: update k=3, delete k=5
    with pytest.raises(ValueError):
        TF.table_changes(spark, root, 2, 3)  # no keys -> loud
    diff = _rows(TF.table_changes(spark, root, 2, 3, keys=["k"]))
    assert (3, 30, "update_preimage", 3) in diff
    assert (3, 999, "update_postimage", 3) in diff
    assert (5, 50, "delete", 3) in diff
    # k=4 unchanged across v2->v3 (both dirs retained) emits nothing
    assert not any(r[0] == 4 for r in diff)


def test_matview_incremental_equals_recompute(spark, tmp_path):
    """The materialized view, advanced commit-by-commit from the change
    feed (append fast path AND keyed diff with group-moving updates and
    deletes), must equal a from-scratch aggregate of the final snapshot;
    cursor rides the view manifest; no-op polls commit nothing; a fresh
    instance (restart) resumes from the committed cursor."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.matview import (
        MaterializedAggView,
    )

    src, vr = str(tmp_path / "src"), str(tmp_path / "view")
    mk = lambda rows: local_frame(spark, rows, "k int, g string, x double")
    view = MaterializedAggView(
        src, vr, group_keys=["g"], sum_cols=["x"], row_keys=["k"]
    )
    assert view.cursor() is None and view.refresh(spark) is None  # empty src

    TF.commit_version(mk([(1, "a", 1.0), (2, "a", 2.0), (3, "b", 4.0)]), src)
    assert view.refresh(spark) == 0 and view.cursor() == 0
    TF.commit_append(mk([(4, "b", 8.0), (5, None, 16.0)]), src)  # NULL group
    assert view.refresh(spark) == 1 and view.cursor() == 1
    assert view.refresh(spark) is None  # no-op poll: nothing committed
    assert TF.latest_version(vr) == 1

    # upsert: k=1 moves a->b, k=3 deleted, k=2 value bumped; group 'a'
    # survives only via k=2
    TF.commit_version(
        mk([(1, "b", 1.0), (2, "a", 32.0), (4, "b", 8.0), (5, None, 16.0)]),
        src,
    )
    fresh = MaterializedAggView(  # restart: new instance, same roots
        src, vr, group_keys=["g"], sum_cols=["x"], row_keys=["k"]
    )
    assert fresh.cursor() == 1 and fresh.refresh(spark) == 2
    got = {
        tuple(r)
        for r in fresh.result(spark)
        .select("g", "n", F.col("sum_x").cast("double").alias("s"))
        .collect()
    }
    assert got == {(None, 1, 16.0), ("a", 1, 32.0), ("b", 2, 9.0)}

    # delete group 'a' entirely -> its row must LEAVE the view (n==0)
    TF.commit_version(
        mk([(1, "b", 1.0), (4, "b", 8.0), (5, None, 16.0)]), src
    )
    assert fresh.refresh(spark) == 3
    assert not any(r["g"] == "a" for r in fresh.result(spark).collect())


def test_matview_lost_cas_rebases_to_noop(spark, tmp_path, monkeypatch):
    """A refresher that loses the manifest CAS to a racer must re-read
    the advanced cursor and conclude no-op — never double-fold the same
    change range."""
    from opcua_ingestion_engine_spark.operators import matview as MV
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    src, vr = str(tmp_path / "src"), str(tmp_path / "view")
    df = local_frame(spark, [(1, "a", 1.0), (2, "b", 2.0)], "k int, g string, x double")
    TF.commit_version(df, src)
    view = MV.MaterializedAggView(
        src, vr, group_keys=["g"], sum_cols=["x"], row_keys=["k"]
    )
    real = TF._try_commit
    state = {"raced": False}

    def racing_commit(frame, root, parent, app=None):
        if not state["raced"]:
            state["raced"] = True
            # the racer lands the SAME range first...
            racer = MV.MaterializedAggView(
                src, vr, group_keys=["g"], sum_cols=["x"], row_keys=["k"]
            )
            assert racer.refresh(spark) == 0
            # ...so this attempt must lose the CAS
            assert real(frame, root, parent, app) is None
            return None
        return real(frame, root, parent, app)

    monkeypatch.setattr(MV.TF, "_try_commit", racing_commit)
    assert view.refresh(spark) is None  # rebased, saw cursor==target, no-op
    assert TF.latest_version(vr) == 0  # exactly one fold committed
    assert view.cursor() == 0
    got = _rows(view.result(spark).select("g", "n"))
    assert got == [("a", 1), ("b", 1)]


def test_vacuum_keep0_retains_live_only(spark, tmp_path):
    """vacuum(keep=0) means 'live version only' — the hist[-0:] slice bug
    retained EVERYTHING; pinned: all non-live manifests go, the live one
    survives and still reads."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "k0")
    for i in range(3):
        TF.commit_version(spark.range(i, i + 2), root)  # v0..v2
    removed = TF.vacuum(root, keep=0, orphan_grace_s=0)
    assert sorted(removed) == [0, 1]
    assert TF.latest_version(root) == 2
    assert _rows(TF.read_version(spark, root)) == [(2,), (3,)]
    with pytest.raises(ValueError):
        TF.read_version(spark, root, 0)


def test_commit_append_parent_manifest_vanished_rebases(
    spark, tmp_path, monkeypatch
):
    """A concurrent writer advancing the table plus a concurrent vacuum
    reclaiming the observed parent manifest between latest_version() and
    the manifest read must REBASE (like a lost CAS), not raise
    FileNotFoundError."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "vanish")
    TF.commit_version(spark.range(0, 3), root)  # v0
    TF.commit_version(spark.range(0, 4), root)  # v1
    real = TF.latest_version
    state = {"first": True}

    def stale_then_real(r):
        if state["first"]:
            state["first"] = False
            # simulate: we observed v0 as latest, then vacuum reclaimed it
            import os

            os.remove(TF._manifest_path(root, 0))
            return 0
        return real(r)

    monkeypatch.setattr(TF, "latest_version", stale_then_real)
    v = TF.commit_append(spark.range(4, 6), root)
    assert v == 2
    assert _rows(TF.read_version(spark, root)) == [(i,) for i in range(6)]


def test_table_changes_skips_data_identical_compaction(spark, tmp_path):
    """An append -> compact -> append range must stay on the O(changes)
    fast path: the compaction manifest is stamped app.data_identical, so
    the feed contributes only the true appends and never touches the
    compacted full-table directory; a range of ONLY compactions is the
    empty feed; a keyed fallback is never required."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "cdcskip")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(mk(0, 3), root)   # v0
    TF.commit_append(mk(3, 5), root)   # v1
    v = TF.compact(spark, root)        # v2: layout-only rewrite
    assert v == 2
    TF.commit_append(mk(5, 7), root)   # v3

    # (v0, v3]: appends v1+v3 only, compaction contributes nothing —
    # and NO keys needed (the old code's keyed-diff fallback would raise)
    feed = _rows(TF.table_changes(spark, root, 0, 3))
    assert feed == sorted(
        [(i, i * 10, "insert", 1 if i < 5 else 3) for i in range(3, 7)]
    )
    # the compacted v2 directory (the whole table) is never scanned
    v2_dirs = set(TF._data_list(TF.history(root)[2]))
    v0v1_dirs = set(TF._data_list(TF.history(root)[1]))
    compacted_only = v2_dirs - v0v1_dirs
    assert compacted_only  # the compaction did write a fresh directory
    touched = TF.table_changes(spark, root, 0, 3).inputFiles()
    assert touched
    for d in compacted_only:
        assert not any(d in p for p in touched)

    # compaction-only range == empty feed (schema intact)
    only = TF.table_changes(spark, root, 1, 2)
    assert only.count() == 0
    assert only.columns == ["k", "v", "_change_type", "_commit_version"]

    # full-from-empty still serves fast and attributes true versions
    full = _rows(TF.table_changes(spark, root, None))
    assert full == sorted(
        [(i, i * 10, "insert", 0 if i < 3 else (1 if i < 5 else 3))
         for i in range(7)]
    )


def test_read_version_prune_data_skipping(spark, tmp_path):
    """Manifest-stats data skipping: prune= drops a data directory only
    when its recorded [min,max] proves no overlap; missing stats keep;
    kept dirs may still hold out-of-range rows (caller filters on top);
    an all-pruned read returns an empty frame in the committed schema."""
    import json
    import os

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "prune")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(mk(0, 10), root)    # k in [0,9]
    TF.commit_append(mk(10, 20), root)   # k in [10,19]
    TF.commit_append(mk(20, 30), root)   # k in [20,29]

    # one-sided range hits only the last directory
    pruned = TF.read_version(spark, root, prune={"k": (25, None)})
    assert pruned.inputFiles() and len(
        {os.path.dirname(p) for p in pruned.inputFiles()}
    ) == 1
    # pruning is NOT a filter: the kept dir holds k=20..24 too
    assert _rows(pruned) == [(i, i * 10) for i in range(20, 30)]
    # the real predicate on top gives the exact answer
    assert _rows(pruned.filter(F.col("k") >= 25)) == [
        (i, i * 10) for i in range(25, 30)
    ]

    # two-sided interval keeps only the middle directory
    mid = TF.read_version(spark, root, prune={"k": (12, 17)})
    assert _rows(mid) == [(i, i * 10) for i in range(10, 20)]

    # all pruned -> empty frame, committed schema preserved
    none = TF.read_version(spark, root, prune={"k": (100, None)})
    assert none.count() == 0 and none.columns == ["k", "v"]

    # missing stats must KEEP: strip the stats block and re-read
    live = TF.latest_version(root)
    mp = TF._manifest_path(root, live)
    with open(mp) as f:
        m = json.load(f)
    m["stats"] = {}
    os.remove(mp)
    with open(mp, "w") as f:
        json.dump(m, f)
    kept = TF.read_version(spark, root, prune={"k": (100, None)})
    assert kept.count() == 30

    # unknown column in prune: keeps everything (absent from stats)
    allk = TF.read_version(spark, root, prune={"nope": (0, 1)})
    assert allk.count() == 30


def test_matview_min_max_delete_the_extremum(spark, tmp_path, monkeypatch):
    """Non-additive MIN/MAX maintenance: inserts fold monotonically with
    ZERO source reads; a commit that removes a group's max (or min)
    marks only that group dirty and re-aggregates it via the source
    snapshot; incremental equals full recompute after every commit,
    including ties, group moves, and NULL groups/values."""
    from opcua_ingestion_engine_spark.operators import matview as MV
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    src, vr = str(tmp_path / "src"), str(tmp_path / "view")
    mk = lambda rows: local_frame(spark, rows, "k int, g string, x double")
    view = MV.MaterializedAggView(
        src, vr, group_keys=["g"], sum_cols=["x"], row_keys=["k"],
        min_cols=["x"], max_cols=["x"],
    )

    src_reads = {"n": 0}
    real_read = TF.read_version

    def counting_read(sp, root, version=None, prune=None):
        if root == src:
            src_reads["n"] += 1
        return real_read(sp, root, version, prune)

    monkeypatch.setattr(MV.TF, "read_version", counting_read)

    def check():
        got = {
            tuple(r)
            for r in view.result(spark).select(
                "g", "n", F.col("sum_x").cast("double").alias("s"),
                "min_x", "max_x",
            ).collect()
        }
        want = {
            tuple(r)
            for r in real_read(spark, src)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum(F.col("x").cast("decimal(38,6)")).cast("double").alias("s"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
            )
            .collect()
        }
        assert got == want, (got, want)

    # inserts only: extrema fold monotonically, source never re-read
    TF.commit_version(
        mk([(1, "a", 1.0), (2, "a", 5.0), (3, "b", 4.0), (4, None, 7.0)]),
        src,
    )
    assert view.refresh(spark) == 0
    assert src_reads["n"] == 0
    check()
    TF.commit_append(mk([(5, "a", 9.0), (6, "b", 2.0)]), src)
    assert view.refresh(spark) == 1
    assert src_reads["n"] == 0  # append range: still zero source reads
    check()

    # delete the max of 'a' (k=5, 9.0): the keyed endpoint diff reads
    # the two source snapshots (+2), and ONLY the dirty-group recompute
    # adds a third read (+1)
    TF.commit_version(
        mk([(1, "a", 1.0), (2, "a", 5.0), (3, "b", 4.0), (4, None, 7.0),
            (6, "b", 2.0)]),
        src,
    )
    assert view.refresh(spark) == 2
    assert src_reads["n"] == 3
    check()

    # tie: two rows share b's min 2.0; removing one triggers a recompute
    # (the tie count is not in the state) but must NOT change the value
    TF.commit_append(mk([(7, "b", 2.0)]), src)
    assert view.refresh(spark) == 3
    assert src_reads["n"] == 3  # append range: no endpoint reads
    TF.commit_version(
        mk([(1, "a", 1.0), (2, "a", 5.0), (3, "b", 4.0), (4, None, 7.0),
            (7, "b", 2.0)]),
        src,
    )
    assert view.refresh(spark) == 4
    assert src_reads["n"] == 6  # diff endpoints +2, tie recompute +1
    check()

    # removing b's max 4.0 while gaining 0.5 (covers min, not max) is
    # dirty for max only -> one recompute read beyond the diff's two
    TF.commit_version(
        mk([(1, "a", 1.0), (2, "a", 5.0), (4, None, 7.0),
            (7, "b", 2.0), (8, "b", 0.5)]),  # -k3 (b max), +k8 (new b min)
        src,
    )
    assert view.refresh(spark) == 5
    check()
    assert src_reads["n"] == 9

    # groups vanishing entirely (n==0) are NOT dirty — no recompute
    # read, just the diff's two endpoint reads
    TF.commit_version(mk([(4, None, 7.0), (9, "c", 3.0)]), src)
    assert view.refresh(spark) == 6
    assert src_reads["n"] == 11
    check()
    assert not any(r["g"] in ("a", "b") for r in view.result(spark).collect())

    # restart recovery: a fresh instance resumes and stays exact
    fresh = MV.MaterializedAggView(
        src, vr, group_keys=["g"], sum_cols=["x"], row_keys=["k"],
        min_cols=["x"], max_cols=["x"],
    )
    TF.commit_append(mk([(10, "c", -1.0)]), src)
    assert fresh.refresh(spark) == 7
    got = {
        tuple(r)
        for r in fresh.result(spark).select("g", "n", "min_x", "max_x").collect()
    }
    assert got == {(None, 1, 7.0, 7.0), ("c", 2, -1.0, 3.0)}


def test_durable_rollup_post_commit_failure_no_double_merge(
    spark, tmp_path, monkeypatch
):
    """The round-5 advisory window: a failure AFTER the manifest CAS
    lands (inside commit_merge's post-commit tail, or in the snapshot
    re-read) must not let an in-process foreachBatch retry re-merge the
    committed additive batch. The retry consults the manifest ledger /
    the recorded guard and converges to the exact batch answer."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators import timeseries as TS
    from opcua_ingestion_engine_spark.streaming.rollup import (
        IncrementalRollupSink,
    )

    ev = C.load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    want = _rows(TS.multires_rollup(ev))
    root = str(tmp_path / "rollup_state")
    sink = IncrementalRollupSink(state_root=root)
    sink.process_batch(ev.filter(F.col("event_id") % 2 == 0), 0)

    # (a) commit_merge commits FOR REAL, then raises (e.g. advisory
    # pointer write failed) — the retry must see the ledger and skip
    real_merge = TF.commit_merge
    mode = {"fail": "post_commit"}

    def wrapped_merge(spark_, root_, fn, **kw):
        v = real_merge(spark_, root_, fn, **kw)
        if mode["fail"] == "post_commit":
            mode["fail"] = None
            raise OSError("injected post-commit failure")
        return v

    monkeypatch.setattr(TF, "commit_merge", wrapped_merge)
    wave1 = ev.filter(F.col("event_id") % 2 == 1)
    sink.process_batch(wave1, 1)  # absorbed: ledger has batch 1
    assert TF.latest_version(root) == 1
    assert 1 in sink._done_batch_ids
    sink.process_batch(wave1, 1)  # redelivery: skipped
    assert TF.latest_version(root) == 1
    assert _rows(sink.result()) == want and want

    # (b) snapshot re-read after the commit raises once — the guard is
    # already recorded, so the retry skips the merge and refreshes
    root2 = str(tmp_path / "rollup_state2")
    sink2 = IncrementalRollupSink(state_root=root2)
    sink2.process_batch(ev.filter(F.col("event_id") % 2 == 0), 0)
    real_read = TF.read_version
    arm = {"fail": True}

    def failing_read(sp, rt, version=None, prune=None):
        # fail only the POST-commit snapshot refresh: commit_merge's own
        # pre-merge read happens while the table is still at v0
        if arm["fail"] and rt == root2 and TF.latest_version(root2) == 1:
            arm["fail"] = False
            raise OSError("injected read failure")
        return real_read(sp, rt, version, prune)

    monkeypatch.setattr(TF, "read_version", failing_read)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected read"):
        sink2.process_batch(wave1, 1)
    assert TF.latest_version(root2) == 1  # the merge DID commit
    sink2.process_batch(wave1, 1)  # retry: no re-merge, snapshot refreshed
    assert TF.latest_version(root2) == 1
    assert _rows(sink2.result()) == want


def test_delete_where_rewrites_only_affected_dirs(spark, tmp_path):
    """Predicate DELETE at directory granularity: bounds-disjoint dirs
    and probe-verified match-free dirs are carried BY REFERENCE (same
    rel path, stats verbatim); only matching dirs are rewritten; the
    pre-delete snapshot stays time-travel readable; a no-op delete
    commits nothing; NULL-condition rows are kept (SQL DELETE removes
    only TRUE rows)."""
    import json
    import os

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "del")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 3, None)
        .otherwise(F.col("id") % 5).alias("grp"),
        (F.col("id") * 10).alias("v"),
    )
    TF.commit_append(mk(0, 10), root)     # k in [0,9]
    TF.commit_append(mk(10, 20), root)    # k in [10,19]
    TF.commit_append(mk(20, 30), root)    # k in [20,29]
    with open(TF._manifest_path(root, 2)) as f:
        before = json.load(f)

    v = TF.delete_where(
        spark, root, "k BETWEEN 12 AND 17", bounds={"k": (12, 17)}
    )
    assert v == 3
    with open(TF._manifest_path(root, v)) as f:
        m = json.load(f)
    # dirs 0 and 2 carried by reference: identical rel paths + stats
    carried = [p for p in TF._data_list(m) if p in TF._data_list(before)]
    assert carried == [TF._data_list(before)[0], TF._data_list(before)[2]]
    for p in carried:
        assert m["stats"][p] == before["stats"][p]
    assert m["app"]["op"] == "delete_where"
    assert m["app"]["carried_dirs"] == 2 and m["app"]["rewritten_dirs"] == 1
    got = _rows(TF.read_version(spark, root).select("k"))
    assert got == [(i,) for i in range(30) if not (12 <= i <= 17)]
    # time travel: the pre-delete snapshot is intact
    assert TF.read_version(spark, root, 2).count() == 30

    # probe elimination without bounds: predicate matches nothing in
    # dirs 0/2, so only the rewritten middle dir is touched again
    v2 = TF.delete_where(spark, root, "k = 11")
    with open(TF._manifest_path(root, v2)) as f:
        m2 = json.load(f)
    assert m2["app"]["carried_dirs"] == 2 and m2["app"]["rewritten_dirs"] == 1
    assert TF.read_version(spark, root).count() == 23

    # no-op delete: nothing matches anywhere -> parent version returned,
    # no new manifest committed
    assert TF.delete_where(spark, root, "k = 999") == v2
    assert TF.latest_version(root) == v2

    # NULL condition rows are KEPT: grp is NULL for k%7==3; deleting
    # grp=4 must not drop the NULL-grp rows
    n_null = TF.read_version(spark, root).filter(
        F.col("grp").isNull()
    ).count()
    TF.delete_where(spark, root, "grp = 4")
    after = TF.read_version(spark, root)
    assert after.filter(F.col("grp").isNull()).count() == n_null
    assert after.filter(F.col("grp") == 4).count() == 0

    # full-table delete -> empty frame in the committed schema
    TF.delete_where(spark, root, "k >= 0 OR grp IS NULL")
    empty = TF.read_version(spark, root)
    assert empty.count() == 0 and empty.columns == ["k", "grp", "v"]


def test_delete_where_feed_falls_back_to_keyed_diff(spark, tmp_path):
    """A delete commit must NOT ride the change feed's append fast path
    (pass-through would re-insert deleted rows): a range spanning it
    falls back to the keyed endpoint diff and reports the deletions."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "delfeed")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(mk(0, 10), root)
    TF.commit_append(mk(10, 20), root)
    TF.delete_where(spark, root, "k < 5", bounds={"k": (None, 4)})
    with pytest.raises(ValueError, match="keys"):
        TF.table_changes(spark, root, 1, 2)
    feed = TF.table_changes(spark, root, 1, 2, keys=["k"])
    deleted = feed.filter(F.col(TF.CHANGE_TYPE_COL) == "delete")
    assert _rows(deleted.select("k")) == [(i,) for i in range(5)]


def test_update_where_preserves_schema_and_carries_dirs(spark, tmp_path):
    """Predicate UPDATE: SET expressions apply only to matching rows,
    results cast back to the committed column type (schema can never
    evolve); untouched directories carried by reference; equals the
    when/otherwise recompute over the pre-update snapshot."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "upd")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("tag"),
        (F.col("id").cast("double") * 1.5).alias("v"),
    )
    TF.commit_append(mk(0, 10), root)
    TF.commit_append(mk(10, 20), root)
    expect = (
        TF.read_version(spark, root)
        .withColumn(
            "v",
            F.when(F.col("tag") == 1, F.col("v") * 2).otherwise(F.col("v")),
        )
    )
    expect_rows = _rows(expect)

    v = TF.update_where(
        spark, root, "tag = 1", {"v": "v * 2"},
        bounds=None,  # tag has stats in every dir; rely on the probe
    )
    got = TF.read_version(spark, root, v)
    assert got.schema == expect.schema
    assert _rows(got) == expect_rows
    with open(TF._manifest_path(root, v)) as f:
        m = json.load(f)
    assert m["app"]["op"] == "update_where"
    # both dirs contain tag=1 rows -> both rewritten, none carried
    assert m["app"]["rewritten_dirs"] == 2 and m["app"]["carried_dirs"] == 0

    # bounds-based carry on a fresh two-dir table (the first update
    # collapsed the original dirs into one): update only the high-k dir
    root2 = str(tmp_path / "upd2")
    TF.commit_append(mk(0, 10), root2)
    TF.commit_append(mk(10, 20), root2)
    v2 = TF.update_where(
        spark, root2, "k >= 15", {"tag": "9"}, bounds={"k": (15, None)}
    )
    with open(TF._manifest_path(root2, v2)) as f:
        m2 = json.load(f)
    assert m2["app"]["carried_dirs"] == 1 and m2["app"]["rewritten_dirs"] == 1
    assert TF.read_version(spark, root2).filter(
        (F.col("k") >= 15) & (F.col("tag") != 9)
    ).count() == 0

    # an int SET expr on a bigint column casts back (schema preserved);
    # a SET on a column that doesn't exist raises
    with pytest.raises(ValueError, match="not in table"):
        TF.update_where(spark, root, "k = 0", {"nope": "1"})


def test_delete_where_two_writers_rebase(spark, tmp_path):
    """Losing the manifest CAS rebases the whole split/rewrite: a delete
    racing a concurrent append lands AFTER it and still deletes the
    racer's matching rows on retry."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "delrace")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(mk(0, 10), root)

    real_latest = TF.latest_version
    fired = {"done": False}

    def racing_latest(r):
        v = real_latest(r)
        if not fired["done"]:
            fired["done"] = True
            TF.commit_append(mk(10, 20), r)  # racer appends k=10..19
        return v

    import unittest.mock as mock

    with mock.patch.object(TF, "latest_version", side_effect=racing_latest):
        v = TF.delete_where(spark, root, "k % 2 = 0")
    # the delete rebased onto the racer's append: both its rows and the
    # original rows are present, minus every even k
    got = _rows(TF.read_version(spark, root, v).select("k"))
    assert got == [(i,) for i in range(20) if i % 2 == 1]


def test_commit_append_schema_evolution(spark, tmp_path):
    """evolve=True appends: new columns join the union schema at the end
    (old rows read NULL), omitted committed columns read NULL for the
    new rows, type conflicts raise, evolve=False keeps the strict
    mismatch error, time travel serves each version in ITS schema, and
    compaction re-homogenizes the files (evolved flag resets)."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "evo")
    base = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(base, root)

    extra = spark.range(5, 10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.concat(F.lit("tag-"), F.col("id")).alias("tag"),
    )
    # strict mode still refuses
    with pytest.raises(ValueError, match="schema mismatch"):
        TF.commit_append(extra, root)
    v1 = TF.commit_append(extra, root, evolve=True)
    got = TF.read_version(spark, root, v1)
    assert got.columns == ["k", "v", "tag"]
    assert _rows(got.select("k", "tag")) == (
        [(i, None) for i in range(5)]
        + [(i, f"tag-{i}") for i in range(5, 10)]
    )
    # time travel: v0 still reads in its own (pre-evolution) schema
    assert TF.read_version(spark, root, 0).columns == ["k", "v"]

    # an append OMITTING a committed column: new rows read NULL there
    omit = spark.range(10, 12).select(
        F.col("id").alias("k"),
        F.concat(F.lit("tag-"), F.col("id")).alias("tag"),
    )
    v2 = TF.commit_append(omit, root, evolve=True)
    got2 = TF.read_version(spark, root, v2)
    assert got2.columns == ["k", "v", "tag"]
    assert _rows(got2.filter(F.col("k") >= 10).select("k", "v")) == [
        (10, None), (11, None)
    ]

    # type conflict: committed v is bigint, appending v as string raises
    bad = spark.range(12, 13).select(
        F.col("id").alias("k"), F.lit("oops").alias("v")
    )
    with pytest.raises(ValueError, match="type"):
        TF.commit_append(bad, root, evolve=True)

    # the change feed's append fast path unions heterogeneous tails
    feed = TF.table_changes(spark, root, 0, v2)
    assert feed.filter(F.col("k") == 7).select("tag").collect()[0][0] == (
        "tag-7"
    )
    assert set(feed.columns) >= {"k", "v", "tag"}

    # the keyed diff across the evolution boundary treats an old row
    # whose new column stayed NULL as UNCHANGED
    diff = TF.table_changes(spark, root, 0, v2, keys=["k"])
    # force the keyed path by asking snapshot_diff directly
    from opcua_ingestion_engine_spark.operators.tablefmt import (
        snapshot_diff,
    )
    old = TF.read_version(spark, root, 0)
    new = TF.read_version(spark, root, v2)
    aligned = old.withColumn("tag", F.lit(None).cast("string"))
    d = snapshot_diff(aligned, new, ["k"])
    kinds = {r["_change_type"] for r in d.collect()}
    assert kinds == {"insert"}  # k 0-4 unchanged, 5-11 inserted
    del diff  # fast path already covered above

    # delete_where on the evolved table preserves the union read and
    # keeps the evolved contract for the carried pre-evolution dir
    TF.delete_where(spark, root, "k = 7", bounds={"k": (7, 7)})
    live = TF.latest_version(root)
    with open(TF._manifest_path(root, live)) as f:
        assert json.load(f).get("evolved") is True
    after = TF.read_version(spark, root)
    assert after.columns == ["k", "v", "tag"]
    assert after.filter(F.col("k") == 7).count() == 0
    assert after.filter(F.col("k") == 0).select("tag").collect()[0][0] is None

    # compaction rewrites every file in the union schema — the evolved
    # flag resets and a plain parquet read of the one dir matches
    TF.compact(spark, root)
    live = TF.latest_version(root)
    with open(TF._manifest_path(root, live)) as f:
        m = json.load(f)
    assert not m.get("evolved")
    assert TF.read_version(spark, root).count() == 11


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    """RESTORE: the rollback commit lists the target version's data dirs
    BY REFERENCE (no rewrite — identical rel paths, stats verbatim),
    history stays readable, restoring the live version is a no-op, the
    feed treats it as a rewrite (keyed diff reports the resurrected
    rows), and vacuum keeps the shared dirs alive."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "restore")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(mk(0, 10), root)          # v0
    TF.commit_append(mk(10, 20), root)         # v1
    TF.delete_where(spark, root, "k < 15")     # v2: only k 15..19 left
    assert TF.read_version(spark, root).count() == 5

    v = TF.restore(root, 1)                    # roll back the delete
    assert v == 3
    with open(TF._manifest_path(root, 1)) as f:
        target = json.load(f)
    with open(TF._manifest_path(root, v)) as f:
        m = json.load(f)
    assert TF._data_list(m) == TF._data_list(target)  # by reference
    assert m["stats"] == target["stats"]
    assert m["app"]["restore_of"] == 1
    assert _rows(TF.read_version(spark, root).select("k")) == [
        (i,) for i in range(20)
    ]
    # the delete snapshot is still time-travel readable
    assert TF.read_version(spark, root, 2).count() == 5
    # restoring the live version commits nothing
    assert TF.restore(root, v) == v
    assert TF.latest_version(root) == v

    # feed across the restore: keyed diff reports the rows it brought back
    feed = TF.table_changes(spark, root, 2, v, keys=["k"])
    inserted = feed.filter(F.col(TF.CHANGE_TYPE_COL) == "insert")
    assert inserted.count() == 15

    # vacuum with the restore live never reclaims the shared dirs
    TF.vacuum(root, keep=1, orphan_grace_s=0)
    assert TF.read_version(spark, root).count() == 20


def test_matview_across_delete_where_and_update_where(spark, tmp_path):
    """Integration pin: an incremental view refreshed across
    delete_where/update_where commits equals a recompute from the final
    snapshot — the predicate-rewrite commits feed the keyed diff the
    view consumes (a delete that removes a group's stored max triggers
    the affected-group recompute path)."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.matview import (
        MaterializedAggView,
    )

    src = str(tmp_path / "mv_dw_src")
    view = MaterializedAggView(
        src,
        str(tmp_path / "mv_dw_view"),
        group_keys=["grp"],
        sum_cols=["v"],
        row_keys=["k"],
        max_cols=["v"],
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") * 10).alias("v"),
    )
    TF.commit_append(mk(0, 30), src)
    view.refresh(spark)
    # delete each group's current maximum (k 27,28,29) plus some middles
    TF.delete_where(spark, src, "k >= 27 OR k = 5", bounds={"k": (5, None)})
    view.refresh(spark)
    # update: shift values of grp 1 upward
    TF.update_where(spark, src, "grp = 1", {"v": "v + 1000"})
    view.refresh(spark)

    final = TF.read_version(spark, src)
    expect = _rows(
        final.groupBy("grp").agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sum_v"),
            F.max("v").alias("max_v"),
        )
    )
    got = _rows(
        view.result(spark).select(
            "grp", "n",
            F.col("sum_v").alias("sum_v"),
            F.col("max_v").alias("max_v"),
        )
    )
    assert got == expect


def test_commit_upsert_partial_rewrite(spark, tmp_path):
    """Partial MERGE: batch rows replace same-key rows and insert new
    keys; only directories intersecting the batch's key range AND
    actually holding a matched key are rewritten (stats carry + probe
    carry pinned); result equals the anti-join+union recompute; dup
    batch keys and schema drift raise; a racing append survives the
    rebase."""
    import json
    import unittest.mock as mock

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "ups")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("tag"),
        (F.col("id") * 10).alias("v"),
    )
    TF.commit_append(mk(0, 10), root)     # [0,9]
    TF.commit_append(mk(10, 20), root)    # [10,19]
    TF.commit_append(mk(20, 30), root)    # [20,29]

    # updates for keys 12..17 (middle dir) + inserts 40..44: the batch
    # range [12,44] stats-clears only dir 1; dir 3 survives the range
    # test but the probe finds no matched key and carries it
    batch = (
        spark.range(12, 18)
        .select(
            F.col("id").alias("k"),
            F.lit(9).cast("long").alias("tag"),
            (F.col("id") * 100).alias("v"),
        )
        .unionByName(
            spark.range(40, 45).select(
                F.col("id").alias("k"),
                F.lit(7).cast("long").alias("tag"),
                (F.col("id")).alias("v"),
            )
        )
    )
    before = TF.read_version(spark, root)
    expect = _rows(
        before.join(batch.select("k"), "k", "left_anti").unionByName(batch)
    )
    v = TF.commit_upsert(spark, root, batch, keys=["k"])
    assert _rows(TF.read_version(spark, root, v)) == expect
    with open(TF._manifest_path(root, v)) as f:
        m = json.load(f)
    assert m["app"]["op"] == "upsert"
    assert m["app"]["carried_dirs"] == 2 and m["app"]["rewritten_dirs"] == 1

    # duplicate batch keys refuse
    dup = batch.unionByName(batch.limit(1))
    with pytest.raises(ValueError, match="duplicate keys"):
        TF.commit_upsert(spark, root, dup, keys=["k"])
    # schema drift refuses
    with pytest.raises(ValueError, match="schema"):
        TF.commit_upsert(
            spark, root, batch.withColumn("extra", F.lit(1)), keys=["k"]
        )

    # racing append: the upsert rebases and the racer's rows survive
    real_latest = TF.latest_version
    fired = {"done": False}

    def racing_latest(r):
        out = real_latest(r)
        if not fired["done"]:
            fired["done"] = True
            TF.commit_append(mk(50, 55), r)
        return out

    batch2 = spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit(5).cast("long").alias("tag"),
        (F.col("id") * 0).alias("v"),
    )
    with mock.patch.object(TF, "latest_version", side_effect=racing_latest):
        v2 = TF.commit_upsert(spark, root, batch2, keys=["k"])
    got = TF.read_version(spark, root, v2)
    assert got.filter(F.col("k") >= 50).count() == 5       # racer kept
    assert got.filter((F.col("k") < 3) & (F.col("tag") != 5)).count() == 0


def test_vacuum_time_based_retention(spark, tmp_path):
    """retain_s composes with keep as a union: versions younger than the
    window survive a tight keep count; aging them past the window (mtime
    rewind) lets the count policy reclaim them; the live version is
    always retained."""
    import os
    import time

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "ret")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    for i in range(4):
        TF.commit_append(mk(i * 5, (i + 1) * 5), root)   # v0..v3

    # all four manifests are seconds old: a 1-hour window retains all
    assert TF.vacuum(root, keep=1, retain_s=3600.0) == []
    assert TF.read_version(spark, root, 0).count() == 5  # still readable

    # age v0/v1 past the window: count policy (keep=1) reclaims exactly
    # those; v2 (young) survives despite being outside the count floor
    old = time.time() - 7200
    for v in (0, 1):
        os.utime(TF._manifest_path(root, v), (old, old))
    removed = TF.vacuum(root, keep=1, retain_s=3600.0)
    assert removed == [0, 1]
    with pytest.raises(ValueError):
        TF.read_version(spark, root, 0)
    assert TF.read_version(spark, root, 2).count() == 15
    assert TF.read_version(spark, root).count() == 20


def test_commit_upsert_on_evolved_table(spark, tmp_path):
    """commit_upsert over a schema-evolved table: touched directories
    read through the union schema (pre-evolution rows join with NULL
    new columns), the batch must match the UNION schema, and the
    evolved flag survives when pre-evolution dirs are carried."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "upsevo")
    TF.commit_append(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        root,
    )
    TF.commit_append(
        spark.range(10, 20).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.concat(F.lit("t"), F.col("id")).alias("tag"),
        ),
        root,
        evolve=True,
    )
    batch = spark.range(12, 15).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("v"),
        F.lit("upd").alias("tag"),
    )
    v = TF.commit_upsert(spark, root, batch, keys=["k"])
    with open(TF._manifest_path(root, v)) as f:
        m = json.load(f)
    # dir 0 (k 0-9) carried by the batch's key range; evolved survives
    assert m["app"]["carried_dirs"] == 1 and m["app"]["rewritten_dirs"] == 1
    assert m.get("evolved") is True
    got = TF.read_version(spark, root, v)
    assert got.columns == ["k", "v", "tag"]
    assert _rows(got.filter(F.col("k").between(12, 14)).select("tag")) == [
        ("upd",)
    ] * 3
    assert got.filter(F.col("k") < 10).filter(
        F.col("tag").isNotNull()
    ).count() == 0
    assert got.count() == 20


def test_update_where_pre_image_semantics(spark, tmp_path):
    """SQL/Delta UPDATE evaluates the condition and EVERY SET expression
    against the PRE-update row. Pins the two failure modes of a chained
    withColumn implementation: (a) set_exprs={'a':'b','b':'a'} must SWAP
    (a later SET must not observe an earlier SET's output), (b) a
    condition that mentions a SET column must select rows by their
    ORIGINAL values for all columns."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "upd_preimage")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("a"),
        (F.col("id") * 100).alias("b"),
    )
    TF.commit_version(df, root)

    # (a) swap: every row's (a, b) becomes (b, a)
    v = TF.update_where(
        spark, root, "k >= 0", {"a": "b", "b": "a"}
    )
    got = _rows(TF.read_version(spark, root, v))
    assert got == _rows(
        df.select("k", F.col("b").alias("a"), F.col("a").alias("b"))
    )

    # (b) condition references a SET column: rows with ORIGINAL a < 300
    # (post-swap values: a = k*100) get both a doubled and b zeroed —
    # the b SET must use the same pre-image row set as the a SET
    v2 = TF.update_where(
        spark, root, "a < 300", {"a": "a * 2", "b": "0"}
    )
    got2 = {r[0]: (r[1], r[2]) for r in TF.read_version(
        spark, root, v2).collect()}
    for k in range(10):
        pre_a, pre_b = k * 100, k * 10  # post-swap pre-image
        if pre_a < 300:
            assert got2[k] == (pre_a * 2, 0)
        else:
            assert got2[k] == (pre_a, pre_b)


def test_commit_upsert_empty_batch_is_noop(spark, tmp_path):
    """An empty upsert batch commits nothing (returns the parent), and a
    batch whose tail write emits zero parquet files never lands an
    unreadable empty directory in the manifest's data list."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "ups_empty")
    df = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    v0 = TF.commit_version(df, root)
    empty = df.limit(0)
    v = TF.commit_upsert(spark, root, empty, keys=["k"], probe=True)
    assert v == v0
    # no-probe path: candidates may be "touched" without a probe, but an
    # all-carried rewrite with an empty tail must still read back clean
    v2 = TF.commit_upsert(spark, root, empty, keys=["k"], probe=False)
    got = TF.read_version(spark, root, v2)
    assert _rows(got) == _rows(df)


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    """restore() re-validates the target manifest and its data dirs
    inside the CAS loop: a target reclaimed by vacuum raises loudly
    instead of publishing a LIVE version that points at deleted
    directories."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "rst_vac")
    mk = lambda n: spark.range(0, n).select(
        F.col("id").alias("k"), F.lit(n).cast("long").alias("v")
    )
    TF.commit_version(mk(3), root)   # v0
    TF.commit_version(mk(5), root)   # v1
    TF.commit_version(mk(7), root)   # v2
    TF.commit_version(mk(9), root)   # v3
    TF.vacuum(root, keep=2, orphan_grace_s=0)  # reclaims v0, v1
    with pytest.raises(FileNotFoundError):
        TF.restore(root, 0)
    # a retained target still restores
    v = TF.restore(root, 2)
    assert _rows(TF.read_version(spark, root, v)) == _rows(mk(7))


def test_app_data_identical_is_reserved(spark, tmp_path):
    """Only compact()/maybe_compact() may stamp ``data_identical``: a
    caller-supplied copy on a data-CHANGING commit is stripped on every
    public path, so the change feed never silently drops that commit's
    rows — while compaction's own flag still passes through."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "rsv_app")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    TF.commit_append(mk(0, 5), root, app={"data_identical": True})
    v1 = TF.commit_append(mk(5, 10), root, app={"data_identical": True})
    for v in (0, v1):
        with open(TF._manifest_path(root, v)) as f:
            assert "data_identical" not in json.load(f)["app"]
    # the forged flag must NOT have hidden the appended rows
    feed = TF.table_changes(spark, root, 0, v1)
    assert feed.count() == 5

    # other public paths strip it too
    v2 = TF.commit_version(mk(0, 12), root, app={"data_identical": True})
    v3 = TF.commit_upsert(
        spark, root, mk(0, 2).withColumn("v", F.lit(99).cast("long")),
        keys=["k"], app={"data_identical": True},
    )
    v4 = TF.update_where(
        spark, root, "k = 0", {"v": "v + 1"}, app={"data_identical": True}
    )
    v5 = TF.restore(root, v2, app={"data_identical": True})
    v6 = TF.commit_merge(
        spark, root, lambda cur: cur, app={"data_identical": True}
    )
    for v in (v2, v3, v4, v5, v6):
        with open(TF._manifest_path(root, v)) as f:
            assert "data_identical" not in json.load(f)["app"], v

    # compaction's own stamp survives (pass-through still works)
    vc = TF.compact(spark, root)
    with open(TF._manifest_path(root, vc)) as f:
        assert json.load(f)["app"]["data_identical"] is True


def test_matview_avg_and_approx_distinct(spark, tmp_path, monkeypatch):
    """avg_cols keep SQL AVG's NULL-skipping denominator exact through
    signed additive folds (no dirty machinery, zero source reads ever);
    approx_distinct_cols fold appends monotonically via sketch union
    with zero source reads, while a commit that REMOVES a non-null
    value re-sketches only the affected groups from the snapshot.
    Incremental equals full recompute after every commit (the bucketed
    cardinality keeps the HLL estimate coupon-exact)."""
    from opcua_ingestion_engine_spark.operators import matview as MV
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    src, vr = str(tmp_path / "src"), str(tmp_path / "view")
    mk = lambda rows: local_frame(spark,
        rows, "k int, g string, x double, u bigint"
    )
    view = MV.MaterializedAggView(
        src, vr, group_keys=["g"], row_keys=["k"],
        avg_cols=["x"], approx_distinct_cols=["u"],
    )

    src_reads = {"n": 0}
    real_read = TF.read_version

    def counting_read(sp, root, version=None, prune=None):
        if root == src:
            src_reads["n"] += 1
        return real_read(sp, root, version, prune)

    monkeypatch.setattr(MV.TF, "read_version", counting_read)

    def check():
        got = {
            tuple(r)
            for r in view.result(spark).select(
                "g", "n", "cnt_x", "avg_x",
                F.col("approx_distinct_u").alias("d"),
            ).collect()
        }
        want = {
            tuple(r)
            for r in real_read(spark, src)
            .groupBy("g")
            .agg(
                F.count("*").alias("n"),
                F.count("x").alias("cnt_x"),
                (
                    F.sum(F.col("x").cast("decimal(38,6)")).cast("double")
                    / F.count("x").cast("double")
                ).alias("avg_x"),
                F.count_distinct("u").alias("d"),
            )
            .collect()
        }
        assert got == want

    # initial commit: NULL measures, a NULL group, duplicate u values
    TF.commit_version(
        mk([
            (1, "a", 4.0, 10), (2, "a", None, 11), (3, "a", 2.0, 10),
            (4, "b", 8.0, 20), (5, None, 1.0, 30),
        ]),
        src,
    )
    view.refresh(spark)
    check()

    # pure append: folds with ZERO source reads (sketch union + signed
    # counts only)
    src_reads["n"] = 0
    TF.commit_append(
        mk([(6, "a", 10.0, 12), (7, "b", None, 21), (8, "c", 5.0, 40)]),
        src,
    )
    view.refresh(spark)
    assert src_reads["n"] == 0, "append-only refresh read the source"
    check()

    # delete k=1 (removes one copy of u=10 — k=3 still holds it: the
    # sketch must NOT double-drop) and k=4 (removes group b's only
    # u=20); both groups dirty, group c untouched
    TF.delete_where(spark, src, "k in (1, 4)")
    src_reads["n"] = 0
    view.refresh(spark)
    assert src_reads["n"] >= 1, "removal must re-sketch from the source"
    check()

    # update that moves a row between groups AND changes its u: the
    # pre-image removal dirties the old group, the post-image folds
    # into the new
    TF.update_where(spark, src, "k = 8", {"g": "'a'", "u": "41"})
    view.refresh(spark)
    check()

    # drain a group to zero rows: it leaves the view entirely
    TF.delete_where(spark, src, "g is null")
    view.refresh(spark)
    check()
    assert view.result(spark).filter(F.col("g").isNull()).count() == 0


def test_incremental_filtered_ann_index(spark, tmp_path):
    """Filtered serving from the MAINTAINED index (the production shape:
    tenant/domain search over a live corpus): a sink built with
    carry_cols=['label'] commits label-carrying codes rows whose table
    equals the one-shot ivfpq_write_index(carry_cols) build under the
    same quantizers; filtered search served from it equals the filtered
    in-plan search over the one-shot codes, respects the same-label
    invariant for every result row, and an upserted row's label update
    is visible to the filter."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink,
    )

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    cent, books, oneshot_codes = S.ivfpq_train_encode(
        emb, carry_cols=["label"]
    )

    root = str(tmp_path / "fann_index")
    sink = IncrementalAnnIndexSink(
        root, quantizers=(cent, books), carry_cols=["label"]
    )
    for i in range(3):
        sink.process_batch(emb.filter(F.col("vec_id") % 3 == i), i)

    # incremental == one-shot INCLUDING the carried label column
    got = TF.read_version(spark, root + "/codes")
    assert "label" in got.columns
    assert _rows(got) == _rows(oneshot_codes)

    # filtered serve == filtered in-plan over the one-shot codes
    q = emb.filter(F.col("vec_id") < 10)
    served = sink.search(
        emb, q, k=5, nprobe=14, rerank=200, filter_col="label"
    )
    inplan = S.ivfpq_search(
        oneshot_codes, cent, books, emb, q,
        k=5, nprobe=14, rerank=200, filter_col="label",
    )
    assert _rows(served) == _rows(inplan)

    # same-label invariant: every (query, neighbor) pair shares a label
    lbl = emb.select(F.col("vec_id"), F.col("label"))
    viol = (
        served.join(
            lbl.withColumnRenamed("vec_id", "query_id")
            .withColumnRenamed("label", "q_lbl"),
            "query_id",
        )
        .join(
            lbl.withColumnRenamed("vec_id", "neighbor_id")
            .withColumnRenamed("label", "n_lbl"),
            "neighbor_id",
        )
        .filter(F.col("q_lbl") != F.col("n_lbl"))
        .count()
    )
    assert viol == 0 and served.count() > 0

    # upsert with a CHANGED label: the filter sees the new value
    probe_label = emb.filter(F.col("vec_id") == 0).collect()[0]["label"]
    new_label = probe_label + 1000
    moved = emb.filter(F.col("vec_id") == 7).withColumn(
        "label", F.lit(new_label).cast("int")
    )
    sink.process_batch(moved, 99)
    snap = TF.read_version(spark, root + "/codes")
    assert snap.filter(F.col("neighbor_id") == 7).collect()[0][
        "label"
    ] == new_label
    emb2 = emb.withColumn(
        "label",
        F.when(F.col("vec_id") == 7, F.lit(new_label).cast("int"))
        .otherwise(F.col("label")),
    )
    q7 = emb2.filter(F.col("vec_id") == 7)
    res7 = sink.search(
        emb2, q7, k=5, nprobe=16, rerank=200, filter_col="label"
    )
    # id 7 is now the only member of its label: no same-label neighbor
    assert res7.count() == 0


@pytest.mark.parametrize("seed", [11, 23, 37, 41, 59])
def test_tablefmt_chaos(spark, tmp_path, seed):
    """Randomized multi-writer stress over the versioned-table layer:
    THREE concurrent workers interleave append / commit_upsert /
    delete_where / compact / restore on one table under a seeded
    schedule (real CAS races, not mocked). Afterwards the committed
    manifest history must be linearizable — versions contiguous, every
    parent the preceding version — and a SERIAL REPLAY of the ops in
    their manifest-commit order (each op's parameters ride in its
    manifest app) must reproduce both the final snapshot and every
    retained intermediate snapshot exactly. The pairwise rebase tests
    pin each two-way race; this pins the 3-way interleavings."""
    import random
    import threading

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / f"chaos{seed}")

    def mk(keys, val):
        return local_frame(spark,
            [(int(k), int(val)) for k in keys], "k bigint, val bigint"
        )

    # worker w owns append-key block [w*10_000, (w+1)*10_000) so appends
    # never create duplicate keys; upserts/deletes range over ALL blocks
    TF.commit_version(mk(range(0, 40), 1), root)

    errors = []

    def worker(w: int):
        rng = random.Random(seed * 100 + w)
        try:
            for step in range(4):
                op = rng.choice(["append", "upsert", "delete", "compact",
                                 "restore"])
                if op == "append":
                    lo = 10_000 * (w + 1) + step * 100
                    keys = range(lo, lo + rng.randint(3, 20))
                    val = rng.randint(0, 9)
                    TF.commit_append(
                        mk(keys, val), root,
                        app={"chaos": "append", "lo": keys.start,
                             "hi": keys.stop, "val": val},
                    )
                elif op == "upsert":
                    lo = rng.choice([0, 10, 10_000, 20_000]) + rng.randint(0, 30)
                    hi = lo + rng.randint(3, 25)
                    val = 100 + rng.randint(0, 9)
                    TF.commit_upsert(
                        spark, root, mk(range(lo, hi), val), keys=["k"],
                        app={"chaos": "upsert", "lo": lo, "hi": hi,
                             "val": val},
                    )
                elif op == "delete":
                    lo = rng.choice([0, 5, 10_000, 20_000]) + rng.randint(0, 30)
                    hi = lo + rng.randint(2, 15)
                    TF.delete_where(
                        spark, root, f"k >= {lo} and k < {hi}",
                        app={"chaos": "delete", "lo": lo, "hi": hi},
                    )
                elif op == "compact":
                    TF.compact(spark, root, app={"chaos": "compact"})
                else:
                    live = TF.latest_version(root)
                    if live and live > 1:
                        TF.restore(root, rng.randint(0, live - 1),
                                   app={"chaos": "restore"})
        except Exception as e:  # pragma: no cover - failure surface
            errors.append((w, e))

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    # --- linearizability: contiguous versions, correct parent chain
    hist = TF.history(root)
    versions = [m["version"] for m in hist]
    assert versions == list(range(len(versions)))
    for m in hist[1:]:
        assert m["parent"] == m["version"] - 1

    # --- serial replay in manifest-commit order reproduces every state
    states: list[dict] = []
    for m in hist:
        prev = dict(states[-1]) if states else {}
        app = m.get("app") or {}
        tag = app.get("chaos")
        if m["version"] == 0:
            prev = {k: 1 for k in range(0, 40)}
        elif tag == "append":
            for k in range(app["lo"], app["hi"]):
                prev[k] = app["val"]
        elif tag == "upsert":
            for k in range(app["lo"], app["hi"]):
                prev[k] = app["val"]
        elif tag == "delete":
            for k in range(app["lo"], app["hi"]):
                prev.pop(k, None)
        elif tag == "compact":
            pass
        elif "restore_of" in app:
            prev = dict(states[app["restore_of"]])
        else:  # pragma: no cover
            raise AssertionError(f"unknown chaos manifest app {app}")
        states.append(prev)

    def snap(v):
        return {
            r["k"]: r["val"]
            for r in TF.read_version(spark, root, v).collect()
        }

    live = TF.latest_version(root)
    assert snap(live) == states[live]
    # three seeded intermediate versions time-travel to the replay state
    rng = random.Random(seed)
    for v in sorted(rng.sample(range(len(states)), min(3, len(states)))):
        assert snap(v) == states[v], f"version {v} diverged from replay"

    # vacuum afterwards: live still reads, reclaimed versions raise
    removed = TF.vacuum(root, keep=2, orphan_grace_s=0)
    assert snap(live) == states[live]
    if removed:
        with pytest.raises(ValueError):
            TF.read_version(spark, root, removed[0])


def test_matview_all_aggregate_kinds_combined(spark, tmp_path):
    """One view maintaining COUNT + SUM + AVG (sharing the sum column)
    + MIN + MAX + APPROX_DISTINCT simultaneously: the shared sum_x state
    is stored once (_all_sum dedup), every kind folds through the same
    general path, and incremental equals full recompute across an
    append, a group-moving update, and an extremum-removing delete."""
    from opcua_ingestion_engine_spark.operators import matview as MV
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    src, vr = str(tmp_path / "src"), str(tmp_path / "view")
    mk = lambda rows: local_frame(spark,
        rows, "k int, g string, x double, u bigint"
    )
    view = MV.MaterializedAggView(
        src, vr, group_keys=["g"], row_keys=["k"],
        sum_cols=["x"], avg_cols=["x"], min_cols=["x"], max_cols=["x"],
        approx_distinct_cols=["u"],
    )
    TF.commit_version(
        mk([
            (1, "a", 5.0, 10), (2, "a", None, 11), (3, "a", 1.0, 10),
            (4, "b", 7.0, 20),
        ]),
        src,
    )
    view.refresh(spark)
    TF.commit_append(mk([(5, "a", 9.0, 12), (6, "b", 2.0, 21)]), src)
    view.refresh(spark)
    TF.update_where(spark, src, "k = 4", {"g": "'a'"})
    view.refresh(spark)
    TF.delete_where(spark, src, "k = 5")  # removes group a's max
    view.refresh(spark)

    # shared column stores ONE sum state
    stored = TF.read_version(spark, vr)
    assert stored.columns.count("sum_x") == 1

    got = {
        tuple(r)
        for r in view.result(spark).select(
            "g", "n", F.col("sum_x").cast("double").alias("s"),
            "cnt_x", "avg_x", "min_x", "max_x",
            F.col("approx_distinct_u").alias("d"),
        ).collect()
    }
    want = {
        tuple(r)
        for r in TF.read_version(spark, src)
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(38,6)")).cast("double").alias("s"),
            F.count("x").alias("cnt_x"),
            (
                F.sum(F.col("x").cast("decimal(38,6)")).cast("double")
                / F.count("x").cast("double")
            ).alias("avg_x"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.count_distinct("u").alias("d"),
        )
        .collect()
    }
    assert got == want


def test_compact_zorder_prunes_2d_reads(spark, tmp_path):
    """OPTIMIZE ZORDER for the versioned table: the snapshot is
    rewritten as contiguous-Morton-range directories, content is
    unchanged (data-identical — the change feed passes through it),
    and a 2-D range read via read_version(prune=) SKIPS most
    directories — where plain compact()'s single directory can never
    prune. Later appends extend the z-ordered directory list and mixed
    reads stay correct."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "zt")
    # 4k rows over a 64x64 (x, y) grid, committed as 4 interleaved
    # appends so the pre-zorder layout is x/y-unclustered
    full = spark.range(4096).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 37) % 64).alias("y"),
        (F.col("id") * 10).alias("v"),
    )
    for i in range(4):
        TF.commit_append(full.filter(F.col("k") % 4 == i), root)
    before = _rows(TF.read_version(spark, root))

    v = TF.compact_zorder(spark, root, "x", "y", n_dirs=16)
    with open(TF._manifest_path(root, v)) as f:
        m = json.load(f)
    assert m["app"]["data_identical"] is True
    assert m["app"]["zorder"] == ["x", "y"]
    dirs = m["data"]
    assert len(dirs) > 4  # really partitioned, not one blob

    # content identical
    assert _rows(TF.read_version(spark, root, v)) == before

    # 2-D pruning: a small rectangle must skip MOST directories
    stats = m["stats"]
    prune = {"x": (0, 7), "y": (0, 7)}
    kept = [p for p in dirs if TF._keep_dir(stats.get(p), prune)]
    assert len(kept) < len(dirs) / 2, (
        f"z-order pruning kept {len(kept)}/{len(dirs)} dirs"
    )
    # and the pruned read is still CORRECT
    got = TF.read_version(spark, root, v, prune=prune).filter(
        (F.col("x") <= 7) & (F.col("y") <= 7)
    )
    want = full.filter((F.col("x") <= 7) & (F.col("y") <= 7))
    assert _rows(got) == _rows(want)

    # change feed passes through the layout rewrite
    TF.commit_append(
        full.limit(0).unionByName(
            spark.range(9000, 9010).select(
                F.col("id").alias("k"), F.lit(1).cast("long").alias("x"),
                F.lit(2).cast("long").alias("y"),
                (F.col("id")).alias("v"),
            )
        ),
        root,
    )
    feed = TF.table_changes(spark, root, v - 1)
    assert feed.count() == 10  # zorder contributed ZERO changes
    # mixed read (z-dirs + plain append tail) is correct
    assert TF.read_version(spark, root).count() == 4096 + 10

    # forged data_identical still stripped on this path's caller app
    v2 = TF.compact_zorder(
        spark, root, "x", "y", n_dirs=4, app={"note": "n1"}
    )
    with open(TF._manifest_path(root, v2)) as f:
        m2 = json.load(f)
    assert m2["app"]["note"] == "n1" and m2["app"]["data_identical"] is True


def test_vacuum_preserves_live_zordered_table(spark, tmp_path):
    """vacuum must treat a top-level data dir as live when any
    manifested path is a SUBdirectory of it (compact_zorder lists
    data/vN-tok/_zb=K subdirs, not the parent): with a zero grace
    window, the live z-ordered snapshot survives vacuum and still
    reads; an OLD z-ordered version's subdirs are reclaimed and its
    emptied parent does not linger."""
    import os

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "zv")
    full = spark.range(512).select(
        F.col("id").alias("k"),
        (F.col("id") % 16).alias("x"),
        ((F.col("id") * 11) % 16).alias("y"),
    )
    TF.commit_version(full, root)                       # v0
    v1 = TF.compact_zorder(spark, root, "x", "y", n_dirs=4)   # v1 (zorder)
    before = _rows(TF.read_version(spark, root, v1))

    # grace 0 is the adversarial setting: every unmanifested top-level
    # dir is immediately reclaimable — the zorder parent must NOT be
    TF.vacuum(root, keep=1, orphan_grace_s=0)
    assert _rows(TF.read_version(spark, root)) == before

    # age the table past the zorder version: two rewrites, then vacuum
    TF.commit_version(full.filter(F.col("k") < 100), root)    # v2
    TF.commit_version(full.filter(F.col("k") < 50), root)     # v3
    removed = TF.vacuum(root, keep=1, orphan_grace_s=0)
    assert v1 in removed
    # the old z-ordered subdirs are gone AND the emptied parent too
    leftovers = [
        d for d in os.listdir(os.path.join(root, "data"))
        if d.startswith(f"v{v1:05d}-")
    ]
    assert leftovers == []
    assert TF.read_version(spark, root).count() == 50


def test_maybe_compact_zorder_cadence(spark, tmp_path):
    """maybe_compact(zorder=...) keeps an auto-compacting table
    CLUSTERED: below the directory threshold it no-ops; at the
    threshold it commits a z-ordered multi-directory layout (not the
    single-blob compact), data-identical for the feed."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "mcz")
    full = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("x"),
        ((F.col("id") * 13) % 20).alias("y"),
    )
    TF.commit_append(full.filter(F.col("k") % 3 == 0), root)
    assert TF.maybe_compact(
        spark, root, max_dirs=3, zorder=("x", "y"), zorder_dirs=2
    ) is None  # below threshold
    TF.commit_append(full.filter(F.col("k") % 3 == 1), root)
    TF.commit_append(full.filter(F.col("k") % 3 == 2), root)
    v = TF.maybe_compact(
        spark, root, max_dirs=3, zorder=("x", "y"), zorder_dirs=2
    )
    assert v is not None
    with open(TF._manifest_path(root, v)) as f:
        m = json.load(f)
    assert m["app"]["zorder"] == ["x", "y"]
    assert m["app"]["data_identical"] is True
    assert len(m["data"]) > 1
    assert _rows(TF.read_version(spark, root, v)) == _rows(full)

    # zorder_dirs >= max_dirs would re-trigger a full-table z-order
    # rewrite on EVERY append past the threshold (unbounded write
    # amplification) — rejected loudly, before any job runs
    with pytest.raises(ValueError, match="zorder_dirs"):
        TF.maybe_compact(
            spark, root, max_dirs=3, zorder=("x", "y"), zorder_dirs=3
        )
    with pytest.raises(ValueError, match="zorder_dirs"):
        TF.maybe_compact(
            spark, root, max_dirs=3, zorder=("x", "y"), zorder_dirs=8
        )


def test_stats_agg_metadata_only_when_bounds_decide(spark, tmp_path):
    """Metadata-only aggregates (the Iceberg metadata-table shape):
    count/min/max served from parquet footers with ZERO data
    directories read when every directory is decided by its bounds;
    boundary-straddling dirs fall back to a pruned scan; the answer
    always equals the full relational aggregate."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "sagg")
    # three appends with contiguous id ranges [0,10) [10,20) [20,30)
    full = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2.5).alias("v")
    )
    for i in range(3):
        TF.commit_append(
            full.filter((F.col("k") >= i * 10) & (F.col("k") < (i + 1) * 10)),
            root,
        )

    # no predicate: everything decided by metadata, nothing scanned
    audit = {}
    row = TF.stats_agg(spark, root, cols=("k", "v"), audit=audit).collect()[0]
    assert audit == {
        "dirs_total": 3, "dirs_excluded": 0,
        "dirs_metadata": 3, "dirs_scanned": 0,
        "dirs_manifest": 3,  # commit-time row stats: no footer re-reads
    }
    assert (row["row_cnt"], row["min_k"], row["max_k"]) == (30, 0, 29)
    assert (row["min_v"], row["max_v"]) == (0.0, 72.5)

    # boundary-aligned predicate (k <= 19): still zero scans — one dir
    # excluded, two served from footers
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k",), prune={"k": (None, 19)}, audit=audit
    ).collect()[0]
    assert audit["dirs_scanned"] == 0
    assert audit["dirs_excluded"] == 1 and audit["dirs_metadata"] == 2
    assert (row["row_cnt"], row["min_k"], row["max_k"]) == (20, 0, 19)

    # straddling predicate (5 <= k <= 24): the two boundary dirs scan,
    # the middle dir is metadata, and the answer is exact
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k", "v"), prune={"k": (5, 24)}, audit=audit
    ).collect()[0]
    assert audit["dirs_scanned"] == 2 and audit["dirs_metadata"] == 1
    assert (row["row_cnt"], row["min_k"], row["max_k"]) == (20, 5, 24)
    assert (row["min_v"], row["max_v"]) == (12.5, 60.0)

    # fully out-of-range: zero scans, zero rows, NULL min/max
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k",), prune={"k": (100, None)}, audit=audit
    ).collect()[0]
    assert audit == {
        "dirs_total": 3, "dirs_excluded": 3,
        "dirs_metadata": 0, "dirs_scanned": 0, "dirs_manifest": 0,
    }
    assert (row["row_cnt"], row["min_k"], row["max_k"]) == (0, None, None)

    # legacy-manifest fallback: strip the commit-time row-level keys
    # from the live manifest on disk — answers are unchanged, served
    # from footer re-reads instead of the manifest fast path
    import json as _json

    live = TF.latest_version(root)
    mp = TF._manifest_path(root, live)
    with open(mp) as f:
        man = _json.load(f)
    for entry in man["stats"].values():
        for k in list(entry):
            if k.startswith("__"):
                del entry[k]
    os_replace_tmp = mp + ".tmp"
    with open(os_replace_tmp, "w") as f:
        _json.dump(man, f)
    import os as _os

    _os.replace(os_replace_tmp, mp)
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k",), prune={"k": (None, 19)}, audit=audit
    ).collect()[0]
    assert audit["dirs_manifest"] == 0 and audit["dirs_metadata"] == 2
    assert audit["dirs_scanned"] == 0  # footers still decide
    assert (row["row_cnt"], row["min_k"], row["max_k"]) == (20, 0, 19)


def test_stats_agg_nulls_strings_and_evolution(spark, tmp_path):
    """Footers cannot decide NULL-bearing prune columns (a NULL row
    never matches, so counting footer rows would overcount) — those
    dirs demote to the scan path; string min/max are never served from
    footers (writer-truncatable byte-array bounds); a directory that
    PREDATES a column is excluded without I/O (all-NULL under
    evolution)."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "saggn")
    # one part file: a file holding ONLY the null row would publish no
    # k statistics at all (all-null chunk) and conservatively demote
    # the whole directory to the scan path
    TF.commit_append(
        local_frame(spark,
            [(1, "a"), (2, "b"), (None, "c")], "k int, s string"
        ).coalesce(1),
        root,
    )
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k",), prune={"k": (0, 10)}, audit=audit
    ).collect()[0]
    assert audit["dirs_scanned"] == 1  # nulls in the prune column
    assert (row["row_cnt"], row["min_k"], row["max_k"]) == (2, 1, 2)

    # COUNT(col) (non-null) is footer-exact too: rows minus the null
    # count — served without a scan when no predicate needs deciding
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k",), counts=True, audit=audit
    ).collect()[0]
    assert audit["dirs_scanned"] == 0
    assert (row["row_cnt"], row["cnt_k"]) == (3, 2)

    # string aggregates force the scan path but stay correct
    audit = {}
    row = TF.stats_agg(spark, root, cols=("s",), audit=audit).collect()[0]
    assert audit["dirs_scanned"] == 1 and audit["dirs_metadata"] == 0
    assert (row["row_cnt"], row["min_s"], row["max_s"]) == (3, "a", "c")

    # schema evolution: the first dir predates column "extra" — a prune
    # on it excludes that dir with no scan, and the count is exact
    root2 = str(tmp_path / "saggev")
    TF.commit_append(local_frame(spark, [(1,)], "k int"), root2)
    TF.commit_append(
        local_frame(spark, [(2, 7), (3, 8)], "k int, extra int"),
        root2,
        evolve=True,
    )
    audit = {}
    row = TF.stats_agg(
        spark, root2, cols=("extra",), prune={"extra": (0, 100)}, audit=audit
    ).collect()[0]
    assert audit["dirs_excluded"] == 1 and audit["dirs_scanned"] == 0
    assert (row["row_cnt"], row["min_extra"], row["max_extra"]) == (2, 7, 8)


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_incremental_ann_index_two_writer_race(spark, tmp_path, seed):
    """Two ingestors racing on ONE index root, both self-training on
    their (different) first batches: exactly one quantizer set may win
    the create-exclusive CAS, the loser must adopt it for every code it
    ever commits, and the final codes table must equal the ONE-SHOT
    encode of the full corpus under the winning quantizers — the open
    race surface the round-7 verdict flagged (the table layer had a
    chaos test; the frozen-quantizer handshake did not)."""
    import random
    import threading
    import time as _time

    import numpy as np

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import similarity as S
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink,
        _load_quantizers,
    )

    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path / f"annrace{seed}")

    # writer w ingests the id class vec_id % 2 == w in 2 waves; both
    # writers' FIRST batches differ, so their independently trained
    # quantizers differ — whoever loses the CAS must re-encode with the
    # winner's tensors, not its own
    sinks = [IncrementalAnnIndexSink(root), IncrementalAnnIndexSink(root)]
    errors: list = []

    def writer(w: int):
        rng = random.Random(seed * 7 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                half = (
                    F.col("vec_id") % 4 < 2
                    if wave == 0
                    else F.col("vec_id") % 4 >= 2
                )
                batch = emb.filter((F.col("vec_id") % 2 == w) & half)
                sinks[w].process_batch(batch, w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    # exactly one quantizer set exists and BOTH sinks hold it
    cent, books = _load_quantizers(root)
    for s in sinks:
        assert np.array_equal(s._cent, cent)
        assert np.array_equal(s._books, books)

    # manifest history is linearizable: contiguous versions, parent chain
    hist = TF.history(root + "/codes")
    versions = [m["version"] for m in hist]
    assert versions == list(range(len(hist)))
    for m in hist[1:]:
        assert m["parent"] == m["version"] - 1
    committed_batches = {m["app"]["batch_id"] for m in hist}
    assert committed_batches == {0, 1, 100, 101}

    # the race must not leak loser-quantizer codes: final table equals
    # the one-shot encode of the whole corpus under the WINNING tensors
    got = _rows(TF.read_version(spark, root + "/codes"))
    want = _rows(S.ivfpq_encode(emb, cent, books))
    assert got == want

    # and the maintained index actually serves
    q = emb.filter(F.col("vec_id") < 5)
    served = sinks[0].search(emb, q, k=3, nprobe=16, rerank=100)
    assert served.count() == 15


def test_table_snapshots_metadata_table(spark, tmp_path):
    """The snapshots metadata table: one row per retained version with
    footer-exact row counts (memoized per shared directory), the
    compaction data_identical flag, committed batch ids, and NULL rows
    for versions whose directories a vacuum reclaimed."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "snapmeta")
    df = spark.range(10).select(F.col("id").alias("k"))
    TF.commit_append(df.filter(F.col("k") < 4), root, app={"batch_id": 0})
    TF.commit_append(df.filter(F.col("k") >= 4), root, app={"batch_id": 1})
    TF.compact(spark, root)

    rows = {r["version"]: r for r in TF.table_snapshots(spark, root).collect()}
    assert set(rows) == {0, 1, 2}
    assert (rows[0]["n_dirs"], rows[0]["rows"], rows[0]["batch_id"]) == (1, 4, 0)
    assert (rows[1]["n_dirs"], rows[1]["rows"], rows[1]["batch_id"]) == (2, 10, 1)
    assert rows[2]["data_identical"] is True and rows[2]["rows"] == 10
    assert rows[1]["parent"] == 0 and rows[0]["parent"] is None
    assert not rows[0]["data_identical"] and rows[2]["batch_id"] is None

    # vacuum retains only the newest manifest; the survivor still
    # reports exact rows
    TF.vacuum(root, keep=1, orphan_grace_s=0.0)
    after = {r["version"]: r for r in TF.table_snapshots(spark, root).collect()}
    assert set(after) == {2} and after[2]["rows"] == 10

    # legacy manifest (no commit-time row keys): footers are re-read —
    # exact while the directory exists, NULL (never fabricated) once
    # the directory is gone out-of-band
    import json as _json
    import os as _os
    import shutil as _shutil

    root2 = str(tmp_path / "snaplegacy")
    TF.commit_append(df, root2, app={"batch_id": 7})
    mp = TF._manifest_path(root2, 0)
    with open(mp) as f:
        man = _json.load(f)
    for entry in man["stats"].values():
        for k in list(entry):
            if k.startswith("__"):
                del entry[k]
    with open(mp + ".tmp", "w") as f:
        _json.dump(man, f)
    _os.replace(mp + ".tmp", mp)
    got = TF.table_snapshots(spark, root2).collect()[0]
    assert (got["rows"], got["batch_id"]) == (10, 7)  # footer fallback
    _shutil.rmtree(_os.path.join(root2, TF._data_list(man)[0]))
    got = TF.table_snapshots(spark, root2).collect()[0]
    assert got["rows"] is None


def test_timestamp_time_travel(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF: read_version(as_of_ts=) resolves to the highest
    version committed at or before the target instant; a regressed
    wall clock (a later version stamped earlier) cannot un-publish a
    version; pre-timestamp manifests are not resolvable; version= and
    as_of_ts= are mutually exclusive."""
    import json as _json
    import os as _os

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    clock = {"t": 100.0}
    monkeypatch.setattr(TF, "_now", lambda: clock["t"])

    root = str(tmp_path / "asof")
    df = spark.range(10).select(F.col("id").alias("k"))
    TF.commit_version(df.filter(F.col("k") < 3), root)        # v0 @ 100
    clock["t"] = 200.0
    TF.commit_append(df.filter((F.col("k") >= 3) & (F.col("k") < 6)), root)
    clock["t"] = 300.0                                         # v1 @ 200
    TF.commit_append(df.filter(F.col("k") >= 6), root)         # v2 @ 300

    assert TF.version_as_of(root, 100.0) == 0   # boundary is inclusive
    assert TF.version_as_of(root, 250.0) == 1
    assert TF.version_as_of(root, 1e12) == 2
    with pytest.raises(ValueError, match="no version at or before"):
        TF.version_as_of(root, 50.0)
    with pytest.raises(ValueError, match="not both"):
        TF.read_version(spark, root, version=1, as_of_ts=250.0)

    got = TF.read_version(spark, root, as_of_ts=250.0)
    assert sorted(r["k"] for r in got.collect()) == list(range(6))

    # regressed clock: v3 stamped BEFORE v2 — as-of at v2's instant
    # still serves v2 (max version among qualifying manifests, so the
    # answer is always a prefix of the version history)
    clock["t"] = 290.0
    TF.commit_append(
        local_frame(spark, [(100,)], "k bigint"), root
    )                                                          # v3 @ 290
    assert TF.version_as_of(root, 295.0) == 3
    assert TF.version_as_of(root, 300.0) == 3

    # snapshots metadata carries the commit instants
    ts_by_v = {
        r["version"]: r["ts"]
        for r in TF.table_snapshots(spark, root).collect()
    }
    assert ts_by_v == {0: 100.0, 1: 200.0, 2: 300.0, 3: 290.0}

    # legacy manifest (no ts): invisible to as-of resolution
    for v in range(4):
        mp = TF._manifest_path(root, v)
        with open(mp) as f:
            man = _json.load(f)
        del man["ts"]
        with open(mp + ".tmp", "w") as f:
            _json.dump(man, f)
        _os.replace(mp + ".tmp", mp)
    with pytest.raises(ValueError, match="0 timestamped"):
        TF.version_as_of(root, 1e12)


def test_stats_agg_nan_floats_demote_to_scan(spark, tmp_path):
    """Parquet footer min/max EXCLUDE NaN while Spark (and DuckDB)
    order NaN above every value — so commit-time stats must prove NaN
    absence before a float column is metadata-servable (ADVICE r8:
    previously a NaN-bearing directory could be wrongly excluded by
    pruning, or serve a finite max where a real scan reports NaN)."""
    import math

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "nanstats")
    # dir 0: clean doubles [0.0 .. 22.5]; dir 1: contains one NaN
    clean = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2.5).alias("v")
    )
    dirty = spark.range(10, 20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 15, F.lit(float("nan")))
        .otherwise(F.col("id") * 2.5)
        .alias("v"),
    )
    TF.commit_append(clean, root)
    TF.commit_append(dirty, root)

    # max(v) must be NaN — the dirty dir demotes to the scan path and
    # the driver-side merge must not drop the scanned NaN max
    audit = {}
    row = TF.stats_agg(spark, root, cols=("v",), audit=audit).collect()[0]
    assert math.isnan(row["max_v"]), row
    assert row["min_v"] == 0.0
    assert audit["dirs_scanned"] == 1 and audit["dirs_metadata"] == 1

    # pruning on v must not exclude the NaN dir: under Spark semantics
    # the NaN row MATCHES v >= 100 even though footer bounds say [25,
    # 47.5]. Full relational truth: exactly one row (the NaN).
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k",), prune={"v": (100.0, None)}, audit=audit
    ).collect()[0]
    assert row["row_cnt"] == 1 and row["min_k"] == 15
    assert audit["dirs_scanned"] >= 1  # the NaN dir was scanned, not pruned

    # read_version(prune=) keeps the NaN dir too
    got = TF.read_version(
        spark, root, prune={"v": (100.0, None)}
    ).filter(F.col("v") >= 100.0)
    assert [r["k"] for r in got.collect()] == [15]

    # the clean dir still serves floats from metadata: NaN-free proof
    # recorded at commit time keeps the fast path
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("v",), prune={"k": (None, 9)}, audit=audit
    ).collect()[0]
    assert audit["dirs_scanned"] == 0 and audit["dirs_metadata"] == 1
    assert (row["min_v"], row["max_v"]) == (0.0, 22.5)


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """Merge-on-read row deletes (Delta/Iceberg deletion vectors): a
    predicate delete that writes O(deleted rows), not O(directory) —
    data directories, stats, and schema carry verbatim; readers
    subtract the vector sidecar at scan time; compaction folds vectors
    away. Anchors the reference's row-granular mutation discipline
    (Services/OpcSubscribeService.cs:600-654 ctid row locks)."""
    import json
    import os

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "dvt")
    full = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    for i in range(3):
        TF.commit_append(
            full.filter((F.col("k") >= i * 10) & (F.col("k") < (i + 1) * 10)),
            root,
        )
    parent_data = TF._data_list(
        json.load(open(TF._manifest_path(root, 2)))
    )

    v = TF.delete_where_dv(spark, root, "k % 7 = 0")  # 0,7,14,21,28
    m = json.load(open(TF._manifest_path(root, v)))

    # --- write amplification is O(deleted rows): zero data directories
    # rewritten, the data list IS the parent's, the only new bytes are
    # the one dv sidecar (5 addresses)
    assert m["app"]["rewritten_dirs"] == 0
    assert m["app"]["dv_rows"] == 5
    assert TF._data_list(m) == parent_data
    dv_paths = {p for e in m["dv"].values() for p in e["paths"]}
    assert len(dv_paths) == 1
    sidecar = spark.read.parquet(
        os.path.join(root, next(iter(dv_paths)))
    )
    assert sidecar.count() == 5  # O(deleted rows), not O(dir rows)

    # --- merge-on-read correctness
    got = sorted(r["k"] for r in TF.read_version(spark, root).collect())
    assert got == [k for k in range(30) if k % 7 != 0]
    # time travel: the pre-delete snapshot is untouched
    assert TF.read_version(spark, root, 2).count() == 30
    # re-delete is a no-op (already-deleted rows never re-match)
    assert TF.delete_where_dv(spark, root, "k % 7 = 0") == v
    # vectors accumulate across delete commits
    v2 = TF.delete_where_dv(spark, root, "k = 1")
    assert sorted(
        r["k"] for r in TF.read_version(spark, root).collect()
    ) == [k for k in range(30) if k % 7 != 0 and k != 1]

    # --- pruned reads still skip, and kept dirs apply their vectors
    pruned = TF.read_version(spark, root, prune={"k": (0, 9)})
    assert sorted(r["k"] for r in pruned.collect()) == [
        2, 3, 4, 5, 6, 8, 9,
    ]

    # --- stats_agg: vectored dirs demote to scan, answer stays exact
    audit = {}
    row = TF.stats_agg(
        spark, root, cols=("k",), audit=audit
    ).collect()[0]
    assert row["row_cnt"] == 24 and row["min_k"] == 2
    assert audit["dirs_scanned"] == 3 and audit["dirs_metadata"] == 0

    # --- table_snapshots: dv commits report the post-delete row count
    snaps = {
        r["version"]: r["rows"]
        for r in TF.table_snapshots(spark, root).collect()
    }
    assert snaps[2] == 30 and snaps[v] == 25 and snaps[v2] == 24

    # --- change feed: a dv commit stays on the O(changes) fast path —
    # its delete rows come from the sidecar addresses, NO keys needed
    feed = TF.table_changes(spark, root, 2, v)
    assert {r["_change_type"] for r in feed.collect()} == {"delete"}
    dels = sorted(r["k"] for r in feed.collect())
    assert dels == [0, 7, 14, 21, 28]
    assert {r["_commit_version"] for r in feed.collect()} == {v}
    # append -> dv-delete -> append range, still keyless: per-commit
    # inserts AND deletes, and applying them reconstructs the snapshot
    full_feed = TF.table_changes(spark, root, None, v2)
    ins = {r["k"] for r in full_feed.collect() if r["_change_type"] == "insert"}
    del2 = {r["k"] for r in full_feed.collect() if r["_change_type"] == "delete"}
    assert ins == set(range(30)) and del2 == {0, 7, 14, 21, 28, 1}
    assert ins - del2 == {
        r["k"] for r in TF.read_version(spark, root, v2).collect()
    }
    # the keyed diff agrees (range-collapsed form)
    feed_k = TF.table_changes(spark, root, 2, v, keys=["k"])
    dels_k = sorted(
        r["k"] for r in feed_k.filter(F.col("_change_type") == "delete").collect()
    )
    assert dels_k == [0, 7, 14, 21, 28]

    # --- copy-on-write ops fold touched dirs' vectors (no resurrection)
    u = TF.update_where(spark, root, "k = 2", {"v": "v + 1000"})
    d = {r["k"]: r["v"] for r in TF.read_version(spark, root).collect()}
    assert d[2] == 1004 and 0 not in d and 1 not in d
    mu = json.load(open(TF._manifest_path(root, u)))
    # carried dirs keep their vectors; the rewritten dir drops its own
    assert all(
        dd in set(TF._data_list(mu)) for dd in (mu.get("dv") or {})
    )

    # --- compact folds every remaining vector away
    cv = TF.compact(spark, root)
    mc = json.load(open(TF._manifest_path(root, cv)))
    assert "dv" not in mc
    assert TF.read_version(spark, root).count() == 24

    # --- vacuum reclaims dv sidecars once no retained manifest
    # references them (keep the compacted tip only)
    TF.vacuum(root, keep=1, orphan_grace_s=0.0)
    dv_root = os.path.join(root, "dv")
    leftover = os.listdir(dv_root) if os.path.isdir(dv_root) else []
    assert leftover == [], leftover
    assert TF.read_version(spark, root).count() == 24


def test_deletion_vectors_restore_append_and_bounds(spark, tmp_path):
    """DV interplay with the rest of the table layer: appends carry
    vectors verbatim (no resurrection), restore revives a vectored
    version with its vectors, bounds skip disjoint directories without
    reading them, and a full-miss predicate commits nothing."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "dvr")
    full = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(full.filter(F.col("k") < 10), root)
    TF.commit_append(full.filter(F.col("k") >= 10), root)

    v = TF.delete_where_dv(
        spark, root, "k = 3", bounds={"k": (3, 3)}
    )
    m = json.load(open(TF._manifest_path(root, v)))
    # bounds skipped the [10,20) dir entirely: one dir took a vector
    assert m["app"]["dv_dirs"] == 1

    # append after the delete: vectors carry, deleted row stays gone
    TF.commit_append(
        local_frame(spark, [(100, 200)], "k long, v long"), root
    )
    got = sorted(r["k"] for r in TF.read_version(spark, root).collect())
    assert 3 not in got and 100 in got and len(got) == 20

    # a no-match predicate returns the parent unchanged
    live = TF.latest_version(root)
    assert TF.delete_where_dv(spark, root, "k = 99999") == live

    # restore to the vectored version: vectors ride along
    rv = TF.restore(root, v)
    mr = json.load(open(TF._manifest_path(root, rv)))
    assert mr.get("dv") == m.get("dv")
    got = sorted(r["k"] for r in TF.read_version(spark, root).collect())
    assert 3 not in got and 100 not in got and len(got) == 19


def test_bloom_point_lookup_skipping(spark, tmp_path):
    """Per-directory bloom filters (Delta's bloom-filter index): an
    equality prune on a scattered high-cardinality key drops
    directories that provably lack the value where [min,max] bounds
    keep everything; false positives and missing sidecars only ever
    KEEP (pruning stays an optimization, never a filter)."""
    import json
    import os

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "bloomt")
    # k clusters per directory; u scatters pseudo-randomly (each dir's
    # u-range spans nearly everything, each u value lives in ONE dir)
    full = spark.range(2000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % (2**31)).alias("u"),
        F.concat(
            F.lit("s"), ((F.col("id") * 2654435761) % (2**31)).cast("string")
        ).alias("su"),
    )
    for i in range(4):
        TF.commit_append(
            full.filter((F.col("k") >= i * 500) & (F.col("k") < (i + 1) * 500)),
            root,
            bloom=("u", "su"),
        )
    m = json.load(open(TF._manifest_path(root, TF.latest_version(root))))
    for entry in m["stats"].values():
        assert set(entry["__blooms__"]) == {"u", "su"}
        assert entry["__blooms__"]["u"]["n"] == 500

    rows = {r["k"]: (r["u"], r["su"]) for r in full.collect()}

    # completeness: every present value is FOUND (bloom never drops a
    # directory that holds the key) — int and string forms
    for k in (3, 517, 1033, 1999):
        u, su = rows[k]
        audit = {}
        got = TF.read_version(
            spark, root, prune={"u": ("=", u)}, audit=audit
        ).filter(F.col("u") == u)
        assert [r["k"] for r in got.collect()] == [k]
        assert audit["dirs_kept"] < audit["dirs_total"], audit
        got_s = TF.read_version(
            spark, root, prune={"su": ("=", su)}
        ).filter(F.col("su") == su)
        assert [r["k"] for r in got_s.collect()] == [k]

    # an absent value prunes everything (modulo fpp — never all four
    # surviving, p ~ (0.5%)^4)
    audit = {}
    n = TF.read_version(
        spark, root, prune={"u": ("=", 2**31 + 12345)}, audit=audit
    ).count()
    assert n == 0 and audit["dirs_kept"] < audit["dirs_total"]

    # stats_agg shares the equality form and the skipping
    audit = {}
    u0, _ = rows[3]
    row = TF.stats_agg(
        spark, root, cols=("k",), prune={"u": ("=", u0)}, audit=audit
    ).collect()[0]
    assert row["row_cnt"] == 1 and row["min_k"] == 3
    assert audit["dirs_excluded"] >= 1

    # a deleted sidecar only KEEPS: the lookup still answers correctly
    first_dir = TF._data_list(m)[0]
    os.remove(os.path.join(root, first_dir, "_bloom_u"))
    u3, _ = rows[3]  # k=3 lives in the first dir
    got = TF.read_version(
        spark, root, prune={"u": ("=", u3)}
    ).filter(F.col("u") == u3)
    assert [r["k"] for r in got.collect()] == [3]

    # compaction is metadata-PRESERVING: the rewritten directory
    # re-derives the blooms it collapses (round-10: a maintenance pass
    # must not demote point-lookup skipping permanently)
    cv = TF.compact(spark, root)
    mc = json.load(open(TF._manifest_path(root, cv)))
    assert all(
        set(e.get("__blooms__", {})) == {"u", "su"}
        for e in mc["stats"].values()
    )
    got = TF.read_version(
        spark, root, prune={"u": ("=", rows[1999][0])}
    ).filter(F.col("u") == rows[1999][0])
    assert [r["k"] for r in got.collect()] == [1999]
    # an absent probe still prunes AFTER the compaction (the rebuilt
    # bloom, not range bounds, does the work: u-ranges span everything)
    audit = {}
    n = TF.read_version(
        spark, root, prune={"u": ("=", 2**31 + 54321)}, audit=audit
    ).count()
    assert n == 0 and audit["dirs_kept"] == 0, audit


def test_incremental_bm25_index_equals_one_shot(spark, tmp_path):
    """The maintained inverted index (streaming/bm25index.py) serves
    EXACTLY the one-shot operator's answer — same quantized-decimal
    scoring tail — across multi-batch ingest, foreachBatch redelivery,
    a crash between the doclens and postings commits, and a restart."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.retrieval import bm25_topk
    from opcua_ingestion_engine_spark.streaming import bm25index as B

    docs = local_frame(spark,
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
    root = str(tmp_path / "bmidx")
    sink = B.IncrementalBm25IndexSink(root)
    sink.process_batch(docs.filter(F.col("doc_id") <= 2), 0)
    sink.process_batch(
        docs.filter((F.col("doc_id") > 2) & (F.col("doc_id") <= 4)), 1
    )
    sink.process_batch(docs.filter(F.col("doc_id") > 4), 2)
    # redelivery of a committed batch: skipped
    sink.process_batch(docs.filter(F.col("doc_id") <= 2), 0)

    def rows(df):
        return [(r["doc_id"], r["score"], r["rank"]) for r in df.collect()]

    for q in (["fast", "table"], ["stream"], ["chair", "vector", "slow"]):
        one = rows(bm25_topk(docs, q, k=10))
        audit = {}
        inc = rows(
            B.bm25_topk_from_index(spark, root, q, k=10, audit=audit)
        )
        assert inc == one, (q, inc, one)
        assert audit["dirs_scanned"] == 0, audit  # totals manifest-only

    # absent term: empty everywhere, bloom prunes every postings dir
    assert (
        B.bm25_topk_from_index(spark, root, ["zzz_absent"], k=5).count()
        == 0
    )

    # crash window: doclens committed, postings NOT (simulate by a sink
    # that dies between the two) -> replay converges to serial state
    root2 = str(tmp_path / "bmidx2")
    s2 = B.IncrementalBm25IndexSink(root2)
    s2.process_batch(docs.filter(F.col("doc_id") <= 3), 0)

    class Dies(B.IncrementalBm25IndexSink):
        def process_batch(self, d, batch_id):
            if batch_id in self._postings_batches:
                return
            d = d.dropDuplicates([self.id_col])
            dl_root = B._doclens_root(self.index_root)
            if TF.latest_version(dl_root) is not None:
                seen = TF.read_version(d.sparkSession, dl_root).select(
                    self.id_col
                )
                d = d.join(seen, self.id_col, "left_anti")
            d = d.localCheckpoint(eager=True)
            _, doclens = B._tokenize(d, self.id_col, self.text_col)
            if batch_id not in self._doclens_batches:
                TF.commit_append(
                    doclens.withColumn(
                        "batch_id", F.lit(batch_id).cast("long")
                    ),
                    dl_root, app={"batch_id": batch_id},
                    sums=("doc_len",),
                )
                self._doclens_batches.add(batch_id)
            raise RuntimeError("crash before postings commit")

    dying = Dies(root2)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="crash"):
        dying.process_batch(docs.filter(F.col("doc_id") > 3), 1)
    # restart: a fresh sink replays batch 1; the doclens ledger skips
    # the re-commit, the postings half lands, state == serial
    s3 = B.IncrementalBm25IndexSink(root2)
    s3.process_batch(docs.filter(F.col("doc_id") > 3), 1)
    for q in (["fast", "table"], ["stream"]):
        assert rows(
            B.bm25_topk_from_index(spark, root2, q, k=10)
        ) == rows(bm25_topk(docs, q, k=10)), q
    # doclens took exactly ONE commit per batch despite the crash+replay
    lens = TF.read_version(spark, B._doclens_root(root2))
    assert lens.count() == 6
    assert lens.groupBy("doc_id").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_commit_full_sync_three_clause_merge(spark, tmp_path):
    """Full-sync MERGE (WHEN MATCHED UPDATE / NOT MATCHED INSERT / NOT
    MATCHED BY SOURCE DELETE): one commit makes the table equal the
    source, carrying directories the keyed diff proves untouched; the
    change feed reports exactly the insert/update/delete set; a no-op
    sync commits nothing; validation is loud."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "fsync")
    full = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    for i in range(4):
        TF.commit_append(
            full.filter((F.col("k") >= i * 10) & (F.col("k") < (i + 1) * 10)),
            root,
        )
    # delete k<5, update 5<=k<10 (v+1), insert 40..42; dirs 1-3 untouched
    src = (
        full.filter((F.col("k") >= 5) & (F.col("k") < 40))
        .withColumn(
            "v",
            F.when(F.col("k") < 10, F.col("v") + 1).otherwise(F.col("v")),
        )
        .unionByName(
            spark.range(40, 43).select(
                F.col("id").alias("k"), (F.col("id") * 100).alias("v")
            )
        )
    )
    v = TF.commit_full_sync(spark, root, src, keys=["k"])
    m = json.load(open(TF._manifest_path(root, v)))
    assert m["app"]["carried_dirs"] == 3, m["app"]
    assert m["app"]["rewritten_dirs"] == 1
    assert m["app"]["rows_changed"] == 10  # 5 deletes + 5 updates
    assert m["app"]["rows_landed"] == 8  # 5 updates + 3 inserts

    got = {r["k"]: r["v"] for r in TF.read_version(spark, root).collect()}
    assert got == {r["k"]: r["v"] for r in src.collect()}
    # pre-sync snapshot intact (time travel)
    assert TF.read_version(spark, root, v - 1).count() == 40

    # the change feed over the sync is the exact three-clause set
    feed = TF.table_changes(spark, root, v - 1, v, keys=["k"])
    by_kind: dict = {}
    for r in feed.collect():
        by_kind.setdefault(r["_change_type"], set()).add(r["k"])
    assert by_kind["delete"] == set(range(5))
    assert by_kind["insert"] == {40, 41, 42}
    assert by_kind["update_preimage"] == set(range(5, 10))
    assert by_kind["update_postimage"] == set(range(5, 10))

    # idempotent: re-syncing the same source is a no-op
    assert TF.commit_full_sync(spark, root, src, keys=["k"]) == v

    # unchanged-row byte identity: carried rows were never rewritten
    # (their directories are the parent's very paths)
    pm = json.load(open(TF._manifest_path(root, v - 1)))
    assert set(TF._data_list(m)) & set(TF._data_list(pm)), "no carry"

    # deletion-vector interplay: a dv-deleted row is already absent, so
    # a source without it syncs as a no-op for that key
    TF.delete_where_dv(spark, root, "k = 39")
    v2 = TF.commit_full_sync(
        spark, root, src.filter(F.col("k") != 39), keys=["k"]
    )
    assert v2 == TF.latest_version(root)
    assert 39 not in {
        r["k"] for r in TF.read_version(spark, root).collect()
    }

    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        TF.commit_full_sync(
            spark, root, src.unionByName(src.limit(1)), keys=["k"]
        )
    with _pytest.raises(ValueError, match="schema"):
        TF.commit_full_sync(
            spark, root, src.withColumn("v", F.col("v").cast("int")),
            keys=["k"],
        )
    with _pytest.raises(ValueError, match="key"):
        TF.commit_full_sync(spark, root, src, keys=[])


@pytest.mark.parametrize("seed", [5, 19, 43])
def test_quality_gate_sink_two_writer_race(spark, tmp_path, seed):
    """Two QualityGateSink writers racing on ONE gated-corpus root
    (seeded schedules, jittered starts, an in-schedule redelivery):
    the manifest history must stay linearizable, every batch must land
    exactly once, and the final gated corpus must equal the BATCH gate
    over the union of both writers' documents — the chaos discipline
    the round-8 annindex test set (round-8 verdict item 7)."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.quality import (
        score_quality_vocab,
    )
    from opcua_ingestion_engine_spark.streaming.qualitygate import (
        QualityGateSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    vocab = {"the": 0.35, "and": 0.25, "of": 0.2, "data": -0.6}
    root = str(tmp_path / f"qgrace{seed}")
    sinks = [
        QualityGateSink(root, (vocab, -0.1)),
        QualityGateSink(root, (vocab, -0.1)),
    ]
    errors: list = []

    def writer(w: int):
        rng = random.Random(seed * 13 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                half = (
                    F.col("doc_id") % 4 < 2
                    if wave == 0
                    else F.col("doc_id") % 4 >= 2
                )
                batch = docs.filter((F.col("doc_id") % 2 == w) & half)
                sinks[w].process_batch(batch, w * 100 + wave)
                if rng.random() < 0.5:  # at-least-once redelivery
                    sinks[w].process_batch(batch, w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    # linearizable manifest chain, each batch exactly once
    hist = TF.history(root)
    versions = [m["version"] for m in hist]
    assert versions == list(range(len(hist)))
    for m in hist[1:]:
        assert m["parent"] == m["version"] - 1
    bids = [
        m["app"]["batch_id"] for m in hist if "batch_id" in m.get("app", {})
    ]
    assert sorted(bids) == [0, 1, 100, 101]  # no redelivered duplicates

    # final state == the batch gate over the union (per-doc pure gate:
    # any interleaving must converge to the same corpus)
    got = _rows(TF.read_version(spark, root))
    want = _rows(
        score_quality_vocab(docs, vocab, -0.1)
        .filter(F.col("keep"))
        .drop("keep")
    )
    assert got == want and len(got) > 0


@pytest.mark.parametrize("seed", [7, 31, 53])
def test_corpus_build_sink_two_writer_race(spark, tmp_path, seed):
    """Two durable IncrementalCorpusBuildSink writers racing on ONE
    state root (dedup -> quality -> DECONTAMINATION -> split), disjoint
    doc classes, seeded jitter, in-schedule redeliveries: manifests
    linearizable, each batch's two sub-commits exactly once, and the
    final training manifest + digest state equal a SERIAL replay of the
    same batches — the decontaminate half of round-8 verdict item 7."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.corpusbuild import (
        IncrementalCorpusBuildSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "source"
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    root = str(tmp_path / f"cbrace{seed}")
    sinks = [
        IncrementalCorpusBuildSink(bench, state_root=root),
        IncrementalCorpusBuildSink(bench, state_root=root),
    ]
    errors: list = []

    def batch_of(w: int, wave: int):
        half = (
            F.col("doc_id") % 4 < 2 if wave == 0 else F.col("doc_id") % 4 >= 2
        )
        return docs.filter((F.col("doc_id") % 2 == w) & half)

    def writer(w: int):
        rng = random.Random(seed * 11 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                sinks[w].process_batch(batch_of(w, wave), w * 100 + wave)
                if rng.random() < 0.5:
                    sinks[w].process_batch(batch_of(w, wave), w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    for sub in ("manifest", "digests"):
        hist = TF.history(f"{root}/{sub}")
        versions = [m["version"] for m in hist]
        assert versions == list(range(len(hist))), sub
        for m in hist[1:]:
            assert m["parent"] == m["version"] - 1
        bids = [
            m["app"]["batch_id"]
            for m in hist
            if "batch_id" in m.get("app", {})
        ]
        assert sorted(bids) == [0, 1, 100, 101], sub

    # final state == serial replay of the same four batches
    serial_root = str(tmp_path / f"cbserial{seed}")
    serial = IncrementalCorpusBuildSink(bench, state_root=serial_root)
    for w in (0, 1):
        for wave in range(2):
            serial.process_batch(batch_of(w, wave), w * 100 + wave)
    got = _rows(TF.read_version(spark, f"{root}/manifest"))
    want = _rows(TF.read_version(spark, f"{serial_root}/manifest"))
    assert got == want and len(got) > 0
    got_d = _rows(TF.read_version(spark, f"{root}/digests"))
    want_d = _rows(TF.read_version(spark, f"{serial_root}/digests"))
    assert got_d == want_d


def test_hybrid_rrf_from_maintained_indexes(spark, tmp_path):
    """Hybrid retrieval served from BOTH maintained indexes equals the
    batch hybrid over the same corpus when the ANN side is run
    exhaustively (nprobe = all cells, rerank >= corpus => exact
    brute-force ranking; the lexical side is bitwise-identical by
    construction)."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )
    from opcua_ingestion_engine_spark.operators.similarity import (
        brute_force_topk,
    )
    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink,
    )
    from opcua_ingestion_engine_spark.streaming.bm25index import (
        IncrementalBm25IndexSink,
        hybrid_rrf_from_indexes,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    emb = C.load_table(spark, SF_SMOKE, "embeddings")
    n_emb = emb.count()

    lex_root = str(tmp_path / "hyb_lex")
    lex_sink = IncrementalBm25IndexSink(lex_root)
    lex_sink.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    lex_sink.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)

    ann_root = str(tmp_path / "hyb_ann")
    ann_sink = IncrementalAnnIndexSink(ann_root, n_cells=4)
    ann_sink.process_batch(emb.filter(F.col("vec_id") % 2 == 0), 0)
    ann_sink.process_batch(emb.filter(F.col("vec_id") % 2 == 1), 1)

    q_vec = emb.filter(F.col("vec_id") == 0)
    terms = ["fast", "stream", "vector"]
    got = hybrid_rrf_from_indexes(
        spark, lex_root, ann_root, emb, terms, q_vec,
        k=15, nprobe=4, rerank=n_emb,
    ).collect()

    lex = bm25_topk(docs, terms, k=50).select("doc_id", "rank")
    vec = brute_force_topk(emb, q_vec, k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    want = rrf_fuse([lex, vec], k=15).collect()
    assert [(r["doc_id"], r["rrf_score"], r["rank"]) for r in got] == [
        (r["doc_id"], r["rrf_score"], r["rank"]) for r in want
    ]
    assert len(got) == 15


@pytest.mark.parametrize("seed", [13, 47])
def test_deletion_vector_two_writer_race(spark, tmp_path, seed):
    """Two delete_where_dv writers racing each other AND a concurrent
    appender on one table: every CAS loser must rebase its match set
    onto the new latest (a racing append's rows land in the retry's
    candidate read), manifests stay linearizable, and the final state
    equals the serial application of the same operations."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / f"dvrace{seed}")
    full = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(full.filter(F.col("k") < 40), root)
    errors: list = []

    def deleter(w: int):
        rng = random.Random(seed * 3 + w)
        try:
            _time.sleep(rng.random() * 0.05)
            # writer 0 deletes k%5==0, writer 1 deletes k%7==0
            TF.delete_where_dv(
                spark, root, f"k % {5 if w == 0 else 7} = 0"
            )
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    def appender():
        try:
            _time.sleep(random.Random(seed).random() * 0.03)
            TF.commit_append(full.filter(F.col("k") >= 40), root)
        except Exception as exc:  # noqa: BLE001
            errors.append(("app", exc))

    threads = [
        threading.Thread(target=deleter, args=(0,)),
        threading.Thread(target=deleter, args=(1,)),
        threading.Thread(target=appender),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    hist = TF.history(root)
    versions = [m["version"] for m in hist]
    assert versions == list(range(len(hist)))
    for m in hist[1:]:
        assert m["parent"] == m["version"] - 1

    got = sorted(r["k"] for r in TF.read_version(spark, root).collect())
    # serial truth: the appended rows exist iff the append landed BEFORE
    # a deleter's final (winning) match read — every interleaving must
    # equal SOME serial order, and all serial orders agree on k < 40;
    # for k >= 40 a row is gone iff a deleter ran after the append.
    kept_low = [k for k in range(40) if k % 5 != 0 and k % 7 != 0]
    assert [k for k in got if k < 40] == kept_low
    high = [k for k in got if k >= 40]
    assert set(high) <= {k for k in range(40, 60)}
    # linearizability of the high half: whichever deleters' manifests
    # FOLLOW the append commit must have removed their matches from it
    app_v = next(
        m["version"] for m in hist
        if m["version"] > 0 and (m.get("app") or {}).get("op") is None
    )
    later_preds = [
        5 if "5" in m["app"]["predicate"] else 7
        for m in hist
        if (m.get("app") or {}).get("op") == "delete_where_dv"
        and m["version"] > app_v
    ]
    expect_high = [
        k for k in range(40, 60)
        if all(k % p != 0 for p in later_preds)
    ]
    assert high == expect_high, (high, expect_high, later_preds)


@pytest.mark.parametrize("seed", [9, 27])
def test_bm25_index_two_writer_race(spark, tmp_path, seed):
    """Two IncrementalBm25IndexSink writers racing on one index root
    (disjoint doc classes, jittered schedules, redeliveries): postings
    and doclens manifest chains stay linearizable, each batch lands
    exactly once per table, and the served ranking equals the one-shot
    operator over the union corpus."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.retrieval import bm25_topk
    from opcua_ingestion_engine_spark.streaming import bm25index as B

    docs = local_frame(spark,
        [
            (i, t)
            for i, t in enumerate(
                [
                    "fast fast slow",
                    "fast",
                    "slow table",
                    "fast table chair",
                    "chair fast fast",
                    "table stream vector stream",
                    "stream stream fast",
                    "vector table",
                ]
            )
        ],
        "doc_id long, text string",
    )
    root = str(tmp_path / f"bmrace{seed}")
    sinks = [
        B.IncrementalBm25IndexSink(root),
        B.IncrementalBm25IndexSink(root),
    ]
    errors: list = []

    def writer(w: int):
        rng = random.Random(seed * 5 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                half = (
                    F.col("doc_id") % 4 < 2
                    if wave == 0
                    else F.col("doc_id") % 4 >= 2
                )
                batch = docs.filter((F.col("doc_id") % 2 == w) & half)
                sinks[w].process_batch(batch, w * 100 + wave)
                if rng.random() < 0.5:
                    sinks[w].process_batch(batch, w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    for sub in ("postings", "doclens"):
        hist = TF.history(f"{root}/{sub}")
        versions = [m["version"] for m in hist]
        assert versions == list(range(len(hist))), sub
        bids = [
            m["app"]["batch_id"]
            for m in hist
            if "batch_id" in m.get("app", {})
        ]
        assert sorted(bids) == [0, 1, 100, 101], sub

    for q in (["fast", "table"], ["stream"], ["vector", "chair"]):
        got = [
            (r["doc_id"], r["score"], r["rank"])
            for r in B.bm25_topk_from_index(spark, root, q, k=10).collect()
        ]
        want = [
            (r["doc_id"], r["score"], r["rank"])
            for r in bm25_topk(docs, q, k=10).collect()
        ]
        assert got == want, q


def test_merge_on_read_upsert_and_update(spark, tmp_path):
    """Merge-on-read WRITE paths (Delta's DV-enabled MERGE):
    commit_upsert(mor=True) tombstones matched rows via a sidecar and
    appends the batch as one tail (O(batch + matched), zero directory
    rewrites); update_where_dv does the same for a predicate UPDATE
    with pre-image SET semantics. Change feeds refuse to treat the
    commit as a pure append (the tail is inserts but the vectors are
    implicit deletes); compaction folds everything."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "mor")
    full = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    for i in range(4):
        TF.commit_append(
            full.filter((F.col("k") >= i * 10) & (F.col("k") < (i + 1) * 10)),
            root,
        )
    b = local_frame(spark,
        [(3, 999), (25, 888), (100, 777)], "k long, v long"
    )
    v = TF.commit_upsert(spark, root, b, keys=["k"], mor=True)
    m = json.load(open(TF._manifest_path(root, v)))
    assert m["app"]["op"] == "upsert_mor"
    assert m["app"]["rewritten_dirs"] == 0
    assert m["app"]["dv_rows"] == 2 and m["app"]["rows_landed"] == 3
    # the parent's four data dirs all carried; one tail added
    assert len(TF._data_list(m)) == 5
    d = {r["k"]: r["v"] for r in TF.read_version(spark, root).collect()}
    assert (d[3], d[25], d[100], len(d)) == (999, 888, 777, 41)
    assert TF.read_version(spark, root, v - 1).count() == 40

    # pre-image SET semantics on the DV update: v doubles ONCE
    u = TF.update_where_dv(spark, root, "k = 7", {"v": "v + k"})
    d = {r["k"]: r["v"] for r in TF.read_version(spark, root).collect()}
    assert d[7] == 77
    mu = json.load(open(TF._manifest_path(root, u)))
    assert mu["app"]["rewritten_dirs"] == 0 and mu["app"]["dv_rows"] == 1
    # no-op predicate commits nothing
    assert TF.update_where_dv(spark, root, "k = 424242", {"v": "v"}) == u

    # bounds exclude everything: still a no-op, loudly validated SETs
    assert (
        TF.update_where_dv(
            spark, root, "k = 3", {"v": "v"}, bounds={"k": (10_000, None)}
        )
        == u
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table"):
        TF.update_where_dv(spark, root, "k = 3", {"zzz": "1"})

    # change feed across the MoR commit: the keyless fast path (round
    # 10) serves the delete+insert decomposition — pre-images from the
    # sidecar addresses, new images from the tail. NO keys needed, and
    # the tail alone never resurrects the replaced rows (their deletes
    # ride along).
    feed = TF.table_changes(spark, root, v - 1, v)
    by = {}
    vals = {}
    for r in feed.collect():
        by.setdefault(r["_change_type"], set()).add(r["k"])
        vals[(r["_change_type"], r["k"])] = r["v"]
    assert by["insert"] == {3, 25, 100}
    assert by["delete"] == {3, 25}
    assert vals[("insert", 3)] == 999 and vals[("delete", 3)] == 30

    # stats_agg stays exact over the tombstoned table
    row = TF.stats_agg(spark, root, cols=("v",)).collect()[0]
    assert row["row_cnt"] == 41 and row["max_v"] == 999

    # compaction folds vectors and tails into one clean directory
    cv = TF.compact(spark, root)
    mc = json.load(open(TF._manifest_path(root, cv)))
    assert "dv" not in mc
    assert TF.read_version(spark, root).count() == 41


def test_stats_agg_bare_count_on_vectored_dirs_is_metadata_only(
    spark, tmp_path
):
    """COUNT(*) with no predicate and no columns stays metadata-only
    even on deletion-vectored directories: the manifest's dv row counts
    are commit-time-exact, so the answer is rows minus tombstones with
    zero data reads."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "dvcount")
    full = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    for i in range(3):
        TF.commit_append(
            full.filter((F.col("k") >= i * 10) & (F.col("k") < (i + 1) * 10)),
            root,
        )
    TF.delete_where_dv(spark, root, "k % 4 = 0")  # 8 rows
    audit = {}
    row = TF.stats_agg(spark, root, audit=audit).collect()[0]
    assert row["row_cnt"] == 22
    assert audit["dirs_scanned"] == 0 and audit["dirs_manifest"] == 3
    # any column/prune/sums request still demotes to the exact scan
    audit = {}
    row = TF.stats_agg(spark, root, cols=("k",), audit=audit).collect()[0]
    assert row["row_cnt"] == 22 and audit["dirs_scanned"] == 3


def test_matview_over_dv_deletes_stays_incremental(spark, tmp_path):
    """A materialized view over an append + merge-on-read-delete source
    folds the keyless DV fast-path feed correctly: the delete rows
    subtract, a MIN whose extremum was tombstoned recomputes, and the
    view equals a from-scratch aggregate — also for rows inserted AND
    dv-deleted within one refresh range (net zero). Even a view WITHOUT
    row_keys works: the feed never needs the keyed fallback."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.matview import (
        MaterializedAggView,
    )

    src, vr = str(tmp_path / "dsrc"), str(tmp_path / "dview")
    mk = lambda rows: local_frame(spark, rows, "k int, g string, x double")
    view = MaterializedAggView(
        src, vr, group_keys=["g"], sum_cols=["x"], min_cols=["x"]
    )
    TF.commit_version(
        mk([(1, "a", 1.0), (2, "a", 2.0), (3, "b", 4.0)]), src
    )
    assert view.refresh(spark) == 0

    # one refresh range holding: an append, a dv-delete of an OLD row
    # (the group-'a' minimum), and a dv-delete of a row appended within
    # the SAME range (net zero for k=6)
    TF.commit_append(mk([(4, "b", 8.0), (6, "c", 64.0)]), src)
    TF.delete_where_dv(spark, src, "k = 1")
    TF.delete_where_dv(spark, src, "k = 6")
    assert view.refresh(spark) == 1
    got = {
        (r["g"], r["n"], float(r["sum_x"]), r["min_x"])
        for r in view.result(spark).collect()
    }
    # group a: min recomputed after its extremum was tombstoned;
    # group c: fully net-zero, absent from the view
    assert got == {("a", 1, 2.0, 2.0), ("b", 2, 12.0, 4.0)}

    # from-scratch equality
    want = {
        (r["g"], r["n"], float(r["s"]), r["m"])
        for r in TF.read_version(spark, src)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s"),
            F.min("x").alias("m"),
        )
        .collect()
    }
    assert got == want


def test_deletion_vectors_under_schema_evolution(spark, tmp_path):
    """DV reads compose with evolved-schema union reads: vectors
    recorded before AND after a column was added apply correctly, the
    pre-evolution directory's rows read NULL for the new column, and a
    copy-on-write rewrite of an evolved+vectored directory folds its
    vectors without resurrecting rows."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "dvev")
    TF.commit_append(
        local_frame(spark, [(1, 10), (2, 20), (3, 30)], "k long, v long"),
        root,
    )
    # dv-delete BEFORE evolution
    TF.delete_where_dv(spark, root, "k = 2")
    # evolve: add column w
    TF.commit_append(
        local_frame(spark,
            [(4, 40, "x"), (5, 50, "y")], "k long, v long, w string"
        ),
        root,
        evolve=True,
    )
    # dv-delete AFTER evolution, matching rows in BOTH eras
    TF.delete_where_dv(spark, root, "k IN (3, 5)")
    got = {
        (r["k"], r["v"], r["w"])
        for r in TF.read_version(spark, root).collect()
    }
    assert got == {(1, 10, None), (4, 40, "x")}
    # change feed across the evolve-append AND the dv step, keyless
    # (fast path): the append's inserts + the sidecar's deletes
    feed = TF.table_changes(spark, root, 1, 3)
    by = {}
    for r in feed.collect():
        by.setdefault(r["_change_type"], []).append(r["k"])
    assert sorted(by["insert"]) == [4, 5]
    assert sorted(by["delete"]) == [3, 5]
    # the delete IMAGES resolve against the union schema: the
    # post-evolution row keeps its new-column value, the pre-evolution
    # row reads NULL for it
    imgs = {
        r["k"]: r["w"]
        for r in feed.collect()
        if r["_change_type"] == "delete"
    }
    assert imgs == {3: None, 5: "y"}
    # copy-on-write update folds the touched dir's vectors
    TF.update_where(spark, root, "k = 1", {"v": "v + 1"})
    got = {
        (r["k"], r["v"]) for r in TF.read_version(spark, root).collect()
    }
    assert got == {(1, 11), (4, 40)}


def test_compaction_preserves_bloom_and_sums_sidecars(spark, tmp_path):
    """Round-10 queue #1: ``compact``/``maybe_compact``/``compact_zorder``
    re-derive the ``__blooms__``/``__sums__`` sidecars for the
    directories they rewrite — one maintenance pass must never demote
    metadata-only SUM or bloom point-lookup skipping permanently."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "metacompact")
    full = spark.range(1200).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % (2**31)).alias("u"),
        (F.col("id") % 97).alias("v"),
    )
    for i in range(3):
        TF.commit_append(
            full.filter(
                (F.col("k") >= i * 400) & (F.col("k") < (i + 1) * 400)
            ),
            root,
            bloom=("u",),
            sums=("v",),
        )
    want_sum = sum(i % 97 for i in range(1200))

    # plain compact: ONE directory, blooms + sums re-derived
    cv = TF.compact(spark, root)
    mc = json.load(open(TF._manifest_path(root, cv)))
    entries = list(mc["stats"].values())
    assert len(entries) == 1
    assert set(entries[0]["__blooms__"]) == {"u"}
    assert entries[0]["__sums__"] == {"v": want_sum}

    # SUM stays manifest-only (zero data reads) after the rewrite
    audit = {}
    row = TF.stats_agg(spark, root, sums=("v",), audit=audit).collect()[0]
    assert row["sum_v"] == want_sum and audit["dirs_scanned"] == 0, audit

    # bloom point lookup still prunes: the compacted directory's
    # u-range spans everything, so only the rebuilt bloom can drop it
    audit = {}
    n = TF.read_version(
        spark, root, prune={"u": ("=", 2**31 + 7)}, audit=audit
    ).count()
    assert n == 0 and audit["dirs_kept"] == 0, audit

    # more appends, then the CADENCE path (maybe_compact -> compact)
    for i in range(3):
        TF.commit_append(
            full.filter(F.col("k") < 100).withColumn(
                "k", F.col("k") + 1200 + i * 100
            ),
            root,
            bloom=("u",),
            sums=("v",),
        )
    assert TF.maybe_compact(spark, root, max_dirs=2) is not None
    audit = {}
    row = TF.stats_agg(spark, root, sums=("v",), audit=audit).collect()[0]
    assert audit["dirs_scanned"] == 0
    assert row["sum_v"] == want_sum + 3 * sum(i % 97 for i in range(100))

    # z-order maintenance preserves the sidecars per bucket too
    zv = TF.compact_zorder(spark, root, "k", "u", n_dirs=4)
    mz = json.load(open(TF._manifest_path(root, zv)))
    for e in mz["stats"].values():
        assert set(e.get("__blooms__", {})) == {"u"}
        assert "v" in e.get("__sums__", {})
    audit = {}
    row = TF.stats_agg(spark, root, sums=("v",), audit=audit).collect()[0]
    assert audit["dirs_scanned"] == 0
    assert row["sum_v"] == want_sum + 3 * sum(i % 97 for i in range(100))


def test_bm25_index_survives_compaction_metadata_only(spark, tmp_path):
    """Round-10 queue #1 (BM25 face): drive the maintained inverted
    index PAST its auto-compaction cadence; the manifest-served corpus
    totals (N, avglen) and bloom-pruned postings scans must stay
    metadata-only afterwards — serving must not silently degrade to a
    per-query full scan."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.bm25index import (
        IncrementalBm25IndexSink, bm25_topk_from_index,
    )
    from opcua_ingestion_engine_spark.operators.retrieval import bm25_topk

    root = str(tmp_path / "bm25c")
    docs = local_frame(spark,
        [
            (i, f"alpha beta gamma doc{i % 7} " + "pad " * (i % 5 + 1))
            for i in range(120)
        ],
        "doc_id long, text string",
    )
    # cadence 3: six batches force >= 1 auto-compaction on both tables
    sink = IncrementalBm25IndexSink(root, auto_compact=3)
    for b in range(6):
        sink.process_batch(
            docs.filter((F.col("doc_id") % 6) == b), b
        )
    po_m = json.load(
        open(TF._manifest_path(
            root + "/postings", TF.latest_version(root + "/postings")
        ))
    )
    dl_m = json.load(
        open(TF._manifest_path(
            root + "/doclens", TF.latest_version(root + "/doclens")
        ))
    )
    # compaction actually fired (directory list collapsed below count)
    assert any(
        (m.get("app") or {}).get("data_identical")
        for m in (po_m, dl_m)
        for _ in [0]
    ) or len(TF._data_list(po_m)) < 6
    # every live postings directory still carries its term bloom;
    # every live doclens directory still carries its doc_len sum
    for e in po_m["stats"].values():
        assert "term" in e.get("__blooms__", {}), po_m["stats"]
    for e in dl_m["stats"].values():
        assert "doc_len" in e.get("__sums__", {}), dl_m["stats"]

    # corpus totals serve with ZERO data directories scanned
    audit = {}
    TF.stats_agg(
        spark, root + "/doclens", sums=("doc_len",), audit=audit
    ).collect()
    assert audit["dirs_scanned"] == 0, audit

    # and the served ranking still equals the one-shot oracle exactly
    got = bm25_topk_from_index(
        spark, root, ["alpha", "doc3"], k=10
    ).collect()
    want = bm25_topk(docs, ["alpha", "doc3"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_bm25_serve_never_touches_doclens_data(spark, tmp_path):
    """Round-10 queue #3: ``doc_len`` is denormalized onto postings rows
    at commit time, so the serve path touches ONLY candidate-sized
    postings state — corpus totals come from manifest sums and the
    O(docs) doclens table is off the per-query path entirely. Pin it
    the sharp way: physically delete every doclens parquet file and
    serving must still answer, bit-equal to the one-shot oracle."""
    import glob
    import os

    from opcua_ingestion_engine_spark.operators.retrieval import bm25_topk
    from opcua_ingestion_engine_spark.streaming.bm25index import (
        IncrementalBm25IndexSink, bm25_topk_from_index,
    )

    root = str(tmp_path / "bm25lean")
    docs = local_frame(spark,
        [
            (i, f"alpha beta doc{i % 5} " + "pad " * (i % 4 + 1))
            for i in range(90)
        ],
        "doc_id long, text string",
    )
    sink = IncrementalBm25IndexSink(root, auto_compact=None)
    for b in range(3):
        sink.process_batch(docs.filter((F.col("doc_id") % 3) == b), b)

    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(docs, ["alpha", "doc2"], k=10).collect()
    ]

    # the sharp pin: no doclens DATA remains, only manifests
    removed = 0
    for f in glob.glob(os.path.join(root, "doclens", "data", "*", "*.parquet")):
        os.remove(f)
        removed += 1
    assert removed > 0

    audit = {}
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_from_index(
            spark, root, ["alpha", "doc2"], k=10, audit=audit
        ).collect()
    ]
    assert got == want
    assert audit["dirs_scanned"] == 0, audit


def test_consolidate_dv_folds_sidecars(spark, tmp_path):
    """Round-10 queue #4: a hot merge-on-read table accumulates one DV
    sidecar per dv-commit; ``consolidate_dv`` folds them into ONE
    (data untouched, ``data_identical``-stamped), bounding the
    per-scan sidecar-file count, GC-ing addresses into rewritten-away
    directories, and keeping change-feed ranges spanning it on the
    keyless fast path."""
    import json
    import os

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "dvfold")
    full = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    TF.commit_append(full.filter(F.col("k") < 50), root)
    TF.commit_append(full.filter(F.col("k") >= 50), root)
    # five point deletes + one mor update: six sidecar directories
    for k in (3, 17, 55, 71, 99):
        TF.delete_where_dv(spark, root, f"k = {k}")
    TF.update_where_dv(spark, root, "k = 20", {"v": "v + 1000"})

    m = json.load(open(TF._manifest_path(root, TF.latest_version(root))))
    sidecars_before = {
        p for e in TF._dv_map(m).values() for p in e["paths"]
    }
    assert len(sidecars_before) == 6
    rows_before = {
        d: e["rows"] for d, e in TF._dv_map(m).items()
    }
    want = sorted(tuple(r) for r in TF.read_version(spark, root).collect())

    cv = TF.consolidate_dv(spark, root)
    assert cv == TF.latest_version(root)
    mc = json.load(open(TF._manifest_path(root, cv)))
    app = mc["app"]
    assert app["op"] == "consolidate_dv" and app["data_identical"]
    assert app["dv_sidecars_before"] == 6 and app["dv_sidecars_after"] == 1
    paths_after = {p for e in TF._dv_map(mc).values() for p in e["paths"]}
    assert len(paths_after) == 1
    # per-directory tombstone counts carry verbatim
    assert {d: e["rows"] for d, e in TF._dv_map(mc).items()} == rows_before
    # visible rows are bit-identical
    got = sorted(tuple(r) for r in TF.read_version(spark, root).collect())
    assert got == want

    # idempotence: a second consolidation is a no-op (already folded)
    assert TF.consolidate_dv(spark, root) is None

    # change-feed across the consolidation stays KEYLESS fast path:
    # append -> dv-deletes -> consolidate -> append must serve O(changes)
    TF.commit_append(
        local_frame(spark, [(200, 600)], "k long, v long"), root
    )
    feed = TF.table_changes(spark, root, cv - 1)  # spans consolidation
    kinds = {r[TF.CHANGE_TYPE_COL] for r in feed.collect()}
    assert kinds == {"insert"}
    assert sorted(r["k"] for r in feed.collect()) == [200]

    # sidecar GC: rewrite one directory out of the dv map (CoW delete
    # touches it), then consolidation must drop its dead addresses
    TF.delete_where(spark, root, "k >= 50 AND k <= 60")  # CoW rewrite
    for k in (5, 7):
        TF.delete_where_dv(spark, root, f"k = {k}")
    cv2 = TF.consolidate_dv(spark, root)
    m2 = json.load(open(TF._manifest_path(root, cv2)))
    only = next(iter(
        {p for e in TF._dv_map(m2).values() for p in e["paths"]}
    ))
    folded = spark.read.parquet(os.path.join(root, only))
    live_dirs = set(TF._dv_map(m2).keys())
    addr_dirs = {
        os.path.dirname(r["_dv_path"]) for r in folded.collect()
    }
    assert addr_dirs <= live_dirs


def test_maybe_compact_runs_dv_consolidation_on_cadence(spark, tmp_path):
    """Below the directory-count threshold, ``maybe_compact`` still
    folds DV sidecars once ``max_dv_sidecars`` accumulate — one
    maintenance entry point bounds both read-path costs."""
    import json

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "dvcad")
    TF.commit_append(
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        root,
    )
    for k in (1, 2, 3):
        TF.delete_where_dv(spark, root, f"k = {k}")
    # 3 sidecars < 4: cadence does nothing
    assert TF.maybe_compact(
        spark, root, max_dirs=64, max_dv_sidecars=4
    ) is None
    TF.delete_where_dv(spark, root, "k = 4")
    v = TF.maybe_compact(spark, root, max_dirs=64, max_dv_sidecars=4)
    assert v is not None
    m = json.load(open(TF._manifest_path(root, v)))
    assert m["app"]["op"] == "consolidate_dv"
    assert len({p for e in TF._dv_map(m).values() for p in e["paths"]}) == 1
    got = sorted(r["k"] for r in TF.read_version(spark, root).collect())
    assert got == [0] + list(range(5, 40))


@pytest.mark.parametrize("seed", [11, 29, 83])
def test_consolidate_dv_two_writer_race(spark, tmp_path, seed):
    """Chaos: a consolidator racing two dv-deleters and an appender.
    Every CAS loser rebases; the final visible rows equal the serial
    truth regardless of interleaving, and the history is linear."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / f"dvconsrace{seed}")
    full = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(full.filter(F.col("k") < 40), root)
    TF.delete_where_dv(spark, root, "k = 39")  # seed one sidecar
    TF.delete_where_dv(spark, root, "k = 38")  # and another
    errors: list = []

    def deleter(w: int):
        rng = random.Random(seed * 5 + w)
        try:
            _time.sleep(rng.random() * 0.05)
            TF.delete_where_dv(
                spark, root, f"k % {5 if w == 0 else 7} = 0"
            )
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    def consolidator():
        rng = random.Random(seed * 11)
        try:
            for _ in range(2):
                _time.sleep(rng.random() * 0.04)
                TF.consolidate_dv(spark, root)
        except Exception as exc:  # noqa: BLE001
            errors.append(("cons", exc))

    def appender():
        try:
            _time.sleep(random.Random(seed).random() * 0.03)
            TF.commit_append(full.filter(F.col("k") >= 40), root)
        except Exception as exc:  # noqa: BLE001
            errors.append(("app", exc))

    threads = [
        threading.Thread(target=deleter, args=(0,)),
        threading.Thread(target=deleter, args=(1,)),
        threading.Thread(target=consolidator),
        threading.Thread(target=appender),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    hist = TF.history(root)
    versions = [m["version"] for m in hist]
    assert versions == list(range(len(hist)))
    for m in hist[1:]:
        assert m["parent"] == m["version"] - 1

    # consolidation never changes visible rows: low half is the serial
    # truth of both delete predicates + the two seeds
    got = sorted(r["k"] for r in TF.read_version(spark, root).collect())
    kept_low = [
        k for k in range(38) if k % 5 != 0 and k % 7 != 0
    ]
    assert [k for k in got if k < 40] == kept_low
    # and a final consolidation still serves the same rows
    TF.consolidate_dv(spark, root)
    assert sorted(
        r["k"] for r in TF.read_version(spark, root).collect()
    ) == got


def test_change_feed_fast_path_across_mor_upserts(spark, tmp_path):
    """Round-10 queue #5: a ``commit_upsert(mor=True)`` /
    ``update_where_dv`` step's changes ARE its sidecar addresses
    (pre-images -> ``delete``) plus its tail (new images ->
    ``insert``) — the keyless O(changes) fast path must span them
    instead of demanding keys for the O(table) endpoint diff."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "morfeed")
    mk = lambda rows: local_frame(spark, rows, "k long, v long")
    TF.commit_append(mk([(1, 10), (2, 20), (3, 30)]), root)       # v0
    TF.commit_append(mk([(4, 40), (5, 50)]), root)                # v1
    # mor upsert: k=2 updated, k=6 inserted                        v2
    TF.commit_upsert(spark, root, mk([(2, 222), (6, 60)]), keys=["k"], mor=True)
    # mor predicate update: k=4 gets v+1                           v3
    TF.update_where_dv(spark, root, "k = 4", {"v": "v + 1"})
    TF.commit_append(mk([(7, 70)]), root)                          # v4

    # keyless: must NOT raise (pre-round-10 this demanded keys=)
    feed = TF.table_changes(spark, root, 0)
    rows = [
        (r["k"], r["v"], r[TF.CHANGE_TYPE_COL], r[TF.COMMIT_VERSION_COL])
        for r in feed.collect()
    ]
    assert sorted(rows) == sorted([
        (4, 40, "insert", 1), (5, 50, "insert", 1),
        (2, 20, "delete", 2),                      # pre-image tombstoned
        (2, 222, "insert", 2), (6, 60, "insert", 2),
        (4, 40, "delete", 3),                      # pre-image tombstoned
        (4, 41, "insert", 3),
        (7, 70, "insert", 4),
    ])

    # replaying the whole-history feed (from None) reproduces the
    # live snapshot exactly
    full = TF.table_changes(spark, root, None)
    state: set = set()
    by_v: dict = {}
    for r in full.collect():
        by_v.setdefault(r[TF.COMMIT_VERSION_COL], []).append(r)
    for v in sorted(by_v):
        for r in by_v[v]:
            if r[TF.CHANGE_TYPE_COL] == "delete":
                state.discard((r["k"], r["v"]))
            else:
                state.add((r["k"], r["v"]))
    live = {
        (r["k"], r["v"]) for r in TF.read_version(spark, root).collect()
    }
    assert state == live

    # a matview WITHOUT row_keys refreshes over the whole range: the
    # feed never needs the keyed fallback, and the view equals a
    # from-scratch aggregate
    from opcua_ingestion_engine_spark.operators.matview import (
        MaterializedAggView,
    )

    src2, vr2 = str(tmp_path / "morsrc2"), str(tmp_path / "morview2")
    mkg = lambda rows: local_frame(spark, rows, "k long, g string, x long")
    view = MaterializedAggView(src2, vr2, group_keys=["g"], sum_cols=["x"])
    TF.commit_append(mkg([(1, "a", 1), (2, "a", 2), (3, "b", 4)]), src2)
    assert view.refresh(spark) == 0
    TF.commit_upsert(
        spark, src2, mkg([(2, "a", 200), (9, "b", 8)]), keys=["k"], mor=True
    )
    TF.commit_append(mkg([(10, "c", 16)]), src2)
    assert view.refresh(spark) == 1
    got = {
        (r["g"], r["n"], r["sum_x"]) for r in view.result(spark).collect()
    }
    assert got == {("a", 2, 201), ("b", 2, 12), ("c", 1, 16)}


@pytest.mark.parametrize("seed", [7, 31, 59])
def test_rollup_sink_two_writer_race(spark, tmp_path, seed):
    """Round-10 queue #6 (rollup face): two durable rollup writers on
    ONE state root, disjoint event halves, seeded jitter + an
    in-schedule redelivery. The additive commit_merge must rebase CAS
    losers, the manifest history stays linear, every batch lands once,
    and the final cascade equals the one-shot batch cascade over the
    union."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators import timeseries as TS
    from opcua_ingestion_engine_spark.streaming.rollup import (
        IncrementalRollupSink,
    )

    ev = C.load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    want = _rows(TS.multires_rollup(ev))
    root = str(tmp_path / f"rlrace{seed}")
    sinks = [
        IncrementalRollupSink(state_root=root),
        IncrementalRollupSink(state_root=root),
    ]
    errors: list = []

    def writer(w: int):
        rng = random.Random(seed * 13 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                half = (
                    F.col("event_id") % 4 < 2
                    if wave == 0
                    else F.col("event_id") % 4 >= 2
                )
                batch = ev.filter((F.col("event_id") % 2 == w) & half)
                sinks[w].process_batch(batch, w * 100 + wave)
                if rng.random() < 0.5:
                    sinks[w].process_batch(batch, w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    hist = TF.history(root)
    assert [m["version"] for m in hist] == list(range(len(hist)))
    bids = [
        m["app"]["batch_id"] for m in hist if "batch_id" in m.get("app", {})
    ]
    assert sorted(bids) == [0, 1, 100, 101]  # exactly once, no doubles

    final = IncrementalRollupSink(state_root=root)
    assert _rows(final.result()) == want and want


@pytest.mark.parametrize("seed", [3, 23, 71])
def test_heavy_hitters_sink_two_writer_race(spark, tmp_path, seed):
    """Round-10 queue #6 (heavy-hitters face): two durable MG-sketch
    writers on ONE root. The sketch lands via commit_merge (round-10
    fix — a commit_version rewrite would ERASE the racer's counts on a
    CAS rebase); mergeable-summaries addition keeps the candidate
    superset guarantee, so the exact recount equals the batch answer
    over the union regardless of interleaving."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators import text as T
    from opcua_ingestion_engine_spark.streaming.heavyhitters import (
        IncrementalHeavyHittersSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    want = _rows(T.frequent_tokens(docs, min_frac=0.01, capacity=600))
    assert want
    root = str(tmp_path / f"hhrace{seed}")
    sinks = [
        IncrementalHeavyHittersSink(capacity=600, state_root=root),
        IncrementalHeavyHittersSink(capacity=600, state_root=root),
    ]
    errors: list = []

    def writer(w: int):
        rng = random.Random(seed * 17 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                half = (
                    F.col("doc_id") % 4 < 2
                    if wave == 0
                    else F.col("doc_id") % 4 >= 2
                )
                batch = docs.filter((F.col("doc_id") % 2 == w) & half)
                sinks[w].process_batch(batch, w * 100 + wave)
                if rng.random() < 0.5:
                    sinks[w].process_batch(batch, w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    for sub in ("docs", "sketch"):
        hist = TF.history(root + "/" + sub)
        assert [m["version"] for m in hist] == list(range(len(hist)))
    bids = [
        m["app"]["batch_id"]
        for m in TF.history(root + "/docs")
        if "batch_id" in m.get("app", {})
    ]
    assert sorted(bids) == [0, 1, 100, 101]

    final = IncrementalHeavyHittersSink(capacity=600, state_root=root)
    assert _rows(final.result(0.01)) == want


@pytest.mark.parametrize("seed", [9, 37, 61])
def test_span_sink_two_writer_race(spark, tmp_path, seed):
    """Round-10 queue #6 (span-dedup face): two durable span writers,
    disjoint doc halves. Postings/seen are append-structured (CAS
    rebase commutes), the report aggregates at read time, so every
    interleaving must serve the one-shot batch report over the union."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.spans import (
        IncrementalSpanDedupSink,
    )

    docs = C.load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 150)
    want = _rows(D.repeated_spans(docs, k=15))
    assert want
    root = str(tmp_path / f"spanrace{seed}")
    sinks = [
        IncrementalSpanDedupSink(k=15, state_root=root),
        IncrementalSpanDedupSink(k=15, state_root=root),
    ]
    errors: list = []

    def writer(w: int):
        rng = random.Random(seed * 19 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                half = (
                    F.col("doc_id") % 4 < 2
                    if wave == 0
                    else F.col("doc_id") % 4 >= 2
                )
                batch = docs.filter((F.col("doc_id") % 2 == w) & half)
                sinks[w].process_batch(batch, w * 100 + wave)
                if rng.random() < 0.5:
                    sinks[w].process_batch(batch, w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    for sub in ("postings", "seen"):
        hist = TF.history(root + "/" + sub)
        assert [m["version"] for m in hist] == list(range(len(hist)))
    # no doc contributed windows twice (disjoint halves + seen guard)
    p = TF.read_version(spark, root + "/postings")
    assert p.groupBy("doc_id", "start").count().filter(
        F.col("count") > 1
    ).count() == 0

    final = IncrementalSpanDedupSink(k=15, state_root=root)
    assert _rows(final.result()) == want


@pytest.mark.parametrize("seed", [17, 41, 97])
def test_neardup_sink_two_writer_race(spark, tmp_path, seed):
    """Round-10 queue #6 (near-dup face): two durable MinHash-LSH
    writers, disjoint doc halves whose near-dup clusters are
    parity-homogeneous by construction (every true pair lives inside
    one writer) — so every interleaving must converge to the batch
    pipeline's exact verified pairs over the union; shingles/index/
    pairs tables stay linearizable and exactly-once."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark.operators import dedup as D
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.streaming.neardup import (
        IncrementalNearDupSink,
    )

    # cluster c occupies ids {4c, 4c+2} (writer 0) or {4c+1, 4c+3}
    # (writer 1): near-identical text inside a cluster, disjoint
    # vocabulary across clusters
    rows = []
    for c in range(10):
        base = " ".join(f"tok{c}_{j}" for j in range(30))
        tweak = base.replace(f"tok{c}_7", f"tok{c}_7x")
        lo = 4 * c + (c % 2)
        rows.append((lo, base))
        rows.append((lo + 2, tweak))
    docs = local_frame(spark, rows, "doc_id long, text string")
    want = _rows(
        D.minhash_neardup_pairs(docs, threshold=0.2)
        .select("doc_a", "doc_b")
    )
    assert want
    root = str(tmp_path / f"ndrace{seed}")
    kw = dict(threshold=0.2, state_root=root)
    sinks = [IncrementalNearDupSink(**kw), IncrementalNearDupSink(**kw)]
    errors: list = []

    def writer(w: int):
        rng = random.Random(seed * 23 + w)
        try:
            for wave in range(2):
                _time.sleep(rng.random() * 0.05)
                half = (
                    F.col("doc_id") % 4 < 2
                    if wave == 0
                    else F.col("doc_id") % 4 >= 2
                )
                batch = docs.filter((F.col("doc_id") % 2 == w) & half)
                sinks[w].process_batch(batch, w * 100 + wave)
                if rng.random() < 0.5:
                    sinks[w].process_batch(batch, w * 100 + wave)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [], errors

    for sub in ("shingles", "index", "pairs"):
        hist = TF.history(root + "/" + sub)
        assert [m["version"] for m in hist] == list(range(len(hist)))
    sh = TF.read_version(spark, root + "/shingles")
    assert sh.count() == sh.select("doc_id").distinct().count()

    final = IncrementalNearDupSink(**kw)
    got = _rows(final.pairs.select("doc_a", "doc_b").distinct())
    assert got == want


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """Round-10 [EXT]: Delta-parity CHECK constraints — table
    properties validated at ADD time against the live snapshot and
    enforced on the rows every write path lands (append, upsert tail,
    CoW update rewrite, MoR update tail, full sync). A refused commit
    leaves neither data nor manifest; NULL evaluations PASS (SQL CHECK
    semantics); DROP lifts enforcement."""
    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "ck")
    mk = lambda rows: local_frame(spark, rows, "k long, v long")
    TF.commit_version(mk([(1, 10), (2, 20)]), root)
    TF.add_constraint(spark, root, "v_nonneg", "v >= 0")

    # duplicate name refused; violating ADD refused
    with _pytest.raises(ValueError, match="already exists"):
        TF.add_constraint(spark, root, "v_nonneg", "v >= 0")
    with _pytest.raises(ValueError, match="existing rows violate"):
        TF.add_constraint(spark, root, "v_small", "v < 15")

    # valid writes pass
    TF.commit_append(mk([(3, 30)]), root)
    TF.commit_upsert(spark, root, mk([(2, 200)]), keys=["k"])

    v_before = TF.latest_version(root)
    # every violating write path refuses BEFORE landing anything
    with _pytest.raises(ValueError, match="v_nonneg"):
        TF.commit_append(mk([(9, -1)]), root)
    with _pytest.raises(ValueError, match="v_nonneg"):
        TF.commit_upsert(spark, root, mk([(1, -5)]), keys=["k"])
    with _pytest.raises(ValueError, match="v_nonneg"):
        TF.commit_upsert(spark, root, mk([(1, -5)]), keys=["k"], mor=True)
    with _pytest.raises(ValueError, match="v_nonneg"):
        TF.update_where(spark, root, "k = 1", {"v": "0 - v"})
    with _pytest.raises(ValueError, match="v_nonneg"):
        TF.update_where_dv(spark, root, "k = 1", {"v": "0 - v"})
    with _pytest.raises(ValueError, match="v_nonneg"):
        TF.commit_full_sync(spark, root, mk([(1, -10)]), keys=["k"])
    assert TF.latest_version(root) == v_before  # nothing landed
    got = sorted(tuple(r) for r in TF.read_version(spark, root).collect())
    assert got == [(1, 10), (2, 200), (3, 30)]

    # NULL evaluations pass (SQL CHECK semantics)
    TF.commit_append(
        local_frame(spark, [(4, None)], "k long, v long"), root
    )

    # deletes never violate (they land no rows)
    TF.delete_where_dv(spark, root, "k = 3")

    # drop lifts enforcement; unknown names raise
    with _pytest.raises(ValueError, match="no constraint"):
        TF.drop_constraint(root, "nope")
    TF.drop_constraint(root, "v_nonneg")
    TF.commit_append(mk([(9, -1)]), root)
    assert TF.table_constraints(root) == {}


def test_constraints_skip_data_identical_maintenance(spark, tmp_path, monkeypatch):
    """Maintenance rewrites (compact) land rows valid by induction —
    they must NOT pay a violation-probe scan per constraint, while real
    writes still do and enforcement survives the compaction."""
    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / "ckmaint")
    mk = lambda rows: local_frame(spark, rows, "k long, v long")
    TF.commit_version(mk([(1, 10), (2, 20)]), root)
    TF.add_constraint(spark, root, "v_nonneg", "v >= 0")
    TF.commit_append(mk([(3, 30)]), root)

    # since round 12 the probe rides the commit's own write job
    # (_constraints_obs / verify) instead of a separate pre-write scan —
    # spy on the new choke point: a non-None verifier IS an armed probe
    probed: list = []
    real = TF._constraints_obs

    def spy(df, root_, op):
        out_df, verify = real(df, root_, op)
        if verify is not None:
            probed.append(op)
        return out_df, verify

    monkeypatch.setattr(TF, "_constraints_obs", spy)
    TF.compact(spark, root)
    assert probed == []  # identity rewrite: no probe

    # enforcement still live after the maintenance pass
    with _pytest.raises(ValueError, match="v_nonneg"):
        TF.commit_append(mk([(9, -1)]), root)
    assert probed == ["commit_append"]


@pytest.mark.parametrize("seed", [13, 57])
def test_constraints_two_writer_race(spark, tmp_path, seed):
    """Once the constraints file EXISTS, enforcement is race-free per
    writer (each probes its own frame immediately before its write):
    two appenders race, one always violating — every violating attempt
    refuses, every valid batch lands exactly once, and the final table
    satisfies the constraint everywhere."""
    import random
    import threading
    import time as _time

    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    root = str(tmp_path / f"ckrace{seed}")
    mk = lambda rows: local_frame(spark, rows, "k long, v long")
    TF.commit_version(mk([(0, 0)]), root)
    TF.add_constraint(spark, root, "v_nonneg", "v >= 0")
    errors: list = []
    refused: list = []

    def writer(w: int):
        rng = random.Random(seed * 7 + w)
        try:
            for wave in range(3):
                _time.sleep(rng.random() * 0.04)
                k0 = 1000 * (w + 1) + 10 * wave
                if w == 1 and wave == 1:
                    try:
                        TF.commit_append(mk([(k0, -5)]), root)
                    except ValueError as e:
                        assert "v_nonneg" in str(e)
                        refused.append(wave)
                    else:
                        errors.append((w, "violating append landed"))
                else:
                    TF.commit_append(mk([(k0, k0)]), root)
        except Exception as exc:  # noqa: BLE001
            errors.append((w, exc))

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [] and refused == [1]

    hist = TF.history(root)
    assert [m["version"] for m in hist] == list(range(len(hist)))
    rows = TF.read_version(spark, root)
    assert rows.filter(F.col("v") < 0).count() == 0
    assert rows.count() == 1 + 5  # base + five valid waves


def test_bm25_forget_ids_right_to_be_forgotten(spark, tmp_path):
    """Round-10 [EXT]: forget documents from the maintained BM25 index
    WITHOUT a rebuild — one merge-on-read delete per index table.
    Post-forget serving equals the one-shot operator over the REMAINING
    corpus bit-for-bit (totals demote to the DV-subtracting scan path),
    and the next compaction folds the vectors and restores
    metadata-only totals with the answer unchanged. A forgotten id
    re-opens for ingestion."""
    from opcua_ingestion_engine_spark.operators import tablefmt as TF
    from opcua_ingestion_engine_spark.operators.retrieval import bm25_topk
    from opcua_ingestion_engine_spark.streaming.bm25index import (
        IncrementalBm25IndexSink, bm25_forget_ids, bm25_topk_from_index,
    )

    root = str(tmp_path / "bm25forget")
    docs = local_frame(spark,
        [
            (i, f"alpha beta doc{i % 5} " + "pad " * (i % 4 + 1))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    sink = IncrementalBm25IndexSink(root, auto_compact=None)
    for b in range(3):
        sink.process_batch(docs.filter((F.col("doc_id") % 3) == b), b)

    gone = [7, 12, 31]
    keep_docs = docs.filter(~F.col("doc_id").isin(gone))
    bm25_forget_ids(spark, root, gone)

    # serving == one-shot over the remaining corpus, exactly; totals
    # came off the scan path (doclens dirs are vectored now)
    audit = {}
    got = bm25_topk_from_index(
        spark, root, ["alpha", "doc2"], k=10, audit=audit
    ).collect()
    want = bm25_topk(keep_docs, ["alpha", "doc2"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert audit["dirs_scanned"] >= 1, audit
    assert not any(r["doc_id"] in gone for r in got)

    # maintenance restores metadata-only totals; the answer is unchanged
    TF.compact(spark, root + "/postings")
    TF.compact(spark, root + "/doclens")
    audit = {}
    got2 = bm25_topk_from_index(
        spark, root, ["alpha", "doc2"], k=10, audit=audit
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got2] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert audit["dirs_scanned"] == 0, audit

    # a forgotten id has left the registry: re-ingest with NEW text
    sink2 = IncrementalBm25IndexSink(root, auto_compact=None)
    sink2.process_batch(
        local_frame(spark,
            [(7, "alpha alpha alpha doc2")], "doc_id long, text string"
        ),
        99,
    )
    re_docs = keep_docs.unionByName(
        local_frame(spark,
            [(7, "alpha alpha alpha doc2")], "doc_id long, text string"
        )
    )
    got3 = bm25_topk_from_index(spark, root, ["alpha", "doc2"], k=10).collect()
    want3 = bm25_topk(re_docs, ["alpha", "doc2"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got3] == [
        (r["doc_id"], r["score"]) for r in want3
    ]


def test_ann_forget_ids_right_to_be_forgotten(spark, tmp_path):
    """Round-10 [EXT]: forget vectors from the maintained ANN index —
    one merge-on-read delete on the codes table; forgotten ids can
    never surface (the rerank only sees candidates, and candidates come
    from the DV-subtracted codes read). Append-mode re-ingest re-opens
    the id."""
    import numpy as np

    from opcua_ingestion_engine_spark.streaming.annindex import (
        IncrementalAnnIndexSink, ann_index_forget, ann_index_search,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(80, 8))
    # id 3 is the EXACT duplicate of the query: guaranteed top-1
    q_vec = base[3].copy()
    rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
    vectors = local_frame(spark, rows, "vec_id long, embedding array<double>")
    queries = local_frame(spark,
        [(0, [float(x) for x in q_vec])], "vec_id long, embedding array<double>"
    )
    root = str(tmp_path / "annforget")
    sink = IncrementalAnnIndexSink(
        root, n_cells=4, m=4, ksub=16, mode="append", auto_compact=None
    )
    for b in range(2):
        sink.process_batch(vectors.filter((F.col("vec_id") % 2) == b), b)

    before = ann_index_search(
        spark, root, vectors, queries, k=5, nprobe=4, rerank=40
    ).collect()
    assert before[0]["neighbor_id"] == 3  # the planted duplicate wins

    ann_index_forget(spark, root, [3])
    after = ann_index_search(
        spark, root, vectors, queries, k=5, nprobe=4, rerank=40
    ).collect()
    ids_after = [r["neighbor_id"] for r in after]
    assert 3 not in ids_after and len(ids_after) == 5
    # the rest of the ranking is the before-list with id 3 removed,
    # promoted by one (the rerank is exact over candidates)
    assert ids_after[:4] == [r["neighbor_id"] for r in before[1:5]]

    # forgotten id re-opens for append-mode ingestion with a NEW vector
    sink.process_batch(
        local_frame(spark,
            [(3, [float(x) for x in q_vec])],
            "vec_id long, embedding array<double>",
        ),
        7,
    )
    again = ann_index_search(
        spark, root, vectors, queries, k=5, nprobe=4, rerank=40
    ).collect()
    assert again[0]["neighbor_id"] == 3
