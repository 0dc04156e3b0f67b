"""Events replayer + foreachBatch merge sink (SURVEY.md §2.1 S1/S2,
§2.8 T7/T9; reference data path ``Services/OpcSubscribeService.cs:522-598``).

The reference's source is an OPC UA subscription pushing notifications;
its sink is a per-update Postgres upsert. The Spark-first equivalents:

- **Source (S1/S2)**: the ``opc_updates`` stream replayed as a REAL
  Structured Streaming file source — micro-batch files written in
  received_ts order, read back with ``maxFilesPerTrigger=1`` so each file
  is one micro-batch (S2's queue drain). Arrival order therefore follows
  processing time, like the reference's notification callbacks.
- **Sink (S9/S10/T9)**: ``foreachBatch`` folding each micro-batch into the
  per-point state with ``merge_perpoint_states`` — the Delta ``MERGE INTO``
  analogue. The state reducer is max/max over ordering-prefixed structs,
  so it is associative/commutative/idempotent: batch boundaries, replays
  and retries cannot change the final state (exactly-once-equivalent
  semantics without row locks).
- **Backpressure (T7)**: optional queue-10 drop-oldest per point per
  micro-batch, mirroring the MonitoredItem bounded queue
  (``OpcSubscribeService.cs:236-237``). The bound applies BEFORE the
  client-side staleness/quality handling, as in the reference (the OPC
  server's queue overflows first, ``:558-585`` filter later). With LWW
  state the shed stream equals the identically-shed batch bit-for-bit
  (``bench.py --streaming`` pins this at sf0.1); it equals the UNSHED
  batch only while the per-node newest-10 window still contains the
  latest valid good value — true at low per-batch density (the pinned
  fixture test), measurably not at sf0.1 (~12 updates/node/batch: 7 of
  ~500 points keep an older value whose newer shadows were stale/bad).

Determinism: everything is keyed on the fixture's ``received_ts`` logical
clock (SURVEY.md §7 risk 1 — operators never read the wall clock), so
``tests/test_streaming.py`` can assert replayed-final-state == batch
flagship output bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators import ingest


def write_replay_batches(
    updates: DataFrame, out_dir: str, num_batches: int = 8
) -> list[str]:
    """Split the update stream into ``num_batches`` files by received_ts
    order (ntile), one parquet file per micro-batch. Returns file paths."""
    w = W.orderBy("received_ts", "event_id")
    # materialize the ntile assignment ONCE: the per-batch filter loop
    # below would otherwise re-run the full single-partition window sort
    # num_batches times (one whole-stream sort per file written)
    batched = updates.withColumn(
        "_b", F.ntile(num_batches).over(w)
    ).localCheckpoint(eager=True)
    paths = []
    for b in range(1, num_batches + 1):
        path = os.path.join(out_dir, f"batch_{b:04d}")
        (
            batched.filter(F.col("_b") == b)
            .drop("_b")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        paths.append(path)
    return paths


def shed_to_queue_bound(batch: DataFrame, queue_size: int = 10) -> DataFrame:
    """T7 — per-point bounded queue, drop-oldest: within one micro-batch
    keep only the newest ``queue_size`` updates of each node
    (MonitoredItem QueueSize=10, DiscardOldest — OpcSubscribeService.cs:236-237)."""
    w = W.partitionBy("node_id").orderBy(
        F.col("received_ts").desc(), F.col("event_id").desc()
    )
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= queue_size)
        .drop("_rn")
    )


class ModvaluesMergeSink:
    """foreachBatch sink: folds micro-batches into the per-point state.

    Ephemeral mode (default): state lives as an eagerly
    localCheckpoint'ed DataFrame (micro-batch state is O(configured
    points)).

    Durable mode (``state_root`` set): every micro-batch lands as a
    versioned-table commit through ``tablefmt.commit_merge`` — the
    manifest-CAS MERGE INTO analogue. This buys, with tests pinning
    each: (a) RESTART RECOVERY — a fresh sink on the same root resumes
    from the last committed snapshot; (b) REDELIVERY SAFETY — the
    max/max LWW reducer is idempotent, so a re-processed micro-batch
    commits a new version with an identical snapshot; (c) MULTI-WRITER
    safety — a concurrent committer forces a CAS rebase, not a lost
    update (the reference's row-locked upsert,
    ``Services/OpcSubscribeService.cs:608-641``, done optimistically).

    The static half of the view is derived once, when the sink is
    built, as JVM-local rows (``ingest.static_rows``): ``mon`` holds the
    monitored devices and ``tpl`` the configured points (monitored
    devices x template points), the two frames
    ``ingest.snapshot_from_state`` takes. So ``snapshot()`` works before
    any batch — in particular on a sink just recovered from
    ``state_root`` — and each read scans driver-held rows instead of
    re-deriving the catalog join: it is one statement that runs as one
    job with one task, the same back half as the batch flagship.
    """

    def __init__(
        self,
        devices: DataFrame,
        templates: DataFrame,
        connections: DataFrame,
        queue_size: int | None = None,
        state_root: str | None = None,
    ):
        self.devices = devices
        self.templates = templates
        self.connections = connections
        self.queue_size = queue_size
        self.state_root = state_root
        self.state: DataFrame | None = None
        self.mon, self.tpl = ingest.static_rows(*ingest.catalog_frames(devices, templates))
        self.batches_seen = 0
        self._committed_batch_ids: set[int] = set()
        if state_root is not None:
            from ..operators import tablefmt as TF

            spark = devices.sparkSession
            if TF.latest_version(state_root) is not None:
                # restart recovery: resume from the committed snapshot,
                # and reload which batch_ids already landed so a replayed
                # batch is SKIPPED instead of committing a duplicate
                # (harmless under LWW, but version history stays 1:1
                # with processed batches — exact-once commits)
                self.state = TF.read_version(spark, state_root)
                self._committed_batch_ids = {
                    m["app"]["batch_id"]
                    for m in TF.history(state_root)
                    if "batch_id" in m.get("app", {})
                }

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.state_root is not None and batch_id in self._committed_batch_ids:
            return  # replayed batch already committed to the state table
        if self.queue_size is not None:
            batch = shed_to_queue_bound(batch, self.queue_size)
        joined, _, _ = ingest.prepare_stream(
            batch, self.devices, self.templates, self.connections
        )
        # eager: commit_merge may re-run the merge on a CAS rebase, and
        # the ephemeral path's checkpoint would otherwise re-derive the
        # whole prepare/perpoint lineage there
        incoming = ingest.perpoint_state(joined).localCheckpoint(eager=True)
        if self.state_root is not None:
            from ..operators import tablefmt as TF

            spark = batch.sparkSession
            TF.commit_merge(
                spark,
                self.state_root,
                lambda current: ingest.merge_perpoint_states(current, incoming),
                app={"batch_id": batch_id},
            )
            self.state = TF.read_version(spark, self.state_root)
            self._committed_batch_ids.add(batch_id)
        else:
            merged = ingest.merge_perpoint_states(self.state, incoming)
            # pin each state version: truncates lineage so state cost
            # stays O(points), not O(batches x plan-depth)
            self.state = merged.localCheckpoint(eager=True)
        self.batches_seen += 1

    def snapshot(self, liveness_window_s: int = 60) -> DataFrame:
        """The current modvalues view — same back half as the batch
        flagship."""
        if self.state is None:
            raise RuntimeError("no batches processed yet")
        return ingest.snapshot_from_state(
            self.state, self.mon, self.tpl, liveness_window_s
        )


def run_replay_stream(
    spark: SparkSession,
    schema,
    src_dir: str,
    ckpt_dir: str,
    sink: ModvaluesMergeSink,
) -> None:
    """Run the Structured Streaming leg alone (file source,
    maxFilesPerTrigger=1, availableNow) over already-written batch files —
    split out of ``replay_modvalues`` so ``bench.py --streaming`` can time
    the stream without the one-time file-splitting setup."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "batch_*"))
    )
    query = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def replay_modvalues(
    spark: SparkSession,
    updates: DataFrame,
    devices: DataFrame,
    templates: DataFrame,
    connections: DataFrame,
    work_dir: str,
    num_batches: int = 8,
    queue_size: int | None = None,
    state_root: str | None = None,
) -> ModvaluesMergeSink:
    """End-to-end replay: write micro-batch files, run a real Structured
    Streaming query (file source, maxFilesPerTrigger=1, availableNow)
    through the merge sink, and return the sink holding the final state.
    ``state_root`` switches the sink to durable versioned-table state."""
    src_dir = os.path.join(work_dir, "stream_src")
    ckpt_dir = os.path.join(work_dir, "checkpoint")
    write_replay_batches(updates, src_dir, num_batches)
    sink = ModvaluesMergeSink(devices, templates, connections, queue_size, state_root)
    run_replay_stream(spark, updates.schema, src_dir, ckpt_dir, sink)
    return sink
