"""The two workloads: inputs, the timed closed loop, and the checks.

Each workload is a closed loop from one process on ``local[k]``: the
next operation starts only when the previous one has finished.

- ``ingest_opcua_durable``: the ``opcua_sim`` connector (one partition
  per connection) drained as fast as the engine allows into a durable
  ``replay.ModvaluesMergeSink``, so every micro-batch is a
  ``tablefmt.commit_merge``; the current-state view is read once after
  each commit, as a dashboard beside the writer would.
- ``neardup_corpus``: ``dedup.minhash_neardup_pairs`` (threshold 0.2)
  over a seeded corpus: each pass materialises the verified pairs, then
  reads them to the driver ``neardup_reads`` times, as several readers
  of one result would.

A round is one micro-batch plus its read (one pass plus its reads on
``neardup_corpus``). The first ``warmup`` rounds belong to set-up; the
rounds after them run until ``seconds`` have passed, and the round
running at the deadline is finished. Every read is checked after the
timed phase (``check``), so checking costs the loop nothing.
"""

from __future__ import annotations

import ast
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
from pyspark.errors import StreamingQueryException

import gen
import oracle
import tracing as T
from clock import StealMeter

SCALES = {
    "full": {"events": 100_000, "days": 30, "batches": 50,
             "docs": 2_000, "warmup": 3, "neardup_warmup": 3, "neardup_reads": 20},
    "toy": {"events": 3_000, "days": 1, "batches": 10,
            "docs": 500, "warmup": 1, "neardup_warmup": 1, "neardup_reads": 2},
}

THRESHOLD = 0.2  # as in q_e2_minhash_neardup
MUST_FIND = 0.8  # planted pairs at or above this exact Jaccard must be reported


@dataclass
class Read:
    start: float
    end: float
    rows: list


@dataclass
class Round:
    key: object  # batch id, or pass number
    start: float
    commit: float  # state committed and readable / pairs materialised
    timed: bool
    reads: list[Read] = field(default_factory=list)  # one after another, from commit on
    trigger: float = 0.0  # start of the trigger that planned the batch
    n_in: int = 0  # notifications in the batch

    @property
    def end(self) -> float:
        return self.reads[-1].end


@dataclass
class Outcome:
    rounds: list[Round]
    final: list | None  # rows of the final-state read, if any
    final_key: object = None
    t_session: float = 0.0
    t_timed: float = 0.0
    records: int = 0  # notifications folded, or documents scanned, in timed rounds

    @property
    def timed(self) -> list[Round]:
        return [r for r in self.rounds if r.timed]


def p50(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(out: Outcome, clock: StealMeter) -> dict:
    """The end-to-end metrics; every interval counts the seconds the
    machine had its CPUs (``clock.own``), equal to wall time without
    hypervisor steal."""
    timed = out.timed
    reads = [clock.own(x.start, x.end) for r in timed for x in r.reads]
    busy = clock.own(out.t_timed, timed[-1].end) - sum(reads)
    return {
        "setup_s": clock.own(out.t_session, out.t_timed),
        "batch_latency_s_p50": p50([clock.own(r.trigger, r.commit) for r in timed]),
        "read_s_p50": p50(reads),
        "records_per_s": out.records / busy,
    }


def wall(out: Outcome) -> dict:
    """The same figures in plain wall time, for the run's summary."""
    timed = out.timed
    reads = [x.end - x.start for r in timed for x in r.reads]
    return {
        "setup_s": out.t_timed - out.t_session,
        "batch_latency_s_p50": p50([r.commit - r.trigger for r in timed]),
        "read_s_p50": p50(reads),
        "records_per_s": out.records / ((timed[-1].end - out.t_timed) - sum(reads)),
    }


# ---------------------------------------------------------------------------
# ingest_opcua_durable
# ---------------------------------------------------------------------------


class StreamLoop:
    """foreachBatch callback running one round per micro-batch, and a
    watcher thread that stops the query once the deadline has passed."""

    def __init__(self, seconds: float, warmup: int):
        self.seconds = seconds
        self.warmup = warmup
        self.rounds: list[Round] = []
        self.t_timed: float | None = None
        self.done = threading.Event()
        self.finished = threading.Event()
        self.query = None

    def callback(self, process, read, before=None):
        def on_batch(df, batch_id):
            if self.done.is_set():
                return  # past the deadline: the query is being stopped
            t0 = time.time()
            if before is not None:
                df = before(df)
            process(df, batch_id)
            t1 = time.time()
            rows = read()
            t2 = time.time()
            self.rounds.append(Round(batch_id, t0, t1, self.t_timed is not None,
                                     [Read(t1, t2, rows)]))
            if self.t_timed is None:
                if len(self.rounds) >= self.warmup:
                    self.t_timed = t2
            elif t2 >= self.t_timed + self.seconds:
                self.done.set()

        return on_batch

    def _watch(self):
        while not self.finished.is_set():
            if self.done.is_set():
                # let the last round's batch commit and report progress
                last = self.rounds[-1].key
                deadline = time.time() + 60
                while time.time() < deadline:
                    p = self.query.lastProgress
                    if p is not None and p.batchId >= last:
                        break
                    time.sleep(0.02)
                self.query.stop()
                return
            time.sleep(0.05)

    def run(self, start) -> list:
        """Start the query (``start()`` returns it) and run it until the
        deadline or until its input is exhausted; returns its progress
        records."""
        self.query = start()
        watcher = threading.Thread(target=self._watch, daemon=True)
        watcher.start()
        try:
            self.query.awaitTermination()
        except StreamingQueryException as e:
            if not self.done.is_set():
                raise
            # stopping interrupts the trigger after the last round; that
            # batch was never going to be measured
            print(f"stream stopped with: {e!r}"[:500], file=sys.stderr)
        finally:
            self.finished.set()
            watcher.join(timeout=60)
        if self.t_timed is None or not any(r.timed for r in self.rounds):
            raise RuntimeError("the stream ended before any timed round")
        progress = self.query.recentProgress
        by_id = {p.batchId: p for p in progress}
        for r in self.rounds:
            p = by_id[r.key]
            r.trigger = datetime.fromisoformat(p.timestamp).timestamp()
            r.n_in = p.numInputRows
        return progress


def _ingest_layers(tracer: T.Tracer, out: Outcome, elog: T.EventLog) -> dict:
    timed = out.timed
    a, b = out.t_timed, timed[-1].end
    batches = [(r.trigger, r.end) for r in timed]
    ids = {r.key for r in timed}
    prog = [p for p in tracer.progress if p["batchId"] in ids]
    dur = lambda k: T.median(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
    plan = [
        sum(e - s for n in ("ingest.prepare_stream", "ingest.perpoint_state",
                            "ingest.merge_perpoint_states", "ingest.snapshot_from_state")
            for s, e in tracer.within(n, r0, r1))
        for r0, r1 in batches
    ]
    commits = tracer.within("tablefmt.commit_merge", a, b)
    layers = {
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.input_rows_per_batch": T.median(p["numInputRows"] for p in prog),
        "replay.process_batch_s_p50": T.median(
            e - s for s, e in tracer.within("replay.process_batch", a, b)),
        "ingest.plan_s_p50": T.median(plan),
        "ingest.jobs_per_batch": T.median(
            len(elog.jobs_in([s])) for s in tracer.within("replay.process_batch", a, b)),
        "tablefmt.commit_merge_s_p50": T.median(e - s for s, e in commits),
        "tablefmt.read_version_s_p50": T.median(
            e - s for s, e in tracer.within("tablefmt.read_version", a, b)),
        "tablefmt.jobs_per_commit": T.median(len(elog.jobs_in([s])) for s in commits),
    }
    n = len(commits)
    for k in ("tablefmt.bytes_per_commit", "tablefmt.files_per_commit"):
        layers[k] = T.median(tracer.counts[k][-n:]) if n else 0.0
    layers["tablefmt.cas_retries"] = float(sum(tracer.counts["tablefmt.cas_retries"][-n:])) if n else 0.0
    layers.update(elog.per_round(batches))
    return layers


def _trace_ingest(tracer: T.Tracer) -> None:
    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    for name in ("prepare_stream", "perpoint_state", "merge_perpoint_states", "snapshot_from_state"):
        tracer.wrap(ingest, name, f"ingest.{name}")

    def around_commit(call, spark, root, merge_fn, *args, **kw):
        calls = [0]

        def counted(current):
            calls[0] += 1
            return merge_fn(current)

        before = T.dir_files(root)
        v = call(spark, root, counted, *args, **kw)
        new = {p: s for p, s in T.dir_files(root).items() if p not in before}
        tracer.count("tablefmt.cas_retries", calls[0] - 1)
        tracer.count("tablefmt.bytes_per_commit", sum(new.values()))
        tracer.count("tablefmt.files_per_commit", len(new))
        return v

    tracer.wrap(TF, "commit_merge", "tablefmt.commit_merge", around_commit)
    tracer.wrap(TF, "read_version", "tablefmt.read_version")


def _check_view(rows, expect, fault) -> str:
    """'ok', 'fault' (equals the known-fault model) or 'wrong'."""
    got = oracle.view_rows(rows)
    if got == expect:
        return "ok"
    return "fault" if got == fault else "wrong"


def _tally(verdict: list[tuple[bool, str]]) -> tuple[int, int, bool]:
    """(attempted, failed, correct) over the (counted, verdict) of every
    read: the reads of timed rounds and the final read are counted,
    warm-up reads are checked for correctness only. A 'fault' verdict is
    the known connector fault: failed, but explained. Anything 'wrong',
    warm-up included, makes the run incorrect."""
    counted = [v for c, v in verdict if c]
    failed = sum(v != "ok" for v in counted)
    correct = all(v != "wrong" for _, v in verdict)
    return len(counted), failed, correct


class IngestOpcuaDurable:
    name = "ingest_opcua_durable"

    def __init__(self, seed: int, scale: dict, work: str):
        self.scale = scale
        self.work = work
        events = gen.events_history(seed, scale["events"], scale["days"])
        self.data_dir = os.path.join(work, "data")
        self.path = os.path.join(self.data_dir, "events.parquet")
        gen.write_events(events, self.path)
        self.events = events
        self.received = np.sort(gen.received_us(events))

    def run(self, spark, seconds: float, tracer: T.Tracer | None, t_session: float) -> Outcome:
        from opcua_ingestion_engine_spark import catalog as C
        from opcua_ingestion_engine_spark.operators import ingest
        from opcua_ingestion_engine_spark.operators import tablefmt as TF
        from opcua_ingestion_engine_spark.streaming import replay
        from opcua_ingestion_engine_spark.streaming.opcua_source import OpcUaSimDataSource

        before = None
        if tracer is not None:
            _trace_ingest(tracer)
            spark.streams.addListener(tracer.listener())

            def before(df):
                with tracer.span("opcua_source.read"):
                    df = df.localCheckpoint(eager=True)
                tracer.count("opcua_source.partitions", df.rdd.getNumPartitions())
                return df

        spark.dataSource.register(OpcUaSimDataSource)
        state_root = os.path.join(self.work, "state")
        sink = replay.ModvaluesMergeSink(
            C.site_devices(spark, self.data_dir), C.sos_templates(spark),
            C.opc_client_connections(spark), state_root=state_root)
        if tracer is not None:
            tracer.wrap(sink, "process_batch", "replay.process_batch")
        loop = StreamLoop(seconds, self.scale["warmup"])
        on_batch = loop.callback(sink.process_batch, lambda: sink.snapshot().collect(), before)
        progress = loop.run(lambda: (
            spark.readStream.format("opcua_sim")
            .option("path", self.path)
            .option("num_batches", str(self.scale["batches"]))
            .load()
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(self.work, "ckpt"))
            .start()
        ))
        # progress shows the connector's offsets as Python literals,
        # "{'ts_us': N}", and the first start offset as "None"
        offset = lambda o: ast.literal_eval(o)["ts_us"] if o and o != "None" else None  # noqa: E731
        self.window = {
            p.batchId: (offset(p.sources[0].startOffset), offset(p.sources[0].endOffset))
            for p in progress
        }
        # final state: the table's latest version read afresh, as a
        # dashboard would after the writer has gone
        final = ingest.snapshot_from_state(
            TF.read_version(spark, state_root), sink.mon, sink.tpl).collect()
        out = Outcome(loop.rounds, final, loop.rounds[-1].key,
                      t_session=t_session, t_timed=loop.t_timed)
        out.records = sum(r.n_in for r in out.timed)
        return out

    def _expected_in(self, key) -> int:
        lo, hi = self.window[key]
        lo = -(1 << 62) if lo is None else lo
        return int(np.searchsorted(self.received, hi, "right")
                   - np.searchsorted(self.received, lo, "right"))

    def check(self, out: Outcome) -> tuple[int, int, bool]:
        """Each read against the oracle over the notifications received
        up to its batch's end offset; a batch must also carry exactly
        the notifications of its offset window."""
        good = oracle.FlagshipOracle(self.events)
        bad = oracle.FlagshipOracle(self.events, fault_model=True)
        pred = lambda k: (  # noqa: E731
            "epoch_us(ts) + (event_id % 150) * 1000000 <= " + str(self.window[k][1]))
        try:
            verdict = [
                (r.timed, "wrong" if r.n_in != self._expected_in(r.key)
                 else _check_view(x.rows, good.rows(pred(r.key)), bad.rows(pred(r.key))))
                for r in out.rounds for x in r.reads
            ]
            verdict.append((True, _check_view(out.final, good.rows(pred(out.final_key)),
                                              bad.rows(pred(out.final_key)))))
        finally:
            good.close()
            bad.close()
        return _tally(verdict)

    def layers(self, tracer, out, elog) -> dict:
        layers = _ingest_layers(tracer, out, elog)
        n = len(out.timed)
        a, b = out.t_timed, out.timed[-1].end
        layers["opcua_source.read_s_p50"] = T.median(
            e - s for s, e in tracer.within("opcua_source.read", a, b))
        layers["opcua_source.partitions_per_batch"] = T.median(
            tracer.counts["opcua_source.partitions"][-n:])
        return layers


# ---------------------------------------------------------------------------
# neardup_corpus
# ---------------------------------------------------------------------------


class NeardupCorpus:
    name = "neardup_corpus"

    def __init__(self, seed: int, scale: dict, work: str):
        self.scale = scale
        docs, planted = gen.corpus(seed, scale["docs"])
        self.data_dir = os.path.join(work, "data")
        gen.write_corpus(docs, os.path.join(self.data_dir, "documents.parquet"))
        self.n_docs = len(docs)
        self.sets = {int(i): oracle.shingles(t) for i, t in zip(docs["doc_id"], docs["text"])}
        self.must_find = {
            (min(s, c), max(s, c)) for s, c, _ in planted
            if oracle.jaccard(self.sets[s], self.sets[c]) >= MUST_FIND
        }

    def run(self, spark, seconds: float, tracer: T.Tracer | None, t_session: float) -> Outcome:
        from opcua_ingestion_engine_spark import catalog as C
        from opcua_ingestion_engine_spark.operators import dedup as D

        self.candidates = None
        if tracer is not None:
            def keep(call, *args, **kw):
                self.candidates = call(*args, **kw)
                return self.candidates
            tracer.wrap(D, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs", keep)
        docs = C.load_table(spark, self.data_dir, "documents").select("doc_id", "text")
        rounds: list[Round] = []
        t_timed = None
        i = 0
        while t_timed is None or rounds[-1].end < t_timed + seconds:
            t0 = time.time()
            pairs = D.minhash_neardup_pairs(docs, threshold=THRESHOLD).localCheckpoint(eager=True)
            t1 = time.time()
            r = Round(i, t0, t1, t_timed is not None, trigger=t0)
            for _ in range(self.scale["neardup_reads"]):
                a = time.time()
                rows = pairs.collect()
                r.reads.append(Read(a, time.time(), rows))
            rounds.append(r)
            i += 1
            if t_timed is None and len(rounds) >= self.scale["neardup_warmup"]:
                t_timed = r.end
        out = Outcome(rounds, None, t_session=t_session, t_timed=t_timed)
        out.records = self.n_docs * len(out.timed)
        if tracer is not None:
            # once, outside the timed phase: the candidate count is a
            # property of the corpus and the band geometry
            self.n_candidates = self.candidates.count()
        return out

    def check(self, out: Outcome) -> tuple[int, int, bool]:
        verdict = [
            (rd.timed, "wrong" if oracle.check_pairs(
                [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in x.rows],
                self.sets, self.must_find, THRESHOLD) else "ok")
            for rd in out.rounds for x in rd.reads
        ]
        return _tally(verdict)

    def layers(self, tracer, out, elog) -> dict:
        timed = out.timed
        return {
            "dedup.candidate_pairs": float(self.n_candidates),
            "dedup.verified_per_candidate": (
                T.median(len(r.reads[0].rows) for r in timed) / self.n_candidates
                if self.n_candidates else 0.0),
            **elog.per_round([(r.start, r.end) for r in timed]),
        }


WORKLOADS = {w.name: w for w in (IngestOpcuaDurable, NeardupCorpus)}
