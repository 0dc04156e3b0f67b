"""Round-11: incrementally-maintained SemDeDup
(``streaming/semdedup.py``). The pin that matters: ``survivors()`` ==
one-shot ``semantic_dedup(corpus, centroids=frozen)`` under ARBITRARY
batch splits (the frozen quantizer makes cell assignment arrival-order
independent; the per-batch candidate join generates every within-cell
pair exactly once). Plus the deployment surfaces: planted duplicates
flagged, exactly-once redelivery, restart recovery from committed
state, and the no-silent-caps refusal when a cell exceeds max_cell."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from opcua_ingestion_engine_spark.operators.similarity import semantic_dedup
from opcua_ingestion_engine_spark.session import local_frame
from opcua_ingestion_engine_spark.streaming.semdedup import (
    IncrementalSemDeDupSink,
)

pytestmark = pytest.mark.usefixtures("executed_plans")


def _corpus(spark, seed: int, n_base: int = 40, dim: int = 8):
    """n_base well-separated unit vectors; every third one gets 1-2
    near-duplicates (tiny perturbation, cosine ~ 1)."""
    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    for i in range(n_base):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        if i % 3 == 0:
            for _ in range(1 + (i % 2)):
                d = v + rng.normal(scale=1e-3, size=dim)
                d /= np.linalg.norm(d)
                rows.append((vid, [float(x) for x in d]))
                vid += 1
    return local_frame(spark,
        rows, "vec_id long, embedding array<double>"
    )


def _splits(rows, seed: int, n_batches: int):
    rng = random.Random(seed)
    shuffled = list(rows)
    rng.shuffle(shuffled)
    cuts = sorted(rng.sample(range(1, len(shuffled)), n_batches - 1))
    out, prev = [], 0
    for c in [*cuts, len(shuffled)]:
        out.append(shuffled[prev:c])
        prev = c
    return out


@pytest.mark.parametrize("seed,keep", [(3, "min_id"), (17, "min_id"), (29, "centroid_far")])
def test_incremental_equals_one_shot_under_arbitrary_splits(
    spark, tmp_path, seed, keep
):
    corpus = _corpus(spark, seed)
    rows = [(r["vec_id"], r["embedding"]) for r in corpus.collect()]
    sink = IncrementalSemDeDupSink(
        str(tmp_path / f"sd{seed}"), eps=0.9, n_cells=8, max_cell=4000
    )
    for bid, chunk in enumerate(_splits(rows, seed, 4)):
        sink.process_batch(
            local_frame(spark,
                chunk, "vec_id long, embedding array<double>"
            ),
            bid,
        )
    got = sorted(r["vid"] for r in sink.survivors(spark, keep=keep).collect())
    want_rows = semantic_dedup(
        corpus, eps=0.9, max_cell=4000, keep=keep,
        centroids=sink.centroids(),
    )
    want = sorted(r["vec_id"] for r in want_rows.collect())
    assert got == want
    # sanity: dedup actually dropped the planted duplicates
    assert len(want) < len(rows)


def test_planted_duplicates_flagged_and_redelivery_exact_once(
    spark, tmp_path
):
    base = [1.0, 0.0, 0.0, 0.0]
    eps_dup = [0.9999, 0.0141, 0.0, 0.0]  # cosine ~0.9999 with base
    far = [0.0, 1.0, 0.0, 0.0]
    mk = lambda rows: local_frame(spark,
        rows, "vec_id long, embedding array<double>"
    )
    sink = IncrementalSemDeDupSink(
        str(tmp_path / "planted"), eps=0.95, n_cells=2, max_cell=100
    )
    sink.process_batch(mk([(1, base), (10, far)]), 0)
    sink.process_batch(mk([(2, eps_dup)]), 1)  # duplicate of 1, later batch
    pairs = sorted(tuple(r) for r in sink.pairs(spark).collect())
    assert pairs == [(1, 2)]
    surv = sorted(r["vid"] for r in sink.survivors(spark).collect())
    assert surv == [1, 10]
    # redelivery of a committed batch is a no-op (no duplicate edges,
    # no duplicate codes)
    from opcua_ingestion_engine_spark.operators import tablefmt as TF

    v_codes = TF.latest_version(sink.codes_root)
    sink.process_batch(mk([(2, eps_dup)]), 1)
    assert TF.latest_version(sink.codes_root) == v_codes
    # an already-ingested id in a NEW batch is dropped (ids never
    # re-cluster), novel ids in the same batch still land
    sink.process_batch(mk([(1, far), (3, far)]), 2)
    surv = sorted(r["vid"] for r in sink.survivors(spark).collect())
    assert 1 in surv and (3 in surv or 10 in surv)
    assert sink.pairs(spark).filter(
        (F.col("vec_a") == 1) & (F.col("vec_b") == 10)
    ).count() == 0  # id 1 kept its original vector: no new pair


def test_restart_recovers_committed_state(spark, tmp_path):
    root = str(tmp_path / "restart")
    corpus = _corpus(spark, 7)
    rows = [(r["vec_id"], r["embedding"]) for r in corpus.collect()]
    a = IncrementalSemDeDupSink(root, eps=0.9, n_cells=8)
    chunks = _splits(rows, 7, 3)
    a.process_batch(
        local_frame(spark, chunks[0], "vec_id long, embedding array<double>"), 0
    )
    # fresh instance: adopts the frozen centroids + the batch ledger
    b = IncrementalSemDeDupSink(root, eps=0.9, n_cells=8)
    assert np.allclose(b.centroids(), a.centroids())
    b.process_batch(
        local_frame(spark, chunks[0], "vec_id long, embedding array<double>"), 0
    )  # replayed first batch: skipped via the recovered ledger
    for bid, chunk in enumerate(chunks[1:], start=1):
        b.process_batch(
            local_frame(spark, chunk, "vec_id long, embedding array<double>"),
            bid,
        )
    got = sorted(r["vid"] for r in b.survivors(spark).collect())
    want = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            corpus, eps=0.9, keep="min_id", centroids=b.centroids()
        ).collect()
    )
    assert got == want


def test_oversized_cell_refuses_loudly(spark, tmp_path):
    mk = lambda rows: local_frame(spark,
        rows, "vec_id long, embedding array<double>"
    )
    sink = IncrementalSemDeDupSink(
        str(tmp_path / "cap"), eps=0.99, n_cells=1, max_cell=3
    )
    sink.process_batch(
        mk([(i, [1.0, float(i)]) for i in range(3)]), 0
    )
    with pytest.raises(ValueError, match="max_cell"):
        sink.process_batch(mk([(99, [1.0, 99.0])]), 1)
