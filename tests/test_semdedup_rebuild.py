"""Round-12: the quantizer-overflow REBUILD path for the maintained
SemDeDup sink (round-11 verdict item 5). A frozen first-batch
quantizer that undersizes the corpus used to be a terminal refusal; now
``rebuild()`` re-trains n_cells from the accumulated codes, re-buckets
in one scan, RECOMPUTES the within-cell pair graph (carrying the old
graph would keep edges crossing new cell boundaries), and publishes
both as generation-stamped replace commits — codes last, the atomic
switch. Pinned: forced-overflow rebuild equals the one-shot operator
under the NEW quantizer (x3 seeds), ingest continues after a rebuild
and equality still holds, restart adopts the rebuilt generation,
auto_rebuild turns the overflow into a maintenance pass, the
interrupted-rebuild split refuses everywhere, and the mid-batch
refusal behavior is unchanged for non-auto sinks."""

from __future__ import annotations

import os
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from opcua_ingestion_engine_spark.operators import tablefmt as TF
from opcua_ingestion_engine_spark.operators.similarity import semantic_dedup
from opcua_ingestion_engine_spark.session import local_frame
from opcua_ingestion_engine_spark.streaming.semdedup import (
    IncrementalSemDeDupSink,
    _centroid_path,
    _quant_gen,
)

pytestmark = pytest.mark.usefixtures("executed_plans")


def _corpus(spark, seed: int, n_base: int = 36, dim: int = 8):
    rng = np.random.default_rng(seed)
    rows, vid = [], 0
    for i in range(n_base):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        if i % 3 == 0:
            d = v + rng.normal(scale=1e-3, size=dim)
            d /= np.linalg.norm(d)
            rows.append((vid, [float(x) for x in d]))
            vid += 1
    return rows


def _mk(spark, rows):
    return local_frame(spark, rows, "vec_id long, embedding array<double>")


def _df(spark, rows):
    return _mk(spark, rows)


@pytest.mark.parametrize("seed", [5, 23, 61])
def test_rebuild_after_overflow_equals_one_shot_under_new_quantizer(
    spark, tmp_path, seed
):
    rows = _corpus(spark, seed)
    rng = random.Random(seed)
    rng.shuffle(rows)
    half = len(rows) // 2
    # n_cells=1 + small max_cell forces overflow on the second batch
    sink = IncrementalSemDeDupSink(
        str(tmp_path / f"rb{seed}"), eps=0.9, n_cells=1,
        max_cell=half + 2,
    )
    sink.process_batch(_df(spark, rows[:half]), 0)
    with pytest.raises(ValueError, match="rebuild"):
        sink.process_batch(_df(spark, rows[half:]), 1)
    # the overflowing batch COMMITTED; rebuild restores the invariant
    gen = sink.rebuild(spark)
    assert gen == 1
    assert sink.n_cells > 1
    got = sorted(r["vid"] for r in sink.survivors(spark).collect())
    want = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            _df(spark, rows), eps=0.9, keep="min_id",
            centroids=sink.centroids(),
        ).collect()
    )
    assert got == want


def test_ingest_continues_after_rebuild_and_equality_holds(
    spark, tmp_path
):
    rows = _corpus(spark, 7)
    sink = IncrementalSemDeDupSink(
        str(tmp_path / "cont"), eps=0.9, n_cells=1, max_cell=100_000
    )
    third = len(rows) // 3
    sink.process_batch(_df(spark, rows[:third]), 0)
    sink.rebuild(spark, n_cells=6)
    # new batches bucket under the REBUILT quantizer
    sink.process_batch(_df(spark, rows[third : 2 * third]), 1)
    sink.process_batch(_df(spark, rows[2 * third :]), 2)
    got = sorted(r["vid"] for r in sink.survivors(spark).collect())
    want = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            _df(spark, rows), eps=0.9, keep="min_id",
            centroids=sink.centroids(),
        ).collect()
    )
    assert got == want
    # the batch ledger survived the replace commits: redelivery no-ops
    v_codes = TF.latest_version(sink.codes_root)
    sink.process_batch(_df(spark, rows[:third]), 0)
    assert TF.latest_version(sink.codes_root) == v_codes


def test_restart_adopts_rebuilt_generation(spark, tmp_path):
    root = str(tmp_path / "restart")
    rows = _corpus(spark, 11)
    sink = IncrementalSemDeDupSink(root, eps=0.9, n_cells=1)
    sink.process_batch(_df(spark, rows), 0)
    sink.rebuild(spark, n_cells=5)
    want = sorted(r["vid"] for r in sink.survivors(spark).collect())
    # a fresh instance (restart) must load generation 1's quantizer
    # and serve the identical state — and skip a replayed batch
    re = IncrementalSemDeDupSink(root, eps=0.9, n_cells=1)
    assert re._gen == 1
    assert np.array_equal(re.centroids(), sink.centroids())
    assert sorted(r["vid"] for r in re.survivors(spark).collect()) == want
    v = TF.latest_version(re.codes_root)
    re.process_batch(_df(spark, rows), 0)  # redelivery across restart
    assert TF.latest_version(re.codes_root) == v


def test_auto_rebuild_turns_overflow_into_maintenance(spark, tmp_path):
    rows = _corpus(spark, 13)
    half = len(rows) // 2
    sink = IncrementalSemDeDupSink(
        str(tmp_path / "auto"), eps=0.9, n_cells=1, max_cell=half + 2,
        auto_rebuild=True,
    )
    sink.process_batch(_df(spark, rows[:half]), 0)
    sink.process_batch(_df(spark, rows[half:]), 1)  # overflows -> rebuilds
    assert _quant_gen(sink.codes_root) == 1
    got = sorted(r["vid"] for r in sink.survivors(spark).collect())
    want = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            _df(spark, rows), eps=0.9, keep="min_id",
            centroids=sink.centroids(),
        ).collect()
    )
    assert got == want


def test_interrupted_rebuild_refuses_everywhere_and_resumes(
    spark, tmp_path
):
    """Simulate a crash BETWEEN the two replace commits (pairs at the
    new generation, codes still old): ingest and serve refuse with the
    typed split error; re-running rebuild() completes the switch."""
    root = str(tmp_path / "crash")
    rows = _corpus(spark, 17)
    sink = IncrementalSemDeDupSink(root, eps=0.9, n_cells=1)
    sink.process_batch(_df(spark, rows), 0)
    # manufacture the crash window: commit ONLY the pairs half of a
    # rebuild (replace pairs with a gen-1 stamp)
    pairs = TF.read_version(spark, sink.pairs_root)
    TF.commit_version(pairs, sink.pairs_root, app={"quant_gen": 1})
    broken = IncrementalSemDeDupSink(root, eps=0.9, n_cells=1)
    with pytest.raises(ValueError, match="interrupted"):
        broken.process_batch(_df(spark, [(999, rows[0][1])]), 1)
    with pytest.raises(ValueError, match="interrupted"):
        broken.survivors(spark)
    # rebuild() is the documented repair: it bumps PAST the split
    # (codes gen 0 -> trains gen 1; the stale gen-1 pairs replace is
    # overwritten by the recompute, codes switch last)
    gen = broken.rebuild(spark, n_cells=4)
    assert gen == 1
    assert _quant_gen(broken.codes_root) == _quant_gen(broken.pairs_root)
    got = sorted(r["vid"] for r in broken.survivors(spark).collect())
    want = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            _df(spark, rows), eps=0.9, keep="min_id",
            centroids=broken.centroids(),
        ).collect()
    )
    assert got == want


def test_rebuild_refusals(spark, tmp_path):
    sink = IncrementalSemDeDupSink(str(tmp_path / "empty"), eps=0.9)
    with pytest.raises(ValueError, match="nothing to rebuild"):
        sink.rebuild(spark)
    # still-overflowing rebuild (identical vectors concentrate into one
    # cell whatever n_cells) raises the typed escalation
    rows = [(i, [1.0, 0.0]) for i in range(6)]
    s2 = IncrementalSemDeDupSink(
        str(tmp_path / "conc"), eps=0.9, n_cells=1, max_cell=4
    )
    with pytest.raises(ValueError, match="rebuild"):
        s2.process_batch(_df(spark, rows), 0)
    with pytest.raises(ValueError, match="concentrates"):
        s2.rebuild(spark, n_cells=4)
