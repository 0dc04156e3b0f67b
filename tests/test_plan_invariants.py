"""Plan-audit invariants as a regression gate (SURVEY.md §6): for EVERY
registered query, the physical plan must contain

- zero CartesianProduct, ever;
- BroadcastNestedLoopJoin only where a 1-row scalar threshold rides a
  broadcast (liveness logical-now, heartbeat now, default-row
  injection, TPC-H Q11/Q22 thresholds, capped embedding slice);
- SortMergeJoin only for full-outer joins and the O(state)-sized anti
  joins AQE broadcast-converts at runtime (Venn reconcile, S10 seed,
  E7 near-dup removal);
- each base table scanned at most once, except the documented
  same-table-slices queries (as-of/range event-type slices, LSH
  query-vs-corpus, nation in two dimension roles, per-column profile
  union, scalar-threshold re-scan of a dimension).

A new query that silently introduces a cartesian product, an extra fact
scan, or an unplanned sort-merge join fails here before it ever reaches
a cluster.

The current-state view (``ingest.snapshot_from_state``) is pinned more
tightly: one stage, so one job with one task, with its single-partition
``Coalesce`` sitting on a materialization, never on a fact scan.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

TABLES = (
    "lineitem", "orders", "customer", "events", "documents",
    "embeddings", "part", "supplier", "nation", "region",
)

# query -> (max BroadcastNestedLoopJoin, max SortMergeJoin,
#           {table: max scans}); unlisted queries get (0, 0, {}) and a
# global max of ONE scan per table.
ALLOW: dict[str, tuple[int, int, dict[str, int]]] = {
    "q_a3_device_liveness": (1, 0, {}),
    "q_asof_join_purchase_view": (0, 0, {"events": 2}),
    "q_e2_embedding_neardup": (1, 0, {"embeddings": 2}),
    "q_e2_embedding_neardup_lsh": (0, 0, {"embeddings": 2}),
    "q_e2_minhash_neardup": (0, 0, {"documents": 2}),
    # cross-corpus decontamination join: the fixture table plays BOTH
    # corpus roles (odd/even slices) — two scans by construction
    "q_e2_cross_corpus_neardup": (0, 0, {"documents": 2}),
    # corpus+bench signature passes collapse into the checkpointed
    # candidate build; the serve side re-reads corpus for the pruned
    # verify, bench for its verify slice, and corpus for the final
    # anti join — 3 scans of the one fixture table playing two roles
    "q_e2_decontaminate": (0, 0, {"documents": 3}),
    "q_e3_ivf_ann": (0, 0, {"embeddings": 2}),
    # codes scan + rerank vectors + query slice; deployed, the codes scan
    # reads a persisted compressed table instead of re-encoding in-plan
    "q_e3_pq_ann": (0, 0, {"embeddings": 3}),
    "q_e3_ivfpq_ann": (0, 0, {"embeddings": 3}),
    # served from the PERSISTED codes table: the corpus-sized pass reads
    # the index parquet (not `embeddings`); the two embeddings scans are
    # the broadcast-sized query slice + the candidate-only rerank fetch
    "q_e3_ivfpq_from_index": (0, 0, {"embeddings": 2}),
    # same serve shape over the label-carrying index (filter applied in
    # the codes scan; rerank fetches only eligible candidates)
    "q_e3_filtered_ivfpq": (0, 0, {"embeddings": 2}),
    # served from the incrementally-maintained versioned codes table —
    # same serve shape as from_index (query slice + candidate rerank)
    "q_e3_incremental_ann_index": (0, 0, {"embeddings": 2}),
    # filtered serve from the maintained label-carrying codes table —
    # identical two-scan shape (the filter prunes inside the codes scan)
    "q_e3_incremental_filtered_ann": (0, 0, {"embeddings": 2}),
    "q_e4_repetition": (0, 0, {"documents": 2}),
    # window-frequency pass + postings pass over the same positional
    # k-gram lineage (same inverted-index two-scan shape as
    # contamination; re-scanning the pruned text column beats
    # materializing corpus-token-sized postings)
    "q_e2_repeated_spans": (0, 0, {"documents": 2}),
    # the span report's two inverted-index passes + the trim's own
    # corpus re-join (the report is output-sized; the corpus must be
    # read once more to rewrite it)
    "q_e2_span_trim": (0, 0, {"documents": 3}),
    # static plan expands the minute->hour->day cascade into 3 branches,
    # but at runtime the hour/day branches are ReusedExchange of the
    # finer level (verified on the executed plan) — ONE scan executes
    "q_t_multires_rollup": (0, 0, {"events": 3}),
    # the CDC keyed diff's endpoint comparison is a full-outer join —
    # exactly the SMJ class the gate docstring allows; its two scans are
    # committed temp tables, not fixture tables, so the budget is clean
    "q_tf_change_feed": (0, 1, {}),
    # 1-row total-token-count broadcast; scans: MG sketch pass + exact
    # candidate recount + column-pruned size() totals
    "q_e4_heavy_hitters": (1, 0, {"documents": 3}),
    # same 1-row totals broadcast as the batch form; corpus state comes
    # from per-batch localCheckpoints, so no base-table scans appear
    "q_e4_incremental_heavy_hitters": (1, 0, {}),
    # maintained-SemDeDup serve: the survivors anti join (committed
    # codes ids vs union-find dropped ids) keys two COMMITTED scratch
    # tables whose sizes AQE cannot know pre-exec; at 100 TB the
    # duplicate set can be a large corpus fraction, so the shuffled
    # anti join IS the scale-correct shape (never a forced broadcast) —
    # the SMJ class the gate docstring allows for keyed scratch diffs
    "q_e2_incremental_semdedup": (0, 1, {}),
    # same serve path, oracle-scoped twin (round 12): the survivor
    # anti join against the dropped-id scratch keeps the same
    # scale-correct shuffled shape
    "q_e2_semdedup_serve": (0, 1, {}),
    # 1-row corpus-total broadcast; static plan prints vocab-build +
    # scoring-probe + totals scans, but the totals branch resolves to a
    # ReusedExchange of the vocab shuffle at runtime (verified on the
    # executed plan) — only 2 scans execute
    "q_e4_unigram_logprob": (1, 0, {"documents": 3}),
    "q_e8_contamination": (0, 0, {"documents": 2}),
    # jaccard inverted-index pass + the split-assignment projection
    # (both split sides share one scan — md5 projections are cheap and
    # identical, so Catalyst reuses the subtree)
    "q_e8_split_leakage": (0, 0, {"documents": 2}),
    # docs LEFT JOIN the pair-graph-sized component map — the same
    # O(state)-sized join class AQE broadcast-converts at runtime;
    # two scans: the pair lineage + the id projection being assigned
    "q_e8_leakage_free_split": (0, 1, {"documents": 2}),
    # counts pass (source column only, pruned) + ranked pass; the quota
    # denominator is a whole-frame window over the config-sized counts
    "q_e8_domain_mix": (0, 0, {"documents": 2}),
    # candidate lineage + benchmark-gram pass (the composed corpus build
    # holds the two-scan bound of its contamination stage)
    "q_e8_corpus_build": (0, 0, {"documents": 2}),
    # block-token-sums pass + main pass — the two column-pruned scans
    # that buy an exact global prefix sum WITHOUT a global sort
    "q_e8_token_budget": (0, 0, {"documents": 2}),
    # token explode + id spine (the ratio table is an eagerly
    # checkpointed vocab-sized intermediate, so its count lineage never
    # re-enters the scoring plan); the spine LEFT JOIN sums is
    # corpus-keyed on both sides — the documented sort-merge, AQE-
    # broadcast-converted when the weighted side is small
    "q_e8_dsir_weights": (0, 1, {"documents": 2}),
    "q_e8_dsir_sample": (0, 1, {"documents": 2}),
    "q_e8_dsir_bigram_weights": (0, 1, {"documents": 2}),
    # RRF fusion joins the two TOP-K candidate lists FULL OUTER — Spark
    # can never broadcast a full-outer side, so the sort-merge is
    # structural; both inputs are k-sized (50 rows), not corpus-sized.
    # documents x2: the BM25 stage's token explode + length projection
    "q_e3_hybrid_rrf": (0, 1, {"documents": 2}),
    "q_e3_lsh_ann": (0, 0, {"embeddings": 2}),
    # centroid explode pass + fold-scoring pass over the corpus
    "q_e3_domain_diversity": (0, 0, {"embeddings": 2}),
    # survivors = corpus ANTI JOIN the dropped-member map: pair-graph-
    # sized right side the static planner can't size (checkpointed CC
    # labels), AQE broadcast-converts at runtime; scans: the cell-
    # assignment lineage + the surviving-row projection
    "q_e2_semantic_dedup": (0, 1, {"embeddings": 2}),
    # same anti-join class; the centroid_far keep rule adds the
    # cent_sim re-assignment pass over the corpus (third scan)
    "q_e2_semantic_dedup_clustered": (0, 1, {"embeddings": 3}),
    "q_e7_curation_clustered": (0, 2, {}),
    # same singles-anti + chosen-semi state-sized join pair as the
    # clustered mode (AQE broadcast-converts both at runtime)
    "q_e7_curation_quality_rep": (0, 2, {}),
    "q_e7_curation_pipeline": (0, 1, {}),
    # same state-sized reps-vs-drop anti join as the exact pipeline; the
    # LSH stage adds a second documents pass (signature + verify prune)
    "q_e7_curation_minhash": (0, 1, {"documents": 2}),
    "q_f8_online_probe": (1, 0, {}),
    "q_flagship_modvalues": (0, 0, {}),
    "q_j5_venn_reconcile": (0, 1, {}),
    "q_join_full_nation_supplier": (0, 1, {}),
    "q_profile_lineitem": (0, 0, {"lineitem": 2}),
    "q_range_join_purchase_errors": (0, 0, {"events": 2}),
    "q_s10_insert_if_missing": (0, 1, {}),
    "q_s8_default_injection": (1, 0, {}),
    "q_t3_heartbeat_refresh": (2, 0, {}),
    "q_t4_server_watchdog_batch": (1, 0, {}),
    "q_tpch_q11_important_stock": (1, 0, {}),
    "q_tpch_q15_top_supplier": (1, 0, {}),
    "q_tpch_q22_sales_opportunity": (1, 0, {"customer": 2}),
    "q_tpch_q7_volume_shipping": (0, 0, {"nation": 2}),
    "q_tpch_q8_market_share": (0, 0, {"nation": 2}),
}


def _names():
    from opcua_ingestion_engine_spark.plans import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _names())
def test_plan_invariants(spark, name):
    from opcua_ingestion_engine_spark.plans import QUERIES

    df = QUERIES[name].fn(spark, SF_SMOKE)
    p = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    max_bnlj, max_smj, scan_allow = ALLOW.get(name, (0, 0, {}))
    assert p.count("CartesianProduct") == 0, f"{name}: cartesian product\n{p}"
    assert p.count("BroadcastNestedLoopJoin") <= max_bnlj, (
        f"{name}: unexpected BroadcastNestedLoopJoin\n{p}"
    )
    assert p.count("SortMergeJoin") <= max_smj, (
        f"{name}: unexpected SortMergeJoin\n{p}"
    )
    for t in TABLES:
        n = p.count(f"/{t}.parquet")
        assert n <= scan_allow.get(t, 1), (
            f"{name}: {t} scanned {n}x (allowed {scan_allow.get(t, 1)})\n{p}"
        )


def _formatted(spark, name):
    from opcua_ingestion_engine_spark.plans import QUERIES

    df = QUERIES[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q6_filters_reach_the_scan(spark):
    """TPC-H Q6's predicates must be pushed into the parquet reader and
    the scan pruned to exactly the 4 referenced columns."""
    p = _formatted(spark, "q_tpch_q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount" in p
    schema_line = next(l for l in p.split("\n") if "ReadSchema" in l)
    assert "l_quantity" in schema_line and "l_comment" not in schema_line
    # 4 columns of lineitem's 11 — pruning worked if none of these appear
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in schema_line, schema_line


def test_three_way_join_prunes_fact_columns(spark):
    """The 3-way join projects 2 lineitem columns — the lineitem scan
    must not read the other 9."""
    p = _formatted(spark, "q_join_three_way")
    li_schemas = [
        l for l in p.split("\n")
        if "ReadSchema" in l and "l_orderkey" in l
    ]
    assert li_schemas, p
    for col in ("l_quantity", "l_extendedprice", "l_shipdate"):
        assert all(col not in l for l in li_schemas), li_schemas


def _children(node) -> list:
    """Children of a physical plan node, looking through adaptive
    execution's wrappers (the adaptive plan and its query stages)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    children = node.children()
    return [children.apply(i) for i in range(children.size())]


def _plan_nodes(node):
    stack = [node]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(_children(node))


def _coalesce_over_scan(plan) -> list[str]:
    """Scans that a ``Coalesce`` pulls into its task with no shuffle or
    materialization in between (an RDD scan is a checkpoint; a local
    table scan is driver-held rows)."""
    out = []
    for node in _plan_nodes(plan):
        if node.getClass().getSimpleName() != "CoalesceExec":
            continue
        stack = [node.child()]
        while stack:
            below = stack.pop()
            name = below.getClass().getSimpleName()
            if "Exchange" in name or "ShuffleQueryStage" in name or name in (
                "RDDScanExec", "LocalTableScanExec",
            ):
                continue
            if "Scan" in name:
                out.append(below.simpleString(25))
            stack.extend(_children(below))
    return out


def test_flagship_coalesce_sits_on_the_checkpoint(spark):
    """The batch flagship's one-partition snapshot reads the checkpointed
    per-point aggregate, so the events scan and its shuffle stay outside
    the single task."""
    from opcua_ingestion_engine_spark.plans import QUERIES

    df = QUERIES["q_flagship_modvalues"].fn(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    names = {n.getClass().getSimpleName() for n in _plan_nodes(plan)}
    assert "CoalesceExec" in names and "RDDScanExec" in names, plan.toString()
    assert _coalesce_over_scan(plan) == [], plan.toString()
    # the walker does see a coalesce straight over the fact scan
    bad = spark.read.parquet(f"{SF_SMOKE}/events.parquet").coalesce(1)
    assert _coalesce_over_scan(bad._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize("durable", [True, False], ids=["durable", "ephemeral"])
def test_sink_snapshot_is_one_job_one_task(spark, tmp_path, durable):
    """A merge sink's current-state view runs as one stage: its executed
    plan holds no exchange, broadcast, join or runtime filter, and one
    collect launches exactly one job with one task."""
    from opcua_ingestion_engine_spark import catalog as C
    from opcua_ingestion_engine_spark.streaming import replay

    sink = replay.ModvaluesMergeSink(
        C.site_devices(spark, SF_SMOKE), C.sos_templates(spark),
        C.opc_client_connections(spark),
        state_root=str(tmp_path / "state") if durable else None,
    )
    sink.process_batch(C.opc_updates(spark, SF_SMOKE), 0)

    sc = spark.sparkContext
    group = f"snapshot-{'durable' if durable else 'ephemeral'}"
    snap = sink.snapshot()
    sc.setJobGroup(group, "current-state read")
    try:
        rows = snap.collect()
    finally:
        sc.setJobGroup("", "")
    assert rows
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(s).numTasks
        for j in jobs for s in tracker.getJobInfo(j).stageIds
    )
    assert (len(jobs), tasks) == (1, 1), (jobs, tasks)

    plan = snap._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "BroadcastNestedLoopJoin", "SortMergeJoin",
                 "might_contain"):
        assert node not in plan, (node, plan)
