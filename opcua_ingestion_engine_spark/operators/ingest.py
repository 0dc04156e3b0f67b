"""The ingestion pipeline operators (SURVEY.md §2.2-2.4, §3.1).

Reproduces, as pure DataFrame transforms, the data path of
``Services/OpcSubscribeService.cs:522-598`` (SubscribedItemChange):

    notification -> staleness filter (F3) -> self-measure exclusion (F5)
    -> quality split (F4) -> numeric cast (X4) -> scaling (X1-X3)
    -> last-write-wins upsert keyed by (device, measure) (A2/S9)

plus the plan-building joins of ``OpcuaSubscribeStart`` (:107-280):

    devices (F1 monitored+OPCUA) x templates (J1) x connections (J2)

Scale design: `opc_updates` is the big fact stream; all three config joins
broadcast (the catalogs are O(devices) rows — SURVEY.md §2.3). The only
wide shuffle in the whole flagship plan is the per-point latest-value
aggregation, partitioned on (daq_name, measure_name). `max_by` runs with
map-side partial aggregation, so the exchange moves at most one row per key
per input partition. (Because the ordering key is a struct, Spark picks
SortAggregate rather than HashAggregate — partial combine still applies;
the per-partition sort on the grouping key is the CPU price of a composite
deterministic tie-break.)
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scaling import apply_scaling
from ..functions.timefmt import MODVALUES_TS_FMT
from ..session import local_frame


# ---------------------------------------------------------------------------
# Filters
# ---------------------------------------------------------------------------

def monitored_devices(devices: DataFrame) -> DataFrame:
    """F1 — `device.Monitored && Protocol == "OPCUA"`
    (OpcSubscribeService.cs:197)."""
    return devices.filter(F.col("monitored") & (F.col("protocol") == "OPCUA"))


def staleness_filter(updates: DataFrame, connections: DataFrame) -> DataFrame:
    """F3 + J3 — drop updates where |received - source| > per-connection
    TimeoutMs (OpcSubscribeService.cs:558-559; default Models/OpcDevice.cs:64).

    The connection config is a tiny dimension — broadcast join, no shuffle
    of the update stream.
    """
    conns = F.broadcast(connections.select("conn_id", "timeout_ms"))
    age_ms = F.abs(
        F.unix_micros(F.col("received_ts")) - F.unix_micros(F.col("source_ts"))
    ) / F.lit(1000)
    return (
        updates.join(conns, "conn_id", "inner")
        .filter(age_ms <= F.col("timeout_ms"))
        .drop("timeout_ms")
    )


def exclude_self_measure(updates: DataFrame) -> DataFrame:
    """F5 — the liveness pseudo-measure is never subscribed/written directly
    (OpcSubscribeService.cs:216,558)."""
    return updates.filter(F.col("measure_name") != "myPV_online")


def good_quality(updates: DataFrame) -> DataFrame:
    """F4 good branch — StatusCode.IsGood (OpcSubscribeService.cs:563).
    Good = severity bits clear (sim: status_code == 0). The bad branch
    (online=0 only, :582-589) is not a standalone filter: it lives inside
    ``perpoint_state``'s conditional aggregation (``last_any`` vs
    ``good_latest``), which is how a single-scan plan wants it."""
    return updates.filter(F.col("status_code") == 0)


def change_only(updates: DataFrame, deadband: float = 0.0) -> DataFrame:
    """F2 — change-only transport filter. INTENTIONALLY STRICTER than the
    reference: its DataChangeFilter uses Trigger=StatusValueTimestamp
    (OpcSubscribeService.cs:219-223), which also reports timestamp-only
    changes — i.e. every fresh sample passes and deadband is the only
    suppressor. A batch/lakehouse dedup pass gains nothing from that
    trigger, so this operator implements the useful analogue — keep an
    update only when value or status differs from the previous update of
    the same point (optional absolute deadband); first update of a point
    always passes. The semantics are pinned by q_f2_change_only's oracle.

    Batch analogue of the server-side push filter: lag() over the per-point
    event-time order. One shuffle on node_id (same key as the downstream
    latest-per-key agg, so the exchange is reusable).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("node_id").orderBy("source_ts", "event_id")
    prev_v = F.lag("value").over(w)
    prev_s = F.lag("status_code").over(w)
    # NULL-safe change semantics: "prev is null" must not double as the
    # first-row marker (a stream can carry null VALUES, and a real
    # transition to/from null IS a change — the plain `abs(v - prev) >
    # deadband` evaluates to NULL there and filter() would silently drop
    # the row). First row = row_number 1; value change = nullability
    # flip OR numeric move; status change = null-safe inequality.
    first = F.row_number().over(w) == 1
    null_flip = F.col("value").isNull() != prev_v.isNull()
    moved = (
        F.col("value").isNotNull()
        & prev_v.isNotNull()
        & (F.abs(F.col("value") - prev_v) > F.lit(deadband))
    )
    changed = (
        first | null_flip | moved | ~F.col("status_code").eqNullSafe(prev_s)
    )
    return updates.withColumn("_changed", changed).filter("_changed").drop("_changed")


# ---------------------------------------------------------------------------
# Plan-building joins (catalog side)
# ---------------------------------------------------------------------------

def device_points(devices: DataFrame, templates: DataFrame) -> DataFrame:
    """J1 — device x template inner join exploding each device into its
    configured points (OpcSubscribeService.cs:201,212; KeyNotFound devices
    drop out via inner semantics, :249-253). Broadcast: templates are tiny."""
    return devices.join(
        F.broadcast(templates),
        (devices.device_type == templates.device_type)
        & (devices.daq_template == templates.template_name),
        "inner",
    ).drop(templates.device_type)


def device_server_urls(devices: DataFrame, connections: DataFrame) -> DataFrame:
    """J2 — device -> server URL via connection name
    (OpcSubscribeService.cs:171-187,224). The connection side's conn_id
    is dropped before the join — both frames carry one, the join is on
    the name, and leaving both in would make every downstream
    F.col("conn_id") an AMBIGUOUS_REFERENCE trap."""
    return devices.join(
        F.broadcast(
            connections.drop("conn_id")
            .withColumnRenamed("connection_name", "server")
        ),
        "server",
        "inner",
    )


def subscription_plan(devices: DataFrame, templates: DataFrame, connections: DataFrame) -> DataFrame:
    """The reference's "physical plan" (_connectionInfo,
    OpcSubscribeService.cs:100-105,244): monitored OPCUA devices joined to
    their template points and server URL, one row per MonitoredItem, with the
    X6 node-id concat (:232)."""
    d = monitored_devices(devices)
    pts = device_points(d, templates)
    pts = device_server_urls(pts, connections)
    return pts.withColumn(
        "node_id",
        F.concat(F.col("point_node"), F.lit("/"), F.col("prefix"), F.col("tag_name")),
    )


# ---------------------------------------------------------------------------
# Scaling + latest-per-key
# ---------------------------------------------------------------------------

def latest_per_key(
    df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "received_ts",
    tiebreak_col: str = "event_id",
    payload: list[str] | None = None,
) -> DataFrame:
    """A2 — last-write-wins current value per (device, measure)
    (the upsert semantics of OpcSubscribeService.cs:600-654 fed by :578-580).

    Implemented as `max_by(struct(payload), struct(ts, tiebreak))`: a single
    aggregation with map-side partial combine — at 100 TB this exchanges one
    row per key per input partition instead of sorting the whole stream (vs
    the window/row_number formulation, which must full-sort every partition;
    the struct ordering key does force SortAggregate over HashAggregate, but
    the partial-combine shuffle shape is unchanged). Tie-break (ts, event_id)
    makes replays deterministic (SURVEY.md §7 risk 2).
    """
    keys = keys or ["daq_name", "measure_name"]
    payload = payload or [c for c in df.columns if c not in keys]
    ordkey = F.struct(F.col(ts_col), F.col(tiebreak_col))
    agg = F.max_by(F.struct(*[F.col(c).alias(c) for c in payload]), ordkey).alias("_latest")
    out = df.groupBy(*keys).agg(agg)
    return out.select(*keys, *[F.col(f"_latest.{c}").alias(c) for c in payload])


# ---------------------------------------------------------------------------
# Liveness (A3, batch analogue)
# ---------------------------------------------------------------------------

def device_liveness(
    good_updates: DataFrame,
    devices: DataFrame,
    now: Column | None = None,
    window_s: int = 60,
) -> DataFrame:
    """A3 — myPV_online per device: 1.0 iff the device produced a good update
    within the last `window_s` seconds (OpcSubscribeService.cs:45-58,578-585).

    Batch analogue: "now" defaults to the global max received_ts of the
    input (a deterministic logical clock — operators never read wall clock,
    SURVEY.md §7 risk 1). Devices with no good updates at all get 0.0
    (the startup reset T8, :715-739).
    """
    per_dev = good_updates.groupBy("daq_name").agg(
        F.max("received_ts").alias("last_good_ts")
    )
    if now is None:
        # Logical now = global max — derived from the per-device aggregate
        # (max of maxes), NOT from a second pass over the stream. The
        # O(devices) aggregate is materialized first: referenced twice
        # (rows + now), and Spark reuses neither plan subtrees nor their
        # exchanges here (verified: executedPlan shows 2 fact scans
        # without it, 1 with).
        per_dev = per_dev.localCheckpoint(eager=True)
        now_df = per_dev.agg(F.max("last_good_ts").alias("_now"))
        per_dev = per_dev.crossJoin(F.broadcast(now_df))
        now = F.col("_now")
    all_dev = devices.select("daq_name", "device_type").distinct()
    joined = all_dev.join(per_dev, "daq_name", "left")
    online = F.when(
        F.col("last_good_ts").isNotNull()
        & (F.unix_micros(now) - F.unix_micros(F.col("last_good_ts")) <= window_s * 1_000_000),
        F.lit(1.0),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "daq_name",
        "device_type",
        online.alias("online"),
        F.col("last_good_ts"),
    )


# ---------------------------------------------------------------------------
# Flagship pipeline — modvalues current-state snapshot
# ---------------------------------------------------------------------------

MODVALUES_COLUMNS = [
    "device",
    "device_type",
    "tag_name",
    "tag_value",
    "measure_name",
    "measure_value",
    "source_unit",
    "destination_unit",
    "last_updated",
    "logging",
]


EPOCH_TS_TEXT = "1970-01-01T00:00:00.000000"


def catalog_frames(devices: DataFrame, templates: DataFrame):
    """The static half of the ingestion pipeline: ``mon`` (monitored
    OPCUA devices: daq_name, device_type, daq_template) and ``tpl`` (the
    template points under join-safe names). The front half
    (``prepare_stream``) broadcasts both into the stream; the back half
    (``snapshot_from_state``) reads them as the local static rows that
    ``static_rows`` derives from them (the monitored devices and the
    configured points). Both depend on the catalog only, so a streaming
    sink derives the static rows once, when it is built.

    ``mon`` needs no materialization of its own: ``devices`` arrives as
    the catalog's memoized+checkpointed dimension (catalog.site_devices),
    so each of mon's consumers re-evaluates only a trivial filter+project
    over cached blocks. (persist() is wrong for the same reason as ever:
    CacheManager entries accumulate across repeated builds and every new
    plan pays an O(cached-plans) sameResult scan — measured 4x slowdown
    by the third call at sf0.1.)
    """
    mon = monitored_devices(devices).select("daq_name", "device_type", "daq_template")
    tpl = templates.select(
        F.col("device_type").alias("t_device_type"),
        "template_name",
        F.col("measure_name").alias("t_measure_name"),
        F.col("tag_name").alias("cfg_tag_name"),
        "unit",
        "scale_mode",
        "slope",
        "offset",
        "factor",
        "target_min",
    )
    return mon, tpl


def prepare_stream(
    updates: DataFrame,
    devices: DataFrame,
    templates: DataFrame,
    connections: DataFrame,
):
    """Shared front half of the ingestion pipeline: F5 -> J3+F3 -> config
    join (J1/J2) BEFORE the quality split, so bad-status notifications of
    subscribed points still feed liveness. Returns (joined, mon, tpl) —
    the enriched stream plus the catalog frames of ``catalog_frames``.
    """
    mon, tpl = catalog_frames(devices, templates)
    stream = exclude_self_measure(updates)
    stream = staleness_filter(stream, connections)
    joined = (
        stream.join(F.broadcast(mon), "daq_name", "inner")
        .join(
            F.broadcast(tpl),
            (F.col("device_type") == F.col("t_device_type"))
            & (F.col("daq_template") == F.col("template_name"))
            & (F.col("measure_name") == F.col("t_measure_name")),
            "inner",
        )
        .drop("t_device_type", "template_name", "t_measure_name", "daq_template")
    )
    return joined, mon, tpl


def perpoint_state(joined: DataFrame) -> DataFrame:
    """The fused per-point aggregate — the engine's entire mutable state,
    one row per configured (device, measure) that has seen any update:

    - ``good_latest``: struct(received_ts, event_id, scaled_value) of the
      latest GOOD update (A2/S9 value path). Ordering-prefixed fields make
      ``max(struct)`` the last-write-wins reducer, so states merge
      associatively/commutatively — micro-batch order cannot change the
      result (T9 idempotence; SURVEY.md §7 risk 2).
    - ``last_any``: struct(ts, eid, status) of the latest ANY-status event
      (F4 bad branch feeds the liveness rule).

    max ignores NULLs, so gating on `good` yields latest-good. One wide
    shuffle with map-side partial aggregation; at 100 TB the exchange
    moves at most one row per key per input partition.

    The state key's tag comes from the CONFIG (``cfg_tag_name``), never
    from the stream payload: the reference's modvalues rows carry the
    template's tag (seeded at insert; updates only change values), so a
    stream whose tag field diverges from the template must still fold
    into the one configured (device, measure) row — grouping on the
    stream tag would split that point into multiple never-merged state
    rows and disagree with the S10 seed rows, which already use the
    config tag.
    """
    good = F.col("status_code") == 0
    # Scaling applied pre-aggregation (codegen'd, no extra pass); value
    # stays DECIMAL(18,6) through the multiply for bit-identical oracle
    # results (testdata value domain is O(1e3), far below the 1e12 bound).
    scaled_value = apply_scaling(
        F.col("value").cast("decimal(18,6)"),
        F.col("scale_mode"),
        F.col("slope"),
        F.col("offset"),
        F.col("factor"),
        F.col("target_min"),
    )
    return (
        joined.withColumn("scaled_value", F.when(good, scaled_value))
        .drop("tag_name")
        .withColumnRenamed("cfg_tag_name", "tag_name")
        .groupBy("daq_name", "measure_name", "device_type", "tag_name", "unit")
        .agg(
            F.max(
                F.when(
                    good,
                    F.struct(
                        "received_ts",
                        "event_id",
                        "scaled_value",
                    ),
                )
            ).alias("good_latest"),
            F.max(
                F.struct(
                    F.col("received_ts").alias("ts"),
                    F.col("event_id").alias("eid"),
                    F.col("status_code").alias("status"),
                )
            ).alias("last_any"),
        )
    )


def merge_perpoint_states(current: DataFrame | None, incoming: DataFrame) -> DataFrame:
    """T9 — last-write-wins merge of two per-point states (the Delta MERGE
    analogue inside foreachBatch). Because both structs are
    ordering-prefixed, the merge is max/max over the union — associative,
    commutative, idempotent: replaying batches in any order or twice
    yields the same state."""
    if current is None:
        return incoming
    return (
        current.unionByName(incoming)
        .groupBy("daq_name", "measure_name", "device_type", "tag_name", "unit")
        .agg(
            F.max("good_latest").alias("good_latest"),
            F.max("last_any").alias("last_any"),
        )
    )


def static_rows(mon: DataFrame, tpl: DataFrame):
    """The back half's static inputs, as JVM-local relations
    (``session.local_frame``) built from ``catalog_frames``' output:
    ``(devices, points)``.

    - ``devices``: one row per monitored device (daq_name, device_type)
      — the A3 liveness rows.
    - ``points``: the configured points, the J1 join of monitored
      devices and template points (daq_name, device_type, measure_name,
      tag_name, unit) — the S10 seed rows. Duplicate template rows stay
      duplicated, as the inner join keeps them.

    Runs two small Spark jobs (one collect each) to bring the rows to
    the driver, so it is meant to run once per catalog: a streaming sink
    calls it when it is built. Both are O(configured points): about 500
    rows at every scale this engine serves, because devices are
    ``user_id % 100``."""
    spark = mon.sparkSession
    devices = mon.select("daq_name", "device_type").collect()
    points = (
        mon.join(
            tpl,
            (F.col("device_type") == F.col("t_device_type"))
            & (F.col("daq_template") == F.col("template_name")),
        )
        .select("daq_name", "device_type", "t_measure_name", "cfg_tag_name", "unit")
        .collect()
    )
    return (
        local_frame(spark, devices, "daq_name string, device_type string"),
        local_frame(
            spark,
            points,
            "daq_name string, device_type string, measure_name string, "
            "tag_name string, unit string",
        ),
    )


# ``{state}``, ``{points}`` and ``{devices}`` name the three input
# frames; ``:window_us``, ``:ts_fmt`` and ``:epoch`` are bound literals.
# ``kind`` tells the unioned rows apart: 0 state, 1 configured point,
# 2 monitored device. Only state rows carry ``good_latest`` and
# ``last_any``, so the window maxima see the state alone.
_SNAPSHOT_SQL = """
WITH united AS (
    SELECT /*+ COALESCE(1) */ * FROM (
        SELECT 0 AS kind, daq_name, device_type, measure_name, tag_name, unit,
               good_latest, last_any
        FROM {state}
        UNION ALL
        SELECT 1, daq_name, device_type, measure_name, tag_name, unit, NULL, NULL
        FROM {points}
        UNION ALL
        SELECT 2, daq_name, device_type, NULL, NULL, NULL, NULL, NULL
        FROM {devices}
    )
),
marked AS (
    SELECT *,
           max(good_latest IS NOT NULL)
               OVER (PARTITION BY daq_name, measure_name) AS has_good,
           max(last_any) OVER (PARTITION BY daq_name) AS device_last,
           max(last_any.ts) OVER () AS now_ts
    FROM united
),
emitted AS (
    SELECT daq_name, device_type,
           CASE kind WHEN 2 THEN 'myPV_online' ELSE tag_name END AS tag_name,
           CASE kind WHEN 2 THEN 'myPV_online' ELSE measure_name END AS measure_name,
           CASE kind WHEN 2 THEN 'bool' ELSE unit END AS unit,
           CASE WHEN kind = 0 THEN good_latest.scaled_value
                WHEN kind = 2 AND device_last.status = 0
                     AND unix_micros(now_ts) - unix_micros(device_last.ts) <= :window_us
                THEN 1.0D ELSE 0.0D END AS value,
           CASE kind WHEN 0 THEN date_format(good_latest.received_ts, :ts_fmt)
                     WHEN 2 THEN coalesce(date_format(device_last.ts, :ts_fmt), :epoch)
                     ELSE :epoch END AS last_updated
    FROM marked
    WHERE (kind = 0 AND good_latest IS NOT NULL)
       OR (kind = 1 AND NOT has_good)
       OR kind = 2
)
SELECT daq_name AS device, device_type, tag_name, value AS tag_value, measure_name,
       value AS measure_value, unit AS source_unit, unit AS destination_unit,
       last_updated, 'instant' AS logging
FROM emitted
"""


def snapshot_from_state(
    perpoint: DataFrame,
    mon: DataFrame,
    tpl: DataFrame,
    liveness_window_s: int = 60,
) -> DataFrame:
    """Back half of the flagship: per-point state -> modvalues-shaped rows
    (value rows + S10 seed rows + A3 liveness rows).

    ``mon`` and ``tpl`` are the static rows of ``static_rows``: ``mon``
    the monitored devices, ``tpl`` the CONFIGURED POINTS (monitored
    devices x template points), not the bare templates of
    ``catalog_frames``. Pass them as JVM-local relations.

    Value rows: the latest good update of each point. Seed rows (S10):
    configured points with no good update of their (device, measure),
    zero-valued and stamped with the epoch. Liveness rows (A3): per
    monitored device, 1.0 iff its latest event of any status is good
    and within ``liveness_window_s`` of the logical now (the latest
    event over the whole state).

    One stage, so one job with one task: ``_SNAPSHOT_SQL`` unions the
    state with the points and the devices, coalesces the union to one
    partition (``COALESCE(1)``, no shuffle), and three window functions
    over that partition give the seed test (any good row per
    (daq_name, measure_name)), each device's latest event and the
    logical now, with no exchange, no broadcast and no join. One
    projection then emits the three kinds of row. The earlier join form
    (a logical-now BroadcastNestedLoopJoin, a per-device GROUP BY
    shuffle, a global-max shuffle and three broadcasts) ran 7 jobs and
    10 tasks per read; on the benchmark's ``ingest_opcua_durable`` (``local[2]``,
    10 alternating pairs, seeds 1–10) the median ``read_s_p50`` went
    from 0.540 s to 0.331 s.

    ``COALESCE(1)`` pulls the whole narrow lineage below it into the one
    task. That is safe here because every input starts at a
    materialization or a shuffle: the durable sink's parquet state, the
    ephemeral sink's eager checkpoint, the batch flagship's checkpointed
    aggregate (its shuffle stays a stage of its own) and the local
    relations; all are O(configured points). A state frame with a fact
    scan under narrow operators would run that scan in one task.

    The frames are bound as GLOBAL temp views: a streaming sink's state
    lives in the stream's cloned session while the static rows live in
    the session that built the sink, and session-local views (what
    ``spark.sql(text, state=df)`` registers) are invisible across the
    two. The statement is analyzed eagerly, so the views can go at
    once."""
    spark = perpoint.sparkSession
    db = spark.conf.get("spark.sql.globalTempDatabase")
    views = {}
    try:
        for key, df in (("state", perpoint), ("devices", mon), ("points", tpl)):
            views[key] = f"_modvalues_{key}_{uuid.uuid4().hex}"
            df.createGlobalTempView(views[key])
        return spark.sql(
            _SNAPSHOT_SQL.format(**{k: f"{db}.{v}" for k, v in views.items()}),
            args={
                "window_us": int(liveness_window_s) * 1_000_000,
                "ts_fmt": MODVALUES_TS_FMT,
                "epoch": EPOCH_TS_TEXT,
            },
        )
    finally:
        for v in views.values():
            spark.catalog.dropGlobalTempView(v)


def modvalues_snapshot(
    updates: DataFrame,
    devices: DataFrame,
    templates: DataFrame,
    connections: DataFrame,
    liveness_window_s: int = 60,
) -> DataFrame:
    """The flagship query (SURVEY.md §7 Phase 1): the batch answer to the one
    question the reference perpetually answers — *"what is the latest scaled
    value and liveness of every configured point right now?"*

    Pipeline: prepare_stream (F5/F3/J1/J2/J3) -> perpoint_state (X1-X3 +
    the fused A2+liveness aggregation) -> snapshot_from_state (value rows
    + S10 seed rows + A3 liveness rows, over ``static_rows``). Streaming
    composes the SAME three functions with merge_perpoint_states inside
    foreachBatch (streaming/replay.py), so batch and replayed results are
    provably the same computation.

    Building the query is not lazy: ``static_rows`` collects the
    monitored devices and the configured points (two small jobs over the
    catalog) while the DataFrame is built, so even a caller that only
    explains the plan runs those two jobs. The events scan and the
    per-point aggregate stay lazy.

    Reference anchors: DDL OpcSubscribeService.cs:140-152; insert defaults
    :687-705; tag_value == measure_value :636-637; logging='instant' :702;
    X5 text timestamps :555; bad-status -> online=0 :582-589 (a device
    whose LAST event is bad reads 0 even if a good update landed moments
    earlier); S10 zero rows for silent configured points :680-705.

    Scale design: events is scanned ONCE; the single wide shuffle is the
    per-point aggregation (map-side partial combine). Everything downstream
    of ``perpoint`` is O(configured points) — it is LAZILY
    localCheckpoint'ed: the checkpoint is the materialization the
    snapshot's ``COALESCE(1)`` may sit on (the aggregate's shuffle stays
    a stage of its own, so the events scan keeps its parallelism), and
    lazy materialization fuses the aggregate's reduce side into the
    output job itself — one job instead of an eager-checkpoint job plus
    an assembly job (measured 2.7 s -> 2.0 s warm at sf0.1).
    """
    joined, mon, tpl = prepare_stream(updates, devices, templates, connections)
    perpoint = perpoint_state(joined).localCheckpoint(eager=False)
    return snapshot_from_state(perpoint, *static_rows(mon, tpl), liveness_window_s)
