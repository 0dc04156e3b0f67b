"""The current-state view's one-stage statement (``ingest._SNAPSHOT_SQL``)
against a reference formulation of the same view built from joins.

``REFERENCE_SQL`` is the join form the engine ran before the view became
one stage: a per-device GROUP BY, a logical-now cross join, the
configured points as a device x template join and the S10 seed rows as
an anti join. Both statements run over hand-built states that hold the
view's edge cases, and must return the same rows and the same schema.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

import pytest

REFERENCE_SQL = """
WITH good AS (
    SELECT * FROM {state} WHERE good_latest IS NOT NULL
),
device_last AS (
    SELECT daq_name, max(last_any) AS last_any FROM {state} GROUP BY daq_name
),
logical_now AS (
    SELECT max(last_any.ts) AS now_ts FROM {state}
),
live AS (
    SELECT /*+ BROADCAST(d), BROADCAST(n) */
           m.daq_name, m.device_type, d.last_any,
           CASE WHEN d.last_any IS NOT NULL AND d.last_any.status = 0
                     AND unix_micros(n.now_ts) - unix_micros(d.last_any.ts) <= :window_us
                THEN 1.0D ELSE 0.0D END AS online
    FROM {mon} m
    LEFT JOIN device_last d ON m.daq_name = d.daq_name
    CROSS JOIN logical_now n
)
SELECT daq_name AS device, device_type, tag_name,
       good_latest.scaled_value AS tag_value, measure_name,
       good_latest.scaled_value AS measure_value,
       unit AS source_unit, unit AS destination_unit,
       date_format(good_latest.received_ts, :ts_fmt) AS last_updated,
       'instant' AS logging
FROM good
UNION ALL
SELECT /*+ BROADCAST(t), BROADCAST(o) */
       m.daq_name, m.device_type, t.cfg_tag_name, 0.0D, t.t_measure_name, 0.0D,
       t.unit, t.unit, :epoch, 'instant'
FROM {mon} m
JOIN {tpl} t ON m.device_type = t.t_device_type AND m.daq_template = t.template_name
LEFT ANTI JOIN good o ON m.daq_name = o.daq_name AND t.t_measure_name = o.measure_name
UNION ALL
SELECT daq_name, device_type, 'myPV_online', online, 'myPV_online', online,
       'bool', 'bool', coalesce(date_format(last_any.ts, :ts_fmt), :epoch), 'instant'
FROM live
"""

STATE_DDL = (
    "daq_name string, measure_name string, device_type string, tag_name string, "
    "unit string, "
    "good_latest struct<received_ts: timestamp, event_id: bigint, scaled_value: double>, "
    "last_any struct<ts: timestamp, eid: bigint, status: bigint>"
)

BAD = 2147483648


def _ts(minute: int, second: int = 0) -> datetime:
    return datetime(2024, 1, 1, 12, minute, second, tzinfo=timezone.utc)


def _catalog(spark):
    """Hand-built devices and templates: ``DEV-A``/``DEV-B``/``DEV-C``
    monitored OPCUA (``DEV-C`` never reports), ``DEV-M`` a MODBUS device
    and ``DEV-U`` unmonitored, so F1 drops both; ``tmpl-0``'s
    ``pressure`` point is listed twice."""
    from opcua_ingestion_engine_spark.session import local_frame

    devices = local_frame(
        spark,
        [
            ("DEV-A", "type-0", "tmpl-0", True, "OPCUA"),
            ("DEV-B", "type-0", "tmpl-0", True, "OPCUA"),
            ("DEV-C", "type-1", "tmpl-1", True, "OPCUA"),
            ("DEV-M", "type-1", "tmpl-1", True, "MODBUS"),
            ("DEV-U", "type-0", "tmpl-0", False, "OPCUA"),
        ],
        "daq_name string, device_type string, daq_template string, "
        "monitored boolean, protocol string",
    )
    point = lambda dt, tmpl, measure, unit: (  # noqa: E731
        dt, tmpl, f"{measure}_raw", measure, unit, "none", None, None, None, None)
    templates = local_frame(
        spark,
        [
            point("type-0", "tmpl-0", "temp", "C"),
            point("type-0", "tmpl-0", "pressure", "bar"),
            point("type-0", "tmpl-0", "pressure", "bar"),
            point("type-1", "tmpl-1", "temp", "C"),
            point("type-1", "tmpl-1", "flow", "m3/h"),
        ],
        "device_type string, template_name string, tag_name string, "
        "measure_name string, unit string, scale_mode string, "
        "slope decimal(10,4), offset decimal(10,4), factor decimal(10,4), "
        "target_min decimal(10,4)",
    )
    return devices, templates


STATES = {
    "edge_cases": [
        # DEV-A temp: good and recent -> a value row, DEV-A online
        ("DEV-A", "temp", "type-0", "temp_raw", "C",
         (_ts(10), 1, 21.5), (_ts(10), 1, 0)),
        # DEV-A pressure: only bad updates -> no good update, seed row
        ("DEV-A", "pressure", "type-0", "pressure_raw", "bar",
         None, (_ts(9), 2, BAD)),
        # DEV-B temp: a good value, but the device's latest event is bad
        ("DEV-B", "temp", "type-0", "temp_raw", "C",
         (_ts(5), 3, 19.0), (_ts(11), 4, BAD)),
        # DEV-B pressure under a drifted tag, device type and unit: the
        # configured (DEV-B, pressure) point still counts as updated
        ("DEV-B", "pressure", "type-9", "pressure_drift", "psi",
         (_ts(6), 5, 2.5), (_ts(6), 5, 0)),
        # DEV-Z is no longer configured: its value row stays, and its
        # event is the logical now
        ("DEV-Z", "temp", "type-0", "temp_raw", "C",
         (_ts(12), 6, 30.0), (_ts(12), 6, 0)),
        # DEV-U is unmonitored: a value row, no liveness row
        ("DEV-U", "temp", "type-0", "temp_raw", "C",
         (_ts(1), 7, 5.0), (_ts(1), 7, 0)),
    ],
    # a device whose latest event is good but older than the window
    "stale_device": [
        ("DEV-A", "temp", "type-0", "temp_raw", "C",
         (_ts(0), 1, 1.0), (_ts(0), 1, 0)),
        ("DEV-C", "flow", "type-1", "flow_raw", "m3/h",
         (_ts(30), 2, 7.0), (_ts(30), 2, 0)),
    ],
    "empty": [],
}


def _bind(spark, frames: dict) -> dict:
    db = spark.conf.get("spark.sql.globalTempDatabase")
    names = {}
    for key, df in frames.items():
        names[key] = f"_snapshot_test_{key}_{uuid.uuid4().hex}"
        df.createGlobalTempView(names[key])
    return {k: f"{db}.{v}" for k, v in names.items()}


def _run(spark, text: str, frames: dict):
    from opcua_ingestion_engine_spark.functions.timefmt import MODVALUES_TS_FMT
    from opcua_ingestion_engine_spark.operators import ingest

    views = _bind(spark, frames)
    try:
        df = spark.sql(
            text.format(**views),
            args={
                "window_us": 60 * 1_000_000,
                "ts_fmt": MODVALUES_TS_FMT,
                "epoch": ingest.EPOCH_TS_TEXT,
            },
        )
        return df.schema, sorted(tuple(r) for r in df.collect())
    finally:
        for v in views.values():
            spark.catalog.dropGlobalTempView(v.split(".", 1)[1])


@pytest.mark.parametrize("case", sorted(STATES))
def test_one_stage_snapshot_equals_reference_join_form(spark, case):
    from opcua_ingestion_engine_spark.operators import ingest
    from opcua_ingestion_engine_spark.session import local_frame

    devices, templates = _catalog(spark)
    mon, tpl = ingest.catalog_frames(devices, templates)
    state = local_frame(spark, STATES[case], STATE_DDL)
    points_devices, points = ingest.static_rows(mon, tpl)

    want = _run(spark, REFERENCE_SQL, {"state": state, "mon": mon, "tpl": tpl})
    got = ingest.snapshot_from_state(state, points_devices, points)
    assert got.schema == want[0]
    assert sorted(tuple(r) for r in got.collect()) == want[1]
    # the duplicated template point yields its seed row twice in both forms
    if case == "empty":
        seeds = [r for r in want[1] if r[4] == "pressure"]
        assert len(seeds) == 4, seeds

    # the seed test is keyed on (daq_name, measure_name): a variant keyed
    # on the whole point key sees the drifted DEV-B pressure row as a
    # different point and emits a seed row the reference does not
    if case == "edge_cases":
        full_key = ingest._SNAPSHOT_SQL.replace(
            "OVER (PARTITION BY daq_name, measure_name)",
            "OVER (PARTITION BY daq_name, measure_name, device_type, tag_name, unit)",
        )
        assert full_key != ingest._SNAPSHOT_SQL
        frames = {"state": state, "devices": points_devices, "points": points}
        assert _run(spark, full_key, frames)[1] != want[1]
