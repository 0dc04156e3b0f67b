"""S1 — custom PySpark streaming DataSource simulating an OPC UA
subscription (SURVEY.md §2.1 S1/S2; north-star "Structured Streaming with
custom OPC UA source connector").

The reference holds one OPC UA ``Subscription`` per server, each pushing
``MonitoredItem`` notifications (``Services/OpcSubscribeService.cs:227-244,
751-759``). This connector reproduces that topology in the Python
DataSource API (``pyspark.sql.datasource``):

- **One input partition per connection** (``partitions()``): exactly the
  reference's subscription-per-server sharding — each partition reads only
  its server's notifications, so a 1000-server estate fans out to 1000
  parallel readers with no shuffle at the source.
- **Time-based offsets**: the offset is a ``received_ts`` watermark; each
  ``latestOffset()`` call advances it one publishing interval (S2's
  micro-batch drain of queued notifications). Offsets are data-independent,
  so exactly-once recovery replays the same window per batch id.
- **Notification synthesis**: rows are derived from the ``events`` fixture
  with the same arithmetic as ``catalog.opc_updates`` (device/node-id
  concat X6, bad-status marker, received_ts = source_ts + jitter), emitted
  as the raw notification schema the ingest pipeline consumes.

A real deployment swaps ``_load_notifications`` for an OPC UA client
session per partition (subscription churn T5/T6 lives in that client);
everything downstream — ``foreachBatch`` merge sink, liveness state,
snapshot — is shared with the replay path untouched.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = (
    "event_id bigint, server_url string, conn_id int, node_id string, "
    "daq_name string, measure_name string, tag_name string, value double, "
    "source_ts timestamp, status_code bigint, received_ts timestamp"
)

BAD_STATUS = 2147483648


# received_ts = source_ts + (event_id % 150) s: a notification lands at
# most this long after its source timestamp
_MAX_DELAY_US = 150 * 1_000_000


def _source_ts_filter(ts_type, start_us: int, end_us: int):
    """A pyarrow filter on the fixture's ``ts`` column that keeps every
    row whose received ts can fall in the window ``(start_us, end_us]``:
    source ts in ``(start_us - 150 s, end_us]``, widened to whole units
    of the column's type. TIMESTAMP columns compare in their own unit; a
    raw int64 column holds nanoseconds."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lo, hi = start_us - _MAX_DELAY_US, end_us
    per_us = {"s": 1_000_000, "ms": 1_000, "us": 1}.get(getattr(ts_type, "unit", "ns"))
    if per_us is None:  # nanoseconds
        lo, hi = lo * 1_000, hi * 1_000
    else:
        lo, hi = lo // per_us, -(-hi // per_us)
    ts = pc.field("ts")
    return (ts >= pa.scalar(lo, ts_type)) & (ts <= pa.scalar(hi, ts_type))


def _load_notifications(path: str, window: tuple[int, int] | None = None):
    """Read the events fixture into notification-shaped numpy columns.
    Runs inside a partition read (executor) or at planning time (driver) —
    plain pyarrow, no SparkSession.

    ``window=(start_us, end_us)`` reads only the rows that can arrive in
    that received-ts window: the parquet read filters on the source ts
    (skipping row groups by their statistics) before any pandas
    conversion, so a micro-batch costs O(window), not O(history). The
    caller still applies the exact received-ts bounds."""
    import pyarrow.parquet as pq

    filters = None
    if window is not None:
        filters = _source_ts_filter(pq.read_schema(path).field("ts").type, *window)
    t = pq.read_table(
        path, columns=["event_id", "user_id", "event_type", "value", "ts"], filters=filters
    )
    ev = t.to_pandas()
    ts = ev["ts"]
    # Fixture generations differ: TIMESTAMP(NANOS) arrives as
    # datetime64[ns] / int64 ns, TIMESTAMP(MICROS) as datetime64[us] —
    # normalize to µs without assuming the unit.
    if str(ts.dtype).startswith("datetime64"):
        ts_us = ts.astype("datetime64[us]").astype("int64")
    else:
        ts_us = ts.astype("int64") // 1000  # raw int64 is always ns
    ev = ev.assign(
        source_us=ts_us,
        received_us=ts_us + (ev["event_id"] % 150) * 1_000_000,
        # identical arithmetic to catalog.opc_updates / SQL_OPC_UPDATES:
        # the connection is the DEVICE's (user_id % 100), as site_devices
        # assigns it, not the raw user's
        conn_id=(ev["user_id"] % 100 % 3).astype("int64"),
    )
    return ev


class _ConnWindowPartition(InputPartition):
    def __init__(
        self,
        path: str,
        conn_id: int,
        start_us: int,
        end_us: int,
        outage: tuple[int, int] | None = None,
    ):
        self.path = path
        self.conn_id = conn_id
        self.start_us = start_us
        self.end_us = end_us
        self.outage = outage


class OpcUaSimStreamReader(DataSourceStreamReader):
    """Watermark offsets + per-connection partitions (see module doc)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("opcua_sim requires .option('path', <events.parquet>)")
        self.num_batches = int(options.get("num_batches", "8"))
        # T5/T6 — simulated server outage: notifications of outage_conn
        # with received_us in [outage_start_us, outage_end_us) are LOST,
        # exactly the reference's reconnect semantics (subscription dies
        # with the TCP session; the backoff loop re-subscribes and resumes
        # from LIVE data, it does not backfill —
        # OpcSubscribeService.cs:873-957). Downstream the LWW state heals
        # to the post-reconnect snapshot with no special-casing.
        self.outage_conn = (
            int(options["outage_conn"]) if "outage_conn" in options else None
        )
        self.outage_start_us = int(options.get("outage_start_us", "0"))
        self.outage_end_us = int(options.get("outage_end_us", "0"))
        ev = _load_notifications(self.path)
        self._min_us = int(ev["received_us"].min())
        self._max_us = int(ev["received_us"].max())
        span = max(1, self._max_us - self._min_us)
        self._step_us = -(-span // self.num_batches)  # ceil
        self._conns = sorted(int(c) for c in ev["conn_id"].unique())

    def initialOffset(self) -> dict:
        return {"ts_us": self._min_us - 1}

    def latestOffset(self) -> dict:
        # Advance one publishing interval per trigger (S2 drain); clamp at
        # the fixture's end. A live connector would report the newest
        # queued notification timestamp instead.
        cur = getattr(self, "_cur_us", self._min_us - 1)
        nxt = min(cur + self._step_us, self._max_us)
        self._cur_us = nxt
        return {"ts_us": nxt}

    def partitions(self, start: dict, end: dict):
        return [
            _ConnWindowPartition(
                self.path,
                c,
                start["ts_us"],
                end["ts_us"],
                outage=(
                    (self.outage_start_us, self.outage_end_us)
                    if c == self.outage_conn
                    else None
                ),
            )
            for c in self._conns
        ]

    def read(self, partition: _ConnWindowPartition):
        yield from _read_partition(partition)

    def commit(self, end: dict) -> None:
        pass


def _read_partition(partition: _ConnWindowPartition):
    """Vectorized partition read shared by the stream and batch readers:
    the window's rows only (``_load_notifications``), one pandas pass
    and ONE Arrow RecordBatch yielded per (connection, window) — the
    DataSource API consumes Arrow batches directly,
    skipping per-row Python tuple pickling (the row-at-a-time form is
    the classic Python-source bottleneck once notification volume
    grows)."""
    import pyarrow as pa

    ev = _load_notifications(partition.path, (partition.start_us, partition.end_us))
    m = (
        (ev["conn_id"] == partition.conn_id)
        & (ev["received_us"] > partition.start_us)
        & (ev["received_us"] <= partition.end_us)
    )
    if partition.outage is not None:
        o_start, o_end = partition.outage
        m &= ~((ev["received_us"] >= o_start) & (ev["received_us"] < o_end))
    sel = ev[m]
    if len(sel) == 0:
        return
    dev = "DEV-" + (sel["user_id"] % 100).astype("int64").astype(str).str.zfill(3)
    tag = sel["event_type"].astype(str) + "_raw"
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(sel["event_id"].astype("int64"), pa.int64()),
            pa.array(
                "opc.tcp://10.10.100." + str(partition.conn_id + 1) + ":62541"
                for _ in range(len(sel))
            ),
            pa.array([partition.conn_id] * len(sel), pa.int32()),
            pa.array("ns=2;s=" + dev + "/" + tag),
            pa.array(dev),
            pa.array(sel["event_type"].astype(str)),
            pa.array(tag),
            pa.array(sel["value"].astype("float64"), pa.float64()),
            pa.array(sel["source_us"].astype("int64"), pa.timestamp("us")),
            pa.array(
                ((sel["event_id"] % 50 == 0) * BAD_STATUS).astype("int64"),
                pa.int64(),
            ),
            pa.array(sel["received_us"].astype("int64"), pa.timestamp("us")),
        ],
        names=[
            "event_id",
            "server_url",
            "conn_id",
            "node_id",
            "daq_name",
            "measure_name",
            "tag_name",
            "value",
            "source_ts",
            "status_code",
            "received_ts",
        ],
    )


class OpcUaSimBatchReader(DataSourceReader):
    """Batch form of the connector: the full notification history in one
    read, still one input partition per connection (the same sharding the
    subscription topology dictates). ``spark.read.format("opcua_sim")``."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("opcua_sim requires .option('path', <events.parquet>)")

    def partitions(self):
        ev = _load_notifications(self.path)
        lo = int(ev["received_us"].min()) - 1
        hi = int(ev["received_us"].max())
        return [
            _ConnWindowPartition(self.path, int(c), lo, hi)
            for c in sorted(ev["conn_id"].unique())
        ]

    def read(self, partition: _ConnWindowPartition):
        yield from _read_partition(partition)


class OpcUaSimDataSource(DataSource):
    """``spark.readStream.format("opcua_sim").option("path", ...)`` (or
    batch ``spark.read``) after
    ``spark.dataSource.register(OpcUaSimDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "opcua_sim"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> OpcUaSimBatchReader:
        return OpcUaSimBatchReader(self.options)

    def streamReader(self, schema) -> OpcUaSimStreamReader:
        return OpcUaSimStreamReader(self.options)
