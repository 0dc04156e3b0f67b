"""SparkSession factory tuned for this engine, and ``local_frame``, which
builds small driver-held frames as JVM-resident local relations.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. The same settings
scale to a real cluster: AQE for runtime re-planning (skew joins, partition
coalescing), UTC session timezone (required for DuckDB-oracle parity — DuckDB
timestamps are naive/UTC), Arrow for the few pandas exchanges we do.

``spark.sql.shuffle.partitions`` is sized to the local core count; on a
1000-executor cluster this would be set to ~2-3x total cores (or left to AQE
coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "opcua_ingestion_engine_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp —
        # read as long and convert in catalog.load_table (exact integer div).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet timestamps (isAdjustedToUTC=false, e.g. events.ts,
        # orders.o_orderdate) must read as TIMESTAMP (LTZ, session tz UTC),
        # not TIMESTAMP_NTZ: the time functions the operators use
        # (unix_micros, window, date_format) take LTZ, and with UTC session
        # tz the wall-clock values are identical to DuckDB's naive reads.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held rows, planned as a ``LocalRelation``
    (``LocalTableScan``): every scan or broadcast of it stays in the JVM.

    ``spark.createDataFrame(<list of tuples>)`` gives a Python-RDD-backed
    ``Scan ExistingRDD`` instead, and each job over that starts Python
    workers (about 0.3 s per task before any user code runs). Going
    through a ``pyarrow.Table`` gives a local relation whatever the
    session's Arrow setting. ``rows`` are tuples in ``schema`` order;
    ``schema`` is a StructType or a DDL string. A naive datetime in a
    timestamp column is read in the process's local zone, as
    ``createDataFrame(<list>)`` reads it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, TimestampType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = []
    for i, (field, arrow_field) in enumerate(zip(schema.fields, arrow_schema)):
        vals = [r[i] for r in rows]
        if isinstance(field.dataType, TimestampType):
            vals = [v.astimezone() if v is not None and v.tzinfo is None else v for v in vals]
        cols.append(pa.array(vals, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow_schema), schema)
