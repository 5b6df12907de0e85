"""SparkSession factory.

The reference builds its sessions ad hoc per service with AQE + Kryo enabled
(reference: services/streaming-service/spark_config.py:39-57,
services/api-service/config.py:39-47). We centralize one factory with
deterministic settings for oracle comparison (UTC session timezone — DuckDB
timestamps are TZ-naive) and local-mode-appropriate shuffle parallelism.

Scale posture: on a real cluster the same builder is used with
``master=None`` (inherit from spark-submit) and ``shuffle_partitions`` sized
to ~2-3x total executor cores; AQE coalesces down at runtime. Nothing here is
local-mode-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# SQL confs every query depends on, all runtime-settable — applied
# defensively by sources.catalog.load_table so the engine works on a
# SparkSession it didn't build (e.g. the verification driver's):
# - nanosAsLong: a legacy testdata generation wrote events.ts as parquet
#   TIMESTAMP(NANOS), which Spark otherwise refuses to read at all
# - inferTimestampNTZ off: parquet timestamp[us] columns with
#   isAdjustedToUTC=false would otherwise load as TIMESTAMP_NTZ, which Spark
#   rejects for event-time watermarks (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
#   and forbids casting to DOUBLE; reading them as TIMESTAMP_LTZ at the SCAN
#   keeps predicate pushdown alive (no cast wrapping the column) and is
#   value-identical under the UTC session TZ
# - UTC session TZ: timestamp formatting must match the TZ-naive DuckDB oracle
# - outputTimestampType=TIMESTAMP_MICROS: the default INT96 is deprecated
#   AND carries no parquet footer statistics, which would leave versioned-
#   table manifest bounds (sources.snapshots._footer_meta) permanently
#   fail-open on timestamp stats columns; micros is value-identical and
#   footer-stats-complete
RUNTIME_SQL_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine requires to ANY session."""
    for k, v in RUNTIME_SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some build — the factory path sets it anyway
    return spark


def get_spark(
    app_name: str = "demo_bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    Deterministic + oracle-friendly: UTC session timezone, ANSI off (reference
    ran Spark 3.4 defaults), Arrow enabled for the Pandas-UDF tier.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get(
            "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        )
    if master:
        builder = builder.master(master)
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # legacy testdata wrote TIMESTAMP(NANOS) parquet, which Spark rejects
        # by default; read as long and convert in sources.catalog (same µs
        # truncation DuckDB applies when reading nanos). Current testdata is
        # timestamp[us]: read as LTZ at the scan (see RUNTIME_SQL_CONFS).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # INT96 (the default) is deprecated and stats-less in parquet
        # footers; micros keeps manifest timestamp bounds harvestable
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of the driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` is a DDL string or a StructType). The rows travel as a
    pyarrow table typed with ``to_arrow_schema``, which the JVM reads
    itself, so no Python worker starts; a list-built ``createDataFrame``
    runs its first job through Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
