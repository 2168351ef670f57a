"""SparkSession factory with engine defaults.

Defaults chosen for correctness-vs-oracle comparison (UTC timestamps,
ANSI off so try_cast-style semantics are explicit) and for scale
(AQE on, Arrow on, shuffle partitions sized to cores rather than the
200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half of
    physical memory, at most 48g. A heap the machine cannot back lets
    the JVM grow until the OOM killer takes it; hosts with 96 GB or
    more keep 48g. 48g when ``meminfo`` is unreadable."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mb, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "dbp-etl-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``cores`` sets ``local[N]``; default comes from ``SPARK_GRAFT_CPUS``
    or ``local[*]``. On a real cluster the master is injected by
    spark-submit and this argument is ignored.
    """
    if cores is not None:
        master = f"local[{cores}]"
    else:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cpus}]" if env_cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    # Only set master when not already launched under spark-submit --master.
    if "SPARK_SUBMIT_MASTER" not in os.environ:
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side rows whose scans stay in the JVM.

    ``spark.createDataFrame(list)`` parallelizes pickled rows, so every
    job that scans the frame (a count, a join side, a write) runs one
    Python task per partition, each paying the Python worker round trip
    even for two rows or none. Here the rows travel once as an Arrow
    table and an empty frame has no partitions at all. ``rows`` are
    tuples in schema order; naive datetimes in top-level timestamp
    columns are local time, as in createDataFrame.
    """
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    if not rows:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), struct)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = struct.names
    local_ts = [f.name for f in struct.fields if isinstance(f.dataType, TimestampType)]
    dicts = []
    for r in rows:
        d = dict(zip(names, r))
        for c in local_ts:
            if d.get(c) is not None and d[c].tzinfo is None:
                d[c] = d[c].astimezone()
        dicts.append(d)
    table = pa.Table.from_pylist(dicts, schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)
