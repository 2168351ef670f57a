"""SparkSession factory with engine defaults.

Defaults chosen for correctness-vs-oracle comparison (UTC timestamps,
ANSI off so try_cast-style semantics are explicit) and for scale
(AQE on, Arrow on, shuffle partitions sized to cores rather than the
200 default).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string

DEFAULT_SHUFFLE_PARTITIONS = 32

# Hadoop's file: FileSystem with permissions set through java.nio
# (jvm/NioLocalFileSystem.java); see local_fs_classpath.
LOCAL_FS_CLASS = "dbpetl.NioLocalFileSystem"
_LOCAL_FS_SRC = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")

_log = logging.getLogger(__name__)


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


@functools.lru_cache(maxsize=None)
def local_fs_classpath() -> str | None:
    """Class directory of ``LOCAL_FS_CLASS``, compiled on first use.

    Without libhadoop, Hadoop's local FileSystem starts a ``chmod``
    process for every file, checksum file and directory it creates, and
    a 32-bucket write creates about a hundred. The shim sets the same
    mode bits through java.nio. It is compiled with the host JDK against
    Spark's Hadoop client jar into ``jvm/build/<key>``, where the key
    hashes the source, the JDK's release file and the jar name; a
    compile writes a temporary directory and renames it into place, so
    concurrent sessions never see a half-written class. None (logged
    once per process) when the host has no ``javac``."""
    javac = shutil.which("javac")
    if javac is None:
        _log.warning("no javac on PATH: local writes use Hadoop's stock file: FileSystem")
        return None
    javac = os.path.realpath(javac)
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if not jars:
        raise RuntimeError(f"no hadoop-client-api jar under {_find_spark_home()}/jars")
    key = hashlib.sha256()
    with open(_LOCAL_FS_SRC, "rb") as f:
        key.update(f.read())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(javac)), "release"), "rb") as f:
            key.update(f.read())
    except OSError:
        key.update(javac.encode())
    key.update(os.path.basename(jars[0]).encode())
    out = os.path.join(os.path.dirname(_LOCAL_FS_SRC), "build", key.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.dirname(out))
    try:
        subprocess.run(
            [javac, "--release", "17", "-cp", jars[0], "-d", tmp, _LOCAL_FS_SRC],
            check=True,
        )
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else another session compiled it first
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _local_fs_loadable() -> bool:
    """Whether the session about to start can load ``LOCAL_FS_CLASS``: a
    JVM this process starts gets the shim's class path, but a running
    one (a stopped session keeps its JVM) has the class path it was
    started with."""
    if SparkContext._jvm is None:
        return True
    try:
        SparkContext._jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
        return True
    except Py4JJavaError:  # ClassNotFoundException
        return False


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

    A local session's ``file:`` FileSystem is ``LOCAL_FS_CLASS``, which
    sets permissions without a ``chmod`` process per file; its class
    directory goes in front of any ``spark.driver.extraClassPath`` in
    ``extra_conf``. Under spark-submit the cluster's filesystems are
    left alone.
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
    conf = dict(extra_conf or {})
    # Only set master when not already launched under spark-submit --master.
    if "SPARK_SUBMIT_MASTER" not in os.environ:
        builder = builder.master(master)
        shim = local_fs_classpath()
        if shim is not None and _local_fs_loadable():
            builder = builder.config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
            cp = conf.get("spark.driver.extraClassPath")
            conf["spark.driver.extraClassPath"] = shim + (os.pathsep + cp if cp else "")
    for k, v in conf.items():
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
