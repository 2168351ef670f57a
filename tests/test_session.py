"""Engine session defaults."""

import os

import pytest

from dbp_etl_spark.session import LOCAL_FS_CLASS, default_driver_memory, local_fs_classpath


def _mb(setting: str) -> int:
    assert setting.endswith("m"), setting
    return int(setting[:-1])


def test_default_driver_memory_fits_physical_memory(tmp_path):
    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo on this platform")
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert _mb(default_driver_memory()) <= total_kb // 1024
    # half of a small host, 48g on a large one
    info = tmp_path / "meminfo"
    info.write_text("MemTotal:       15728640 kB\nMemFree:         1000 kB\n")
    assert _mb(default_driver_memory(str(info))) == 7680
    info.write_text("MemTotal:      263000000 kB\n")
    assert _mb(default_driver_memory(str(info))) == 48 * 1024


def test_local_filesystem_is_the_nio_shim(spark, tmp_path):
    """The session's file: FileSystem is the shim, and its setPermission
    sets exactly the requested bits, as chmod does (no umask applied)."""
    import stat

    if local_fs_classpath() is None:
        pytest.skip("no javac on this host: the stock FileSystem is used")
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == LOCAL_FS_CLASS + "$Raw"
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_text("x")
    d.mkdir()
    for p, mode in ((f, 0o666), (f, 0o600), (d, 0o777), (d, 0o750)):
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
        assert stat.S_IMODE(p.stat().st_mode) == mode


_CHILD = """
import os, stat, sys
from pyspark.sql import functions as F
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.session import get_spark

os.umask(0o077)  # the shim must set Hadoop's modes, not inherit the process's
spark = get_spark(cores=1, shuffle_partitions=1, extra_conf={"spark.driver.memory": "512m"})
rows = spark.range(40).select(F.col("id").cast("string").alias("url"))
t = LakeTable.create(spark, sys.argv[1], TableSchema.from_struct(rows.schema), num_buckets=4)
t.append(rows, batch_id="b0")
spark.stop()
snap = os.path.join(t.root, t.manifest["files"][0]["path"].split("/_bucket=")[0])
for d, _, files in os.walk(snap):
    print(oct(stat.S_IMODE(os.stat(d).st_mode)), d)
    for fn in files:
        print(oct(stat.S_IMODE(os.stat(os.path.join(d, fn)).st_mode)), fn)
"""


def test_local_write_starts_no_chmod_process(tmp_path):
    """With a logging ``chmod`` first on PATH, a bucket write in a fresh
    session starts none; its files and directories still get 0644/0755
    (Hadoop's default umask) although the process umask is 077."""
    import subprocess
    import sys

    if local_fs_classpath() is None:
        pytest.skip("no javac on this host: the stock FileSystem is used")
    bin_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bin_dir.mkdir()
    chmod = bin_dir / "chmod"
    chmod.write_text(f'#!/bin/sh\necho "$*" >> {log}\nexec /bin/chmod "$@"\n')
    chmod.chmod(0o755)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(tmp_path / "t")],
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout.split("\n")
    modes = [line.split(" ", 1) for line in out if line]
    assert not log.exists(), log.read_text()
    assert sum(name.endswith(".parquet") for _, name in modes) == 4
    for mode, name in modes:
        assert mode == ("0o755" if name.startswith("/") else "0o644"), (mode, name)
