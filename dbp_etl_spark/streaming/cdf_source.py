"""``lake_cdf`` — a Structured Streaming source over a lake table's
committed change feed.

The Spark 4 Python DataSource API lets the engine expose its write-time
changelog (see ``LakeTable.create(changelog=True)``) as a first-class
``readStream`` source — the Delta ``readChangeFeed`` streaming analog,
and the changes-out half of the CDC story: one lake table's committed
MERGEs become another pipeline's input stream, with Spark's streaming
checkpoint providing exactly-once offset tracking.

Reference analog: the dependent-table refresh chain
(/root/reference/load/DBPLoadController.py:126-140) — downstream tables
re-derived after each upstream commit; here downstream consumers TAIL
the upstream feed incrementally instead of re-reading state.

Physical shape (the 100 TB story):

* **Offsets are snapshot ids.** ``latestOffset`` reads one small
  VERSION pointer; planning loads only the in-window manifests.
* **One InputPartition per changelog file** — the read fans out across
  executors, each decoding its file with pyarrow and emitting Arrow
  RecordBatches straight into Spark's vectorized ingest (no per-row
  Python, no driver funnel). A commit's churn is split over however
  many files its write produced.
* **O(churn) per microbatch**: only changelog bytes move; table state
  is never scanned.

Planning and reads run in Spark's Python workers (no live
SparkSession), so manifest access is plain-filesystem JSON — the source
supports roots readable via POSIX paths (local, NFS, fuse mounts).

Options:

* ``path`` (required) — table root.
* ``startingSnapshot`` — exclusive lower bound; default = the head at
  stream start (tail new changes only). Must be >= the table's
  min retained snapshot.
* ``includePre`` — also emit ``update_pre`` rows (default false).
* ``onMissingChangelog`` — ``error`` (default) or ``skip`` for commits
  that changed rows without a changelog. On a ``changelog=True`` table
  MERGE / snapshot-apply / DML / same-schema rollback are all covered,
  and so is ``append(feed='insert')`` — the verified-insert-only bulk
  load whose feed is served from the commit's own data files
  (``changelog_from_data``), covering the seed-then-tail lifecycle with
  zero changelog write amplification. The uncovered commits are plain
  bulk ``append`` (may violate key-uniqueness, so no per-key feed is
  derivable), merge-on-read
  ``delete_keys`` (unconditional equality deletes — deriving the feed
  would need the target read the fast path exists to avoid), WAP
  publishes (squashed multi-commit branches) and schema-reverting
  rollbacks.
* ``maxSnapshotsPerBatch`` — rate limit: at most this many commits per
  microbatch, engaging from the SECOND microbatch of a run — the first
  batch after any (re)start is unbounded, because the checkpointed
  position is only revealed at ``partitions()`` time and capping from
  a guessed anchor could rewind a restarted stream's offsets (replay).

Output schema: the table schema at stream start (minus ``_deleted``)
plus ``_change_type`` and ``_commit_snapshot``. Planning walks the
window with the table's own commit walk (``lake/table.py:
_window_commits``) and aligns changelog files written under older
schemas with its column-id rule (``TableSchema.names_of``), so the
stream and ``read_changes`` cannot disagree on either.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from dbp_etl_spark.lake.table import _feed_columns, _schema_of, _window_commits

_META = "_meta"


def _head_snapshot(root: str) -> int:
    """Rolled-forward head id (pure reads; mirrors LakeTable._head)."""
    with open(os.path.join(root, _META, "VERSION")) as f:
        snap = int(f.read().strip())
    while True:
        nxt = os.path.join(root, _META, f"v{snap + 1}.json")
        if not os.path.exists(nxt):
            return snap
        try:
            with open(nxt) as f:
                json.load(f)
        except (ValueError, OSError):
            return snap
        snap += 1


def _manifest(root: str, snap: int) -> dict:
    try:
        with open(os.path.join(root, _META, f"v{snap}.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"snapshot {snap} of {root} was expired while the stream was "
            "stopped — its changelog is gone. Size expire_snapshots' "
            "keep_last to cover the longest consumer downtime, or restart "
            "the stream from a fresh checkpoint."
        ) from None


class _ChangelogFilePartition(InputPartition):
    """One changelog parquet file + its column alignment to the stream
    schema: ``srcs`` maps each output column to the file's column name
    for the same column id (None => NULL-fill), for the post-image
    columns and the ``_pre`` struct's fields alike."""

    def __init__(
        self,
        path: str,
        snapshot: int,
        srcs,
        include_pre: bool,
        insert_only: bool = False,
    ):
        self.path = path
        self.snapshot = snapshot
        self.srcs = srcs  # list[(out_name, src_name|None)], key first
        self.include_pre = include_pre
        # insert_only: the "file" is a DATA file of an append(feed=
        # 'insert') commit — no _change_type/_pre columns on disk;
        # every row streams as an insert with no pre-image.
        self.insert_only = insert_only


class _CDFStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("lake_cdf requires .option('path', <table root>)")
        self.include_pre = str(options.get("includepre", "false")).lower() == "true"
        self.on_missing = str(options.get("onmissingchangelog", "error")).lower()
        if self.on_missing not in ("error", "skip"):
            raise ValueError("onMissingChangelog must be 'error' or 'skip'")
        mx = options.get("maxsnapshotsperbatch")
        self.max_snapshots = int(mx) if mx is not None else None
        self.starting = options.get("startingsnapshot")
        head = _head_snapshot(self.root)
        m = _manifest(self.root, head)
        self.min_retained = int(m.get("min_retained_snapshot") or 0)
        self.schema_cols = _stream_columns(m)
        self._last_end: int | None = None

    def initialOffset(self) -> dict:
        if self.starting is not None:
            start = int(self.starting)
            if start < self.min_retained:
                raise ValueError(
                    f"startingSnapshot {start} below the retained horizon "
                    f"({self.min_retained}) — those changelogs were expired"
                )
        else:
            start = _head_snapshot(self.root)
        self._last_end = start
        return {"snapshot": start}

    def latestOffset(self) -> dict:
        head = _head_snapshot(self.root)
        if self.max_snapshots is not None and self._last_end is not None:
            # Rate limiting engages only once partitions() has revealed
            # the stream's true position. The first call after any
            # (re)start MUST return the uncapped head: the checkpointed
            # offset is invisible here, and any anchor we guess (e.g.
            # startingSnapshot) can sit BELOW a restarted stream's
            # committed offset — returning that would rewind Spark's
            # recorded end offset and re-deliver processed snapshots.
            # An uncapped first batch is the safe failure mode.
            head = max(min(head, self._last_end + self.max_snapshots), self._last_end)
        self._last_end = head if self._last_end is None else max(self._last_end, head)
        return {"snapshot": head}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["snapshot"]), int(end["snapshot"])
        # the true stream position: lets the rate-limit cap resume from
        # the checkpointed offset after a restart
        self._last_end = max(self._last_end or 0, lo, hi)
        out = []
        names = [name for name, _cid, _dt in self.schema_cols]
        ids = [cid for _name, cid, _dt in self.schema_cols]
        for c in _window_commits(lambda s: _manifest(self.root, s), lo, hi):
            if c.row_change == "none":
                continue
            if c.row_change != "log":
                if self.on_missing == "skip":
                    continue
                raise ValueError(
                    f"snapshot {c.snap} changed rows without a changelog "
                    f"(summary: {sorted(c.summary)}); pass "
                    ".option('onMissingChangelog','skip') to ignore such commits"
                )
            srcs = list(zip(names, c.schema.names_of(ids)))
            for rel in c.files:
                out.append(
                    _ChangelogFilePartition(
                        os.path.join(self.root, rel),
                        c.snap,
                        srcs,
                        self.include_pre,
                        insert_only=c.insert_only,
                    )
                )
        return out

    def read(self, partition: _ChangelogFilePartition):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type

        # footer-first column pruning: update-heavy changelogs carry a
        # _pre struct duplicating the full row — skip decoding it (and
        # any column dropped since) unless the stream asked for it
        file_names = set(pq.read_schema(partition.path).names)
        wanted = {src for _name, src in partition.srcs if src}
        if not partition.insert_only:
            wanted.add("_change_type")
            if partition.include_pre:
                wanted.add("_pre")
        tbl = pq.read_table(
            partition.path, columns=sorted(wanted & file_names)
        ).combine_chunks()
        n = tbl.num_rows
        names = set(tbl.schema.names)
        atypes = {name: to_arrow_type(dt) for name, _cid, dt in self.schema_cols}

        def col(src, name):
            at = atypes[name]
            if src is None or src not in names:
                return pa.nulls(n, at)
            arr = tbl[src]
            return pc.cast(arr, at) if arr.type != at else arr

        key_name = self.schema_cols[0][0]
        post = [col(src, name) for name, src in partition.srcs]
        if partition.insert_only:
            ct = pa.array(["insert"] * n, type=pa.string())
        else:
            ct = pc.cast(tbl["_change_type"], pa.string())
        snap_arr = pa.array([partition.snapshot] * n, type=pa.int64())
        out_names = [name for name, _src in partition.srcs] + [
            "_change_type",
            "_commit_snapshot",
        ]
        yield pa.RecordBatch.from_arrays(
            [_as_array(a) for a in post] + [_as_array(ct), snap_arr], names=out_names
        )
        if not partition.include_pre or partition.insert_only:
            return  # inserts have no pre-image
        mask = pc.equal(tbl["_change_type"], pa.scalar("update_post"))
        upd = tbl.filter(mask)
        m_rows = upd.num_rows
        if m_rows == 0:
            return
        pre_struct = upd["_pre"].combine_chunks()
        pre_fields = {f.name for f in pre_struct.type} if pa.types.is_struct(pre_struct.type) else set()

        def pre_col(src, name):
            at = atypes[name]
            if name == key_name:
                arr = upd[partition.srcs[0][1]] if partition.srcs[0][1] in upd.schema.names else None
                return pc.cast(arr, at) if arr is not None else pa.nulls(m_rows, at)
            if src is None or src not in pre_fields:
                return pa.nulls(m_rows, at)
            arr = pre_struct.field(src)
            return pc.cast(arr, at) if arr.type != at else arr

        pre = [pre_col(src, name) for name, src in partition.srcs]
        yield pa.RecordBatch.from_arrays(
            [_as_array(a) for a in pre]
            + [
                pa.array(["update_pre"] * m_rows, type=pa.string()),
                pa.array([partition.snapshot] * m_rows, type=pa.int64()),
            ],
            names=out_names,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's streaming checkpoint

    def stop(self) -> None:
        pass


def _as_array(a):
    """ChunkedArray -> Array (RecordBatch wants plain arrays)."""
    import pyarrow as pa

    if isinstance(a, pa.ChunkedArray):
        return a.combine_chunks()
    return a


def _stream_columns(manifest: dict):
    """(name, col_id, spark_type) for the stream's output columns —
    the table schema at stream start minus the tombstone flag, KEY
    FIRST (matching read_changes' column order)."""
    schema = _schema_of(manifest)
    struct = schema.to_struct()
    return [
        (c.name, c.col_id, struct[c.name].dataType)
        for c in _feed_columns(schema, manifest["key"])
    ]


class LakeCDFDataSource(DataSource):
    """``spark.readStream.format('lake_cdf').option('path', root)``."""

    @classmethod
    def name(cls) -> str:
        return "lake_cdf"

    def schema(self):
        root = self.options.get("path")
        if not root:
            raise ValueError("lake_cdf requires .option('path', <table root>)")
        head = _head_snapshot(root)
        cols = _stream_columns(_manifest(root, head))
        return T.StructType(
            [T.StructField(name, dt) for name, _cid, dt in cols]
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_snapshot", T.LongType()),
            ]
        )

    def streamReader(self, schema) -> _CDFStreamReader:
        return _CDFStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the ``lake_cdf`` format on this session."""
    spark.dataSource.register(LakeCDFDataSource)


def read_change_stream(spark, root: str, **options):
    """Convenience: register + return the streaming change-feed frame.

    ``options`` accepts the documented option names in either camelCase
    or lowercase."""
    register(spark)
    reader = spark.readStream.format("lake_cdf").option("path", root)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
