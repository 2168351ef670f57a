"""LakeTable — copy-on-write snapshot table over Parquet.

The storage half of the engine's MERGE sink. Semantics modeled on the
reference's transactional apply unit (one SQL transaction per fileset,
/root/reference/load/SQLBatchExec.py:168-213) and run ledger
(/root/reference/load/RunStatus.py:28-48), generalized to a lake table:

* **Atomic snapshot commit** — the exclusive, complete-or-absent
  create of the manifest ``v{N}.json`` is the commit point (WAL
  style); the VERSION pointer then swings atomically. Readers see
  either the old or the new snapshot, never a torn state, and a crash
  between manifest and pointer is rolled forward by ``load()``.
* **Idempotent batch ledger** — every commit carries a ``batch_id``;
  re-applying an already-committed batch is a no-op (the reference's
  rerun-produces-empty-diff property, made structural).
* **bucket(key) layout** — data files are hash-bucketed by the merge
  key. A MERGE that touches K of B buckets reads and rewrites only
  those buckets' files; untouched files are carried forward by
  reference in the new manifest. This is the file-pruning that makes
  copy-on-write viable at 10^10-row scale.
* **Schema evolution without rewrite** — see lake/schema.py. Old data
  files are projected to the current schema at read time by column id.

Layout under ``root/``::

    _meta/VERSION            # current snapshot id (atomic pointer)
    _meta/v{N}.json          # manifest of snapshot N
    data/snap-{N}/_bucket=K/part-*.parquet

Concurrency: single writer per table (the reference applies batches
serially, /root/reference/load/DBPLoadController.py:118-141; SURVEY
ST6). Commits are guarded by a compare-and-swap: the snapshot manifest
``v{N}.json`` is created with atomic exclusive-create semantics
(tmp+hardlink locally, tmp+no-overwrite-rename on Hadoop FS), so of
two racing writers holding the same parent snapshot exactly one wins —
the loser gets CommitConflict. On S3A rename is not atomic, so
single-writer discipline still applies there.

Storage: all metadata IO goes through ``lake/fs.py`` — the root may be
a plain local path or any Hadoop-resolvable URI (``hdfs://``,
``s3a://``, ``file:`` …); data files always go through Spark
readers/writers, which speak those schemes natively.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.lake.fs import Filesystem, fs_for
from dbp_etl_spark.lake.schema import ColumnSpec, TableSchema, spark_type
from dbp_etl_spark.lake.stats import (
    collect_file_stats,
    file_may_match,
    file_must_match,
    validate_predicates,
)
from dbp_etl_spark.session import local_frame

# column types with a usable total order for manifest file bounds
_STATS_TYPES = {"string", "timestamp", "long", "int", "double", "float", "boolean", "date"}

_META = "_meta"
_DATA = "data"

# batch ids with a trailing integer have a usable order for ledger
# pruning: "42" -> ("", 42), "stream-ab12-7" -> ("stream-ab12-", 7)
_ORDERED_ID = re.compile(r"^(.*?)(\d+)$")


class SnapshotExpired(RuntimeError):
    """Time-travel target was removed by expire_snapshots."""


class ConstraintViolation(RuntimeError):
    """A write contained rows failing a table CHECK constraint; the
    commit was aborted (no manifest published — the attempt's data
    files are unreferenced orphans, reclaimed by remove_orphan_files)."""


class CommitConflict(RuntimeError):
    """Another writer committed since this table handle loaded its snapshot."""


def bucket_of(key: Column, num_buckets: int) -> Column:
    """The table's bucket hash policy: pmod(xxhash64(key), num_buckets).
    Every bucket assignment (writes, pruning probes, rebucketing) goes
    through here, so files and pruning always agree."""
    return F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("int")


def changelog_partitions(spark: SparkSession) -> int:
    """The changelog writer's file-count bound: one file per core, at
    most 64, per commit. ``_write_changelog`` shuffles a frame down to
    it; a writer whose frame is cheap to narrow coalesces to it first."""
    return max(1, min(64, spark.sparkContext.defaultParallelism))


def _entry_paths(f: dict):
    """All storage paths a manifest entry references (data file +
    optional bloom sidecar) — the unit of GC liveness."""
    yield f["path"]
    kb = f.get("kbloom")
    if kb:
        yield kb["path"]


def _changelog_paths(m: dict):
    """Changelog files recorded by the commit that created manifest
    ``m`` (Delta _change_data analog) — live exactly as long as the
    manifest is retained."""
    return (m.get("summary") or {}).get("changelog_files") or []


# summary keys listing a commit's change-feed files: per-snapshot, so
# they stay out of the commit's ledger entries
_FEED_FILE_KEYS = ("changelog_files", "changelog_from_data")

# summary keys of commits that provably do not change VISIBLE row state
# (compaction, layout, metadata, tombstone vacuum). Used to classify a
# snapshot for the changelog fast path without tagging every call site.
_STATE_PRESERVING_SUMMARY_KEYS = frozenset(
    {
        "schema_op",
        "compacted_buckets",
        "rebucket",
        "migration_flip",
        "migration_step",
        "expire_snapshots",
        "tag",
        "untag",
        "add_constraint",
        "drop_constraint",
        "stats_columns",
        "vacuum_older_than",
        "empty_batch",
    }
)


def _row_change_of(m: dict) -> str:
    """Classify what a commit did to visible row state: ``'log'`` (a
    changelog was materialized), ``'none'`` (provably state-preserving),
    or ``'unknown'`` (row-level change without a changelog — bulk
    append, equality deletes, WAP publish, schema-reverting rollback,
    and every commit of a table without ``changelog=True``)."""
    s = m.get("summary") or {}
    rc = s.get("row_change")
    if rc:
        return rc
    if _STATE_PRESERVING_SUMMARY_KEYS & s.keys():
        return "none"
    # a merge that found nothing to rewrite left visible state intact
    if s.get("dirty_buckets") == [] and "counts" in s:
        return "none"
    return "unknown"


def _schema_of(m: dict) -> TableSchema:
    """The schema manifest ``m`` is current under."""
    return TableSchema.from_json(m["schemas"][str(m["schema_version"])])


def _feed_columns(schema: TableSchema, key: str) -> list[ColumnSpec]:
    """``schema``'s columns in change-feed order: key first, then the
    rest minus the ``_deleted`` tombstone flag."""
    return sorted(
        (c for c in schema.columns if c.name != "_deleted"), key=lambda c: c.name != key
    )


def _window_struct(schema: TableSchema, key: str) -> T.StructType:
    """The changelog row shape under ``schema`` — the one internal form
    of a change window: the feed columns, a ``_pre`` struct of the
    non-key columns (update pre-images; a delete row carries its old
    image in the regular columns) and ``_change_type``."""
    st = schema.to_struct()
    fields = [st[c.name] for c in _feed_columns(schema, key)]
    return T.StructType(
        [
            *fields,
            T.StructField("_pre", T.StructType(fields[1:])),
            T.StructField("_change_type", T.StringType()),
        ]
    )


def _aligned(
    to_cols: list[ColumnSpec], to_struct: T.StructType, src: TableSchema, get=F.col
) -> list[Column]:
    """``to_cols`` read from a frame written under ``src``: each is
    ``get`` of ``src``'s column with the same id cast to its to-type,
    or a typed NULL when ``src`` has no such column."""
    return [
        (get(s) if s is not None else F.lit(None)).cast(to_struct[c.name].dataType).alias(c.name)
        for c, s in zip(to_cols, src.names_of([c.col_id for c in to_cols]))
    ]


def _feed_rows(window: DataFrame, key: str, include_pre: bool) -> DataFrame:
    """read_changes' rows from a change window: ``_pre`` dropped, or
    each update row inlined to an ``update_post`` + ``update_pre`` pair
    in the same pass (no second scan or diff per consumer)."""
    if not include_pre:
        return window.drop("_pre")
    others = [c for c in window.columns if c not in (key, "_pre", "_change_type")]
    ct = F.col("_change_type")
    post = F.struct(*others, ct)
    pre = F.struct(
        *[F.col("_pre").getField(c).alias(c) for c in others],
        F.lit("update_pre").alias("_change_type"),
    )
    rows = F.when(ct == "update_post", F.array(post, pre)).otherwise(F.array(post))
    return window.select(F.col(key), F.inline(rows))


class _Commit(NamedTuple):
    """One commit of a change window, as the feed readers see it."""

    snap: int
    summary: dict
    row_change: str  # _row_change_of
    schema: TableSchema  # the schema its feed rows were written under
    files: list[str]  # feed files, relative to the table root
    insert_only: bool  # files are the data files of an append(feed='insert')


def _window_commits(manifest_at, from_snapshot: int, to_snapshot: int):
    """Yield each commit in (from, to], loading manifests lazily through
    ``manifest_at(snap)`` so a caller can stop at the first uncovered
    one. Pure Python: the streaming source plans with it in Python
    workers that have no SparkSession."""
    for snap in range(from_snapshot + 1, to_snapshot + 1):
        m = manifest_at(snap)
        s = m.get("summary") or {}
        from_data = s.get("changelog_from_data")
        sv = s.get("changelog_schema_version", m["schema_version"])
        yield _Commit(
            snap,
            s,
            _row_change_of(m),
            TableSchema.from_json(m["schemas"][str(sv)]),
            from_data or _changelog_paths(m),
            bool(from_data),
        )


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        manifest: dict,
        fs: Filesystem | None = None,
    ):
        self.spark = spark
        self.root = root
        self.manifest = manifest
        self._fs = fs or fs_for(root, spark)
        # optional LockService (lake/lock.py): serializes the commit
        # critical section for stores whose exclusive create is
        # check-then-act (S3A-style). None = rely on the fs CAS.
        self.lock = None
        # set by TxnCoordinator.transaction(): commits are COLLECTED
        # (staged) instead of published — see lake/txn.py
        self._txn_collector = None
        # set by wap_branch(): commits are STAGED to the named
        # write-audit-publish branch instead of the main chain
        self._wap_id: str | None = None

    # ------------------------------------------------------------- lifecycle

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: TableSchema,
        key: str = "url",
        num_buckets: int = 16,
        bloom_key: bool = False,
        stats_columns: list[str] | None = None,
        merge_on_read: bool = False,
        max_delta_commits: int | None = None,
        manifest_bloom_key: bool = False,
        constraints: dict[str, str] | None = None,
        changelog: bool = False,
    ) -> "LakeTable":
        """Create an empty table.

        ``changelog=True``: every MERGE commit additionally materializes
        its row-level changes (insert / update_post / delete, with
        pre-images) as parquet files recorded in that commit's summary —
        the Delta CDF ``_change_data`` analog. ``read_changes`` then
        serves any window covered by changelogs from those O(churn)
        files instead of full-outer-joining two snapshots (O(dirty-
        bucket bytes) per call on copy-on-write tables), and the
        ``lake_cdf`` streaming source can tail the feed. Cost: one
        extra churn-sized parquet write per MERGE, paid on the write
        job's already-computed join. Off by default.

        ``constraints``: named CHECK expressions (``{name: sql_expr}``,
        Delta-constraint analog) enforced on EVERY write path — see
        ``add_constraint`` for semantics and cost.

        ``merge_on_read=True``: MERGE commits write only the CHANGED
        rows (upserts + tombstones) as sequence-numbered DELTA files
        instead of rewriting whole dirty buckets — the Hudi-MOR /
        Iceberg-v2 write path. Reads resolve per key (newest delta
        wins, base rows shadowed) so results are identical to
        copy-on-write; ``compact()`` folds deltas back into base files.
        The trade at 100 TB: per-batch write cost drops from
        O(dirty-bucket bytes) to O(churn) — with multi-GB buckets and
        1%-churn batches that is a ~100x write-amplification cut — paid
        for by a churn-sized merge at read time until the next
        compaction. Default off: read-heavy tables want copy-on-write.

        ``max_delta_commits`` (merge-on-read only): per-bucket bound on
        accumulated delta commits. A merge-on-read read unions one
        frame per delta sequence group, so unbounded delta accumulation
        bloats the read plan linearly; this property makes the bound
        STRUCTURAL instead of advisory — after any delta commit, every
        bucket that reached the bound is immediately folded back into
        base files (an auto-compaction commit keyed
        ``autocompact-{snapshot}`` in the batch ledger, so a replayed
        crash is a no-op). Reads then merge at most
        ``max_delta_commits`` commits' churn per bucket. Maintenance
        cost is O(hot-bucket bytes), only where churn concentrated —
        cold buckets are never rewritten.

        ``stats_columns``: record per-file min/max/null-count bounds
        for these columns in the manifest at every write (Iceberg's
        ``lower_bounds``/``upper_bounds``). ``read(where=...)`` then
        prunes files from metadata alone — see lake/stats.py. Off by
        default: collection reads one footer per written file at
        commit time, which a pure-throughput tail may not want.

        ``bloom_key=True`` writes a parquet bloom filter on the merge
        key into every data file: point lookups (WHERE url = ...) then
        skip row groups that provably lack the key — worth it for
        lookup-heavy tables with GB-sized files, where the ~100 KB/file
        overhead amortizes to noise. Off by default: on write-heavy
        tails with small files the build cost is measurable (A/B'd at
        4-25% of the CDC leg at test file sizes).

        ``manifest_bloom_key=True`` additionally keeps a per-FILE key
        bloom in a sidecar referenced from the manifest (the Iceberg
        puffin analog): a point lookup then drops files that provably
        lack the key at PLAN time, before any footer or row is read —
        the layer between bucket pruning (~1/B of files) and the
        parquet bloom (skips row groups inside an opened file). Min/max
        bounds cannot do this for high-cardinality hashed keys. Cost:
        one key-column read per new file at commit (churn-sized), ~10
        bits/row of sidecar.

        ``num_buckets`` sizing: aim for bucket data size of a few GB so
        a MERGE rewrite task is neither tiny nor spill-prone — 16-32 for
        test scale, ~4096 at the 10^10-row / 100 TB design point (then
        a batch touching 1% of keys reads/writes ~40 buckets ≈ 1 TB,
        spread over the cluster). Buckets are fixed at create time;
        changing them is a full rewrite (as in Iceberg bucket specs).
        """
        if key not in schema.names():
            raise ValueError(f"key column {key!r} not in schema")
        if "_deleted" not in schema.names():
            # internal tombstone flag: a delete event writes a tombstone
            # row (ts-guarded) instead of erasing state, so out-of-order
            # events arriving after the delete are still suppressed.
            # Hidden from plain reads; vacuumable.
            schema = schema.add_column("_deleted", "boolean")
        fs = fs_for(root, spark)
        fs.mkdirs(os.path.join(root, _META))
        fs.mkdirs(os.path.join(root, _DATA))
        manifest = {
            "snapshot_id": 0,
            "parent_id": None,
            "key": key,
            "num_buckets": num_buckets,
            "schema_version": 1,
            "schemas": {"1": schema.to_json()},
            "files": [],
            "committed_batches": {},
            "summary": {},
            "bloom_key": bloom_key,
        }
        if manifest_bloom_key:
            manifest["manifest_bloom_key"] = True
        if changelog:
            manifest["changelog"] = True
        if merge_on_read:
            manifest["merge_on_read"] = True
            if max_delta_commits is not None:
                if max_delta_commits < 1:
                    raise ValueError("max_delta_commits must be >= 1")
                manifest["max_delta_commits"] = int(max_delta_commits)
        elif max_delta_commits is not None:
            raise ValueError("max_delta_commits requires merge_on_read=True")
        if stats_columns:
            manifest["stats_col_ids"] = cls._resolve_stats_cols(schema, stats_columns)
        if constraints:
            for name, expr in constraints.items():
                cls._check_constraint_expr(spark, schema, name, expr)
            manifest["constraints"] = dict(constraints)
        fs.create_text_exclusive(
            os.path.join(root, _META, "v0.json"), json.dumps(manifest, indent=1)
        )
        fs.write_text(os.path.join(root, _META, "VERSION"), "0")
        return cls(spark, root, manifest, fs=fs)

    @staticmethod
    def _resolve_stats_cols(schema: TableSchema, cols: list[str]) -> list[int]:
        by_name = {c.name: c for c in schema.columns}
        ids = []
        for name in cols:
            c = by_name.get(name)
            if c is None:
                raise ValueError(f"stats column {name!r} not in schema")
            if c.type not in _STATS_TYPES:
                raise ValueError(
                    f"stats unsupported for column {name!r} of type {c.type}"
                )
            ids.append(c.col_id)
        return ids

    # ------------------------------------------------------- constraints

    @staticmethod
    def _check_constraint_expr(
        spark: SparkSession, schema: TableSchema, name: str, expr: str
    ) -> None:
        """Validate a constraint at declaration time: name shape, SQL
        parse, column resolution against the schema, boolean type."""
        if not re.fullmatch(r"[A-Za-z0-9_.-]+", name or ""):
            raise ValueError(
                f"constraint name {name!r} must be [A-Za-z0-9_.-]+ (it is "
                "used as a metric column and a ledger-id component)"
            )
        from pyspark.sql.types import BooleanType

        probe = local_frame(spark, [], schema.to_struct())
        try:
            dt = probe.select(F.expr(expr).alias("c")).schema["c"].dataType
        except Exception as e:  # noqa: BLE001 — surface parse/resolution errors
            raise ValueError(f"constraint {name!r} invalid: {e}") from e
        if not isinstance(dt, BooleanType):
            raise ValueError(
                f"constraint {name!r} must be a boolean expression, got {dt.simpleString()}"
            )

    @property
    def constraints(self) -> dict:
        """name -> CHECK expression currently enforced on writes."""
        return dict(self.manifest.get("constraints") or {})

    def add_constraint(self, name: str, expr: str, batch_id=None) -> "LakeTable":
        """Declare a CHECK constraint (Delta ``ADD CONSTRAINT`` analog).

        Existing LIVE rows are validated first (one bucket-parallel
        scan; fails with ``ConstraintViolation`` listing the count),
        then the constraint lands as a metadata-only commit. From then
        on EVERY write path (MERGE, append, deltas, DML, compaction)
        counts violations DURING its own write job via
        ``DataFrame.observe`` — zero extra scans — and aborts before
        the manifest commit if any live row fails.

        Semantics are Delta's: a row passes only when the expression
        evaluates to TRUE; NULL fails (so ``col IS NOT NULL`` is the
        not-null constraint, and a nullable check must say so:
        ``col IS NULL OR col >= 0``). Tombstone rows are exempt — a
        delete nulls its payload columns by design.

        Main-chain only (like tags); a WAP rebase adopts MAIN's
        constraint set without re-validating branch data (same race
        Delta has — audit in the branch if that matters)."""
        if self._wap_id is not None:
            raise RuntimeError("add_constraint operates on the main chain, not a WAP branch")
        self._check_constraint_expr(self.spark, self.schema, name, expr)
        cur = self.constraints
        if name in cur:
            if cur[name] == expr:
                return self
            raise ValueError(
                f"constraint {name!r} already exists with a different "
                "expression; drop it first"
            )
        n_bad = (
            self.read()
            .filter(~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)))
            .count()
        )
        if n_bad:
            raise ConstraintViolation(
                f"cannot add constraint {name!r}: {n_bad} existing live rows "
                f"violate ({expr})"
            )
        bid = batch_id if batch_id is not None else f"add-constraint-{name}-at-{self.snapshot_id}"
        if self.is_committed(bid):
            return self
        return self._commit(
            self._next_manifest(
                {"add_constraint": {name: expr}}, bid, constraints={**cur, name: expr}
            )
        )

    def drop_constraint(self, name: str, batch_id=None) -> "LakeTable":
        """Remove a CHECK constraint. Unknown names no-op (replay-safe)."""
        if self._wap_id is not None:
            raise RuntimeError("drop_constraint operates on the main chain, not a WAP branch")
        cur = self.constraints
        if name not in cur:
            return self
        bid = batch_id if batch_id is not None else f"drop-constraint-{name}-at-{self.snapshot_id}"
        if self.is_committed(bid):
            return self
        return self._commit(
            self._next_manifest(
                {"drop_constraint": name},
                bid,
                constraints={k: v for k, v in cur.items() if k != name},
            )
        )

    def set_stats_columns(self, cols: list[str]) -> "LakeTable":
        """Start recording per-file bounds for ``cols`` on future
        writes (metadata-only commit). Files already written keep no
        bounds and are simply never pruned — conservative by design."""
        ids = self._resolve_stats_cols(self.schema, cols)
        return self._commit(
            self._next_manifest({"stats_columns": list(cols)}, stats_col_ids=ids)
        )

    @staticmethod
    def _head(fs, root: str) -> tuple[int, dict]:
        """Rolled-forward head snapshot id + its parsed manifest.

        A manifest whose pointer write was interrupted is still
        committed (the exclusive manifest create is the commit point),
        so roll past the pointer while the next manifest exists AND
        parses — a torn file from a crash mid-create is not a commit.
        Pure reads: nothing is written, so read-only callers and
        read-only storage work; the pointer is repaired by the next
        successful commit."""
        snap = int(fs.read_text(os.path.join(root, _META, "VERSION")).strip())
        manifest = json.loads(fs.read_text(os.path.join(root, _META, f"v{snap}.json")))
        while True:
            nxt = os.path.join(root, _META, f"v{snap + 1}.json")
            if not fs.exists(nxt):
                break
            try:
                manifest = json.loads(fs.read_text(nxt))
            except (ValueError, OSError):
                break  # torn manifest: not committed
            snap += 1
        return snap, manifest

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        fs = fs_for(root, spark)
        _, manifest = cls._head(fs, root)
        return cls(spark, root, manifest, fs=fs)

    @classmethod
    def exists(cls, root: str, spark: SparkSession | None = None) -> bool:
        return fs_for(root, spark).exists(os.path.join(root, _META, "VERSION"))

    def clone_to(self, dest_root: str, snapshot_id: int | None = None) -> "LakeTable":
        """Deep clone: export ONE snapshot as a new, fully independent
        table (backup / dev-fork / cross-region DR — the analog of
        Delta DEEP CLONE).

        The chosen snapshot's live files (data + bloom sidecars, MOR
        deltas included) are byte-copied under ``dest_root`` at their
        original relative paths, and its manifest is republished as the
        clone's v0 — schema versions, key/bucket spec, stats, flags,
        constraints, any in-progress bucket migration state, and the
        COMMIT LEDGER all carry over, so a change tail resumed against
        the clone skips exactly the batches the source had applied.
        History does NOT carry over: the clone has one snapshot (no
        time travel past it, no changelog window before it), and later
        writes to either table never affect the other.

        Reference analog: the reference forks state by re-running the
        load into a second database (SURVEY §3.2's dual-target loads);
        a snapshot export is the lake-native form. Scale: the copy is
        O(live bytes of one snapshot) sequential-file IO with no
        compute; at 100 TB run it once per DR site, not per consumer
        (consumers should use read_changes / replicas instead)."""
        from dbp_etl_spark.lake.fs import copy_file

        if self._wap_id is not None:
            raise ValueError("clone from a WAP branch handle is not supported")
        if LakeTable.exists(dest_root, self.spark):
            raise ValueError(f"destination {dest_root!r} already holds a table")
        src_m = self._manifest_at(
            self.snapshot_id if snapshot_id is None else snapshot_id
        )
        dest_fs = fs_for(dest_root, self.spark)
        dest_fs.mkdirs(os.path.join(dest_root, _META))
        dest_fs.mkdirs(os.path.join(dest_root, _DATA))
        for f in src_m["files"]:
            for rel in _entry_paths(f):
                copy_file(
                    self._fs,
                    os.path.join(self.root, rel),
                    dest_fs,
                    os.path.join(dest_root, rel),
                )
        new_m = json.loads(json.dumps(src_m))  # deep copy, JSON-clean
        new_m["snapshot_id"] = 0
        new_m["parent_id"] = None
        new_m["summary"] = {
            "cloned_from": self.root,
            "source_snapshot": src_m["snapshot_id"],
        }
        # Snapshot-id-relative state must NOT carry over: the clone's
        # history starts at 0, so a source min_retained_snapshot (set by
        # expire_snapshots) would make remove_orphan_files scan an empty
        # snapshot range and delete every live file; tags and staged-WAP
        # bookkeeping point at snapshot ids the clone does not have.
        new_m.pop("min_retained_snapshot", None)
        new_m.pop("tags", None)
        for k in [k for k in new_m if k.startswith("wap_")]:
            del new_m[k]
        dest_fs.create_text_exclusive(
            os.path.join(dest_root, _META, "v0.json"), json.dumps(new_m, indent=1)
        )
        dest_fs.write_text(os.path.join(dest_root, _META, "VERSION"), "0")
        return LakeTable(self.spark, dest_root, new_m, fs=dest_fs)

    def refresh(self) -> "LakeTable":
        if self._wap_id is not None:
            return LakeTable.load(self.spark, self.root).wap_branch(self._wap_id)
        return LakeTable.load(self.spark, self.root)

    # ------------------------------------------------------------ properties

    @property
    def key(self) -> str:
        return self.manifest["key"]

    @property
    def num_buckets(self) -> int:
        return self.manifest["num_buckets"]

    @property
    def snapshot_id(self) -> int:
        return self.manifest["snapshot_id"]

    @property
    def min_retained_snapshot(self) -> int:
        """Oldest snapshot id still readable (advanced by expire_snapshots)."""
        return self.manifest.get("min_retained_snapshot", 0)

    @property
    def schema(self) -> TableSchema:
        return TableSchema.from_json(
            self.manifest["schemas"][str(self.manifest["schema_version"])]
        )

    def schema_at(self, version: int) -> TableSchema:
        return TableSchema.from_json(self.manifest["schemas"][str(version)])

    def is_committed(self, batch_id) -> bool:
        if isinstance(batch_id, (list, tuple)):
            return all(self._id_committed(str(b)) for b in batch_id)
        return self._id_committed(str(batch_id))

    def _id_committed(self, sid: str) -> bool:
        """Ledger membership, falling back to the pruned-history watermark.

        ``expire_snapshots`` drops ledger entries older than the retained
        history, folding ordered batch ids (any id with a trailing
        integer — plain ints, ``stream-{id}-{epoch}``, …) into a
        per-prefix high-watermark. An id at-or-below its prefix's
        watermark is committed-by-definition: the tail contract (ST6)
        applies batches in id order, so everything below the pruning
        horizon was applied before anything above it. Ids with no
        trailing integer are never pruned (no order to reason with)."""
        if sid in self.manifest["committed_batches"]:
            return True
        wm = self.manifest.get("ledger_watermarks")
        if not wm:
            return False
        m = _ORDERED_ID.match(sid)
        if m is None:
            return False
        prefix, num = m.group(1), int(m.group(2))
        if prefix not in wm:
            return False
        entry = wm[prefix]
        if isinstance(entry, (list, tuple)):  # [lo, hi] range (see expire)
            return entry[0] <= num <= entry[1]
        return num <= entry  # legacy scalar high-watermark

    def committed_batches(self) -> dict:
        return dict(self.manifest["committed_batches"])

    def bucket_expr(self, col: str | None = None) -> Column:
        """Deterministic bucket id for a key value (see ``bucket_of``)."""
        return bucket_of(F.col(col or self.key), self.num_buckets)

    def buckets_of(self, df: DataFrame, col: str | None = None) -> list[int]:
        """Sorted distinct buckets of ``df``'s ``col`` values (default:
        the key column), NULL dropped — the dirty/candidate-bucket probe
        of every write path. One job: a map-side-combined distinct over
        at most ``num_buckets`` values."""
        rows = df.select(self.bucket_expr(col).alias("b")).distinct().collect()
        return sorted(r["b"] for r in rows if r["b"] is not None)

    # ------------------------------------------------------------------ read

    def read(
        self,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
        include_deleted: bool = False,
        tag: str | None = None,
        where: list[tuple] | None = None,
        read_optimized: bool = False,
    ) -> DataFrame:
        """Read current (or time-travel) state, optionally pruned to buckets.

        ``tag``: read the named snapshot (see ``tag_snapshot``) —
        mutually exclusive with ``snapshot_id``.

        ``read_optimized``: on a merge-on-read table, scan BASE files
        only — Hudi's read-optimized (vs real-time) view. Skips the
        per-key delta resolution entirely; the result is the state as
        of each bucket's last base write (compaction/DML), i.e. stale
        by at most the un-compacted churn. The dashboard/bulk-export
        trade: plain-scan speed for bounded staleness. No-op on
        copy-on-write tables.

        Bucket pruning is file-level: only manifest entries whose bucket
        is in ``buckets`` are scanned — the Iceberg-partition-pruning
        analog of the reference's keyed state reads
        (/root/reference/load/UpdateDBPFilesetTables.py:234-242).

        ``where``: list of ``(column, op, value)`` predicates
        (op in ``=`` ``<`` ``<=`` ``>`` ``>=`` ``in``), ANDed. Used
        twice: files whose manifest bounds prove no match are pruned
        before the scan (see lake/stats.py), and the same predicates
        are re-applied as a real filter on the scanned rows — so the
        result is always exactly ``read().filter(...)``, stats or not.
        An equality/``in`` predicate on the merge key additionally
        prunes to that key's hash bucket (the point-lookup fast path:
        bucket → file bounds → parquet row-group/bloom, each layer
        narrowing the last).
        """
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass either snapshot_id or tag, not both")
            snapshot_id = self.resolve_tag(tag)
        manifest = self.manifest
        if snapshot_id is not None and snapshot_id != manifest["snapshot_id"]:
            if snapshot_id < self.min_retained_snapshot:
                raise SnapshotExpired(
                    f"snapshot {snapshot_id} was expired (min retained: "
                    f"{self.min_retained_snapshot}); raise keep_last on "
                    "expire_snapshots to retain more history"
                )
            manifest = self._manifest_at(snapshot_id)
        current = _schema_of(manifest)
        files = self._prune_entries(manifest, current, buckets, where)

        cur_struct = current.to_struct()
        if not files:
            empty = local_frame(self.spark, [], cur_struct)
            if not include_deleted and "_deleted" in empty.columns:
                empty = empty.drop("_deleted")
            return empty

        if read_optimized:
            files = [f for f in files if not f.get("delta")]
            if not files:
                empty = local_frame(self.spark, [], cur_struct)
                if not include_deleted and "_deleted" in empty.columns:
                    empty = empty.drop("_deleted")
                return empty
        delta_buckets = {f["bucket"] for f in files if f.get("delta")}
        if delta_buckets:
            # merge-on-read resolution, confined to buckets that hold
            # delta files; every other bucket scans exactly as before
            plain = [f for f in files if f["bucket"] not in delta_buckets]
            out = self._resolve_mor(
                manifest,
                current,
                cur_struct,
                plain=plain,
                base=[f for f in files if f["bucket"] in delta_buckets and not f.get("delta")],
                deltas=[f for f in files if f.get("delta")],
            )
        else:
            out = self._project_to_current(manifest, current, cur_struct, files)
        if not include_deleted and "_deleted" in out.columns:
            out = out.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop("_deleted")
        if where:
            out = out.filter(self._where_condition(where))
        return out

    def _project_to_current(
        self, manifest: dict, current: TableSchema, cur_struct, files: list[dict]
    ) -> DataFrame | None:
        """Scan ``files`` projected to the current schema: files are
        grouped by the schema version they were written under, each
        group's columns mapped by COLUMN ID (rename/widen-safe), added
        columns null-filled. Returns None for an empty file list."""
        if not files:
            return None
        by_ver: dict[int, list[str]] = {}
        for f in files:
            by_ver.setdefault(f["schema_version"], []).append(os.path.join(self.root, f["path"]))
        parts: list[DataFrame] = []
        for ver, paths in sorted(by_ver.items()):
            written = TableSchema.from_json(manifest["schemas"][str(ver)])
            df = self.spark.read.schema(written.to_struct()).parquet(*paths)
            parts.append(df.select(*_aligned(current.columns, cur_struct, written)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _resolve_mor(
        self,
        manifest: dict,
        current: TableSchema,
        cur_struct,
        plain: list[dict],
        base: list[dict],
        deltas: list[dict],
    ) -> DataFrame:
        """Merge-on-read row resolution for delta-bearing buckets.

        Invariant (maintained by the writers): base files of a bucket
        are only ever written by operations that REPLACE the bucket
        (merge copy-on-write, compact, rebucket, DML), which clears its
        deltas — so within a bucket every delta row is newer than every
        base row, and among deltas the commit sequence number orders
        writes. Resolution is therefore: newest delta per key wins;
        base rows survive only if no delta touches their key.

        Physical shape: the per-key window runs over the DELTA rows
        only (churn-sized, not table-sized); the base side then
        anti-joins the resolved delta keys — with a compaction cadence
        keeping deltas small, AQE turns that into a broadcast hash
        anti-join, so the read adds no table-sized shuffle.

        Plan audit (.explain on a 5000-base/50-delta table): base =
        Scan + BroadcastHashJoin LeftAnti (zero base shuffle); delta
        window gets WindowGroupLimit partial+final (top-1 trimmed
        BEFORE its churn-sized exchange); the anti-join key branch
        column-prunes its delta scan to the key alone. The window is
        evaluated once per consuming branch (key branch reads 1
        column, resolved branch reads all) — cheaper than persisting
        full resolved rows at churn scale.
        """
        from pyspark.sql import Window

        key = manifest["key"]
        by_seq: dict[int, list[dict]] = {}
        for f in deltas:
            by_seq.setdefault(int(f["seq"]), []).append(f)
        parts = [
            self._project_to_current(manifest, current, cur_struct, group).withColumn(
                "_mor_seq", F.lit(seq)
            )
            for seq, group in sorted(by_seq.items())
        ]
        delta_df = parts[0]
        for p in parts[1:]:
            delta_df = delta_df.unionByName(p)
        w = Window.partitionBy(key).orderBy(F.col("_mor_seq").desc())
        latest = (
            delta_df.withColumn("_mor_rn", F.row_number().over(w))
            .filter(F.col("_mor_rn") == 1)
            .drop("_mor_seq", "_mor_rn")
        )
        base_df = self._project_to_current(manifest, current, cur_struct, base)
        resolved = (
            latest
            if base_df is None
            else base_df.join(latest.select(key), key, "left_anti").unionByName(latest)
        )
        plain_df = self._project_to_current(manifest, current, cur_struct, plain)
        out = resolved if plain_df is None else plain_df.unionByName(resolved)
        # the anti-join puts the key first; normalize to schema order so
        # both read() branches present identical column order
        return out.select(*current.names())

    # ---------------------------------------------------- file skipping

    def candidate_files(
        self,
        where: list[tuple] | None = None,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
    ) -> list[dict]:
        """Manifest entries a ``read`` with the same arguments would
        scan — the metadata-only plan, for tests and the admin CLI."""
        manifest = self.manifest
        if snapshot_id is not None and snapshot_id != manifest["snapshot_id"]:
            manifest = self._manifest_at(snapshot_id)
        return self._prune_entries(manifest, _schema_of(manifest), buckets, where)

    def _prune_entries(
        self,
        manifest: dict,
        current: TableSchema,
        buckets: list[int] | None,
        where: list[tuple] | None,
    ) -> list[dict]:
        files = manifest["files"]
        if where:
            validate_predicates(where)
            name_to_id = {c.name: c.col_id for c in current.columns}
            preds_by_id: dict[int, list[tuple]] = {}
            for col, op, val in where:
                if col not in name_to_id:
                    raise ValueError(f"unknown column in where: {col!r}")
                preds_by_id.setdefault(name_to_id[col], []).append((op, val))
            tz = self._session_tz()
            # merge-on-read: per-file bounds cannot prune inside a
            # delta-bearing bucket — a delta row SHADOWS its base row,
            # so dropping the delta file (whose new value is out of
            # range) while keeping the base file would resurrect the
            # old value. Keep every file of such buckets; the residual
            # filter after resolution keeps the result exact. Bucket-
            # level key pruning below is unaffected (key -> bucket maps
            # base and delta rows alike).
            mor_buckets = {f["bucket"] for f in manifest["files"] if f.get("delta")}
            files = [
                f
                for f in files
                if f["bucket"] in mor_buckets or file_may_match(f, preds_by_id, tz)
            ]
            key_buckets = self._key_buckets_from_where(where, manifest["num_buckets"], current)
            if key_buckets is not None:
                buckets = (
                    sorted(set(key_buckets) & set(buckets))
                    if buckets is not None
                    else key_buckets
                )
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if where:
            # mid-migration bonus pruning: a migrated file also records
            # its NEW-spec bucket, so a key-equality scan narrows inside
            # the old bucket to the exact 1-of-k sub-file — the finer
            # layout pays off per step, before the flip
            specs = sorted({f["new_spec"] for f in files if f.get("new_spec")})
            for spec in specs:
                nb = self._key_buckets_from_where(where, spec, current)
                if nb is not None:
                    nbs = set(nb)
                    files = [
                        f
                        for f in files
                        if f.get("new_spec") != spec or f["new_bucket"] in nbs
                    ]
            # per-file key blooms (manifest_bloom_key): drop files that
            # provably lack EVERY queried key value. Runs last so the
            # sidecar reads are bounded by the already-bucket-pruned
            # candidate set. Key-membership pruning is safe even in
            # merge-on-read buckets: a file the bloom excludes holds no
            # row of the queried key, so per-key resolution is
            # unaffected (unlike value-range pruning, which must keep
            # whole delta buckets — see above).
            key_vals = []
            for col, op, val in where:
                if col != manifest["key"]:
                    continue
                if op == "=":
                    key_vals.append(val)
                elif op == "in":
                    key_vals.extend(val)
                else:
                    key_vals = None
                    break
            if key_vals:
                files = self._bloom_prune(files, key_vals)
        return files

    def _bloom_prune(self, files: list[dict], key_vals: list) -> list[dict]:
        import base64

        from dbp_etl_spark.lake.stats import bloom_may_contain

        out = []
        for f in files:
            kb = f.get("kbloom")
            if not kb:
                out.append(f)
                continue
            try:
                bits = base64.b64decode(
                    self._fs.read_text(os.path.join(self.root, kb["path"]))
                )
            except (OSError, ValueError):
                out.append(f)  # unreadable sidecar never prunes
                continue
            if any(bloom_may_contain(bits, kb["m"], v) for v in key_vals):
                out.append(f)
        return out

    def _session_tz(self):
        """Session timezone as a tzinfo — what ``F.lit(naive_dt)``
        localizes with, so manifest-bound pruning of naive datetime
        predicates matches Spark's own comparison. None (= never prune
        on naive datetimes) if it cannot be resolved."""
        try:
            from zoneinfo import ZoneInfo

            return ZoneInfo(self.spark.conf.get("spark.sql.session.timeZone"))
        except Exception:  # noqa: BLE001 — conservative fallback
            return None

    def _key_buckets_from_where(
        self, where: list[tuple], num_buckets: int, current: TableSchema
    ) -> list[int] | None:
        """Buckets implied by an equality/membership predicate on the
        merge key, or None. Hashing runs as one driver-side row so the
        bucket function is EXACTLY ``bucket_of`` (same JVM xxhash64)."""
        vals = None
        for col, op, val in where:
            if col == self.key and op == "=":
                vals = [val]
                break
            if col == self.key and op == "in":
                vals = list(val)
                break
        if not vals or len(vals) > 64:
            return None
        ktype = spark_type(next(c.type for c in current.columns if c.name == self.key))
        row = self.spark.range(1).select(
            *[
                bucket_of(F.lit(v).cast(ktype), num_buckets).alias(f"b{i}")
                for i, v in enumerate(vals)
            ]
        ).first()
        return sorted(set(row))

    @staticmethod
    def _where_condition(where: list[tuple]) -> Column:
        cond = F.lit(True)
        for col, op, val in where:
            c = F.col(col)
            if op == "=":
                piece = c == F.lit(val)
            elif op == "<":
                piece = c < F.lit(val)
            elif op == "<=":
                piece = c <= F.lit(val)
            elif op == ">":
                piece = c > F.lit(val)
            elif op == ">=":
                piece = c >= F.lit(val)
            else:  # "in" — validated upstream
                piece = c.isin(list(val))
            cond = cond & piece
        return cond

    def read_changes(
        self,
        from_snapshot: int,
        to_snapshot: int | None = None,
        include_pre: bool = False,
        use_changelog: bool | None = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots (Iceberg/Delta
        CDF analog): what happened to the table from ``from_snapshot``
        (exclusive) to ``to_snapshot`` (inclusive, default head).

        Returns current-schema rows plus ``_change_type`` in
        ``('insert', 'update_post', 'delete')`` — downstream consumers
        (a derived table, an index, a cache) apply the feed instead of
        re-reading the full state; this is what lets one lake table
        FEED another CDC pipeline (changes-out, not just changes-in).

        ``include_pre=True`` additionally emits an ``update_pre`` row
        (the OLD values) for every update, Delta's
        update_preimage/update_postimage pair — required by consumers
        that must RETRACT the old contribution (incremental group-bys,
        maintained indexes; see operators/incremental.py).

        Physical shape: both paths build the window in the changelog's
        own row shape (``_change_window``), and one tail turns it into
        the feed — ``_pre`` dropped, or each update inlined to its
        post+pre pair in the same pass (no second scan or diff). The
        join path diffs the two manifests for buckets whose file sets
        changed — only THOSE buckets' rows (old + new) are scanned; the
        row diff is one bucket-partitioned full-outer join keyed like
        the MERGE itself. Untouched buckets contribute nothing and are
        never read. Cost scales with the churn, not the table.

        Contract: assumes key-unique visible state (the MERGE-path
        invariant, checked by lake/integrity.py). On a bulk-append
        table with duplicate keys the full-outer diff would pair rows
        cross-product-style per key. Rows align to the to-snapshot
        schema by COLUMN ID (``TableSchema.names_of``, the rule read()
        projects with): a rename inside the window keeps its pre-image
        (same id); a drop+re-add inside the window reads NULL
        pre-images for the new column (fresh id — the dropped column's
        bytes never leak in as the pre-image of an unrelated column).

        ``use_changelog``: ``None`` (default) serves the window from
        write-time changelog files whenever every in-window commit is
        covered (``create(changelog=True)``) — a one-commit window is
        that commit's file scan as-is (no exchange), a longer one
        net-merges per key; O(churn in window) with NO table scan — and
        falls back to the join otherwise; ``False`` forces the join
        path (the reference the parity tests compare against); ``True``
        requires changelog coverage and raises if any in-window commit
        lacks it.
        """
        to_snapshot = self.snapshot_id if to_snapshot is None else to_snapshot
        if from_snapshot < self.min_retained_snapshot:
            raise SnapshotExpired(
                f"snapshot {from_snapshot} was expired (min retained: "
                f"{self.min_retained_snapshot})"
            )
        if from_snapshot > to_snapshot:
            raise ValueError("from_snapshot must be <= to_snapshot")
        window = self._change_window(from_snapshot, to_snapshot, use_changelog)
        return _feed_rows(window, self.key, include_pre)

    def _change_window(
        self, from_snapshot: int, to_snapshot: int, use_changelog: bool | None = None
    ) -> DataFrame:
        """The net change of (from, to] in the changelog's row shape
        ``(key, cols…, _pre, _change_type)`` (see ``_window_struct``),
        ``_change_type`` in insert/update_post/delete: delete rows carry
        the old image in the regular columns, update rows carry it in
        ``_pre``. The columns are the to-snapshot schema's — aligning to
        the head schema instead would null-fill a column renamed or
        dropped AFTER the window on both sides and hide its changes."""
        to_schema = _schema_of(self._manifest_at(to_snapshot))
        if use_changelog is not False:
            window = self._changelog_window(from_snapshot, to_snapshot)
            if window is not None:
                return self._changes_from_log(window, to_schema)
            if use_changelog is True:
                raise ValueError(
                    "changelog does not cover snapshots "
                    f"({from_snapshot}, {to_snapshot}] — a commit in the "
                    "window has row-level changes without a changelog"
                )
        return self._changes_from_join(from_snapshot, to_snapshot, to_schema)

    def _empty_window(self, to_schema: TableSchema) -> DataFrame:
        return local_frame(self.spark, [], _window_struct(to_schema, self.key))

    def _changes_from_join(
        self, from_snapshot: int, to_snapshot: int, to_schema: TableSchema
    ) -> DataFrame:
        """The change window diffed from two snapshots' visible state:
        one full-outer join over the buckets whose file sets differ."""

        def _files_by_bucket(m: dict) -> dict[int, frozenset]:
            by_bucket: dict[int, set] = {}
            for f_ in m["files"]:
                by_bucket.setdefault(f_["bucket"], set()).add(f_["path"])
            return {b: frozenset(s) for b, s in by_bucket.items()}

        from_manifest = self._manifest_at(from_snapshot)
        old_files = _files_by_bucket(from_manifest)
        new_files = _files_by_bucket(self._manifest_at(to_snapshot))
        dirty = sorted(
            b
            for b in set(old_files) | set(new_files)
            if old_files.get(b) != new_files.get(b)
        )
        if not dirty:
            return self._empty_window(to_schema)

        key = self.key
        cols = _feed_columns(to_schema, key)
        others = [c.name for c in cols[1:]]
        to_struct = to_schema.to_struct()

        def _visible(snap: int, schema: TableSchema) -> DataFrame:
            df = self.read(buckets=dirty, snapshot_id=snap)
            return df.select(*_aligned(cols, to_struct, schema))

        old = _visible(from_snapshot, _schema_of(from_manifest)).select(
            F.col(key),
            F.lit(True).alias("_o_present"),
            *[F.col(c).alias(f"_o_{c}") for c in others],
        )
        new = _visible(to_snapshot, to_schema).withColumn("_n_present", F.lit(True))
        j = new.join(old, key, "full_outer")
        row_changed = None
        for c in others:
            neq = ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
            row_changed = neq if row_changed is None else (row_changed | neq)
        new_absent = F.col("_n_present").isNull()
        old_absent = F.col("_o_present").isNull()
        change = (
            F.when(old_absent & ~new_absent, F.lit("insert"))
            .when(~old_absent & new_absent, F.lit("delete"))
            .when(F.coalesce(row_changed, F.lit(False)), F.lit("update_post"))
        )
        typed = j.withColumn("_change_type", change).filter(
            F.col("_change_type").isNotNull()
        )
        return typed.select(
            F.col(key),
            *[
                F.when(F.col("_change_type") == "delete", F.col(f"_o_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in others
            ],
            F.struct(*[F.col(f"_o_{c}").alias(c) for c in others]).alias("_pre"),
            "_change_type",
        )

    def _manifest_at(self, snap: int) -> dict:
        if snap == self.snapshot_id:
            return self.manifest
        return json.loads(
            self._fs.read_text(os.path.join(self.root, _META, f"v{snap}.json"))
        )

    def _changelog_window(
        self, from_snapshot: int, to_snapshot: int
    ) -> list[_Commit] | None:
        """The commits in (from, to] that carry feed files, or ``None``
        if any in-window commit changed rows without one (the fast path
        would silently miss its changes)."""
        out: list[_Commit] = []
        for c in _window_commits(self._manifest_at, from_snapshot, to_snapshot):
            if c.row_change == "unknown":
                return None
            if c.row_change == "log" and c.files:
                out.append(c)
        return out

    def _changes_from_log(self, window: list[_Commit], to_schema: TableSchema) -> DataFrame:
        """The change window served from write-time changelog files.

        One bounded parquet read per in-window commit (O(churn), no
        table scan), each aligned to the to-snapshot schema by COLUMN
        ID. A one-commit window is that scan as-is (no groupBy, no
        exchange). Longer windows NET-merge per key (one groupBy keyed
        like the MERGE): a key's first in-window change supplies the
        pre-image (= its state at from_snapshot), its last supplies the
        post-image, and insert→…→delete / update-back-to-same-value
        chains cancel — byte-equivalent to the join path's
        from-vs-to-state diff (tested for parity).
        """
        if not window:
            return self._empty_window(to_schema)
        key = self.key
        cols = _feed_columns(to_schema, key)
        others = [c.name for c in cols[1:]]
        to_struct = to_schema.to_struct()
        frames: list[DataFrame] = []
        for c in window:
            shape = _window_struct(c.schema, c.schema.names_of([cols[0].col_id])[0])
            paths = [os.path.join(self.root, p) for p in c.files]
            if c.insert_only:
                # append(feed='insert'): the feed is the commit's own data
                # files — every row an insert with no pre-image. No
                # changelog bytes were ever written.
                df = (
                    self.spark.read.schema(T.StructType(shape.fields[:-2]))
                    .parquet(*paths)
                    .select(
                        "*",
                        F.lit(None).cast(shape["_pre"].dataType).alias("_pre"),
                        F.lit("insert").alias("_change_type"),
                    )
                )
            else:
                df = self.spark.read.schema(shape).parquet(*paths)
            frames.append(
                df.select(
                    *_aligned(cols, to_struct, c.schema),
                    F.struct(
                        *_aligned(cols[1:], to_struct, c.schema, F.col("_pre").getField)
                    ).alias("_pre"),
                    "_change_type",
                    F.lit(c.snap).cast("long").alias("_cl_snap"),
                )
            )
        u = frames[0]
        for fdf in frames[1:]:
            u = u.unionByName(fdf)
        if len(frames) == 1:
            return u.drop("_cl_snap")

        packed = F.struct(
            *[F.col(c).alias(c) for c in others],
            F.col("_pre").alias("_pre"),
            F.col("_change_type").alias("_change_type"),
        )
        g = u.groupBy(key).agg(
            F.min_by(packed, F.col("_cl_snap")).alias("_first"),
            F.max_by(packed, F.col("_cl_snap")).alias("_last"),
        )
        first, last = F.col("_first"), F.col("_last")
        first_ct = first.getField("_change_type")
        last_ct = last.getField("_change_type")
        old_present = first_ct.isin("update_post", "delete")
        new_present = last_ct.isin("insert", "update_post")

        def first_pre(c: str):
            # a delete row carries its pre-image in the regular columns
            return F.when(first_ct == "delete", first.getField(c)).otherwise(
                first.getField("_pre").getField(c)
            )

        changed = None
        for c in others:
            neq = ~last.getField(c).eqNullSafe(first_pre(c))
            changed = neq if changed is None else (changed | neq)
        net = (
            F.when(~old_present & new_present, F.lit("insert"))
            .when(old_present & ~new_present, F.lit("delete"))
            # both absent (insert→…→delete) cancels; both present emits
            # only when some column's net value actually moved
            .when(
                old_present & new_present & F.coalesce(changed, F.lit(False)),
                F.lit("update_post"),
            )
        )
        typed = g.withColumn("_change_type", net).filter(
            F.col("_change_type").isNotNull()
        )
        return typed.select(
            F.col(key),
            *[
                F.when(F.col("_change_type") == "delete", first_pre(c))
                .otherwise(last.getField(c))
                .alias(c)
                for c in others
            ],
            F.struct(*[first_pre(c).alias(c) for c in others]).alias("_pre"),
            "_change_type",
        )

    # ----------------------------------------------------------------- write

    @contextmanager
    def _micros_timestamps(self):
        """Write parquet timestamps as TIMESTAMP_MICROS inside the block.
        INT96 (Spark's legacy default) carries no parquet column
        statistics, which would leave timestamp columns without
        manifest bounds; TIMESTAMP_MICROS is the modern annotated type,
        stats-capable, and lossless for Spark's micros values."""
        conf = self.spark.conf
        prev = conf.get("spark.sql.parquet.outputTimestampType")
        conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            yield
        finally:
            conf.set("spark.sql.parquet.outputTimestampType", prev)

    def _write_data(
        self,
        df: DataFrame,
        snap_id: int,
        schema_version: int,
        pre_partitioned: bool = False,
        buckets: list[int] | None = None,
    ) -> list[dict]:
        """Write df (current-schema columns) bucketed by key; return file entries.

        By default the rows are clustered by a ``_bucket`` column computed
        from the key, in one ``repartition(n, "_bucket")``: ``n`` is the
        number of buckets the write can touch (``buckets``, default every
        bucket of the table), at most ``defaultParallelism``, so the
        write runs as one wave of tasks across the cores and every bucket
        still lands in one task, hence one file. (Left to AQE, the small
        exchange of a merge coalesces to a single write task.)
        ``pre_partitioned=True``: the caller already carries and clusters
        by ``_bucket`` — write as-is. Its callers need that because the
        default cannot express their layout: ``compact``'s sorted and
        z-ordered path (range-partitioned and sorted within buckets) and
        ``rebucket``/``migrate_to_buckets`` (bucket ids under the NEW bucket
        count)."""
        schema = self.schema_at(schema_version)
        # unique dir per write ATTEMPT: if a crash lands between the
        # data write and the manifest publish, the orphan files sit in
        # their own directory and a retry cannot pick them up (the
        # manifest references files explicitly, never directories)
        snap_dir_rel = os.path.join(_DATA, f"snap-{snap_id}-{uuid.uuid4().hex[:8]}")
        snap_dir = os.path.join(self.root, snap_dir_rel)
        if "_deleted" in schema.names() and "_deleted" not in df.columns:
            df = df.withColumn("_deleted", F.lit(False))
        if pre_partitioned:
            out = df.select(*schema.names(), "_bucket")
        else:
            width = min(
                self.num_buckets if buckets is None else len(buckets),
                self.spark.sparkContext.defaultParallelism,
            )
            out = (
                df.select(*schema.names())
                .withColumn("_bucket", self.bucket_expr())
                .repartition(max(1, width), "_bucket")
            )
        cons = self.manifest.get("constraints") or {}
        obs = None
        if cons:
            # CHECK enforcement rides the write job itself (observe =
            # accumulator-style metrics, zero extra scans): violations
            # are counted as the files stream out, and a non-zero count
            # aborts BEFORE the manifest commit — the attempt's files
            # are unreferenced orphans, so nothing bad ever becomes
            # visible. Live rows only: tombstones null their payload.
            from pyspark.sql import Observation

            live = (
                ~F.coalesce(F.col("_deleted"), F.lit(False))
                if "_deleted" in out.columns
                else F.lit(True)
            )
            obs = Observation()
            out = out.observe(
                obs,
                *[
                    F.sum(
                        F.when(
                            live & ~F.coalesce(F.expr(e).cast("boolean"), F.lit(False)),
                            1,
                        ).otherwise(0)
                    ).alias(n)
                    for n, e in cons.items()
                ],
            )
        writer = out.write.partitionBy("_bucket").mode("append")
        if self.manifest.get("bloom_key", False):
            # parquet bloom filter on the merge key: a point lookup
            # (WHERE url = ...) then skips row groups that provably
            # lack the key — the per-file sibling of bucket pruning
            # (bucket pruning narrows to ~1/B of files; the bloom
            # narrows scanning WITHIN those files). ~100 KB/file at
            # the configured NDV — noise against multi-GB buckets.
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{self.key}", "true"
            ).option(f"parquet.bloom.filter.expected.ndv#{self.key}", "100000")
        with self._micros_timestamps():
            writer.parquet(snap_dir)
        if obs is not None:
            bad = {k: v for k, v in obs.get.items() if v}  # None/0 = clean
            if bad:
                raise ConstraintViolation(
                    "write aborted, CHECK constraint(s) violated by live rows: "
                    + ", ".join(f"{k}={v} rows ({cons[k]})" for k, v in sorted(bad.items()))
                )
        entries: list[dict] = []
        for bucket_dir in self._fs.list_names(snap_dir):
            if not bucket_dir.startswith("_bucket="):
                continue
            bucket = int(bucket_dir.split("=", 1)[1])
            for fn in self._fs.list_names(os.path.join(snap_dir, bucket_dir)):
                if fn.endswith(".parquet"):
                    entries.append(
                        {
                            "path": os.path.join(snap_dir_rel, bucket_dir, fn),
                            "bucket": bucket,
                            "schema_version": schema_version,
                        }
                    )
        stat_ids = set(self.manifest.get("stats_col_ids") or [])
        if stat_ids and "_deleted" in schema.names():
            # always bound the tombstone flag alongside the configured
            # columns: it costs nothing extra (same footer read) and
            # makes per-file LIVE row counts provable from metadata —
            # the basis of count_rows()/column_bounds() answering
            # without a scan (Iceberg's aggregate-pushdown analog)
            stat_ids.add(next(c.col_id for c in schema.columns if c.name == "_deleted"))
        if entries and stat_ids:
            # footer-only reads (no row bytes), one per new file — the
            # Iceberg-writer analog of emitting lower/upper bounds into
            # the manifest. Driver-side and bounded by files-per-commit
            # (≤ a few per touched bucket).
            wanted = {c.name: c.col_id for c in schema.columns if c.col_id in stat_ids}
            for e in entries:
                try:
                    e["stats"] = collect_file_stats(
                        os.path.join(self.root, e["path"]), wanted
                    )
                except Exception:  # noqa: BLE001 — stats are an optimization;
                    pass  # a file without bounds is merely never pruned
        if entries and self.manifest.get("manifest_bloom_key"):
            from dbp_etl_spark.lake.stats import build_key_bloom

            import base64

            for e in entries:
                built = build_key_bloom(os.path.join(self.root, e["path"]), self.key)
                if built is None:
                    continue  # no bloom => the file is simply never skipped
                bits, m_bits = built
                rel = e["path"] + ".kbloom"
                try:
                    self._fs.write_text(
                        os.path.join(self.root, rel),
                        base64.b64encode(bits).decode("ascii"),
                    )
                except OSError:
                    continue
                e["kbloom"] = {"m": m_bits, "path": rel}
        return entries

    def _write_changelog(self, df: DataFrame, snap_id: int) -> list[str]:
        """Materialize one commit's row-level change rows as parquet.

        Layout mirrors data writes: a unique directory per ATTEMPT
        (``_data/changelog-{snap}-{rand}``) so a crashed attempt's
        files can never be adopted by a retry; the files become live
        only when the commit's summary references them. Columns are the
        then-current schema minus ``_deleted`` plus a ``_pre`` struct
        (update pre-images; delete rows carry the pre-image in the
        regular columns, read_changes' contract) and ``_change_type``.
        """
        rel_dir = os.path.join(_DATA, f"changelog-{snap_id}-{uuid.uuid4().hex[:8]}")
        full = os.path.join(self.root, rel_dir)
        # bound output file count: changelog rows are churn-sized, but
        # the frames arrive with scan/shuffle partitioning (DML frames
        # inherit the dirty-bucket scan's split count). The repartition
        # shuffles only churn rows and keeps the upstream scan wide.
        # The merge reads its changelog slices from persisted rows and
        # coalesces them to this bound itself, so it skips this shuffle.
        bound = changelog_partitions(self.spark)
        if df.rdd.getNumPartitions() > bound:
            df = df.repartition(bound)
        with self._micros_timestamps():
            df.write.mode("append").parquet(full)
        return sorted(
            os.path.join(rel_dir, fn)
            for fn in self._fs.list_names(full)
            if fn.endswith(".parquet")
        )

    def _next_manifest(
        self, summary: dict, batch_id=None, base: dict | None = None, **changes
    ) -> dict:
        """The manifest of the next snapshot — every commit is built
        here. A copy of ``base`` (default: the head manifest) with
        ``snapshot_id``/``parent_id`` advanced past the head, the
        ``changes`` applied (a ``None`` value removes the key) and
        ``summary`` set. Each member of ``batch_id`` gets one ledger
        entry (a list is a fused group; ``None`` records nothing)."""
        n = self.snapshot_id + 1
        m = dict(self.manifest if base is None else base)
        m["snapshot_id"] = n
        m["parent_id"] = self.snapshot_id
        for k, v in changes.items():
            if v is None:
                m.pop(k, None)
            else:
                m[k] = v
        if batch_id is not None:
            entry = {
                "snapshot_id": n,
                **{k: v for k, v in summary.items() if k not in _FEED_FILE_KEYS},
            }
            ledger = dict(m["committed_batches"])
            for b in batch_id if isinstance(batch_id, (list, tuple)) else [batch_id]:
                ledger[str(b)] = dict(entry)
            m["committed_batches"] = ledger
        m["summary"] = summary
        return m

    def _logged(self, summary: dict, files: list[str], from_data: bool = False) -> dict:
        """``summary`` of a commit whose row changes the change feed
        serves (``row_change='log'``): ``files`` are its changelog
        files, or with ``from_data`` its own new data files (an
        ``append(feed='insert')``)."""
        return {
            **summary,
            "row_change": "log",
            ("changelog_from_data" if from_data else "changelog_files"): files,
            "changelog_schema_version": self.manifest["schema_version"],
        }

    def _commit(self, new_manifest: dict) -> "LakeTable":
        """Commit via exclusive manifest create (the WAL-style commit
        point), then swing the VERSION pointer. ``new_manifest`` comes
        from ``_next_manifest``, so every ledger entry has one shape:
        ``{"snapshot_id": n, **summary}`` minus the changelog file lists
        (``changelog_files``, ``changelog_from_data``), which live in the
        snapshot's summary only.

        Guards: (1) the snapshot check below fast-fails a stale handle;
        (2) the exclusive create of v{N}.json is the actual arbiter —
        two writers that both pass (1) cannot both publish; the loser
        gets CommitConflict (no lost update). A complete manifest IS a
        committed snapshot: its data files are written and its ledger
        entry rides inside it, so a crash before the pointer write
        loses nothing — load() rolls the pointer forward.

        When ``self.lock`` is set, the whole section additionally runs
        under that lease — required on stores whose exclusive create is
        check-then-act (the head re-check inside the lease then
        arbitrates; see lake/lock.py).

        Inside a multi-table transaction (lake/txn.py) the commit is
        STAGED instead: the manifest is appended to the transaction's
        collected group (published atomically with the other members at
        the transaction's single commit point) and the in-memory handle
        advances so later ops in the same transaction build on it. The
        coordinator already holds the group mutex, so no per-table lock
        is taken.
        """
        if self._wap_id is not None:
            if self._txn_collector is not None:
                raise RuntimeError(
                    "a WAP branch handle cannot commit inside a multi-table "
                    "transaction (publish the branch, then include the table)"
                )
            return self._commit_wap(new_manifest)
        if self._txn_collector is not None:
            head, _ = LakeTable._head(self._fs, self.root)
            staged_ahead = sum(
                1 for root, _m in self._txn_collector if root == self.root
            )
            if head + staged_ahead != self.manifest["snapshot_id"]:
                raise CommitConflict(
                    f"table advanced to snapshot {head} under a transaction "
                    f"(we hold {self.manifest['snapshot_id']})"
                )
            self._txn_collector.append((self.root, new_manifest))
            self.manifest = new_manifest
            return self
        if self.lock is not None:
            token = self.lock.acquire("commit")
            try:
                # fencing closure: re-validated immediately before the
                # manifest create, so a holder that stalled past its
                # lease TTL (GC pause, host CPU steal) aborts instead of
                # clobbering the successor's commit on a check-then-act
                # store (see FileLockService.validate).
                fence = getattr(self.lock, "validate", None)
                if fence is not None:
                    return self._commit_unlocked(
                        new_manifest, fence=lambda: self.lock.validate("commit", token)
                    )
                return self._commit_unlocked(new_manifest)
            finally:
                self.lock.release("commit", token)
        return self._commit_unlocked(new_manifest)

    def _commit_unlocked(self, new_manifest: dict, fence=None) -> "LakeTable":
        meta = os.path.join(self.root, _META)
        head, _ = LakeTable._head(self._fs, self.root)
        if head != self.manifest["snapshot_id"]:
            raise CommitConflict(
                f"table advanced to snapshot {head} (we hold {self.manifest['snapshot_id']})"
            )
        snap_id = new_manifest["snapshot_id"]
        payload = json.dumps(new_manifest, indent=1)
        target = os.path.join(meta, f"v{snap_id}.json")
        if fence is not None and not fence():
            raise CommitConflict(
                "commit lease expired or superseded before manifest create; "
                "a successor may hold the lock — aborting to avoid a lost update"
            )
        try:
            self._fs.create_text_exclusive(target, payload)
        except FileExistsError:
            # v{N}.json already exists despite the head check. Either a
            # completed concurrent writer won (its manifest parses ->
            # CommitConflict, reload to adopt it), or a crashed attempt
            # left a TORN file mid-create (unparsable -> not a commit:
            # replace it atomically and proceed; a live mid-create
            # writer is excluded by the single-writer discipline).
            try:
                json.loads(self._fs.read_text(target))
                raise CommitConflict(
                    f"snapshot {snap_id} already published (reload to adopt it)"
                ) from None
            except (ValueError, OSError):
                self._fs.write_text(target, payload)
        self._fs.write_text(os.path.join(meta, "VERSION"), str(snap_id))
        self.manifest = new_manifest
        return self

    def overwrite_buckets(
        self,
        df: DataFrame,
        buckets: list[int],
        batch_id,
        summary: dict | None = None,
        pre_partitioned: bool = False,
        changelog_df: DataFrame | None = None,
    ) -> "LakeTable":
        """Atomically replace the contents of ``buckets`` with ``df``.

        ``df`` must hold the complete new state of those buckets in the
        current schema. Files of untouched buckets carry forward by
        reference — the copy-on-write MERGE primitive.

        ``changelog_df``: this commit's row-level change rows (see
        ``read_changes`` fast path); written BEFORE the manifest commit
        so a committed snapshot always has its changelog, and recorded
        in the commit's summary (``row_change='log'``). A crash after
        the changelog write but before the commit leaves orphan files
        for ``remove_orphan_files``.
        """
        if self.is_committed(batch_id):
            return self
        return self._commit(
            self._bucket_manifest(
                df, buckets, batch_id, summary, changelog_df, pre_partitioned=pre_partitioned
            )
        )

    def _bucket_manifest(
        self,
        df: DataFrame,
        buckets: list[int],
        batch_id,
        summary: dict | None,
        changelog_df: DataFrame | None,
        pre_partitioned: bool = False,
        delta: bool = False,
    ) -> dict:
        """Write ``df`` (and ``changelog_df``) into ``buckets`` and build
        the next manifest: the buckets' files replaced, or with
        ``delta`` the rows added as merge-on-read delta files. A row
        outside ``buckets`` aborts the commit. A list ``batch_id`` is a
        fused group: every member id lands in the same manifest swing,
        so replay of any member no-ops (resume granularity = the group).
        """
        snap_id = self.snapshot_id + 1
        new_files = self._write_data(
            df,
            snap_id,
            self.manifest["schema_version"],
            pre_partitioned=pre_partitioned,
            buckets=buckets,
        )
        summary = summary or {}
        if changelog_df is not None:
            summary = self._logged(summary, self._write_changelog(changelog_df, snap_id))
        bset = set(buckets)
        stray = {e["bucket"] for e in new_files} - bset
        if stray:
            raise ValueError(f"df contains rows for undeclared buckets {sorted(stray)}")
        if delta:
            for e in new_files:
                e["delta"] = True
                e["seq"] = snap_id
            files = self.manifest["files"] + new_files
            # a delta re-dirties the migration of the buckets it wrote
            # (the flip needs every file new-spec-tagged)
            bset = {e["bucket"] for e in new_files}
        else:
            files = [f for f in self.manifest["files"] if f["bucket"] not in bset] + new_files
        new_manifest = self._next_manifest(summary, batch_id, files=files)
        self._unmigrate(new_manifest, bset)
        return new_manifest

    def write_deltas(
        self,
        df: DataFrame,
        buckets: list[int],
        batch_id,
        summary: dict | None = None,
        changelog_df: DataFrame | None = None,
    ) -> "LakeTable":
        """Merge-on-read commit: append ``df`` — the CHANGED rows only
        (full-row upserts plus ``_deleted=True`` tombstones) — as
        sequence-numbered DELTA files of ``buckets``. Existing files
        carry forward by reference; nothing is rewritten.

        The Hudi-MOR / Iceberg-v2 write primitive: per-batch write cost
        is O(churn) instead of O(dirty-bucket bytes). ``read()``
        resolves per key (newest delta wins, base rows shadowed — see
        ``_resolve_mor``); any whole-bucket write (``compact``, DML,
        ``rebucket``) folds the bucket's deltas back into base files.

        The delta's sequence number is the commit's snapshot id —
        within one commit the dedup invariant (one row per key) makes
        finer ordering unnecessary, across commits snapshot ids are the
        total order.
        """
        if not self.manifest.get("merge_on_read"):
            raise ValueError("write_deltas requires a merge_on_read=True table")
        if self.is_committed(batch_id):
            return self
        return self._commit(
            self._bucket_manifest(df, buckets, batch_id, summary, changelog_df, delta=True)
        )._fold_hot_buckets()

    def _fold_hot_buckets(self) -> "LakeTable":
        """After a commit that may add delta files: fold every bucket
        that reached ``max_delta_commits`` back into base files right
        away — ledger-keyed by the snapshot that tripped the bound, so a
        crash-and-replay is a no-op. (A crash BETWEEN the delta commit
        and this compaction leaves the bound exceeded by one until the
        next delta write re-trips it — bounded staleness, not a leak.)"""
        bound = self.manifest.get("max_delta_commits")
        if bound is None or self._txn_collector is not None:
            return self
        hot = self.hot_buckets(bound)
        if not hot:
            return self
        return self.compact(f"autocompact-{self.snapshot_id}", buckets=hot)

    def delta_commit_counts(self) -> dict[int, int]:
        """Per-bucket count of distinct un-compacted delta commits
        (sequence groups) — the number of frames a merge-on-read read
        must union for that bucket. Metadata-only."""
        seqs: dict[int, set] = {}
        for f in self.manifest["files"]:
            if f.get("delta"):
                seqs.setdefault(f["bucket"], set()).add(int(f["seq"]))
        return {b: len(s) for b, s in seqs.items()}

    def hot_buckets(self, max_delta_commits: int) -> list[int]:
        """Buckets whose accumulated delta commits reached the bound."""
        return sorted(
            b
            for b, n in self.delta_commit_counts().items()
            if n >= max_delta_commits
        )

    def delete_keys(self, keys: DataFrame, as_of_ts, batch_id) -> "LakeTable":
        """Equality-delete fast path (merge-on-read tables): tombstone
        the given keys WITHOUT reading the target — the Iceberg-v2
        equality-delete-file analog. ``keys`` is a one-column DataFrame
        of merge-key values; each becomes a ``_deleted`` delta row.
        Unlike a MERGE delete (ts-guarded against current state), this
        is UNCONDITIONAL, sequence-ordered like Iceberg's equality
        deletes: the tombstone shadows whatever is current, whatever
        its warc_ts; ``as_of_ts`` guards only FUTURE events (a late
        event older than it stays suppressed, a strictly newer one
        resurrects). Cost is O(keys): no join, no bucket read — vs
        merge_batch's candidate-bucket scan.
        A key that never existed writes a harmless tombstone that
        shadows nothing and vacuums away with the watermark.
        """
        if not self.manifest.get("merge_on_read"):
            raise ValueError("delete_keys requires a merge_on_read=True table")
        if self.is_committed(batch_id):
            return self
        key = self.key
        cur_struct = self.schema.to_struct()
        kcol = keys.columns[0]
        rows = keys.select(
            F.col(kcol).cast(cur_struct[key].dataType).alias(key),
            F.lit(as_of_ts).cast(cur_struct["warc_ts"].dataType).alias("warc_ts"),
            F.lit(True).alias("_deleted"),
            *[
                F.lit(None).cast(cur_struct[c].dataType).alias(c)
                for c in self.schema.names()
                if c not in (key, "warc_ts", "_deleted")
            ],
        ).dropDuplicates([key])
        return self.write_deltas(
            rows, self.buckets_of(rows), batch_id, summary={"equality_delete": True}
        )

    def append(
        self,
        df: DataFrame,
        batch_id,
        summary: dict | None = None,
        feed: str = "none",
    ) -> "LakeTable":
        """Append-only commit (bulk load path; no key semantics).

        ``feed='insert'`` (changelog tables only): declare the batch as
        pure inserts so the change feed covers it — the seed-then-tail
        lifecycle (bulk load a corpus, then tail CDC) without
        ``onMissingChangelog='skip'``. The declaration is VERIFIED
        (keys unique within the batch, disjoint from visible state, no
        tombstones) and the commit is marked ``row_change='log'`` with
        the feed served FROM the new data files themselves
        (``changelog_from_data``) — zero changelog write amplification,
        the Delta-CDF insert-only-commit strategy. Verification costs
        two key-column-only jobs over the batch; at seed scale that is
        noise against the data write itself.
        """
        if feed not in ("none", "insert"):
            raise ValueError("feed must be 'none' or 'insert'")
        if self.is_committed(batch_id):
            return self
        summary = dict(summary or {})
        if feed == "insert":
            if not self.manifest.get("changelog"):
                raise ValueError("feed='insert' requires a changelog=True table")
            if self._wap_id is not None:
                raise ValueError("feed='insert' append is not supported under WAP")
            key = self.key
            if "_deleted" in df.columns:
                if df.filter(F.coalesce(F.col("_deleted"), F.lit(False))).limit(1).count():
                    raise ValueError("feed='insert' batch must not carry tombstones")
            if df.groupBy(key).count().filter(F.col("count") > 1).limit(1).count():
                raise ValueError(
                    f"feed='insert' requires key-unique rows (duplicate {key}s "
                    "in the batch); use the CDC merge path instead"
                )
            if (
                df.select(key)
                .join(self.read().select(key), key, "left_semi")
                .limit(1)
                .count()
            ):
                raise ValueError(
                    f"feed='insert' batch contains {key}s already visible in the "
                    "table — those are updates, not inserts; use the CDC merge path"
                )
        new_files = self._write_data(df, self.snapshot_id + 1, self.manifest["schema_version"])
        if feed == "insert":
            summary = self._logged(summary, [e["path"] for e in new_files], from_data=True)
        new_manifest = self._next_manifest(
            summary, batch_id, files=self.manifest["files"] + new_files
        )
        self._unmigrate(new_manifest, {e["bucket"] for e in new_files})
        return self._commit(new_manifest)

    def create_view(
        self,
        name: str,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
        tag: str | None = None,
    ) -> None:
        """Register visible state as a temp view for spark.sql.

        The view captures THIS handle's snapshot (a later refresh +
        re-register sees newer data) — the SQL-surface bridge so lake
        tables compose with the query registry's SQL idioms.
        ``snapshot_id``/``tag`` register a time-travel view instead
        (e.g. ``create_view("pages_audit", tag="audit-2026-08")``)."""
        self.read(buckets=buckets, snapshot_id=snapshot_id, tag=tag).createOrReplaceTempView(
            name
        )

    # ----------------------------------------------------------- row-level DML

    def delete_where(self, condition: Column, batch_id) -> "LakeTable":
        """DELETE FROM table WHERE <condition> — as tombstones.

        Matching visible rows become ts-guarded tombstones AT THEIR OWN
        ``warc_ts``: the action ladder's delete-beats-write tie rule
        then suppresses any replayed event at-or-before that instant,
        while a genuinely newer write still resurrects the key —
        exactly the semantics of an op='delete' change event carrying
        the row's timestamp. Ledger-keyed (idempotent), only buckets
        holding matches rewrite, and the change feed reports the rows
        as ``delete``.

        Reference analog: the leftover-key delete pass of
        /root/reference/load/UpdateDBPDatabase.py-style table syncs,
        expressed as an explicit predicate instead of set difference.
        """
        if self.is_committed(batch_id):
            return self
        dirty = self.buckets_of(self.read().filter(condition))
        if not dirty:
            return self
        state = self.read(buckets=dirty, include_deleted=True)
        # visible matching rows flip to tombstones; everything else carries
        visible_match = (~F.coalesce(F.col("_deleted"), F.lit(False))) & condition
        cur_struct = self.schema.to_struct()
        key = self.key

        def _col(c: str) -> Column:
            if c in (key, "warc_ts"):  # tombstone keeps key + its own ts
                return F.col(c)
            if c == "_deleted":
                return F.when(visible_match, F.lit(True)).otherwise(F.col(c)).alias(c)
            return (
                F.when(visible_match, F.lit(None).cast(cur_struct[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
            )

        cl_df = None
        persisted = None
        if self.manifest.get("changelog") and self._wap_id is None:
            # the deleted rows ARE the pre-images: same shape the MERGE
            # path writes, so DML never breaks the change feed. The scan
            # is persisted so the state rewrite and the changelog write
            # evaluate the dirty buckets ONCE.
            cl_cols = [c for c in self.schema.names() if c not in (key, "_deleted")]
            from pyspark.sql import types as T

            pre_type = T.StructType(
                [T.StructField(c, cur_struct[c].dataType) for c in cl_cols]
            )
            persisted = state.persist()
            state = persisted
            cl_df = state.filter(visible_match).select(
                F.col(key),
                *[F.col(c) for c in cl_cols],
                F.lit(None).cast(pre_type).alias("_pre"),
                F.lit("delete").alias("_change_type"),
            )
        new_state = state.select(*[_col(c) for c in self.schema.names()])
        try:
            return self.overwrite_buckets(
                new_state,
                dirty,
                batch_id,
                summary={"delete_where": str(condition)},
                changelog_df=cl_df,
            )
        finally:
            if persisted is not None:
                persisted.unpersist()

    def update_where(self, condition: Column, assignments: dict, batch_id) -> "LakeTable":
        """UPDATE table SET col=expr WHERE <condition> (visible rows).

        ``assignments`` maps column name -> Column expression (evaluated
        against the row). Key, event-time and tombstone columns cannot
        be assigned. Same physical shape as delete_where: bucket-pruned
        copy-on-write of only the buckets holding matches.
        """
        bad = set(assignments) & {self.key, "warc_ts", "_deleted"}
        if bad:
            raise ValueError(f"cannot assign structural columns {sorted(bad)}")
        unknown = set(assignments) - set(self.schema.names())
        if unknown:
            raise ValueError(f"unknown columns {sorted(unknown)}")
        if self.is_committed(batch_id):
            return self
        dirty = self.buckets_of(self.read().filter(condition))
        if not dirty:
            return self
        state = self.read(buckets=dirty, include_deleted=True)
        visible_match = (~F.coalesce(F.col("_deleted"), F.lit(False))) & condition
        cur_struct = self.schema.to_struct()

        def _post(c: str):
            if c in assignments:
                return (
                    F.when(visible_match, assignments[c].cast(cur_struct[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            return F.col(c)

        cl_df = None
        persisted = None
        if self.manifest.get("changelog") and self._wap_id is None:
            key = self.key
            cl_cols = [c for c in self.schema.names() if c not in (key, "_deleted")]
            # ONE persisted evaluation feeds both the state rewrite and
            # the changelog: assignment expressions run exactly once per
            # row, so a non-deterministic assignment (rand(),
            # current_timestamp()) can never diverge the written state
            # from the feed's post-image — and the dirty buckets are
            # scanned once, not twice.
            persisted = state.select(
                *[_post(c) for c in self.schema.names()],
                visible_match.alias("_cl_match"),
                F.struct(*[F.col(c).alias(c) for c in cl_cols]).alias("_pre"),
            ).persist()
            new_state = persisted.select(*self.schema.names())
            # only rows whose assigned values actually CHANGED belong in
            # the feed (read_changes' row_changed contract), compared on
            # the MATERIALIZED post/pre values
            changed = None
            for c in assignments:
                neq = ~F.col(c).eqNullSafe(F.col("_pre").getField(c))
                changed = neq if changed is None else (changed | neq)
            cl_df = persisted.filter(F.col("_cl_match") & changed).select(
                F.col(key),
                *[F.col(c) for c in cl_cols],
                F.col("_pre"),
                F.lit("update_post").alias("_change_type"),
            )
        else:
            new_state = state.select(*[_post(c) for c in self.schema.names()])
        try:
            return self.overwrite_buckets(
                new_state,
                dirty,
                batch_id,
                summary={"update_where": sorted(assignments)},
                changelog_df=cl_df,
            )
        finally:
            if persisted is not None:
                persisted.unpersist()

    # ------------------------------------------------------ schema evolution

    @property
    def last_column_id(self) -> int:
        """Highest column id ever assigned (never reused — the Iceberg
        rule that makes drop-then-re-add safe). Falls back to the max
        id across all schema versions for manifests predating the
        explicit counter."""
        if "last_column_id" in self.manifest:
            return self.manifest["last_column_id"]
        return max(
            c["id"]
            for sch in self.manifest["schemas"].values()
            for c in (sch if isinstance(sch, list) else json.loads(sch))
        )

    def _evolve(self, new_schema: TableSchema, op: str) -> "LakeTable":
        new_ver = self.manifest["schema_version"] + 1
        return self._commit(
            self._next_manifest(
                {"schema_op": op},
                schema_version=new_ver,
                schemas={**self.manifest["schemas"], str(new_ver): new_schema.to_json()},
                last_column_id=max(self.last_column_id, new_schema.max_id()),
            )
        )

    def add_column(self, name: str, type_name: str) -> "LakeTable":
        return self._evolve(
            self.schema.add_column(name, type_name, col_id=self.last_column_id + 1),
            f"add:{name}:{type_name}",
        )

    def drop_column(self, name: str) -> "LakeTable":
        """Metadata-only column drop (no rewrite). The key, event-time
        and tombstone columns are structural and cannot be dropped.
        Re-adding the same name later creates a NEW column (fresh id):
        pre-drop values stay invisible — Iceberg drop semantics."""
        if name in (self.key, "warc_ts", "_deleted"):
            raise ValueError(f"cannot drop structural column {name!r}")
        return self._evolve(self.schema.drop_column(name), f"drop:{name}")

    def rename_column(self, old: str, new: str) -> "LakeTable":
        return self._evolve(self.schema.rename_column(old, new), f"rename:{old}->{new}")

    def widen_column(self, name: str, new_type: str) -> "LakeTable":
        return self._evolve(self.schema.widen_column(name, new_type), f"widen:{name}:{new_type}")

    def compact(
        self,
        batch_id,
        buckets: list[int] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        files_per_bucket: int = 1,
    ) -> "LakeTable":
        """Rewrite buckets so each holds a minimal number of files.

        Small-file GC for long-running tails (a batch's write leaves up
        to a few files per bucket; appends add more). Ledger-keyed, so
        a crashed compaction replays as a no-op. Content is unchanged —
        state_hash before == after (tested).

        ``sort_by``: additionally cluster rows within each bucket by
        these columns (e.g. ``["warc_ts"]``). Parquet writes min/max
        stats per row group, so a later range scan (WHERE warc_ts
        BETWEEN ...) skips row groups wholesale — and with
        ``stats_columns`` configured, the manifest file bounds tighten
        the same way. Clustering alone is a reason to rewrite (the
        n>1-files precondition is dropped).

        ``zorder_by``: cluster by a Morton interleave of 2-6 columns
        instead (operators/zorder.py) — every interleaved dimension
        becomes prunable at once, where ``sort_by`` only makes the
        leading column selective. The lake analog of Delta's
        OPTIMIZE ... ZORDER.

        ``files_per_bucket``: range-split each bucket's clustered rows
        into ~n files so per-FILE manifest bounds stay tight — the
        test-scale stand-in for target-file-size bin packing (at the
        design point a multi-GB bucket naturally yields many files;
        here buckets are small enough that one file would swallow the
        whole range and file skipping could never fire)."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        if self.is_committed(batch_id):
            return self
        by_bucket: dict[int, int] = {}
        for f in self.manifest["files"]:
            by_bucket[f["bucket"]] = by_bucket.get(f["bucket"], 0) + 1
        # a delta-bearing bucket always qualifies: folding its deltas
        # into a base file removes the per-read merge, even if the file
        # count alone would not justify a rewrite
        delta_buckets = {f["bucket"] for f in self.manifest["files"] if f.get("delta")}
        # an in-flight incremental rebucket deliberately splits each
        # migrated bucket into k new-spec files — folding them back to
        # one old-spec file would undo the migration, so skip buckets
        # whose files are ALL new-spec-tagged (a delta or old-spec file
        # in the mix makes the bucket eligible again)
        migrated_clean = set()
        mig = self.manifest.get("migration")
        if mig:
            tagged: dict[int, bool] = {}
            for f in self.manifest["files"]:
                tagged[f["bucket"]] = tagged.get(f["bucket"], True) and f.get(
                    "new_spec"
                ) == mig["to"]
            migrated_clean = {b for b, ok in tagged.items() if ok}
        cluster = sort_by or zorder_by
        min_files = 0 if cluster else 1
        targets = sorted(
            b
            for b, n in by_bucket.items()
            if (n > min_files or b in delta_buckets)
            and b not in migrated_clean
            and (buckets is None or b in buckets)
        )
        if not targets:
            return self
        rows = self.read(buckets=targets, include_deleted=True)
        if cluster:
            rows = rows.withColumn("_bucket", self.bucket_expr())
            if zorder_by:
                from dbp_etl_spark.operators.zorder import zorder_bounds, zorder_key

                bounds = zorder_bounds(rows, zorder_by)
                rows = rows.withColumn("_zkey", zorder_key(rows, zorder_by, bounds))
                order_cols = ["_zkey"]
                summary = {"compacted_buckets": targets, "zordered_by": zorder_by}
            else:
                order_cols = list(sort_by)
                summary = {"compacted_buckets": targets, "sorted_by": sort_by}
            if files_per_bucket > 1:
                rows = rows.repartitionByRange(
                    len(targets) * files_per_bucket, "_bucket", *order_cols
                )
            else:
                rows = rows.repartition("_bucket")
            rows = rows.sortWithinPartitions("_bucket", *order_cols)
            return self.overwrite_buckets(
                rows,
                targets,
                batch_id,
                pre_partitioned=True,
                summary=summary,
            )
        return self.overwrite_buckets(
            rows, targets, batch_id, summary={"compacted_buckets": targets}
        )

    def rebucket(self, new_num_buckets: int, batch_id) -> "LakeTable":
        """Change the table's bucket count — layout evolution for a
        table that outgrew its create-time ``num_buckets``.

        At the design point this matters: a table created with 32
        buckets at 10^8 rows holds multi-GB buckets at 10^10 — every
        MERGE then rewrites huge files for a handful of changed rows.
        Rebucketing to, say, 1024 restores small copy-on-write units
        and finer file pruning.

        One full rewrite (read everything including tombstones —
        late-event suppression survives — reshuffle by the NEW bucket
        function, one atomic commit that also flips ``num_buckets``).
        Content is unchanged: state_hash before == after (tested), and
        every subsequent read/MERGE prunes with the new function.
        Ledger-keyed: a crashed rebucket replays as a no-op.

        Scale note: the rewrite is O(table) once, amortized against
        every future merge's pruning gain. For online/incremental
        evolution, growing by an integer factor k (B → k·B with
        pmod(hash, B) buckets) makes old bucket ``b`` exactly the
        union of new buckets ``{b + i·B}`` — a dual-spec reader could
        then migrate bucket-by-bucket; this one-shot API is the
        simple, always-correct form of the same move.
        """
        if self._wap_id is not None:
            raise RuntimeError("rebucket operates on the main chain, not a WAP branch")

        if new_num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        if new_num_buckets == self.num_buckets or self.is_committed(batch_id):
            return self
        new_bucket = bucket_of(F.col(self.key), new_num_buckets)
        rows = (
            self.read(include_deleted=True)
            .withColumn("_bucket", new_bucket)
            .repartition("_bucket")
        )
        new_files = self._write_data(
            rows, self.snapshot_id + 1, self.manifest["schema_version"], pre_partitioned=True
        )
        return self._commit(
            self._next_manifest(
                {"rebucket": {"from": self.num_buckets, "to": new_num_buckets}},
                batch_id,
                num_buckets=new_num_buckets,
                files=new_files,
                # a full rewrite supersedes any in-flight incremental migration
                migration=None,
            )
        )

    # ------------------------------------------- incremental rebucket

    def migrate_to_buckets(
        self, new_num_buckets: int, batch_id, max_buckets: int | None = None
    ) -> "LakeTable":
        """One step of an ONLINE bucket-count migration B -> k*B.

        ``rebucket`` rewrites the whole table in one commit — at the
        100 TB design point that is a single job no commit window can
        hold. This is the incremental form, built on the pigeonhole
        property of growing by an integer factor: with ``new = k*B``
        and ``bucket = hash % n``, old bucket ``b`` is exactly the
        union of new buckets ``{b + i*B : i < k}``. Each step rewrites
        up to ``max_buckets`` not-yet-migrated old buckets, SPLITTING
        their rows by the new spec into k files each; the file entries
        keep the OLD bucket id (so every reader, MERGE candidate probe
        and pruning path is untouched mid-migration) plus a
        ``new_bucket`` tag recording the file's new-spec home. Any
        write to a bucket (MERGE copy-on-write, deltas, DML, compact)
        un-migrates it — migration converges while ingestion continues
        as long as the migration rate outpaces churn. When every old
        bucket is migrated, the SAME step flips ``num_buckets`` by
        metadata alone: each file entry's bucket becomes its
        ``new_bucket``. Per-file stats tighten immediately per step
        (k smaller files = tighter bounds), the pruning/rewrite gain
        lands at the flip.

        Idempotent per ``batch_id`` (ledger-keyed); call repeatedly
        (e.g. one step per maintenance window) until
        ``migration_status()`` reports done.
        """
        if self._wap_id is not None:
            raise RuntimeError("migrate_to_buckets operates on the main chain, not a WAP branch")

        B = self.num_buckets
        if new_num_buckets == B and self.manifest.get("migration") is None:
            return self  # already at target: repeated maintenance calls no-op
        if new_num_buckets <= B or new_num_buckets % B != 0:
            raise ValueError(
                f"incremental migration requires an integer multiple > current "
                f"({B}); got {new_num_buckets} (use rebucket() for arbitrary counts)"
            )
        mig = self.manifest.get("migration")
        if mig is not None and mig["to"] != new_num_buckets:
            raise ValueError(
                f"migration to {mig['to']} already in progress; finish or rebucket()"
            )
        if self.is_committed(batch_id):
            return self
        done = set(mig["done"]) if mig else set()
        all_buckets = sorted({f["bucket"] for f in self.manifest["files"]})
        todo = [b for b in all_buckets if b not in done]
        if max_buckets is not None:
            todo = todo[: max(1, max_buckets)]
        new_entries: list[dict] = []
        if todo:
            new_bucket = bucket_of(F.col(self.key), new_num_buckets)
            rows = (
                self.read(buckets=todo, include_deleted=True)
                .withColumn("_bucket", new_bucket)
                .repartition("_bucket")
            )
            ver = self.manifest["schema_version"]
            new_entries = self._write_data(rows, self.snapshot_id + 1, ver, pre_partitioned=True)
            for e in new_entries:
                e["new_bucket"] = e["bucket"]
                e["new_spec"] = new_num_buckets  # guards the flip against
                e["bucket"] = e["new_bucket"] % B  # stale tags of an old run
        tset = set(todo)
        kept = [f for f in self.manifest["files"] if f["bucket"] not in tset]
        done = done | tset
        files = kept + new_entries
        # migration complete when every CURRENT bucket's files are
        # new-spec-tagged (buckets written since their migration were
        # un-migrated by the writer and re-enter todo on a later step)
        if all(f.get("new_spec") == new_num_buckets for f in files):
            files = [dict(f) for f in files]
            for f in files:
                f["bucket"] = f.pop("new_bucket")
                f.pop("new_spec", None)
            summary = {"migration_flip": {"from": B, "to": new_num_buckets}}
            changes = {"num_buckets": new_num_buckets, "migration": None}
        else:
            summary = {"migration_step": {"buckets": sorted(tset), "to": new_num_buckets}}
            changes = {"migration": {"to": new_num_buckets, "done": sorted(done)}}
        return self._commit(self._next_manifest(summary, batch_id, files=files, **changes))

    def migration_status(self) -> dict | None:
        """Progress of an in-flight incremental rebucket, else None."""
        mig = self.manifest.get("migration")
        if mig is None:
            return None
        all_buckets = {f["bucket"] for f in self.manifest["files"]}
        done = set(mig["done"]) & all_buckets
        return {
            "to": mig["to"],
            "migrated": len(done),
            "total": len(all_buckets),
            "remaining": sorted(all_buckets - done),
        }

    @staticmethod
    def _unmigrate(new_manifest: dict, written_buckets: set) -> None:
        """A write under the OLD spec re-dirties a migrated bucket: drop
        it from the migration's done set so a later step re-splits it."""
        mig = new_manifest.get("migration")
        if mig and written_buckets:
            mig = dict(mig)
            mig["done"] = [b for b in mig["done"] if b not in written_buckets]
            new_manifest["migration"] = mig

    def vacuum_tombstones(self, older_than_ts, batch_id) -> "LakeTable":
        """Drop tombstone rows whose warc_ts < older_than_ts (the
        late-event watermark): once no event older than the watermark
        can arrive, tombstones before it are garbage. Rewrites only
        buckets that actually hold expired tombstones."""
        if self.is_committed(batch_id):
            return self
        full = self.read(include_deleted=True)
        expired = full.filter(F.col("_deleted") & (F.col("warc_ts") < F.lit(older_than_ts)))
        dirty = self.buckets_of(expired)
        if not dirty:
            return self
        kept = self.read(buckets=dirty, include_deleted=True).filter(
            ~(F.col("_deleted") & (F.col("warc_ts") < F.lit(older_than_ts)))
        )
        return self.overwrite_buckets(
            kept, dirty, batch_id, summary={"vacuum_older_than": str(older_than_ts)}
        )

    # ------------------------------------------------- retention / metadata GC

    def expire_snapshots(
        self, keep_last: int = 5, older_than_sec: float | None = None
    ) -> dict:
        """Iceberg-style snapshot expiry: bound metadata and storage to the
        retained history window.

        Keeps the newest ``keep_last`` pre-existing snapshots (plus the
        expiry commit itself); everything older is expired.
        ``older_than_sec`` switches to AGE-based retention (Iceberg's
        ``expireSnapshots(olderThan)``): every snapshot whose manifest
        is younger than the cutoff is kept — ``keep_last`` then acts as
        the floor (never retain fewer than that many), so a quiet table
        keeps its recent history even when it is all "old". Age comes
        from the manifest file's store mtime (no manifest format
        change); object-store clock skew therefore bounds precision to
        seconds-to-minutes, which retention windows (hours-days) dwarf:

        1. A metadata-only COMMIT (atomic, CAS-guarded like any other)
           records the new ``min_retained_snapshot`` and prunes the
           batch ledger: entries whose commit snapshot falls below the
           horizon are folded into per-prefix ``ledger_watermarks``
           (see ``_id_committed`` — replay of a pruned ordered batch id
           still no-ops). Unordered ids are kept verbatim. This is what
           makes commit cost O(retained window), not O(history): the
           manifest no longer accretes one ledger entry per batch
           forever (the round-2 scale liability).
        2. Data files referenced ONLY by expired manifests are deleted,
           then the expired ``v{K}.json`` manifests themselves. Delete
           order makes a crash harmless: files first (expired manifests
           still enumerate them, so a retry re-deletes; delete of a
           missing path is a no-op), manifests last. Anything missed
           is picked up by ``remove_orphan_files``.

        Time travel below the horizon raises ``SnapshotExpired``.
        Returns stats: expired manifest ids, deleted file count.

        Reader horizon: a reader that loaded a snapshot BEFORE expiry
        can still be scanning files that expiry deletes. Size
        ``keep_last`` to cover the longest concurrent read / time-travel
        window the deployment needs (same contract as Iceberg's
        expire_snapshots retention).
        """
        if self._wap_id is not None:
            raise RuntimeError("expire_snapshots operates on the main chain, not a WAP branch")

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if self._txn_collector is not None:
            # retention deletes files/manifests IMMEDIATELY; staging its
            # commit while physically deleting would destroy history the
            # transaction might still abort back to
            raise RuntimeError("expire_snapshots cannot run inside a transaction")
        head = self.snapshot_id
        if older_than_sec is not None:
            if older_than_sec < 0:
                raise ValueError("older_than_sec must be >= 0")
            cutoff = time.time() - older_than_sec
            # keep every snapshot whose manifest is younger than the
            # cutoff; keep_last is the floor
            young = 0
            for s in range(head, self.min_retained_snapshot - 1, -1):
                p = os.path.join(self.root, _META, f"v{s}.json")
                if self._fs.exists(p) and self._fs.mtime(p) >= cutoff:
                    young += 1
                else:
                    break  # commits are time-ordered: older from here on
            keep_last = max(keep_last, young, 1)
        desired = head - keep_last + 1
        tags = self.manifest.get("tags") or {}
        if tags:
            # tags pin retention: the horizon stays contiguous, so it
            # cannot advance past the oldest tagged snapshot
            desired = min(desired, min(tags.values()))
        min_retained = max(self.min_retained_snapshot, desired)
        meta = os.path.join(self.root, _META)

        ledger: dict = {}
        wm = dict(self.manifest.get("ledger_watermarks") or {})
        pruned = 0
        # gather prunable ordered ids per prefix; fold them into the
        # watermark ONLY where the claim is provable: the watermark is a
        # CONTIGUOUS [lo, hi] range, extended only by ids adjacent to
        # it. Ids that would leave a gap stay in the ledger verbatim —
        # a watermark over a gapped id space would report never-applied
        # ids inside the gap as committed and silently drop them.
        candidates: dict[str, list[tuple[int, str, dict]]] = {}
        for k, v in self.manifest["committed_batches"].items():
            m = _ORDERED_ID.match(k)
            if v["snapshot_id"] >= min_retained or m is None:
                ledger[k] = v  # retained, or unordered (exact membership)
                continue
            candidates.setdefault(m.group(1), []).append((int(m.group(2)), k, v))
        for prefix, items in candidates.items():
            items.sort()
            existing = wm.get(prefix)
            if isinstance(existing, (int, float)):  # legacy scalar -> range
                existing = [0, int(existing)]
            for num, k, v in items:
                if existing is None:
                    existing = [num, num]
                elif num == existing[1] + 1:
                    existing[1] = num
                elif existing[0] <= num <= existing[1]:
                    pass  # duplicate id already covered
                else:
                    ledger[k] = v  # gap: keep the exact entry
                    continue
                pruned += 1
            if existing is not None:
                wm[prefix] = existing
        self._commit(
            self._next_manifest(
                {
                    "expire_snapshots": {
                        "keep_last": keep_last,
                        "min_retained": min_retained,
                        "ledger_pruned": pruned,
                    }
                },
                committed_batches=ledger,
                ledger_watermarks=wm,
                min_retained_snapshot=min_retained,
            )
        )

        # physical cleanup (idempotent; a crash anywhere re-runs cleanly)
        live: set[str] = self._wap_live_paths()  # staged branches pin files
        for i in range(min_retained, head + 2):
            p = os.path.join(meta, f"v{i}.json")
            if self._fs.exists(p):
                m = json.loads(self._fs.read_text(p))
                live.update(p for f in m["files"] for p in _entry_paths(f))
                live.update(_changelog_paths(m))
        # scan DOWNWARD from the horizon while manifests exist: a crash
        # between a previous expiry's commit and its deletion loop left
        # expired manifests BELOW that run's (already-persisted)
        # min_retained — a prev_min-based range would never revisit
        # them. Deletions are contiguous from the bottom, so the first
        # missing manifest bounds the leftover stretch.
        expired_ids: list[int] = []
        dead: set[str] = set()
        i = min_retained - 1
        while i >= 0:
            p = os.path.join(meta, f"v{i}.json")
            if not self._fs.exists(p):
                break
            expired_ids.append(i)
            m = json.loads(self._fs.read_text(p))
            dead.update(p for f in m["files"] for p in _entry_paths(f))
            dead.update(_changelog_paths(m))
            i -= 1
        expired_ids.reverse()
        dead -= live
        for rel in sorted(dead):
            self._fs.delete(os.path.join(self.root, rel))
        self._sweep_empty_data_dirs()
        for i in expired_ids:
            self._fs.delete(os.path.join(meta, f"v{i}.json"))
        return {
            "min_retained_snapshot": min_retained,
            "expired_manifests": expired_ids,
            "deleted_files": len(dead),
            "ledger_pruned": pruned,
        }

    def remove_orphan_files(self, grace_sec: float = 86400.0) -> dict:
        """Delete data files not referenced by any retained manifest.

        Crash debris collector: ``_write_data`` isolates each write
        attempt in its own ``snap-{N}-{rand}`` directory precisely so a
        failed attempt's files can never be adopted by a retry — this
        sweeps them. ``grace_sec`` protects IN-FLIGHT writes (a
        concurrent commit's files exist before its manifest does): only
        files older than the grace window are candidates — the same
        contract as Iceberg's remove_orphan_files(olderThan).
        """
        if self._wap_id is not None:
            raise RuntimeError("remove_orphan_files operates on the main chain, not a WAP branch")

        live: set[str] = self._wap_live_paths()  # staged branches pin files
        meta = os.path.join(self.root, _META)
        head, _ = LakeTable._head(self._fs, self.root)
        for i in range(self.min_retained_snapshot, head + 1):
            p = os.path.join(meta, f"v{i}.json")
            if self._fs.exists(p):
                m = json.loads(self._fs.read_text(p))
                live.update(p for f in m["files"] for p in _entry_paths(f))
                live.update(_changelog_paths(m))
        cutoff = time.time() - grace_sec
        data_root = os.path.join(self.root, _DATA)
        removed = 0
        for snap_dir in self._fs.list_names(data_root):
            sd = os.path.join(data_root, snap_dir)
            if not self._fs.is_dir(sd):
                continue
            for bucket_dir in self._fs.list_names(sd):
                bd = os.path.join(sd, bucket_dir)
                if not self._fs.is_dir(bd):
                    # non-dir entry at this level: a live changelog
                    # parquet (referenced from its commit's summary) or
                    # stray debris (_SUCCESS markers, crashed attempts)
                    if (
                        os.path.join(_DATA, snap_dir, bucket_dir) not in live
                        and self._fs.mtime(bd) < cutoff
                    ):
                        removed += int(self._fs.delete(bd))
                    continue
                names = self._fs.list_names(bd)
                has_live = any(
                    os.path.join(_DATA, snap_dir, bucket_dir, n) in live for n in names
                )
                for fn in names:
                    rel = os.path.join(_DATA, snap_dir, bucket_dir, fn)
                    full = os.path.join(self.root, rel)
                    if rel in live:
                        continue
                    if has_live and fn.startswith(("_", ".")):
                        continue  # crc/marker sidecars of live files
                    if self._fs.mtime(full) < cutoff:
                        removed += int(self._fs.delete(full))
        self._sweep_empty_data_dirs()
        return {"removed_files": removed}

    def _sweep_empty_data_dirs(self) -> None:
        """Remove data subdirectories left empty by file GC (bottom-up).

        A dir whose data files are all gone holds nothing worth keeping:
        writer side files (``_SUCCESS`` markers, local ``.crc``
        checksums — never manifest-referenced) don't keep it alive."""
        data_root = os.path.join(self.root, _DATA)

        def _drop_if_hidden_only(d: str) -> bool:
            names = self._fs.list_names(d)
            if any(
                self._fs.is_dir(os.path.join(d, n)) or not n.startswith(("_", "."))
                for n in names
            ):
                return False
            for n in names:
                self._fs.delete(os.path.join(d, n))
            self._fs.delete(d)
            return True

        for snap_dir in self._fs.list_names(data_root):
            sd = os.path.join(data_root, snap_dir)
            if not self._fs.is_dir(sd):
                continue
            for bucket_dir in self._fs.list_names(sd):
                bd = os.path.join(sd, bucket_dir)
                if self._fs.is_dir(bd):
                    _drop_if_hidden_only(bd)
            _drop_if_hidden_only(sd)

    # ------------------------------------------------------------ diagnostics

    # ------------------------------------------------- metadata aggregates

    def _del_col_id(self) -> int | None:
        return next(
            (c.col_id for c in self.schema.columns if c.name == "_deleted"), None
        )

    @staticmethod
    def _file_live_rows(f: dict, del_id: int | None) -> int | None:
        """Live (non-tombstone) row count of a data file, from manifest
        stats alone — None when not provable (then the caller scans).

        Provable when the file records row count + ``_deleted`` bounds:
        all-False (or all-null) => every row live; all-True => only the
        null-flag rows live; mixed => indecisive."""
        st = f.get("stats")
        if not st:
            return None
        rows = st.get("rows")
        if rows is None:
            return None
        if rows == 0:
            return 0
        if del_id is None:
            return None
        d = st.get("cols", {}).get(str(del_id))
        if d is None:
            return None
        nulls = d.get("nulls", 0)
        if "min" not in d:  # no non-null flags recorded
            return rows if nulls == rows else None
        if d["min"] == d["max"]:
            # bool bounds are stored normalized to 0/1 (lake/stats.py)
            return nulls if d["min"] == 1 else rows
        return None

    @staticmethod
    def _preds_by_id(current: TableSchema, where: list[tuple]) -> dict[int, list[tuple]]:
        validate_predicates(where)
        name_to_id = {c.name: c.col_id for c in current.columns}
        out: dict[int, list[tuple]] = {}
        for col, op, val in where:
            if col not in name_to_id:
                raise ValueError(f"unknown column in where: {col!r}")
            out.setdefault(name_to_id[col], []).append((op, val))
        return out

    def data_bytes(self) -> int:
        """Total on-disk bytes of the current snapshot's data files
        (metadata-only: one stat per file, no row reads). The size of a
        full table scan — what operators that would scan state (e.g.
        SCD2 plain-mode lookup) consult to decide whether a
        state-avoiding strategy pays for itself."""
        return sum(
            self._fs.size(os.path.join(self.root, p))
            for f in self.manifest["files"]
            for p in _entry_paths(f)
        )

    def count_rows(self, where: list[tuple] | None = None, detail: bool = False):
        """Exact live-row count — optionally under ``where`` predicates
        (same ``(col, op, value)`` grammar as ``read``) — answered from
        manifest metadata where provable: the Iceberg aggregate-
        pushdown analog of ``SELECT count(*) [WHERE ...]``.

        Three-way file classification, all from the manifest: files
        whose bounds prove NO row matches contribute zero (pruning);
        files whose bounds prove EVERY row matches (``file_must_match``
        — zero nulls, range fully inside the predicate) contribute
        their provable live count; only the straddling remainder plus
        merge-on-read delta buckets (per-key resolution) are scanned,
        and that scan reads just those files. At the 100 TB design
        point a time-range count over a warc_ts-clustered table opens
        only the boundary files of the range.

        ``detail=True`` additionally returns
        ``{"metadata_files", "metadata_rows", "scanned_files",
        "scanned_delta_buckets"}`` so callers (and tests) can assert
        how much was metadata-only.
        """
        manifest = self.manifest
        current = self.schema
        cur_struct = current.to_struct()
        del_id = self._del_col_id()
        if where:
            files = self._prune_entries(manifest, current, None, where)
            preds_by_id = self._preds_by_id(current, where)
            tz = self._session_tz()
        else:
            files = manifest["files"]
        delta_buckets = {f["bucket"] for f in files if f.get("delta")}
        meta_rows = meta_files = 0
        scan_files: list[dict] = []
        for f in files:
            if f["bucket"] in delta_buckets:
                continue
            live = self._file_live_rows(f, del_id)
            if live is not None and (
                not where or file_must_match(f, preds_by_id, tz)
            ):
                meta_rows += live
                meta_files += 1
            else:
                scan_files.append(f)
        scanned = 0
        if delta_buckets:
            scanned += self.read(
                buckets=sorted(delta_buckets), where=where or None
            ).count()
        if scan_files:
            df = self._project_to_current(manifest, current, cur_struct, scan_files)
            if "_deleted" in df.columns:
                df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            if where:
                df = df.filter(self._where_condition(where))
            scanned += df.count()
        total = meta_rows + scanned
        if detail:
            return total, {
                "metadata_files": meta_files,
                "metadata_rows": meta_rows,
                "scanned_files": len(scan_files),
                "scanned_delta_buckets": len(delta_buckets),
            }
        return total

    def column_bounds(
        self, col: str, where: list[tuple] | None = None, detail: bool = False
    ):
        """Exact ``(min, max)`` of a column over LIVE rows — optionally
        under ``where`` predicates (same ``(col, op, value)`` grammar
        as ``read``) — from manifest bounds where provable, scanning
        only the rest.

        A file contributes its manifest bounds only when it provably
        holds no tombstones (a tombstoned row's values must not widen
        live bounds), records bounds for the column, and — under
        ``where`` — provably matches the predicate on EVERY row
        (``file_must_match``; a partial match could source the min/max
        from excluded rows). Files whose bounds prove no row matches
        are pruned outright. Everything else — statless files, mixed
        files, straddlers, merge-on-read delta buckets — is aggregated
        by a real (column-pruned, predicate-filtered) scan and merged
        in.

        Values are returned in storage-normal form: numbers/strings as
        is, booleans as bool, dates as ``datetime.date``, timestamps as
        tz-aware UTC ``datetime`` (manifest bounds are UTC-epoch
        micros; scan-side values are localized from the session
        timezone before merging). ``(None, None)`` when no live rows.
        """
        import datetime as _dt

        current = self.schema
        spec = next((c for c in current.columns if c.name == col), None)
        if spec is None:
            raise ValueError(f"column {col!r} not in schema")
        manifest = self.manifest
        cur_struct = current.to_struct()
        del_id = self._del_col_id()
        if where:
            files = self._prune_entries(manifest, current, None, where)
            preds_by_id = self._preds_by_id(current, where)
            tz = self._session_tz()
        else:
            files = manifest["files"]
        delta_buckets = {f["bucket"] for f in files if f.get("delta")}
        kind = None
        lo = hi = None
        meta_files = 0
        scan_files: list[dict] = []
        for f in files:
            if f["bucket"] in delta_buckets:
                continue
            st = f.get("stats")
            live = self._file_live_rows(f, del_id)
            s = (st or {}).get("cols", {}).get(str(spec.col_id))
            if live is None or s is None:
                scan_files.append(f)
                continue
            if where and not file_must_match(f, preds_by_id, tz):
                scan_files.append(f)  # straddler — bounds could come
                continue  # from rows the predicate excludes
            if "min" not in s:  # column all-null here: nothing to add
                meta_files += 1
                continue
            if live != st.get("rows"):
                scan_files.append(f)  # tombstones present — bounds unsafe
                continue
            if kind is None:
                kind = s["t"]
            if s["t"] != kind:
                scan_files.append(f)  # mixed stat kinds — be conservative
                continue
            lo = s["min"] if lo is None else min(lo, s["min"])
            hi = s["max"] if hi is None else max(hi, s["max"])
            meta_files += 1

        def _norm_scan(v):
            if v is None:
                return None
            if isinstance(v, bool):
                return int(v)
            if isinstance(v, _dt.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=self._session_tz() or _dt.timezone.utc)
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
            if isinstance(v, _dt.date):
                return v.toordinal()
            return v

        scan_srcs = []
        if delta_buckets:
            scan_srcs.append(
                self.read(buckets=sorted(delta_buckets), where=where or None).select(col)
            )
        if scan_files:
            df = self._project_to_current(manifest, current, cur_struct, scan_files)
            if "_deleted" in df.columns:
                df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            if where:
                df = df.filter(self._where_condition(where))
            scan_srcs.append(df.select(col))
        n_scanned = len(scan_files)
        if scan_srcs:
            src = scan_srcs[0]
            for s in scan_srcs[1:]:
                src = src.unionByName(s)
            [r] = src.agg(
                F.min(col).alias("mn"), F.max(col).alias("mx")
            ).collect()
            smn, smx = _norm_scan(r["mn"]), _norm_scan(r["mx"])
            if smn is not None:
                if kind is None:
                    from .stats import _kind_of

                    kind = _kind_of(r["mn"])
                lo = smn if lo is None else min(lo, smn)
                hi = smx if hi is None else max(hi, smx)

        def _denorm(v):
            if v is None:
                return None
            if kind == "bool":
                return bool(v)
            if kind == "ts":
                return _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
                    microseconds=v
                )
            if kind == "date":
                return _dt.date.fromordinal(v)
            return v

        out = (_denorm(lo), _denorm(hi))
        if detail:
            return out, {
                "metadata_files": meta_files,
                "scanned_files": n_scanned,
                "scanned_delta_buckets": len(delta_buckets),
            }
        return out

    def state_hash(self) -> str:
        """Order-independent content hash of current state (replay tests).

        Sum of per-row xxhash64 over all columns (binary rendered as
        md5 hex, timestamps as epoch micros) — deterministic across
        partitioning and parallelism levels.
        """
        df = self.read()
        cols = []
        for f_ in df.schema.fields:
            c = F.col(f_.name)
            t = f_.dataType.simpleString()
            if t == "binary":
                c = F.md5(c)
            elif t == "timestamp":
                c = F.unix_micros(c)
            cols.append(c.cast("string"))
        row_hash = F.xxhash64(*cols).cast("decimal(38,0)")
        agg = df.agg(F.sum(row_hash).alias("h"), F.count(F.lit(1)).alias("n")).collect()[0]
        return f"{agg['n']}:{agg['h']}"

    # ------------------------------------------------------------------ tags

    @property
    def tags(self) -> dict:
        """name -> snapshot_id map of named snapshots (Iceberg tag
        analog). Tags PIN retention: ``expire_snapshots`` never moves
        the horizon past the oldest tagged snapshot (the horizon stays
        contiguous, so a tag retains everything at-or-above it — drop
        stale tags to release storage)."""
        return dict(self.manifest.get("tags") or {})

    def resolve_tag(self, name: str) -> int:
        tags = self.manifest.get("tags") or {}
        if name not in tags:
            raise KeyError(f"no tag {name!r} (have: {sorted(tags)})")
        return tags[name]

    def tag_snapshot(self, name: str, snapshot_id: int | None = None, batch_id=None) -> "LakeTable":
        """Name a snapshot (default: the head) for stable time travel —
        ``read(tag=name)`` — and as a retention pin (audit cuts,
        release marks; the reference's analog is a dated LPTS metadata
        extract kept for reproducibility). Metadata-only commit; a tag
        name is immutable while it exists (untag first to move it)."""
        if self._wap_id is not None:
            raise RuntimeError("tag_snapshot operates on the main chain, not a WAP branch")

        snap = self.snapshot_id if snapshot_id is None else snapshot_id
        if snap > self.snapshot_id:
            raise ValueError(f"snapshot {snap} is beyond head {self.snapshot_id}")
        if snap < self.min_retained_snapshot:
            raise SnapshotExpired(
                f"snapshot {snap} expired (oldest retained: "
                f"{self.min_retained_snapshot})"
            )
        cur = self.manifest.get("tags") or {}
        if name in cur:
            # existing tag: "ensure tagged" (no explicit target, or the
            # same target) is a no-op; MOVING a tag needs an untag first
            if snapshot_id is None or cur[name] == snap:
                return self
            raise ValueError(
                f"tag {name!r} already points at snapshot {cur[name]}; untag first"
            )
        # the default replay id is scoped to the CURRENT head: a
        # create→untag→recreate sequence must not collide with the
        # first create's ledger entry and silently skip the re-pin
        bid = (
            batch_id
            if batch_id is not None
            else f"tag-{name}-{snap}-at-{self.snapshot_id}"
        )
        if self.is_committed(bid):
            return self
        return self._commit(
            self._next_manifest({"tag": {name: snap}}, bid, tags={**cur, name: snap})
        )

    def untag_snapshot(self, name: str, batch_id=None) -> "LakeTable":
        """Drop a tag (releases its retention pin). Unknown names are a
        no-op, so replays and double-drops are harmless."""
        if self._wap_id is not None:
            raise RuntimeError("untag_snapshot operates on the main chain, not a WAP branch")

        cur = self.manifest.get("tags") or {}
        if name not in cur:
            return self
        bid = (
            batch_id
            if batch_id is not None
            else f"untag-{name}-{cur[name]}-at-{self.snapshot_id}"
        )
        if self.is_committed(bid):
            return self
        new_tags = {k: v for k, v in cur.items() if k != name}
        return self._commit(self._next_manifest({"untag": name}, bid, tags=new_tags))

    # ------------------------------------------------ write-audit-publish

    @staticmethod
    def _bucket_sig(files: list[dict]) -> dict[str, str]:
        """Per-bucket content signature (hash of the sorted file list,
        delta sequence included) — compact enough to store in a staged
        manifest, sufficient to detect 'this bucket's file set changed
        between two manifests'."""
        import hashlib

        by: dict[str, list[str]] = {}
        for f in files:
            tag = f["path"] + (f"#d{f['seq']}" if f.get("delta") else "")
            by.setdefault(str(f["bucket"]), []).append(tag)
        return {
            b: hashlib.md5("\n".join(sorted(p)).encode()).hexdigest()
            for b, p in by.items()
        }

    def _wap_path(self, wap_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]+", wap_id or ""):
            raise ValueError(f"invalid wap id {wap_id!r}")
        return os.path.join(self.root, _META, "wap", f"{wap_id}.json")

    def wap_ids(self) -> list[str]:
        """Currently staged write-audit-publish branch ids."""
        d = os.path.join(self.root, _META, "wap")
        if not self._fs.exists(d):
            return []
        return sorted(
            n[: -len(".json")] for n in self._fs.list_names(d) if n.endswith(".json")
        )

    def _wap_live_paths(self) -> set[str]:
        """Data files referenced by any staged WAP branch — pinned
        against expiry and orphan GC until published or abandoned."""
        out: set[str] = set()
        d = os.path.join(self.root, _META, "wap")
        if not self._fs.exists(d):
            return out
        for n in self._fs.list_names(d):
            if not n.endswith(".json"):
                continue
            try:
                m = json.loads(self._fs.read_text(os.path.join(d, n)))
            except (ValueError, OSError):
                continue  # torn staging file pins nothing
            out.update(p for f in m.get("files", []) for p in _entry_paths(f))
        return out

    def wap_branch(self, wap_id: str) -> "LakeTable":
        """Open a write-audit-publish branch handle — the Iceberg
        WAP-branch pattern, the lake's staging area for auditable
        ingest.

        The handle is a full ``LakeTable``: every write path (MERGE,
        append, delta commits, compaction, DML) works unchanged, but
        its commits land in ``_meta/wap/<id>.json`` instead of the main
        chain — main readers never see them. Audit queries run against
        ``branch.read()``; when they pass, ``publish_wap`` lands the
        branch on main atomically (squashed to one snapshot); when they
        fail, ``abandon_wap`` drops it and orphan GC reclaims the data.
        Staged branches pin their data files against ``expire_snapshots``
        and ``remove_orphan_files`` until resolved.

        Branch staging is single-owner by convention (one auditing
        pipeline per id): branch commits take no chain lock and
        last-writer-wins within the id. The fork point and per-bucket
        content signatures are recorded at first open so publish can
        fast-forward (main unmoved) or REBASE — main moved, but only
        buckets disjoint from the branch's — without re-reading any
        expired fork manifest.
        """
        if self._wap_id is not None:
            raise RuntimeError("already a WAP branch handle")
        p = self._wap_path(wap_id)
        if self._fs.exists(p):
            manifest = json.loads(self._fs.read_text(p))
        else:
            manifest = dict(self.manifest)
            manifest["wap_id"] = wap_id
            manifest["wap_base"] = self.snapshot_id
            manifest["wap_base_num_buckets"] = self.num_buckets
            manifest["wap_base_schema_version"] = self.manifest["schema_version"]
            manifest["wap_base_bucket_sig"] = self._bucket_sig(self.manifest["files"])
            manifest["wap_base_ledger_keys"] = sorted(self.manifest["committed_batches"])
        h = LakeTable(self.spark, self.root, manifest, fs=self._fs)
        h._wap_id = wap_id
        return h

    def _commit_wap(self, new_manifest: dict) -> "LakeTable":
        d = os.path.join(self.root, _META, "wap")
        self._fs.mkdirs(d)
        # atomic replace: a crash mid-stage leaves the previous staged
        # state (or nothing); a torn file is never adopted
        self._fs.write_text(
            self._wap_path(self._wap_id), json.dumps(new_manifest, indent=1)
        )
        self.manifest = new_manifest
        return self

    def abandon_wap(self, wap_id: str) -> None:
        """Drop a staged branch (audit failed). Metadata-only: the
        branch's data files become orphans and are reclaimed by
        ``remove_orphan_files`` after its grace window."""
        p = self._wap_path(wap_id)
        if self._fs.exists(p):
            self._fs.delete(p)

    def publish_wap(self, wap_id: str, batch_id=None, max_retries: int = 3) -> "LakeTable":
        """Land a staged branch on the main chain as ONE snapshot.

        Fast-forward when main has not moved since the fork; otherwise
        a REBASE: allowed iff the branch's touched buckets are disjoint
        from main's touched-since-fork buckets, neither side changed
        bucket layout, and at most ONE side evolved the schema (schema
        evolution is metadata-only and per-file schema versions project
        forward, so a one-sided change rebases cleanly; both-sided
        changes could collide on column ids) — then main's files are
        kept for its buckets and the branch's for the branch's. Any
        overlap raises ``CommitConflict`` (re-stage from fresh state to
        resolve).

        Exactly-once: the publish itself is ledger-keyed (default id
        ``wap-publish-<id>``), and the branch's own batch ids merge
        into main's ledger — a tail that replays a batch already
        published via WAP no-ops, exactly as if it had committed
        directly. A crash between the publish commit and the staging-
        file cleanup is healed on replay (committed => just delete).
        """
        if self._wap_id is not None:
            raise RuntimeError("publish from a main-chain handle, not a branch")
        bid = str(batch_id) if batch_id is not None else f"wap-publish-{wap_id}"
        p = self._wap_path(wap_id)
        t = self
        last: CommitConflict | None = None
        for attempt in range(max_retries):
            if attempt:
                t = t.refresh()
            if t.is_committed(bid):
                if t._fs.exists(p):
                    t._fs.delete(p)
                return t
            if not t._fs.exists(p):
                raise ValueError(f"no staged WAP branch {wap_id!r}")
            staged = json.loads(t._fs.read_text(p))
            try:
                out = t._publish_wap_once(staged, wap_id, bid)
                out._fs.delete(p)
                return out
            except CommitConflict as e:
                last = e
        raise last

    def _publish_wap_once(self, staged: dict, wap_id: str, bid: str) -> "LakeTable":
        head_m = self.manifest
        head_id = self.snapshot_id
        new_id = head_id + 1
        base_id = staged["wap_base"]
        base_sig = staged["wap_base_bucket_sig"]
        branch_sig = self._bucket_sig(staged["files"])
        base_keys = set(staged["wap_base_ledger_keys"])
        new_batches = {
            k: {**v, "snapshot_id": new_id}
            for k, v in staged["committed_batches"].items()
            if k not in base_keys and k not in head_m["committed_batches"]
        }
        touched_branch = {
            b
            for b in set(base_sig) | set(branch_sig)
            if branch_sig.get(b) != base_sig.get(b)
        }
        if head_id == base_id:
            mode = "fast_forward"
            base = {k: v for k, v in staged.items() if not k.startswith("wap_")}
            changes: dict = {}
        else:
            mode = "rebase"
            base_sv = staged["wap_base_schema_version"]
            branch_evolved = staged["schema_version"] != base_sv
            main_evolved = head_m["schema_version"] != base_sv
            if branch_evolved and main_evolved:
                # BOTH sides evolved: their independently-assigned column
                # ids could collide, so the schema maps cannot be merged
                raise CommitConflict(
                    "schema evolved on both main and the WAP branch since "
                    "the fork — publish requires fast-forward (re-stage "
                    "from fresh state)"
                )
            if (
                head_m["num_buckets"] != staged["wap_base_num_buckets"]
                or staged["num_buckets"] != staged["wap_base_num_buckets"]
                or head_m.get("migration")
                or staged.get("migration")
            ):
                raise CommitConflict(
                    "bucket layout changed since the WAP fork — publish "
                    "requires fast-forward"
                )
            head_sig = self._bucket_sig(head_m["files"])
            touched_main = {
                b
                for b in set(base_sig) | set(head_sig)
                if head_sig.get(b) != base_sig.get(b)
            }
            overlap = touched_branch & touched_main
            if overlap:
                raise CommitConflict(
                    "WAP branch and main both modified buckets "
                    f"{sorted(int(b) for b in overlap)} since the fork"
                )
            base = head_m
            changes = {
                "files": [
                    f for f in head_m["files"] if str(f["bucket"]) not in touched_branch
                ]
                + [f for f in staged["files"] if str(f["bucket"]) in touched_branch]
            }
            if branch_evolved:
                # ONE-sided evolution rebases cleanly: schema changes are
                # metadata-only (no files move), every file records the
                # schema_version it was written under, and the other
                # side's since-fork files use the base version — still
                # present in the evolving side's append-only schema map.
                # Branch evolved => adopt its schema chain over head's.
                changes["schemas"] = staged["schemas"]
                changes["schema_version"] = staged["schema_version"]
                if "last_column_id" in staged:
                    changes["last_column_id"] = staged["last_column_id"]
            # main_evolved: head_m already carries main's chain and the
            # branch's files project forward by column id as usual
        summary = {
            "wap_publish": {
                "wap_id": wap_id,
                "mode": mode,
                "buckets": sorted(int(b) for b in touched_branch),
                "batches": sorted(new_batches),
            }
        }
        return self._commit(
            self._next_manifest(
                summary,
                bid,
                base=base,
                committed_batches={**base["committed_batches"], **new_batches},
                **changes,
            )
        )._fold_hot_buckets()

    def rollback_to(self, snapshot_id: int, batch_id=None) -> "LakeTable":
        """Restore the table's LOGICAL state to ``snapshot_id`` as a
        new commit (Iceberg rollback semantics: history moves forward,
        nothing is rewritten — the new manifest re-references the
        target snapshot's files).

        "Logical state" includes the batch ledger and its pruning
        watermarks: they revert to the target's, so change batches the
        rollback undid RE-APPLY when the tail replays them — rollback +
        resume-from-the-log is the recovery path for a bad batch that
        the drift guard (cdc/runner.py DriftError) stopped the tail
        for. The reference's analog is restoring the pre-load DB state
        and re-running the load (its transactional apply,
        /root/reference/load/SQLBatchExec.py:58-99, rolls back a
        failed batch the same way).

        File safety: the target must be ≥ ``min_retained_snapshot``
        (SnapshotExpired otherwise), and every retained manifest's
        files survive ``expire_snapshots`` by reference, so the
        re-referenced files are guaranteed present. Schema reverts to
        the target's version as well; versions added after the target
        stay in the manifest's schema map and are simply inactive.

        Metadata-only: cost is one manifest write, independent of
        table size. Idempotent under ``batch_id`` like any commit.

        On a ``changelog=True`` table (same schema version at target
        and head) the rollback additionally materializes COMPENSATING
        changes — the inverse of the (target → head) net diff: undone
        inserts become deletes, undone deletes become inserts, undone
        updates swap post/pre — so ``read_changes`` windows and
        ``lake_cdf`` streams ride THROUGH the rollback instead of
        breaking on an uncovered commit (and a window spanning the bad
        batch plus its rollback nets to nothing). Cost becomes
        O(churn being undone) when the window is changelog-covered.
        """
        if self._wap_id is not None:
            raise RuntimeError("rollback_to operates on the main chain, not a WAP branch")

        if snapshot_id > self.snapshot_id:
            raise ValueError(
                f"cannot roll forward: target {snapshot_id} is beyond head "
                f"{self.snapshot_id}"
            )
        if snapshot_id < self.min_retained_snapshot:
            raise SnapshotExpired(
                f"snapshot {snapshot_id} expired (oldest retained: "
                f"{self.min_retained_snapshot})"
            )
        # default id is scoped to the CURRENT head: replaying the same
        # rollback no-ops, but rolling back to the same target again
        # from a later head is a fresh (correct) commit
        bid = (
            batch_id
            if batch_id is not None
            else f"rollback-to-{snapshot_id}-from-{self.snapshot_id}"
        )
        if self.is_committed(bid) or snapshot_id == self.snapshot_id:
            return self
        old = self._manifest_at(snapshot_id)
        summary: dict = {"rollback_to": snapshot_id}
        if (
            self.manifest.get("changelog")
            and old["schema_version"] == self.manifest["schema_version"]
        ):
            win = self._change_window(snapshot_id, self.snapshot_id)
            others = [c for c in win.columns if c not in (self.key, "_pre", "_change_type")]
            ct = F.col("_change_type")
            is_upd = ct == "update_post"
            # the inverse net diff: an undone insert deletes the row it
            # carries, an undone delete re-inserts its old image, and an
            # undone update swaps post and pre
            cl_df = win.select(
                self.key,
                *[
                    F.when(is_upd, F.col("_pre").getField(c)).otherwise(F.col(c)).alias(c)
                    for c in others
                ],
                F.when(is_upd, F.struct(*others)).alias("_pre"),
                F.when(ct == "insert", F.lit("delete"))
                .when(ct == "delete", F.lit("insert"))
                .otherwise(ct)
                .alias("_change_type"),
            )
            summary = self._logged(
                summary, self._write_changelog(cl_df, self.snapshot_id + 1)
            )
        reverted = {
            "files": old["files"],
            "schema_version": old["schema_version"],
            # layout is part of the restored state: the target's files
            # carry bucket ids assigned under ITS bucket function —
            # pairing them with a later rebucket's count would corrupt
            # pruning and merges. Ditto any in-flight incremental
            # migration: its progress set describes the target's files
            "num_buckets": old["num_buckets"],
            "migration": old.get("migration"),
            # constraints are logical state too: the restored rows were
            # validated under the TARGET's constraint set, not the head's
            "constraints": old.get("constraints"),
            "committed_batches": old["committed_batches"],
        }
        if "ledger_watermarks" in old or "ledger_watermarks" in self.manifest:
            reverted["ledger_watermarks"] = old.get("ledger_watermarks") or {}
        return self._commit(self._next_manifest(summary, bid, **reverted))

    def history(self) -> list[dict]:
        out = []
        meta = os.path.join(self.root, _META)
        for i in range(self.min_retained_snapshot, self.snapshot_id + 1):
            p = os.path.join(meta, f"v{i}.json")
            if self._fs.exists(p):
                m = json.loads(self._fs.read_text(p))
                out.append(
                    {
                        "snapshot_id": m["snapshot_id"],
                        "parent_id": m["parent_id"],
                        "schema_version": m["schema_version"],
                        "n_files": len(m["files"]),
                        "summary": m.get("summary", {}),
                    }
                )
        return out

    # ------------------------------------------------ metadata tables

    def files_df(self) -> DataFrame:
        """The live file inventory as a DataFrame — the Iceberg
        ``table.files`` metadata-table analog. One row per data file
        of the CURRENT snapshot: (path, bucket, schema_version,
        is_delta, delta_seq, size_bytes, n_rows, has_kbloom).

        Metadata-only: built from the in-memory manifest plus one
        filesystem ``size`` probe per file; ``n_rows`` comes from the
        footer stats already recorded at write time (NULL when the
        file predates stats collection). No data bytes are read — the
        operational queries this feeds (small-file audits, skew maps,
        compaction planning) must stay cheap on a 100 TB table whose
        data scan is the expensive thing being avoided.
        """
        rows = []
        for f in self.manifest["files"]:
            st = f.get("stats") or {}
            try:
                size = self._fs.size(os.path.join(self.root, f["path"]))
            except OSError:
                size = None
            rows.append(
                (
                    f["path"],
                    int(f["bucket"]),
                    int(f.get("schema_version", 0)),
                    bool(f.get("delta")),
                    int(f["seq"]) if f.get("delta") else None,
                    size,
                    int(st["rows"]) if "rows" in st else None,
                    "kbloom" in f,
                )
            )
        return local_frame(
            self.spark,
            rows,
            "path string, bucket int, schema_version int, is_delta boolean, "
            "delta_seq int, size_bytes long, n_rows long, has_kbloom boolean",
        )

    def snapshots_df(self) -> DataFrame:
        """Retained snapshot history as a DataFrame — the Iceberg
        ``table.snapshots``/``history`` analog: (snapshot_id,
        parent_id, schema_version, n_files, operation). ``operation``
        classifies the commit from its summary keys (merge, append,
        compact, rebucket, schema, retention, tag, constraint, …);
        unknown summaries fall back to their first key. Driver-side
        manifest reads only, bounded by the retention window."""
        op_of = {
            "counts": "merge",
            "append": "append",
            "compacted_buckets": "compact",
            "rebucket": "rebucket",
            "schema_op": "schema",
            "expired_through": "retention",
            "vacuumed_tombstones": "retention",
            "tag": "tag",
            "untag": "untag",
            "add_constraint": "constraint",
            "drop_constraint": "constraint",
            "stats_columns": "stats",
        }
        rows = []
        for h in self.history():
            first = next(iter(h["summary"]), None)
            op = next((v for k, v in op_of.items() if k in h["summary"]), first)
            rows.append(
                (
                    h["snapshot_id"],
                    h["parent_id"],
                    h["schema_version"],
                    h["n_files"],
                    op,
                )
            )
        return local_frame(
            self.spark,
            rows,
            "snapshot_id long, parent_id long, schema_version int, "
            "n_files long, operation string",
        )

    def plan_compaction(
        self,
        max_files_per_bucket: int = 4,
        small_file_bytes: int | None = None,
    ) -> list[int]:
        """Pick buckets worth compacting, from metadata alone: a
        bucket qualifies when it holds more than ``max_files_per_bucket``
        live files (base + MOR deltas), or when ``small_file_bytes``
        is given and it has 2+ files under that size (the small-file
        problem: each file is a task + a footer + a merge input at
        read time). Returns a sorted bucket list to pass straight to
        ``compact(buckets=...)`` — the OPTIMIZE planner that lets a
        maintenance job touch only the degraded fraction of a 100 TB
        table instead of rewriting all of it."""
        by_bucket: dict[int, list[dict]] = {}
        for f in self.manifest["files"]:
            by_bucket.setdefault(int(f["bucket"]), []).append(f)
        out = []
        for b, fs_ in by_bucket.items():
            if len(fs_) > max_files_per_bucket:
                out.append(b)
                continue
            if small_file_bytes is not None and len(fs_) >= 2:
                small = 0
                for f in fs_:
                    try:
                        if self._fs.size(os.path.join(self.root, f["path"])) < small_file_bytes:
                            small += 1
                    except OSError:
                        pass
                if small >= 2:
                    out.append(b)
        return sorted(out)
