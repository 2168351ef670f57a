"""Incremental table-to-table replication over the change feed.

``TableReplicator`` maintains a downstream ``LakeTable`` as an
exactly-once replica — optionally filtered, projected, or transformed —
of an upstream ``LakeTable``, by applying the upstream's row-level
change feed (``read_changes``) instead of re-reading its full state.
This is the changes-OUT half of the CDC engine: one lake table feeds
the next pipeline stage the same way the reference's loaded DB feeds
its downstream API (the reference re-extracts full state per consumer;
the feed-driven replica is the incremental generalization of its
load-then-serve split, /root/reference/load/DBPLoadController.py:96-141).

Semantics
---------
* The feed between two snapshots is a NET per-key diff (one row per
  key: insert / update_post / delete), so applying it to a replica
  that was in sync at the lower snapshot lands it EXACTLY at the upper
  snapshot's state — no per-commit replay, no ordering to manage.
* Filtered replicas (``where=``): a row whose new image leaves the
  predicate becomes a DELETE on the replica (move-out), so the replica
  always equals ``source.read().filter(where)``.
* Exactly-once: each sync commits under a ledger id derived from the
  target snapshot range (``repl::<name>::<to_snapshot>``); a crashed
  sync replays idempotently, and the cursor is recovered from the
  target's own ledger — no side-channel state. Syncing every source
  snapshot yields contiguous ids, which ``expire_snapshots`` folds
  into a per-prefix watermark (the cursor survives ledger pruning).

Physical shape (the 100 TB story): the feed itself only scans buckets
whose file sets changed; the apply writes only the target buckets the
feed touches. On a ``merge_on_read=True`` target the apply is a pure
O(churn) delta commit (no target read at all); on a copy-on-write
target it reads and rewrites only the dirty buckets.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbp_etl_spark.lake.table import LakeTable, SnapshotExpired


@dataclass
class SyncResult:
    from_snapshot: int | None
    to_snapshot: int
    mode: str = "cdf"  # 'cdf' | 'bootstrap' | 'noop'
    skipped: bool = False
    counts: dict = field(default_factory=dict)
    target_snapshot: int | None = None


class TableReplicator:
    """Maintain ``target`` as an incremental replica of ``source``.

    Parameters
    ----------
    source, target:
        Open ``LakeTable`` handles. Both must share the merge-key
        COLUMN NAME; bucket counts and table modes (copy-on-write vs
        merge-on-read) may differ freely. The target must be written
        only through this replicator (single-writer per replica).
    name:
        Replication-stream id; part of the ledger key, so several
        replicators with distinct names could in principle share a
        target's ledger namespace without colliding.
    where:
        Optional row filter (Column or SQL string over SOURCE columns).
        Rows matching it replicate; rows leaving it delete (move-out).
        NULL predicate results count as non-matching.
    transform:
        Optional ``df -> df`` applied to the kept (upsert) rows before
        projection — a derived replica (redaction, casting, enrichment).
        Must preserve the key and ``warc_ts`` columns and must be
        deterministic (a replayed sync re-runs it).
    key_expand:
        Enables 1->N fan-out replicas whose TARGET key differs from
        the source key (e.g. a doc -> per-band LSH posting index,
        operators/neardup_index.py, or a doc -> chunk replica with a
        fixed chunk fan-out). A ``df -> df`` over (source_key, warc_ts)
        rows returning (target_key, warc_ts) rows: the full set of
        target keys a source row owns. Contract: the key SET must be
        derivable from the source key alone (payload-independent and
        fixed-arity), because deletes carry no payload — ``transform``
        must emit exactly these keys for upserts. With ``key_expand``
        set, ``transform`` is required and the key-name equality check
        is waived.
    """

    def __init__(
        self,
        source: LakeTable,
        target: LakeTable,
        name: str = "default",
        where: Column | str | None = None,
        transform=None,
        key_expand=None,
    ):
        if key_expand is None:
            if source.key != target.key:
                raise ValueError(
                    f"replica key column {target.key!r} must match source {source.key!r}"
                )
        elif transform is None:
            raise ValueError("key_expand requires transform (it produces the fanned-out rows)")
        self.source = source
        self.target = target
        self.name = name
        self.where = where
        self.transform = transform
        self.key_expand = key_expand

    # ------------------------------------------------------------ cursor

    @property
    def _prefix(self) -> str:
        return f"repl::{self.name}::"

    def cursor(self) -> int | None:
        """Last source snapshot the target provably holds — recovered
        from the target's ledger (exact entries plus the pruned-history
        watermark), so replicator restarts need no external state."""
        best = None
        for k in self.target.manifest["committed_batches"]:
            if k.startswith(self._prefix):
                try:
                    n = int(k[len(self._prefix) :])
                except ValueError:
                    continue
                best = n if best is None else max(best, n)
        wm = (self.target.manifest.get("ledger_watermarks") or {}).get(self._prefix)
        if wm is not None:
            hi = int(wm[1] if isinstance(wm, (list, tuple)) else wm)
            best = hi if best is None else max(best, hi)
        return best

    # -------------------------------------------------------------- sync

    def sync(self, to_snapshot: int | None = None) -> SyncResult:
        """Advance the replica to ``to_snapshot`` (default: source head).

        One atomic target commit per call; a replay of the same range
        ledger-skips. Raises ``SnapshotExpired`` when the cursor
        predates the source's retained history (the replica fell too
        far behind — bootstrap a fresh target)."""
        self.source = self.source.refresh()
        self.target = self.target.refresh()
        src, tgt = self.source, self.target
        to = src.snapshot_id if to_snapshot is None else to_snapshot
        cur = self.cursor()
        if cur is not None and to <= cur:
            return SyncResult(cur, to, mode="noop", skipped=True,
                              target_snapshot=tgt.snapshot_id)
        bid = f"{self._prefix}{to}"
        if tgt.is_committed(bid):
            return SyncResult(cur, to, mode="noop", skipped=True,
                              target_snapshot=tgt.snapshot_id)
        if cur is None:
            if src.min_retained_snapshot == 0:
                # full history retained: the feed from the empty table
                # IS the bootstrap (all inserts), one code path
                feed, mode = src.read_changes(0, to), "cdf"
            else:
                feed = src.read(snapshot_id=to).withColumn(
                    "_change_type", F.lit("insert")
                )
                mode = "bootstrap"
        else:
            if cur < src.min_retained_snapshot:
                raise SnapshotExpired(
                    f"replication cursor {cur} predates the source's retained "
                    f"history (min {src.min_retained_snapshot}); bootstrap a "
                    "fresh target"
                )
            feed, mode = src.read_changes(cur, to), "cdf"
        apply = self._apply_fanout if self.key_expand is not None else self._apply
        counts = apply(feed, bid)
        return SyncResult(
            cur,
            to,
            mode=mode,
            counts=counts,
            target_snapshot=self.target.snapshot_id,
        )

    def sync_each_snapshot(self, to_snapshot: int | None = None) -> list[SyncResult]:
        """Sync one source snapshot at a time (contiguous ledger ids —
        maximally prunable — and bounded per-commit feed size on a
        replica that fell many snapshots behind)."""
        self.source = self.source.refresh()
        head = self.source.snapshot_id if to_snapshot is None else to_snapshot
        start = self.cursor()
        out: list[SyncResult] = []
        if start is None:
            if self.source.min_retained_snapshot == 0:
                start = 0  # full history retained: replay per snapshot
            else:
                # expired history: one bootstrap jump to the horizon,
                # then per-snapshot from there
                start = min(self.source.min_retained_snapshot, head)
                out.append(self.sync(start))
        out.extend(self.sync(s) for s in range(start + 1, head + 1))
        return out

    # ------------------------------------------------------------- apply

    def _classify(self, feed: DataFrame) -> Column:
        ct = F.col("_change_type")
        keep = ct != "delete"
        if self.where is not None:
            pred = F.expr(self.where) if isinstance(self.where, str) else self.where
            keep = keep & F.coalesce(pred, F.lit(False))
        return keep

    def _apply(self, feed: DataFrame, bid: str) -> dict:
        tgt = self.target
        key = tgt.key
        cols = [c for c in tgt.schema.names() if c != "_deleted"]
        keep = self._classify(feed)
        # one cached pass feeds the stats job and the write job; the
        # stats job also yields the dirty-bucket list (bounded by the
        # target's bucket count, safe to collect)
        feed = feed.persist()
        try:
            per_bucket = (
                feed.select(tgt.bucket_expr(key).alias("_b"), keep.alias("_keep"))
                .groupBy("_b")
                .agg(
                    F.sum(F.col("_keep").cast("long")).alias("up"),
                    F.sum((~F.col("_keep")).cast("long")).alias("del"),
                )
                .collect()
            )
            buckets = sorted(r["_b"] for r in per_bucket)
            counts = {
                "upsert": int(sum(r["up"] for r in per_bucket)),
                "delete": int(sum(r["del"] for r in per_bucket)),
                "buckets": len(buckets),
            }
            ups = feed.filter(keep)
            if self.transform is not None:
                ups = self.transform(ups)
            missing = [c for c in cols if c not in ups.columns]
            if missing:
                raise ValueError(
                    f"replica columns {missing} absent from the change feed "
                    "(evolve the source, adjust the projection, or supply them "
                    "via transform=)"
                )
            cur_struct = tgt.schema.to_struct()
            ups = ups.select(
                *[F.col(c).cast(cur_struct[c].dataType).alias(c) for c in cols]
            )
            summary = {"replication": {"name": self.name, **counts}}
            if tgt.manifest.get("merge_on_read"):
                # O(churn): upserts + tombstones land as delta files,
                # no target read at all (delete_keys row shape)
                dels = feed.filter(~keep).select(
                    F.col(key).cast(cur_struct[key].dataType).alias(key),
                    F.col("warc_ts").cast(cur_struct["warc_ts"].dataType),
                    *[
                        F.lit(None).cast(cur_struct[c].dataType).alias(c)
                        for c in cols
                        if c not in (key, "warc_ts")
                    ],
                )
                rows = ups.withColumn("_deleted", F.lit(False)).unionByName(
                    dels.withColumn("_deleted", F.lit(True))
                )
                self.target = tgt.write_deltas(rows, buckets, bid, summary=summary)
            else:
                # copy-on-write: rewrite only the dirty buckets — their
                # surviving rows (feed keys anti-joined away) + upserts
                all_keys = feed.select(key).distinct()
                kept_state = tgt.read(buckets=buckets).join(all_keys, key, "left_anti")
                new_state = kept_state.select(*cols).unionByName(ups)
                self.target = tgt.overwrite_buckets(
                    new_state, buckets, bid, summary=summary
                )
        finally:
            feed.unpersist()
        return counts

    def _apply_fanout(self, feed: DataFrame, bid: str) -> dict:
        """1->N replica apply: ``transform`` fans kept rows out to
        target-keyed rows; ``key_expand`` fans DELETED source keys out
        to the same target key set (payload-independent by contract).
        Counts report TARGET rows. The transform output is persisted —
        it is typically the expensive leg (e.g. minhash over text) and
        feeds both the stats job and the write job."""
        tgt = self.target
        key = tgt.key
        src_key = self.source.key
        cols = [c for c in tgt.schema.names() if c != "_deleted"]
        cur_struct = tgt.schema.to_struct()
        keep = self._classify(feed)

        ups = self.transform(feed.filter(keep))
        missing = [c for c in cols if c not in ups.columns]
        if missing:
            raise ValueError(
                f"replica columns {missing} absent from the transformed feed"
            )
        ups = ups.select(
            *[F.col(c).cast(cur_struct[c].dataType).alias(c) for c in cols]
        ).persist()
        dels = self.key_expand(
            feed.filter(~keep).select(F.col(src_key), F.col("warc_ts"))
        )
        if key not in dels.columns:
            raise ValueError(f"key_expand must emit the target key column {key!r}")
        dels = dels.select(
            F.col(key).cast(cur_struct[key].dataType).alias(key),
            F.col("warc_ts").cast(cur_struct["warc_ts"].dataType).alias("warc_ts"),
        ).persist()
        try:
            per_bucket = (
                ups.select(tgt.bucket_expr(key).alias("_b"), F.lit(True).alias("_keep"))
                .unionByName(
                    dels.select(tgt.bucket_expr(key).alias("_b"), F.lit(False).alias("_keep"))
                )
                .groupBy("_b")
                .agg(
                    F.sum(F.col("_keep").cast("long")).alias("up"),
                    F.sum((~F.col("_keep")).cast("long")).alias("del"),
                )
                .collect()
            )
            buckets = sorted(r["_b"] for r in per_bucket)
            counts = {
                "upsert": int(sum(r["up"] for r in per_bucket)),
                "delete": int(sum(r["del"] for r in per_bucket)),
                "buckets": len(buckets),
            }
            summary = {"replication": {"name": self.name, **counts}}
            dels_full = dels.select(
                key,
                "warc_ts",
                *[
                    F.lit(None).cast(cur_struct[c].dataType).alias(c)
                    for c in cols
                    if c not in (key, "warc_ts")
                ],
            )
            if tgt.manifest.get("merge_on_read"):
                rows = ups.withColumn("_deleted", F.lit(False)).unionByName(
                    dels_full.withColumn("_deleted", F.lit(True))
                )
                self.target = tgt.write_deltas(rows, buckets, bid, summary=summary)
            else:
                all_keys = (
                    ups.select(key).unionByName(dels.select(key)).distinct()
                )
                kept_state = tgt.read(buckets=buckets).join(all_keys, key, "left_anti")
                new_state = kept_state.select(*cols).unionByName(ups)
                self.target = tgt.overwrite_buckets(
                    new_state, buckets, bid, summary=summary
                )
        finally:
            ups.unpersist()
            dels.unpersist()
        return counts
