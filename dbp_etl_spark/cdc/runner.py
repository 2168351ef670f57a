"""Microbatch runner: tail a change stream, apply batches in order,
checkpoint, resume, side-output dead letters and lineage.

Reference analog: the driver loop
/root/reference/load/DBPLoadController.py:229-283 (validate → … →
update tables → complete, one fileset at a time), run bookkeeping
/root/reference/load/RunStatus.py:28-48, and error-log side outputs
/root/reference/load/Log.py:103-136.

Exactly-once: the commit ledger lives INSIDE the table manifest (a
batch id is recorded in the same atomic pointer swing that publishes
its data), so replay after a crash cannot double-apply — the runner
just skips already-committed batch ids. Resume = re-tail from the
first uncommitted batch id.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbp_etl_spark.cdc.merge import MergeResult, default_transform, merge_batch
from dbp_etl_spark.lake.table import LakeTable
from dbp_etl_spark.session import local_frame


class DriftError(RuntimeError):
    """A batch shrank past the drift floor — refuse to apply it.

    Reference analog: abort the run if the metadata extract lost more
    than 50 records vs. the previous run
    (/root/reference/load/LPTSExtractReader.py:53-74) — a guard against
    accidentally tailing a truncated source."""


class AuditFailed(RuntimeError):
    """The audit callback rejected a staged batch group.

    The WAP branch holding the group is already abandoned and main is
    untouched; the group's batch ids remain uncommitted, so a resume
    after fixing the input re-applies exactly from this group (ST6
    ordered-apply is preserved — nothing after the rejected group was
    applied)."""


@dataclass
class RunReport:
    results: list[MergeResult] = field(default_factory=list)
    n_batches: int = 0
    n_skipped: int = 0
    n_events: int = 0
    wall_sec: float = 0.0

    def total_counts(self) -> dict:
        out: dict[str, int] = {}
        for r in self.results:
            for k, v in r.counts.items():
                out[k] = out.get(k, 0) + v
        return out


class CDCRunner:
    def __init__(
        self,
        table: LakeTable,
        errors_path: str | None = None,
        lineage_path: str | None = None,
        transform=default_transform,
        salt_buckets: int = 16,
        drift_floor_pct: float | None = None,
        allow_urls: DataFrame | None = None,
        expire_every: int | None = None,
        expire_keep_last: int = 8,
        patch_ops: bool = False,
        retry_conflicts: int = 0,
        audit=None,
    ):
        self.table = table
        self.errors_path = errors_path
        self.lineage_path = lineage_path
        self.transform = transform
        self.salt_buckets = salt_buckets
        self.drift_floor_pct = drift_floor_pct
        self.allow_urls = allow_urls
        # ``expire_every=N``: run snapshot expiry + ledger pruning after
        # every N applied groups — keeps commit cost O(retained window)
        # on long tails (10^4-10^5 batches at the design point) instead
        # of O(history). keep_last must cover the deepest time travel /
        # fused-resume window the deployment needs.
        self.expire_every = expire_every
        self.expire_keep_last = expire_keep_last
        # accept sparse op='patch' events (NULL column = unchanged);
        # see merge_batch(patch_ops=...) for the semantics
        self.patch_ops = patch_ops
        # multi-writer mode: on CommitConflict (another runner advanced
        # the table head between our read and commit), refresh the
        # handle and re-apply up to N times. The ledger makes the retry
        # safe: batches the winner already applied no-op, and the MERGE
        # recomputes against the NEW head so nothing is lost. Pair with
        # ``table.lock = FileLockService(...)`` on stores whose
        # exclusive create is check-then-act.
        self.retry_conflicts = retry_conflicts
        # ``audit=callable``: write-audit-publish ingest. Each batch
        # group is MERGEd onto a WAP branch (invisible to main
        # readers), the callable receives the staged branch handle and
        # returns truthy to publish; falsy raises AuditFailed with the
        # branch abandoned and main untouched — the reference's
        # validate-before-update gate (DBPLoadController.py:229-283)
        # made atomic: a half-validated batch can never be half-
        # visible. Halting (not skipping) on rejection preserves the
        # ordered-apply contract; resume re-applies from the rejected
        # group. Exactly-once is unchanged: publish merges the group's
        # batch ids into main's ledger atomically.
        self.audit = audit
        self._applied_since_expiry = 0

    @staticmethod
    def stage_by_batch(
        changes: DataFrame,
        path: str,
        batch_col: str = "batch_id",
        files_per_batch: int | None = None,
    ) -> DataFrame:
        """Write the change log hive-partitioned by batch id, re-read it.

        ``run`` filters the log once per batch; over an unpartitioned
        source that is B full scans (parquet row-group stats prune only
        if the log happens to be sorted by batch id). After this staging
        write, batch b's files live under ``batch_id=b/`` and Catalyst
        partition-prunes each per-batch read to exactly that slice —
        one full pass total (this write) regardless of B. At 10^10
        events, tail sources should be produced in this layout to begin
        with (Kafka-style offset directories); then no staging is needed.

        Each batch is spread over ``files_per_batch`` files (default:
        the session's core count) via a salt in the repartition key:
        clustering by batch_id ALONE would funnel a whole batch through
        one task and one file whose few giant row groups then serialize
        every downstream scan of that batch — measured as a 4-task merge
        map stage where 1 task did 100% of the work.
        """
        spark = changes.sparkSession
        if files_per_batch is None:
            files_per_batch = max(spark.sparkContext.defaultParallelism, 8)
        salt = F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in changes.columns]),
            F.lit(files_per_batch),
        )
        (
            changes.repartition(F.col(batch_col), salt)
            .write.partitionBy(batch_col)
            .mode("overwrite")
            .parquet(path)
        )
        # Read back under the ORIGINAL schema: without it, batch_col is
        # a hive partition column whose type is re-inferred from the
        # directory names — numeric-looking STRING ids ('0001', '07')
        # would silently coerce to ints, changing ledger keys between
        # staged and unstaged runs (and merging distinct ids). With an
        # explicit schema the partition value parses as the declared
        # type, so ids round-trip exactly.
        return spark.read.schema(changes.schema).parquet(path)

    def run(
        self, changes: DataFrame, batch_col: str = "batch_id", fuse: int = 1
    ) -> RunReport:
        """Apply every batch of ``changes`` in batch-id order (ST1/ST6:
        strictly ordered microbatches), skipping committed ones.

        ``fuse=N`` groups up to N CONSECUTIVE uncommitted batches into
        one MERGE (group commit): the cross-batch guards make applying
        a log as 1 batch or as many byte-identical (test_batch_split_
        invariance), so fusing preserves final state exactly while
        paying the per-merge fixed costs (state read, join, write,
        commit) once per group instead of once per batch. Every member
        batch id lands in the ledger in the same atomic commit, so
        replay/resume still no-op per batch id; resume granularity
        becomes the group. Lineage/counts are reported per group.

        Scale note: pass a ``changes`` DataFrame read from a source
        hive-partitioned by ``batch_col`` (see ``stage_by_batch``) so
        the per-batch filter below partition-prunes instead of
        re-scanning the full log per batch."""
        t0 = time.time()
        # one discovery job: every batch id AND its candidate buckets
        # (collect_set drops the null bucket of malformed null-key rows,
        # but the batch id itself is still discovered and processed —
        # its bad rows dead-letter inside merge_batch)
        disco = (
            changes.groupBy(batch_col)
            .agg(
                F.collect_set(self.table.bucket_expr()).alias("bkts"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        cand_by_batch = {r[0]: sorted(r["bkts"]) for r in disco}
        n_by_batch = {r[0]: r["n"] for r in disco}
        batch_ids = sorted(cand_by_batch)
        report = RunReport()
        prev_n: int | None = None
        pending: list = []
        for b in batch_ids:
            report.n_batches += 1
            n = n_by_batch.get(b, 0)
            if (
                self.drift_floor_pct is not None
                and prev_n
                and n < prev_n * (1 - self.drift_floor_pct / 100.0)
                and not self.table.is_committed(b)
            ):
                raise DriftError(
                    f"batch {b} has {n} events, more than "
                    f"{self.drift_floor_pct}% below previous batch ({prev_n}); "
                    "refusing to apply (resume after inspection — committed "
                    "batches are untouched)"
                )
            prev_n = n
            if self.table.is_committed(b):
                report.n_skipped += 1
                report.results.append(
                    MergeResult(batch_id=b, skipped=True, snapshot_id=self.table.snapshot_id)
                )
                continue
            pending.append(b)
            if len(pending) >= max(1, fuse):
                self._apply_group(changes, batch_col, pending, cand_by_batch, report)
                pending = []
        if pending:
            self._apply_group(changes, batch_col, pending, cand_by_batch, report)
        report.wall_sec = time.time() - t0
        return report

    def _apply_group(
        self,
        changes: DataFrame,
        batch_col: str,
        group: list,
        cand_by_batch: dict,
        report: RunReport,
    ) -> None:
        if len(group) == 1:
            batch = changes.filter(F.col(batch_col) == group[0])
            bid = group[0]
        else:
            batch = changes.filter(F.col(batch_col).isin(*group))
            bid = list(group)
        cand = sorted({c for b in group for c in cand_by_batch.get(b, [])})
        if self.audit is not None:
            res = self._with_conflict_retry(
                lambda: self._apply_audited(batch, bid, cand, batch_col)
            )
        else:
            res = self._with_conflict_retry(
                lambda: merge_batch(
                    self.table,
                    batch,
                    bid,
                    transform=self.transform,
                    salt_buckets=self.salt_buckets,
                    candidates=cand,
                    batch_col=batch_col,
                    pre_commit=self._side_outputs,
                    patch_ops=self.patch_ops,
                )
            )
        report.results.append(res)
        self._maintenance(res)

    def _apply_audited(self, batch: DataFrame, bid, cand: list, batch_col: str):
        """Stage the group on a WAP branch, audit, publish-or-abandon."""
        import re as _re

        first = bid[0] if isinstance(bid, list) else bid
        wap_id = "audit-" + _re.sub(r"[^A-Za-z0-9._-]+", "-", str(first))
        # a crashed prior run may have left a stale staging forked from
        # an older head — staging is side-effect-free until publish, so
        # always re-fork fresh
        self.table.abandon_wap(wap_id)
        br = self.table.wap_branch(wap_id)
        res = merge_batch(
            br,
            batch,
            bid,
            transform=self.transform,
            salt_buckets=self.salt_buckets,
            candidates=cand,
            batch_col=batch_col,
            patch_ops=self.patch_ops,
        )
        if not self.audit(br):
            self.table.abandon_wap(wap_id)
            raise AuditFailed(
                f"audit rejected batch group {bid!r}; staged branch abandoned, "
                "main untouched — fix the input and resume"
            )
        # side outputs land before the publish commit (same ordering
        # contract as the direct path's pre_commit hook)
        self._side_outputs(res)
        self.table = self.table.publish_wap(wap_id)
        res.snapshot_id = self.table.snapshot_id
        return res

    def apply_snapshot(self, snapshot: DataFrame, batch_id) -> MergeResult:
        """Snapshot-compare mode: make the table equal a FULL dimension
        snapshot, inferring deletes from absent keys (the reference's
        metadata-load shape, /root/reference/load/UpdateDBPBiblesTable.py:65-126).

        Exactly-once rides the same ledger as the stream path: a replay
        of ``batch_id`` no-ops; applying the SAME snapshot content under
        a new batch_id commits an empty diff (structural idempotency).
        Dead letters / lineage flow through the runner's side outputs
        like any stream batch."""
        from dbp_etl_spark.cdc.merge import snapshot_batch

        res = self._with_conflict_retry(
            lambda: snapshot_batch(
                self.table,
                snapshot,
                batch_id,
                transform=self.transform,
                pre_commit=self._side_outputs,
            )
        )
        self._maintenance(res)
        return res

    def _maintenance(self, res: MergeResult) -> None:
        """Post-apply cadence: snapshot expiry every ``expire_every``
        applied groups. (Merge-on-read delta accumulation is bounded by
        the table's own ``max_delta_commits``.)"""
        if res.skipped:
            return
        if self.expire_every is not None:
            self._applied_since_expiry += 1
            if self._applied_since_expiry >= self.expire_every:
                self.table.expire_snapshots(keep_last=self.expire_keep_last)
                self._applied_since_expiry = 0

    def _with_conflict_retry(self, apply_fn):
        """Run ``apply_fn``, retrying up to ``retry_conflicts`` times on
        CommitConflict with a refreshed handle (lock/_fs carried over —
        refresh() returns a plain handle). A lost race recomputes the
        MERGE against the winner's head; already-committed batch ids
        ledger-skip inside apply_fn."""
        from dbp_etl_spark.lake.table import CommitConflict

        for attempt in range(self.retry_conflicts + 1):
            try:
                return apply_fn()
            except CommitConflict:
                # inside a multi-table transaction a conflict means the
                # disk head moved under the coordinator lock (a writer
                # not routed through it): the transaction's staged base
                # is invalidated and NO refresh can mend it — a
                # refreshed handle would either drop the staged commits
                # (publishing outside the transaction) or fail the
                # staged-head check forever. Fail fast; the transaction
                # aborts as a whole and the caller re-runs it.
                if attempt >= self.retry_conflicts or self.table._txn_collector is not None:
                    raise
                fresh = self.table.refresh()
                fresh.lock = self.table.lock
                fresh._fs = self.table._fs
                self.table = fresh

    @staticmethod
    def _side_dir(root: str, label: str) -> str:
        """Deterministic per-batch side-output directory: a replay of
        the same batch id overwrites the SAME directory, making the
        write idempotent (the atomicity story below depends on it)."""
        import hashlib

        safe = "".join(ch if (ch.isalnum() or ch in "-_.") else "_" for ch in label)[:80]
        return os.path.join(root, f"b_{safe}_{hashlib.md5(label.encode()).hexdigest()[:8]}")

    def _side_outputs(self, res: MergeResult) -> None:
        """Write lineage/errors side outputs for a batch.

        Invoked as merge_batch/snapshot_batch's ``pre_commit`` hook —
        i.e. BEFORE the manifest commit, into a deterministic per-batch
        directory with overwrite semantics. This closes the reference's
        dependent-table atomicity requirement (the video path commits
        fileset tables and stream tables as one coordinated apply,
        /root/reference/load/DBPLoadController.py:126-140) without a
        cross-table transaction: a crash BEFORE the commit leaves the
        batch uncommitted, so replay recomputes and overwrites the same
        directories; a committed batch therefore ALWAYS has its side
        outputs on disk, and replay can never duplicate them. The only
        residue is an orphan side-output dir for a batch that crashed
        and was never replayed — surfaced by state_checks'
        lineage_ledger_mismatch (lake/integrity.py:66), never a gap.
        """
        spark = self.table.spark
        label = (
            ",".join(str(b) for b in res.batch_id)
            if isinstance(res.batch_id, (list, tuple))
            else str(res.batch_id)
        )
        if self.errors_path and res.deadletter is not None:
            dead = res.deadletter
            if self.allow_urls is not None:
                # accept-error override list (reference analog:
                # /root/reference/load/FilenameReducer.py:22-31): known
                # urls get level WARN instead of EROR
                allow = F.broadcast(
                    self.allow_urls.select(F.col("url").alias("_allow_url"))
                ).distinct()
                dead = dead.join(allow, dead.url == allow._allow_url, "left")
                level = F.when(F.col("_allow_url").isNotNull(), "WARN").otherwise("EROR")
            else:
                level = F.lit("EROR")
            (
                dead.select(
                    F.lit(label).alias("batch_id"),
                    F.col("url"),
                    level.alias("level"),
                    F.col("_dl_reason").alias("message"),
                )
                .write.mode("overwrite")
                .parquet(self._side_dir(self.errors_path, label))
            )
        if self.lineage_path and res.lineage:
            rows = [
                (
                    label,
                    int(line["bucket"]),
                    line["action"],
                    int(line["n"]),
                )
                for line in res.lineage
            ]
            local_frame(
                spark, rows, "batch_id string, partition_id int, action string, n long"
            ).write.mode("overwrite").parquet(self._side_dir(self.lineage_path, label))

    # -- checkpoint/resume introspection -------------------------------

    def last_committed_batch(self):
        ledger = self.table.committed_batches()
        if not ledger:
            return None
        return max(ledger, key=lambda k: ledger[k]["snapshot_id"])

    def _read_side(self, root: str) -> DataFrame | None:
        # per-batch subdirectories (see _side_dir): recursive lookup, no
        # hive partition inference — batch_id lives IN the rows
        if root and os.path.exists(root) and os.listdir(root):
            return (
                self.table.spark.read.option("recursiveFileLookup", "true").parquet(root)
            )
        return None

    def errors(self) -> DataFrame | None:
        return self._read_side(self.errors_path)

    def lineage(self) -> DataFrame | None:
        return self._read_side(self.lineage_path)
