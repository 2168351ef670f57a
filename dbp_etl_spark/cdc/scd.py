"""SCD Type 2 history maintenance over the change-event tail.

The engine's main product is latest-state-per-key (the CDC table).
Many consumers of the same tail need the *history*: every version a
key ever had, with its validity interval — the classic slowly-changing
-dimension type 2 shape:

    entity_url | valid_from | valid_to | is_current | payload…

Reference analog: the reference keeps full load history in run/batch
bookkeeping tables and re-derivable per-version filesets
(/root/reference/load/RunStatus.py:28-48,
/root/reference/load/UpdateDBPFilesetTables.py:64-118); SCD2 is the
lake-native generalization — one table that answers both "state now"
(``is_current``) and "state as of T" (``valid_from <= T < valid_to``).

Semantics (deterministic, batch-split invariant for a time-partitioned
tail):

* events are first deduplicated to ONE winner per (entity, ts) under
  the engine's total order (cdc/dedup.py cdc_order: delete beats
  write, then payload md5) — the same order the latest-state path
  uses, so the SCD2 current rows agree with the CDC table;
* each surviving write opens an interval at its ts; the next event of
  the same entity (write OR delete) closes it (``valid_to`` = next ts,
  exclusive); delete events close intervals but never appear as rows;
* an event older than the entity's open interval is LATE and is
  dropped — identical to the latest-state late guard. With a
  time-partitioned tail (batch boundaries = event-time boundaries,
  the binlog-tail norm) no event is ever late, and the incremental
  result equals the one-shot derivation over the full log
  (test_scd2.py asserts this equivalence).

Implementation: history maintenance IS CDC — each batch is rewritten
into upserts on a *versioned synthetic key* (``entity@epoch_micros``)
and applied through the standard ``merge_batch``. Exactly-once,
atomic commit, replay-skip, schema evolution, lineage and the
dead-letter path all come from the existing machinery instead of a
parallel implementation:

* a new version INSERTs its synthetic key (open: valid_to NULL);
* closing an interval is an UPDATE of that same synthetic key (its
  row version ``warc_ts`` advances to the closing event's ts, so the
  merge ladder's strictly-newer branch applies it);
* closed rows are immutable — no event can target their keys again.

Scale: the per-batch window partitions by entity (state = one batch's
events per entity, bounded); the merge shuffles by synthetic key,
which is strictly finer than entity, so hot entities spread across
versions. The per-batch state lookup has two modes: the default scans
the history's ``is_current`` slice (fine to ~10^8 rows), and
``SCD2Runner(frontier=...)`` is the structural 10^10 path — a
companion table keyed BY ENTITY (``frontier_schema()``: one row per
live entity) answers both the late guard and which open version to
close, and closing happens via a sparse PATCH event (NULL =
unchanged), so the apply path NEVER READS THE HISTORY TABLE: per
batch it costs one frontier scan (O(live entities)) plus the merge of
the batch's own rows, where plain mode scans the history
(O(all version rows)). Measured honestly
(BENCH/scd2_frontier_r4.json, scd2_frontier_deep_r4.json): at sandbox
scale the SECOND COMMIT's fixed cost dominates — frontier mode runs
0.58-0.77× plain, converging toward crossover as the
history/frontier ratio grows (3× -> 24× measured); enable it when the
ratio reaches the design point (10^10 version rows over 10^8
entities) and batches are large enough to amortize a commit. Create
the frontier ``merge_on_read=True`` (a copy-on-write frontier
rewrites O(frontier) per batch — measured worse). Pass
``txn=TxnCoordinator(...)`` to commit history+frontier atomically;
without it a crash between the two merges is repaired on resume
(apply_batch's catch-up branch, re-deriving the affected entities'
frontier rows from history).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbp_etl_spark.cdc.dedup import cdc_order, dedup_latest
from dbp_etl_spark.cdc.merge import MergeResult, merge_batch
from dbp_etl_spark.lake.schema import TableSchema
from dbp_etl_spark.lake.table import LakeTable

# columns the runner owns; everything else on the change events is payload
_META = ("url", "warc_ts", "op")

# mode='auto' upgrade point: history data size above which the frontier
# path's second commit pays for itself. NOT yet reached at any
# sandbox-feasible point — measured plain:frontier best-batch ratios
# rise toward 1 with history size but stay below it
# (BENCH/scd2_frontier_r4.json 0.63x @ ~0.1 GB, scd2_frontier_deep_r4
# 0.77x @ ~0.3 GB deep history, scd2_frontier_r5.json 0.83x @ 8.1 GB
# with 4 KB payloads; parquet column pruning keeps the plain lookup
# from paying for payload bytes, so the frontier's win accrues with
# history ROW count, not bytes). Extrapolating the measured trend puts
# the crossover near ~32 GB; the frontier's measured advantage today
# is variance (stable 35-36 s vs plain's 29-51 s swings at the 8 GB
# point) because its batch cost does not depend on history-scan
# weather. Scale deployments should pass their own measurement via
# frontier_auto_bytes.
FRONTIER_AUTO_BYTES = 32_000_000_000


def scd2_schema(payload: dict[str, str]) -> TableSchema:
    """History-table schema for a given payload column set
    (``{name: lake_type}``). The synthetic version key is ``url`` and
    the payload anchor is ``html`` — the engine-wide CDC conventions —
    so the standard merge path applies unchanged."""
    from dbp_etl_spark.lake.schema import ColumnSpec

    cols = [
        ("url", "string"),  # synthetic: entity@epoch_micros(valid_from)
        ("warc_ts", "timestamp"),  # row version ts (advances when closed)
        ("html", "binary"),
        ("text", "string"),  # derived per version by the merge transform
        ("lang", "string"),
        ("entity_url", "string"),
        ("valid_from", "timestamp"),
        ("valid_to", "timestamp"),
        ("is_current", "boolean"),
        *payload.items(),
    ]
    return TableSchema([ColumnSpec(i + 1, n, t) for i, (n, t) in enumerate(cols)])


def frontier_schema() -> TableSchema:
    """Schema for the OPTIONAL frontier companion table (see
    SCD2Runner(frontier=...)): one row per entity, keyed by the entity
    url, holding the entity's frontier ts (max row-version ts in its
    history), the open version's synthetic key (NULL when a delete
    closed the entity) and its valid_from. ``html`` is the engine-wide
    payload anchor and carries an empty placeholder."""
    from dbp_etl_spark.lake.schema import ColumnSpec

    cols = [
        ("url", "string"),  # the ENTITY key — bucket-prunable lookups
        ("warc_ts", "timestamp"),  # frontier ts
        ("html", "binary"),
        ("open_key", "string"),
        ("open_from", "timestamp"),
    ]
    return TableSchema([ColumnSpec(i + 1, n, t) for i, (n, t) in enumerate(cols)])


def _dedup_per_entity_ts(changes: DataFrame) -> DataFrame:
    """One winner per (entity, ts) under the engine total order.

    cdc_order's leading ts term is constant within the group, so the
    effective order is delete-beats-write then payload md5 — identical
    ties to the latest-state path."""
    return dedup_latest(changes, ["url", "warc_ts"], cdc_order())


def scd2_intervals(changes: DataFrame, payload_cols: list[str] | None = None) -> DataFrame:
    """One-shot SCD2 derivation over a FULL change log (the batch
    recompute the incremental runner must match; also the cheap path
    for a first backfill).

    Input: engine change events (url, warc_ts, html, op, extras).
    Output: entity_url, valid_from, valid_to, is_current, html, extras.
    """
    if payload_cols is None:
        payload_cols = [c for c in changes.columns if c not in _META]
    dd = _dedup_per_entity_ts(changes)
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").asc())
    out = (
        dd.withColumn("valid_to", F.lead("warc_ts").over(w))
        .filter(F.col("op") != "delete")
        .select(
            F.col("url").alias("entity_url"),
            F.col("warc_ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            F.col("html"),
            *[F.col(c) for c in payload_cols if c != "html"],
        )
    )
    return out


@dataclass
class SCD2Report:
    results: list[MergeResult] = field(default_factory=list)
    n_batches: int = 0
    n_skipped: int = 0
    n_late: int = 0  # populated only when count_late=True


class SCD2Runner:
    """Incrementally maintain an SCD2 history table from a change tail.

    ``hist`` must be a LakeTable with ``scd2_schema(...)`` columns
    (key='url' = the synthetic version key). Batches apply in batch-id
    order with the ledger's exactly-once replay skip, one atomic
    commit per batch.
    """

    def __init__(
        self,
        hist: LakeTable,
        salt_buckets: int = 16,
        count_late: bool = False,
        frontier: LakeTable | None = None,
        txn=None,
        mode: str | None = None,
        frontier_auto_bytes: int = FRONTIER_AUTO_BYTES,
    ):
        self.hist = hist
        self.salt_buckets = salt_buckets
        self.count_late = count_late
        # ``frontier``: the scale path for the per-batch state lookup.
        # Without it, finding each entity's open row / frontier scans
        # the history's is_current slice (O(history) per batch). With a
        # frontier table (frontier_schema(), keyed BY ENTITY) the
        # lookup becomes two bucket-pruned reads: frontier rows for the
        # batch's entities, then history rows for exactly the open
        # synthetic keys — O(batch-touched buckets), the same pruning
        # story as the latest-state merge. ``txn`` (a TxnCoordinator
        # over both tables) makes the two merges one atomic commit;
        # without it, a crash between them is repaired on resume by
        # re-deriving the affected entities' frontier rows from the
        # history (apply_batch's catch-up branch).
        self.frontier = frontier
        self.txn = txn
        # ``mode``: 'plain' | 'frontier' | 'auto' (None infers from
        # whether a frontier table was given, the pre-r5 API). 'auto'
        # starts plain and upgrades — STICKY, no flapping — once the
        # history's scan size (data_bytes()) crosses
        # ``frontier_auto_bytes``: below it the plain is_current scan
        # is cheaper than the frontier's second commit at every point
        # measured (BENCH/scd2_frontier_*), above it the scan the
        # frontier avoids dominates. On upgrade the frontier table is
        # bootstrapped from history if it wasn't maintained (idempotent
        # ledger id scd2f::bootstrap::hist<N>).
        if mode is None:
            mode = "frontier" if frontier is not None else "plain"
        if mode not in ("plain", "frontier", "auto"):
            raise ValueError("mode must be 'plain', 'frontier' or 'auto'")
        if mode in ("frontier", "auto") and frontier is None:
            raise ValueError(f"mode={mode!r} requires a frontier table")
        if mode == "plain" and frontier is not None:
            raise ValueError(
                "a frontier table with mode='plain' would silently go stale; "
                "use mode='auto' (or 'frontier')"
            )
        self.mode = mode
        self.frontier_auto_bytes = frontier_auto_bytes
        self._frontier_active = mode == "frontier"

    def _use_frontier(self) -> bool:
        """Whether THIS batch applies through the frontier path. In
        auto mode the upgrade is evaluated per batch until it fires
        (one metadata stat pass over the history manifest), then
        sticky — the bootstrap cost is paid once."""
        if self._frontier_active:
            return True
        if self.mode != "auto":
            return False
        if self.hist.data_bytes() >= self.frontier_auto_bytes:
            self._ensure_frontier_synced()
            self._frontier_active = True
            return True
        return False

    def _frontier_in_sync(self) -> bool:
        """True iff every row-changing history batch newer than the
        last bootstrap has its frontier companion commit. Ledger-only
        check (no data reads). Pruned-ledger edge: a missing entry
        reads as out-of-sync and triggers a (harmless, idempotent)
        re-bootstrap."""
        from dbp_etl_spark.lake.table import _STATE_PRESERVING_SUMMARY_KEYS

        fled = self.frontier.manifest["committed_batches"]
        boot = -1
        for k in fled:
            if k.startswith("scd2f::bootstrap::hist"):
                boot = max(boot, int(k.rsplit("hist", 1)[1]))
        for b, e in self.hist.manifest["committed_batches"].items():
            if e.get("snapshot_id", 0) <= boot:
                continue
            if _STATE_PRESERVING_SUMMARY_KEYS & set(e):
                continue  # compaction/layout commits never move the frontier
            if f"scd2f::{b}" not in fled:
                return False
        return True

    def _ensure_frontier_synced(self) -> None:
        self.frontier = self.frontier.refresh()
        if not self._frontier_in_sync():
            self.bootstrap_frontier()

    def bootstrap_frontier(self) -> None:
        """Derive the full frontier from history and merge it in — the
        adoption path for turning frontier mode on over an existing
        history (auto upgrade, or migrating a plain deployment).
        No-op when the frontier already reflects the history (ledger
        check), and exactly-once per history snapshot via the ledger
        id otherwise."""
        if self._frontier_in_sync():
            return
        bid = f"scd2f::bootstrap::hist{self.hist.snapshot_id}"
        if self.frontier.is_committed(bid):
            return
        rows = self._frontier_rows(
            self.hist.read().select(
                F.col("entity_url").alias("_ent"),
                F.col("url").alias("_vkey"),
                "warc_ts",
                "is_current",
                "valid_from",
            )
        )
        merge_batch(self.frontier, rows, bid, salt_buckets=self.salt_buckets)
        self.frontier = self.frontier.refresh()

    # ------------------------------------------------------------ plumbing

    def _payload_cols(self, changes: DataFrame, batch_col: str) -> list[str]:
        return [c for c in changes.columns if c not in _META and c != batch_col]

    def _entity_state(
        self, entities: DataFrame, payload_cols: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        """(open rows as pseudo-events, per-entity frontier) for the
        given entities.

        The frontier is max(warc_ts) over ALL of the entity's history
        rows — warc_ts is the row-version ts (valid_to once closed),
        so for an open entity the frontier is its open valid_from, and
        for a delete-closed entity it is the DELETE's ts. Deriving it
        from the open row alone would let an out-of-contract event
        older than a closing delete re-open an overlapping interval,
        where the latest-state table's tombstone guard suppresses the
        same event (test_late_event_after_delete_is_dropped)."""
        slice_ = self.hist.read().join(
            entities, F.col("entity_url") == entities["_e"], "left_semi"
        )
        frontier = slice_.groupBy("entity_url").agg(F.max("warc_ts").alias("_frontier"))
        opened = slice_.filter(F.col("is_current")).select(
            F.col("entity_url").alias("url"),
            F.col("valid_from").alias("warc_ts"),
            F.col("html"),
            F.lit("update").alias("op"),
            F.lit(True).alias("_existing"),
            *[F.col(c) for c in payload_cols if c != "html"],
        )
        return opened, frontier.select(
            F.col("entity_url").alias("_fe"), F.col("_frontier")
        )

    def _versioned_upserts_frontier(
        self, batch: DataFrame, payload_cols: list[str]
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Frontier-mode batch rewrite: NO history read at all.

        The frontier table answers everything the apply needs — the
        late guard (frontier ts) and which open version to close
        (open_key). Closing is a sparse PATCH event (cdc/merge.py
        patch_ops: NULL column = unchanged), so the open row's payload
        never has to be fetched: the patch sets only valid_to /
        is_current / warc_ts and leaves html/text/extras in place.
        Per batch the apply therefore costs one frontier scan (a table
        of one row per LIVE ENTITY — orders of magnitude smaller than
        the history it replaces scanning) plus the history merge of
        this batch's own rows.

        Returns (upserts, frontier_rows, late, live) — ``live`` is the
        persisted joined frame both merges read; the caller unpersists
        it after committing."""
        fresh = self._batch_events(batch, payload_cols).drop("_existing")
        entities = fresh.select(F.col("url").alias("_e")).distinct()
        fr_t = self.frontier
        cand = fr_t.buckets_of(entities, "_e")
        fr = fr_t.read(buckets=cand).join(
            entities, F.col("url") == entities["_e"], "left_semi"
        ).select(
            F.col("url").alias("_fe"),
            F.col("warc_ts").alias("_frontier"),
            "open_key",
            "open_from",
        )
        joined = fresh.join(fr, fresh["url"] == fr["_fe"], "left")
        late = joined.filter(
            F.col("_frontier").isNotNull() & (F.col("warc_ts") <= F.col("_frontier"))
        )
        live = joined.filter(
            F.col("_frontier").isNull() | (F.col("warc_ts") > F.col("_frontier"))
        ).persist()

        w = Window.partitionBy("url").orderBy(F.col("warc_ts").asc())
        nxt = F.lead("warc_ts").over(w)
        inserts = (
            live.withColumn("_valid_to", nxt)
            .filter(F.col("op") != "delete")
            .select(
                F.concat_ws(
                    "@", F.col("url"), F.unix_micros(F.col("warc_ts")).cast("string")
                ).alias("url"),
                F.coalesce(F.col("_valid_to"), F.col("warc_ts")).alias("warc_ts"),
                F.col("html"),
                F.lit("update").alias("op"),
                F.col("url").alias("entity_url"),
                F.col("warc_ts").alias("valid_from"),
                F.col("_valid_to").alias("valid_to"),
                F.col("_valid_to").isNull().alias("is_current"),
                *[F.col(c) for c in payload_cols if c != "html"],
            )
        )
        # close each touched open version with a sparse patch: NULL
        # payload/identity columns mean "unchanged", only the interval
        # end and the row-version ts move
        null_t = F.lit(None).cast("timestamp")
        patches = (
            live.filter(F.col("open_key").isNotNull())
            .groupBy(F.col("open_key").alias("url"))
            .agg(F.min("warc_ts").alias("_close_ts"))
            .select(
                "url",
                F.col("_close_ts").alias("warc_ts"),
                F.lit(None).cast("binary").alias("html"),
                F.lit("patch").alias("op"),
                F.lit(None).cast("string").alias("entity_url"),
                null_t.alias("valid_from"),
                F.col("_close_ts").alias("valid_to"),
                F.lit(False).alias("is_current"),
                *[
                    F.lit(None).cast(batch.schema[c].dataType).alias(c)
                    for c in payload_cols
                    if c != "html"
                ],
            )
        )
        upserts = inserts.unionByName(patches)

        # next frontier per touched entity: the last live event decides.
        # Entities that emitted nothing (a delete of a key with no open
        # version) leave no trace — exact parity with the plain mode,
        # whose frontier derives from history rows.
        emitted = (
            live.filter(F.col("op") != "delete")
            .select("url")
            .unionByName(live.filter(F.col("open_key").isNotNull()).select("url"))
            .distinct()
            .select(F.col("url").alias("_em"))
        )
        last_op = F.max_by("op", F.col("warc_ts"))
        frontier_rows = (
            live.join(emitted, live["url"] == emitted["_em"], "left_semi")
            .groupBy(F.col("url").alias("_ent"))
            .agg(F.max("warc_ts").alias("warc_ts"), last_op.alias("_last_op"))
            .select(
                F.col("_ent").alias("url"),
                "warc_ts",
                F.lit(b"").alias("html"),
                F.lit("update").alias("op"),
                F.when(
                    F.col("_last_op") != "delete",
                    F.concat_ws(
                        "@", F.col("_ent"), F.unix_micros(F.col("warc_ts")).cast("string")
                    ),
                ).alias("open_key"),
                F.when(F.col("_last_op") != "delete", F.col("warc_ts")).alias("open_from"),
            )
        )
        return upserts, frontier_rows, late, live

    @staticmethod
    def _frontier_rows(src: DataFrame) -> DataFrame:
        return src.groupBy(F.col("_ent").alias("url")).agg(
            F.max("warc_ts").alias("warc_ts"),
            F.max(F.when(F.col("is_current"), F.col("_vkey"))).alias("open_key"),
            F.max(F.when(F.col("is_current"), F.col("valid_from"))).alias("open_from"),
        ).select(
            "url",
            "warc_ts",
            F.lit(b"").alias("html"),
            F.lit("update").alias("op"),
            "open_key",
            "open_from",
        )

    def _repair_frontier(self, batch: DataFrame, fid) -> None:
        """Catch-up for the non-transactional crash window (history
        committed, frontier not): re-derive the batch entities'
        frontier rows from the history itself."""
        entities = batch.select(F.col("url").alias("_e")).distinct()
        slice_ = self.hist.read().join(
            entities, F.col("entity_url") == entities["_e"], "left_semi"
        )
        rows = self._frontier_rows(
            slice_.select(
                F.col("entity_url").alias("_ent"),
                F.col("url").alias("_vkey"),
                "warc_ts",
                "is_current",
                "valid_from",
            )
        )
        merge_batch(self.frontier, rows, fid, salt_buckets=self.salt_buckets)

    def _batch_events(self, batch: DataFrame, payload_cols: list[str]) -> DataFrame:
        dd = _dedup_per_entity_ts(batch)
        return dd.select(
            "url",
            "warc_ts",
            "html",
            "op",
            F.lit(False).alias("_existing"),
            *[F.col(c) for c in payload_cols if c != "html"],
        )

    def _versioned_upserts(
        self, batch: DataFrame, payload_cols: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        """Rewrite one batch into upserts on the synthetic version key.

        Returns (upserts, late) — ``late`` is lazily defined and only
        counted when count_late is on."""
        fresh = self._batch_events(batch, payload_cols)
        entities = fresh.select(F.col("url").alias("_e")).distinct()
        opened, frontier = self._entity_state(entities, payload_cols)

        # late guard: a batch event at or before the entity's frontier
        # can no longer change history (closed rows are immutable)
        joined = fresh.join(frontier, fresh["url"] == frontier["_fe"], "left")
        late = joined.filter(
            F.col("_frontier").isNotNull() & (F.col("warc_ts") <= F.col("_frontier"))
        )
        live = joined.filter(
            F.col("_frontier").isNull() | (F.col("warc_ts") > F.col("_frontier"))
        ).drop("_fe", "_frontier")

        # entities with no live fresh event need no rewrite at all
        touched = live.filter(~F.col("_existing")).select(F.col("url").alias("_t")).distinct()
        combined = live.unionByName(
            opened.join(touched, opened["url"] == touched["_t"], "left_semi")
        )

        w = Window.partitionBy("url").orderBy(F.col("warc_ts").asc())
        nxt = F.lead("warc_ts").over(w)
        upserts = (
            combined.withColumn("_valid_to", nxt)
            .filter(F.col("op") != "delete")
            # re-emitting an untouched open row would be a no-op merge
            # anyway; skip the write entirely
            .filter(~(F.col("_existing") & F.col("_valid_to").isNull()))
            .select(
                F.concat_ws(
                    "@", F.col("url"), F.unix_micros(F.col("warc_ts")).cast("string")
                ).alias("url"),
                # the row's version ts: advances to the closing ts when
                # the interval closes, so the merge ladder's
                # strictly-newer branch applies the close
                F.coalesce(F.col("_valid_to"), F.col("warc_ts")).alias("warc_ts"),
                F.col("html"),
                F.lit("update").alias("op"),
                F.col("url").alias("entity_url"),
                F.col("warc_ts").alias("valid_from"),
                F.col("_valid_to").alias("valid_to"),
                F.col("_valid_to").isNull().alias("is_current"),
                *[F.col(c) for c in payload_cols if c != "html"],
            )
        )
        return upserts, late

    # ------------------------------------------------------------- driving

    def apply_batch(self, batch: DataFrame, batch_id) -> MergeResult:
        fid = f"scd2f::{batch_id}"
        use_frontier = self._use_frontier()
        if self.hist.is_committed(batch_id):
            if use_frontier and not self.frontier.is_committed(fid):
                # non-txn crash window: history landed, frontier didn't
                self._repair_frontier(batch, fid)
                self.frontier = self.frontier.refresh()
            return MergeResult(batch_id=batch_id, skipped=True, snapshot_id=self.hist.snapshot_id)
        payload_cols = self._payload_cols(batch, batch_col="")
        if use_frontier:
            upserts, frontier_rows, late, live = self._versioned_upserts_frontier(
                batch, payload_cols
            )
            n_late = late.count() if self.count_late else 0
            try:
                if self.txn is not None:
                    with self.txn.transaction([self.hist, self.frontier]) as h:
                        res = merge_batch(
                            h.tables[0],
                            upserts,
                            batch_id,
                            salt_buckets=self.salt_buckets,
                            patch_ops=True,
                        )
                        merge_batch(
                            h.tables[1],
                            frontier_rows,
                            fid,
                            salt_buckets=self.salt_buckets,
                        )
                else:
                    res = merge_batch(
                        self.hist,
                        upserts,
                        batch_id,
                        salt_buckets=self.salt_buckets,
                        patch_ops=True,
                    )
                    merge_batch(
                        self.frontier,
                        frontier_rows,
                        fid,
                        salt_buckets=self.salt_buckets,
                    )
            finally:
                live.unpersist()
            self.hist = self.hist.refresh()
            self.frontier = self.frontier.refresh()
        else:
            upserts, late = self._versioned_upserts(batch, payload_cols)
            n_late = late.count() if self.count_late else 0
            res = merge_batch(
                self.hist, upserts, batch_id, salt_buckets=self.salt_buckets
            )
        res.counts["scd2_late_dropped"] = n_late
        return res

    def run(self, changes: DataFrame, batch_col: str = "batch_id") -> SCD2Report:
        """Apply every batch in batch-id order (the tail contract:
        batch boundaries are event-time boundaries)."""
        batch_ids = [r[0] for r in changes.select(batch_col).distinct().collect()]
        report = SCD2Report()
        for b in sorted(batch_ids):
            report.n_batches += 1
            batch = changes.filter(F.col(batch_col) == F.lit(b)).drop(batch_col)
            # apply_batch owns the committed-skip (and, in frontier
            # mode, the frontier catch-up for the non-txn crash window)
            res = self.apply_batch(batch, b)
            if res.skipped:
                report.n_skipped += 1
            report.n_late += res.counts.get("scd2_late_dropped", 0)
            report.results.append(res)
        return report
