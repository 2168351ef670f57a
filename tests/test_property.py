"""Property-based tests (hypothesis).

1. Extraction contract invariants over arbitrary byte inputs.
2. CDC semantics: applying any event log as one batch vs. any split
   into ordered batches yields identical final state — the core
   replay/ordering theorem of the engine, fuzzed.

Spark round trips are expensive, so the CDC property batches many
hypothesis examples per Spark run via pre-drawn cases.
"""

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import CDCRunner
from dbp_etl_spark.functions.extract import detect_lang_py, extract_text_py
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.session import local_frame

# ---------------------------------------------------------------- pure python


@given(st.binary(max_size=500))
@settings(max_examples=300, deadline=None)
def test_extract_total_and_deterministic(b):
    """extract_text_py never raises, is deterministic, and its output
    satisfies the normalization contract for ANY bytes."""
    out1 = extract_text_py(b)
    out2 = extract_text_py(bytes(b))
    assert out1 == out2
    assert isinstance(out1, str)
    assert "\r" not in out1
    for line in out1.split("\n"):
        if out1:
            assert line == line.strip()
            assert "  " not in line  # spaces collapsed
    # lang id is total over extraction output
    lang = detect_lang_py(out1)
    assert lang is None or re.fullmatch(r"[a-z]{2,3}", lang)


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_extract_utf8_text_roundtrip_stable(s):
    """For valid UTF-8 input the result is NFC-stable: extracting the
    encoded extraction output changes nothing further (idempotence on
    the tag-free subset)."""
    once = extract_text_py(s.encode("utf-8"))
    if "<" in once or ">" in once or "&" in once:
        return  # output may still contain literal <>& which would re-strip
    twice = extract_text_py(once.encode("utf-8"))
    assert twice == once


# ------------------------------------------------------------------- CDC fuzz

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _mk_events():
    """Pre-draw randomized event logs (urls x ts x op), deterministic seed."""
    import random

    rnd = random.Random(1234)
    cases = []
    for case in range(6):
        n = rnd.randint(5, 40)
        events = []
        for i in range(n):
            url = f"u{rnd.randint(0, 7)}"
            ts = rnd.randint(1, 50)  # deliberately collision-prone
            op = rnd.choice(["insert", "update", "update", "delete"])
            payload = None if op == "delete" else f"<p>body {rnd.randint(0, 5)}</p>".encode()
            events.append((url, ts, payload, op))
        # random split into 1-4 ordered batches by position
        k = rnd.randint(1, 4)
        bounds = sorted(rnd.randint(0, n) for _ in range(k - 1))
        cases.append((events, bounds))
    return cases


def test_cdc_split_invariance_fuzzed(spark, tmp_path):
    """For randomized logs (including same-url same-ts collisions,
    deletes of absent keys, duplicate events): 1-batch apply == k-batch
    apply, and replay is a no-op. Events are ordered by position; a
    batch split assigns batch_id by position ranges."""
    for idx, (events, bounds) in enumerate(_mk_events()):
        rows = []
        for pos, (url, ts, payload, op) in enumerate(events):
            b = sum(1 for x in bounds if x <= pos)
            rows.append((url, ts, payload, op, b))
        df = local_frame(
            spark,
            rows, "url string, ts long, html binary, op string, batch_id long"
        ).select(
            "url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op", "batch_id"
        )
        one = df.withColumn("batch_id", F.lit(0))

        t1 = LakeTable.create(
            spark, str(tmp_path / f"one{idx}"), TableSchema.from_struct(PAGES), num_buckets=4
        )
        tk = LakeTable.create(
            spark, str(tmp_path / f"k{idx}"), TableSchema.from_struct(PAGES), num_buckets=4
        )
        tf = LakeTable.create(
            spark, str(tmp_path / f"f{idx}"), TableSchema.from_struct(PAGES), num_buckets=4
        )
        tm = LakeTable.create(
            spark,
            str(tmp_path / f"m{idx}"),
            TableSchema.from_struct(PAGES),
            num_buckets=4,
            merge_on_read=True,
            max_delta_commits=2,
        )
        CDCRunner(t1, salt_buckets=4).run(one)
        CDCRunner(tk, salt_buckets=0).run(df)  # also vary salting
        CDCRunner(tf, salt_buckets=4).run(df, fuse=2)  # fused pairs
        # merge-on-read with a delta-commit bound (auto-compaction) AND
        # fused group commits: delta write path + per-key resolution +
        # folding + list-batch-id ledgering must realize the same fold
        CDCRunner(tm, salt_buckets=4).run(df, fuse=2)
        assert t1.state_hash() == tk.state_hash(), f"case {idx}: split divergence"
        assert t1.state_hash() == tf.state_hash(), f"case {idx}: fused divergence"
        assert t1.state_hash() == tm.state_hash(), f"case {idx}: MOR divergence"
        # replay both -> unchanged
        h = tk.state_hash()
        CDCRunner(tk).run(df)
        assert tk.state_hash() == h, f"case {idx}: replay not idempotent"


def test_retention_invariance_fuzzed(spark, tmp_path):
    """Retention is invisible to semantics, fuzzed: for randomized logs,
    a run with aggressive inline expiry (expire_every=1, keep_last=1)
    produces the same final state as a plain run, and replaying the
    full log against the expired table (all ledger entries now behind
    the watermark) is still a complete no-op."""
    for idx, (events, bounds) in enumerate(_mk_events()[:4]):
        rows = []
        for pos, (url, ts, payload, op) in enumerate(events):
            b = sum(1 for x in bounds if x <= pos)
            rows.append((url, ts, payload, op, b))
        df = local_frame(
            spark,
            rows, "url string, ts long, html binary, op string, batch_id long"
        ).select(
            "url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op", "batch_id"
        )
        tp = LakeTable.create(
            spark, str(tmp_path / f"p{idx}"), TableSchema.from_struct(PAGES), num_buckets=4
        )
        te = LakeTable.create(
            spark, str(tmp_path / f"e{idx}"), TableSchema.from_struct(PAGES), num_buckets=4
        )
        tme = LakeTable.create(
            spark,
            str(tmp_path / f"me{idx}"),
            TableSchema.from_struct(PAGES),
            num_buckets=4,
            merge_on_read=True,
        )
        CDCRunner(tp, salt_buckets=4).run(df)
        CDCRunner(te, salt_buckets=4, expire_every=1, expire_keep_last=1).run(df)
        # merge-on-read under the same aggressive expiry: delta files of
        # RETAINED manifests must survive the per-commit file GC
        CDCRunner(tme, salt_buckets=4, expire_every=1, expire_keep_last=1).run(df)
        te = te.refresh()
        assert tp.state_hash() == te.state_hash(), f"case {idx}: expiry changed state"
        assert tp.state_hash() == tme.refresh().state_hash(), (
            f"case {idx}: expiry broke merge-on-read state"
        )
        h = te.state_hash()
        rep = CDCRunner(te).run(df)
        assert rep.n_skipped == rep.n_batches, f"case {idx}: pruned replay re-applied"
        assert te.refresh().state_hash() == h, f"case {idx}: replay mutated state"


def test_rollback_replay_invariance_fuzzed(spark, tmp_path):
    """Rollback theorem, fuzzed: for randomized logs, rolling back to
    ANY intermediate snapshot and replaying the full log converges to
    the never-rolled-back state — the reverted ledger re-applies
    exactly the undone batches (earlier ones still no-op)."""
    import random

    rnd = random.Random(77)
    for idx, (events, bounds) in enumerate(_mk_events()[:4]):
        rows = []
        for pos, (url, ts, payload, op) in enumerate(events):
            b = sum(1 for x in bounds if x <= pos)
            rows.append((url, ts, payload, op, b))
        df = local_frame(
            spark,
            rows, "url string, ts long, html binary, op string, batch_id long"
        ).select(
            "url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op", "batch_id"
        )
        n_batches = len(bounds) + 1
        j = rnd.randint(0, n_batches - 1)

        ref = LakeTable.create(
            spark, str(tmp_path / f"ref{idx}"), TableSchema.from_struct(PAGES), num_buckets=4
        )
        CDCRunner(ref, salt_buckets=4).run(df)
        want = ref.refresh().state_hash()

        t = LakeTable.create(
            spark, str(tmp_path / f"rb{idx}"), TableSchema.from_struct(PAGES), num_buckets=4
        )
        CDCRunner(t, salt_buckets=4).run(df.filter(F.col("batch_id") <= j))
        t = t.refresh()
        good = t.snapshot_id
        if j < n_batches - 1:
            CDCRunner(t, salt_buckets=4).run(df.filter(F.col("batch_id") > j))
            t = t.refresh()
        t = t.rollback_to(good)
        rep = CDCRunner(t, salt_buckets=4).run(df)
        assert rep.n_skipped == j + 1, f"case {idx}: pre-rollback batches must no-op"
        assert t.refresh().state_hash() == want, f"case {idx}: rollback+replay diverged"


def test_scd2_split_invariance_fuzzed(spark, tmp_path):
    """For randomized logs (same-url same-ts collisions, deletes,
    re-inserts): incremental SCD2 over k TIME-ORDERED batches equals
    the one-shot derivation AND the single-batch apply; replay no-ops.
    Batches split by event-time thresholds (the tail contract)."""
    import random

    from dbp_etl_spark.cdc.scd import SCD2Runner, scd2_intervals, scd2_schema

    rnd = random.Random(4321)
    for idx in range(4):
        n = rnd.randint(8, 40)
        events = []
        for _ in range(n):
            url = f"u{rnd.randint(0, 5)}"
            ts = rnd.randint(1, 30)  # collision-prone
            op = rnd.choice(["update", "update", "update", "delete"])
            payload = None if op == "delete" else f"<p>v{rnd.randint(0, 4)}</p>".encode()
            events.append((url, ts, payload, op))
        k = rnd.randint(2, 4)
        cuts = sorted(rnd.sample(range(2, 30), k - 1))

        def batch_of(ts):
            return sum(1 for c in cuts if ts >= c)

        df = local_frame(
            spark,
            [(u, t_, p, o, batch_of(t_)) for (u, t_, p, o) in events],
            "url string, ts long, html binary, op string, batch_id long",
        ).select(
            "url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op", "batch_id"
        )
        one = df.withColumn("batch_id", F.lit(0))

        def hist_hash(t):
            rows = t.read().select(
                "entity_url", "valid_from", "valid_to", "is_current", "html"
            ).collect()
            return sorted(
                (r["entity_url"], str(r["valid_from"]), str(r["valid_to"]),
                 r["is_current"], bytes(r["html"]) if r["html"] else None)
                for r in rows
            )

        tk = LakeTable.create(
            spark, str(tmp_path / f"scd_k{idx}"), scd2_schema({}), num_buckets=4
        )
        t1 = LakeTable.create(
            spark, str(tmp_path / f"scd_1{idx}"), scd2_schema({}), num_buckets=4
        )
        SCD2Runner(tk, salt_buckets=4).run(df)
        SCD2Runner(t1, salt_buckets=0).run(one)
        assert hist_hash(tk) == hist_hash(t1), f"case {idx}: split divergence"

        oneshot = sorted(
            (r["entity_url"], str(r["valid_from"]), str(r["valid_to"]),
             r["is_current"], bytes(r["html"]) if r["html"] else None)
            for r in scd2_intervals(df.drop("batch_id")).select(
                "entity_url", "valid_from", "valid_to", "is_current", "html"
            ).collect()
        )
        assert hist_hash(tk) == oneshot, f"case {idx}: oneshot divergence"

        h = hist_hash(tk)
        SCD2Runner(tk).run(df)
        assert hist_hash(tk) == h, f"case {idx}: replay not idempotent"
