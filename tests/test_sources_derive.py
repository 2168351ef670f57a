"""Sources (CSV/JSON/binaryFile), derived variants, url normalization,
compaction, drift guard, dead-letter allowlist."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbp_etl_spark.cdc import CDCRunner, DriftError, generate_changes
from dbp_etl_spark.lake import LakeTable, TableSchema
from dbp_etl_spark.operators import derive_variants, normalize_url
from dbp_etl_spark.sources import (
    read_binary_files,
    read_change_csv,
    read_change_json,
    write_change_csv,
)

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def test_change_csv_roundtrip(spark, tmp_path):
    events = generate_changes(spark, 500, 50, n_batches=2, seed=3)
    p = str(tmp_path / "csv")
    write_change_csv(events, p)
    back = read_change_csv(spark, p)
    assert back.columns == ["url", "warc_ts", "html", "op", "batch_id"]
    assert back.count() == 500
    # binary payload survives the base64 round trip byte-for-byte
    h = lambda df: df.agg(  # noqa: E731
        F.sum(F.xxhash64("url", F.md5("html"), "op").cast("decimal(38,0)"))
    ).collect()[0][0]
    assert h(back) == h(events)


def test_change_json_roundtrip(spark, tmp_path):
    events = generate_changes(spark, 200, 30, n_batches=1, seed=4)
    p = str(tmp_path / "json")
    events.select(
        "url", "warc_ts", F.base64("html").alias("html_b64"), "op", "batch_id"
    ).write.json(p)
    back = read_change_json(spark, p)
    assert back.count() == 200
    assert back.filter(F.col("html").isNotNull()).count() == events.filter(
        F.col("html").isNotNull()
    ).count()


def test_binary_file_source(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "a.html").write_bytes(b"<p>alpha</p>")
    (d / "b.html").write_bytes(b"<p>beta</p>")
    (d / "skip.txt").write_bytes(b"nope")
    df = read_binary_files(spark, str(d), glob="*.html")
    rows = {os.path.basename(r["url"]): bytes(r["html"]) for r in df.collect()}
    assert rows == {"a.html": b"<p>alpha</p>", "b.html": b"<p>beta</p>"}
    assert df.columns == ["url", "warc_ts", "html", "op", "n_bytes"]


def test_derive_variants(spark):
    df = spark.createDataFrame([("u1",), ("u2",)], "url string")
    out = derive_variants(df)
    assert out.count() == 6  # 2 rows x 3 variants
    got = {(r["url"], r["resolution"]): r["variant_url"] for r in out.collect()}
    assert got[("u1", 360)] == "u1#av360"
    assert got[("u2", 720)] == "u2#av720"


def test_normalize_url(spark):
    cases = [
        ("HTTPS://WWW.Example.COM/Path/", "https://example.com/Path"),
        ("http://example.com/a#frag", "http://example.com/a"),
        ("https://example.com", "https://example.com"),
        ("https://www.Example.com/X", "https://example.com/X"),
    ]
    df = spark.createDataFrame([(a,) for a, _ in cases], "u string")
    out = [r["n"] for r in df.select(normalize_url(F.col("u")).alias("n")).collect()]
    assert out == [b for _, b in cases]


def test_compact_reduces_files_preserves_state(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "c"), TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    runner = CDCRunner(t)
    runner.run(generate_changes(spark, 1000, 80, n_batches=3, seed=5))
    # a merge rewrites each dirty bucket as one file; a bulk append adds
    # files beside them, which is the fragmentation compaction folds
    t.append(
        spark.createDataFrame(
            [(f"https://bulk/{i}", datetime(2020, 1, 1), b"<p>b</p>", "b", "en") for i in range(40)],
            PAGES,
        ),
        "bulk-1",
    )
    h_before = t.state_hash()
    files_before = len(t.manifest["files"])
    t.compact(batch_id="compact-1")
    assert t.state_hash() == h_before
    assert len(t.manifest["files"]) < files_before
    # one file per bucket after compaction
    per_bucket = {}
    for f in t.manifest["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    # idempotent by ledger
    snap = t.snapshot_id
    t.compact(batch_id="compact-1")
    assert t.snapshot_id == snap


def test_drift_guard(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "d"), TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    big = generate_changes(spark, 1000, 80, n_batches=1, seed=6).withColumn(
        "batch_id", F.lit(0)
    )
    tiny = generate_changes(spark, 20, 10, n_batches=1, seed=7).withColumn(
        "batch_id", F.lit(1)
    )
    events = big.unionByName(tiny)
    runner = CDCRunner(t, drift_floor_pct=50)
    with pytest.raises(DriftError, match="refusing to apply"):
        runner.run(events)
    # batch 0 committed before the abort; resume applies nothing twice
    assert t.is_committed(0) and not t.is_committed(1)
    CDCRunner(t, drift_floor_pct=None).run(events)
    assert t.is_committed(1)


def test_deadletter_allowlist(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "a"), TableSchema.from_struct(PAGES), key="url", num_buckets=4
    )
    rows = [
        ("u-ok", 100, b"<p>x</p>", "insert", 0),
        ("u-allowed", 100, None, "insert", 0),  # null payload -> dead letter
        ("u-bad", 100, None, "insert", 0),  # same, not allow-listed
    ]
    events = spark.createDataFrame(
        rows, "url string, ts long, html binary, op string, batch_id long"
    ).select("url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "op", "batch_id")
    allow = spark.createDataFrame([("u-allowed",)], "url string")
    runner = CDCRunner(t, errors_path=str(tmp_path / "errs"), allow_urls=allow)
    runner.run(events)
    errs = {r["url"]: r["level"] for r in runner.errors().collect()}
    assert errs == {"u-allowed": "WARN", "u-bad": "EROR"}


def test_read_xml_dim_file(spark, tmp_path):
    """S4: XML dimension file -> typed DataFrame via the native XML
    source, entities unescaped, explicit schema (no inference)."""
    from dbp_etl_spark.sources.readers import read_xml_dim

    (tmp_path / "dim.xml").write_text(
        "<records>"
        "<record><key>1</key><name>alpha &amp; beta</name><region>0</region><note>n1</note></record>"
        "<record><key>2</key><name>gamma</name><region>1</region><note>n2</note></record>"
        "</records>"
    )
    df = read_xml_dim(spark, str(tmp_path))
    rows = {r["key"]: r for r in df.collect()}
    assert rows[1]["name"] == "alpha & beta"
    assert rows[2]["region"] == 1
    assert df.schema["key"].dataType.simpleString() == "bigint"


def test_xml_and_json_dim_readers_agree(spark, tmp_path):
    """Differential reader test (reference analog: stage-B XML vs
    stage-C DB readers compared field by field,
    /root/reference/load/TestLanguageReaderStage.py:7-40): the same
    dimension serialized as XML and as JSON lines must load
    identically through the two readers."""
    import json as _json

    from pyspark.sql import types as T

    from dbp_etl_spark.sources.readers import read_xml_dim

    records = [
        {"key": 1, "name": "alpha & beta", "region": 0, "note": "n1"},
        {"key": 2, "name": "gamma", "region": 1, "note": None},
        {"key": 3, "name": "delta <tag>", "region": 0, "note": "n3"},
    ]

    def esc(v):
        return (
            str(v).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    xml_parts = ["<records>"]
    for r in records:
        fields = "".join(
            f"<{k}>{esc(v)}</{k}>" for k, v in r.items() if v is not None
        )
        xml_parts.append(f"<record>{fields}</record>")
    xml_parts.append("</records>")
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    (xml_dir / "dim.xml").write_text("".join(xml_parts))

    json_dir = tmp_path / "jsonl"
    json_dir.mkdir()
    (json_dir / "dim.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in records)
    )

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("region", T.LongType()),
            T.StructField("note", T.StringType()),
        ]
    )
    from_xml = read_xml_dim(spark, str(xml_dir), schema=schema)
    from_json = spark.read.schema(schema).json(str(json_dir))
    rows_xml = sorted(map(tuple, from_xml.collect()))
    rows_json = sorted(map(tuple, from_json.collect()))
    assert rows_xml == rows_json
    assert rows_xml[0][1] == "alpha & beta" and rows_xml[2][1] == "delta <tag>"
