"""Winnowing fingerprint selection (operators/dedup_ops.py, MOSS)."""

import pytest

# ----------------------------------------------------------- winnowing


def _py_winnow(text, k, w):
    """Reference mirror: leftmost-min per window of w k-gram hashes."""
    import hashlib

    def h60(g):
        return int(hashlib.md5(f"{g}|0".encode()).hexdigest()[:15], 16)

    grams = [(i + 1, h60(text[i : i + k])) for i in range(len(text) - k + 1)]
    out = set()
    for end in range(w - 1, len(grams)):
        window = grams[end - w + 1 : end + 1]
        best = min(window, key=lambda t: (t[1], t[0]))
        out.add((best[0], best[1]))
    return out


def _spark_winnow(spark, rows, k, w):
    from dbp_etl_spark.operators.dedup_ops import winnow_fingerprints

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = winnow_fingerprints(df, k=k, w=w, hash_fn="md5_60").collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["id"], set()).add((r["pos"], r["fp"]))
    return by_doc


def test_winnow_matches_python_mirror(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "abcabcabcabcabc",
        "aaaaaaaaaaaa",  # all-equal hashes: leftmost-tie discipline
        "short",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    got = _spark_winnow(spark, rows, k=4, w=3)
    for i, t in enumerate(texts):
        expect = _py_winnow(t, 4, 3)
        assert got.get(i, set()) == expect, f"doc {i}"


def test_winnow_shared_span_guarantee(spark):
    # any shared substring of length >= k + w - 1 shares a fingerprint
    k, w = 5, 4
    shared = "zqxjkvbwpy_common_zone_17"
    a = "left padding here " + shared + " tail alpha"
    b = "completely different prefix " + shared + " other end"
    got = _spark_winnow(spark, [(0, a), (1, b)], k, w)
    fps_a = {fp for _, fp in got[0]}
    fps_b = {fp for _, fp in got[1]}
    assert fps_a & fps_b


def test_winnow_short_and_empty_docs_no_rows(spark):
    got = _spark_winnow(spark, [(0, "abc"), (1, ""), (2, "abcdefgh")], k=4, w=6)
    # doc 2 has 5 grams < w=6 windows -> none either
    assert got == {}


def test_winnow_density(spark):
    import random

    rng = random.Random(7)
    text = "".join(rng.choice("abcdefghij ") for _ in range(2000))
    k, w = 8, 4
    got = _spark_winnow(spark, [(0, text)], k, w)
    n = len(text) - k + 1
    density = len(got[0]) / n
    assert 0.25 <= density <= 0.6  # expected ~2/(w+1) = 0.4


def test_winnow_arrow_lane_matches_jvm_lane(spark):
    """The r6 Arrow md5-60 fast path (mapInArrow + NumPy argmin) must
    select the bit-identical set the JVM array-expression lane selects
    — including unicode text, all-equal-hash tie runs, nulls and
    empty/short docs."""
    from pyspark.sql import functions as F

    from dbp_etl_spark.operators.dedup_ops import (
        winnow_fingerprint_arrays,
        winnow_fingerprints,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "aaaaaaaaaaaaaaaa"),
        (2, "héllo wörld — ünïcode çontent ß∂ƒ and more of it"),
        (3, None),
        (4, ""),
        (5, "tiny"),
        (6, "abcabcabcabcabcabcabc"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrow = {
        (r["id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(df, k=5, w=3, hash_fn="md5_60").collect()
    }
    jvm = {
        (r["id"], r["_sel"]["pos"], r["_sel"]["_h"])
        for r in winnow_fingerprint_arrays(df, k=5, w=3, hash_fn="md5_60")
        .select("id", F.explode("fps").alias("_sel"))
        .collect()
    }
    assert arrow == jvm


# ------------------------------------------------ content-defined chunks


def _py_cdc_chunks(text, k=8, bits=5):
    import hashlib

    def h60(g):
        return int(hashlib.md5(f"{g}|0".encode()).hexdigest()[:15], 16)

    m = 1 << bits
    cuts = [
        i
        for i in range(k, len(text) + 1)
        if h60(text[i - k : i]) % m == 0
    ]
    last = cuts[-1] if cuts else 0
    bounds = [0] + cuts + ([len(text)] if len(text) > last else [])
    out = []
    for a, b in zip(bounds, bounds[1:]):
        out.append((a + 1, b - a, hashlib.md5(text[a:b].encode()).hexdigest()))
    return out


def _spark_cdc_chunks(spark, rows, **kw):
    from dbp_etl_spark.operators.dedup_ops import content_defined_chunks

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = content_defined_chunks(df, hash_fn="md5_60", **kw).collect()
    by = {}
    for r in got:
        by.setdefault(r["id"], []).append((r["start"], r["length"], r["chunk_hash"]))
    return {k: sorted(v) for k, v in by.items()}


def test_cdc_chunks_match_python_mirror(spark):
    import random

    rng = random.Random(11)
    texts = [
        "".join(rng.choice("abcdefgh ") for _ in range(400)),
        "tiny",
        "",
        "x" * 7,   # one char short of a gram
        "y" * 200,  # degenerate constant text
    ]
    got = _spark_cdc_chunks(spark, list(enumerate(texts)))
    for i, t in enumerate(texts):
        expect = sorted(_py_cdc_chunks(t))
        assert got.get(i, []) == [e for e in expect], f"doc {i}"


def test_cdc_chunks_arrow_lane_matches_jvm_lane(spark):
    """The r6 Arrow md5-60 chunking fast path must emit the
    bit-identical rows the JVM explode lane emits — including null,
    empty, short, constant and unicode texts, and the with_text
    variant."""
    from dbp_etl_spark.operators.dedup_ops import content_defined_chunks

    rows = [
        (1, None),
        (2, ""),
        (3, "tiny"),
        (4, "x" * 40),
        (5, "héllo wörld ünïcode çontent " * 8),
        (6, "the quick brown fox jumps over the lazy dog " * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for with_text in (False, True):
        arrow = sorted(
            tuple(r)
            for r in content_defined_chunks(
                df, hash_fn="md5_60", with_text=with_text
            ).collect()
        )
        # JVM lane: same parameters through the xxhash64-branch
        # machinery but with the md5-60 hash forced via the private
        # explode path — reconstruct by calling the JVM builder
        # directly
        from dbp_etl_spark.operators import dedup_ops as ops

        jvm_df = ops._content_defined_chunks_jvm(
            df, "doc_id", "text", 8, 5, "md5_60", with_text
        )
        jvm = sorted(tuple(r) for r in jvm_df.collect())
        assert arrow == jvm, f"with_text={with_text}"


def test_cdc_chunks_tile_document_exactly(spark):
    import random

    rng = random.Random(3)
    text = "".join(rng.choice("qwertyuiop asdf") for _ in range(1500))
    chunks = _spark_cdc_chunks(spark, [(0, text)])[0]
    chunks.sort()
    pos = 1
    for start, length, _ in chunks:
        assert start == pos
        pos += length
    assert pos == len(text) + 1


def test_cdc_chunks_resync_after_head_edit(spark):
    import random

    rng = random.Random(5)
    body = "".join(rng.choice("abcdefghij klmno") for _ in range(2000))
    edited = "INSERTED PREFIX >> " + body
    got = _spark_cdc_chunks(spark, [(0, body), (1, edited)])
    h0 = {h for _, _, h in got[0]}
    h1 = {h for _, _, h in got[1]}
    # fixed-width blocks would share ~nothing; CDC must re-sync
    assert len(h0 & h1) / len(h0) > 0.8


def test_winnow_and_chunk_plan_shapes(spark):
    """Winnowing: explode + ONE per-doc window, no joins. Chunking
    (r6 shape): the expensive boundary-hash explode appears exactly
    ONCE, cut positions fold to one per-doc array aggregate, and the
    only join re-attaches the body; no window, no UDF anywhere."""
    from dbp_etl_spark.operators.dedup_ops import (
        content_defined_chunks,
        winnow_fingerprints,
    )

    df = spark.createDataFrame([(1, "abcdefghij")], "doc_id bigint, text string")
    wp = winnow_fingerprints(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in wp and "Python" not in wp
    # r6 shape: selection runs map-side in array expressions — no
    # window, no exchange at all
    assert wp.count("Window") == 0
    assert wp.count("Exchange") == 0

    cp = content_defined_chunks(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in cp and "CartesianProduct" not in cp
    assert cp.count("Window") == 0
    # the per-character boundary-hash lane is evaluated exactly once
    assert cp.count("Generate explode(CASE WHEN") == 1


# ------------------------------------------- Arrow lanes: id types


@pytest.mark.parametrize("lane", ["shingle_postings", "winnow", "chunks"])
@pytest.mark.parametrize("id_type,ids", [("int", [7, 8]), ("bigint", [None, None])])
def test_arrow_lanes_keep_declared_id_type(spark, lane, id_type, ids):
    """Each mapInArrow lane builds its id column with the declared id
    type: an int32 id column and a batch whose ids are all NULL must
    round-trip instead of failing on an inferred Arrow type."""
    from dbp_etl_spark.operators import dedup_ops as ops

    rows = [(i, "the quick brown fox jumps over the lazy dog " * 3) for i in ids]
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string").coalesce(1)
    out = {
        "shingle_postings": lambda: ops._distinct_shingle_postings(df, "doc_id", "text", 3),
        "winnow": lambda: ops.winnow_fingerprints(df, hash_fn="md5_60"),
        "chunks": lambda: ops.content_defined_chunks(df, hash_fn="md5_60"),
    }[lane]()
    id_field = out.columns[0]
    assert out.schema[id_field].dataType.simpleString() == id_type
    got = out.collect()
    assert got
    assert {r[id_field] for r in got} == set(ids)
