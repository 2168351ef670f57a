"""Segment-level (CCNet line) dedup and SemDeDup semantic pruning."""

from pyspark.sql import functions as F

from dbp_etl_spark.operators.dedup_ops import segment_dedup, segment_windows
from dbp_etl_spark.operators.similarity import semdedup_prune


def test_segment_dedup_keep_first_across_and_within_docs(spark):
    rows = [
        (1, ["nav menu", "alpha body", "nav menu"]),
        (2, ["nav menu", "beta body"]),
        (3, ["gamma body", "nav menu"]),
    ]
    df = spark.createDataFrame(rows, "doc_id int, segments array<string>")
    out = {r["doc_id"]: r for r in segment_dedup(df).collect()}
    # first occurrence (doc 1, pos 0) survives; every later copy drops,
    # including the in-document repeat at (1, 2)
    assert out[1]["clean_text"] == "nav menu alpha body"
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (3, 2)
    assert out[2]["clean_text"] == "beta body"
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (2, 1)
    assert out[3]["clean_text"] == "gamma body"


def test_segment_dedup_fully_deduped_doc(spark):
    df = spark.createDataFrame(
        [(1, ["x y"]), (2, ["x y"])], "doc_id int, segments array<string>"
    )
    out = {r["doc_id"]: r for r in segment_dedup(df).collect()}
    assert out[1]["n_kept"] == 1
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] is None


def test_segment_dedup_null_segment_is_never_kept(spark):
    """A NULL array element has no content: it is dropped before the
    first-occurrence election, so it never counts as a kept segment."""
    df = spark.createDataFrame(
        [(1, ["a b", None, "c d"]), (2, [None])], "doc_id int, segments array<string>"
    )
    out = {r["doc_id"]: r for r in segment_dedup(df).collect()}
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (3, 2)
    assert out[1]["clean_text"] == "a b c d"
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (1, 0)
    assert out[2]["clean_text"] is None


def test_segment_windows_grouping_and_null(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, None)], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", segment_windows(F.col("text"), 2).alias("s")
        ).collect()
    }
    assert out[1] == ["a b", "c d", "e"]
    assert out[2] == []


def _py_semdedup(vecs, n_cells, eps):
    """Exact python mirror of the deterministic rule (init centroids =
    lowest-id vectors, no Lloyd; L2 cell assignment with lowest-id
    tie-break; drop b if a<b in same cell and round(cos,4) >= eps)."""
    cents = vecs[:n_cells]

    def cell(v):
        d = [
            (sum((x - c) * (x - c) for x, c in zip(v, cv)), i)
            for i, cv in enumerate(cents)
        ]
        return min(d)[1]

    cells = [cell(v) for v in vecs]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(dot / (na * nb), 4)

    keep = []
    for j, v in enumerate(vecs):
        dup = any(
            cells[i] == cells[j] and cos(vecs[i], v) >= eps for i in range(j)
        )
        keep.append(not dup)
    return cells, keep


def test_semdedup_matches_python_mirror(spark):
    # deterministic 4-dim corpus with planted near-dups and spread cells
    vecs = []
    for i in range(14):
        base = [1.0 + (i % 3), float(i % 5), 0.5 * (i % 2), 1.0]
        if i >= 10:  # planted near-duplicates of earlier rows
            base = [x + 0.001 * (i - 9) for x in vecs[i - 10]]
        vecs.append(base)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semdedup_prune(df, dim=4, n_cells=3, eps=0.97).collect()
    }
    cells, keep = _py_semdedup(vecs, n_cells=3, eps=0.97)
    assert got == {i: (cells[i], keep[i]) for i in range(len(vecs))}
    assert not all(keep)  # the planted dups actually dropped something


def test_semdedup_identical_pair_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.001])],
        "vec_id int, embedding array<double>",
    )
    got = {r["vec_id"]: r["keep"] for r in semdedup_prune(df, dim=2, n_cells=2).collect()}
    assert got == {0: True, 1: True, 2: False}


def test_dup_span_mask_masks_copied_passage(spark):
    from dbp_etl_spark.operators.dedup_ops import dup_span_mask

    passage = "one two three four five six seven eight"  # 8 tokens
    rows = [
        (1, f"alpha {passage} beta"),
        (2, f"gamma delta {passage}"),   # copied passage -> masked
        (3, "unrelated text with no duplicated span at all here"),
        (4, passage),                    # the whole doc is the passage
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dup_span_mask(df, k=8).collect()}
    assert out[1]["n_masked"] == 0  # first occurrence keeps its text
    assert out[2]["n_masked"] == 8 and out[2]["clean_text"] == "gamma delta"
    assert out[3]["n_masked"] == 0
    assert out[4]["n_masked"] == 8 and out[4]["clean_text"] == ""


def test_dup_span_mask_short_docs_never_masked(spark):
    from dbp_etl_spark.operators.dedup_ops import dup_span_mask

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in dup_span_mask(df, k=8).collect()}
    assert out[1]["n_masked"] == 0 and out[2]["n_masked"] == 0
    assert out[2]["clean_text"] == "a b c"


def test_dup_span_mask_overlapping_windows_merge(spark):
    from dbp_etl_spark.operators.dedup_ops import dup_span_mask

    # 10-token repeated run -> dup windows at starts 0..2 of doc 2
    run = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    df = spark.createDataFrame(
        [(1, run + " tailone"), (2, run + " tailtwo")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_mask(df, k=8).collect()}
    # all 10 run tokens covered by the union of overlapping windows
    assert out[2]["n_masked"] == 10
    assert out[2]["clean_text"] == "tailtwo"


def test_semdedup_with_trained_centroids(spark):
    """The Lloyd-trained quantizer path must work through semdedup and
    still keep exactly one representative per planted dup pair."""
    vecs = [[float(i % 4), float((i * 3) % 5), 1.0] for i in range(10)]
    vecs += [[x + 0.0005 for x in vecs[i]] for i in range(3)]  # dups of 0..2
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )
    out = semdedup_prune(df, dim=3, n_cells=3, eps=0.999, train_iterations=2)
    got = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert all(got[i] for i in range(10))         # originals kept
    assert not any(got[10 + i] for i in range(3))  # planted dups dropped


def _py_segment_dedup(rows):
    """Python mirror of the corpus-wide keep-first election."""
    first = {}
    for doc, segs in rows:
        for pos, s in enumerate(segs):
            if s not in first:
                first[s] = (doc, pos)
    out = {}
    for doc, segs in rows:
        kept = [s for pos, s in enumerate(segs) if first[s] == (doc, pos)]
        out[doc] = (len(segs), len(kept), " ".join(kept) if kept else None)
    return out


def test_segment_dedup_fuzz_matches_python_mirror(spark):
    import random

    rnd = random.Random(4321)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for doc in range(60):
        n = rnd.randint(0, 6)
        segs = [
            " ".join(rnd.choices(vocab, k=rnd.randint(1, 3))) for _ in range(n)
        ]
        if n:
            rows.append((doc, segs))
    df = spark.createDataFrame(rows, "doc_id int, segments array<string>")
    got = {
        r["doc_id"]: (r["n_segs"], r["n_kept"], r["clean_text"])
        for r in segment_dedup(df).collect()
    }
    assert got == _py_segment_dedup(rows)


def test_dup_span_mask_fuzz_matches_python_mirror(spark):
    import random

    from dbp_etl_spark.operators.dedup_ops import dup_span_mask

    rnd = random.Random(99)
    vocab = [f"t{i}" for i in range(8)]
    k = 4
    rows = []
    for doc in range(50):
        toks = rnd.choices(vocab, k=rnd.randint(1, 24))
        rows.append((doc, " ".join(toks)))

    # python mirror
    first = {}
    for doc, text in rows:
        t = text.split(" ")
        for i in range(len(t) - k + 1):
            w = tuple(t[i : i + k])
            if w not in first:
                first[w] = (doc, i)
    expect = {}
    for doc, text in rows:
        t = text.split(" ")
        starts = [
            i
            for i in range(len(t) - k + 1)
            if first[tuple(t[i : i + k])] != (doc, i)
        ]
        masked = {p for s in starts for p in range(s, s + k)}
        kept = [tok for p, tok in enumerate(t) if p not in masked]
        expect[doc] = (len(t), len(masked), " ".join(kept))

    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["n_masked"], r["clean_text"])
        for r in dup_span_mask(df, k=k).collect()
    }
    assert got == expect
