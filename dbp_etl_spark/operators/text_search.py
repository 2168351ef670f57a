"""Inverted-index full-text search: posting lists + AND / phrase query.

The engine's analog of the reference's FULLTEXT index on verse_text
(/root/reference/database/dbp.sql:759-764) — the one text-retrieval
capability of the reference the operator inventory did not yet cover,
and the exact primitive for substring-level contamination checks.

Physical shape (the 100 TB story): the index IS a DataFrame keyed by
token — build is one posexplode + one groupBy(token, doc) (map-side
combined); persisted bucketed/partitioned by token it serves point
lookups with partition pruning. Queries filter to the query's tokens
FIRST (predicate pushdown to the parquet scan of the index), broadcast
the tiny term list, and shuffle only by doc id for the existential
group — never by corpus text. No all-pairs anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbp_etl_spark.functions.embed import tokenize
from dbp_etl_spark.session import local_frame


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional posting rows ``(token, doc, positions, tf)``.

    The flat token-keyed form (one row per (token, doc)) is the
    scale-friendly layout: writes partition by token, hot tokens spread
    over their doc rows instead of one giant list, and every query
    below starts with an equi-filter on token.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "token"),
    )
    return toks.groupBy("token", "doc").agg(
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.count(F.lit(1)).cast("long").alias("tf"),
    )


def posting_lists(postings: DataFrame) -> DataFrame:
    """Classic token -> sorted postings-list rollup (storage/export
    form): ``(token, df, postings: array<struct<doc, positions>>)``."""
    return postings.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.array_sort(F.collect_list(F.struct("doc", "positions"))).alias("postings"),
    )


def search_and(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Docs containing ALL ``terms`` (boolean AND): ``(doc, total_tf)``.

    One token-filtered scan, one doc-keyed group. The filter is a
    pushed-down IN over the index's key column.
    """
    uniq = sorted(set(terms))
    hit = postings.filter(F.col("token").isin(uniq))
    return (
        hit.groupBy("doc")
        .agg(
            F.count_distinct("token").alias("_nt"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .filter(F.col("_nt") == len(uniq))
        .drop("_nt")
    )


def doc_lengths(postings: DataFrame) -> DataFrame:
    """Per-doc token count ``(doc, dl)`` derived from the postings —
    the side table ranked retrieval needs. One doc-keyed groupBy; at
    scale it is persisted next to the index and maintained with it."""
    return postings.groupBy("doc").agg(F.sum("tf").cast("long").alias("dl"))


def search_ranked(
    postings: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """BM25-ranked retrieval (OR semantics): top-``k`` docs for
    ``terms`` as ``(doc, score, rk)``, score rounded to 4 decimals.

    The relevance-ranked counterpart of the reference's FULLTEXT
    MATCH...AGAINST (/root/reference/database/dbp.sql:759-764),
    re-expressed over the posting index: idf uses the standard
    non-negative variant ln((N - df + 0.5)/(df + 0.5) + 1) and tf is
    saturated with length normalization tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)).

    Plan shape (100 TB lens): the postings scan is filtered by an IN
    over the index key — pushed to the parquet scan, so only the query
    terms' posting rows are read. Per-term df is a vocabulary-bounded
    agg over those rows and broadcast-joins back; N and avgdl are two
    scalars off the doc-length table. The only doc-keyed shuffle joins
    the (tiny, term-filtered) hit set to doclens — AQE broadcasts the
    hit side. Global top-k is a TakeOrdered, never a full sort.
    """
    uniq = sorted(set(terms))
    if doclens is None:
        doclens = postings.groupBy("doc").agg(F.sum("tf").cast("long").alias("dl"))
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n, avgdl = stats["n"], stats["avgdl"]

    hit = postings.filter(F.col("token").isin(uniq)).select("token", "doc", "tf")
    df_ = hit.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log((F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        hit.join(F.broadcast(df_), "token")
        .join(doclens, "doc")
        .groupBy("doc")
        .agg(F.round(F.sum(idf * tf_norm), 4).alias("score"))
    )
    # TakeOrdered cuts to k rows distributed-side; the single-partition
    # rank window then only ever sees k rows, not the corpus.
    topk = scored.orderBy(F.col("score").desc(), F.col("doc")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc"))
    return topk.withColumn("rk", F.row_number().over(w)).select("doc", "score", "rk")


def search_phrase(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """Docs containing the exact token sequence ``phrase``:
    ``(doc, n_matches)`` with the number of occurrences.

    Method: each term occurrence at position p under phrase offset i
    votes for start p-i; a start with ALL n offsets present is a match.
    Repeated tokens in the phrase are handled by joining a tiny
    (offset, token) frame (broadcast), so one occurrence can vote for
    several offsets — count DISTINCT offsets per start.
    """
    spark = postings.sparkSession
    n = len(phrase)
    terms = local_frame(spark, [(i, t) for i, t in enumerate(phrase)], "offset int, token string")
    occ = (
        postings.filter(F.col("token").isin(sorted(set(phrase))))
        .select("token", "doc", F.explode("positions").alias("pos"))
        .join(F.broadcast(terms), "token")
        .select("doc", (F.col("pos") - F.col("offset")).alias("start"), "offset")
    )
    starts = (
        occ.groupBy("doc", "start")
        .agg(F.count_distinct("offset").alias("_no"))
        .filter((F.col("_no") == n) & (F.col("start") >= 0))
    )
    return starts.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n_matches"))


def _deletion_variants(col):
    """Array of the term's single-character-deletion strings (JVM
    expression; empty for 1-char terms yields [''])."""
    return F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            F.substring(col, F.lit(1), i - 1),
            F.substring(col, i + 1, F.length(col)),
        ),
    )


def fuzzy_expand_terms(
    postings: DataFrame, terms: list[str], max_edits: int = 1
) -> DataFrame:
    """(query_term, token) — vocabulary terms within levenshtein
    ``max_edits`` (only 1 supported) of each query term, found
    SymSpell-style: a token is a candidate iff its deletion
    neighborhood (itself + single-char deletions) intersects the query
    term's, then the exact distance filter removes the distance-2
    leakage the neighborhood join admits (e.g. transpositions).

    Scale shape: the candidate pass is vocabulary-bounded — one
    distinct over the index key, one explode of ~word-length variants
    per vocab term, and an IN filter against the (tiny, driver-built)
    query neighborhood that pushes down to the scan. The corpus/
    postings themselves are never touched until the caller joins the
    matched terms back.
    """
    if max_edits != 1:
        raise ValueError("only max_edits=1 is supported")
    qn: list[tuple[str, str]] = []
    for t in sorted(set(terms)):
        qn.append((t, t))
        for i in range(len(t)):
            qn.append((t, t[:i] + t[i + 1 :]))
    spark = postings.sparkSession
    qdf = local_frame(spark, qn, "qt string, variant string").distinct()
    vocab = postings.select("token").distinct()
    cand = (
        vocab.select(
            "token",
            F.explode(
                F.array_union(F.array(F.col("token")), _deletion_variants(F.col("token")))
            ).alias("variant"),
        )
        .join(F.broadcast(qdf), "variant")
        .select("qt", "token")
        .distinct()
    )
    return cand.filter(F.levenshtein(F.col("token"), F.col("qt")) <= max_edits)


def search_fuzzy_and(
    postings: DataFrame, terms: list[str], max_edits: int = 1
) -> DataFrame:
    """Typo-tolerant AND search: docs containing, for EVERY query
    term, at least one vocabulary token within ``max_edits`` of it
    (OR within a term's match set, AND across terms). Returns
    ``(doc, total_tf)`` where total_tf sums tf over (query term,
    matched token) pairs — a token matching two query terms counts
    for both, mirroring per-term scoring downstream."""
    matched = fuzzy_expand_terms(postings, terms, max_edits)
    uniq = sorted(set(terms))
    hit = postings.join(F.broadcast(matched), "token").select("qt", "doc", "tf")
    return (
        hit.groupBy("doc")
        .agg(
            F.count_distinct("qt").alias("_nq"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .filter(F.col("_nq") == len(uniq))
        .drop("_nq")
    )


def normalize_for_match(col):
    """Matching normal form shared by documents and gazetteer phrases:
    lowercase, every non-alphanumeric run collapsed to one space,
    trimmed. Pure JVM expression (map-only)."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9_]+", " "))


def gazetteer_match(
    docs: DataFrame,
    dictionary: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Dictionary phrase tagging (gazetteer NER): find every mention
    of any dictionary phrase — single- or multi-word — in every
    document. Returns one row per (doc, phrase) with a mention count
    and the first match position:

        (doc_id, phrase, n_mentions, first_idx)   first_idx 1-based token index

    Why token-anchored instead of scan-per-phrase: the naive plan
    (docs CROSS JOIN dict + contains()) rescans every document once
    per dictionary entry — dead at 100 TB x 10^5 phrases. Here the
    document side is tokenized ONCE (positions kept), the dictionary
    is keyed by its FIRST token and broadcast, and candidates come
    from an equi-join token==first_token; only candidates pay the
    full-phrase verify, a map-side slice-and-compare against the
    already-carried token array. One explode bounded by corpus token
    count, one broadcast join, one groupBy — no cross product, no UDF,
    no per-phrase scan. Both sides must share the matching normal
    form (see ``normalize_for_match``); multi-token phrases match
    exact consecutive token runs.
    """
    toks = F.split(normalize_for_match(F.col(text_col)), " ")
    tokens = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    ).select(
        "doc_id", "_toks", F.posexplode(F.col("_toks")).alias("_i", "_tok")
    )
    d = dictionary.select(
        normalize_for_match(F.col(phrase_col)).alias("phrase")
    ).where(F.col("phrase") != "").distinct()
    d = d.select(
        "phrase",
        F.element_at(F.split(F.col("phrase"), " "), 1).alias("_tok"),
        F.size(F.split(F.col("phrase"), " ")).alias("_n"),
    )
    cand = tokens.join(F.broadcast(d), "_tok")
    verified = cand.where(
        F.array_join(F.slice(F.col("_toks"), F.col("_i") + 1, F.col("_n")), " ")
        == F.col("phrase")
    )
    return verified.groupBy("doc_id", "phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mentions"),
        (F.min("_i") + 1).cast("int").alias("first_idx"),
    )
