"""Query evaluation (SURVEY.md §2.4, Q1-Q8).

The reference iterates DAAT ``nextDoc`` with galloping search
(IndexerInvertedCompressed.java:404-553); set-at-a-time Spark replaces the
whole iteration with one shuffle-light plan:

    postings filtered by term in the parquet scan (≙ the reference's
    ``grep -w term <c>.idx``, :752-796)
      -> phrase tokens verified by a positions-adjacency Arrow UDF (Q4/Q5)
      -> unified token-postings relation (token, doc_id, tf, dl)
      -> conjunctive: groupBy(doc_id) HAVING count(distinct token) = n
         disjunctive: plain union
      -> BM25 / QL aggregation -> orderBy().limit(k)  (TakeOrderedAndProject)

The query-token side is tiny and broadcast; the only wide operation is the
single groupBy(doc_id) over pruned postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from websearchengine_spark.functions.textnorm import parse_query
from websearchengine_spark.functions.udfs import phrase_count_udf


def split_tokens(query: str) -> tuple[list[str], list[str], list[str]]:
    """lowercase + parse -> (all tokens incl. duplicates, distinct words,
    distinct phrases).  Lowercasing first mirrors QueryHandler.java:443-445."""
    tokens = parse_query(query.lower())
    words = sorted({t for t in tokens if " " not in t})
    phrases = sorted({t for t in tokens if " " in t})
    return tokens, words, phrases


def word_token_postings(postings: DataFrame, words: list[str]) -> DataFrame:
    """(token, doc_id, tf, dl) for single-word query tokens.  The isin
    filter sits on a plain column so it pushes into the parquet scan of
    the stored segments."""
    return (
        postings.where(F.col("term").isin(words))
        .select(F.col("term").alias("token"), "doc_id", "tf", "dl")
    )


def phrase_token_postings(postings: DataFrame, phrase: str) -> DataFrame:
    """(token, doc_id, tf, dl) for one multi-word phrase token: conjunctive
    pre-join on the phrase's words, then the adjacency-count UDF (Q4/Q5,
    IndexerInvertedCompressed.java:520-564) as tf; docs with zero adjacent
    runs drop out."""
    words = phrase.split()
    uniq = sorted(set(words))
    per_doc = (
        postings.where(F.col("term").isin(uniq))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("posmap"),
            F.first("dl").alias("dl"),
            F.count(F.lit(1)).alias("n_present"),
        )
        .where(F.col("n_present") == len(uniq))
    )
    ordered = per_doc.select(
        "doc_id",
        "dl",
        F.array(*[F.col("posmap").getItem(w) for w in words]).alias("plists"),
    )
    return (
        ordered.withColumn("tf", phrase_count_udf(F.col("plists")))
        .where(F.col("tf") > 0)
        .select(F.lit(phrase).alias("token"), "doc_id", "tf", "dl")
    )


def token_postings(postings: DataFrame, query: str) -> DataFrame:
    """Unified token-postings relation for every distinct token of a query
    (phrases included) — the input to matching and scoring."""
    _, words, phrases = split_tokens(query)
    parts = []
    if words:
        parts.append(word_token_postings(postings, words))
    for p in phrases:
        parts.append(phrase_token_postings(postings, p))
    if not parts:
        spark = postings.sparkSession
        return spark.createDataFrame(
            [], "token string, doc_id long, tf int, dl int"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def token_postings_from_segments(
    segments: DataFrame,
    query: str,
    term_chunks: dict[str, int] | None = None,
    prune_min_chunks: int = 64,
) -> DataFrame:
    """Serve-path token postings straight from compressed segments, with
    positional decode PRUNED to surviving chunks — from segment METADATA
    only, no pre-decode.

    Positions are the fat payload (pos_bytes ≈ dl·varint vs ~5 bytes of
    doc_gap+tf per posting), so the phrase path decodes them only where a
    phrase can possibly match: a chunk survives iff EVERY word of the
    phrase has at least one segment in it — a tiny aggregation over the
    (term, chunk) metadata columns (never touches posting bytes), the
    same doc-range chunk key WAND prunes on.  Only surviving chunks'
    segments are decoded with positions; the adjacency pre-join inside
    phrase_token_postings then applies the exact doc-level conjunctive
    filter, so results are identical to decoding everything.

    ``term_chunks`` (optional {term: n_chunks} from the build-time
    sidecar) drives the same COST-BASED plan choice as
    wand.bm25_topk_segments: the prune is one extra metadata aggregation
    job plus a semi-join under the decode — pure overhead when the
    phrase's words span only a handful of chunks (decoding everything is
    already cheap; a dense small corpus measured the always-on prune
    SLOWER than the full decode).  When the phrase's summed chunk count
    is <= ``prune_min_chunks``, the phrase decodes its words' segments
    directly; results are identical by the pruned == unpruned
    invariant.  At web scale phrase words span thousands of chunks and
    the threshold never triggers.  Single-word tokens decode
    non-positionally."""
    from websearchengine_spark.operators import indexer

    _, words, phrases = split_tokens(query)
    spark = segments.sparkSession
    parts = []
    if words:
        parts.append(
            word_token_postings(
                indexer.decode_segments(
                    segments.where(F.col("term").isin(words)),
                    with_positions=False,
                ),
                words,
            )
        )
    for p in phrases:
        uniq = sorted(set(p.split()))
        pruned = segments.where(F.col("term").isin(uniq))
        skip_prune = term_chunks is not None and (
            sum(term_chunks.get(t, 0) for t in uniq) <= prune_min_chunks
        )
        if not skip_prune:
            cand_chunks = (
                segments.where(F.col("term").isin(uniq))
                .groupBy("chunk")
                .agg(F.count_distinct("term").alias("n_present"))
                .where(F.col("n_present") == len(uniq))
                .select("chunk")
            )
            pruned = pruned.join(cand_chunks, "chunk", "left_semi")
        parts.append(
            phrase_token_postings(
                indexer.decode_segments(pruned, with_positions=True), p
            )
        )
    if not parts:
        return spark.createDataFrame(
            [], "token string, doc_id long, tf int, dl int"
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def conjunctive_candidates(tok_postings: DataFrame, n_tokens: int) -> DataFrame:
    """Q1/Q3 — docs containing ALL distinct query tokens."""
    return (
        tok_postings.groupBy("doc_id")
        .agg(F.count_distinct("token").alias("n_hit"))
        .where(F.col("n_hit") == n_tokens)
        .select("doc_id")
    )


def dynamic_stopwords(postings: DataFrame, k: int = 50) -> DataFrame:
    """hw2's frequency-derived stopword list: the top-k terms by document
    frequency (hw2/.../IndexerInvertedCompressed.java:478-496) — the
    reference's precedent for frequency-aware heavy-hitter handling.
    Returns (term, df) for the k highest-df terms (ties: term asc)."""
    return (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def token_stats(tok_postings: DataFrame) -> DataFrame:
    """Per-token df/ctf derived from the pruned relation itself (covers
    phrase tokens, whose stats don't exist in term_stats; Q8 semantics,
    IndexerInvertedCompressed.java:621-747)."""
    return tok_postings.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").cast("long").alias("ctf")
    )
