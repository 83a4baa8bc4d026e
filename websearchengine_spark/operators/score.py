"""Ranking/scoring operators (SURVEY.md §2.5) — all Catalyst-native column
expressions over the token-postings relation; no Python in the hot path.

- BM25 (``functions.bm25``: k1=1.2, b=0.75, Lucene idf) — the engine's
  primary ranker per BASELINE.json north_star.
- Reference-parity QL (Jelinek-Mercer β=0.5, RankerComprehensive.java:43-53)
  with the product computed as exp(sum(log ...)), duplicates in the query
  handled by per-token multiplicity weights.
- Top-k via orderBy().limit(k) — Spark plans TakeOrderedAndProject, the
  distributed analogue of the reference's bounded heap
  (RankerConjunctive.java:26-35).
- Comprehensive cascade (RankerComprehensive.java:66-87): the reference's
  three stable re-sorts compose into lexicographic sort keys, so each stage
  is a single TakeOrdered: stage orderings extend the previous comparator.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from websearchengine_spark.functions import bm25
from websearchengine_spark.operators import query as Q

QL_BETA = 0.5
RANK_DECIMALS = 9  # scores rank rounded to this: near-ties go to doc_id


def _qcount_df(spark, tokens: list[str]) -> DataFrame:
    """Query-token multiplicities (QL multiplies per occurrence,
    RankerComprehensive.java:49; BM25 sums per occurrence)."""
    counts = Counter(tokens)
    return spark.createDataFrame(
        [(t, int(c)) for t, c in counts.items()], "token string, qcount int"
    )


def bm25_scores(
    tok_postings: DataFrame,
    tokens: list[str],
    num_docs: int,
    avgdl: float,
    mode: str = "conjunctive",
) -> DataFrame:
    """(doc_id, score) — BM25 summed over query tokens (×multiplicity).

    Conjunctive filters to docs holding ALL distinct tokens; disjunctive
    scores any match.  df per token comes from the pruned relation itself,
    which is correct for phrase tokens too (their stats exist nowhere
    else); word-only serving takes ``wand.bm25_topk_segments`` instead."""
    spark = tok_postings.sparkSession
    n_distinct = len(set(tokens))
    stats = Q.token_stats(tok_postings)
    qc = _qcount_df(spark, tokens)
    w = F.col("qcount") * bm25.weight(
        bm25.idf(F.col("df"), float(num_docs), F.log),
        bm25.tf_norm(F.col("tf"), F.col("dl"), avgdl),
    )
    scored = (
        tok_postings.join(F.broadcast(stats), "token")
        .join(F.broadcast(qc), "token")
        .groupBy("doc_id")
        .agg(
            F.sum(w).alias("score"),
            F.count_distinct("token").alias("n_hit"),
        )
    )
    if mode == "conjunctive":
        scored = scored.where(F.col("n_hit") == n_distinct)
    return scored.select("doc_id", "score")


def ql_scores(
    tok_postings: DataFrame,
    tokens: list[str],
    total_terms: int,
) -> DataFrame:
    """(doc_id, score) — reference QL over CONJUNCTIVE matches:
    score = Π_tokens [(1-β)·tf/dl + β·ctf/|C|], |C| int-truncated
    (RankerComprehensive.java:43-53).  Product via exp(Σ qcount·ln(term))
    — every factor > 0 on conjunctive matches."""
    spark = tok_postings.sparkSession
    n_distinct = len(set(tokens))
    c = int(total_terms)
    stats = Q.token_stats(tok_postings)
    qc = _qcount_df(spark, tokens)
    factor = (
        F.lit(1.0 - QL_BETA) * F.col("tf") / F.col("dl")
        + F.lit(QL_BETA) * F.col("ctf") / F.lit(float(c))
    )
    return (
        tok_postings.join(F.broadcast(stats), "token")
        .join(F.broadcast(qc), "token")
        .groupBy("doc_id")
        .agg(
            F.exp(F.sum(F.col("qcount") * F.log(factor))).alias("score"),
            F.count_distinct("token").alias("n_hit"),
        )
        .where(F.col("n_hit") == n_distinct)
        .select("doc_id", "score")
    )


def topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """R12/R13 — desc score rounded to ``RANK_DECIMALS``, doc_id tiebreak,
    limit k (TakeOrderedAndProject; ScoredDocument.java:46-52 + our
    stable-tiebreak contract).  Partials reach a per-doc sum in shuffle
    order, so tied scores can differ in the last bits; the rounding lets
    doc_id break those ties as the oracle does.  Scores stay unrounded."""
    return scored.orderBy(
        F.desc(F.round("score", RANK_DECIMALS)), F.asc("doc_id")
    ).limit(k)


def rank_bm25(
    postings: DataFrame,
    query: str,
    num_docs: int,
    avgdl: float,
    k: int = 10,
    mode: str = "conjunctive",
) -> DataFrame:
    tokens, _, _ = Q.split_tokens(query)
    if not tokens:
        return postings.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    tp = Q.token_postings(postings, query)
    return topk(bm25_scores(tp, tokens, num_docs, avgdl, mode), k)


def rank_ql(
    postings: DataFrame,
    query: str,
    total_terms: int,
    k: int = 10,
) -> DataFrame:
    tokens, _, _ = Q.split_tokens(query)
    if not tokens:
        return postings.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    tp = Q.token_postings(postings, query)
    return topk(ql_scores(tp, tokens, total_terms), k)


def cosine_scores(
    postings: DataFrame,
    query: str,
    num_docs: int,
) -> DataFrame:
    """(doc_id, score) — R2 cosine/VSM (hw1 Ranker.java:57-114): doc
    tf-idf vector over ALL doc terms (idf = 1 + log2(N/df)), query vector
    raw token counts (phrase tokens excluded from the dot product — the
    reference's word-level loop), cosine = dot/(|d|·|q|).

    The Σ tfidf² doc norm is a corpus-wide aggregate, precomputable as a
    docs column in a real deployment; here derived in the same plan."""
    tokens, words, _ = Q.split_tokens(query)
    qtf = Counter(t for t in tokens if " " not in t)
    qnorm = float(sum(v * v for v in qtf.values())) ** 0.5
    spark = postings.sparkSession
    ts = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.lit(1.0) + F.log2(F.lit(float(num_docs)) / F.col("df"))
    weighted = postings.join(ts, "term").select(
        "term", "doc_id", (F.col("tf") * idf).alias("w")
    )
    norm = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm")
    )
    qdf = spark.createDataFrame(
        [(t, float(c)) for t, c in qtf.items()], "term string, qv double"
    )
    dot = (
        weighted.join(F.broadcast(qdf), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("qv")).alias("dot"))
        .where(F.col("dot") > 0)
    )
    return dot.join(norm, "doc_id").select(
        "doc_id",
        (F.col("dot") / (F.col("dnorm") * F.lit(qnorm))).alias("score"),
    )


def phrase_count_scores(postings: DataFrame, query: str) -> DataFrame:
    """(doc_id, score) — R3 phrase ranker: number of adjacent runs of the
    FULL query token sequence per doc (hw1 Ranker.java:133-181 counts
    sequence matches; we implement the positional-adjacency semantics,
    Q4/Q5)."""
    tokens, _, _ = Q.split_tokens(query)
    flat: list[str] = []
    for t in tokens:
        flat.extend(t.split())
    if len(flat) == 1:
        return postings.where(F.col("term") == flat[0]).select(
            "doc_id", F.col("tf").cast("double").alias("score")
        )
    phrase = " ".join(flat)
    tp = Q.phrase_token_postings(postings, phrase)
    return tp.select("doc_id", F.col("tf").cast("double").alias("score"))


def numviews_scores(docs: DataFrame) -> DataFrame:
    """R4 — score = numViews (hw1 Ranker.java:183-185)."""
    return docs.select(
        "doc_id", F.col("num_views").cast("double").alias("score")
    )


LINEAR_BETAS = (0.6, 0.39, 0.0099, 0.0001)  # hw1 Ranker.java:189-192


def rank_linear(
    postings: DataFrame,
    docs: DataFrame,
    query: str,
    num_docs: int,
    total_terms: int,
    k: int = 10,
) -> DataFrame:
    """R5 — 0.6·cosine + 0.39·QL + 0.0099·phrase + 0.0001·numviews over
    disjunctive word matches (hw1 scores every doc; docs with no match
    score ~0 and sort by views — we keep docs with any component > 0)."""
    b1, b2, b3, b4 = LINEAR_BETAS
    tokens, _, _ = Q.split_tokens(query)
    tp = Q.token_postings(postings, query)
    cos = cosine_scores(postings, query, num_docs).withColumnRenamed(
        "score", "s_cos"
    )
    # hw1 QL scores every doc; docs matching no token get the collection
    # prior product, not 0
    ql, ql_prior = ql_scores_disjunctive(tp, tokens, total_terms)
    ql = ql.withColumnRenamed("score", "s_ql")
    ph = phrase_count_scores(postings, query).withColumnRenamed(
        "score", "s_ph"
    )
    nv = numviews_scores(docs).withColumnRenamed("score", "s_nv")
    out = (
        nv.join(cos, "doc_id", "left")
        .join(ql, "doc_id", "left")
        .join(ph, "doc_id", "left")
        .fillna({"s_cos": 0.0, "s_ql": ql_prior, "s_ph": 0.0})
        .select(
            "doc_id",
            (
                F.lit(b1) * F.col("s_cos")
                + F.lit(b2) * F.col("s_ql")
                + F.lit(b3) * F.col("s_ph")
                + F.lit(b4) * F.col("s_nv")
            ).alias("score"),
        )
    )
    return topk(out, k)


def ql_scores_disjunctive(
    tok_postings: DataFrame,
    tokens: list[str],
    total_terms: int,
) -> tuple[DataFrame, float]:
    """QL over docs matching ANY token; returns (scores_df, prior_product)
    where prior_product is the score of a doc matching NO token — for a
    missing token the factor is the collection prior β·ctf(t)/|C| (the
    tf=0 case of RankerComprehensive.java:49's formula).  Computed as
    prior_product · Π_present (factor/prior).  A query token absent from
    the whole corpus makes every factor chain contain 0 → all scores 0
    (faithful to the reference product)."""
    spark = tok_postings.sparkSession
    stats = Q.token_stats(tok_postings)
    qc = _qcount_df(spark, tokens)
    c = float(int(total_terms))
    stat_rows = {r.token: r.ctf for r in stats.collect()}
    if any(t not in stat_rows for t in set(tokens)):
        empty = spark.createDataFrame([], "doc_id long, score double")
        return empty, 0.0
    import math

    log_prior_total = sum(
        math.log(QL_BETA * stat_rows[t] / c) for t in tokens
    )
    prior = F.lit(QL_BETA) * F.col("ctf") / F.lit(c)
    factor = F.lit(1.0 - QL_BETA) * F.col("tf") / F.col("dl") + prior
    scores = (
        tok_postings.join(F.broadcast(stats), "token")
        .join(F.broadcast(qc), "token")
        .groupBy("doc_id")
        .agg(
            F.exp(
                F.sum(F.col("qcount") * (F.log(factor) - F.log(prior)))
                + F.lit(float(log_prior_total))
            ).alias("score")
        )
        .select("doc_id", "score")
    )
    return scores, float(math.exp(log_prior_total))


def rank_cosine(
    postings: DataFrame, query: str, num_docs: int, k: int = 10
) -> DataFrame:
    return topk(cosine_scores(postings, query, num_docs), k)


def rank_numviews(docs: DataFrame, k: int = 10) -> DataFrame:
    return topk(numviews_scores(docs), k)


def rank_fullscan(docs: DataFrame, query: str, k: int = 10) -> DataFrame:
    """R8 — full-scan ranker (RankerFullScan.java:25-61): EVERY doc is
    scored — 1.0 if any raw whitespace query token equals any of the doc's
    INDEXED title terms (getConvertedTitleTokens: stem -> lowercase ->
    stopword filter), else 0.0 — then a stable reverse sort returns the
    first k (stability == doc_id asc tiebreak, since docs enter in did
    order).  Faithful quirk: the QUERY side is NOT stemmed
    (Query.processQuery:24-33 is a plain whitespace split), so only query
    words that already look like index terms can match.

    ``docs`` must carry (doc_id, title).  arrays_overlap over the
    title-term array is one codegen'd projection + TakeOrdered — no joins,
    no shuffle beyond top-k."""
    from websearchengine_spark.functions.udfs import tokenize_udf

    qtokens = sorted(set(query.lower().split()))
    if not qtokens:
        return docs.sparkSession.createDataFrame([], "doc_id long, score double")
    qarr = F.array(*[F.lit(t) for t in qtokens])
    scored = docs.select(
        "doc_id",
        F.when(
            F.arrays_overlap(tokenize_udf(F.col("title"), F.lit("")), qarr),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return topk(scored, k)


def rank_comprehensive(
    postings: DataFrame,
    docs: DataFrame,
    query: str,
    total_terms: int,
    k: int = 10,
) -> DataFrame:
    """R7 — QL desc (doc_id tiebreak) -> top 5k -> stable PageRank desc ->
    top 3k -> stable NumViews desc -> top k (RankerComprehensive.java:66-87).

    A stable re-sort of an ordering O by key K equals one sort by (K, O), so
    each stage is a TakeOrdered with an extended lexicographic key — no
    driver-side collection, correct at any scale."""
    tokens, _, _ = Q.split_tokens(query)
    tp = Q.token_postings(postings, query)
    scored = ql_scores(tp, tokens, total_terms).join(
        docs.select("doc_id", "url", "page_rank", "num_views"), "doc_id"
    )
    s1 = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k * 5)
    s2 = s1.orderBy(
        F.desc("page_rank"), F.desc("score"), F.asc("doc_id")
    ).limit(k * 3)
    return s2.orderBy(
        F.desc("num_views"), F.desc("page_rank"), F.desc("score"), F.asc("doc_id")
    ).limit(k)
