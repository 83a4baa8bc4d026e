"""Block-max WAND top-k over compressed segments (north_star: "top-k ...
via distributed posting-list intersection with block-max WAND pruning").

The reference's DAAT skip machinery (galloping nextDoc,
IndexerInvertedCompressed.java:404-553) minimizes per-query work on one
machine; the set-at-a-time analogue here prunes whole doc-ranges before
ever touching compressed bytes:

1. **metadata pass (no decode)** — for the query's terms, read only the
   segment METADATA columns (term, chunk, block_max_weight, n_docs).  A
   doc in chunk c can score at most
   ``chunk_ub(c) = Σ_t max_blocks(w_t · (k1+1) · block_max_weight)`` —
   the sum of per-term maxima over c's blocks, where ``w_t`` is the
   term's query count times its idf (terms absent from c contribute 0,
   so the bound is sound).
2. **probe** — exactly score the few chunks with the highest upper
   bounds; the k-th best probe score is the threshold θ (a LOWER bound on
   the final k-th score).
3. **prune + final** — decode and score only chunks with
   ``chunk_ub ≥ θ``; every skipped chunk provably contains no top-k doc.
   Inside surviving chunks, individual blocks are skipped the same way:
   ``block_ub(t, blk) + (chunk_ub − chunk_max_t) < θ`` ⇒ no doc whose
   term-t postings sit in blk can reach θ via that block (conservative
   per-block refinement using the chunk residual).

Both skips are relational predicates: the block skip is a ``Filter`` on
``block_max_weight`` and ``residual`` below the decode, so a skipped
block's bytes never reach Python and the pruning shows in ``explain``.
Scoring is ``indexer.decode_segments`` (the package's one segment
decoder) plus one BM25 column expression and a sum per doc.  The segment
scan reads only metadata columns for pruned-away chunks (Parquet column
pruning), so the prune saves both decode CPU and byte I/O.  Conjunctive
mode additionally drops chunks that lack any query term before probing.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from websearchengine_spark.functions import bm25
from websearchengine_spark.operators import indexer, score


def _weight_col(weights: dict[str, float]) -> Column:
    """Each segment row's query weight (the term's count in the query
    times its idf), looked up in a ``create_map`` literal by ``term``."""
    return F.create_map(
        *[x for t, v in weights.items() for x in (F.lit(t), F.lit(v))]
    )[F.col("term")]


def _score_chunks(
    segs: DataFrame, weights: dict[str, float], avgdl: float
) -> DataFrame:
    """(doc_id, score, n_hit) for the given segment rows: the shared
    segment decode, one BM25 column expression per posting, and a sum
    per doc."""
    partial = bm25.weight(
        _weight_col(weights), bm25.tf_norm(F.col("tf"), F.col("dl"), avgdl)
    )
    return (
        indexer.decode_segments(segs)
        .groupBy("doc_id")
        .agg(
            F.sum(partial).alias("score"),
            F.count_distinct("term").alias("n_hit"),
        )
    )


def _chunk_bounds(
    segs: DataFrame, weights: dict[str, float], mode: str, n_terms: int
) -> tuple[DataFrame, DataFrame]:
    """(per_term, chunk_meta) from the metadata columns alone: each
    (chunk, term)'s best block bound ``tub``, and per chunk the sum of
    those, ``chunk_ub`` (conjunctive mode keeps only chunks holding every
    term)."""
    per_term = segs.groupBy("chunk", "term").agg(
        F.max(
            bm25.weight(_weight_col(weights), F.col("block_max_weight"))
        ).alias("tub")
    )
    chunk_meta = per_term.groupBy("chunk").agg(
        F.sum("tub").alias("chunk_ub"),
        F.count(F.lit(1)).alias("n_terms_present"),
    )
    if mode == "conjunctive":
        chunk_meta = chunk_meta.where(F.col("n_terms_present") == n_terms)
    return per_term, chunk_meta


def bm25_topk_segments(
    segments: DataFrame,
    query_terms: list[str],
    num_docs: int,
    avgdl: float,
    k: int = 10,
    mode: str = "disjunctive",
    probe_chunks: int = 2,
    prune: bool = True,
    stats: dict | None = None,
    term_df: dict[str, int] | None = None,
    eager: bool = False,
    term_chunks: dict[str, int] | None = None,
    prune_min_chunks: int = 16,
) -> DataFrame:
    """(doc_id, score) top-k BM25 from compressed segments with block-max
    chunk/block pruning.  A term repeated in ``query_terms`` counts once
    per occurrence, as in ``score.bm25_scores`` and the oracle.
    ``stats`` (optional dict) receives
    {n_chunks, probed, survivors, theta} for observability/tests.
    ``term_df`` (optional) supplies precomputed {term: df} serve-mode
    stats (the reference's in-memory maps), skipping the per-query
    metadata aggregation job.  ``eager=True`` is the serve mode: the
    probe scores are cached for reuse between the theta pass and the
    final pass, the (<= k)-row result is materialized, and the cache is
    dropped before returning — lowest latency with no cached-plan leak
    across queries.

    ``term_chunks`` (optional {term: n_chunks} from the build-time
    sidecar) drives a COST-BASED plan choice: the pruned plan is three
    sequential jobs (probe-id TakeOrdered, theta pass, pruned final) —
    pure win when the terms span many chunks, pure job-scheduling
    overhead when they span a handful.  If the query's summed chunk
    count is <= ``prune_min_chunks``, scoring everything in ONE pass is
    strictly cheaper and the prune is skipped; results are identical by
    the pruned == unpruned invariant.  At web scale hot terms have
    thousands of chunks and the threshold never triggers.  The single
    pass builds no chunk bounds: term filter, decode, one aggregation,
    top-k."""
    counts = Counter(query_terms)
    terms = sorted(counts)
    segs = segments.where(F.col("term").isin(terms))
    if prune and term_chunks is not None:
        if sum(term_chunks.get(t, 0) for t in terms) <= prune_min_chunks:
            prune = False

    if term_df is not None:
        term_df = {t: term_df[t] for t in terms if term_df.get(t, 0) > 0}
        # a stale stats map may lack a term whose segments exist (e.g. a
        # delta appended after the sidecar was written): keep the segment
        # scan and the weight map consistent so no decoded posting meets
        # a term without a weight
        segs = segs.where(F.col("term").isin(list(term_df)))
    else:
        # metadata pass (Parquet reads only the narrow columns)
        term_df = {
            r.term: r.df
            for r in segs.groupBy("term")
            .agg(F.sum("n_docs").alias("df"))
            .collect()
        }
    if not term_df:
        return segments.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    weights = {
        t: counts[t] * bm25.idf(df, num_docs) for t, df in term_df.items()
    }

    def _materialize(df: DataFrame) -> DataFrame:
        rows = df.collect()
        return segments.sparkSession.createDataFrame(rows, df.schema)

    if not prune:
        scored = _score_chunks(segs, weights, avgdl)
        if stats is not None:
            n_chunks = _chunk_bounds(segs, weights, mode, len(terms))[1].count()
            stats.update(
                n_chunks=n_chunks, probed=n_chunks, survivors=0,
                theta=float("-inf"),
            )
        out = _finalize(scored, mode, len(terms), k)
        return _materialize(out) if eager else out

    per_term, chunk_meta = _chunk_bounds(segs, weights, mode, len(terms))

    # --- probe: exact scores for the top-ub chunks -> theta ---
    # TakeOrderedAndProject keeps the selection distributed; the driver
    # materializes only the <= probe_chunks winning ids (bounded by the
    # PARAMETER, not the data — at 10^12 docs the per-chunk metadata is
    # ~15M rows per query and never leaves the executors) plus the
    # scalar theta.  Collecting the probe ids ONCE also pins the probe
    # set: chunk_ub is a float sum whose accumulation order is not
    # guaranteed stable across re-executions, so near-equal upper bounds
    # could otherwise swap in/out of the limit between the probe pass
    # and the survivor anti-filter.
    probe_ids = [
        r.chunk
        for r in chunk_meta.select("chunk", "chunk_ub")
        .orderBy(F.desc("chunk_ub"), F.asc("chunk"))
        .limit(probe_chunks)
        .collect()
    ]
    probe_scored = _score_chunks(
        segs.where(F.col("chunk").isin(probe_ids)), weights, avgdl
    )
    if eager:
        # serve mode: reuse the probe scores between the theta pass and
        # the final union, dropping the cache before returning
        probe_scored = probe_scored.cache()
    eligible = probe_scored
    if mode == "conjunctive":
        eligible = probe_scored.where(F.col("n_hit") == len(terms))
    # theta is one scalar: the ONLY probe data the driver sees (<= k rows)
    kth = eligible.orderBy(F.desc("score")).limit(k).collect()
    theta = kth[k - 1].score if len(kth) >= k else float("-inf")

    # --- prune + final pass over surviving chunks: drop the probed ids
    # (a bounded literal), keep chunk_ub >= theta ---
    survivors_df = (
        chunk_meta.select("chunk", "chunk_ub")
        .where(~F.col("chunk").isin(probe_ids))
        .where(F.col("chunk_ub") >= F.lit(theta))
        .select("chunk")
    )
    if stats is not None:
        stats.update(
            n_chunks=chunk_meta.count(),
            probed=len(probe_ids),
            survivors=survivors_df.count(),
            theta=theta,
        )
    # block skip, a Filter below the decode: a block can only lift a doc
    # to theta if its own bound plus the best the OTHER terms can add in
    # the chunk (residual = chunk_ub - this term's chunk max) reaches it
    residual = per_term.join(chunk_meta.select("chunk", "chunk_ub"), "chunk").select(
        "chunk", "term", (F.col("chunk_ub") - F.col("tub")).alias("residual")
    )
    surv_segs = (
        segs.join(survivors_df, "chunk")
        .join(residual, ["chunk", "term"])
        .where(
            bm25.weight(_weight_col(weights), F.col("block_max_weight"))
            + F.col("residual")
            >= F.lit(theta)
        )
    )
    scored = probe_scored.unionByName(
        _score_chunks(surv_segs, weights, avgdl)
    )
    # a skipped block can drop SOME partials of a below-theta doc, so its
    # retained score stays below theta and below the probe's k-th score
    out = _finalize(scored, mode, len(terms), k)
    if eager:
        out = _materialize(out)
        probe_scored.unpersist()
    return out


def _finalize(scored: DataFrame, mode: str, n_terms: int, k: int) -> DataFrame:
    """``score.topk`` of the docs that qualify for ``mode``."""
    out = scored
    if mode == "conjunctive":
        out = out.where(F.col("n_hit") == n_terms)
    return score.topk(out.select("doc_id", "score"), k)
