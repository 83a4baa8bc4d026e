#!/usr/bin/env python
"""Print `.explain("formatted")` for the engine's key physical plans, to
verify the properties the scale design depends on:

- term filters reach the parquet scan of a stored segment part
  (PushedFilters), where min/max row-group statistics on the term-sorted
  files can skip row groups;
- column pruning (ReadSchema) keeps metadata-only passes off the posting
  byte columns;
- scoring joins broadcast the tiny side (BroadcastHashJoin, no shuffle of
  the postings relation beyond the one groupBy);
- top-k plans are TakeOrderedAndProject, not global sorts.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import tempfile

    from pyspark.sql import functions as F

    from websearchengine_spark.operators import indexer, score, wand
    from websearchengine_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
        "doc_id",
    )
    postings = indexer.build_postings(docs)
    avgdl = 150.0

    with tempfile.TemporaryDirectory() as td:
        # the layout `cli build` commits: one flat directory per part
        seg_path = os.path.join(td, "segments")
        indexer.build_segments(postings, avgdl=avgdl).write.parquet(
            os.path.join(seg_path, "part=0")
        )
        segs = spark.read.parquet(seg_path)

        print("=" * 72)
        print("1. Stored-segment scan filtered by term")
        print("   (expect PushedFilters on term and a ReadSchema WITHOUT")
        print("   the posting byte columns)")
        print("=" * 72)
        meta_scan = segs.where(F.col("term") == "data").select(
            "term", "chunk", "block_max_weight", "n_docs"
        )
        meta_scan.explain("formatted")

        print("=" * 72)
        print("2. BM25 postings-path top-k (expect BroadcastHashJoin for the")
        print("   stats sides and TakeOrderedAndProject, no global Sort)")
        print("=" * 72)
        score.rank_bm25(
            postings, "data table", num_docs=500, avgdl=avgdl, k=10
        ).explain("formatted")

        print("=" * 72)
        print("3. WAND segment-path top-k (metadata pass + pruned decode;")
        print("   expect the block skip, a predicate on block_max_weight and")
        print("   residual that Catalyst folds into the residual join's")
        print("   condition, below decode_segments' MapInPandas)")
        print("=" * 72)
        wand.bm25_topk_segments(
            segs, ["data", "table"], num_docs=500, avgdl=avgdl, k=10
        ).explain("formatted")

        print("=" * 72)
        print("4. Phrase serve path: metadata-only chunk prune before the")
        print("   positional decode (expect the cand-chunk aggregation to")
        print("   scan ONLY metadata columns — no pos_bytes in its")
        print("   ReadSchema — and a left-semi join feeding the decode)")
        print("=" * 72)
        from websearchengine_spark.operators import query as Q

        Q.token_postings_from_segments(segs, '"data mining"').explain(
            "formatted"
        )

        print("=" * 72)
        print("4b. Phrase serve path, cost-based SKIP (sidecar says the")
        print("    phrase words span only a few chunks -> single-pass")
        print("    decode; expect NO aggregation and NO semi-join below")
        print("    the decode UDF)")
        print("=" * 72)
        Q.token_postings_from_segments(
            segs, '"data mining"', term_chunks={"data": 1, "mine": 1}
        ).explain("formatted")

        print("=" * 72)
        print("5. Corpus n-gram counts (expect map-side generate + ONE")
        print("   hash-partial/final aggregate pair, TakeOrderedAndProject)")
        print("=" * 72)
        from websearchengine_spark.operators import corpus_stats

        corpus_stats.ngram_counts(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), 2, 100
        ).explain("formatted")

        docs_raw = spark.read.parquet(f"{sf_dir}/documents.parquet")

        print("=" * 72)
        print("6. PII redaction (expect ONE Project over the scan — no")
        print("   shuffle, no Python worker: pure codegen regexp)")
        print("=" * 72)
        from websearchengine_spark.operators import pii as pii_op

        pii_op.pii_redact(docs_raw).explain("formatted")

        print("=" * 72)
        print("7. Boilerplate line removal (expect: fp-keyed partial/final")
        print("   aggregate, anti-join against the BOUNDED frequent set,")
        print("   ONE doc_id regroup with ObjectHashAggregate collect_list)")
        print("=" * 72)
        corpus_stats.line_dedup(docs_raw, 5).explain("formatted")

        print("=" * 72)
        print("8. Bigram-LM scoring (expect broadcast of the 1-row vocab,")
        print("   Zipf-bounded model aggregates, no driver-side scalars)")
        print("=" * 72)
        corpus_stats.bigram_lm_scores(docs_raw).explain("formatted")

        print("=" * 72)
        print("9. Sketches (expect ONE bounded partial/final aggregate pair")
        print("   each: CMS <= depth*width rows, HLL <= 2^p register rows)")
        print("=" * 72)
        corpus_stats.cms_build(docs_raw).explain("formatted")
        from pyspark.sql import functions as FF

        corpus_stats.hll_distinct(
            docs_raw.select(
                FF.explode(corpus_stats._toks_clean()).alias("term")
            )
        ).explain("formatted")

        print("=" * 72)
        print("10. Bloom seen filter (expect the history side to collapse")
        print("    into ONE <= m/64-row bit_or aggregate feeding a")
        print("    BroadcastHashJoin on word — the history never shuffles")
        print("    to the probe side)")
        print("=" * 72)
        corpus_stats.bloom_seen_filter(
            docs_raw.select("doc_id", "text"),
            docs_raw.select("doc_id", "text"),
        ).explain("formatted")

        print("=" * 72)
        print("11. Quality filters (gopher: expect ZERO exchanges — one")
        print("    map-side projection; classifier scoring: expect the")
        print("    dim+1-row weight table to enter as BroadcastHashJoin,")
        print("    never SortMergeJoin, and all exchanges keyed by doc_id)")
        print("=" * 72)
        import numpy as np

        from websearchengine_spark.operators import quality_model

        corpus_stats.gopher_quality_flags(docs_raw).explain("formatted")
        quality_model.score_lr(
            quality_model.hashed_features(docs_raw),
            np.zeros(quality_model.CLF_DIM + 1),
        ).explain("formatted")

        print("=" * 72)
        print("12. Spearman distributed ranks (expect every Window to carry")
        print("    a partitionBy — vpid for the value-prefix, (value, idb)")
        print("    for the tie ranks; NO 'Window [...] ORDER BY' over an")
        print("    empty partition spec anywhere in the plan)")
        print("=" * 72)
        from websearchengine_spark.operators import mining

        mining._spearman_plan(
            docs_raw.select(
                "doc_id",
                FF.length("text").alias("m1"),
                FF.col("n_chars").alias("m2"),
            ),
            "m1",
            "m2",
            n_parts=8,
        ).explain("formatted")

    spark.stop()


if __name__ == "__main__":
    main()
