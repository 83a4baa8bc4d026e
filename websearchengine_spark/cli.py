"""spark-submit entry point: build / resume / merge / query / mine / serve.

The reference's three modes (mining -> index -> serve,
SearchEngine.java:138-144) map to subcommands; serving is available both
as a batch ``query`` call and as the reference-style resident HTTP
endpoint (``serve`` -> GET /search, websearchengine_spark/serving.py).

Usage (also works under plain ``python -m websearchengine_spark.cli``):

  build  --corpus <parquet dir> --out <index dir> [--docs-per-part N]
  query  --index <index dir> --q "web search" [--k 10] [--mode conjunctive]
  merge  --base <index dir> --delta <index dir> --out <index dir>
  mine   --corpus <parquet dir> --out <dir>          # PageRank + edges
  serve  --index <index dir> [--port 25805]          # HTTP /search

The corpus parquet must carry the input_hint schema
(url, warc_ts, html, text, lang) or at least (url, text).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


# avgdl sample target for cmd_build: ~N docs drawn by url-hash (exact for
# corpora at or under the cap; an unbiased estimate above it)
AVGDL_SAMPLE_DOCS = 1 << 16


def _spark(cpus: str | None = None):
    from websearchengine_spark.session import get_spark

    return get_spark(f"local[{cpus}]" if cpus else None)


def _load_corpus(spark, corpus_path: str, fmt: str):
    """(url, text[, lang, ...]) from a parquet table or a WARC directory.

    WARC (Common Crawl ingestion): response records with an HTML
    Content-Type go through the frozen S2 extractor (byte-identity-gated
    vs the reference jsoup); WET conversion records and plain-text
    responses are taken as-is.  Everything stays map-side."""
    if fmt == "warc":
        from websearchengine_spark.sources import warc as warc_src

        return warc_src.records_to_corpus(
            warc_src.read_warc(spark, corpus_path)
        )
    return spark.read.parquet(corpus_path)


def _ensure_url(corpus):
    """url-less tables (e.g. a bare documents parquet): derive a stable
    identity from doc_id so doc numbering, WARC target URIs, and
    --seen-history url keying stay deterministic across reruns; fail
    loudly when neither column exists."""
    from pyspark.sql import functions as F

    if "url" in corpus.columns:
        return corpus
    if "doc_id" not in corpus.columns:
        raise SystemExit("corpus needs a url or doc_id column")
    return corpus.withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    )


def cmd_pipeline(args) -> None:
    """End-to-end training-data pipeline over a raw corpus: extract ->
    boilerplate line removal -> PII redaction -> exact dedup -> near-dup
    cluster dedup -> quality filters (repetition / token count /
    optional LM perplexity cap) -> token-budget sequence packing.

    Writes the surviving corpus (doc_id, url, text, n_tokens, bin_id)
    as parquet plus a per-stage attrition report (out/report.json, also
    printed as one JSON line).  The composition lives in
    operators/pipeline.run_pipeline (gated end-to-end by the
    pipeline_report oracle); every stage is one of the gated operators
    and the driver only ever sees per-stage COUNTS."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators import indexer
    from websearchengine_spark.operators import pipeline as pipeline_op

    spark = _spark(args.cpus)
    corpus = _load_corpus(spark, args.corpus, args.format)
    if args.lang and "lang" in corpus.columns:
        corpus = corpus.where(F.col("lang") == args.lang)
    corpus = _ensure_url(corpus)
    docs = indexer.assign_doc_ids(corpus.select("url", "text"))
    report: dict = {}
    docs_raw = None
    if args.seen_history:
        # incremental recrawl: stage 0 drops docs whose text was already
        # ingested by a previous run, via the bloom seen-set — the
        # history corpus never shuffles (bounded filter, broadcast
        # probe); a deterministic bloom-rate sliver of genuinely-new
        # docs is over-dropped (operators/corpus_stats.bloom_seen_filter)
        from websearchengine_spark.operators import corpus_stats

        docs_raw = docs.persist()
        report["docs_in_raw"] = docs_raw.count()
        hist = _load_corpus(spark, args.seen_history, "parquet").persist()
        # size the bloom to the actual history: the fixed BLOOM_M default
        # mass-drops genuinely-new docs once history exceeds ~25k keys
        n_hist = hist.count()
        m = corpus_stats.bloom_size_for(n_hist)
        report["seen_history_keys"] = n_hist
        report["bloom_bits"] = m
        # key on URL when both sides carry one: the natural history
        # artifact is a previous run's OUTPUT corpus, whose text has
        # been rewritten by the pipeline (boilerplate stripped, PII
        # masked) and so never matches raw recrawl text — the url is
        # the stable recrawl identity; raw-text keying remains the
        # fallback for url-less corpora
        key = (
            F.col("url")
            if "url" in hist.columns and "url" in docs_raw.columns
            else F.col("text")
        )
        kept = corpus_stats.bloom_seen_filter(
            docs_raw, hist, key_expr=key, m=m
        )
        hist.unpersist()
        docs = docs_raw.join(
            kept.where(F.col("is_kept")).select("doc_id"), "doc_id"
        )
        # run_pipeline's own docs_in count doubles as after_seen_filter
    out_df = pipeline_op.run_pipeline(
        docs,
        boilerplate_min_docs=args.boilerplate_min_docs,
        minhash_threshold=args.minhash_threshold,
        max_rep=args.max_rep,
        min_tokens=args.min_tokens,
        max_ppl=args.max_ppl,
        budget=args.budget,
        gopher=args.gopher,
        gopher_min_stops=args.gopher_min_stops,
        classifier_threshold=args.classifier_threshold,
        bpe_report=args.bpe_report,
        split=args.split,
        report=report,
    )
    out_path = os.path.join(args.out, "corpus")
    out_df.write.mode("overwrite").parquet(out_path)
    out_df.unpersist()
    if docs_raw is not None:
        docs_raw.unpersist()
    report["out"] = out_path
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "report.json"), "w") as f:
        json.dump(report, f)
    print(json.dumps(report))


def cmd_export(args) -> None:
    """Export a corpus (parquet (url,text) or a built index's docs view)
    as WARC response records or WET conversion records — the handoff
    format for any Common-Crawl-tooling consumer.  Prints the manifest
    as one JSON line."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators import indexer
    from websearchengine_spark.sources import warc as warc_src

    spark = _spark(args.cpus)
    corpus = _load_corpus(spark, args.corpus, "parquet")
    if args.lang and "lang" in corpus.columns:
        corpus = corpus.where(F.col("lang") == args.lang)
    corpus = _ensure_url(corpus)
    ids = indexer.assign_doc_ids(corpus.select("url", "text"))
    manifest = warc_src.write_warc(
        ids,
        args.out,
        warc_type="conversion" if args.wet else "response",
    ).collect()
    print(
        json.dumps(
            {
                "files": len(manifest),
                "records": int(sum(m.n_records for m in manifest)),
                "bytes": int(sum(m.n_bytes for m in manifest)),
                "out": args.out,
            }
        )
    )


def cmd_build(args) -> None:
    from pyspark.sql import functions as F

    from websearchengine_spark.operators import checkpoint, indexer

    spark = _spark(args.cpus)
    corpus = _load_corpus(spark, args.corpus, getattr(args, "format", "parquet"))
    if "lang" in corpus.columns:
        corpus = corpus.where(F.col("lang") == "en")
    corpus = _ensure_url(corpus)
    n_total = corpus.count()
    ids = indexer.assign_doc_ids(corpus.select("url", "text"))
    # avgdl for block-max weights, from a deterministic url-hash sample of
    # ~AVGDL_SAMPLE_DOCS docs (xxhash64(url) % K == 0): uniform over the
    # corpus, unlike a doc_id prefix (one site at web scale), and exact
    # under the cap, where K == 1.  Every part records it in the manifest.
    sample_mod = max(1, n_total // AVGDL_SAMPLE_DOCS)
    sample = ids
    if sample_mod > 1:
        sample = ids.where(
            F.pmod(F.xxhash64(F.col("url")), F.lit(sample_mod)) == 0
        )
    n_sample = n_total if sample_mod == 1 else sample.count()
    avgdl = indexer.mean_doc_length(indexer.build_postings(sample), n_sample)
    cp = checkpoint.IndexCheckpointer(
        args.out, docs_per_part=args.docs_per_part
    )
    written = cp.build(ids, avgdl=avgdl)
    meta = cp.finish(spark)
    print(
        json.dumps(
            {
                "built_partitions": [w.part_id for w in written],
                "committed_total": len(cp.committed_parts()),
                **meta,
            }
        )
    )


def cmd_query(args) -> None:
    # one-shot batch query: IndexServer with preload_stats=False pushes a
    # per-query isin filter into the term-stats sidecar scan (a 10^9-term
    # vocabulary never reaches the driver); phrase queries take the
    # metadata-pruned positional path.  Output is the hw1 result format
    # query \t docid \t title \t score (hw1 ScoredDocument asString).
    from websearchengine_spark.serving import IndexServer

    spark = _spark(args.cpus)
    srv = IndexServer(spark, args.index, preload_stats=False)
    for doc_id, title, score in srv.query(args.q, k=args.k, mode=args.mode):
        print(f"{args.q}\t{doc_id}\t{title}\t{score:.6f}")


def cmd_serve(args) -> None:
    # S10 resident HTTP endpoint (SearchEngine.java:200-218 analogue):
    # segments cached, term stats preloaded into the in-memory serve map,
    # GET /search?query=...&ranker=...&num=...&format=text|html
    import threading

    from websearchengine_spark.serving import IndexServer, serve

    spark = _spark(args.cpus)
    srv = IndexServer(spark, args.index, preload_stats=True)
    httpd = serve(srv, port=args.port, background=True)
    print(
        json.dumps({"serving": "/search", "port": httpd.server_address[1]}),
        flush=True,
    )
    threading.Event().wait()  # serve until killed


def cmd_merge(args) -> None:
    from websearchengine_spark.operators import checkpoint, merge

    spark = _spark(args.cpus)
    base = checkpoint.IndexCheckpointer.open(args.base)
    out = checkpoint.IndexCheckpointer(
        args.out, docs_per_part=base.docs_per_part
    )
    meta = merge.merge_indexes(
        spark, base, checkpoint.IndexCheckpointer.open(args.delta), out
    )
    print(json.dumps({"out": args.out, **meta}))


def cmd_mine(args) -> None:
    from websearchengine_spark.operators import indexer, mining

    spark = _spark(args.cpus)
    corpus = spark.read.parquet(args.corpus)
    ids = indexer.assign_doc_ids(corpus.select("url", "html", "text"))
    links = mining.extract_links(ids)
    edges = mining.build_edges(ids, links)
    pr = mining.pagerank(ids.select("doc_id"), edges)
    pr.write.mode("overwrite").parquet(os.path.join(args.out, "page_rank"))
    edges.write.mode("overwrite").parquet(os.path.join(args.out, "edges"))
    print(json.dumps({"docs": ids.count(), "edges": edges.count()}))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="websearchengine_spark")
    ap.add_argument("--cpus", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--format", default="parquet",
                   choices=["parquet", "warc"])
    b.add_argument("--docs-per-part", type=int, default=1 << 16)
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", default="conjunctive",
                   choices=["conjunctive", "disjunctive"])
    q.set_defaults(fn=cmd_query)

    m = sub.add_parser("merge")
    m.add_argument("--base", required=True)
    m.add_argument("--delta", required=True)
    m.add_argument("--out", required=True)
    m.set_defaults(fn=cmd_merge)

    g = sub.add_parser("mine")
    g.add_argument("--corpus", required=True)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_mine)

    pl = sub.add_parser("pipeline")
    pl.add_argument("--corpus", required=True)
    pl.add_argument("--out", required=True)
    pl.add_argument("--format", default="parquet",
                    choices=["parquet", "warc"])
    pl.add_argument("--lang", default="en")
    pl.add_argument("--boilerplate-min-docs", type=int, default=5)
    pl.add_argument("--minhash-threshold", type=float, default=0.7)
    pl.add_argument("--max-rep", type=float, default=0.2)
    pl.add_argument("--min-tokens", type=int, default=5)
    pl.add_argument("--max-ppl", type=float, default=None)
    pl.add_argument("--budget", type=int, default=2048)
    pl.add_argument("--gopher", action="store_true",
                    help="add the Gopher static rule battery to the "
                    "stage-5 quality filter")
    pl.add_argument("--gopher-min-stops", type=int, default=2,
                    help="stopword-presence floor for the gopher rule "
                    "battery (corpus-dependent; 0 disables the rule)")
    pl.add_argument("--classifier-threshold", type=float, default=None,
                    help="train the hashed linear classifier on the "
                    "corpus's rule labels and keep docs with score >= T")
    pl.add_argument("--split", action="store_true",
                    help="stamp a leak-safe train/val/test column on "
                    "the output corpus (hash-deterministic per doc_id)")
    pl.add_argument("--bpe-report", action="store_true",
                    help="train BPE on the final corpus and report its "
                    "subword token budget")
    pl.add_argument("--seen-history", default=None,
                    help="parquet corpus of previously-ingested docs "
                    "(e.g. a previous run's out/corpus); docs already "
                    "seen are bloom-filtered out before stage 1 — keyed "
                    "by url when both corpora carry one, else raw text; "
                    "the filter is auto-sized to the history count")
    pl.set_defaults(fn=cmd_pipeline)

    e = sub.add_parser("export")
    e.add_argument("--corpus", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--wet", action="store_true")
    e.add_argument("--lang", default="en")
    e.set_defaults(fn=cmd_export)

    s = sub.add_parser("serve")
    s.add_argument("--index", required=True)
    s.add_argument("--port", type=int, default=25805)  # reference default
    s.set_defaults(fn=cmd_serve)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
