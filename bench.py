#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints two JSON
lines: the full record (per-query times, trials, per-mime media rates),
then, as the LAST stdout line, the compact headline::

    {"metric": "...", "value": N, "unit": "sec",
     "index_build_docs_per_sec": ..., "bm25_p95_ms": ...}

Besides per-query wall times it measures the two BASELINE.json headline
numbers:

- ``index_build_docs_per_sec`` — full pipeline (tokenize -> map-side
  posting gen -> segment encode with block-max metadata) docs/sec;
- ``bm25_p95_ms`` — p95 latency of repeated top-10 ``IndexServer.query``
  calls (the path ``GET /search`` takes) on an index ``cli build`` makes
  from the same documents.

Scaling-efficiency evidence (same job at local[8] vs local[32]) lives in
``tools/bench_scaling.py`` and is reported in BASELINE.md per the sandbox
note in SURVEY.md §6.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline subset of the registry (full list runs in the correctness gate;
# bench keeps the ones that exercise distinct execution paths)
HEADLINE = [
    "postings_tf",
    "term_stats",
    "bm25_topk",
    "ql_topk",
    "phrase_match",
    "cosine_topk",
    "dedup_exact",
    "dedup_minhash",
    "simhash_fp",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "near_dup_lsh",
    "fullscan_topk",
    "lang_id",
    "quality_score",
    "pagerank_synth",
    "events_windowed",
    "events_sessionize",
    "ctr_fold",
    "top_terms_prf",
    "ngram_counts",
    "repetition_score",
    "dedup_clusters",
    "chunk_dedup",
    "url_canonical",
    "semantic_dedup",
    "pii_redact",
    "lm_perplexity",
    "warc_roundtrip",
    "line_dedup",
    "domain_cap",
    "cms_heavy_hitters",
    "hll_distinct",
    "bloom_seen_filter",
    "gopher_rules",
    "classifier_score",
    "bpe_token_count",
    "dataset_split",
    "source_weighted_sample",
    "spearman_rank",
]


def _force(df) -> int:
    """Execute the plan with EVERY output column materialized.

    ``count()`` is not enough: Catalyst prunes aggregate expressions the
    row count doesn't need, so expensive per-group columns (quality_score,
    lang_id, ...) could be skipped and the timing would flatter us.  A
    checksum over all columns forces full evaluation JVM-side at
    negligible overhead."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"))
        .agg(F.expr("bit_xor(h)").alias("s"), F.count(F.lit(1)).alias("n"))
        .head()
    )
    return int(row.n)


def main() -> None:
    from websearchengine_spark.session import get_spark
    from websearchengine_spark.plans import registry

    t_start = time.time()
    spark = get_spark(f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    sf_guess = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf_guess)
    except ValueError:
        sf = None

    # Interleaved best-of-N (default 2): the full suite runs as N
    # round-robin passes, per-query wall is the min across passes and the
    # raw trials ride in the JSON tail — attributes run-to-run deltas to
    # plan changes instead of shared-host neighbor noise (the
    # BENCH_SCALING methodology, adopted for the headline suite per the
    # round-3 verdict).
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2")))
    trials: dict[str, list[float]] = {n: [] for n in HEADLINE if n in qs}
    for _ in range(n_trials):
        for name in trials:
            t0 = time.time()
            try:
                _force(qs[name](spark, SF_DIR))
                trials[name].append(round(time.time() - t0, 3))
            except Exception as e:  # a broken query shouldn't kill the bench
                trials[name].append(-1.0)
                print(f"bench: {name} failed: {e}", file=sys.stderr)
    times: dict[str, float] = {}
    for name, ts in trials.items():
        ok = [t for t in ts if t >= 0]
        times[name] = min(ok) if ok else -1.0

    # --- index-build throughput (docs/sec), full compressed pipeline ---
    from pyspark.sql import functions as F
    from websearchengine_spark.operators import indexer

    # small-file parquet arrives as ~1 partition: spread the tokenize
    # stage over the cores (at real scale the source table is already
    # many-splits wide)
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
            F.col("doc_id"),
        )
        .repartition(int(CPUS) * 2 if CPUS.isdigit() else 32)
    )
    n_docs = docs.count()
    t0 = time.time()
    postings = indexer.build_postings(docs).persist()
    avgdl_row = postings.agg(
        (F.sum("tf") / F.count_distinct("doc_id")).alias("avgdl")
    ).head()
    avgdl = float(avgdl_row.avgdl or 1.0)
    segs = indexer.build_segments(postings, avgdl=avgdl, chunk_docs=4096)
    seg_agg = segs.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("n_docs").alias("n_postings"),
        F.sum("sum_tf").alias("n_occurrences"),
        F.sum(
            F.length("doc_gap_bytes")
            + F.length("tf_bytes")
            + F.length("dl_bytes")
            + F.length("pos_bytes")
        ).alias("payload_bytes"),
    ).head()
    n_segments = int(seg_agg.n_segments)
    build_sec = time.time() - t0
    postings.unpersist()
    times["index_build"] = round(build_sec, 3)
    docs_per_sec = round(n_docs / build_sec, 2) if build_sec > 0 else None
    # compression: varint+delta payload bytes per posting and per
    # occurrence (positions included)
    bytes_per_posting = (
        round(seg_agg.payload_bytes / seg_agg.n_postings, 3)
        if seg_agg.n_postings
        else None
    )
    bytes_per_occurrence = (
        round(seg_agg.payload_bytes / seg_agg.n_occurrences, 3)
        if seg_agg.n_occurrences
        else None
    )

    # --- S2 extraction throughput: jsoup-identical extractor over
    # synthesized HTML (text wrapped in block/inline markup + entities) ---
    from websearchengine_spark.functions.udfs import extract_text_udf

    html_docs = docs.select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("<html><head><title>t</title></head><body><div><p>"),
                F.regexp_replace("text", " ", "</p>\n<p>"),
                F.lit("</p></div><table><tr><td>x &amp; y</td></tr></table></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    t0 = time.time()
    html_docs.select(
        F.length(extract_text_udf(F.col("html"))).alias("n")
    ).agg(F.sum("n")).head()
    ext_sec = time.time() - t0
    times["html_extract"] = round(ext_sec, 3)
    extract_docs_per_sec = round(n_docs / ext_sec, 2) if ext_sec > 0 else None

    # --- serve latency: IndexServer.query, the path /search takes, on an
    # index `cli build` makes from the same documents at its defaults ---
    import contextlib
    import io
    import tempfile

    from websearchengine_spark import cli
    from websearchengine_spark.operators import query as Q
    from websearchengine_spark.operators import score as S
    from websearchengine_spark.serving import IndexServer

    work = tempfile.TemporaryDirectory()
    docs.select("url", "text").write.parquet(f"{work.name}/corpus")
    with contextlib.redirect_stdout(io.StringIO()):  # only bench JSON on stdout
        cli.main(["build", "--corpus", f"{work.name}/corpus",
                  "--out", f"{work.name}/index"])
    srv = IndexServer(spark, f"{work.name}/index", preload_stats=True)
    queries = ["spark join", "data table", "hash merge sort", "query plan"]
    # serve metrics use the SAME interleaved best-of-N methodology as the
    # batch suite: the per-iteration latency is the min across passes,
    # raw per-pass values ride in serve_trials so run-to-run deltas
    # separate plan changes from shared-host neighbor noise
    serve_trials: dict[str, list] = {}
    srv.query(queries[0])  # plan-compilation warmup
    bm25_passes = [[], []]
    for pass_lat in bm25_passes:
        for i in range(20):
            t0 = time.time()
            srv.query(queries[i % len(queries)])
            pass_lat.append(time.time() - t0)
    lat = sorted(min(ts) for ts in zip(*bm25_passes))
    p95 = lat[max(0, int(len(lat) * 0.95) - 1)]
    times["bm25_query_p50"] = round(lat[len(lat) // 2], 3)
    times["bm25_query_p95"] = round(p95, 3)
    serve_trials["bm25"] = [
        [round(t, 3) for t in p] for p in bm25_passes
    ]
    # --- phrase serve-path A/B: full positional decode vs the served
    # chunk-pruned path.  The sf0.1 corpus is dense (31-term vocabulary,
    # every chunk holds every phrase word), so the metadata prune cannot
    # skip anything here and the cost model elects the single-pass plan —
    # the A/B verifies the serve path never pays the prune's job overhead
    # on a corpus where it can't win; the actual chunk-skipping win is
    # pytest-gated on sparse data
    # (tests/test_wand.py::test_phrase_pruned_segments_match_full_decode).
    pq = '"spark join"'
    _, _, pphrases = Q.split_tokens(pq)
    pneeded = sorted({w for p in pphrases for w in p.split()})
    flat, plat = [], []
    for _ in range(3):
        t0 = time.time()
        full_post = indexer.decode_segments(
            srv.segs.where(F.col("term").isin(pneeded)),
            with_positions=True,
        )
        S.rank_bm25(
            full_post, pq, srv.stats["num_docs"], srv.stats["avgdl"], k=10
        ).collect()
        flat.append(time.time() - t0)
        t0 = time.time()
        srv.query(pq)
        plat.append(time.time() - t0)
    times["phrase_full_p50"] = round(sorted(flat)[1], 3)
    times["phrase_pruned_p50"] = round(sorted(plat)[1], 3)
    serve_trials["phrase_full"] = [round(t, 3) for t in flat]
    serve_trials["phrase_pruned"] = [round(t, 3) for t in plat]
    srv.close()
    work.cleanup()

    # --- multimodal feature extraction: real decode (BMP/PNG/JPEG/WAV/y4m)
    # map-side via mapInPandas; count() executes the full UDF (Python runs
    # per batch regardless of projection) ---
    from websearchengine_spark.operators import multimodal as MM

    media = MM.synth_media_df(spark, 192).cache()
    n_media = media.count()
    t0 = time.time()
    MM.extract_features(media).count()
    mm_sec = time.time() - t0
    times["multimodal_features"] = round(mm_sec, 3)
    # per-kind decode throughput (round-4 verdict: media_rows_per_sec
    # moved 429 -> 266 when the codec mix got heavier, and a single
    # aggregate can't separate a codec regression from a mix change) —
    # one timed pass per mime so BENCH rounds are comparable per codec
    media_per_mime = {}
    for mime_row in media.select("mime").distinct().collect():
        sub = media.where(F.col("mime") == mime_row.mime).cache()
        n_sub = sub.count()
        t0 = time.time()
        MM.extract_features(sub).count()
        dt = time.time() - t0
        media_per_mime[mime_row.mime] = {
            "rows": n_sub,
            "sec": round(dt, 3),
            "rows_per_sec": round(n_sub / dt, 1) if dt > 0 else None,
        }
        sub.unpersist()
    media.unpersist()

    total = round(time.time() - t_start, 3)
    headline = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "index_build_docs_per_sec": docs_per_sec,
        "bm25_p95_ms": round(p95 * 1000, 1),
    }
    print(
        json.dumps(
            {
                **headline,
                "queries": times,
                "sf": sf,
                "extract_docs_per_sec": extract_docs_per_sec,
                "bytes_per_posting": bytes_per_posting,
                "bytes_per_occurrence": bytes_per_occurrence,
                "n_docs": n_docs,
                "n_segments": n_segments,
                "media_rows_per_sec": round(n_media / mm_sec, 1)
                if mm_sec > 0
                else None,
                "media_per_mime": media_per_mime,
                "cpus": CPUS,
                "bench_trials": n_trials,
                "trials": trials,
                "serve_trials": serve_trials,
            }
        )
    )
    print(json.dumps(headline))  # last line: survives a truncated tail
    spark.stop()


if __name__ == "__main__":
    main()
