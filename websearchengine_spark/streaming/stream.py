"""Structured Streaming surface (SURVEY.md §2.8: the reference has no
streaming — serving is request/response over a static index — so this
module is the Spark-native extension the build brief asks for: streaming
ingestion that reuses the SAME batch operators).

Five streaming shapes:

- windowed event aggregation with watermarked late-data handling
  (tumbling window; the batch equivalence is gated by the driver's
  ``events_windowed`` registry query);
- session windows (``F.session_window``, 30-min inactivity gap) — the
  streaming analogue of the batch ``events_sessionize`` registry query;
- stateless per-record filters against bounded broadcast state: the
  bloom seen-filter twin (``seen_filter_stream``) probes a crawl stream
  against a static historical seen-set, and the learned-quality twin
  (``quality_filter_stream``) folds trained classifier weights into one
  map-side scoring expression — both with no watermark or state store;
- incremental index build via ``foreachBatch``: each micro-batch of new
  documents runs the SAME map-side posting/segment pipeline
  (operators/indexer.py) and lands as a new committed partition through
  the checkpoint manifest, which is then finished — streaming and batch
  builds share one code path, so the streaming output can be served, and
  merges with batch indexes via operators/merge.py without re-tokenizing.

Tests drive these with file sources + ``trigger(availableNow=True)`` and
assert equality with the batch computation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """(window_start, event_type, n_events, sum_value) — tumbling-window
    counts; on a streaming input the watermark bounds state and admits
    late events up to ``watermark``."""
    # watermarks require TIMESTAMP (not NTZ); session tz is UTC so the
    # cast is value-preserving
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    w = F.window("ts", window)
    return (
        src.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """(user_id, session_start, session_end, n_events) via session_window —
    Spark's native stateful session operator; state per (user, open
    session) is bounded by the watermark."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    sw = F.session_window("ts", gap)
    return (
        src.groupBy("user_id", sw.alias("sw"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start"),
            F.unix_timestamp(F.col("sw.end")).alias("session_end"),
            "n_events",
        )
    )


def dedup_exact_stream(
    docs: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: first-seen row per md5(text) content hash.
    On a stream, ``dropDuplicatesWithinWatermark`` bounds the hash-key
    state to the watermark horizon (duplicates arriving farther apart
    than the watermark may both survive — the documented streaming-dedup
    contract); the batch twin is a plain dropDuplicates on the same hash,
    so stream == batch whenever the data fits one watermark window.
    Requires an ``ingest_ts`` timestamp column on streaming input."""
    src = docs.withColumn("content_hash", F.md5(F.col("text")))
    if src.isStreaming:
        src = src.withWatermark(
            "ingest_ts", watermark
        ).dropDuplicatesWithinWatermark(["content_hash"])
    else:
        src = src.dropDuplicates(["content_hash"])
    return src


def seen_filter_stream(
    docs: DataFrame,
    bloom: DataFrame,
    m: int | None = None,
    k: int | None = None,
    key_col: str = "text",
) -> DataFrame:
    """Streaming twin of ``corpus_stats.bloom_probe``: filter a crawl
    STREAM against a static historical seen-set without state.

    The batch probe is a broadcast join + bool_and aggregation; a
    streaming aggregation would force watermarks and update-mode.  This
    twin exploits the filter's bound instead: the bloom DataFrame is
    ≤ m/64 rows BY CONSTRUCTION, so it collapses to one driver-side
    bitmap (a bounded collect, same class as the serve path's term-stats
    map) shipped once as a broadcast, and the probe becomes a STATELESS
    Arrow-batched map — hashlib md5 computes positions
    expression-for-expression equal to the md5_60 double-hash family, so
    stream == batch exactly.  No watermark, no state store, append-mode;
    works identically on a batch DataFrame.

    Returns docs + (maybe_seen, is_kept)."""
    from pyspark.sql import SparkSession

    from websearchengine_spark.operators import corpus_stats

    if m is None:
        m = corpus_stats.BLOOM_M
    if k is None:
        k = corpus_stats.BLOOM_K
    words = [0] * (m // 64)
    for r in bloom.collect():  # bounded: <= m/64 rows by construction
        if r.word is None or r.bits is None:
            continue  # a NULL history key contributes no positions
        words[r.word] = r.bits & 0xFFFFFFFFFFFFFFFF
    spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(words)
    mm, kk = m, k

    @F.pandas_udf("boolean")
    def _seen(keys: pd.Series) -> pd.Series:
        import hashlib

        w = bc.value
        out = []
        for s in keys:
            if s is None:
                # batch parity: a NULL key hashes to NULL positions and
                # never matches the filter -> not seen, kept
                out.append(False)
                continue
            b = str(s).encode("utf-8")
            h1 = int(hashlib.md5(b).hexdigest()[:15], 16) % mm
            h2 = (
                int(hashlib.md5(b + b"|b").hexdigest()[:15], 16) % mm
            ) | 1
            hit = True
            for i in range(kk):
                pos = (h1 + i * h2) % mm
                if not (w[pos >> 6] >> (pos & 63)) & 1:
                    hit = False
                    break
            out.append(hit)
        return pd.Series(out)

    probed = docs.withColumn("maybe_seen", _seen(F.col(key_col)))
    return probed.withColumn("is_kept", ~F.col("maybe_seen"))


CTR_OUT_SCHEMA = (
    "keyword string, ad_key string, ctr double, n_impressions long"
)
CTR_STATE_SCHEMA = "ctr double, n long"


def ctr_state_stream(impressions: DataFrame, prior: float = 0.1) -> DataFrame:
    """R11 as a CUSTOM STATEFUL streaming operator
    (``applyInPandasWithState``): per-(keyword, ad_key) state carries the
    evolving CTR across micro-batches; within a batch impressions apply
    the reference's sequential update — ctr = min(1.0, ctr ± ctr/10),
    0.1 prior for unseen keys (AdsRanker.java:345-377,
    QueryHandler.java:236-257) — in (ts, event_id) event order.  Emits
    the key's post-batch CTR each time it changes (update mode).

    State is two scalars per live (keyword, ad_key), so memory is bounded
    by the active ad-keyword universe, not the impression volume.  The
    batch replay twin (same math over a static table) is
    operators/ads.ctr_fold; stream == batch is a test gate."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        ctr, n = (state.get if state.exists else (prior, 0))
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        for clicked in rows["clicked"]:
            ctr = min(1.0, ctr + ctr / 10 if clicked else ctr - ctr / 10)
            n += 1
        state.update((float(ctr), int(n)))
        yield pd.DataFrame(
            {
                "keyword": [key[0]],
                "ad_key": [key[1]],
                "ctr": [ctr],
                "n_impressions": [n],
            }
        )

    return impressions.groupBy("keyword", "ad_key").applyInPandasWithState(
        fn,
        CTR_OUT_SCHEMA,
        CTR_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def incremental_index_query(
    corpus_stream: DataFrame,
    out_dir: str,
    spark_checkpoint_dir: str,
    avgdl: float,
    docs_per_part: int = 1 << 16,
):
    """Streaming index build: every micro-batch is tokenized/encoded with
    the batch pipeline, committed through the lineage manifest and
    finished, so the index can be served after any batch.  Returns the
    (unstarted) DataStreamWriter; caller picks the trigger.

    doc_ids in a streaming context come from the batch's dense range:
    each micro-batch claims the range after the current manifest maximum —
    deterministic given the arrival order of batches."""
    from websearchengine_spark.operators import checkpoint, indexer

    cp = checkpoint.IndexCheckpointer(out_dir, docs_per_part=docs_per_part)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        committed = cp.lineage()
        base = max((l.doc_hi + 1 for l in committed), default=0)
        # align the batch to fresh partition ranges after `base`
        start_part = (base + docs_per_part - 1) // docs_per_part
        # n_parts from the session's defaultParallelism (assign_doc_ids
        # default) — a hardcoded width would cap every micro-batch's
        # tokenize stage regardless of cluster size
        ids = indexer.assign_doc_ids(batch_df).withColumn(
            "doc_id", F.col("doc_id") + F.lit(start_part * docs_per_part)
        )
        cp.build(ids, avgdl=avgdl)
        cp.finish(batch_df.sparkSession)

    return (
        corpus_stream.writeStream.outputMode("update")
        .option("checkpointLocation", spark_checkpoint_dir)
        .foreachBatch(_process)
    )


def quality_filter_stream(
    docs: DataFrame, weights, threshold: float, dim: int | None = None
) -> DataFrame:
    """Stateless learned-quality filter over a document stream: the
    trained classifier's weights fold into one map-side scoring
    expression (quality_model.score_text_expr — the margin needs no
    feature table at apply time), so there is no watermark, no state
    store, and stream == batch row-for-row.  Works identically on a
    static DataFrame (the batch twin the test compares against)."""
    from websearchengine_spark.operators import quality_model as qm

    score = qm.score_text_expr(
        weights, qm.CLF_DIM if dim is None else dim
    )
    return docs.select("*", score.alias("score")).where(
        F.col("score") >= threshold
    )
