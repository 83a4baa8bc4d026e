"""Structured Streaming: file-source + availableNow trigger, asserting the
streaming results equal the batch computation on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_src"))
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").coalesce(
        2
    ).write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, stream_df, cp_dir, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_stream_equals_batch(spark, events_dir, tmp_path):
    from websearchengine_spark.streaming import stream

    batch = spark.read.parquet(events_dir)
    schema = batch.schema
    streaming = spark.readStream.schema(schema).parquet(events_dir)

    got = _run_stream(
        spark,
        stream.windowed_event_counts(streaming),
        str(tmp_path / "cp1"),
        "win_counts",
    ).collect()
    want = stream.windowed_event_counts(batch).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def test_session_windows_stream_equals_batch(spark, events_dir, tmp_path):
    from websearchengine_spark.streaming import stream

    batch = spark.read.parquet(events_dir)
    streaming = spark.readStream.schema(batch.schema).parquet(events_dir)

    got = _run_stream(
        spark,
        stream.session_windows(streaming),
        str(tmp_path / "cp2"),
        "sessions",
    ).collect()
    want = stream.session_windows(batch).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def test_incremental_index_stream_builds_manifest(spark, tmp_path):
    from websearchengine_spark.operators import checkpoint
    from websearchengine_spark.sources import fixture
    from websearchengine_spark.streaming import stream

    src = str(tmp_path / "corpus_src")
    fixture.corpus_df(spark, 40).where(F.col("lang") == "en").coalesce(
        2
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    streaming = spark.readStream.schema(batch.schema).parquet(src)

    out = str(tmp_path / "idx_out")
    writer = stream.incremental_index_query(
        streaming,
        out_dir=out,
        spark_checkpoint_dir=str(tmp_path / "cp3"),
        avgdl=100.0,
        docs_per_part=32,
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)

    cp = checkpoint.IndexCheckpointer(out, docs_per_part=32)
    lineage = cp.lineage()
    assert lineage, "no partitions committed by the stream"
    segs = cp.segments(spark)
    assert segs.count() > 0
    # postings decode back out of the stream-built segments
    from websearchengine_spark.operators import indexer

    decoded = indexer.decode_segments(segs)
    assert decoded.where(F.col("tf") <= 0).count() == 0
    # every micro-batch finishes the index, so it can be served as is
    from websearchengine_spark.serving import IndexServer

    urls = {r.url for r in batch.select("url").collect()}
    got = IndexServer(spark, out, preload_stats=False).query(
        "web search", mode="disjunctive"
    )
    assert got and all(title in urls for _, title, _ in got)


def test_ctr_state_stream_equals_batch_fold(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): CTR state must
    evolve across MULTIPLE micro-batches exactly like the batch ordered
    fold (and like a pure-Python sequential replay)."""
    from websearchengine_spark.operators import ads
    from websearchengine_spark.streaming import stream

    # deterministic impressions over 2 keys, written as 3 time-ordered
    # files so maxFilesPerTrigger=1 yields 3 micro-batches
    rows = []
    eid = 0
    for t in range(30):
        key = ("web", "acme_1") if t % 3 else ("data", "hooli_2")
        rows.append((key[0], key[1], t % 4 != 0, t * 10.0, eid))
        eid += 1
    src = str(tmp_path / "imps")
    schema = (
        "keyword string, ad_key string, clicked boolean, ts double, "
        "event_id long"
    )
    for part in range(3):
        spark.createDataFrame(rows[part * 10 : part * 10 + 10], schema)\
            .coalesce(1).write.mode("append").parquet(src)

    stream_df = stream.ctr_state_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("ctr_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted row per key = final state
    out = spark.sql(
        "SELECT keyword, ad_key, ctr, n_impressions FROM ctr_stream"
    ).collect()
    final = {}
    for r in out:  # memory sink appends update rows in emit order
        final[(r.keyword, r.ad_key)] = (r.ctr, r.n_impressions)

    batch = {
        (r.keyword, r.ad_key): (r.ctr, r.n_impressions)
        for r in ads.ctr_fold(spark.read.parquet(src)).collect()
    }
    # pure-Python sequential replay (the reference's serve loop)
    want = {}
    for kw, ak, clicked, ts, _ in sorted(rows, key=lambda x: (x[3], x[4])):
        ctr, n = want.get((kw, ak), (0.1, 0))
        ctr = min(1.0, ctr + ctr / 10 if clicked else ctr - ctr / 10)
        want[(kw, ak)] = (ctr, n + 1)

    assert set(final) == set(want) == set(batch)
    for k in want:
        assert final[k][0] == pytest.approx(want[k][0], rel=1e-12), k
        assert batch[k][0] == pytest.approx(want[k][0], rel=1e-12), k
        assert final[k][1] == want[k][1] == batch[k][1]


def test_dedup_exact_stream_equals_batch(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on the content
    hash) must keep exactly one row per distinct text — same key set as
    the batch twin."""
    import datetime

    from websearchengine_spark.streaming import stream

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    texts = [f"document body number {i % 7}" for i in range(25)]  # 7 distinct
    for i, tx in enumerate(texts):
        rows.append((i, tx, t0 + datetime.timedelta(seconds=i)))
    src_dir = str(tmp_path / "dd_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, ingest_ts timestamp"
    ).coalesce(2).write.mode("overwrite").parquet(src_dir)

    batch = spark.read.parquet(src_dir)
    streaming = spark.readStream.schema(batch.schema).parquet(src_dir)

    q = (
        stream.dedup_exact_stream(streaming)
        .writeStream.format("memory")
        .queryName("dd_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dd_stream").collect()
    want = stream.dedup_exact_stream(batch).collect()
    assert sorted(r.content_hash for r in got) == sorted(
        r.content_hash for r in want
    )
    assert len(got) == 7  # one survivor per distinct text
    assert len({r.text for r in got}) == 7


def test_warc_ingest_stream_equals_batch(spark, tmp_path):
    """Watch-the-crawl-directory ingestion: the streaming WARC source
    (binaryFile file stream + the same per-file parser) must surface
    exactly the batch reader's corpus rows, across files arriving in
    separate micro-batches."""
    from websearchengine_spark.sources import fixture as fx
    from websearchengine_spark.sources import warc

    en = fx.corpus_df(spark, 24).where("lang = 'en'")
    wdir = tmp_path / "crawl"
    wdir.mkdir()
    # two "crawl drops": first half, then second half
    halves = [
        en.where("xxhash64(url) % 2 = 0"),
        en.where("xxhash64(url) % 2 != 0"),
    ]
    out = tmp_path / "landed"
    cp = tmp_path / "cp"
    for i, h in enumerate(halves):
        warc.write_warc(
            h.selectExpr(f"xxhash64(url) AS doc_id", "url",
                         "html AS text"),
            str(wdir / f"drop{i}"),
            http_content_type="text/html",
        ).collect()
        stream = warc.read_warc_stream(spark, str(wdir) + "/*")
        q = (
            warc.records_to_corpus(stream)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(cp))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = spark.read.parquet(str(out)).orderBy("url").collect()
    want = en.selectExpr("url", "text").orderBy("url").collect()
    assert [(r.url, r.text) for r in got] == [(r.url, r.text) for r in want]


def test_seen_filter_stream_equals_batch(spark, tmp_path):
    """Streaming bloom seen filter: a crawl stream probed against a
    static history bloom must flag exactly the rows the batch probe
    flags (the hashlib position computation is
    expression-for-expression the md5_60 double-hash family), with no
    watermark and no state store — and every history text must come
    back maybe_seen (no false negatives across the two hash
    implementations)."""
    from websearchengine_spark.operators import corpus_stats
    from websearchengine_spark.streaming import stream

    hist = spark.createDataFrame(
        [(i, f"historical page {i}") for i in range(40)],
        "doc_id long, text string",
    )
    bloom = corpus_stats.bloom_build(
        hist.select(F.col("text").alias("key"))
    )

    rows = [(100 + i, f"fresh page {i}") for i in range(40)] + [
        (200 + i, f"historical page {i}") for i in range(0, 40, 4)
    ]
    src_dir = str(tmp_path / "seen_src")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        2
    ).write.mode("overwrite").parquet(src_dir)
    batch = spark.read.parquet(src_dir)

    q = (
        stream.seen_filter_stream(
            spark.readStream.schema(batch.schema).parquet(src_dir), bloom
        )
        .writeStream.format("memory")
        .queryName("seen_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "seen_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.maybe_seen
        for r in spark.sql("SELECT * FROM seen_stream").collect()
    }
    want = {
        r.doc_id: r.maybe_seen
        for r in corpus_stats.bloom_probe(
            bloom, batch.select("doc_id", F.col("text").alias("key"))
        ).collect()
    }
    assert got == want and len(got) == 50
    for i in range(0, 40, 4):
        assert got[200 + i] is True  # planted history copies flagged


def test_quality_filter_stream_equals_batch(spark, tmp_path):
    """Stateless learned-quality filter: the trained weights fold into a
    map-side expression, so the streaming filter needs no state store
    and must keep exactly the rows the batch twin keeps — same
    expression, same rows, same scores."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators import quality_model as qm
    from websearchengine_spark.streaming import stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = qm.train_lr(qm.hashed_features(docs), qm.rule_labels(docs))

    src_dir = str(tmp_path / "qf_src")
    docs.select("doc_id", "text").coalesce(2).write.mode(
        "overwrite"
    ).parquet(src_dir)
    batch = spark.read.parquet(src_dir)

    q = (
        stream.quality_filter_stream(
            spark.readStream.schema(batch.schema).parquet(src_dir),
            w,
            threshold=0.5,
        )
        .writeStream.format("memory")
        .queryName("qf_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "qf_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.score
        for r in spark.sql("SELECT * FROM qf_stream").collect()
    }
    want = {
        r.doc_id: r.score
        for r in stream.quality_filter_stream(
            batch, w, threshold=0.5
        ).collect()
    }
    assert got == want and 0 < len(got) < docs.count()
