"""Resumable-build (checkpoint lineage, kill/restart) tests — north_star
gates.  The index merge is tested end to end in tests/test_cli.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from websearchengine_spark.operators import checkpoint, indexer


def _seg_rows(df):
    cols = [
        "term", "chunk", "block_seq", "n_docs", "first_doc_id", "last_doc_id",
        "doc_gap_bytes", "tf_bytes", "dl_bytes", "pos_bytes",
        "block_max_tf", "sum_tf",
    ]
    rows = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(rows)


@pytest.fixture(scope="module")
def corpus_ids(spark):
    from websearchengine_spark.sources import fixture

    df = fixture.corpus_df(spark, 64).where(F.col("lang") == "en")
    return indexer.assign_doc_ids(df, n_parts=4).cache()


@pytest.fixture(scope="module")
def single_shot(corpus_ids):
    postings = indexer.build_postings(corpus_ids)
    return indexer.build_segments(postings, avgdl=100.0, chunk_docs=16)


def test_incremental_equals_single_shot(spark, corpus_ids, single_shot, tmp_path):
    cp = checkpoint.IndexCheckpointer(
        str(tmp_path / "idx"), docs_per_part=32, chunk_docs=16
    )
    written = cp.build(corpus_ids, avgdl=100.0)
    assert len(written) == len(cp.committed_parts()) >= 2
    # lineage rows carry real metrics
    for lin in written:
        assert lin.n_docs > 0 and lin.n_segments > 0 and lin.posting_bytes > 0
        assert lin.doc_lo // 32 == lin.part_id
    got = _seg_rows(cp.segments(spark))
    want = _seg_rows(single_shot)
    assert got == want


def test_kill_and_resume(spark, corpus_ids, single_shot, tmp_path):
    cp = checkpoint.IndexCheckpointer(
        str(tmp_path / "idx2"), docs_per_part=32, chunk_docs=16
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.build(corpus_ids, avgdl=100.0, fail_after_parts=1)
    assert len(cp.committed_parts()) == 1

    # restart: a NEW checkpointer over the same dir resumes, skipping
    # committed partitions
    cp2 = checkpoint.IndexCheckpointer(
        str(tmp_path / "idx2"), docs_per_part=32, chunk_docs=16
    )
    more = cp2.build(corpus_ids, avgdl=100.0)
    assert all(m.part_id != 0 for m in more)
    assert _seg_rows(cp2.segments(spark)) == _seg_rows(single_shot)
    # seq numbers are contiguous across the restart
    seqs = sorted(p.seq for p in cp2.lineage())
    assert seqs == list(range(len(seqs)))


def test_resume_at_another_avgdl_refused(spark, corpus_ids, tmp_path):
    """Each manifest line records the avgdl its block-max weights were
    encoded at; a resume at another avgdl would mix the bounds of two
    avgdls in one index, so it is refused and commits nothing."""
    cp = checkpoint.IndexCheckpointer(
        str(tmp_path / "idx3"), docs_per_part=32, chunk_docs=16
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.build(corpus_ids, avgdl=100.0, fail_after_parts=1)
    assert [lin.avgdl for lin in cp.lineage()] == [100.0]
    with pytest.raises(ValueError, match="avgdl"):
        cp.build(corpus_ids, avgdl=90.0)
    assert len(cp.committed_parts()) == 1
    cp.build(corpus_ids, avgdl=100.0)
    assert {lin.avgdl for lin in cp.lineage()} == {100.0}
    assert len(cp.committed_parts()) >= 2


def test_part_directory_is_flat(spark, corpus_ids, tmp_path):
    """A committed part is one directory of term-sorted parquet files:
    no sub-partition directories, and the read-back table is the segment
    schema plus the ``part`` key."""
    out = tmp_path / "flat"
    cp = checkpoint.IndexCheckpointer(str(out), docs_per_part=32, chunk_docs=16)
    cp.build(corpus_ids, avgdl=100.0)
    for part in cp.committed_parts():
        entries = os.listdir(out / "segments" / f"part={part}")
        assert entries and not [e for e in entries if e.startswith("bucket=")]
    assert cp.segments(spark).columns == (
        indexer.SEGMENT_SCHEMA.fieldNames() + ["part"]
    )
    assert cp.docs(spark).columns == ["doc_id", "title", "part"]


def test_misaligned_chunk_rejected(tmp_path):
    with pytest.raises(ValueError, match="multiple of chunk_docs"):
        checkpoint.IndexCheckpointer(
            str(tmp_path / "bad"), docs_per_part=24, chunk_docs=16
        )
