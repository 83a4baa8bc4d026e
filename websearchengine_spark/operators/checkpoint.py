"""Incremental, resumable index build with per-partition lineage.

north_star contract (BASELINE.json): "per-partition checkpoints record
lineage (input snapshot, partition range, posting bytes, term counts) so a
killed job restarts from the last committed partition, and segment-merge
compacts partial indexes without re-tokenizing".

Design
------
- The corpus is split into doc_id ranges: ``part_id = doc_id // docs_per_part``.
  doc_ids are deterministic (indexer.assign_doc_ids), so partition membership
  is stable across restarts and cluster sizes.
- Each partition is one bounded Spark job: tokenize -> map-side postings ->
  compressed segments -> parquet files directly under
  ``out/segments/part=<id>/``.  Rows in each file are sorted by
  ``(term, chunk, block_seq)``, so a pushed ``term`` filter skips the row
  groups whose min/max ``term`` statistics exclude it.  A file holds a
  hash share of all terms, so a one-row-group file is never skipped.
- ``docs_per_part`` must be a multiple of the segment ``chunk_docs`` so the
  (term, chunk) groups of a partition never straddle partitions — the
  incremental output is then byte-identical to a single-shot build
  (tested), and compaction never has to re-tokenize.
- A commit is: parquet write completes, THEN a lineage line is appended to
  ``out/manifest.jsonl``.  A crash between the two leaves an orphan
  directory that is overwritten on retry (idempotent).  Restart = read
  manifest, skip committed part_ids.
- The reference analogue is the every-1000-docs spill + mergeAll cycle
  (IndexerInvertedCompressed.java:124-143, :301-359); here each "spill" is
  durable, attributed, and restartable.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators import indexer

MANIFEST = "manifest.jsonl"


@dataclass
class PartitionLineage:
    part_id: int
    doc_lo: int
    doc_hi: int  # inclusive
    n_docs: int
    n_postings: int
    n_segments: int
    n_terms: int
    posting_bytes: int
    sum_tf: int
    input_fingerprint: str
    seq: int

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)


class IndexCheckpointer:
    def __init__(
        self,
        out_dir: str,
        docs_per_part: int = 1 << 16,
        chunk_docs: int | None = None,
        block_docs: int | None = None,
    ):
        self.out_dir = out_dir
        self.docs_per_part = docs_per_part
        self.chunk_docs = chunk_docs or min(
            indexer.DEFAULT_CHUNK_DOCS, docs_per_part
        )
        if docs_per_part % self.chunk_docs != 0:
            raise ValueError(
                "docs_per_part must be a multiple of chunk_docs so segment "
                "(term, chunk) groups never straddle checkpoint partitions"
            )
        from websearchengine_spark.functions import codec

        self.block_docs = block_docs or codec.BLOCK_DOCS
        os.makedirs(out_dir, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.out_dir, MANIFEST)

    def lineage(self) -> list[PartitionLineage]:
        if not os.path.exists(self.manifest_path):
            return []
        out = []
        with open(self.manifest_path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(PartitionLineage(**json.loads(line)))
        return out

    def committed_parts(self) -> set[int]:
        return {p.part_id for p in self.lineage()}

    def _append(self, row: PartitionLineage) -> None:
        with open(self.manifest_path, "a") as f:
            f.write(row.to_json() + "\n")
            f.flush()
            os.fsync(f.fileno())

    # -- build -------------------------------------------------------------

    def build(
        self,
        corpus_with_ids: DataFrame,
        avgdl: float,
        fail_after_parts: int | None = None,
    ) -> list[PartitionLineage]:
        """Build every uncommitted partition; returns lineage rows written
        THIS call.  ``fail_after_parts`` injects a crash after N commits
        (restart/resume tests).  ``avgdl`` is the collection-level estimate
        used for block-max weights — pass the same value on resume (it is
        recorded in the manifest rows via the fingerprint)."""
        dpp = self.docs_per_part
        spark = corpus_with_ids.sparkSession
        parts_df = (
            corpus_with_ids.select(
                (F.col("doc_id") / F.lit(dpp)).cast("long").alias("part_id")
            )
            .groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        all_parts = {r.part_id: r.n for r in parts_df.collect()}
        done = self.committed_parts()
        todo = sorted(set(all_parts) - done)
        seq = len(done)
        written: list[PartitionLineage] = []
        for i, part in enumerate(todo):
            if fail_after_parts is not None and i >= fail_after_parts:
                raise RuntimeError(f"injected failure before part {part}")
            lin = self._build_one(corpus_with_ids, part, avgdl, seq + i)
            self._append(lin)
            written.append(lin)
        return written

    def _build_one(
        self, corpus: DataFrame, part: int, avgdl: float, seq: int
    ) -> PartitionLineage:
        dpp = self.docs_per_part
        lo, hi = part * dpp, (part + 1) * dpp - 1
        sub = corpus.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
        )
        postings = indexer.build_postings(sub)
        segs = indexer.build_segments(
            postings,
            avgdl=avgdl,
            chunk_docs=self.chunk_docs,
            block_docs=self.block_docs,
        )
        path = os.path.join(self.out_dir, "segments", f"part={part}")
        segs.write.mode("overwrite").parquet(path)

        # lineage metrics from what was written (one scan of the small
        # segment table, not the corpus)
        seg_df = segs.sparkSession.read.parquet(path)
        agg = seg_df.agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count_distinct("term").alias("n_terms"),
            F.sum("n_docs").alias("n_postings"),
            F.sum("sum_tf").alias("sum_tf"),
            F.sum(
                F.length("doc_gap_bytes")
                + F.length("tf_bytes")
                + F.length("dl_bytes")
                + F.length("pos_bytes")
            ).alias("posting_bytes"),
        ).head()
        sub_agg = sub.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("dlo"),
            F.max("doc_id").alias("dhi"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.count(F.lit(1)).cast("string"),
                    # xor-fold, order-independent, no ANSI overflow
                    F.expr("bit_xor(xxhash64(url))").cast("string"),
                )
            ).alias("fp"),
        ).head()
        return PartitionLineage(
            part_id=int(part),
            doc_lo=int(sub_agg.dlo),
            doc_hi=int(sub_agg.dhi),
            n_docs=int(sub_agg.n_docs),
            n_postings=int(agg.n_postings or 0),
            n_segments=int(agg.n_segments or 0),
            n_terms=int(agg.n_terms or 0),
            posting_bytes=int(agg.posting_bytes or 0),
            sum_tf=int(agg.sum_tf or 0),
            input_fingerprint=str(sub_agg.fp),
            seq=seq,
        )

    # -- read --------------------------------------------------------------

    def segments(self, spark: SparkSession) -> DataFrame:
        """All committed segments (committed part dirs only — an orphan
        from a crash mid-write is invisible until its manifest line
        exists)."""
        parts = sorted(self.committed_parts())
        paths = [
            os.path.join(self.out_dir, "segments", f"part={p}") for p in parts
        ]
        if not paths:
            raise ValueError("no committed partitions")
        return spark.read.option(
            "basePath", os.path.join(self.out_dir, "segments")
        ).parquet(*paths)
