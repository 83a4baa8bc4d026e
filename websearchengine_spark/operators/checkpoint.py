"""Incremental, resumable index build with per-partition lineage: the one
writer of an index directory.

north_star contract (BASELINE.json): "per-partition checkpoints record
lineage (input snapshot, partition range, posting bytes, term counts) so a
killed job restarts from the last committed partition, and segment-merge
compacts partial indexes without re-tokenizing".

Index directory: per committed part ``segments/part=<id>/`` and
``docs/part=<id>/`` (doc_id, title = url), one ``manifest.jsonl`` lineage
line per part (with the avgdl its blocks were encoded at), and the two
sidecars ``finish`` derives: ``term_stats/`` from the segments and
``stats.json`` from the manifest.  ``cli build``, ``cli merge`` and the
stream writer all commit parts here and finish, so every index they write
can be served (``IndexCheckpointer.open``) and merged again.

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
  (tested).
- A commit is: the segment and docs writes complete, THEN a lineage line
  is appended to ``out/manifest.jsonl``.  A crash before the append
  leaves orphan directories that are overwritten on retry (idempotent).
  Restart = read manifest, skip committed part_ids.
- The reference analogue is the every-1000-docs spill + mergeAll cycle
  (IndexerInvertedCompressed.java:124-143, :301-359); here each "spill" is
  durable, attributed, and restartable.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators import indexer

MANIFEST = "manifest.jsonl"
STATS = "stats.json"
TERM_STATS = "term_stats"


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
    avgdl: float  # the avgdl the part's block-max weights were encoded at

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
        self.stats: dict | None = None  # stats.json, once opened or finished
        os.makedirs(out_dir, exist_ok=True)

    @classmethod
    def open(cls, index_dir: str) -> "IndexCheckpointer":
        """The checkpointer of a finished index directory, at the part
        width its ``stats.json`` records (held in ``.stats``)."""
        with open(os.path.join(index_dir, STATS)) as f:
            stats = json.load(f)
        cp = cls(index_dir, docs_per_part=stats["docs_per_part"])
        cp.stats = stats
        return cp

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

    def _part_path(self, table: str, part: int) -> str:
        return os.path.join(self.out_dir, table, f"part={part}")

    # -- write -------------------------------------------------------------

    def build(
        self,
        docs: DataFrame,
        avgdl: float,
        fail_after_parts: int | None = None,
        postings_of=None,
    ) -> list[PartitionLineage]:
        """Commit every uncommitted partition of ``docs`` (doc_id, url,
        ...); returns lineage rows written THIS call.  A part's segments
        encode ``postings_of(<its docs rows>)`` (default
        ``indexer.build_postings``) at ``avgdl``, which each manifest line
        records: a resume at another avgdl is refused.
        ``fail_after_parts`` injects a crash after N commits
        (restart/resume tests)."""
        done = self.lineage()
        other = sorted({lin.avgdl for lin in done} - {avgdl})
        if other:
            raise ValueError(
                f"cannot resume at avgdl {avgdl}: the committed parts were "
                f"encoded at {other}"
            )
        dpp = self.docs_per_part
        part_of = (F.col("doc_id") / F.lit(dpp)).cast("long").alias("part_id")
        parts = {r.part_id for r in docs.select(part_of).distinct().collect()}
        todo = sorted(parts - {lin.part_id for lin in done})
        written: list[PartitionLineage] = []
        for i, part in enumerate(todo):
            if fail_after_parts is not None and i >= fail_after_parts:
                raise RuntimeError(f"injected failure before part {part}")
            lo = part * dpp
            sub = docs.where(F.col("doc_id").between(lo, lo + dpp - 1))
            postings = (postings_of or indexer.build_postings)(sub)
            lin = self._commit_one(sub, postings, part, avgdl, len(done) + i)
            self._append(lin)
            written.append(lin)
        return written

    def _commit_one(
        self, sub: DataFrame, postings: DataFrame, part, avgdl, seq
    ) -> PartitionLineage:
        spark = sub.sparkSession
        seg_path = self._part_path("segments", part)
        indexer.build_segments(
            postings,
            avgdl=avgdl,
            chunk_docs=self.chunk_docs,
            block_docs=self.block_docs,
        ).write.mode("overwrite").parquet(seg_path)
        docs_path = self._part_path("docs", part)
        sub.select("doc_id", F.col("url").alias("title")).write.mode(
            "overwrite"
        ).parquet(docs_path)

        # lineage metrics from what was written (one scan of each small
        # table, not the corpus)
        agg = spark.read.parquet(seg_path).agg(
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
        docs_agg = spark.read.parquet(docs_path).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("dlo"),
            F.max("doc_id").alias("dhi"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.count(F.lit(1)).cast("string"),
                    # xor-fold, order-independent, no ANSI overflow
                    F.expr("bit_xor(xxhash64(title))").cast("string"),
                )
            ).alias("fp"),
        ).head()
        return PartitionLineage(
            part_id=int(part),
            doc_lo=int(docs_agg.dlo),
            doc_hi=int(docs_agg.dhi),
            n_docs=int(docs_agg.n_docs),
            n_postings=int(agg.n_postings or 0),
            n_segments=int(agg.n_segments or 0),
            n_terms=int(agg.n_terms or 0),
            posting_bytes=int(agg.posting_bytes or 0),
            sum_tf=int(agg.sum_tf or 0),
            input_fingerprint=str(docs_agg.fp),
            seq=seq,
            avgdl=avgdl,
        )

    def finish(self, spark: SparkSession) -> dict:
        """Derive ``term_stats`` from the committed segments (n_chunks
        feeds WAND's prune decision) and ``stats.json``, returned, from the
        manifest alone: exact corpus stats, no second tokenization pass."""
        lineage = self.lineage()
        self.segments(spark).groupBy("term").agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("ctf"),
            F.count_distinct("chunk").cast("long").alias("n_chunks"),
        ).write.mode("overwrite").parquet(
            os.path.join(self.out_dir, TERM_STATS)
        )
        self.stats = {
            "num_docs": sum(lin.n_docs for lin in lineage),
            "total_terms": sum(lin.sum_tf for lin in lineage),
            "avgdl": lineage[0].avgdl,
            "docs_per_part": self.docs_per_part,
        }
        with open(os.path.join(self.out_dir, STATS), "w") as f:
            json.dump(self.stats, f)
        return self.stats

    # -- read --------------------------------------------------------------

    def _committed(self, spark: SparkSession, table: str) -> DataFrame:
        """``table`` of the committed parts (an orphan from a crash
        mid-write stays invisible), with the ``part`` key."""
        paths = [
            self._part_path(table, p) for p in sorted(self.committed_parts())
        ]
        if not paths:
            raise ValueError("no committed partitions")
        return spark.read.option(
            "basePath", os.path.join(self.out_dir, table)
        ).parquet(*paths)

    def segments(self, spark: SparkSession) -> DataFrame:
        """All committed segments."""
        return self._committed(spark, "segments")

    def docs(self, spark: SparkSession) -> DataFrame:
        """(doc_id, title) of every committed document."""
        return self._committed(spark, "docs")
