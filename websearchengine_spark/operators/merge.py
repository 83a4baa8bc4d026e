"""Segment-merge compaction WITHOUT re-tokenizing (north_star; the
reference's mergeAll, IndexerInvertedCompressed.java:301-359, re-reads and
concatenates partial text indexes — we do the same at segment level).

Because segment groups are keyed by ``(term, chunk)`` with chunk = doc_id
range, two independently-built indexes over DISJOINT doc_id ranges merge by
pure union — zero decode work.  Only colliding ``(term, chunk)`` groups
(same doc range indexed in both inputs, e.g. a re-crawl delta) need decode
-> concat -> re-encode, and only those groups are touched: the merge cost
is proportional to the overlap, not the index size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from websearchengine_spark.operators import indexer

_KEY = ["term", "chunk"]


def merge_segments(
    base: DataFrame,
    delta: DataFrame,
    avgdl: float,
    chunk_docs: int = indexer.DEFAULT_CHUNK_DOCS,
    block_docs: int | None = None,
) -> DataFrame:
    """Merged segment table equivalent to building from the union of the
    two inputs' postings.  Pass the same ``avgdl``/``chunk_docs`` as the
    original builds (block-max weights are recomputed for re-encoded
    groups; pass-through groups keep theirs)."""
    from websearchengine_spark.functions import codec

    block_docs = block_docs or codec.BLOCK_DOCS
    # drop whatever else the readers carry (the ``part`` key of a
    # checkpointed index) so both sides union with the re-encoded groups
    cols = indexer.SEGMENT_SCHEMA.fieldNames()
    base = base.select(*cols)
    delta = delta.select(*cols)

    colliding = (
        base.select(*_KEY).intersect(delta.select(*_KEY))
    )
    base_pass = base.join(colliding, _KEY, "left_anti")
    delta_pass = delta.join(colliding, _KEY, "left_anti")
    coll = base.join(colliding, _KEY, "left_semi").unionByName(
        delta.join(colliding, _KEY, "left_semi")
    )
    decoded = indexer.decode_segments(coll, with_positions=True)
    recoded = indexer.build_segments(
        decoded,
        avgdl=avgdl,
        chunk_docs=chunk_docs,
        block_docs=block_docs,
    )
    return base_pass.unionByName(delta_pass).unionByName(recoded)
