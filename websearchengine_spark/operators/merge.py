"""Index merge without re-tokenizing (SURVEY A7; the reference's
mergeAll, IndexerInvertedCompressed.java:301-359, concatenates partial
text indexes into one servable index — here at segment level).

Both inputs number their documents from 0, so the merge renumbers: the
union of the two ``docs`` tables (the delta's row wins on a url both
hold, a re-crawl) is numbered by url rank with ``indexer.assign_doc_ids``,
as ``cli build`` numbers a corpus.  Both inputs' segments are decoded with
positions, remapped by a join on (input, old doc_id), and re-encoded
through the checkpoint part writer at the union's exact avgdl, then
finished.  The output equals ``cli build`` over the union corpus byte for
byte (wherever that build's avgdl is exact, under its sample cap) and can
be served and merged again.  The cost is both inputs' size, not their
overlap.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.operators import indexer
from websearchengine_spark.operators.checkpoint import IndexCheckpointer


def merge_indexes(
    spark: SparkSession,
    base: IndexCheckpointer,
    delta: IndexCheckpointer,
    out: IndexCheckpointer,
) -> dict:
    """Merge the committed parts of ``base`` and ``delta`` into ``out``;
    returns ``out``'s stats."""
    docs, postings = [], []
    for i, cp in enumerate((base, delta)):
        docs.append(
            cp.docs(spark).select(
                F.lit(i).alias("input"),
                F.col("doc_id").alias("old_id"),
                F.col("title").alias("url"),
            )
        )
        postings.append(
            indexer.decode_segments(cp.segments(spark), with_positions=True)
            .withColumnRenamed("doc_id", "old_id")
            .withColumn("input", F.lit(i))
        )
    union = docs[1].unionByName(docs[0].join(docs[1], "url", "left_anti"))
    ids = indexer.assign_doc_ids(union).persist()
    remapped = (
        postings[0]
        .unionByName(postings[1])
        .join(ids.select("input", "old_id", "doc_id"), ["input", "old_id"])
        .select(*indexer.POSTING_SCHEMA.fieldNames())
        .persist()
    )
    out.build(
        ids,
        indexer.mean_doc_length(remapped, ids.count()),
        postings_of=lambda sub: remapped.join(sub, "doc_id", "left_semi"),
    )
    remapped.unpersist()
    ids.unpersist()
    return out.finish(spark)
