"""Index-build operators (SURVEY.md §2.3, A1-A10).

Scale design (the part the reference solves with spill/merge under a 512 MB
heap, IndexerInvertedCompressed.java:124-143, :301-359):

- **doc_id assignment** is a deterministic global rank over ``url`` computed
  WITHOUT a single-partition sort: url ranges from driver-side literal
  bounds, a row number within each range, plus per-range offsets
  (two-pass; the offsets table is #ranges rows).  The rank is
  partitioning-independent, so the same corpus yields the same doc_ids at
  any cluster size — required for rank-identical results (SURVEY.md §1.2
  docid contract).
- **posting generation is map-side only**: the tokenizer UDF aggregates
  (term -> tf, positions) WITHIN each document, so building the
  ``postings(term, doc_id, tf, positions, dl)`` relation needs NO shuffle at
  all — doc-locality makes the per-(term,doc) groupBy free.  The reference's
  equivalent is readTerms' in-memory charMap (:191-253).
- **segment assembly** groups by ``(term, chunk)`` where
  ``chunk = doc_id // chunk_docs``: a heavy-hitter term appearing in every
  document still never concentrates more than ``chunk_docs`` postings in one
  task.  This IS the frequency-aware salting / two-phase merge the
  north_star requires, with doc_id-range salts so chunks concatenate in
  doc-order without a second merge pass (chunks are disjoint, ordered).
  The reference's analogues: first-char file partitioning (:267-270) and
  hot-list pinning (AdsIndex.java:321-323).
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from websearchengine_spark.functions import bm25, codec
from websearchengine_spark.functions.textnorm import tokenize_document

DEFAULT_CHUNK_DOCS = 1 << 16  # salt-range width for segment grouping


# --------------------------------------------------------------------------
# doc_id assignment
# --------------------------------------------------------------------------


def assign_doc_ids(corpus: DataFrame, n_parts: int | None = None) -> DataFrame:
    """0-based dense rank over url, computed scalably.

    Equivalent to ``row_number() over (order by url)`` - 1, but avoids the
    single-partition window.  Url range bounds are taken ONCE, on the
    driver, from a hash-ordered sample, and enter the plan as literals:
    each row's range is the number of bounds below its url, the ranges'
    row counts give each range's offset (a tiny driver-side pass), and a
    window per range numbers its rows by url.  Every action that
    re-executes the plan therefore numbers rows by the true url rank;
    bounds that Spark re-sampled per action would not match the offsets.
    The ranges are many per output partition, so range-partitioning on
    them balances the partitions whatever bounds Spark samples there.
    """
    spark = corpus.sparkSession
    if n_parts is None:
        # defaultParallelism, NOT corpus.rdd.getNumPartitions(): touching
        # .rdd forces a DataFrame->RDD conversion of the whole scan plan
        # just to read a number
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
    n_ranges = 16 * n_parts
    # xxhash order is a uniform sample, bounded by n_ranges on the driver
    sample = sorted(
        r.url
        for r in corpus.select("url")
        .orderBy(F.xxhash64("url"))
        .limit(8 * n_ranges)
        .collect()
    )
    bounds = sorted(
        {sample[i * len(sample) // n_ranges] for i in range(1, n_ranges)}
        if sample
        else ()
    )
    keyed = corpus.withColumn(
        "_range",
        F.size(
            F.filter(
                F.array(*[F.lit(u) for u in bounds]),
                lambda u: u < F.col("url"),
            )
        ),
    )
    counts = dict(keyed.groupBy("_range").count().collect())
    offsets, acc = [], 0
    for i in range(len(bounds) + 1):
        offsets.append(acc)
        acc += counts.get(i, 0)
    offset = F.element_at(
        F.array(*[F.lit(o) for o in offsets]), F.col("_range") + 1
    )
    by_url = Window.partitionBy("_range").orderBy("url")
    return (
        keyed.repartitionByRange(n_parts, "_range")
        .withColumn(
            "doc_id",
            (offset + F.row_number().over(by_url) - 1).cast("long"),
        )
        .drop("_range")
    )


# --------------------------------------------------------------------------
# map-side posting generation (A1-A3 fused, zero shuffle)
# --------------------------------------------------------------------------

POSTING_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def build_postings(corpus_with_ids: DataFrame) -> DataFrame:
    """(url, text, doc_id) -> postings(term, doc_id, tf, positions, dl).

    The per-(term,doc) aggregation happens inside the Arrow UDF (document
    locality), so this stage is shuffle-free; ``dl`` (kept-token doc length,
    IndexerInvertedCompressed.java:178) rides along so downstream scoring
    never needs a doc-side join."""
    MEMO_CAP = 1 << 20  # bound the per-task cache on high-cardinality text

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}  # per-task raw-token -> normalized cache (Zipf)
        for b in batches:
            if len(memo) > MEMO_CAP:
                memo.clear()
            terms, dids, tfs, poss, dls = [], [], [], [], []
            for url, text, did in zip(b["url"], b["text"], b["doc_id"]):
                toks = tokenize_document(url, text, memo)
                dl = len(toks)
                by_term: dict[str, list[int]] = {}
                for pos, t in enumerate(toks):
                    by_term.setdefault(t, []).append(pos)
                for t, plist in by_term.items():
                    terms.append(t)
                    dids.append(did)
                    tfs.append(len(plist))
                    poss.append(plist)
                    dls.append(dl)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": dids,
                    "tf": pd.array(tfs, dtype="int32"),
                    "positions": pd.Series(poss, dtype=object),
                    "dl": pd.array(dls, dtype="int32"),
                }
            )

    return corpus_with_ids.select("url", "text", "doc_id").mapInPandas(
        _gen, POSTING_SCHEMA
    )


# --------------------------------------------------------------------------
# stats (A3-A6)
# --------------------------------------------------------------------------


def docs_table(corpus_with_ids: DataFrame, postings: DataFrame) -> DataFrame:
    """docs(doc_id, url, doc_len) — doc_len = kept tokens (A3); docs whose
    tokens were all filtered keep doc_len 0."""
    dl = postings.groupBy("doc_id").agg(F.first("dl").alias("doc_len"))
    return (
        corpus_with_ids.select("doc_id", "url")
        .join(dl, "doc_id", "left")
        .fillna({"doc_len": 0})
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """term_stats(term, df, ctf) (A5/A6)."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").cast("long").alias("ctf")
    )


def mean_doc_length(postings: DataFrame, num_docs: int) -> float:
    """avgdl over ``num_docs`` documents, zero-token ones included
    (collection_stats, the reference's total/_numDocs): every kept token
    is one unit of some posting's tf, so the total is the tf sum.  1.0
    for a corpus without tokens."""
    total = postings.agg(F.sum("tf")).head()[0] or 0
    return total / num_docs if num_docs and total else 1.0


def collection_stats(docs: DataFrame) -> DataFrame:
    """1-row (num_docs, total_terms, avgdl) (A4; sentinels semantics
    IndexerInvertedCompressed.java:146-147)."""
    return docs.agg(
        F.count(F.lit(1)).alias("num_docs"),
        F.sum("doc_len").cast("long").alias("total_terms"),
        F.avg("doc_len").alias("avgdl"),
    )


# --------------------------------------------------------------------------
# compressed segments (A7-A10)
# --------------------------------------------------------------------------

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("chunk", T.LongType(), False),
        T.StructField("block_seq", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("doc_gap_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        T.StructField("pos_bytes", T.BinaryType(), False),
        T.StructField("block_max_tf", T.IntegerType(), False),
        T.StructField("block_max_weight", T.DoubleType(), False),
        T.StructField("sum_tf", T.LongType(), False),
    ]
)

def build_segments(
    postings: DataFrame,
    avgdl: float,
    chunk_docs: int = DEFAULT_CHUNK_DOCS,
    block_docs: int = codec.BLOCK_DOCS,
    with_positions: bool = True,
    n_parts: int | None = None,
) -> DataFrame:
    """postings -> delta-gap+varint block segments with block-max metadata.

    Grouping key (term, doc_id // chunk_docs) bounds every task at
    chunk_docs postings regardless of term frequency (heavy-hitter safe);
    blocks of ``block_docs`` postings carry ``block_max_weight`` =
    max over block of ``bm25.tf_norm``, enabling block-max WAND pruning
    (score upper bound = ``bm25.weight(idf, block_max_weight)``).

    Physical shape: ``repartition(term, chunk)`` + sort-within-partitions
    + ONE streaming mapInPandas that walks group boundaries with numpy and
    emits one Arrow batch per input batch.  An applyInPandas-per-group
    formulation is ~10x slower here: inverted-index groups are tiny (a few
    postings) and per-group pandas materialization dominates; this shape
    keeps per-group cost at numpy-slice level.  Groups straddling Arrow
    batch boundaries are carried over inside the partition iterator."""
    import numpy as np

    spark = postings.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def _encode_groups_batch(
        terms,
        chunks,
        doc_ids,
        tfs,
        dls,
        poss,
        group_starts,
        group_ends,
        out: dict,
    ) -> None:
        """Encode EVERY block of every (term, chunk) group in the batch
        with a handful of vectorized passes (reduceat for the block-max
        metadata, one segmented delta+varint per payload column) instead
        of per-block numpy calls — the same batching that tripled the
        posting kernel."""
        # block boundaries tile the batch: each group splits into runs of
        # <= block_docs postings
        blk_starts = np.concatenate(
            [
                np.arange(lo, hi, block_docs)
                for lo, hi in zip(group_starts, group_ends)
            ]
        )
        n_blocks_per_group = np.array(
            [
                (hi - lo + block_docs - 1) // block_docs
                for lo, hi in zip(group_starts, group_ends)
            ],
            dtype=np.int64,
        )
        total = int(group_ends[-1]) if len(group_ends) else 0
        # slice to the processed span: reduceat's last segment runs to the
        # end of the ARRAY, which may include the held-back pending group
        doc_ids = doc_ids[:total]
        tfs = tfs[:total]
        dls = dls[:total]
        if poss is not None:
            poss = poss[:total]
        blk_ends = np.concatenate((blk_starts[1:], [total]))
        blk_lens = blk_ends - blk_starts
        n_blk = blk_starts.size

        out["term"].extend(terms[blk_starts].tolist())
        out["chunk"].extend(chunks[blk_starts].tolist())
        out["block_seq"].extend(
            np.concatenate(
                [np.arange(nb) for nb in n_blocks_per_group]
            ).tolist()
        )
        out["n_docs"].extend(blk_lens.tolist())
        out["first_doc_id"].extend(doc_ids[blk_starts].tolist())
        out["last_doc_id"].extend(doc_ids[blk_ends - 1].tolist())
        out["doc_gap_bytes"].extend(
            codec.encode_varints_segmented(
                codec.delta_encode_segmented(doc_ids, blk_starts), blk_lens
            )
        )
        out["tf_bytes"].extend(codec.encode_varints_segmented(tfs, blk_lens))
        out["dl_bytes"].extend(codec.encode_varints_segmented(dls, blk_lens))
        out["block_max_tf"].extend(
            np.maximum.reduceat(tfs, blk_starts).tolist()
        )
        out["sum_tf"].extend(np.add.reduceat(tfs, blk_starts).tolist())
        out["block_max_weight"].extend(
            np.maximum.reduceat(
                bm25.tf_norm(tfs, dls, avgdl), blk_starts
            ).tolist()
        )
        if poss is None:
            out["pos_bytes"].extend([b""] * n_blk)
        else:
            # flatten every posting's positions once; delta restarts per
            # POSTING, byte segments group per BLOCK
            from itertools import chain

            pos_counts = tfs
            flat = np.fromiter(
                chain.from_iterable(poss),
                dtype=np.int64,
                count=int(pos_counts.sum()),
            )
            posting_starts = np.concatenate(
                ([0], np.cumsum(pos_counts)[:-1])
            )
            block_pos_lens = np.add.reduceat(pos_counts, blk_starts)
            out["pos_bytes"].extend(
                codec.encode_varints_segmented(
                    codec.delta_encode_segmented(flat, posting_starts),
                    block_pos_lens,
                )
            )

    def _fresh_out() -> dict:
        return {f.name: [] for f in SEGMENT_SCHEMA.fields}

    def _to_pdf(out: dict) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "term": out["term"],
                "chunk": pd.array(out["chunk"], dtype="int64"),
                "block_seq": pd.array(out["block_seq"], dtype="int32"),
                "n_docs": pd.array(out["n_docs"], dtype="int32"),
                "first_doc_id": pd.array(out["first_doc_id"], dtype="int64"),
                "last_doc_id": pd.array(out["last_doc_id"], dtype="int64"),
                "doc_gap_bytes": pd.Series(out["doc_gap_bytes"], dtype=object),
                "tf_bytes": pd.Series(out["tf_bytes"], dtype=object),
                "dl_bytes": pd.Series(out["dl_bytes"], dtype=object),
                "pos_bytes": pd.Series(out["pos_bytes"], dtype=object),
                "block_max_tf": pd.array(out["block_max_tf"], dtype="int32"),
                "block_max_weight": pd.array(
                    out["block_max_weight"], dtype="float64"
                ),
                "sum_tf": pd.array(out["sum_tf"], dtype="int64"),
            }
        )

    def _encode(bdf: pd.DataFrame, final: bool):
        """(segment batch or None, held-back rows): every (term, chunk)
        group of the sorted ``bdf`` encoded, except, unless ``final``,
        the last one, which may continue in the next batch."""
        terms = bdf["term"].to_numpy()
        chunks = bdf["chunk"].to_numpy()
        change = (
            np.flatnonzero(
                (terms[1:] != terms[:-1]) | (chunks[1:] != chunks[:-1])
            )
            + 1
        )
        bounds = np.concatenate(([0], change, [len(bdf)]))
        if not final:
            bounds = bounds[:-1]
        if len(bounds) < 2:
            return None, bdf  # a single (possibly incomplete) group
        out = _fresh_out()
        _encode_groups_batch(
            terms,
            chunks,
            bdf["doc_id"].to_numpy(dtype=np.int64),
            bdf["tf"].to_numpy(dtype=np.int64),
            bdf["dl"].to_numpy(dtype=np.int64),
            bdf["positions"].to_list() if with_positions else None,
            bounds[:-1],
            bounds[1:],
            out,
        )
        return _to_pdf(out), bdf.iloc[int(bounds[-1]):]

    def _gen(batches) -> "pd.DataFrame":
        pend: pd.DataFrame | None = None
        for bdf in batches:
            if pend is not None and len(pend):
                bdf = pd.concat([pend, bdf], ignore_index=True)
            seg, pend = _encode(bdf, final=False)
            if seg is not None:
                yield seg
        if pend is not None and len(pend):
            yield _encode(pend, final=True)[0]

    keyed = postings.withColumn(
        "chunk", (F.col("doc_id") / F.lit(chunk_docs)).cast("long")
    )
    cols = ["term", "chunk", "doc_id", "tf", "dl"] + (
        ["positions"] if with_positions else []
    )
    parted = (
        keyed.select(*cols)
        .repartition(n_parts, "term", "chunk")
        .sortWithinPartitions("term", "chunk", "doc_id")
    )
    return parted.mapInPandas(_gen, SEGMENT_SCHEMA)


def decode_segments(segments: DataFrame, with_positions: bool = False) -> DataFrame:
    """segments -> postings(term, doc_id, tf, dl[, positions]) — the A9
    prefix-sum decode as a streaming mapInPandas (no shuffle)."""
    import numpy as np

    fields = [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
    if with_positions:
        fields.append(
            T.StructField("positions", T.ArrayType(T.IntegerType()), False)
        )
    schema = T.StructType(fields)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for bdf in batches:
            out = {"term": [], "doc_id": [], "tf": [], "dl": []}
            pos_col = [] if with_positions else None
            # zip over column arrays, not iterrows(): one Python iteration
            # per 128-posting segment row, without pandas row-object
            # construction in the hottest decode path
            pos_bytes_col = (
                bdf["pos_bytes"] if with_positions else [None] * len(bdf)
            )
            for term, gaps, tfb, dlb, posb in zip(
                bdf["term"], bdf["doc_gap_bytes"], bdf["tf_bytes"],
                bdf["dl_bytes"], pos_bytes_col,
            ):
                doc_ids = codec.delta_decode(codec.decode_varints(gaps))
                tfs = codec.decode_varints(tfb)
                dls = codec.decode_varints(dlb)
                out["term"].extend([term] * len(doc_ids))
                out["doc_id"].extend(doc_ids.tolist())
                out["tf"].extend(tfs.tolist())
                out["dl"].extend(dls.tolist())
                if with_positions:
                    pos_col.extend(
                        [p.tolist() for p in codec.decode_positions(posb, tfs)]
                    )
            pdf = pd.DataFrame(
                {
                    "term": out["term"],
                    "doc_id": pd.array(out["doc_id"], dtype="int64"),
                    "tf": pd.array(out["tf"], dtype="int32"),
                    "dl": pd.array(out["dl"], dtype="int32"),
                }
            )
            if with_positions:
                pdf["positions"] = pd.Series(pos_col, dtype=object)
            yield pdf

    cols = ["term", "doc_gap_bytes", "tf_bytes", "dl_bytes"] + (
        ["pos_bytes"] if with_positions else []
    )
    return segments.select(*cols).mapInPandas(_decode, schema)
