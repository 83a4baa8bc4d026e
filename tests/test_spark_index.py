"""Spark index build vs pure-Python oracle — exact parity gates."""

import pytest
from pyspark.sql import functions as F

from websearchengine_spark.functions import codec
from websearchengine_spark.operators import indexer
from websearchengine_spark.oracle import engine as oracle_eng


class TestDocIds:
    def test_doc_ids_are_url_rank(self, spark_index, small_corpus):
        rows, idx = small_corpus
        got = {
            r.url: r.doc_id
            for r in spark_index["corpus_ids"].select("url", "doc_id").collect()
        }
        want = {u: i for i, u in enumerate(idx.urls)}
        assert got == want

    def test_partitioning_invariance(self, spark, small_corpus):
        """doc_id assignment must not depend on the partition count
        (the contract that makes ranking reproducible across cluster
        sizes, SURVEY.md §7.3 hard part b)."""
        from websearchengine_spark.sources import fixture

        df = fixture.corpus_df(spark, 60).where(F.col("lang") == "en")
        a = {
            r.url: r.doc_id
            for r in indexer.assign_doc_ids(df, n_parts=2).collect()
        }
        b = {
            r.url: r.doc_id
            for r in indexer.assign_doc_ids(df, n_parts=7).collect()
        }
        assert a == b

    def test_ids_are_url_rank_past_the_sampler_cap(self, spark):
        """3,000 urls in 4 input partitions: more rows than Spark's range
        sampler keeps, so every action that re-executes the plan would
        sample its own bounds.  Ids must still be the 0-based url rank."""
        import random

        urls = [f"http://site{i % 37}.example/{i:05d}" for i in range(3000)]
        random.Random(7).shuffle(urls)
        df = spark.createDataFrame(
            [(u, "x") for u in urls], "url string, text string"
        ).repartition(4)
        got = {
            r.url: r.doc_id
            for r in indexer.assign_doc_ids(df).select("url", "doc_id").collect()
        }
        assert got == {u: i for i, u in enumerate(sorted(urls))}


class TestPostings:
    def test_postings_exact(self, spark_index, small_corpus):
        _, idx = small_corpus
        got = {}
        for r in spark_index["postings"].collect():
            got[(r.term, r.doc_id)] = (r.tf, list(r.positions), r.dl)
        want = {}
        for term, plists in idx.postings.items():
            for d, poss in plists.items():
                want[(term, d)] = (len(poss), poss, idx.doc_len[d])
        assert got == want

    def test_stats_exact(self, spark_index, small_corpus):
        _, idx = small_corpus
        assert spark_index["num_docs"] == idx.num_docs
        assert spark_index["total_terms"] == idx.total_terms
        ts = {
            r.term: (r.df, r.ctf)
            for r in indexer.term_stats(spark_index["postings"]).collect()
        }
        for t in ["data", "web", "search", "salsa"]:
            assert ts[t] == (idx.df(t), idx.ctf(t))
        assert len(ts) == len(idx.postings)

    def test_doc_len_exact(self, spark_index, small_corpus):
        _, idx = small_corpus
        got = {
            r.doc_id: r.doc_len for r in spark_index["docs"].collect()
        }
        assert got == idx.doc_len


class TestSegments:
    def test_segment_roundtrip(self, spark_index, small_corpus):
        """postings -> compressed segments -> decode == original postings,
        with each block's exact max and sum of tf."""
        _, idx = small_corpus
        seg = indexer.build_segments(
            spark_index["postings"], avgdl=spark_index["avgdl"], chunk_docs=32
        )
        for r in seg.collect():
            tfs = codec.decode_varints(r.tf_bytes)
            assert r.block_max_tf == tfs.max() and r.sum_tf == tfs.sum()
        back = indexer.decode_segments(seg, with_positions=True)
        got = {
            (r.term, r.doc_id): (r.tf, list(r.positions), r.dl)
            for r in back.collect()
        }
        want = {
            (t, d): (len(p), p, idx.doc_len[d])
            for t, pl in idx.postings.items()
            for d, p in pl.items()
        }
        assert got == want

    def test_block_bounds_and_maxima(self, spark_index):
        seg = indexer.build_segments(
            spark_index["postings"], avgdl=spark_index["avgdl"], chunk_docs=32
        ).collect()
        for r in seg:
            assert 1 <= r.n_docs <= 128
            assert r.first_doc_id <= r.last_doc_id
            assert r.block_max_weight > 0
            # chunk invariant: all docs in [chunk*32, (chunk+1)*32)
            assert r.first_doc_id // 32 == r.chunk
            assert r.last_doc_id // 32 == r.chunk


@pytest.mark.parametrize(
    "query,mode",
    [
        ("web search", "conjunctive"),
        ("data mining", "conjunctive"),
        ("salsa", "conjunctive"),
        ("google", "conjunctive"),
        ('"data mining"', "conjunctive"),
        ('"new york city"', "conjunctive"),
        ('history "web search" engine', "disjunctive"),
        ("web search", "disjunctive"),
    ],
)
class TestRankParity:
    def test_bm25_rank_identical(self, spark_index, small_corpus, query, mode):
        from websearchengine_spark.operators import score

        _, idx = small_corpus
        got = score.rank_bm25(
            spark_index["postings"],
            query,
            num_docs=spark_index["num_docs"],
            avgdl=spark_index["avgdl"],
            k=10,
            mode=mode,
        ).collect()
        want = oracle_eng.rank_bm25(idx, query, k=10, mode=mode)
        assert [r.doc_id for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r.score == pytest.approx(s, rel=1e-9)


class TestQLParity:
    @pytest.mark.parametrize(
        "query", ["web search", "salsa", '"data mining"', "data data mining"]
    )
    def test_ql_rank_identical(self, spark_index, small_corpus, query):
        from websearchengine_spark.operators import score

        _, idx = small_corpus
        got = score.rank_ql(
            spark_index["postings"],
            query,
            total_terms=spark_index["total_terms"],
            k=10,
        ).collect()
        want = oracle_eng.rank_ql(idx, query, k=10)
        assert [r.doc_id for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r.score == pytest.approx(s, rel=1e-9)
