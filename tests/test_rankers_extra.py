"""R2 cosine, R3 phrase-count, R4 numviews, R5 linear-blend parity vs the
pure-Python oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from websearchengine_spark.functions.textnorm import parse_query
from websearchengine_spark.operators import score
from websearchengine_spark.oracle import engine as oracle_eng


@pytest.mark.parametrize("query", ["web search", "data mining", "salsa", "google engine"])
def test_cosine_parity(spark, spark_index, small_corpus, query):
    _, idx = small_corpus
    got = {
        r.doc_id: r.score
        for r in score.cosine_scores(
            spark_index["postings"], query, spark_index["num_docs"]
        ).collect()
    }
    want = oracle_eng.cosine_scores(idx, query)
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(s, rel=1e-9)


def _oracle_phrase_counts(idx, query):
    tokens = parse_query(query.lower())
    flat = []
    for t in tokens:
        flat.extend(t.split())
    out = {}
    for d in range(idx.num_docs):
        c = (
            idx.tf(flat[0], d)
            if len(flat) == 1
            else idx.phrase_tf(flat, d)
        )
        if c > 0:
            out[d] = float(c)
    return out


@pytest.mark.parametrize("query", ["data mining", "new york city", "salsa"])
def test_phrase_count_parity(spark, spark_index, small_corpus, query):
    _, idx = small_corpus
    got = {
        r.doc_id: r.score
        for r in score.phrase_count_scores(
            spark_index["postings"], query
        ).collect()
    }
    assert got == _oracle_phrase_counts(idx, query)


def test_numviews_ranker(spark, spark_index, small_corpus):
    _, idx = small_corpus
    import random

    rng = random.Random(7)
    views = {d: rng.randint(0, 10000) for d in range(idx.num_docs)}
    docs = spark_index["docs"].withColumn(
        "num_views",
        F.udf(lambda d: views[d], "long")(F.col("doc_id")),
    )
    got = score.rank_numviews(docs, k=5).collect()
    want = sorted(views.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r.doc_id, r.score) for r in got] == [
        (d, float(v)) for d, v in want
    ]


@pytest.mark.parametrize("query", ["web search", "data mining"])
def test_linear_blend_parity(spark, spark_index, small_corpus, query):
    _, idx = small_corpus
    import random

    rng = random.Random(11)
    views = {d: rng.randint(0, 1000) for d in range(idx.num_docs)}
    docs = spark_index["docs"].withColumn(
        "num_views",
        F.udf(lambda d: views[d], "long")(F.col("doc_id")),
    )
    got = score.rank_linear(
        spark_index["postings"],
        docs,
        query,
        num_docs=spark_index["num_docs"],
        total_terms=spark_index["total_terms"],
        k=8,
    ).collect()

    # oracle blend (hw1 Ranker.java:188-196 betas)
    tokens = parse_query(query.lower())
    cos = oracle_eng.cosine_scores(idx, query)
    ph = _oracle_phrase_counts(idx, query)
    b1, b2, b3, b4 = score.LINEAR_BETAS
    blended = {}
    for d in range(idx.num_docs):
        ql = oracle_eng.ql_score(idx, tokens, d)
        blended[d] = (
            b1 * cos.get(d, 0.0)
            + b2 * ql
            + b3 * ph.get(d, 0.0)
            + b4 * views[d]
        )
    want = sorted(blended.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [r.doc_id for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r.score == pytest.approx(s, rel=1e-9)
