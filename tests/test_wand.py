"""Block-max WAND segment query path: pruned result must equal the
unpruned result and the postings-path BM25, and the prune must actually
skip chunks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from websearchengine_spark.operators import indexer, score, wand
from websearchengine_spark.operators import query as Q


def _stem(words):
    # index terms are post-stem (tokenize_document); stem the query the
    # same way the parser does
    out = []
    for w in words:
        toks, _, _ = Q.split_tokens(w)
        out.extend(toks)
    return out


@pytest.fixture(scope="module")
def seg_index(spark, spark_index):
    postings = spark_index["postings"]
    avgdl = float(spark_index["avgdl"])
    segs = indexer.build_segments(
        postings, avgdl=avgdl, chunk_docs=16, block_docs=8
    ).cache()
    segs.count()
    return segs, avgdl


QUERIES = [
    (_stem(["data", "mining"]), "conjunctive"),
    (_stem(["data", "mining"]), "disjunctive"),
    (_stem(["web", "search", "salsa"]), "disjunctive"),
    (_stem(["google"]), "conjunctive"),
]


@pytest.mark.parametrize("terms,mode", QUERIES)
def test_pruned_equals_unpruned(spark, spark_index, seg_index, terms, mode):
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    stats: dict = {}
    pruned = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode=mode, stats=stats
    ).collect()
    full = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode=mode, prune=False
    ).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in pruned] == [
        (r.doc_id, round(r.score, 9)) for r in full
    ]
    assert stats["n_chunks"] > 0


def test_matches_postings_path(spark, spark_index, seg_index):
    """WAND equals the relational scorer, a repeated query word
    included: each occurrence counts, as in ``score.bm25_scores``."""
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    for terms in (_stem(["data", "mining"]), _stem(["data", "data", "mining"])):
        got = wand.bm25_topk_segments(
            segs, terms, n, avgdl, k=5, mode="conjunctive"
        ).collect()
        tp = spark_index["postings"].where(F.col("term").isin(terms)).select(
            F.col("term").alias("token"), "doc_id", "tf", "dl"
        )
        want = (
            score.topk(score.bm25_scores(tp, terms, n, avgdl, "conjunctive"), 5)
            .collect()
        )
        assert [(r.doc_id, pytest.approx(r.score, rel=1e-9)) for r in got] == [
            (r.doc_id, r.score) for r in want
        ], terms


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_block_skip_is_a_predicate_below_the_decode(spark, spark_index, seg_index):
    """The prune plan's block skip is relational: the survivor decode's
    input sits under the predicate on ``block_max_weight`` and
    ``residual`` (Catalyst folds the Filter into the residual join's
    condition), so skipped blocks never reach the Python decoder; the
    probe decode has no such predicate."""
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    out = wand.bm25_topk_segments(
        segs, _stem(["data", "mining"]), n, avgdl, k=5, mode="conjunctive"
    )
    plan = out._jdf.queryExecution().optimizedPlan()

    def skip_predicates(decode):
        return [
            m
            for m in _plan_nodes(decode.children().apply(0))
            if m.nodeName() in ("Filter", "Join")
            and "block_max_weight" in m.simpleString(1000)
            and "residual" in m.simpleString(1000)
        ]

    decodes = [m for m in _plan_nodes(plan) if m.nodeName() == "MapInPandas"]
    assert len(decodes) == 2  # the probe's and the survivors'
    assert sorted(len(skip_predicates(d)) for d in decodes) == [0, 1]


def test_prune_skips_chunks(spark, spark_index, seg_index):
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    stats: dict = {}
    wand.bm25_topk_segments(
        segs, _stem(["salsa"]), n, avgdl, k=3, mode="disjunctive",
        probe_chunks=1, stats=stats,
    ).collect()
    # with k=3 and a selective term, at least some chunks should fall
    # below theta (fixture has ~8 chunks of 16 docs)
    assert stats["probed"] == 1
    assert stats["survivors"] < stats["n_chunks"] - stats["probed"], stats


def test_empty_and_missing_terms(spark, spark_index, seg_index):
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    out = wand.bm25_topk_segments(segs, ["zzzznotaterm"], n, avgdl, k=5)
    assert out.count() == 0


def test_stale_term_df_never_crashes(spark, spark_index, seg_index):
    """A stats map missing a term whose segments exist (stale sidecar
    after a delta append) must degrade gracefully: the unknown term is
    treated as df=0, the decode kernel never sees a term without an idf
    entry, and disjunctive results cover only known terms."""
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    terms = _stem(["data", "mining"])
    full_stats = {t: 50 for t in terms}
    got_full = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode="disjunctive", term_df=full_stats
    ).collect()
    assert got_full
    stale = {terms[0]: 50}  # second term unknown to the sidecar
    got_stale = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode="disjunctive", term_df=stale
    ).collect()
    assert all(r.score is not None for r in got_stale)
    # conjunctive with a missing term can never satisfy all-terms
    got_conj = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode="conjunctive", term_df=stale
    ).collect()
    assert got_conj == []
    # empty map -> empty result, no crash
    assert (
        wand.bm25_topk_segments(
            segs, terms, n, avgdl, k=5, mode="disjunctive", term_df={}
        ).collect()
        == []
    )


@pytest.mark.parametrize("mode", ["conjunctive", "disjunctive"])
def test_eager_serve_mode_matches_lazy(spark, spark_index, seg_index, mode):
    """eager=True (the production serve path in cli/bench) must return
    the same rows as the lazy plan, already materialized, with its
    per-query caches dropped."""
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    terms = _stem(["data", "mining"])
    lazy = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode=mode
    ).collect()
    stats: dict = {}
    eager_df = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode=mode, eager=True, stats=stats
    )
    got = eager_df.collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got] == [
        (r.doc_id, round(r.score, 9)) for r in lazy
    ]
    assert stats["n_chunks"] > 0
    # eager result is a local relation (materialized), not the live plan
    assert "Scan ExistingRDD" in eager_df._jdf.queryExecution().executedPlan().toString() \
        or "LocalTableScan" in eager_df._jdf.queryExecution().executedPlan().toString()
    # prune=False eager path also materializes
    got2 = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode=mode, prune=False, eager=True
    ).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got2] == [
        (r.doc_id, round(r.score, 9)) for r in lazy
    ]


def test_phrase_pruned_segments_match_full_decode(spark, spark_index, seg_index):
    """Serve-path phrase pruning (Q.token_postings_from_segments): ranking
    must equal the full positional decode, and the positional decode must
    actually touch fewer segments than the unpruned term filter."""
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    q = '"data mining"'
    tokens, words, phrases = Q.split_tokens(q)
    assert phrases and not words
    needed = sorted({w for p in phrases for w in p.split()})

    full_post = indexer.decode_segments(
        segs.where(F.col("term").isin(needed)), with_positions=True
    )
    want = score.rank_bm25(full_post, q, n, avgdl, k=5).collect()

    tp = Q.token_postings_from_segments(segs, q)
    got = score.topk(score.bm25_scores(tp, tokens, n, avgdl), 5).collect()
    assert [(r.doc_id, pytest.approx(r.score, rel=1e-9)) for r in got] == [
        (r.doc_id, r.score) for r in want
    ]

    # pruning evidence (on a rarer pair — "data mining" co-occurs in
    # every chunk of this small fixture): chunks where EVERY phrase word
    # has segments (the metadata prune) are a strict subset of all chunks
    # of those terms
    rare = ["hipa"] + _stem(["data"])  # df=1 gibberish token + common term
    cand_chunks = (
        segs.where(F.col("term").isin(rare))
        .groupBy("chunk")
        .agg(F.count_distinct("term").alias("np"))
        .where(F.col("np") == len(rare))
        .count()
    )
    all_chunks = (
        segs.where(F.col("term").isin(rare))
        .select("chunk").distinct().count()
    )
    assert cand_chunks < all_chunks, (cand_chunks, all_chunks)
    # and ranking over the rare pair as a PHRASE stays correct under the
    # prune (empty or not, pruned == full)
    rq = '"hipa data"'
    full_rare = indexer.decode_segments(
        segs.where(F.col("term").isin(rare)), with_positions=True
    )
    want_r = score.rank_bm25(full_rare, rq, n, avgdl, k=5).collect()
    rtokens, _, _ = Q.split_tokens(rq)
    tp_r = Q.token_postings_from_segments(segs, rq)
    got_r = score.topk(score.bm25_scores(tp_r, rtokens, n, avgdl), 5).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got_r] == [
        (r.doc_id, round(r.score, 9)) for r in want_r
    ]


def test_cost_based_prune_skip(spark, spark_index, seg_index):
    """term_chunks drives the plan choice: a tiny summed chunk count
    skips the 3-job prune for one single-pass job; a large count keeps
    the pruned plan; results identical either way."""
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    terms = _stem(["data", "mining"])
    stats_a: dict = {}
    got_auto = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode="conjunctive",
        stats=stats_a, term_chunks={t: 2 for t in terms},
    ).collect()
    # single-pass path: nothing probed separately, no survivors pass
    assert stats_a["survivors"] == 0 and stats_a["theta"] == float("-inf")
    stats_b: dict = {}
    got_pruned = wand.bm25_topk_segments(
        segs, terms, n, avgdl, k=5, mode="conjunctive",
        stats=stats_b, term_chunks={t: 1000 for t in terms},
    ).collect()
    assert stats_b["probed"] == 2  # pruned plan engaged (probe_chunks)
    assert [(r.doc_id, round(r.score, 9)) for r in got_auto] == [
        (r.doc_id, round(r.score, 9)) for r in got_pruned
    ]


def test_phrase_cost_based_prune_skip(spark, spark_index, seg_index):
    """Phrase serve path (Q.token_postings_from_segments) mirrors WAND's
    cost model: a tiny summed chunk count skips the metadata
    aggregation + semi-join (the plan has no Aggregate below the
    decode), a large count keeps the pruned plan, and both rank
    identically to the no-sidecar default."""
    segs, avgdl = seg_index
    n = spark_index["num_docs"]
    q = '"data mining"'
    tokens, _, phrases = Q.split_tokens(q)
    pwords = sorted({w for p in phrases for w in p.split()})

    def rank(term_chunks):
        tp = Q.token_postings_from_segments(segs, q, term_chunks=term_chunks)
        top = score.topk(score.bm25_scores(tp, tokens, n, avgdl), 5)
        plan = top._jdf.queryExecution().optimizedPlan().toString()
        return [(r.doc_id, round(r.score, 9)) for r in top.collect()], plan

    want, plan_default = rank(None)
    got_skip, plan_skip = rank({t: 1 for t in pwords})
    got_prune, plan_prune = rank({t: 10_000 for t in pwords})
    assert got_skip == want and got_prune == want
    # the skipped plan dropped the prune's semi-join; the forced plan kept it
    assert "LeftSemi" not in plan_skip
    assert "LeftSemi" in plan_prune and "LeftSemi" in plan_default


def test_finalize_breaks_near_ties_by_doc_id(spark):
    """Scores equal up to summation order (last-bit differences) rank by
    doc_id, as the oracle ranks exact ties; the score itself is kept
    unrounded."""
    scored = spark.createDataFrame(
        [(5, 0.6000000000000001, 1), (3, 0.6, 1)],
        "doc_id long, score double, n_hit int",
    )
    got = wand._finalize(scored, "disjunctive", 1, 1).collect()
    assert [(r.doc_id, r.score) for r in got] == [(3, 0.6)]


def test_topk_breaks_near_ties_by_doc_id(spark):
    """``score.topk``, the top-k order of the phrase path and the gates,
    ranks scores equal up to summation order by doc_id too, and keeps
    the score unrounded."""
    scored = spark.createDataFrame(
        [(5, 0.6000000000000001), (3, 0.6), (4, 0.5)],
        "doc_id long, score double",
    )
    got = score.topk(scored, 2).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (3, 0.6), (5, 0.6000000000000001)
    ]
