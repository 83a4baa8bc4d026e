"""Rank-identity on the reference's REAL shipped index (hw3/data/index).

The strongest parity evidence in the repo: Spark parses the reference's
actual on-disk index text files (22 ``<c>.idx`` files, 119,867 terms,
1,097,404 posting lists, 2,548,700 real term occurrences of the 10,229-doc
Wikipedia crawl) and must reproduce — doc-for-doc, score-for-score — the
pure-Python oracle's QL / BM25 / phrase / cosine / comprehensive rankings
computed from an independent parse of the same files, using the
reference's real doc lengths, PageRank and NumViews.

Queries use shipped-letter terms only (the checkout ships .idx files for
terms starting with " ' ( . 0-9 j k q u v x y z æ œ α); the phrase query
"united kingdom" matches 2,394 real docs by positional adjacency.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql.functions import col as F_col

from websearchengine_spark.oracle import engine as ENG
from websearchengine_spark.oracle import refindex as ORI
from websearchengine_spark.sources import refindex as RI

REF_SENTINEL_DOCS = 10229
REF_SENTINEL_TF = 26727905

needs_ref_index = pytest.mark.skipif(
    not os.path.isdir(RI.REF_INDEX_DIR),
    reason=f"needs the reference hw3 index at {RI.REF_INDEX_DIR}",
)

QUERIES = [
    "york university",
    "united kingdom",
    "john young",
    "july june 2011",
]


@pytest.fixture(scope="module")
def oracle_idx():
    return ORI.load_ref_index()


@pytest.fixture(scope="module")
def ref_tables(spark):
    postings, docs, n, tot = RI.ref_index_tables(spark)
    postings = postings.cache()
    postings.count()
    return postings, docs, n, tot


def _spark_topk(df, ndigits=9):
    return [(r.doc_id, round(r.score, ndigits)) for r in df.collect()]


def _oracle_topk(pairs, ndigits=9):
    return [(d, round(s, ndigits)) for d, s in pairs]


@needs_ref_index
def test_sentinels_and_counts(spark, ref_tables, oracle_idx):
    postings, docs, n, tot = ref_tables
    assert (n, tot) == (REF_SENTINEL_DOCS, REF_SENTINEL_TF)
    assert (oracle_idx.num_docs, oracle_idx.total_terms) == (
        REF_SENTINEL_DOCS,
        REF_SENTINEL_TF,
    )
    # independent parses agree on the posting-list count and occurrence mass
    assert postings.count() == sum(
        len(v) for v in oracle_idx.postings.values()
    )
    from pyspark.sql import functions as F

    spark_occ = postings.agg(F.sum("tf")).head()[0]
    assert spark_occ == sum(
        len(pl) for v in oracle_idx.postings.values() for pl in v.values()
    )
    # real doc lengths sum to the corpus sentinel (documents.totalTerms)
    assert docs.agg(F.sum("doc_len")).head()[0] == REF_SENTINEL_TF


@needs_ref_index
def test_positions_parity_sampled_terms(ref_tables, oracle_idx):
    postings, _, _, _ = ref_tables
    from pyspark.sql import functions as F

    for term in ["york", "zealand", "quebec", ".ds_store", "0"]:
        rows = (
            postings.where(F.col("term") == term)
            .select("doc_id", "positions")
            .collect()
        )
        got = {r.doc_id: list(r.positions) for r in rows}
        want = oracle_idx.postings.get(term, {})
        assert got == dict(want), term


@needs_ref_index
@pytest.mark.parametrize("query", QUERIES)
def test_bm25_parity_real_index(ref_tables, oracle_idx, query):
    from websearchengine_spark.operators import score as S

    postings, _, n, tot = ref_tables
    got = _spark_topk(S.rank_bm25(postings, query, n, tot / n, k=10))
    want = _oracle_topk(ENG.rank_bm25(oracle_idx, query, k=10))
    assert got == want


@needs_ref_index
def test_bm25_disjunctive_parity_real_index(ref_tables, oracle_idx):
    from websearchengine_spark.operators import score as S

    postings, _, n, tot = ref_tables
    q = "quebec zealand"
    got = _spark_topk(
        S.rank_bm25(postings, q, n, tot / n, k=10, mode="disjunctive")
    )
    want = _oracle_topk(ENG.rank_bm25(oracle_idx, q, k=10, mode="disjunctive"))
    assert got == want


@needs_ref_index
@pytest.mark.parametrize("query", QUERIES)
def test_ql_parity_real_index(ref_tables, oracle_idx, query):
    from websearchengine_spark.operators import score as S

    postings, _, _, tot = ref_tables
    got = _spark_topk(S.rank_ql(postings, query, tot, k=10), ndigits=15)
    want = _oracle_topk(ENG.rank_ql(oracle_idx, query, k=10), ndigits=15)
    assert got == want


@needs_ref_index
def test_phrase_parity_real_index(ref_tables, oracle_idx):
    from websearchengine_spark.operators import score as S

    postings, _, n, tot = ref_tables
    q = '"united kingdom"'
    got = _spark_topk(S.rank_bm25(postings, q, n, tot / n, k=10))
    want = _oracle_topk(ENG.rank_bm25(oracle_idx, q, k=10))
    assert got == want
    # the phrase really bites: strictly fewer matches than the bag query
    from websearchengine_spark.operators import query as Q

    tp = Q.token_postings(postings, q)
    n_phrase = tp.count()
    tp_bag = Q.token_postings(postings, "united kingdom")
    n_bag = (
        Q.conjunctive_candidates(tp_bag, 2).count()
    )
    assert 0 < n_phrase < n_bag


@needs_ref_index
def test_comprehensive_cascade_parity_real_index(ref_tables, oracle_idx):
    """R7 over real QL scores + real PageRank + real NumViews."""
    from websearchengine_spark.operators import score as S

    postings, docs, _, tot = ref_tables
    got = [
        (r.doc_id, round(r.score, 12))
        for r in S.rank_comprehensive(
            postings, docs, "york university", tot, k=10
        ).collect()
    ]
    want = [
        (d, round(s, 12))
        for d, s in ENG.rank_comprehensive(oracle_idx, "york university", k=10)
    ]
    assert got == want


@needs_ref_index
def test_fullscan_parity_real_titles(ref_tables, oracle_idx):
    """R8 over the reference's 10,229 REAL titles: query tokens match
    indexed title terms ('1820' and 'timbaland' are actual shipped titles;
    'zzz' matches none)."""
    from websearchengine_spark.operators import score as S

    _, docs, _, _ = ref_tables
    for q in ["1820 timbaland", "zzz nothing"]:
        got = [
            (r.doc_id, r.score)
            for r in S.rank_fullscan(docs, q, k=15).collect()
        ]
        want = ENG.rank_fullscan(oracle_idx.urls, q, k=15)
        assert got == want, q
    # the positive query really hits: score-1 docs exist
    hits = [s for _, s in ENG.rank_fullscan(oracle_idx.urls, "1820 timbaland", k=15)]
    assert hits[0] == 1.0 and 0.0 in hits


@needs_ref_index
def test_wand_segments_on_real_index(ref_tables, oracle_idx):
    """Full segment pipeline over REAL data with REAL heavy-hitter skew:
    encode the shipped postings into compressed block-max segments
    ('year' df 6,790 / ctf 63,123 is the heaviest shipped term), then
    block-max-WAND top-10 must equal both the unpruned segment scan and
    the oracle BM25 over the same files — and the prune must actually
    skip chunks."""
    from websearchengine_spark.operators import indexer, wand

    postings, _, n, tot = ref_tables
    avgdl = tot / n

    def run(terms, query, mode, chunk_docs):
        sub = postings.where(F_col("term").isin(terms))
        segs = indexer.build_segments(
            sub, avgdl=avgdl, chunk_docs=chunk_docs, block_docs=128
        ).cache()
        try:
            stats: dict = {}
            pruned = wand.bm25_topk_segments(
                segs, terms, n, avgdl, k=10, mode=mode, stats=stats
            ).collect()
            full = wand.bm25_topk_segments(
                segs, terms, n, avgdl, k=10, mode=mode, prune=False
            ).collect()
            assert [(r.doc_id, round(r.score, 9)) for r in pruned] == [
                (r.doc_id, round(r.score, 9)) for r in full
            ]
            want = _oracle_topk(ENG.rank_bm25(oracle_idx, query, k=10, mode=mode))
            assert [(r.doc_id, round(r.score, 9)) for r in pruned] == want
            return stats
        finally:
            segs.unpersist()

    # heavy-hitter disjunctive ('year': df 6,790 / ctf 63,123): parity
    # under real skew — dense terms leave little to prune
    run(
        ["year", "york", "universiti"], "year york university",
        "disjunctive", 1024,
    )
    # conjunctive with a rarer term: the chunk-level n_terms_present
    # filter + theta bound must skip a real share of the 39 chunks
    stats = run(["quebec", "york"], "quebec york", "conjunctive", 256)
    assert stats["n_chunks"] > 20
    assert stats["survivors"] < stats["n_chunks"] - stats["probed"]


@needs_ref_index
def test_cosine_parity_real_index(ref_tables, oracle_idx):
    from websearchengine_spark.operators import score as S

    postings, _, n, _ = ref_tables
    q = "york university"
    got = _spark_topk(S.rank_cosine(postings, q, n, k=10), ndigits=9)
    scores = ENG.cosine_scores(oracle_idx, q)
    want = sorted(
        ((d, round(s, 9)) for d, s in scores.items() if s > 0),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert got == want


@needs_ref_index
def test_postings_agree_with_forward_index_spills(ref_tables):
    """Cross-artifact consistency: the reference ships forward-index
    spills (docList4/11/15/21 — saveDocList, a DIFFERENT write path than
    the .idx inverted files) holding full {term: tf} maps for 1,729 docs.
    Every parsed posting for those docs must match the forward map's tf
    exactly, and every forward entry for a shipped first-letter must
    appear in our postings — 1M+ independent tf assertions."""
    import json

    postings, _, _, _ = ref_tables
    shipped_chars = {
        n[: -len(".idx")]
        for n in os.listdir(RI.REF_INDEX_DIR)
        if n.endswith(".idx")
    }
    fwd: dict[int, dict[str, int]] = {}
    for name in ["docList4", "docList11", "docList15", "docList21"]:
        with open(
            os.path.join(RI.REF_INDEX_DIR, name), encoding="utf-8"
        ) as fh:
            for d in json.load(fh):
                fwd[int(d["docID"])] = {
                    t: int(c) for t, c in (d.get("terms") or {}).items()
                }
    covered = set(fwd)
    rows = (
        postings.where(F_col("doc_id").isin([int(x) for x in covered]))
        .select("term", "doc_id", "tf")
        .collect()
    )
    assert len(rows) > 100_000  # real mass
    for r in rows:
        assert fwd[r.doc_id].get(r.term) == r.tf, (r.term, r.doc_id)
    ours = {(r.term, r.doc_id) for r in rows}
    missing = [
        (t, d)
        for d, terms in fwd.items()
        for t in terms
        if t[:1] in shipped_chars and (t, d) not in ours
    ]
    assert missing == []


@needs_ref_index
def test_spearman_real_pagerank_numviews(ref_tables):
    """G4 over the reference's REAL mined metrics: Spark's Spearman on
    the 10,229 shipped (_pageRank, _numViews) pairs must equal the
    reference formula computed in pure Python (0.438440).  The hw3
    readme's published best is 0.45424 for a different (λ, iters) run
    than the one whose output ships in `documents`; same family, and the
    shipped data's coefficient is pinned exactly here."""
    from websearchengine_spark.operators import mining

    _, docs, _, _ = ref_tables
    got = (
        mining.spearman(
            docs.select("doc_id", "page_rank", "num_views"),
            "page_rank",
            "num_views",
        )
        .head()
        .rho
    )
    # pure-Python reference-formula twin (ranks 1..n desc, docid ties)
    rows = docs.select("doc_id", "page_rank", "num_views").collect()
    rows.sort(key=lambda r: r.doc_id)
    pr = [r.page_rank for r in rows]
    nv = [r.num_views for r in rows]
    n = len(pr)

    def ranks(vals):
        order = sorted(range(n), key=lambda i: (-vals[i], i))
        out = [0] * n
        for pos, i in enumerate(order):
            out[i] = pos + 1
        return out

    x, y = ranks(pr), ranks(nv)
    z = sum(range(1, n + 1)) / n
    sn = sum((x[i] - z) * (y[i] - z) for i in range(n))
    sx = sum((x[i] - z) ** 2 for i in range(n))
    sy = sum((y[i] - z) ** 2 for i in range(n))
    want = sn / (sx * sy) ** 0.5
    assert got == pytest.approx(want, abs=1e-9)
    assert got == pytest.approx(0.438440, abs=5e-7)
    assert abs(got - 0.45424) < 0.02  # same family as the published best


def test_hidden_file_parse_drops_positionless_groups():
    """The driver-side dot-file parser must apply the same tf > 0 filter
    as the column path and the DuckDB oracle."""
    rows = list(RI._parse_line("foo:5;6,10,11;7;"))
    assert rows == [("foo", 6, 2, [10, 11])]
