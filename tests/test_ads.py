"""Ads subsystem (R9-R11) vs an inline pure-Python oracle over the
deterministic ads fixture."""

from __future__ import annotations

import math
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from websearchengine_spark.functions.textnorm import parse_query
from websearchengine_spark.operators import ads as A
from websearchengine_spark.sources import fixture


@pytest.fixture(scope="module")
def ads_setup(spark):
    rows = fixture.synth_ads()
    ads, postings, title_tf = A.ads_tables(spark, rows)
    bids = spark.createDataFrame(
        [
            ("web", "acme", "1", 2.0),
            ("web", "globex", "5", 1.5),
            ("search", "acme", "1", 1.0),
            ("search", "initech", "8", 3.0),
            ("data", "hooli", "12", 2.5),
        ],
        "keyword string, company string, ad_id string, price double",
    )
    ctr = spark.createDataFrame(
        [("web", "acme_1", 0.5), ("search", "initech_8", 0.2)],
        "keyword string, ad_key string, ctr double",
    )
    return rows, ads.cache(), postings.cache(), title_tf.cache(), bids, ctr


def _oracle_rank(rows, bids_rows, ctr_rows, query, k=3):
    tokens = [t for t in parse_query(query.lower()) if " " not in t]
    docs = {}
    titles = {}
    for ad_key, title, body in rows:
        # AdsIndex tokenization: title ++ body, raw whitespace split, no
        # scrub, company_ads never indexed (processDocument:149-167)
        docs[ad_key] = A.ad_tokens(title, body)
        titles[ad_key] = A.ad_tokens(title)
    total = sum(len(t) for t in docs.values())
    ctf = Counter()
    for toks in docs.values():
        ctf.update(toks)

    def ql(ad_key):
        s = 1.0
        toks = docs[ad_key]
        tf = Counter(toks)
        for t in tokens:
            s *= 0.5 * tf[t] / len(toks) + 0.5 * ctf[t] / total
        return s

    def tcos(ad_key):
        ttf = Counter(titles[ad_key])
        qtf = Counter(tokens)
        dot = sum(qtf[t] * ttf[t] for t in qtf)
        if dot == 0:
            return 0.0
        qm = sum(v * v for v in qtf.values())
        tm = sum(v * v for v in ttf.values())
        return dot / math.sqrt(qm) * math.sqrt(tm)

    ctr = {(kw, ak): c for kw, ak, c in ctr_rows}
    company_ctrs = {}
    for (kw, ak), c in ctr.items():
        comp = ak.rpartition("_")[0]
        company_ctrs.setdefault(comp, []).append(c)

    per_ad = {}
    for kw, comp, ad_id, price in bids_rows:
        if kw not in tokens:
            continue
        ak = f"{comp}_{ad_id}"
        c = ctr.get(
            (kw, ak),
            sum(company_ctrs.get(comp, [])) / len(company_ctrs[comp])
            if comp in company_ctrs
            else 0.1,
        )
        qs = 0.3 * (ql(ak) + tcos(ak)) + 0.7 * c
        per_ad.setdefault(ak, []).append((qs, price))
    out = []
    for ak, pairs in per_ad.items():
        mean_qs = sum(q for q, _ in pairs) / len(pairs)
        total_price = sum(p for _, p in pairs)
        s = mean_qs * total_price
        if s > 0:
            out.append((ak, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("query", ["web search", "data cloud", "salsa web"])
def test_rank_ads_parity(spark, ads_setup, query):
    rows, ads, postings, title_tf, bids, ctr = ads_setup
    got = A.rank_ads(ads, postings, title_tf, bids, ctr, query).collect()
    want = _oracle_rank(
        rows,
        [(r.keyword, r.company, r.ad_id, r.price) for r in bids.collect()],
        [(r.keyword, r.ad_key, r.ctr) for r in ctr.collect()],
        query,
    )
    assert [r.ad_key for r in got] == [a for a, _ in want]
    for r, (_, s) in zip(got, want):
        assert r.score == pytest.approx(s, rel=1e-9)


def test_ctr_update(spark):
    ctr = spark.createDataFrame(
        [("web", "a_1", 0.5), ("web", "b_2", 0.98), ("data", "c_3", 0.3)],
        "keyword string, ad_key string, ctr double",
    )
    imps = spark.createDataFrame(
        [("web", "a_1", True), ("web", "b_2", True), ("data", "c_3", False),
         ("web", "new_9", True)],
        "keyword string, ad_key string, clicked boolean",
    )
    got = {(r.keyword, r.ad_key): r.ctr for r in A.ctr_update(ctr, imps).collect()}
    assert got[("web", "a_1")] == pytest.approx(0.55)
    assert got[("web", "b_2")] == pytest.approx(1.0)  # clamped
    assert got[("data", "c_3")] == pytest.approx(0.27)
    assert got[("web", "new_9")] == pytest.approx(0.11)  # 0.1 prior +10%


def test_no_matching_keyword_returns_empty(spark, ads_setup):
    rows, ads, postings, title_tf, bids, ctr = ads_setup
    assert A.rank_ads(ads, postings, title_tf, bids, ctr, "zzz qqq").count() == 0


# --------------------------------------------------------------------------
# S4 — the reference's SHIPPED advertisement.tsv (real ad corpus)
# --------------------------------------------------------------------------


needs_shipped_ads = pytest.mark.skipif(
    not os.path.exists(A.ADS_TSV),
    reason=f"needs the reference's shipped ad corpus at {A.ADS_TSV}",
)


def _shipped_rows():
    rows = []
    with open(A.ADS_TSV, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line:
                parts = line.split("\t")
                rows.append((parts[0], parts[1], parts[2]))
    return rows


@needs_shipped_ads
def test_shipped_ads_tsv_ingest(spark):
    """27 real ads parse with unique company_ads keys and non-trivial
    token mass (AdsIndex key-uniqueness check, constructIndex:175-179)."""
    ads, postings, title_tf = A.ads_tables_from_tsv(spark)
    n = ads.count()
    assert n == 27
    assert ads.select("ad_key").distinct().count() == n
    assert postings.agg(F.sum("tf")).head()[0] > 300
    # company parse: 'ScienceNews.org_1' -> ('ScienceNews.org', '1')
    row = ads.where(F.col("ad_key") == "ScienceNews.org_1").head()
    assert (row.company, row.ad_id) == ("ScienceNews.org", "1")


@needs_shipped_ads
@pytest.mark.parametrize("query", ["science news", "advertising technology"])
def test_rank_ads_parity_shipped_corpus(spark, query):
    """R9/R10 parity over the REAL shipped ad text (bids/CTR synthetic —
    ad.json and CTR.json ship empty)."""
    rows = _shipped_rows()
    ads, postings, title_tf = A.ads_tables_from_tsv(spark)
    bids = spark.createDataFrame(
        [
            ("science", "ScienceNews.org", "1", 2.0),
            ("science", "ScienceChannel", "1", 1.5),
            ("news", "ScienceNews.org", "1", 0.5),
            ("advertising", "YP.com", "1", 1.0),
            ("technology", "makovsky.com‎", "1", 2.5),
        ],
        "keyword string, company string, ad_id string, price double",
    )
    ctr = spark.createDataFrame(
        [("science", "ScienceChannel_1", 0.4)],
        "keyword string, ad_key string, ctr double",
    )
    got = A.rank_ads(ads, postings, title_tf, bids, ctr, query).collect()
    want = _oracle_rank(
        rows,
        [(r.keyword, r.company, r.ad_id, r.price) for r in bids.collect()],
        [(r.keyword, r.ad_key, r.ctr) for r in ctr.collect()],
        query,
    )
    assert [r.ad_key for r in got] == [a for a, _ in want]
    for r, (_, s) in zip(got, want):
        assert r.score == pytest.approx(s, rel=1e-9)
    if query == "science news":
        assert got, "real science ads must match the science query"


@needs_shipped_ads
def test_ads_tables_gate_shapes(spark):
    """Gate tokenization tables over the shipped TSV: 27 ads, postings
    tf mass equals summed doc lengths, title vocabulary is a subset."""
    ads, postings, title_tf = A.ads_tables_gate(spark)
    assert ads.count() == 27
    assert ads.where(F.col("doc_len") <= 0).count() == 0
    assert (
        postings.agg(F.sum("tf")).head()[0]
        == ads.agg(F.sum("doc_len")).head()[0]
    )
    doc_vocab = {r.term for r in postings.select("term").distinct().collect()}
    title_vocab = {
        r.term for r in title_tf.select("term").distinct().collect()
    }
    assert title_vocab <= doc_vocab
    # company/ad_id split reconstructs the key
    bad = ads.where(
        F.concat_ws("_", "company", "ad_id") != F.col("ad_key")
    ).count()
    assert bad == 0


def test_rank_ads_tokens_override(spark, ads_setup):
    """Explicit ``tokens`` must reproduce the parse_query path exactly
    when given the same tokens (the driver gate's bypass)."""
    rows, ads, postings, title_tf, bids, ctr = ads_setup
    query = "web data"
    toks = [t for t in parse_query(query) if " " not in t]
    via_query = A.rank_ads(ads, postings, title_tf, bids, ctr, query).collect()
    via_tokens = A.rank_ads(
        ads, postings, title_tf, bids, ctr, "IGNORED", tokens=toks
    ).collect()
    assert [(r.ad_key, r.score) for r in via_query] == [
        (r.ad_key, r.score) for r in via_tokens
    ]
