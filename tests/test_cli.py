"""CLI surface: build -> query (WAND path and phrase path) -> merge."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from websearchengine_spark import cli
from websearchengine_spark.sources import fixture


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli_corpus"))
    fixture.corpus_df(spark, 48).write.mode("overwrite").parquet(path)
    return path


def test_build_and_query(spark, corpus_dir, tmp_path, capsys):
    out = str(tmp_path / "idx")
    cli.main(["build", "--corpus", corpus_dir, "--out", out,
              "--docs-per-part", "16"])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["num_docs"] > 0 and built["committed_total"] >= 1
    assert os.path.exists(os.path.join(out, "stats.json"))
    assert os.path.exists(os.path.join(out, "manifest.jsonl"))

    cli.main(["query", "--index", out, "--q", "web search", "--k", "5"])
    lines = [
        l for l in capsys.readouterr().out.strip().splitlines() if "\t" in l
    ]
    assert 0 < len(lines) <= 5
    # hw1 output format: query \t docid \t title \t score
    # (ScoredDocument.java:15-18)
    query, doc_id, title, score = lines[0].split("\t")
    assert query == "web search"
    assert int(doc_id) >= 0 and float(score) > 0
    assert title  # fixture urls (Doc_NNNNNN_*) serve as titles

    # phrase query goes down the positional decode path
    cli.main(["query", "--index", out, "--q", '"data mining"', "--k", "5"])
    plines = [
        l for l in capsys.readouterr().out.strip().splitlines() if "\t" in l
    ]
    assert len(plines) <= 5


@pytest.fixture(scope="module")
def http_index(spark, corpus_dir, tmp_path_factory, capsys=None):
    out = str(tmp_path_factory.mktemp("http_idx"))
    cli.main(["build", "--corpus", corpus_dir, "--out", out,
              "--docs-per-part", "16"])
    return out


def test_http_serving_endpoint(spark, http_index):
    """S10: the resident HTTP endpoint must serve /search with the
    reference's CGI-arg semantics (QueryHandler.java:85-128 — invalid
    ranker/num ignored, format=text|html) and return exactly the results
    of the underlying serve path."""
    from urllib.request import urlopen

    from websearchengine_spark.serving import IndexServer, serve

    srv = IndexServer(spark, http_index, preload_stats=True)
    httpd = serve(srv, port=0, background=True)
    port = httpd.server_address[1]
    try:
        base = f"http://127.0.0.1:{port}"
        body = urlopen(f"{base}/search?query=web+search&num=5").read().decode()
        lines = [l for l in body.splitlines() if l]
        assert 0 < len(lines) <= 5
        q, doc_id, title, score = lines[0].split("\t")
        assert q == "web search" and int(doc_id) >= 0 and float(score) > 0
        assert title
        # identical to the direct serve path
        want = srv.query("web search", k=5)
        assert [
            (int(l.split("\t")[1]), float(l.split("\t")[3])) for l in lines
        ] == [(d, round(s, 6)) for d, _, s in want]
        # invalid ranker and num are IGNORED, never an error
        body2 = urlopen(
            f"{base}/search?query=web+search&ranker=bogus&num=notanint"
        ).read().decode()
        assert body2.splitlines()[0].split("\t")[1] == lines[0].split("\t")[1]
        # phrase query through HTTP exercises the pruned positional path
        body3 = urlopen(
            f"{base}/search?query=%22data+mining%22&num=5"
        ).read().decode()
        assert all(
            l.split("\t")[0] == '"data mining"'
            for l in body3.splitlines() if l
        )
        # html format
        html_body = urlopen(
            f"{base}/search?query=web+search&num=2&format=html"
        ).read().decode()
        assert html_body.startswith("<!DOCTYPE html>") and "<li>" in html_body
        # unknown path -> 404
        import urllib.error
        try:
            urlopen(f"{base}/nope")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        httpd.shutdown()
        srv.close()


def test_http_prf_route(spark, http_index):
    """/prf mirrors QueryHandler.java:565-583: term \t prob lines sorted
    by prob desc, numdocs/numterms CGI args, probs normalized over the
    retained mass."""
    from urllib.request import urlopen

    from websearchengine_spark.serving import IndexServer, serve

    srv = IndexServer(spark, http_index, preload_stats=True)
    httpd = serve(srv, port=0, background=True)
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        body = urlopen(
            f"{base}/prf?query=web+search&numdocs=5&numterms=6"
        ).read().decode()
        lines = [l for l in body.splitlines() if l]
        assert 0 < len(lines) <= 6
        probs = [float(l.split("\t")[1]) for l in lines]
        assert probs == sorted(probs, reverse=True)
        assert sum(probs) == pytest.approx(1.0, abs=1e-6)
        # direct API equality
        want = srv.prf("web search", num_docs=5, num_terms=6)
        assert [(l.split("\t")[0], float(l.split("\t")[1])) for l in lines] == [
            (t, p) for t, p in want
        ]
        # invalid numeric args ignored, not an error
        ok = urlopen(f"{base}/prf?query=web+search&numterms=zzz").read().decode()
        assert ok.splitlines()
    finally:
        httpd.shutdown()
        srv.close()


def _ads_seed(tmp_path):
    """The shipped ad corpus where it exists, else a two-ad seed whose ads
    mention the bid words (data, widget) but hold no bid, so neither may
    ever win an auction."""
    from websearchengine_spark.operators import ads as A

    if os.path.exists(A.ADS_TSV):
        return A.ADS_TSV
    path = tmp_path / "seed_ads.tsv"
    path.write_text(
        "seedco_1\tdata news\tdata widget review\n"
        "seedco_2\twidget shop\twidget data deals\n",
        encoding="utf-8",
    )
    return str(path)


def test_http_ads_click_roundtrip(spark, http_index, tmp_path):
    """/ads/* routes (QueryHandler.java:297-408): create -> bid ->
    auction -> click -> CTR fold.  The live serve-side CTR state must be
    exactly reproducible by the batch ctr_fold replay over the
    impressions sidecar — the serve path and the batch oracle are the
    same machine."""
    import urllib.error
    from urllib.request import urlopen

    from websearchengine_spark.ads_serving import AdsState
    from websearchengine_spark.operators import ads as A
    from websearchengine_spark.serving import IndexServer, serve

    ads_dir = str(tmp_path / "ads_state")
    state = AdsState(spark, ads_dir, seed_tsv=_ads_seed(tmp_path))
    srv = IndexServer(spark, http_index, preload_stats=True)
    httpd = serve(srv, port=0, background=True, ads_state=state)
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        # /ads/create appends to the TSV corpus
        body = urlopen(
            f"{base}/ads/create?companyName=acme&advertisingName=1"
            "&title=data+platform&description=data+data+widget"
        ).read().decode()
        assert body == "created\tacme_1"
        with open(os.path.join(ads_dir, "advertisement.tsv")) as f:
            assert f.read().splitlines()[-1] == \
                "acme_1\tdata platform\tdata data widget"
        # /ads/bid initializes CTR at the 0.1 prior (no acme history yet)
        body = urlopen(
            f"{base}/ads/bid?word=data&companyName=acme&advertisingName=1"
            "&price=2.5"
        ).read().decode()
        assert body == "bid\tacme_1"
        assert state.ctr["data"]["acme_1"] == {
            "ctr": 0.1, "view": False, "click": False,
        }
        # auction: the freshly-created ad wins its own bid word
        body = urlopen(f"{base}/ads/search?query=data&num=3").read().decode()
        lines = [l for l in body.splitlines() if l]
        sid = lines[0].split("\t")[1]
        served = [l.split("\t") for l in lines[1:]]
        assert [r[0] for r in served] == ["acme_1"]
        assert served[0][1] == "data platform" and float(served[0][2]) > 0
        assert state.ctr["data"]["acme_1"]["view"] is True
        # click callback (reference CGI names incl. the compamyID typo)
        body = urlopen(
            f"{base}/search/ads?sessionID={sid}&compamyID=acme_1&query=data"
        ).read().decode()
        assert body == "clicked"
        # next query folds the clicked impression: 0.1 + 0.1/10
        urlopen(f"{base}/ads/search?query=data").read()
        assert state.ctr["data"]["acme_1"]["ctr"] == pytest.approx(0.11)
        # ...and marked a second view; fold it un-clicked: 0.11 - 0.011
        urlopen(f"{base}/ads/search?query=data").read()
        assert state.ctr["data"]["acme_1"]["ctr"] == pytest.approx(0.099)
        # the batch ctr_fold replay over the impressions sidecar
        # reproduces the live state exactly
        imps = spark.read.json(
            os.path.join(ads_dir, "impressions.jsonl"),
            schema="ts long, event_id long, keyword string, "
                   "ad_key string, clicked boolean",
        )
        folded = {
            (r.keyword, r.ad_key): r.ctr for r in A.ctr_fold(imps).collect()
        }
        assert folded[("data", "acme_1")] == pytest.approx(
            state.ctr["data"]["acme_1"]["ctr"])
        # a second acme bid now seeds from the company-mean CTR, not 0.1
        urlopen(
            f"{base}/ads/bid?word=widget&companyName=acme"
            "&advertisingName=2&price=1.0"
        ).read()
        assert state.ctr["widget"]["acme_2"]["ctr"] == pytest.approx(0.099)
        # session log recorded the query, the served ads, and the click
        with open(os.path.join(ads_dir, "sessions.jsonl")) as f:
            sessions = [json.loads(l) for l in f if l.strip()]
        assert sessions[0]["ads"] == ["acme_1"]
        assert any(s.get("click") == "acme_1" for s in sessions)
        # ads routes 404 when no ads_state is wired (default server)
        plain = serve(srv, port=0, background=True)
        try:
            with pytest.raises(urllib.error.HTTPError) as ei:
                urlopen(
                    "http://127.0.0.1:%d/ads/search?query=data"
                    % plain.server_address[1])
            assert ei.value.code == 404
        finally:
            plain.shutdown()
    finally:
        httpd.shutdown()
        srv.close()


def test_ads_state_resumes_from_disk(spark, tmp_path):
    """AdsState is file-backed: a new instance over the same dir sees the
    bids/CTR a previous serve deployment wrote (the reference persists
    ad.json/ctr.json across restarts, QueryHandler.java:197-263)."""
    from websearchengine_spark.ads_serving import AdsState

    ads_dir = str(tmp_path / "ads_resume")
    s1 = AdsState(spark, ads_dir, seed_tsv=_ads_seed(tmp_path))
    s1.create_ad("zeta", "9", "widget sale", "widget widget")
    s1.place_bid("widget", "zeta", "9", 4.0)
    s2 = AdsState(spark, ads_dir)
    assert s2.bids["widget"]["zeta"] == ["9", 4.0]
    assert s2.ctr["widget"]["zeta_9"]["ctr"] == 0.1
    _, results = s2.search("widget")
    assert [k for k, _, _ in results] == ["zeta_9"]


def test_index_server_close_restores_shuffle_conf(spark, http_index):
    """The resident serve pin is scoped: close() must restore the
    session's previous shuffle-partition width."""
    from websearchengine_spark import serving

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        srv = serving.IndexServer(spark, http_index)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            serving.SERVE_PARTITIONS
        )
        assert srv.term_df is not None  # stats sidecar preloaded
        srv.close()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_index_server_close_keeps_other_servers_resident(spark, http_index):
    """Two resident servers on one index share its cached segment plan
    and the session's pinned width: closing one leaves both in place for
    the other, and closing the last releases both."""
    from websearchengine_spark import serving

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        a = serving.IndexServer(spark, http_index)
        b = serving.IndexServer(spark, http_index)
        a.close()
        assert b.segs.storageLevel.useMemory
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            serving.SERVE_PARTITIONS
        )
        assert b.query("web search", k=3)
        b.close()
        assert not b.segs.storageLevel.useMemory
        assert not b.segs.storageLevel.useDisk
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _get(base: str, path: str) -> tuple[int, str]:
    """(status, body) of one GET, error statuses included."""
    import urllib.error
    from urllib.request import urlopen

    try:
        with urlopen(base + path) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_http_count_args_positive_and_capped(spark, http_index):
    """num/numdocs/numterms that are not positive integers are ignored,
    like any invalid CGI value (QueryHandler.java:85-128); num and
    numdocs are capped at the index's doc count and numterms at 2^31-1,
    so no value reaches Spark's limit() out of range."""
    from websearchengine_spark.serving import IndexServer, serve

    srv = IndexServer(spark, http_index, preload_stats=True)
    httpd = serve(srv, port=0, background=True)
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        status, default = _get(base, "/search?query=web+search")
        assert status == 200 and default
        for num in ("0", "-1", "-10"):
            assert _get(base, f"/search?query=web+search&num={num}") == (
                200, default
            )
        status, body = _get(base, "/search?query=web+search&num=99999999999")
        everything = srv.query("web search", k=srv.stats["num_docs"])
        assert status == 200 and len(body.splitlines()) == len(everything)

        status, prf_default = _get(base, "/prf?query=web+search")
        assert status == 200 and prf_default
        for v in ("0", "-3"):
            assert _get(
                base, f"/prf?query=web+search&numdocs={v}&numterms={v}"
            ) == (200, prf_default)
        status, body = _get(
            base, "/prf?query=web+search&numdocs=99999999999&numterms=99999999999"
        )
        assert status == 200 and body.splitlines()
    finally:
        httpd.shutdown()
        srv.close()


ORACLE_QUERIES = [
    ("data data mining", "conjunctive"),
    ("web search search", "disjunctive"),
    ('"data mining"', "conjunctive"),
]


def test_served_ranking_equals_oracle(spark, http_index):
    """``IndexServer.query`` ranks as ``oracle.rank_bm25`` on the same
    corpus, by (doc_id, score to 6 decimals): on the word path (WAND) a
    repeated query word counts once per occurrence, as it does on the
    phrase path and in the oracle."""
    from websearchengine_spark.oracle import engine as oracle
    from websearchengine_spark.serving import IndexServer

    idx = oracle.build_index(
        [r for r in fixture.synth_corpus(48) if r.lang == "en"]
    )
    srv = IndexServer(spark, http_index, preload_stats=True)
    try:
        for q, mode in ORACLE_QUERIES:
            got = [(d, round(s, 6)) for d, _, s in srv.query(q, mode=mode)]
            want = [
                (d, round(s, 6))
                for d, s in oracle.rank_bm25(idx, q, k=10, mode=mode)
            ]
            assert got and got == want, (q, mode)
    finally:
        srv.close()


def test_concurrent_clients_match_serial(spark, http_index):
    """Four client threads share one resident ``IndexServer`` over HTTP:
    conjunctive and disjunctive word queries, a phrase query and /prf
    each answer exactly as they do when sent alone."""
    from concurrent.futures import ThreadPoolExecutor

    from websearchengine_spark.serving import IndexServer, serve

    paths = [
        "/search?query=web+search&num=5",
        "/search?query=data+mining&ranker=disjunctive&num=5",
        "/search?query=%22data+mining%22&num=5",
        "/prf?query=web+search&numdocs=5&numterms=6",
    ]
    srv = IndexServer(spark, http_index, preload_stats=True)
    httpd = serve(srv, port=0, background=True)
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        serial = {p: _get(base, p) for p in paths}
        assert all(status == 200 and body for status, body in serial.values())
        # every thread sends every shape, each starting at a different one
        sent = [paths[(i + j) % len(paths)] for j in range(4) for i in range(4)]
        with ThreadPoolExecutor(max_workers=4) as pool:
            replies = list(pool.map(lambda p: _get(base, p), sent))
        assert [(p, r) for p, r in zip(sent, replies)] == [
            (p, serial[p]) for p in sent
        ]
    finally:
        httpd.shutdown()
        srv.close()


def test_http_500_carries_a_fixed_message():
    """A failing request answers 500 with a fixed message: the exception
    text (paths, plan fragments) never reaches the client."""
    from types import SimpleNamespace

    from websearchengine_spark.serving import serve

    def boom(*a, **k):
        raise RuntimeError("secret /internal/path")

    stub = SimpleNamespace(stats={"num_docs": 3}, query=boom, prf=boom)
    httpd = serve(stub, port=0, background=True)
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        for path in ("/search?query=web", "/prf?query=web"):
            status, body = _get(base, path)
            assert status == 500 and "secret" not in body
    finally:
        httpd.shutdown()


def test_build_from_warc_matches_parquet(spark, corpus_dir, tmp_path, capsys):
    """--format warc: fixture pages shipped as HTTP-response WARC records
    (HTML payload) must build the SAME index as the parquet path — the
    frozen S2 extractor recovers byte-identical text, and doc_ids come
    from url rank either way."""
    from websearchengine_spark.sources import fixture as fx
    from websearchengine_spark.sources import warc

    en = fx.corpus_df(spark, 48).where("lang = 'en'")
    wdir = str(tmp_path / "warc_corpus")
    warc.write_warc(
        en.selectExpr("xxhash64(url) AS doc_id", "url", "html AS text"),
        wdir,
        http_content_type="text/html; charset=utf-8",
    ).collect()

    out_w = str(tmp_path / "idx_warc")
    cli.main(["build", "--corpus", wdir, "--format", "warc", "--out",
              out_w, "--docs-per-part", "16"])
    built_w = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out_p = str(tmp_path / "idx_pq")
    cli.main(["build", "--corpus", corpus_dir, "--out", out_p,
              "--docs-per-part", "16"])
    built_p = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert built_w["num_docs"] == built_p["num_docs"] > 0
    assert built_w["total_terms"] == built_p["total_terms"]
    assert built_w["avgdl"] == built_p["avgdl"]

    outs = []
    for idx in (out_w, out_p):
        cli.main(["query", "--index", idx, "--q", "web search", "--k", "5"])
        outs.append(capsys.readouterr().out.strip())
    assert outs[0] == outs[1] and outs[0]


def test_merge_equals_build_over_the_union_corpus(
    spark, corpus_dir, http_index, tmp_path, capsys
):
    """`cli merge` of two `cli build`s over the url-hash halves of the
    fixture corpus renumbers by the union's url rank: it equals `cli
    build` over the union corpus (``http_index``) in segments, docs,
    term_stats and stats.json, and serves the same ranking.  The base
    also holds one of the delta's urls with other text, and the delta's
    row wins (a re-crawl); a part directory the delta's manifest never
    committed stays out; the merged index merges again."""
    from websearchengine_spark.operators import checkpoint
    from websearchengine_spark.serving import IndexServer

    corpus = spark.read.parquet(corpus_dir)
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    en = corpus.where(F.col("lang") == "en")
    stale = en.where(half == 1).limit(1)
    halves = [
        corpus.where(half == 0).unionByName(
            stale.withColumn("text", F.lit("stale web search text"))
        ),
        corpus.where(half == 1),
        en.limit(4).withColumn("url", F.concat(F.lit("z/"), "url")),
    ]
    builds = []
    for i, df in enumerate(halves):
        src = str(tmp_path / f"corpus{i}")
        df.write.parquet(src)
        out = str(tmp_path / f"idx{i}")
        cli.main(["build", "--corpus", src, "--out", out,
                  "--docs-per-part", "16"])
        builds.append(out)
    base, delta, third = builds
    shutil.copytree(
        os.path.join(delta, "segments", "part=0"),
        os.path.join(delta, "segments", "part=7"),
    )
    capsys.readouterr()

    merged = str(tmp_path / "merged")
    cli.main(["merge", "--base", base, "--delta", delta, "--out", merged])
    want = checkpoint.IndexCheckpointer.open(http_index)
    got = checkpoint.IndexCheckpointer.open(merged)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert got.stats == want.stats
    assert rows(got.segments(spark)) == rows(want.segments(spark))
    assert rows(got.docs(spark)) == rows(want.docs(spark))
    assert rows(spark.read.parquet(os.path.join(merged, "term_stats"))) == (
        rows(spark.read.parquet(os.path.join(http_index, "term_stats")))
    )
    served = [
        IndexServer(spark, d, preload_stats=False) for d in (merged, http_index)
    ]
    for q, mode in ORACLE_QUERIES:
        got_q, want_q = (
            [(d, t, round(s, 6)) for d, t, s in srv.query(q, mode=mode)]
            for srv in served
        )
        assert got_q and got_q == want_q, (q, mode)

    again = str(tmp_path / "merged2")
    cli.main(["merge", "--base", merged, "--delta", third, "--out", again])
    assert checkpoint.IndexCheckpointer.open(again).stats["num_docs"] == (
        want.stats["num_docs"] + 4
    )


def test_pipeline_end_to_end(spark, corpus_dir, tmp_path, capsys):
    """The full training-data pipeline runs over the fixture corpus and
    every stage's attrition is monotone; output parquet carries packed
    bin assignments."""
    out = str(tmp_path / "pipe")
    cli.main([
        "pipeline", "--corpus", corpus_dir, "--out", out,
        "--boilerplate-min-docs", "5", "--min-tokens", "3",
        "--max-rep", "0.9", "--budget", "256",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] > 0
    assert (
        rep["docs_in"]
        >= rep["after_exact_dedup"]
        >= rep["after_near_dedup"]
        >= rep["after_quality"]
        > 0
    )
    assert rep["n_bins"] >= 1
    df = spark.read.parquet(os.path.join(out, "corpus"))
    assert df.count() == rep["after_quality"]
    assert set(df.columns) == {"doc_id", "url", "text", "n_tokens", "bin_id"}
    assert os.path.exists(os.path.join(out, "report.json"))


def test_pipeline_urlless_corpus(spark, corpus_dir, tmp_path, capsys):
    """A corpus parquet WITHOUT a url column (e.g. the bare documents
    table shape) still runs: the CLI derives url = doc://<doc_id>, so
    numbering and --seen-history keying stay deterministic.  A corpus
    with neither url nor doc_id fails loudly."""
    src = spark.read.parquet(corpus_dir).drop("url")
    src = src.withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    urlless = str(tmp_path / "urlless")
    src.write.parquet(urlless)
    out = str(tmp_path / "pipe_u")
    cli.main([
        "pipeline", "--corpus", urlless, "--out", out,
        "--boilerplate-min-docs", "5", "--min-tokens", "3",
        "--max-rep", "0.9", "--budget", "256",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] > 0 and rep["after_quality"] > 0
    df = spark.read.parquet(os.path.join(out, "corpus"))
    assert df.where(~F.col("url").startswith("doc://")).count() == 0

    bad = str(tmp_path / "bad")
    spark.read.parquet(corpus_dir).drop("url").write.parquet(bad)
    with pytest.raises(SystemExit):
        cli.main(["pipeline", "--corpus", bad, "--out",
                  str(tmp_path / "pipe_bad")])


def test_pipeline_optional_stage_flags(spark, corpus_dir, tmp_path, capsys):
    """--gopher / --classifier-threshold / --bpe-report compose with the
    default stages; the report carries the budget and attrition stays
    monotone."""
    out = str(tmp_path / "pipeq")
    cli.main([
        "pipeline", "--corpus", corpus_dir, "--out", out,
        "--min-tokens", "3", "--max-rep", "0.9", "--budget", "256",
        "--gopher", "--gopher-min-stops", "1",
        "--classifier-threshold", "0.05", "--bpe-report", "--split",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["after_quality"] <= rep["after_near_dedup"]
    assert rep["after_quality"] > 0
    # the fixture corpus has no marker-dense docs: the classifier's weak
    # supervision is single-class, so the stage must SKIP (and say so),
    # not train a constant filter
    assert rep.get("classifier_skipped") is True
    assert rep["bpe_subword_tokens"] > 0
    df = spark.read.parquet(os.path.join(out, "corpus"))
    assert df.count() == rep["after_quality"]
    splits = {r["split"] for r in df.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits


def test_pipeline_from_warc(spark, tmp_path, capsys):
    """WARC in -> packed parquet out: the ingestion and pipeline stages
    compose."""
    from websearchengine_spark.sources import fixture as fx
    from websearchengine_spark.sources import warc

    en = fx.corpus_df(spark, 32).where("lang = 'en'")
    wdir = str(tmp_path / "w")
    warc.write_warc(
        en.selectExpr("xxhash64(url) AS doc_id", "url", "html AS text"),
        wdir,
        http_content_type="text/html",
    ).collect()
    out = str(tmp_path / "pipe")
    cli.main([
        "pipeline", "--corpus", wdir, "--format", "warc", "--out", out,
        "--min-tokens", "1", "--max-rep", "1.0", "--budget", "128",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] == en.count()
    assert rep["after_quality"] > 0


def test_pipeline_seen_history_filter(spark, corpus_dir, tmp_path, capsys):
    """--seen-history bloom-drops docs already ingested by a previous
    run: history = half the corpus by text; those docs disappear before
    stage 1 (no false negatives) and the attrition report gains the
    after_seen_filter count."""
    from pyspark.sql import functions as F

    corpus = spark.read.parquet(corpus_dir).where("lang = 'en'")
    hist_dir = str(tmp_path / "hist")
    hist = corpus.where(F.xxhash64("url") % 2 == 0)
    hist.write.mode("overwrite").parquet(hist_dir)
    out = str(tmp_path / "pipe_seen")
    cli.main([
        "pipeline", "--corpus", corpus_dir, "--out", out,
        "--seen-history", hist_dir,
        "--min-tokens", "1", "--max-rep", "1.0", "--budget", "256",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_all = corpus.count()
    n_hist = hist.count()
    assert rep["docs_in_raw"] == n_all
    # every history doc's text is in the filter -> dropped for certain;
    # false positives can only drop MORE, never keep a seen doc
    # (docs_in = the pipeline's input AFTER the seen filter)
    assert rep["docs_in"] <= n_all - n_hist
    assert rep["docs_in"] > 0
    assert rep["after_quality"] <= rep["docs_in"]


def test_export_wet_roundtrip(spark, corpus_dir, tmp_path, capsys):
    """export --wet writes WET conversion records that the reader
    round-trips back to the en-filtered corpus text."""
    from websearchengine_spark.sources import warc

    out = str(tmp_path / "wet")
    cli.main(["export", "--corpus", corpus_dir, "--out", out, "--wet"])
    man = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    en = fixture.corpus_df(spark, 48).where("lang = 'en'")
    assert man["records"] == en.count()
    rec = warc.read_warc(spark, out)
    got = {r.url: r.payload_text for r in rec.collect()}
    want = {r.url: r.text for r in en.select("url", "text").collect()}
    assert got == want
