"""Non-circular extraction goldens: the reference's REAL Wikipedia pages.

``tests/goldens/simple_extract/*.text`` were produced by running the
reference's own extraction call — ``Jsoup.parse(file, "UTF-8").body()
.text()`` with the jsoup-1.8.1.jar shipped in the checkout — over
``/root/reference/project/data/simple/`` (8 real crawled Wikipedia pages,
56-150 KB each, with tables, infoboxes, <br>, numeric entities, footnote
markup).  ``*.body`` adds the reference's boilerplate-strip +
non-alphanumeric scrub (IndexerInvertedCompressed.java:117-119).

These pages were crawled, not constructed to round-trip through our
extractor, so byte-identity here is real evidence for BASELINE.json's
per-url extraction gate.
"""

from __future__ import annotations

import glob
import os

import pytest

from websearchengine_spark.functions import textnorm as tn

SIMPLE_DIR = "/root/reference/project/data/simple"
GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens", "simple_extract")

needs_simple_pages = pytest.mark.skipif(
    not os.path.isdir(SIMPLE_DIR),
    reason=f"needs the reference's crawled pages at {SIMPLE_DIR}",
)

PAGES = sorted(
    os.path.basename(p)[: -len(".text")]
    for p in glob.glob(os.path.join(GOLDEN_DIR, "*.text"))
)


def _raw(name: str) -> bytes:
    with open(os.path.join(SIMPLE_DIR, name), "rb") as fh:
        return fh.read()


def _golden(name: str, kind: str) -> str:
    with open(
        os.path.join(GOLDEN_DIR, f"{name}.{kind}"), encoding="utf-8"
    ) as fh:
        return fh.read()


@needs_simple_pages
def test_golden_set_is_the_full_shipped_corpus():
    assert len(PAGES) == 9  # 8 pages + the Web_2.0 redirect stub
    assert sorted(os.listdir(SIMPLE_DIR)) == PAGES


@needs_simple_pages
@pytest.mark.parametrize("name", PAGES)
def test_extract_text_byte_identical_to_jsoup(name):
    assert tn.extract_text(_raw(name)) == _golden(name, "text")


@needs_simple_pages
@pytest.mark.parametrize("name", PAGES)
def test_indexing_body_byte_identical(name):
    """title-boilerplate strip + [^a-zA-Z0-9]->space on the extracted text
    (the exact string fed to readTerms) matches the jar-derived golden."""
    text = tn.extract_text(_raw(name))
    assert tn.body_for_indexing(name, text) == _golden(name, "body")


@needs_simple_pages
def test_spark_index_over_real_pages(spark):
    """End-to-end: index the 8 real pages through the Spark pipeline and
    assert postings parity with the pure-Python oracle over the same
    files — real tables/<br>/entities flowing through extraction,
    tokenization, and posting build."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators import indexer
    from websearchengine_spark.oracle import engine as ENG

    class Row:
        def __init__(self, url, text):
            self.url, self.text = url, text
            self.html, self.lang = b"", "en"

    rows = [Row(n, tn.extract_text(_raw(n))) for n in PAGES]
    oidx = ENG.build_index(rows)

    df = spark.createDataFrame(
        [(r.url, r.text) for r in rows], "url string, text string"
    )
    ids = indexer.assign_doc_ids(df, n_parts=2)
    postings = indexer.build_postings(ids)
    got = {
        (r.term, r.doc_id): (r.tf, list(r.positions))
        for r in postings.collect()
    }
    want = {
        (t, d): (len(pl), pl)
        for t, docs in oidx.postings.items()
        for d, pl in docs.items()
    }
    assert got == want
    # doc lengths ride the postings; spot-check them against the oracle
    dl = {r.doc_id: r.dl for r in postings.select("doc_id", "dl").distinct().collect()}
    assert dl == oidx.doc_len
    assert sum(dl.values()) > 20000  # real pages, real mass


JSOUP_EDGE_CASES = [
    # outputs verified against the shipped jsoup-1.8.1.jar (HeadCases
    # harness): pre-body head-rule elements join the implicit head; an
    # in-body <title> stays in body; void elements never become parents.
    ("<html><title>T</title><p>H</p></html>", "H"),
    ("<title>T</title><p>H</p>", "H"),
    ("<html><head></head><title>T2</title><p>H</p></html>", "H"),
    ("<body>x<title>T</title>y</body>", "x Ty"),
    ("<meta charset=x><style>b{color:red}</style>Hello", "Hello"),
    ("<html><link rel=x>A<p>B</p></html>", "A B"),
    ("<script>var x=1;</script>plain", "plain"),
    ("<body>x<style>s{}</style>y</body>", "x y"),
    ("<textarea> keep  ws </textarea>done", "keep  ws done"),
    ("<base href=x>text", "text"),
]


@pytest.mark.parametrize("html,want", JSOUP_EDGE_CASES)
def test_jsoup_tree_builder_edge_cases(html, want):
    assert tn.extract_text(html) == want
