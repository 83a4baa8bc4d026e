"""WARC source/sink: framing robustness, per-record gzip member layout,
WET (conversion) mode, byte determinism, and loud failure on corrupt
input."""

import glob
import gzip
import os
import zlib

import pytest

from websearchengine_spark.sources import warc


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, url string, text string"
    )


ADVERSARIAL = [
    (0, "https://a.example/0", "plain ascii body"),
    (1, "https://a.example/1", ""),  # empty payload
    # payload that contains the record magic AND the record separator —
    # only Content-Length framing survives this
    (2, "https://a.example/2", "WARC/1.0\r\n\r\nWARC-Type: fake\r\n\r\n"),
    (3, "https://a.example/3", "unicode éß中文 body"),
    (4, "https://a.example/4", "bare\rcr and\nlf and crlf\r\n mixed"),
]


@pytest.fixture(scope="module")
def roundtrip(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("warc"))
    manifest = warc.write_warc(
        _docs(spark, ADVERSARIAL).repartition(2, "doc_id"), d
    ).collect()
    recs = warc.read_warc(spark, d).collect()
    return d, manifest, recs


def test_roundtrip_payload_identity(roundtrip):
    _, _, recs = roundtrip
    by_id = {r.record_id: r for r in recs}
    assert len(recs) == len(ADVERSARIAL)
    for doc_id, url, text in ADVERSARIAL:
        r = by_id[f"<urn:wse:doc:{doc_id}>"]
        assert r.payload_text == text
        assert r.url == url
        assert r.n_payload_bytes == len(text.encode("utf-8"))
        assert r.http_status == 200
        assert r.warc_type == "response"
        assert r.warc_date == warc.WARC_EPOCH


def test_manifest_totals(roundtrip):
    d, manifest, _ = roundtrip
    assert sum(m.n_records for m in manifest) == len(ADVERSARIAL)
    for m in manifest:
        assert os.path.getsize(m.path) == m.n_bytes
    assert sorted(m.path for m in manifest) == sorted(
        glob.glob(os.path.join(d, "*.warc.gz"))
    )


def test_per_record_gzip_members(roundtrip):
    """Common Crawl layout: each record is its own gzip member, so
    decompressing ONLY the first member yields exactly one record."""
    d, manifest, _ = roundtrip
    path = max(manifest, key=lambda m: m.n_records).path
    raw = open(path, "rb").read()
    dec = zlib.decompressobj(wbits=31)
    first = dec.decompress(raw) + dec.flush()
    assert dec.unused_data  # more members follow
    recs = warc.parse_warc_bytes(first, path)
    assert len(recs) == 1


def test_wet_conversion_records(spark, tmp_path):
    d = str(tmp_path / "wet")
    warc.write_warc(
        _docs(spark, ADVERSARIAL[:2]), d, warc_type="conversion"
    ).collect()
    recs = {
        r.record_id: r for r in warc.read_warc(spark, d).collect()
    }
    r = recs["<urn:wse:doc:0>"]
    assert r.warc_type == "conversion"
    assert r.http_status is None
    assert r.content_type == "text/plain"
    assert r.payload_text == ADVERSARIAL[0][2]


def test_uncompressed_warc(spark, tmp_path):
    d = str(tmp_path / "plain")
    warc.write_warc(
        _docs(spark, ADVERSARIAL), d, gzip_records=False
    ).collect()
    # files are raw WARC (no gzip magic), parser passes them through
    path = glob.glob(os.path.join(d, "*.warc.gz"))[0]
    assert open(path, "rb").read(2) != b"\x1f\x8b"
    recs = warc.read_warc(spark, d).collect()
    assert {r.payload_text for r in recs} == {t for _, _, t in ADVERSARIAL}


def test_deterministic_bytes(spark, tmp_path):
    """Same input partitioning -> byte-identical files (gzip mtime
    pinned, fixed WARC-Date): a re-run of a failed write is idempotent
    at the byte level."""
    outs = []
    for name in ("w1", "w2"):
        d = str(tmp_path / name)
        warc.write_warc(
            _docs(spark, ADVERSARIAL).repartition(2, "doc_id"), d
        ).collect()
        outs.append(
            {
                os.path.basename(p): open(p, "rb").read()
                for p in glob.glob(os.path.join(d, "*"))
            }
        )
    assert outs[0] == outs[1]


def test_truncated_record_raises(tmp_path):
    rec = warc._build_record(7, "u", b"full body", "response", warc.WARC_EPOCH)
    with pytest.raises(ValueError, match="truncated"):
        warc.parse_warc_bytes(rec[:-10])
    with pytest.raises(ValueError, match="expected WARC/1.0"):
        warc.parse_warc_bytes(b"HTTP/1.1 200 OK\r\n\r\n")


def test_multimember_gzip_decoder():
    # the streaming reader must decode concatenated gzip members
    # transparently (the Common Crawl per-record-member layout) and pass
    # raw bytes through untouched
    a = gzip.compress(b"alpha", mtime=0)
    b = gzip.compress(b"beta", mtime=0)
    assert warc._record_stream(a + b).read() == b"alphabeta"
    assert warc._record_stream(b"raw passthrough").read() == b"raw passthrough"


# pure-python property round-trip (no Spark): arbitrary payload bytes
# must survive build -> (multi-member gzip) -> parse, in order
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.text(min_size=0, max_size=200),
            min_size=1,
            max_size=8,
        ),
        st.booleans(),
    )
    def test_warc_framing_roundtrip_property(texts, gz):
        recs = b"".join(
            warc._build_record(i, f"u/{i}", t.encode("utf-8"),
                               "conversion", warc.WARC_EPOCH)
            for i, t in enumerate(texts)
        )
        if gz:
            recs = b"".join(
                gzip.compress(
                    warc._build_record(i, f"u/{i}", t.encode("utf-8"),
                                       "conversion", warc.WARC_EPOCH),
                    mtime=0,
                )
                for i, t in enumerate(texts)
            )
        out = warc.parse_warc_bytes(recs)
        assert [r["payload_text"] for r in out] == texts
        assert [r["record_seq"] for r in out] == list(range(len(texts)))
        assert all(r["url"] == f"u/{r['record_seq']}" for r in out)
except ImportError:  # pragma: no cover
    pass


def test_crlf_url_rejected():
    with pytest.raises(ValueError, match="CR/LF"):
        warc._build_record(0, "https://x/\r\nWARC-Type: fake", b"b",
                           "response", warc.WARC_EPOCH)


def test_write_leaves_no_temp_files(roundtrip):
    """The sink's temp+atomic-rename commit: after a successful write
    only final part-*.warc.gz files remain (a crashed attempt would
    leave an .inprogress-* that the read glob never matches)."""
    d, manifest, _ = roundtrip
    names = sorted(os.path.basename(p) for p in glob.glob(os.path.join(d, "*")))
    assert names == sorted(os.path.basename(r.path) for r in manifest)
    assert all(n.endswith(".warc.gz") for n in names)


def test_iter_warc_records_is_streaming():
    """iter_warc_records frames records lazily from a file-like: records
    arrive one at a time without the decompressed stream materializing
    (the reader buffer stays bounded by chunk + one record)."""
    import io

    recs = b"".join(
        gzip.compress(
            warc._build_record(i, f"u{i}", b"x" * 100, "conversion",
                               warc.WARC_EPOCH),
            mtime=0,
        )
        for i in range(50)
    )
    it = warc.iter_warc_records(warc._record_stream(recs), "p")
    first = next(it)
    assert first["record_seq"] == 0 and first["n_payload_bytes"] == 100
    assert [r["record_seq"] for r in it] == list(range(1, 50))


def test_streaming_parse_batches_large_file():
    """_parse_files emits MULTIPLE bounded Arrow batches for one file
    with more records than _PARSE_BATCH (exercised in-process — the
    worker-side path is identical), and the union is complete."""
    import pandas as pd

    data = b"".join(
        gzip.compress(
            warc._build_record(i, f"u{i}", f"body {i}".encode(),
                               "conversion", warc.WARC_EPOCH),
            mtime=0,
        )
        for i in range(40)
    )
    fake = [pd.DataFrame({"path": ["f.warc.gz"], "content": [data]})]
    old = warc._PARSE_BATCH
    warc._PARSE_BATCH = 7
    try:
        outs = list(warc._parse_files(fake))
    finally:
        warc._PARSE_BATCH = old
    assert len(outs) == 6  # ceil(40/7)
    assert all(len(o) <= 7 for o in outs)
    got = pd.concat(outs)
    assert sorted(got["payload_text"]) == sorted(
        f"body {i}" for i in range(40)
    )


def test_short_reads_are_completed():
    """A source may return fewer bytes than asked (pipes, sockets, raw
    files): a payload read loops until it has them all."""
    import io

    class OneByteAtATime(io.RawIOBase):
        def __init__(self, data: bytes):
            self._src = io.BytesIO(data)

        def readable(self) -> bool:
            return True

        def readinto(self, b) -> int:
            chunk = self._src.read(1)
            b[: len(chunk)] = chunk
            return len(chunk)

    rec = warc._build_record(3, "u3", b"a payload longer than one byte",
                             "conversion", warc.WARC_EPOCH)
    (got,) = warc.iter_warc_records(OneByteAtATime(rec), "p")
    assert got["payload_text"] == "a payload longer than one byte"
