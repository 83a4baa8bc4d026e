"""WARC (ISO 28500 / WARC/1.0) source + sink — the Common Crawl wire
format, so a corpus produced by this engine round-trips through the same
container real web-scale pipelines ingest.

Layout follows Common Crawl's: each output file is a sequence of WARC
records, each record its OWN gzip member (concatenated members form a
valid multi-member gzip stream).  Per-record members are what make the
format splittable at scale — a byte index (offset, length) per record,
like CC's cdx index, lets any reader fetch one record with a ranged
read and lets a custom splitter start mid-file at a member boundary.

Scale shape:
- The WRITER is one ``mapInPandas`` pass: each input partition streams
  its records into one ``part-<pid>.warc.gz`` and emits a single
  manifest row (path, n_records, n_bytes) — no shuffle, no driver data.
- The READER parallelizes per FILE (``spark.read.format("binaryFile")``
  + ``mapInPandas`` streaming parser).  That matches the corpus layout
  Common Crawl actually ships — ~90k files of ~1 GB per crawl — where
  file-level parallelism saturates any executor count long before
  per-file splitting matters.  Records are parsed strictly by
  Content-Length framing (never by scanning for magic strings), so
  payloads containing "WARC/1.0" or bare CRLFs round-trip untouched.

Record grammar written and accepted (subset of ISO 28500 sufficient for
response/conversion records):

    WARC/1.0\r\n
    <Header>: <value>\r\n ...
    \r\n
    <Content-Length bytes of payload>
    \r\n\r\n

``response`` records carry an HTTP/1.1 response (status line + headers
+ body) as payload, ``conversion`` records (the WET layout) carry bare
UTF-8 text.
"""

from __future__ import annotations

import gzip
import io
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_VERSION = b"WARC/1.0"
# fixed stamp: WARC-Date is mandatory, and a deterministic corpus must
# not depend on wall clock (pass record_date to override)
WARC_EPOCH = "2026-01-01T00:00:00Z"

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("record_seq", T.LongType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload_text", T.StringType()),
        T.StructField("n_payload_bytes", T.LongType()),
    ]
)


def _build_record(
    doc_id,
    url: str,
    body: bytes,
    warc_type: str,
    date: str,
    http_content_type: str = "text/plain; charset=utf-8",
) -> bytes:
    if "\r" in url or "\n" in url:
        # a CR/LF in the URI would terminate the header line early and
        # desync every later record — corrupt input fails loudly here
        raise ValueError(f"CR/LF in WARC-Target-URI: {url!r}")
    if warc_type == "response":
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: " + http_content_type.encode() + b"\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        )
        payload = http + body
        ctype = b"application/http; msgtype=response"
    elif warc_type == "conversion":
        payload = body
        ctype = b"text/plain"
    else:
        raise ValueError(f"unsupported warc_type: {warc_type}")
    head = (
        WARC_VERSION + b"\r\n"
        b"WARC-Type: " + warc_type.encode() + b"\r\n"
        b"WARC-Record-ID: <urn:wse:doc:" + str(doc_id).encode() + b">\r\n"
        b"WARC-Date: " + date.encode() + b"\r\n"
        b"WARC-Target-URI: " + url.encode() + b"\r\n"
        b"Content-Type: " + ctype + b"\r\n"
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
        b"\r\n"
    )
    return head + payload + b"\r\n\r\n"


def write_warc(
    docs: DataFrame,
    out_dir: str,
    warc_type: str = "response",
    gzip_records: bool = True,
    record_date: str = WARC_EPOCH,
    http_content_type: str = "text/plain; charset=utf-8",
) -> DataFrame:
    """Write (doc_id, url, text) as WARC files, one per input partition,
    each record its own gzip member (mtime pinned to 0 so output bytes
    are deterministic).  Returns the manifest DataFrame (path,
    n_records, n_bytes) — ≤ one row per partition ever reaches the
    driver if the caller collects it."""
    os.makedirs(out_dir, exist_ok=True)
    cols = docs.select("doc_id", "url", "text")

    def _write(batches):
        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        # task-commit protocol in miniature: stream to an attempt-unique
        # temp name (never matched by the *.warc.gz read glob), then one
        # atomic os.replace — a task retry or speculative attempt that
        # dies mid-write leaves only a stale temp file, never a
        # truncated/interleaved .warc.gz for the strict parser to choke
        # on.  Concurrent attempts of the SAME partition each write full
        # content and the last replace wins with identical bytes.  The
        # final name stays deterministic (required by the byte-identity
        # tests); like Spark's own file committers, out_dir must not be
        # shared by two different concurrent jobs.
        tmp = f"{path}.inprogress-{ctx.taskAttemptId()}"
        n = 0
        nb = 0
        try:
            with open(tmp, "wb") as fh:
                for b in batches:
                    for doc_id, url, text in zip(
                        b["doc_id"], b["url"], b["text"]
                    ):
                        # a binary text column (e.g. raw html bytes)
                        # passes through unchanged; str(bytes) would
                        # smuggle the "b'...'" repr into the payload
                        body = (
                            bytes(text)
                            if isinstance(
                                text, (bytes, bytearray, memoryview)
                            )
                            else str(text).encode("utf-8")
                        )
                        rec = _build_record(
                            doc_id,
                            str(url),
                            body,
                            warc_type,
                            record_date,
                            http_content_type,
                        )
                        if gzip_records:
                            rec = gzip.compress(rec, 6, mtime=0)
                        fh.write(rec)
                        n += 1
                        nb += len(rec)
        except BaseException:
            # a failed attempt must not orphan its temp: retries get NEW
            # attempt-unique names, so leftovers would accumulate in
            # out_dir forever
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        if n == 0:
            os.remove(tmp)
            return
        os.replace(tmp, path)
        yield pd.DataFrame(
            {"path": [path], "n_records": [n], "n_bytes": [nb]}
        )

    return cols.mapInPandas(_write, MANIFEST_SCHEMA)


class _RecordReader:
    """Minimal buffered reader over a binary file-like: tracks the
    absolute (decompressed) offset consumed so parse errors report the
    same byte positions the old whole-buffer parser did, while only
    ever holding one chunk + one in-flight record in memory."""

    CHUNK = 1 << 16

    def __init__(self, fh):
        self._fh = fh
        self._buf = b""
        self.offset = 0  # absolute offset of _buf[0] in the stream

    def _fill(self) -> bool:
        chunk = self._fh.read(self.CHUNK)
        if not chunk:
            return False
        self._buf += chunk
        return True

    def at_eof(self) -> bool:
        return not self._buf and not self._fill()

    def read_until(self, delim: bytes) -> bytes | None:
        """Consume and return bytes up to (excluding) ``delim``; None if
        the stream ends first (buffer left intact for error reporting).

        Headers are small, so chunk-at-a-time ``+=`` growth is fine here
        — the scan window also stays O(CHUNK) per fill."""
        i = self._buf.find(delim)
        while i < 0:
            scan_from = max(0, len(self._buf) - len(delim) + 1)
            if not self._fill():
                return None
            i = self._buf.find(delim, scan_from)
        out = self._buf[:i]
        self._buf = self._buf[i + len(delim):]
        self.offset += i + len(delim)
        return out

    def read_exact(self, n: int) -> bytes:
        """Up to ``n`` bytes, fewer only at end of stream.  Payloads can
        be huge (Common Crawl records run to hundreds of MB decompressed),
        so the remainder past the buffered prefix is read straight from
        the source and joined once — NOT accumulated via repeated ``+=``
        fills, which would be O(n^2/CHUNK) in the record size (measured
        19x blowup from 20 MB to 40 MB records).  A source may return
        short reads, so it is read until ``n`` bytes or an empty read."""
        parts = [self._buf[:n]]
        self._buf = self._buf[n:]
        have = len(parts[0])
        while have < n:
            chunk = self._fh.read(n - have)
            if not chunk:
                break
            parts.append(chunk)
            have += len(chunk)
        self.offset += have
        return b"".join(parts)

    def peek(self, n: int) -> bytes:
        while len(self._buf) < n:
            if not self._fill():
                break
        return self._buf[:n]


def _record_stream(data: bytes):
    """File-like over raw or (multi-member) gzip bytes WITHOUT
    materializing the decompressed stream: gzip.GzipFile reads
    concatenated members transparently and decompresses on demand."""
    if data[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=io.BytesIO(data))
    return io.BytesIO(data)


def iter_warc_records(fh, path: str = ""):
    """STREAMING parse of one WARC file from a binary file-like: yields
    record dicts (RECORD_SCHEMA fields) as they are framed, holding at
    most one record's payload in memory — a multi-GB decompressed file
    never materializes.  Framing is strictly header-driven: read headers
    to the blank line, take exactly Content-Length payload bytes,
    require the CRLF CRLF record separator."""
    rd = _RecordReader(fh)
    seq = 0
    while not rd.at_eof():
        rec_off = rd.offset
        if rd.peek(8) != WARC_VERSION:
            raise ValueError(
                f"{path}: expected WARC/1.0 at offset {rec_off}, got "
                f"{rd.peek(8)!r}"
            )
        head = rd.read_until(b"\r\n\r\n")
        if head is None:
            raise ValueError(
                f"{path}: truncated record header at offset {rec_off}"
            )
        headers: dict[str, str] = {}
        for line in head[10:].split(b"\r\n"):  # skip "WARC/1.0\r\n"
            k, _, v = line.partition(b":")
            headers[k.strip().decode("ascii").lower()] = (
                v.strip().decode("utf-8", "replace")
            )
        clen = int(headers["content-length"])
        payload = rd.read_exact(clen)
        if len(payload) != clen:
            raise ValueError(
                f"{path}: truncated record at offset {rec_off}: "
                f"want {clen} payload bytes, have {len(payload)}"
            )
        sep_off = rd.offset
        if rd.read_exact(4) != b"\r\n\r\n":
            raise ValueError(
                f"{path}: missing record separator at offset {sep_off}"
            )
        wtype = headers.get("warc-type", "")
        status = None
        http_ct = None
        body = payload
        if wtype == "response" and payload[:5] == b"HTTP/":
            head_http, _, body = payload.partition(b"\r\n\r\n")
            lines = head_http.split(b"\r\n")
            parts = lines[0].split(b" ")
            status = int(parts[1]) if len(parts) > 1 else None
            for hl in lines[1:]:
                k, _, v = hl.partition(b":")
                if k.strip().lower() == b"content-type":
                    http_ct = v.strip().decode("utf-8", "replace")
        yield {
            "path": path,
            "record_seq": seq,
            "record_id": headers.get("warc-record-id", ""),
            "warc_type": wtype,
            "warc_date": headers.get("warc-date", ""),
            "url": headers.get("warc-target-uri", ""),
            "content_type": headers.get("content-type", ""),
            "http_status": status,
            "http_content_type": http_ct,
            "payload_text": body.decode("utf-8", "replace"),
            "n_payload_bytes": len(body),
        }
        seq += 1


def parse_warc_bytes(data: bytes, path: str = "") -> list[dict]:
    """Whole-buffer convenience wrapper over ``iter_warc_records`` (tests
    and small files); the Spark read path streams instead."""
    return list(iter_warc_records(_record_stream(data), path))


def read_warc(
    spark: SparkSession, path: str, glob: str = "*.warc.gz"
) -> DataFrame:
    """Distributed WARC scan: one task per file (binaryFile source — a
    WARC file is indivisible without a member index, and file-level
    parallelism is the Common Crawl layout's design point), streaming
    parse per file, records fan out as ordinary rows.  Blobs never
    shuffle: parsing happens in the scan stage, downstream operators see
    only the extracted columns they select (column pruning applies).

    Memory bound per task: binaryFile hands the COMPRESSED file as one
    bytes value (that part is the source's contract — size files like
    Common Crawl's ~1 GB), but decompression and framing are streaming
    (gzip.GzipFile + iter_warc_records) and rows leave in
    ``_PARSE_BATCH``-record Arrow batches, so a file's multi-GB
    DECOMPRESSED form never materializes in the Python worker."""
    # directory + pathGlobFilter, not a glob-in-path: Spark's analysis
    # probes a literal getFileStatus on the path string first, which
    # throws on glob characters
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(_parse_files, RECORD_SCHEMA)


# rows per emitted Arrow batch: bounds executor memory to (compressed
# file bytes — binaryFile's contract — + one batch of parsed records +
# one in-flight record) regardless of a file's decompressed size
_PARSE_BATCH = 4096


def _parse_files(batches):
    import pandas as pd

    for b in batches:
        for p, content in zip(b["path"], b["content"]):
            rows: list[dict] = []
            stream = _record_stream(bytes(content))
            for rec in iter_warc_records(stream, str(p)):
                rows.append(rec)
                if len(rows) >= _PARSE_BATCH:
                    yield pd.DataFrame(rows)
                    rows = []
            if rows:
                yield pd.DataFrame(rows)


# binaryFile's fixed schema, required up front by readStream
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(
    spark: SparkSession, path: str, glob: str = "*.warc.gz"
) -> DataFrame:
    """Streaming twin of read_warc: watch ``path`` for NEW WARC files
    (the crawl-ingestion shape — each completed crawl file appears once
    and is parsed once); every micro-batch runs the same per-file
    streaming parser.  Compose with streaming/stream.py's
    ``incremental_index_query`` for a watch-the-crawl-directory ->
    incremental-index pipeline, or land parquet with a plain
    writeStream."""
    files = (
        spark.readStream.format("binaryFile")
        .option("pathGlobFilter", glob)
        .schema(_BINARY_FILE_SCHEMA)
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(_parse_files, RECORD_SCHEMA)


def records_to_corpus(rec: DataFrame) -> DataFrame:
    """WARC records -> (url, text) corpus rows: response records with an
    HTML Content-Type go through the frozen S2 extractor
    (byte-identity-gated vs the reference jsoup); WET conversion records
    and plain-text responses pass through.  Works identically on batch
    and streaming record DataFrames."""
    from websearchengine_spark.functions.udfs import with_extracted_text

    rec = rec.where(F.col("warc_type").isin("response", "conversion"))
    is_html = F.coalesce(
        F.col("http_content_type").contains("html"), F.lit(False)
    )
    html = with_extracted_text(
        rec.where(is_html).select("url", F.col("payload_text").alias("html")),
        "html",
        "text",
    ).select("url", "text")
    plain = rec.where(~is_html).select(
        "url", F.col("payload_text").alias("text")
    )
    return html.unionByName(plain)
