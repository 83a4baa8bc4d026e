"""Delta-gap + varint posting-list codec.

The reference stores delta-gapped doc ids and positions as Java ints in text
files (hw2/src/edu/nyu/cs/cs2580/IndexerInvertedCompressed.java:151-169
encode, :371-398 prefix-sum decode).  We keep the delta-gap semantics and add
the byte layer the north_star asks for: LEB128-style varints packed with
numpy.  Blocks of ``BLOCK_DOCS`` postings and their block-max metadata are
assembled by ``indexer.build_segments``.

Pure numpy, no Spark imports — used inside Arrow UDFs and by tests.
"""

from __future__ import annotations

import numpy as np

BLOCK_DOCS = 128  # postings per block (standard block-max WAND block size)


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128 varint-encode a non-negative int64 array, vectorized.

    Each value is emitted as 7-bit groups, little-endian, high bit set on
    all but the last byte.
    """
    v = np.asarray(values, dtype=np.uint64)
    return _encode(v, varint_byte_lengths(v))


def _encode(v: np.ndarray, nbytes: np.ndarray) -> bytes:
    """The byte loop behind both encoders: ``v`` (uint64) as varints of
    ``nbytes`` bytes each, filled one byte position at a time, vectorized
    over values (<= 10 positions for uint64)."""
    out = np.empty(int(nbytes.sum()), dtype=np.uint8)
    starts = np.cumsum(nbytes) - nbytes
    vals = v.copy()
    for k in range(int(nbytes.max()) if nbytes.size else 0):
        live = nbytes > k
        b = (vals[live] & np.uint64(0x7F)).astype(np.uint8)
        more = (k + 1) < nbytes[live]
        out[starts[live] + k] = b | (more.astype(np.uint8) << 7)
        vals[live] >>= np.uint64(7)
    return out.tobytes()


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count (7-bit groups, min 1) — vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes[tmp != 0] += 1
        tmp = tmp >> np.uint64(7)
    return nbytes


def encode_varints_segmented(
    values: np.ndarray, seg_lengths: np.ndarray
) -> list[bytes]:
    """Encode a FLAT value array once and split the byte stream into one
    ``bytes`` per segment (``seg_lengths`` values each, all > 0).

    Varint framing is per-value, so slicing the batch encoding at
    per-segment byte offsets is byte-identical to encoding each segment
    separately — but costs ONE vectorized pass instead of a numpy call
    per segment (the per-posting call overhead dominated the build
    kernel: 93% of its time on ~3-element arrays)."""
    seg_lengths = np.asarray(seg_lengths, dtype=np.int64)
    if seg_lengths.size == 0:
        return []
    assert (seg_lengths > 0).all(), "zero-length segments unsupported"
    # one byte-length pass shared by the encoder and the slicer
    v = np.asarray(values, dtype=np.uint64)
    nbytes = varint_byte_lengths(v)
    buf = _encode(v, nbytes)
    starts = np.concatenate(([0], np.cumsum(seg_lengths)[:-1]))
    seg_bytes = np.add.reduceat(nbytes, starts)
    offs = np.concatenate(([0], np.cumsum(seg_bytes)))
    return [buf[offs[i] : offs[i + 1]] for i in range(seg_lengths.size)]


def delta_encode_segmented(
    flat: np.ndarray, seg_starts: np.ndarray
) -> np.ndarray:
    """Per-segment delta-gap over a flat concatenation: within each
    segment the first value stays absolute, the rest become gaps."""
    a = np.asarray(flat, dtype=np.int64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    out[seg_starts] = a[seg_starts]
    return out


def decode_varints(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_varints` — vectorized LEB128 decode."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (raw & 0x80) == 0
    # value id for each byte = number of completed values before it
    vid = np.zeros(raw.size, dtype=np.int64)
    vid[1:] = np.cumsum(is_last)[:-1]
    # position of the byte within its value
    byte_pos = np.arange(raw.size, dtype=np.int64)
    value_start = np.zeros(raw.size, dtype=np.int64)
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    value_start[starts] = starts
    value_start = np.maximum.accumulate(value_start)
    shift = ((byte_pos - value_start) * 7).astype(np.uint64)
    contrib = (raw & 0x7F).astype(np.uint64) << shift
    nvals = int(is_last.sum())
    out = np.zeros(nvals, dtype=np.uint64)
    np.add.at(out, vid, contrib)
    return out.astype(np.int64)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """First value absolute, rest gaps (hw2 IndexerInvertedCompressed
    .java:162-169)."""
    a = np.asarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    """Prefix-sum decode (hw2 :371-398)."""
    return np.cumsum(np.asarray(gaps, dtype=np.int64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    flat = decode_varints(buf)
    out: list[np.ndarray] = []
    off = 0
    for tf in np.asarray(tfs, dtype=np.int64):
        out.append(delta_decode(flat[off : off + tf]))
        off += tf
    return out

