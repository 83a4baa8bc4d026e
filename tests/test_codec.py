"""Round-trip + property tests for the delta-gap/varint posting codec
(semantics: hw2 IndexerInvertedCompressed.java:151-169 encode, :371-398
decode; byte layer is ours per BASELINE.json north_star)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from websearchengine_spark.functions import codec


class TestVarint:
    def test_empty(self):
        assert codec.encode_varints(np.array([], dtype=np.int64)) == b""
        assert codec.decode_varints(b"").size == 0

    def test_small_values(self):
        v = np.array([0, 1, 127, 128, 129, 300, 16383, 16384], dtype=np.int64)
        assert (codec.decode_varints(codec.encode_varints(v)) == v).all()

    def test_single_byte_values_compact(self):
        v = np.arange(128)
        assert len(codec.encode_varints(v)) == 128

    @given(
        st.lists(st.integers(min_value=0, max_value=2**62), max_size=300)
    )
    @settings(max_examples=200, deadline=None)
    def test_roundtrip_property(self, vals):
        v = np.array(vals, dtype=np.int64)
        out = codec.decode_varints(codec.encode_varints(v))
        assert out.tolist() == vals


class TestDelta:
    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**40), max_size=200
        ).map(sorted)
    )
    @settings(max_examples=100, deadline=None)
    def test_roundtrip(self, vals):
        v = np.array(vals, dtype=np.int64)
        assert codec.delta_decode(codec.delta_encode(v)).tolist() == vals


class TestBlock:
    def test_block_roundtrip_with_positions(self):
        """One block through the codec calls build_segments makes (delta
        restarting per block for doc ids, per posting for positions) and
        back through the ones decode_segments makes."""
        doc_ids = np.array([3, 10, 11, 4000], dtype=np.int64)
        positions = [
            np.array([0, 5, 9]),
            np.array([2]),
            np.array([1, 2, 3, 4]),
            np.array([100, 10000]),
        ]
        tfs = np.array([len(p) for p in positions], dtype=np.int64)
        blk = np.array([0])
        (gap_bytes,) = codec.encode_varints_segmented(
            codec.delta_encode_segmented(doc_ids, blk), [doc_ids.size]
        )
        (tf_bytes,) = codec.encode_varints_segmented(tfs, [tfs.size])
        posting_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        (pos_bytes,) = codec.encode_varints_segmented(
            codec.delta_encode_segmented(
                np.concatenate(positions), posting_starts
            ),
            [int(tfs.sum())],
        )
        d = codec.delta_decode(codec.decode_varints(gap_bytes))
        t = codec.decode_varints(tf_bytes)
        p = codec.decode_positions(pos_bytes, t)
        assert d.tolist() == doc_ids.tolist()
        assert t.tolist() == tfs.tolist()
        for a, b in zip(p, positions):
            assert a.tolist() == b.tolist()
        assert np.maximum.reduceat(t, blk).tolist() == [4]
        assert np.add.reduceat(t, blk).tolist() == [10]
        assert d[0] == 3 and d[-1] == 4000

    def test_compression_is_real(self):
        # a dense doc-id block: gaps of 1 -> 1 byte each (8 raw)
        doc_ids = np.arange(10_000, 20_000, dtype=np.int64)
        gaps = codec.encode_varints(codec.delta_encode(doc_ids))
        assert len(gaps) < 10_010
