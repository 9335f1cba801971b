"""Property-based codec guarantees (hypothesis) on the production
encoder: the LEB128 stream and the per-block-reset docID deltas it
writes must round-trip ARBITRARY well-formed inputs at every value
magnitude the index can hold."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from auctus_spark.index import codec
from auctus_spark.index.codec import BLOCK_SIZE


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 62) - 1),
                min_size=1, max_size=500))
def test_varbyte_roundtrip(vals):
    """The encoder's grouped stream (uint32 and uint64 paths) decodes
    back to the values, whole and per value."""
    a = np.array(vals, dtype=np.int64)
    stream, g_off, g_end, starts = codec._varbyte_stream(
        a, np.array([0], dtype=np.int64))
    assert (g_off[0], g_end[0]) == (0, stream.size)
    assert np.array_equal(codec.varbyte_decode(stream.tobytes()), a)
    ends = np.append(starts[1:], stream.size)
    for i in (0, a.size // 2, a.size - 1):
        one = stream[starts[i]:ends[i]].tobytes()
        assert codec.varbyte_decode(one).tolist() == [vals[i]]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 55)),
                min_size=1, max_size=600, unique=True),
       st.data())
def test_delta_roundtrip_sorted_ids(ids, data):
    """Sorted docIDs split into several rows of one encoder call come
    back per row from decode_docs, and delta_decode inverts the
    per-block-reset deltas of the whole list."""
    a = np.sort(np.array(ids, dtype=np.int64))
    cuts = sorted(data.draw(st.sets(
        st.integers(min_value=1, max_value=a.size - 1),
        max_size=4))) if a.size > 1 else []
    group_starts = np.array([0, *cuts], dtype=np.int64)
    ones = np.ones(a.size, dtype=np.int64)
    cols = codec.encode_groups(a, ones, ones, group_starts)
    bounds = np.append(group_starts, a.size)
    for g in range(group_starts.size):
        want = a[bounds[g]:bounds[g + 1]]
        got = codec.decode_docs(cols["docs_blob"][g].as_py())
        assert np.array_equal(got, want)

    deltas = np.diff(a, prepend=0)
    first = np.arange(0, a.size, BLOCK_SIZE)
    deltas[first] = a[first]
    assert np.array_equal(codec.delta_decode(deltas), a)
