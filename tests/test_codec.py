"""Posting codec: the production encoder (``codec.encode_groups``, used
by the build and by compaction) against byte-level references, its
decoders, and the grouping invariance that makes build and compaction
write the same bytes (SURVEY.md §5 rebuild plan item (c): golden
posting-list contents / codec round-trips)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from auctus_spark import B, K1
from auctus_spark.index import codec
from auctus_spark.index.codec import BLOCK_SIZE


def varbyte_encode(values: np.ndarray) -> bytes:
    """Reference LEB128 encoder, one value at a time."""
    out = bytearray()
    for v in np.asarray(values, dtype=np.int64).tolist():
        while True:
            byte, v = v & 0x7F, v >> 7
            out.append(byte | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def _row(cols: dict, i: int = 0) -> dict:
    return {k: a[i].as_py() for k, a in cols.items()}


def _encode_one(ids, tfs, dls, positions=None) -> dict:
    return _row(codec.encode_groups(ids, tfs, dls, np.array([0]),
                                    positions))


def _i64(vals):
    return np.array(vals, dtype=np.int64)


# one partial row: unique docIDs with tf, dl and tf sorted positions
postings_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=(1 << 40)),   # doc_id
              st.integers(min_value=1, max_value=20),          # tf
              st.integers(min_value=1, max_value=5000)),       # dl
    min_size=1, max_size=400, unique_by=lambda t: t[0])


def _postings(postings, seed=0):
    postings = sorted(postings)
    ids = _i64([p[0] for p in postings])
    tfs = _i64([p[1] for p in postings])
    dls = _i64([p[2] for p in postings])
    rng = np.random.RandomState(seed)
    pos = np.concatenate([np.sort(rng.choice(10_000, size=t, replace=False))
                          for t in tfs]).astype(np.int64)
    return ids, tfs, dls, pos


def test_varbyte_golden():
    # LEB128 golden bytes, from the reference and from the encoder
    assert varbyte_encode(_i64([0])) == b"\x00"
    assert varbyte_encode(_i64([1])) == b"\x01"
    assert varbyte_encode(_i64([127])) == b"\x7f"
    assert varbyte_encode(_i64([128])) == b"\x80\x01"
    assert varbyte_encode(_i64([300])) == b"\xac\x02"
    assert varbyte_encode(_i64([])) == b""
    row = _encode_one(_i64([0, 1, 128, 428]), _i64([1, 127, 128, 300]),
                      _i64([5, 5, 5, 5]))
    assert row["docs_blob"] == b"\x00\x01\x7f\xac\x02"   # deltas
    assert row["tfs_blob"] == b"\x01\x7f\x80\x01\xac\x02"
    assert row["docs_off"] == np.array([0, 5], "<i4").tobytes()
    assert row["pos_blob"] == b"" and row["pos_off"] == b""


@given(st.lists(st.integers(min_value=0, max_value=(1 << 62) - 1),
                max_size=500))
@settings(max_examples=100, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = _i64(vals)
    assert np.array_equal(codec.varbyte_decode(varbyte_encode(arr)), arr)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 40)),
                min_size=1, max_size=400),
       st.data())
def test_varbyte_stream_matches_scalar_encoder(vals, data):
    """The encoder's width-adaptive grouped LEB128 stream is
    byte-identical to the reference encoder per group."""
    a = _i64(vals)
    n_groups = data.draw(st.integers(min_value=1,
                                     max_value=min(5, len(vals))))
    cuts = sorted(data.draw(st.sets(
        st.integers(min_value=1, max_value=len(vals) - 1),
        min_size=0, max_size=n_groups - 1))) if len(vals) > 1 else []
    group_starts = _i64([0, *cuts])
    stream, g_off, g_end, _ = codec._varbyte_stream(a, group_starts)
    bounds = np.append(group_starts, len(vals))
    for i in range(len(group_starts)):
        seg = a[bounds[i]:bounds[i + 1]]
        got = stream[g_off[i]:g_end[i]].tobytes()
        assert got == varbyte_encode(seg)
        assert np.array_equal(codec.varbyte_decode(got), seg)


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=(1 << 55)),
               min_size=1, max_size=1000))
def test_delta_block_roundtrip(ids):
    """docIDs survive the per-block-reset delta stream, at every
    magnitude up to 2^55."""
    a = _i64(sorted(ids))
    row = _encode_one(a, np.ones(a.size, np.int64), np.ones(a.size, np.int64))
    assert np.array_equal(codec.decode_docs(row["docs_blob"]), a)
    assert (row["doc_id_min"], row["doc_id_max"]) == (a[0], a[-1])


def test_delta_resets_at_blocks():
    n = BLOCK_SIZE * 3 + 7
    ids = np.cumsum(np.ones(n, dtype=np.int64) * 5) + 1000
    row = _encode_one(ids, np.ones(n, np.int64), np.ones(n, np.int64))
    raw = codec.varbyte_decode(row["docs_blob"])
    # block starts hold absolute ids → independently decodable blocks
    for s in range(0, n, BLOCK_SIZE):
        assert raw[s] == ids[s]
    assert np.all(np.delete(raw, np.arange(0, n, BLOCK_SIZE)) == 5)


@settings(max_examples=50, deadline=None)
@given(postings_st)
def test_roundtrip_with_positions(postings):
    """docs, tfs, dls and the per-posting position stream read back
    exactly through the full-row and positions decoders."""
    ids, tfs, dls, pos = _postings(postings)
    row = _encode_one(ids, tfs, dls, pos)
    got = codec.decode_row(row["docs_blob"], row["tfs_blob"],
                           row["dls_blob"])
    for g, w in zip(got, (ids, tfs, dls)):
        assert np.array_equal(g, w)
    assert np.array_equal(codec.decode_positions(row["pos_blob"], tfs), pos)
    assert row["n_docs"] == ids.size and row["tf_sum"] == tfs.sum()
    assert row["max_tf"] == tfs.max() and row["min_dl"] == dls.min()


@settings(max_examples=50, deadline=None)
@given(st.lists(postings_st, min_size=1, max_size=5), st.booleans())
def test_grouping_invariance(groups, with_pos):
    """Encoding several rows in one call equals encoding each alone,
    column for column — the build encodes a whole tokenized batch,
    compaction only the rows it rewrites, and both must write the same
    bytes for the same postings."""
    rows = [_postings(g, seed=i) for i, g in enumerate(groups)]
    sizes = [r[0].size for r in rows]
    together = codec.encode_groups(
        *(np.concatenate([r[j] for r in rows]) for j in range(3)),
        np.concatenate([[0], np.cumsum(sizes)[:-1]]),
        np.concatenate([r[3] for r in rows]) if with_pos else None)
    for i, (ids, tfs, dls, pos) in enumerate(rows):
        alone = _encode_one(ids, tfs, dls, pos if with_pos else None)
        assert _row(together, i) == alone


def _blocks_of(cand, ids):
    return sorted({int(np.searchsorted(ids, c)) // BLOCK_SIZE
                   for c in cand if ids[0] <= c <= ids[-1]})


def _block_idx(blocks, n):
    if not blocks:
        return np.array([], dtype=np.int64)
    return np.concatenate([np.arange(b * BLOCK_SIZE,
                                     min((b + 1) * BLOCK_SIZE, n))
                           for b in blocks])


def test_decode_blocks_selective():
    rng = np.random.Generator(np.random.PCG64(9))
    n = BLOCK_SIZE * 5 + 17
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, n).astype(np.int64)
    dls = rng.integers(50, 500, n).astype(np.int64)
    row = _encode_one(doc_ids, tfs, dls)
    for blocks in ([0], [2, 4], [5], [0, 1, 2, 3, 4, 5]):
        bidx = np.array(blocks)
        want = _block_idx(blocks, n)
        ids = codec.decode_blocks(row["docs_blob"], row["docs_off"], bidx,
                                  deltas=True)
        assert np.array_equal(ids, doc_ids[want])
        t = codec.decode_blocks(row["tfs_blob"], row["tfs_off"], bidx)
        assert np.array_equal(t, tfs[want])
        d = codec.decode_blocks(row["dls_blob"], row["dls_off"], bidx)
        assert np.array_equal(d, dls[want])
    # empty selection
    assert codec.decode_blocks(row["docs_blob"], row["docs_off"],
                               np.array([], dtype=np.int64)).size == 0
    # candidates outside the row's docID range select no block
    assert codec.docs_for(row, _i64([doc_ids[-1] + 1])).size == 0


@settings(max_examples=100, deadline=None)
@given(postings_st, st.lists(st.integers(min_value=0, max_value=(1 << 40)),
                             max_size=20), st.data())
def test_block_selective_decode_equals_full(postings, extra, data):
    """The candidate-set decoders return exactly the blocks holding a
    candidate, equal to the full decode at those postings."""
    ids, tfs, dls, _ = _postings(postings)
    row = _encode_one(ids, tfs, dls)
    members = data.draw(st.lists(st.sampled_from(ids.tolist()),
                                 max_size=10))
    cand = np.unique(_i64(members + extra))
    want = _block_idx(_blocks_of(cand, ids), ids.size)
    got_ids = codec.docs_for(row, cand)
    assert np.array_equal(got_ids, ids[want])
    assert np.isin(np.intersect1d(cand, ids), got_ids).all()
    for g, w in zip(codec.postings_for(row, cand), (ids, tfs, dls)):
        assert np.array_equal(g, w[want])


@settings(max_examples=50, deadline=None)
@given(postings_st)
def test_position_block_offsets(postings):
    """``pos_off`` cuts the position stream at each block's first
    occurrence: every span decodes to that block's position deltas."""
    ids, tfs, dls, pos = _postings(postings)
    row = _encode_one(ids, tfs, dls, pos)
    deltas = codec.varbyte_decode(row["pos_blob"])
    firsts = np.concatenate([[0], np.cumsum(tfs)])
    offs = np.frombuffer(row["pos_off"], dtype="<i4")
    assert len(offs) == -(-ids.size // BLOCK_SIZE) + 1
    blob = row["pos_blob"]
    for b in range(len(offs) - 1):
        span = codec.varbyte_decode(blob[offs[b]:offs[b + 1]])
        occ_lo = int(firsts[b * BLOCK_SIZE])
        occ_hi = int(firsts[min((b + 1) * BLOCK_SIZE, ids.size)])
        assert np.array_equal(span, deltas[occ_lo:occ_hi])
    assert offs[-1] == len(blob)


def test_segment_roundtrip_and_blockmax():
    """Per-block metadata against brute force, and the avgdl-free
    bound it gives: tf_norm(block_max_tf, block_min_dl, avgdl) is at
    least every posting's tf_norm in the block, for any avgdl."""
    rng = np.random.Generator(np.random.PCG64(5))
    n = 1000
    doc_ids = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, n).astype(np.int64)
    dls = rng.integers(50, 5000, n).astype(np.int64)
    row = _encode_one(doc_ids, tfs, dls)
    got = codec.decode_row(row["docs_blob"], row["tfs_blob"],
                           row["dls_blob"])
    for g, w in zip(got, (doc_ids, tfs, dls)):
        assert np.array_equal(g, w)
    max_tf = np.frombuffer(row["block_max_tf"], dtype="<i4")
    min_dl = np.frombuffer(row["block_min_dl"], dtype="<i4")
    last = np.frombuffer(row["block_last_doc"], dtype="<i8")
    n_blocks = -(-n // BLOCK_SIZE)
    assert len(max_tf) == len(min_dl) == len(last) == n_blocks
    for b in range(n_blocks):
        sl = slice(b * BLOCK_SIZE, (b + 1) * BLOCK_SIZE)
        assert max_tf[b] == tfs[sl].max()
        assert min_dl[b] == dls[sl].min()
        assert last[b] == doc_ids[sl][-1]
        for avgdl in (1.0, 700.0, 1e6):
            def norm(tf, dl):
                return tf / (tf + K1 * (1 - B + B * dl / avgdl))
            assert norm(float(max_tf[b]), float(min_dl[b])) >= \
                norm(tfs[sl] * 1.0, dls[sl] * 1.0).max()
    for k in ("docs_off", "tfs_off", "dls_off"):
        assert len(row[k]) == 4 * (n_blocks + 1)
