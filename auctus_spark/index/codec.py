"""Posting codec: the one module that knows the partial-row layout.

The reference hides this layer inside Elasticsearch/Lucene
(docker-compose.yml:4 pins ES 7.10.2); the north rule requires it as
first-class Spark code.  The build, compaction and the query kernels
encode and decode postings only through this module: one encoder,
:func:`encode_groups`, and the decoders :func:`decode_docs`,
:func:`decode_row`, :func:`decode_positions`, :func:`docs_for` and
:func:`postings_for`.  Everything is numpy-vectorized over whole
streams — it runs inside ``mapInArrow``/``applyInPandas`` over Arrow
batches, never per-posting Python.

Layout of one partial row: the postings of one (term, doc bucket)
run, docIDs ascending, cut into blocks of ``BLOCK_SIZE`` postings.

- ``docs_blob`` — LEB128 stream of docID deltas; the first posting of
  every block holds its absolute docID, so any block decodes without
  its predecessors (block skipping).
- ``tfs_blob``, ``dls_blob`` — LEB128 streams of term frequency and
  document length, aligned with the docIDs (dl inline removes the
  query-time doc-stats join).
- ``docs_off``, ``tfs_off``, ``dls_off`` — little-endian int32 byte
  offset of each block's start in its stream, plus an end sentinel.
- ``block_max_tf``, ``block_min_dl`` (int32) and ``block_last_doc``
  (int64) — per-block metadata, little-endian.  It is avgdl-free:
  the BM25 tf-norm rises with tf and falls with dl, so
  ``tf_norm(block_max_tf, block_min_dl, avgdl)`` bounds every posting
  of the block for any avgdl chosen later, and encoding never needs a
  second pass over the corpus.
- ``n_docs``, ``tf_sum``, ``doc_id_min``, ``doc_id_max``, ``max_tf``,
  ``min_dl`` — row totals and bounds.
- ``pos_blob``, ``pos_off`` — positional indexes only (empty
  otherwise): each posting's token positions, the first absolute and
  the rest deltas to the previous position of the same posting, with
  a byte offset at each block's first occurrence plus an end
  sentinel.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def _varbyte_stream(vals: np.ndarray, group_starts: np.ndarray):
    """LEB128-encode ``vals`` as one byte stream; returns (stream,
    per-group start offsets, per-group end offsets, per-value starts).
    Width-adaptive (uint32 fast path) with early exit at the value
    magnitude actually present — the encoder's hottest loop."""
    n = len(vals)
    vmax = int(vals.max()) if n else 0
    dt = np.uint32 if vmax < (1 << 32) else np.uint64
    v = vals.astype(dt)
    maxk = 1
    while vmax >= (1 << (7 * maxk)):
        maxk += 1
    nbytes = np.ones(n, dtype=np.int32)
    for k in range(1, maxk):
        nbytes += (v >= dt(1) << dt(7 * k)).astype(np.int32)
    ends = np.cumsum(nbytes, dtype=np.int64)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]) if n else 0, dtype=np.uint8)
    for j in range(maxk):
        mask = nbytes > j
        sel = v[mask] if j else v
        st = starts[mask] if j else starts
        nb = nbytes[mask] if j else nbytes
        byte = ((sel >> dt(7 * j)) & dt(0x7F)).astype(np.uint8)
        cont = ((nb - 1 > j).astype(np.uint8)) << 7
        out[st + j] = byte | cont
    g_off = starts[group_starts]
    g_end = np.append(g_off[1:], int(ends[-1]) if n else 0)
    return out, g_off, g_end, starts


def encode_groups(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  group_starts: np.ndarray,
                  positions: np.ndarray | None = None) -> dict:
    """Encode many partial rows in one pass.

    ``doc_ids``, ``tfs`` and ``dls`` hold the postings of every row
    back to back, docIDs strictly ascending within a row;
    ``group_starts`` is the index of each row's first posting
    (ascending, starting at 0, no empty row).  ``positions`` holds,
    for a positional index, every posting's token positions (ascending
    within a posting) back to back in posting order, ``tfs.sum()``
    values; None writes empty position columns.

    Returns the posting columns of the rows as pyarrow arrays, keyed
    and ordered as in the partial schema after ``term`` and
    ``bucket``.  A row's bytes do not depend on which other rows share
    the call, which is what lets the build (all groups of a tokenized
    batch) and compaction (the rewritten rows of an Arrow batch) write
    the same bytes for the same postings.
    """
    import pyarrow as pa

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    group_starts = np.asarray(group_starts, dtype=np.int64)
    n = len(doc_ids)
    ng = len(group_starts)
    group_ends = np.append(group_starts[1:], n)
    group_id = np.repeat(np.arange(ng), group_ends - group_starts)
    pos_in_group = np.arange(n) - group_starts[group_id]
    tf_csum = np.concatenate([[0], np.cumsum(tfs)])

    block_start = (pos_in_group % BLOCK_SIZE) == 0
    deltas = doc_ids.copy()
    not_bs = ~block_start
    deltas[not_bs] = doc_ids[not_bs] - doc_ids[np.nonzero(not_bs)[0] - 1]

    docs_s, docs_o, docs_e, docs_pv = _varbyte_stream(deltas, group_starts)
    tfs_s, tfs_o, tfs_e, tfs_pv = _varbyte_stream(tfs, group_starts)
    dls_s, dls_o, dls_e, dls_pv = _varbyte_stream(dls, group_starts)

    bstart_idx = np.nonzero(block_start)[0]
    blk_max_tf = np.maximum.reduceat(tfs, bstart_idx)
    blk_min_dl = np.minimum.reduceat(dls, bstart_idx)
    blk_last = doc_ids[np.append(bstart_idx[1:], n) - 1]
    blk_bounds = np.searchsorted(group_id[bstart_idx], np.arange(ng + 1))
    nb = len(bstart_idx)
    nblk_per_g = np.diff(blk_bounds)

    def _binary(stream, g_off, g_end, itemsize=1):
        # zero-copy binary column: byte offsets into a shared stream
        offsets = np.empty(ng + 1, dtype=np.int32)
        offsets[:-1] = g_off * itemsize
        offsets[-1] = g_end[-1] * itemsize
        return pa.Array.from_buffers(
            pa.binary(), ng,
            [None, pa.py_buffer(offsets.tobytes()),
             pa.py_buffer(stream.tobytes())])

    def _offsets_binary(pv, g_off, g_end, at=None):
        # per-group int32 block byte offsets (group-relative, with an
        # end sentinel), packed little-endian into one binary column.
        # ``at`` overrides the value indexes of block starts (used by
        # the position stream, whose values are occurrences).
        vals = np.empty(nb + ng, dtype=np.int32)
        blk_pos = np.arange(nb) + np.repeat(np.arange(ng), nblk_per_g)
        base = np.repeat(g_off, nblk_per_g)
        vals[blk_pos] = pv[bstart_idx if at is None else at] - base
        vals[blk_bounds[1:] + np.arange(ng)] = g_end - g_off
        ent_off = blk_bounds + np.arange(ng + 1)  # entries per group
        return _binary(vals, ent_off[:-1], ent_off[1:], itemsize=4)

    def _block_binary(values, dtype):
        return _binary(values.astype(dtype), blk_bounds[:-1],
                       blk_bounds[1:], itemsize=dtype().itemsize)

    cols = {
        "n_docs": pa.array(group_ends - group_starts, type=pa.int64()),
        "tf_sum": pa.array(tf_csum[group_ends] - tf_csum[group_starts],
                           type=pa.int64()),
        "doc_id_min": pa.array(doc_ids[group_starts], type=pa.int64()),
        "doc_id_max": pa.array(doc_ids[group_ends - 1], type=pa.int64()),
        "docs_blob": _binary(docs_s, docs_o, docs_e),
        "tfs_blob": _binary(tfs_s, tfs_o, tfs_e),
        "dls_blob": _binary(dls_s, dls_o, dls_e),
        "docs_off": _offsets_binary(docs_pv, docs_o, docs_e),
        "tfs_off": _offsets_binary(tfs_pv, tfs_o, tfs_e),
        "dls_off": _offsets_binary(dls_pv, dls_o, dls_e),
        "block_max_tf": _block_binary(blk_max_tf, np.int32),
        "block_min_dl": _block_binary(blk_min_dl, np.int32),
        "block_last_doc": _block_binary(blk_last, np.int64),
        "max_tf": pa.array(np.maximum.reduceat(tfs, group_starts),
                           type=pa.int64()),
        "min_dl": pa.array(np.minimum.reduceat(dls, group_starts),
                           type=pa.int64()),
    }
    if positions is None:
        empty = np.zeros(0, dtype=np.uint8)
        zo = np.zeros(ng, dtype=np.int64)
        cols["pos_blob"] = _binary(empty, zo, zo)
        cols["pos_off"] = _binary(empty, zo, zo)
        return cols
    # per-posting positions: first absolute, rest delta vs the
    # previous position of the SAME posting; per-block byte offsets
    # via occurrence indexes (block b's positions start at occurrence
    # tf_csum[first posting of b])
    positions = np.asarray(positions, dtype=np.int64)
    pos_deltas = positions.copy()
    mask = np.ones(positions.size, dtype=bool)
    mask[tf_csum[:-1]] = False
    idxs = np.nonzero(mask)[0]
    pos_deltas[idxs] = positions[idxs] - positions[idxs - 1]
    pos_s, pos_o, pos_e, pos_pv = _varbyte_stream(
        pos_deltas, tf_csum[group_starts])
    cols["pos_blob"] = _binary(pos_s, pos_o, pos_e)
    cols["pos_off"] = _offsets_binary(pos_pv, pos_o, pos_e,
                                      at=tf_csum[bstart_idx])
    return cols


def varbyte_decode(buf) -> np.ndarray:
    """Decode an LEB128 stream to int64 (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.array([], dtype=np.int64)
    is_end = (raw & 0x80) == 0
    end_idx = np.nonzero(is_end)[0]
    starts = np.empty_like(end_idx)
    starts[0] = 0
    starts[1:] = end_idx[:-1] + 1
    idx = np.arange(raw.size, dtype=np.int64)
    # value id per byte = number of ends strictly before this byte
    value_id = np.cumsum(is_end) - is_end
    within = idx - starts[value_id]
    contrib = (raw.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * within.astype(np.uint64))
    vals = np.add.reduceat(contrib, starts)
    return vals.astype(np.int64)


def delta_decode(deltas: np.ndarray, block_size: int = BLOCK_SIZE
                 ) -> np.ndarray:
    """Absolute docIDs from a per-block-reset delta stream (vectorized,
    no per-block loop): within block b starting at s, doc_i =
    cumsum(deltas)[i] - cumsum(deltas)[s-1]."""
    n = deltas.shape[0]
    if n == 0:
        return deltas
    c = np.cumsum(deltas)
    starts = np.arange(0, n, block_size)
    base = np.where(starts > 0, c[starts - 1], 0)
    sizes = np.minimum(starts + block_size, n) - starts
    return c - np.repeat(base, sizes)


def decode_docs(docs_blob) -> np.ndarray:
    """All docIDs of a row's ``docs_blob``, ascending."""
    return delta_decode(varbyte_decode(docs_blob))


def decode_values(blob) -> np.ndarray:
    """All values of a row's ``tfs_blob`` or ``dls_blob``."""
    return varbyte_decode(blob)


def decode_row(docs_blob, tfs_blob, dls_blob
               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full-row decoder: (doc_ids, tfs, dls) of every posting."""
    return (decode_docs(docs_blob), varbyte_decode(tfs_blob),
            varbyte_decode(dls_blob))


def decode_positions(pos_blob, tfs: np.ndarray) -> np.ndarray:
    """All token positions of a row, absolute, in posting order:
    posting i owns the next ``tfs[i]`` values."""
    deltas = varbyte_decode(pos_blob)
    if deltas.size == 0:
        return deltas
    firsts = np.concatenate([[0], np.cumsum(tfs)])[:-1]
    c = np.cumsum(deltas)
    # absolute = cumsum - (cumsum before the posting's first value)
    prior = np.where(firsts > 0, c[firsts - 1], 0)
    return c - np.repeat(prior, tfs)


def decode_blocks(blob, offs, block_idx: np.ndarray,
                  deltas: bool = False) -> np.ndarray:
    """Values of the selected blocks (ascending block indexes) of one
    stream, given its ``*_off`` column.  With ``deltas=True`` the
    stream is ``docs_blob`` and absolute docIDs are rebuilt per
    block."""
    if len(block_idx) == 0:
        return np.array([], dtype=np.int64)
    offs = np.frombuffer(offs, dtype="<i4")
    parts = []
    mv = memoryview(blob)
    for b in block_idx:
        raw = varbyte_decode(bytes(mv[offs[b]:offs[b + 1]]))
        parts.append(np.cumsum(raw) if deltas else raw)
    return np.concatenate(parts)


def _blocks_for(row, cand: np.ndarray) -> np.ndarray:
    """Indexes of the row's blocks that can hold any of the sorted
    candidate docIDs ``cand``."""
    sub = cand[(cand >= row["doc_id_min"]) & (cand <= row["doc_id_max"])]
    if sub.size == 0:
        return sub
    last = np.frombuffer(row["block_last_doc"], dtype="<i8")
    blocks = np.unique(np.searchsorted(last, sub))
    return blocks[blocks < len(last)]


def docs_for(row, cand: np.ndarray) -> np.ndarray:
    """Block-selective decoder: the docIDs of the blocks of ``row`` (a
    mapping of the row's columns) that can hold any of the sorted
    candidates ``cand`` — a superset of ``cand``'s members in the row,
    ascending."""
    return decode_blocks(row["docs_blob"], row["docs_off"],
                         _blocks_for(row, cand), deltas=True)


def postings_for(row, cand: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) of the same blocks :func:`docs_for`
    selects."""
    blocks = _blocks_for(row, cand)
    return (decode_blocks(row["docs_blob"], row["docs_off"], blocks,
                          deltas=True),
            decode_blocks(row["tfs_blob"], row["tfs_off"], blocks),
            decode_blocks(row["dls_blob"], row["dls_off"], blocks))
