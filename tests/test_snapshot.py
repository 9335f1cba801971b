"""Index snapshot/restore (reference snapshotter/snapshot.py analog):
sha-manifested copy, verified restore, bit-identical queries."""

import pytest

from auctus_spark.index.build import IndexBuilder, compact, delete_docs
from auctus_spark.index.snapshot import (
    SnapshotIntegrityError,
    restore_index,
    snapshot_index,
    verify_snapshot,
)
from auctus_spark.query.bm25 import SearchEngine
from auctus_spark.corpus import generate_corpus


def _topk(spark, d, queries, buckets=2):
    eng = SearchEngine(spark, d, term_buckets=buckets)
    return {q: [(int(r.doc_id), float(r.score))
                for r in eng.search_wand(q, k=50).collect()]
            for q in queries}


def test_snapshot_restore_bit_identical(spark, tmp_path):
    pdf = generate_corpus(300, min_tokens=10, max_tokens=50,
                          vocab_size=400)
    d = str(tmp_path / "idx")
    IndexBuilder(spark, d, doc_bucket=64, chunk_docs=150,
                 term_buckets=2).build(spark.createDataFrame(pdf))
    queries = ["import", "def return", "the", "uniq_token_9"]
    before = _topk(spark, d, queries)

    snap = str(tmp_path / "snap")
    manifest = snapshot_index(d, snap)
    assert manifest and verify_snapshot(snap) == manifest

    # mutate the ORIGINAL after the snapshot (delete + compact)...
    delete_docs(spark, d, [1, 2, 3, 50])
    compact(spark, d, term_buckets=2)
    assert _topk(spark, d, queries) != before

    # ...restore elsewhere: every query bit-identical to pre-snapshot
    r = str(tmp_path / "restored")
    restore_index(snap, r)
    assert _topk(spark, r, queries) == before

    # restore OVER the mutated original too — swap discipline leaves
    # no *_restoring/*_replaced staging behind (ADVICE r5: the old
    # index is renamed aside, never a window with no live index)
    restore_index(snap, d, overwrite=True)
    assert _topk(spark, d, queries) == before
    import os
    siblings = os.listdir(os.path.dirname(d))
    assert not any(s.endswith(("_restoring", "_replaced"))
                   for s in siblings), siblings


def test_snapshot_skips_swap_leftovers(spark, tmp_path):
    """A crash in a term-stats fold between its write and its swap
    leaves a ``term_stats_next`` table; snapshot_index must not capture
    that transient swap state."""
    import os

    pdf = generate_corpus(60, min_tokens=10, max_tokens=20,
                          vocab_size=120)
    d = str(tmp_path / "idx4")
    IndexBuilder(spark, d, doc_bucket=64, chunk_docs=60,
                 term_buckets=2).build(spark.createDataFrame(pdf))
    os.makedirs(os.path.join(d, "term_stats_next"))
    with open(os.path.join(d, "term_stats_next", "junk.parquet"),
              "wb") as f:
        f.write(b"stale")
    snap = str(tmp_path / "snap4")
    manifest = snapshot_index(d, snap)
    assert not any("term_stats_next" in rel for rel in manifest)
    r = str(tmp_path / "r4")
    restore_index(snap, r)
    assert not os.path.exists(os.path.join(r, "term_stats_next"))
    q = ["import", "the"]
    assert _topk(spark, r, q) == _topk(spark, d, q)


def test_snapshot_detects_corruption(spark, tmp_path):
    pdf = generate_corpus(80, min_tokens=10, max_tokens=30,
                          vocab_size=150)
    d = str(tmp_path / "idx2")
    IndexBuilder(spark, d, doc_bucket=64, chunk_docs=80,
                 term_buckets=2).build(spark.createDataFrame(pdf))
    snap = str(tmp_path / "snap2")
    manifest = snapshot_index(d, snap)
    victim = next(rel for rel in manifest if "segments" in rel)
    path = tmp_path / "snap2" / victim
    data = bytearray(path.read_bytes())
    data[len(data) // 2] ^= 0xFF
    path.write_bytes(bytes(data))
    with pytest.raises(SnapshotIntegrityError):
        verify_snapshot(snap)
    with pytest.raises(SnapshotIntegrityError):
        restore_index(snap, str(tmp_path / "r2"))


def test_snapshot_refuses_midcompaction(spark, tmp_path, monkeypatch):
    """A compaction that stopped after its manifest commit, before its
    stats were written, leaves an index whose stats lag its manifest:
    snapshot_index refuses it."""
    from auctus_spark.index import build

    pdf = generate_corpus(50, min_tokens=10, max_tokens=20,
                          vocab_size=100)
    d = str(tmp_path / "idx3")
    IndexBuilder(spark, d, doc_bucket=64, chunk_docs=50,
                 term_buckets=2).build(spark.createDataFrame(pdf))
    delete_docs(spark, d, [1, 2])

    def crash(*a, **kw):
        raise RuntimeError("crash before the stats write")

    with monkeypatch.context() as mp:
        mp.setattr(build, "_write_stats", crash)
        with pytest.raises(RuntimeError, match="stats write"):
            compact(spark, d, term_buckets=2)
    with pytest.raises(build.UnfinishedAppendError):
        snapshot_index(d, str(tmp_path / "snap3"))
