"""Segment generations: an append writes one new generation under the
manifest instead of rewriting the index; the manifest rename is its
only commit point; generations merge by tier; compaction's removals
survive later appends."""

import os

import pytest

from auctus_spark.corpus import generate_corpus
from auctus_spark.index import build
from auctus_spark.index.build import (IndexBuilder, UnfinishedAppendError,
                                      compact, delete_docs, read_manifest)
from auctus_spark.oracle import OracleIndex
from auctus_spark.query.bm25 import SearchEngine
from auctus_spark.streaming.incremental import (StreamingIndexer,
                                                incremental_update)

QUERIES = ["import", "def return", "the", "uniq_token_11"]
KW = dict(min_tokens=10, max_tokens=60, vocab_size=400)


def _docs(pdf):
    return [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)]


def _ranked(spark, d, q, k=50):
    eng = SearchEngine(spark, d, term_buckets=4)
    return [(int(r.doc_id), float(r.score))
            for r in eng.search(q, k=k).collect()]


def _assert_matches(spark, d, oracle):
    eng = SearchEngine(spark, d, term_buckets=4)
    assert eng.n_docs == oracle.n_docs
    assert eng.avgdl == oracle.avgdl
    for q in QUERIES:
        assert _ranked(spark, d, q) == oracle.search(q, k=50), q


def _builder(spark, d, chunk_docs=100):
    return IndexBuilder(spark, d, doc_bucket=64, chunk_docs=chunk_docs,
                        term_buckets=4)


def _gen_files(d):
    """{path: (inode, size)} of every file of every live generation."""
    seg = os.path.join(d, "segments")
    out = {}
    for g in read_manifest(d)["gens"]:
        for root, _, files in os.walk(os.path.join(seg, f"gen={g}")):
            for f in files:
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_ino, st.st_size)
    return out


def test_compacted_deletes_stay_deleted_after_append(spark, tmp_path):
    """Delete the top hits of a query, compact, then append a chunk:
    N, avgdl and every ranking equal the oracle over the live corpus
    plus the new chunk — the removed docs neither come back into the
    postings nor into N."""
    pdf = generate_corpus(200, **KW)
    d = str(tmp_path / "idx")
    b = _builder(spark, d)
    b.build(spark.createDataFrame(pdf))
    full = OracleIndex.build(_docs(pdf))
    dead = [doc for doc, _ in full.search("def return", k=3)]
    delete_docs(spark, d, dead)
    compact(spark, d, term_buckets=4)
    new = generate_corpus(100, start_doc_id=200, **KW)
    incremental_update(b, spark.createDataFrame(new))
    live = pdf[~pdf.doc_id.isin(dead)]
    _assert_matches(spark, d, OracleIndex.build(_docs(live) + _docs(new)))
    got = {doc for doc, _ in _ranked(spark, d, "def return", k=300)}
    assert not got & set(dead)


def test_crash_before_manifest_commit(spark, tmp_path, monkeypatch):
    """An append that stops after writing its generation but before
    the manifest rename leaves the index answering exactly as before;
    the rerun finishes the append once."""
    pdf = generate_corpus(200, **KW)
    d = str(tmp_path / "idx")
    b = _builder(spark, d)
    b.build(spark.createDataFrame(pdf[pdf.doc_id < 100]))
    before = OracleIndex.build(_docs(pdf[pdf.doc_id < 100]))

    def crash(seg_dir, manifest):
        raise RuntimeError("crash before the manifest commit")

    tail = spark.createDataFrame(pdf[pdf.doc_id >= 100])
    with monkeypatch.context() as mp:
        mp.setattr(build, "_commit_manifest", crash)
        with pytest.raises(RuntimeError, match="before the manifest"):
            incremental_update(b, tail)
    assert os.path.isdir(os.path.join(d, "segments", "gen=1"))
    assert list(read_manifest(d)["gens"]) == ["0"]
    _assert_matches(spark, d, before)
    incremental_update(b, tail)
    assert sorted(read_manifest(d)["gens"]) == ["0", "1"]
    _assert_matches(spark, d, OracleIndex.build(_docs(pdf)))


def test_crash_after_commit_before_stats(spark, tmp_path, monkeypatch):
    """An append that stops after its manifest commit but before its
    stats are written (term_stats already folded) leaves an index every
    engine refuses to open; the rerun, on a new builder, finds from the
    index alone that term_stats already holds the new chunk and
    recomputes the derived tables once — no double-counted df."""
    pdf = generate_corpus(200, **KW)
    d = str(tmp_path / "idx")
    b = _builder(spark, d)
    b.build(spark.createDataFrame(pdf[pdf.doc_id < 100]))

    def crash(*a, **kw):
        raise RuntimeError("crash before the stats write")

    tail = spark.createDataFrame(pdf[pdf.doc_id >= 100])
    with monkeypatch.context() as mp:
        mp.setattr(build, "_write_stats", crash)
        with pytest.raises(RuntimeError, match="stats write"):
            incremental_update(b, tail)
    assert read_manifest(d)["seq"] == 2
    assert build.read_term_stats_seq(d) == 2
    with pytest.raises(UnfinishedAppendError):
        SearchEngine(spark, d, term_buckets=4)
    incremental_update(_builder(spark, d), tail)
    _assert_matches(spark, d, OracleIndex.build(_docs(pdf)))


def test_tiered_merge_is_rank_identical(spark, tmp_path, monkeypatch):
    """Crossing MAX_LIVE_GENERATIONS merges the smallest generations
    into one: the rankings before and after the merge are identical
    (and the oracle's), the manifest seq and stats stay, and the
    merged-away generation dirs are gone."""
    pdf = generate_corpus(400, **KW)
    d = str(tmp_path / "idx")
    b = _builder(spark, d)
    b.build(spark.createDataFrame(pdf[pdf.doc_id < 100]))
    for lo in (100, 200, 300):
        incremental_update(b, spark.createDataFrame(
            pdf[(pdf.doc_id >= lo) & (pdf.doc_id < lo + 100)]))
    m = read_manifest(d)
    assert sorted(m["gens"], key=int) == ["0", "1", "2", "3"]
    oracle = OracleIndex.build(_docs(pdf))
    _assert_matches(spark, d, oracle)
    before = {q: _ranked(spark, d, q) for q in QUERIES}
    smallest = sorted(m["gens"], key=lambda g: (m["gens"][g]["bytes"],
                                                int(g)))[:3]
    monkeypatch.setattr(build, "MAX_LIVE_GENERATIONS", 3)
    b.finalize()                      # no new chunk: only the merge
    merged = read_manifest(d)
    assert len(merged["gens"]) == 2 and merged["seq"] == m["seq"]
    assert sorted(c for e in merged["gens"].values()
                  for c in e["chunks"]) == ["0", "1", "2", "3"]
    for g in m["gens"]:
        assert os.path.isdir(os.path.join(d, "segments", f"gen={g}")) \
            == (g in merged["gens"])
    assert not set(smallest) & set(merged["gens"])
    assert {q: _ranked(spark, d, q) for q in QUERIES} == before
    _assert_matches(spark, d, oracle)


def test_append_cost_does_not_grow_with_base(spark, tmp_path):
    """The same chunk appended onto a 1-chunk and a 4-chunk base writes
    the same segment bytes, and leaves the older generations' files
    untouched (same inode and size)."""
    pdf = generate_corpus(500, **KW)
    new = spark.createDataFrame(pdf[pdf.doc_id >= 400])
    written = []
    for name, lo in (("one", 300), ("four", 0)):
        d = str(tmp_path / name)
        b = _builder(spark, d)
        b.build(spark.createDataFrame(
            pdf[(pdf.doc_id >= lo) & (pdf.doc_id < 400)]))
        old = _gen_files(d)
        incremental_update(b, new)
        m = read_manifest(d)
        assert sorted(m["gens"]) == ["0", "1"]
        assert list(m["gens"]["1"]["chunks"]) == ["4"]
        assert {p: v for p, v in _gen_files(d).items() if p in old} == old
        written.append(m["gens"]["1"]["bytes"])
    assert written[0] == written[1]


def test_streaming_tail_rebuild_keeps_one_copy(spark, tmp_path):
    """finalize, a sub-chunk append into the tail chunk, finalize
    again: the manifest holds the rebuilt chunk once, and the index
    equals a fresh build of the same docs."""
    pdf = generate_corpus(180, **KW)
    corpus = spark.createDataFrame(pdf)
    d = str(tmp_path / "idx")
    sink = StreamingIndexer(_builder(spark, d, chunk_docs=200))
    sink(corpus.filter("doc_id < 150"), epoch_id=0)
    assert sink.finalize()["n_docs"] == 150
    sink(corpus.filter("doc_id >= 150"), epoch_id=1)
    assert sink.finalize()["n_docs"] == 180
    gens = read_manifest(d)["gens"]
    assert [c for e in gens.values() for c in e["chunks"]] == ["0"]
    assert len(gens) == 1
    _assert_matches(spark, d, OracleIndex.build(_docs(pdf)))


def test_streaming_tail_rebuild_after_compaction(spark, tmp_path):
    """Stream into a tail chunk, finalize, delete and compact two of
    its docs, then a sub-chunk append rebuilds the chunk from its
    buffer: the removed docs stay removed (N, avgdl and rankings equal
    the oracle over the live docs), a replay of the first batch
    changes nothing, and a later delete+compact subtracts only its own
    doc."""
    pdf = generate_corpus(180, **KW)
    corpus = spark.createDataFrame(pdf)
    d = str(tmp_path / "idx")
    sink = StreamingIndexer(_builder(spark, d, chunk_docs=200))
    first = corpus.filter("doc_id < 150")
    sink(first, epoch_id=0)
    sink.finalize()
    dead = [doc for doc, _ in OracleIndex.build(
        _docs(pdf[pdf.doc_id < 150])).search("def return", k=2)]
    delete_docs(spark, d, dead)
    compact(spark, d, term_buckets=4)
    sink(corpus.filter("doc_id >= 150"), epoch_id=1)
    assert sink.finalize()["n_docs"] == 178
    live = pdf[~pdf.doc_id.isin(dead)]
    oracle = OracleIndex.build(_docs(live))
    _assert_matches(spark, d, oracle)
    sink(first, epoch_id=2)                  # redelivered batch
    assert sink.finalize()["n_docs"] == 178
    _assert_matches(spark, d, oracle)
    more = [doc for doc, _ in oracle.search("import", k=1)]
    delete_docs(spark, d, more)
    assert compact(spark, d, term_buckets=4)["removed_docs"] == 1
    _assert_matches(spark, d, OracleIndex.build(
        _docs(live[~live.doc_id.isin(more)])))


def test_exchange_partitions_sized_from_bytes(spark):
    """A segment-writing exchange gets bytes / advisory size
    partitions, at least 1 and at most 4 * term_buckets."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "1m")
        assert build._exchange_partitions(spark, 0, 16) == 1
        assert build._exchange_partitions(spark, 1 << 20, 16) == 1
        assert build._exchange_partitions(spark, (3 << 20) + 1, 16) == 4
        assert build._exchange_partitions(spark, 1 << 40, 16) == 64
    finally:
        spark.conf.set(key, prev)
