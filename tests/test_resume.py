"""Resumable builds (north rule): a build interrupted between chunks and
resumed produces byte-identical search results to a fresh full build,
and already-built chunks are skipped on resume."""

import math
import os

import pytest

from auctus_spark.corpus import generate_corpus
from auctus_spark.index.build import IndexBuilder
from auctus_spark.query.bm25 import SearchEngine


def _results(spark, out, q):
    eng = SearchEngine(spark, out, term_buckets=4)
    return [(int(r.doc_id), round(float(r.score), 12))
            for r in eng.search(q).collect()]


def test_resume_equivalence(spark, tmp_path):
    pdf = generate_corpus(400, min_tokens=20, max_tokens=120, vocab_size=800)
    corpus = spark.createDataFrame(pdf)

    # fresh full build
    full_dir = str(tmp_path / "full")
    IndexBuilder(spark, full_dir, doc_bucket=128, chunk_docs=100,
                 term_buckets=4).build(corpus)

    # interrupted build: only the first half of the doc range, then
    # resume with the full corpus
    part_dir = str(tmp_path / "resumed")
    b = IndexBuilder(spark, part_dir, doc_bucket=128, chunk_docs=100,
                     term_buckets=4)
    first_half = corpus.filter("doc_id < 200")
    built1 = b.tokenize_chunks(first_half)
    assert built1 == [0, 1]

    # resume: chunks 0-1 skipped, 2-3 built
    built2 = b.tokenize_chunks(corpus, resume=True)
    assert built2 == [2, 3]
    stats = b.finalize_stats()
    b.encode_segments()
    b.finalize_term_stats()

    for q in ["import", "def return", "uniq_token_11"]:
        assert _results(spark, part_dir, q) == _results(spark, full_dir, q)

    # re-running build() over an up-to-date index is a no-op for stage 1
    assert b.tokenize_chunks(corpus, resume=True) == []
    assert b.verify_lineage(corpus)


def test_stats_are_global(spark, tmp_path):
    """avgdl/N must come from the full corpus snapshot."""
    pdf = generate_corpus(150, min_tokens=20, max_tokens=80, vocab_size=500)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=64, term_buckets=4)
    stats = b.build(corpus)
    assert stats["n_docs"] == 150
    want_avgdl = sum(len(c.split()) for c in pdf["content"]) / 150
    assert math.isclose(stats["avgdl"], want_avgdl, rel_tol=1e-12)


def test_delete_and_update(spark, tmp_path):
    """Tombstone deletes mask results on every scorer path; an update
    is delete + incremental append under a new docID."""
    from auctus_spark.corpus import generate_corpus
    from auctus_spark.index.build import IndexBuilder, delete_docs
    from auctus_spark.query.bm25 import SearchEngine, search_many
    from auctus_spark.streaming.incremental import incremental_update

    pdf = generate_corpus(300, min_tokens=20, max_tokens=100,
                          vocab_size=500)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=128, chunk_docs=1 << 20,
                     term_buckets=4)
    b.build(spark.createDataFrame(pdf))
    eng = SearchEngine(spark, out, term_buckets=4)
    before = [(int(r.doc_id), float(r.score))
              for r in eng.search_wand("import", k=50).collect()]
    victims = [before[0][0], before[3][0]]
    delete_docs(spark, out, victims)

    eng2 = SearchEngine(spark, out, term_buckets=4)
    want = [(d, s) for d, s in
            [(int(r.doc_id), float(r.score))
             for r in eng.search_wand("import", k=52).collect()]
            if d not in victims][:50]
    got = [(int(r.doc_id), float(r.score))
           for r in eng2.search_wand("import", k=50).collect()]
    assert got == want
    assert all(d not in victims for d, _ in got)
    # OR path and exhaustive path also mask
    got_or = [int(r.doc_id)
              for r in eng2.search_or("import", k=50).collect()]
    assert all(d not in victims for d in got_or)
    got_ex = [int(r.doc_id) for r in eng2.search("import", k=50).collect()]
    assert all(d not in victims for d in got_ex)
    # batched path
    sm = search_many(eng2, {"q": "import"}, k=50).collect()
    assert all(int(r.doc_id) not in victims for r in sm)

    # update = delete + append new version under a fresh docID in a
    # NEW chunk range (increment granularity = chunk)
    new = generate_corpus(1, min_tokens=20, max_tokens=40, vocab_size=500,
                          start_doc_id=1 << 20)
    incremental_update(b, spark.createDataFrame(new))
    eng3 = SearchEngine(spark, out, term_buckets=4)
    assert eng3.n_docs == 301  # stats refreshed at rebuild


def test_sha_rollup_hashlib_parity(spark, tmp_path):
    """The JVM sha256 lineage rollup (Observation during the build
    write) equals the hashlib-computed rollup — the per-row content
    invariant is engine-independent."""
    import hashlib

    pdf = generate_corpus(80, min_tokens=10, max_tokens=40, vocab_size=200)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=64,
                     term_buckets=4)
    b.build(spark.createDataFrame(pdf))
    want = sum(
        int(hashlib.sha256(c.encode()).hexdigest()[:15], 16)
        for c in pdf["content"])
    lin = spark.read.parquet(b.paths.lineage)
    got = int(lin.groupBy().sum("sha_rollup").collect()[0][0])
    assert got == want
    assert b.verify_lineage(spark.createDataFrame(pdf))


def test_unsorted_input_fails_loudly(spark, tmp_path):
    """Non-docID-ascending batches must raise, never silently corrupt
    the index (posting runs would overlap)."""
    import pytest

    pdf = generate_corpus(200, min_tokens=10, max_tokens=40, vocab_size=200)
    shuffled = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    corpus = spark.createDataFrame(shuffled).coalesce(1)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=1 << 20,
                     term_buckets=4)
    with pytest.raises(Exception, match="docID-ascending"):
        b.build(corpus, resume=False)


def test_presort_matches_ordered_build(spark, tmp_path):
    """presort=True range-partitions + sorts arbitrary input and must
    produce byte-identical search results to an ordered build."""
    pdf = generate_corpus(400, min_tokens=15, max_tokens=60, vocab_size=400)
    ordered_dir = str(tmp_path / "ordered")
    IndexBuilder(spark, ordered_dir, doc_bucket=128, chunk_docs=200,
                 term_buckets=4).build(spark.createDataFrame(pdf))

    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    sorted_dir = str(tmp_path / "presorted")
    b = IndexBuilder(spark, sorted_dir, doc_bucket=128, chunk_docs=200,
                     term_buckets=4, presort=True)
    b.build(spark.createDataFrame(shuffled).repartition(5))

    for q in ["import", "def return", "uniq_token_11"]:
        assert _results(spark, sorted_dir, q) == _results(
            spark, ordered_dir, q)


def test_append_inside_committed_chunk_raises(spark, tmp_path):
    """Chunk-granular exactly-once: new docIDs landing inside an
    already-committed chunk must raise (they would be silently
    dropped otherwise), while appends beyond it succeed."""
    import pytest

    pdf = generate_corpus(100, min_tokens=10, max_tokens=40, vocab_size=200)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=1000,
                     term_buckets=4)
    b.build(spark.createDataFrame(pdf))

    # doc_id 100 falls inside committed chunk 0 (docs 0..999)
    intruder = generate_corpus(5, min_tokens=10, max_tokens=20,
                               vocab_size=200, start_doc_id=100)
    both = spark.createDataFrame(pdf).unionByName(
        spark.createDataFrame(intruder))
    with pytest.raises(ValueError, match="committed chunk"):
        b.tokenize_chunks(both, resume=True)

    # appends in a NEW chunk range are fine
    fresh = generate_corpus(5, min_tokens=10, max_tokens=20,
                            vocab_size=200, start_doc_id=1000)
    assert b.tokenize_chunks(
        spark.createDataFrame(pdf).unionByName(
            spark.createDataFrame(fresh)), resume=True) == [1]


def test_subchunk_streaming_appends(spark, tmp_path):
    """Sub-chunk incremental appends (StreamingIndexer tail buffer):
    three micro-batches that do NOT align with chunk boundaries must
    produce search results identical to one fresh full build — the
    tail chunk is rebuilt from its raw buffer on each overlap."""
    from auctus_spark.streaming.incremental import StreamingIndexer

    pdf = generate_corpus(600, min_tokens=10, max_tokens=60,
                          vocab_size=400)
    corpus = spark.createDataFrame(pdf)
    full_dir = str(tmp_path / "full")
    IndexBuilder(spark, full_dir, doc_bucket=128, chunk_docs=200,
                 term_buckets=4).build(corpus)

    inc_dir = str(tmp_path / "inc")
    b = IndexBuilder(spark, inc_dir, doc_bucket=128, chunk_docs=200,
                     term_buckets=4)
    sink = StreamingIndexer(b)
    # batches cut at 150 / 450: both INSIDE chunk ranges (0..199,
    # 400..599) — round 2 raised here
    sink(corpus.filter("doc_id < 150"), epoch_id=0)
    sink(corpus.filter("doc_id >= 150 and doc_id < 450"), epoch_id=1)
    sink(corpus.filter("doc_id >= 450"), epoch_id=2)
    sink.finalize()
    for q in ["import", "def return", "uniq_token_11", "the"]:
        assert _results(spark, inc_dir, q) == _results(spark, full_dir, q)
    # lineage invariant holds over the merged corpus
    assert b.verify_lineage(corpus)


def test_subchunk_replay_and_partial_overlap(spark, tmp_path):
    """foreachBatch redelivery: a fully-replayed batch is a no-op; a
    batch that only PARTIALLY overlaps the buffered rows is corrupt
    input and fails loudly."""
    import pytest

    from auctus_spark.streaming.incremental import StreamingIndexer

    pdf = generate_corpus(300, min_tokens=10, max_tokens=40,
                          vocab_size=300)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=200,
                     term_buckets=4)
    sink = StreamingIndexer(b)
    sink(corpus.filter("doc_id < 150"), epoch_id=0)
    lin1 = b._lineage_rows()
    # replay the same batch: exactly-once, lineage unchanged
    sink(corpus.filter("doc_id < 150"), epoch_id=0)
    assert b._lineage_rows() == lin1
    # partial overlap (100..249 replays 100..149, adds 150..249)
    with pytest.raises(ValueError, match="replay"):
        sink(corpus.filter("doc_id >= 100 and doc_id < 250"),
             epoch_id=1)
    # clean continuation still works and matches a fresh build
    sink(corpus.filter("doc_id >= 150"), epoch_id=2)
    sink.finalize()
    full_dir = str(tmp_path / "full")
    IndexBuilder(spark, full_dir, doc_bucket=64, chunk_docs=200,
                 term_buckets=4).build(corpus)
    for q in ["import", "uniq_token_11"]:
        assert _results(spark, out, q) == _results(spark, full_dir, q)


def test_subchunk_appends_positional_stemmed(spark, tmp_path):
    """Sub-chunk appends preserve the full analyzer surface: a
    POSITIONAL + STEMMED index built from three non-aligned
    micro-batches answers match_phrase and stemmed WAND queries
    identically to a fresh full build."""
    from auctus_spark.query.bm25 import PhraseEngine
    from auctus_spark.streaming.incremental import StreamingIndexer

    pdf = generate_corpus(500, min_tokens=10, max_tokens=60,
                          vocab_size=300)
    corpus = spark.createDataFrame(pdf)
    kw = dict(doc_bucket=128, chunk_docs=200, term_buckets=4,
              stem=True, positions=True)
    full_dir = str(tmp_path / "full")
    IndexBuilder(spark, full_dir, **kw).build(corpus)

    inc_dir = str(tmp_path / "inc")
    sink = StreamingIndexer(IndexBuilder(spark, inc_dir, **kw))
    sink(corpus.filter("doc_id < 130"), epoch_id=0)
    sink(corpus.filter("doc_id >= 130 and doc_id < 390"), epoch_id=1)
    sink(corpus.filter("doc_id >= 390"), epoch_id=2)
    sink.finalize()

    e_full = PhraseEngine(spark, full_dir, term_buckets=4)
    e_inc = PhraseEngine(spark, inc_dir, term_buckets=4)
    for q in ["import", "def return", "uniq_token_11"]:
        got = [(int(r.doc_id), float(r.score))
               for r in e_inc.search_wand(q).collect()]
        want = [(int(r.doc_id), float(r.score))
                for r in e_full.search_wand(q).collect()]
        assert got == want, ("wand", q)
    for q in ["import def", "def return"]:
        got = [(int(r.doc_id), float(r.score))
               for r in e_inc.search_phrase(q).collect()]
        want = [(int(r.doc_id), float(r.score))
                for r in e_full.search_phrase(q).collect()]
        assert got == want, ("phrase", q)


def test_subchunk_crash_windows_recover(spark, tmp_path):
    """The two crash windows of the sub-chunk rebuild order (merged
    buffer swapped → chunk dropped → re-tokenized) both self-heal:

    A. crash AFTER the buffer swap, BEFORE the chunk drop — the
       committed chunk is stale (buffer has more rows than lineage
       n_docs); the next append detects it and rebuilds.
    B. crash AFTER the chunk drop, BEFORE re-tokenize — the chunk is
       absent from lineage with ALL its rows (old ∪ new) in the
       buffer; the next append restores them.
    """
    from auctus_spark.streaming.incremental import StreamingIndexer

    pdf = generate_corpus(300, min_tokens=10, max_tokens=40,
                          vocab_size=300)
    corpus = spark.createDataFrame(pdf)
    full_dir = str(tmp_path / "full")
    IndexBuilder(spark, full_dir, doc_bucket=64, chunk_docs=200,
                 term_buckets=4).build(corpus)

    for window, out in (("A", str(tmp_path / "wa")),
                        ("B", str(tmp_path / "wb"))):
        b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=200,
                         term_buckets=4)
        sink = StreamingIndexer(b)
        sink(corpus.filter("doc_id < 150"), epoch_id=0)
        # simulate the crashed second append of docs 150..179: merged
        # buffer swapped in ...
        sink._write_buffer(corpus.filter("doc_id < 180"), 0,
                           clean=False)
        if window == "B":
            sink._drop_chunk(0)      # ... and chunk dropped too
        # foreachBatch redelivery of the crashed batch + the rest
        sink(corpus.filter("doc_id >= 150 and doc_id < 180"),
             epoch_id=1)
        sink(corpus.filter("doc_id >= 180"), epoch_id=2)
        sink.finalize()
        for q in ["import", "uniq_token_11", "the"]:
            assert _results(spark, out, q) == _results(
                spark, full_dir, q), (window, q)
        assert b.verify_lineage(corpus), window


def test_subchunk_append_without_buffer_raises(spark, tmp_path):
    """An index whose tail chunk was built OUTSIDE the streaming path
    has no raw buffer — sub-chunk appends must still fail loudly."""
    import pytest

    from auctus_spark.streaming.incremental import StreamingIndexer

    pdf = generate_corpus(100, min_tokens=10, max_tokens=40,
                          vocab_size=200)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=1000,
                     term_buckets=4)
    b.build(spark.createDataFrame(pdf))
    sink = StreamingIndexer(b)
    intruder = generate_corpus(5, min_tokens=10, max_tokens=20,
                               vocab_size=200, start_doc_id=100)
    with pytest.raises(ValueError, match="committed chunk"):
        sink(spark.createDataFrame(intruder), epoch_id=0)


def test_gapped_docids_build(spark, tmp_path):
    """docID gaps spanning whole chunks must not break the build
    (empty chunk ranges are skipped, not scanned)."""
    a = generate_corpus(50, min_tokens=10, max_tokens=30, vocab_size=200)
    c = generate_corpus(50, min_tokens=10, max_tokens=30, vocab_size=200,
                        start_doc_id=500)  # chunks 0 and 5; 1-4 empty
    corpus = spark.createDataFrame(a).unionByName(spark.createDataFrame(c))
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=100,
                     term_buckets=4)
    stats = b.build(corpus)
    assert stats["n_docs"] == 100
    assert b.tokenize_chunks(corpus, resume=True) == []  # all committed
    eng = SearchEngine(spark, out, term_buckets=4)
    got = [int(r.doc_id) for r in eng.search_wand("import", k=100).collect()]
    assert got and any(d >= 500 for d in got)
    assert b.verify_lineage(corpus)


def test_tombstone_mask_cap(spark, tmp_path):
    """load_tombstones fails loudly past the mask cap instead of
    collecting millions of docIDs to the driver."""
    import pytest

    from auctus_spark.index.build import delete_docs, load_tombstones

    pdf = generate_corpus(50, min_tokens=10, max_tokens=30, vocab_size=200)
    out = str(tmp_path / "idx")
    IndexBuilder(spark, out, doc_bucket=64, chunk_docs=1 << 20,
                 term_buckets=4).build(spark.createDataFrame(pdf))
    delete_docs(spark, out, list(range(10)))
    assert len(load_tombstones(spark, out)) == 10
    with pytest.raises(ValueError, match="tombstones"):
        load_tombstones(spark, out, max_mask=5)


def test_many_tombstones_no_plan_blowup(spark, tmp_path):
    """10^5 tombstones: the AND scorer masks them with the sorted numpy
    array in its task closure (no per-docID literals in the plan) and
    ranks the oracle's hits over the live docs."""
    from auctus_spark.index.build import delete_docs
    from auctus_spark.oracle import OracleIndex

    pdf = generate_corpus(200, min_tokens=10, max_tokens=40, vocab_size=300)
    out = str(tmp_path / "idx")
    IndexBuilder(spark, out, doc_bucket=64, chunk_docs=1 << 20,
                 term_buckets=4).build(spark.createDataFrame(pdf))
    # delete every even docID plus 10^5 past-the-end ids
    delete_docs(spark, out,
                [d for d in range(0, 200, 2)] + list(range(10**6, 10**6 + 10**5)))
    eng = SearchEngine(spark, out, term_buckets=4)
    plan = eng.search("import", k=50)._jdf.queryExecution().toString()
    assert "doc_id#" in plan and plan.count("CAST") < 500  # no literal list
    # global stats keep counting deleted docs until a rebuild, so the
    # oracle over ALL docs scores the live ones exactly
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)])
    want = [(d, s) for d, s in oracle.search("import", k=200)
            if d % 2 == 1][:50]
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search("import", k=50).collect()]
    assert got and got == want


def test_tombstones_mask_explain(spark, tmp_path):
    """explain, explain_doc and MultiFieldEngine.explain_doc read the
    postings through the engine's sorted tombstone mask: on delete_docs
    copies, explain ranks the oracle's top-k with the victims removed
    and no row names a victim, and a victim's explain tree is None
    where the index before the deletes explained it."""
    from auctus_spark.index.build import delete_docs
    from auctus_spark.oracle import OracleIndex
    from auctus_spark.query.bm25 import (MultiFieldEngine,
                                         build_field_indexes)

    pdf = generate_corpus(300, min_tokens=20, max_tokens=100, vocab_size=500)
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path / "idx")
    IndexBuilder(spark, out, doc_bucket=128, chunk_docs=100,
                 term_buckets=4).build(corpus)
    fdirs = build_field_indexes(spark, corpus, str(tmp_path / "fields"),
                                ["content", "path"], doc_bucket=128,
                                chunk_docs=100, term_buckets=4)
    boosts = {"content": 1.0, "path": 3.0}
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)])
    queries, k = ["import def", "the return"], 10
    victims = set()
    for q in queries:
        top = oracle.search(q, k=k)
        victims |= {top[0][0], top[len(top) // 2][0]}
    pairs = [(q, v) for q in queries for v in sorted(victims)]
    before = SearchEngine(spark, out, term_buckets=4)
    mbefore = MultiFieldEngine(spark, fdirs, boosts, term_buckets=4)
    assert all(before.explain_doc(q, v) is not None for q, v in pairs
               if v in {d for d, _ in oracle.search(q, k=k)})
    assert all(mbefore.explain_doc(q, v) is not None for q, v in pairs
               if v in {d for d, _ in oracle.search(q, k=k)})
    for d in [out, *fdirs.values()]:
        delete_docs(spark, d, sorted(victims))
    eng = SearchEngine(spark, out, term_buckets=4)
    meng = MultiFieldEngine(spark, fdirs, boosts, term_buckets=4)
    for q in queries:
        want = [(d, s) for d, s in oracle.search(q, k=k + len(victims))
                if d not in victims][:k]
        rows = eng.explain(q, k=k).collect()
        got = list(dict.fromkeys((int(r.doc_id), float(r.score))
                                 for r in rows))
        assert got == want, q
        assert not {int(r.doc_id) for r in rows} & victims, q
    for q, v in pairs:
        assert eng.explain_doc(q, v) is None, (q, v)
        for mode in ("most_fields", "cross_fields"):
            assert meng.explain_doc(q, v, mode=mode) is None, (q, v, mode)


def _assert_same_segments(spark, got_dir, want_dir):
    """Every posting column of the two segments tables is equal once
    rows are sorted by (term, bucket, doc_id_min).  The ``gen``
    directory key is left out: a compaction writes its generation at
    the next free number, a fresh build at 0."""
    from auctus_spark.index.build import IndexPaths

    def rows(d):
        pdf = spark.read.parquet(IndexPaths(d).segments).toPandas()
        pdf = pdf.drop(columns="gen")
        pdf = pdf.sort_values(["term", "bucket", "doc_id_min"])
        return pdf[sorted(pdf.columns)].reset_index(drop=True)

    got, want = rows(got_dir), rows(want_dir)
    assert got.columns.tolist() == want.columns.tolist()
    assert len(got) == len(want)
    for c in got.columns:
        assert got[c].tolist() == want[c].tolist(), c


def test_compaction_matches_fresh_build(spark, tmp_path):
    """compact() physically removes tombstoned docs: afterwards the
    index answers bit-identically to a FRESH build over the live
    corpus (same postings, same N/df/avgdl), tombstones cleared —
    the Lucene forceMerge analog."""
    from auctus_spark.index.build import compact, delete_docs
    from auctus_spark.oracle import OracleIndex
    from auctus_spark.query.bm25 import SearchEngine

    pdf = generate_corpus(500, min_tokens=15, max_tokens=80,
                          vocab_size=600)
    # one input partition: each chunk is then one encoder batch, so
    # the compacted layout can be compared with a fresh build's
    corpus = spark.createDataFrame(pdf).coalesce(1)
    d = str(tmp_path / "cidx")
    IndexBuilder(spark, d, doc_bucket=128, chunk_docs=250,
                 term_buckets=4).build(corpus)
    dead = [3, 7, 100, 101, 102, 250, 499]
    delete_docs(spark, d, dead)
    res = compact(spark, d, term_buckets=4)
    assert res["removed_docs"] == len(dead)
    assert not (tmp_path / "cidx" / "tombstones").exists()

    live_pdf = pdf[~pdf.doc_id.isin(dead)]
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content)
         for r in live_pdf.itertuples(index=False)])
    eng = SearchEngine(spark, d, term_buckets=4)
    assert eng.n_docs == oracle.n_docs
    assert abs(eng.avgdl - oracle.avgdl) < 1e-9
    for q in ["import", "def return", "the", "uniq_token_11"]:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_wand(q, k=50).collect()]
        assert got == oracle.search(q, k=50), q
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search(q, k=50).collect()]
        assert got == oracle.search(q, k=50), q
    # same layout, byte for byte, as a fresh build of the live corpus
    fresh = str(tmp_path / "fresh")
    IndexBuilder(spark, fresh, doc_bucket=128, chunk_docs=250,
                 term_buckets=4).build(
                     spark.createDataFrame(live_pdf).coalesce(1))
    _assert_same_segments(spark, d, fresh)


def test_compaction_preserves_positions(spark, tmp_path):
    """Compacting a positional index keeps match_phrase bit-exact vs
    a positional oracle over the live corpus."""
    from auctus_spark.index.build import compact, delete_docs
    from auctus_spark.oracle import PositionalOracleIndex
    from auctus_spark.query.bm25 import PhraseEngine

    pdf = generate_corpus(400, min_tokens=15, max_tokens=80,
                          vocab_size=500)
    # one input partition, as in test_compaction_matches_fresh_build
    corpus = spark.createDataFrame(pdf).coalesce(1)
    d = str(tmp_path / "pidx")
    IndexBuilder(spark, d, doc_bucket=128, chunk_docs=200,
                 term_buckets=4, positions=True).build(corpus)
    dead = [0, 5, 6, 99, 399]
    delete_docs(spark, d, dead)
    compact(spark, d, term_buckets=4)
    live_pdf = pdf[~pdf.doc_id.isin(dead)]
    oracle = PositionalOracleIndex.build(
        [(int(r.doc_id), r.content)
         for r in live_pdf.itertuples(index=False)])
    eng = PhraseEngine(spark, d, term_buckets=4)
    for q in ["import def", "def return", "import import"]:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_phrase(q, k=50).collect()]
        assert got == oracle.search_phrase(q, k=50), q
    fresh = str(tmp_path / "fresh")
    IndexBuilder(spark, fresh, doc_bucket=128, chunk_docs=200,
                 term_buckets=4, positions=True).build(
                     spark.createDataFrame(live_pdf).coalesce(1))
    _assert_same_segments(spark, d, fresh)


def test_compaction_empty_doc_n(spark, tmp_path):
    """A tombstoned ZERO-token doc never appears in postings, but it
    was counted in N at build — compaction must subtract it too
    (lineage dense-range existence check), or every idf is off."""
    from auctus_spark.index.build import compact, delete_docs
    from auctus_spark.oracle import OracleIndex
    from auctus_spark.query.bm25 import SearchEngine

    pdf = generate_corpus(300, min_tokens=15, max_tokens=60,
                          vocab_size=400)
    pdf.loc[pdf.doc_id == 10, "content"] = ""          # empty doc
    pdf.loc[pdf.doc_id == 11, "content"] = "; ,, !"    # tokenless doc
    corpus = spark.createDataFrame(pdf)
    d = str(tmp_path / "eidx")
    IndexBuilder(spark, d, doc_bucket=128, chunk_docs=150,
                 term_buckets=4).build(corpus)
    dead = [10, 11, 42]
    delete_docs(spark, d, dead)
    res = compact(spark, d, term_buckets=4)
    assert res["removed_docs"] == 3
    live_pdf = pdf[~pdf.doc_id.isin(dead)]
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content)
         for r in live_pdf.itertuples(index=False)])
    eng = SearchEngine(spark, d, term_buckets=4)
    assert eng.n_docs == oracle.n_docs == 297
    assert abs(eng.avgdl - oracle.avgdl) < 1e-9
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_wand("import", k=50).collect()]
    assert got == oracle.search("import", k=50)


def test_compaction_redelete_idempotent(spark, tmp_path):
    """Re-deleting docIDs a previous compaction already removed (the
    natural idempotent-delete retry) must be a no-op: the removed_docs
    liveness record masks the lineage dense-range existence test, so
    N/avgdl are not decremented a second time."""
    from auctus_spark.index.build import compact, delete_docs
    from auctus_spark.oracle import OracleIndex
    from auctus_spark.query.bm25 import SearchEngine

    pdf = generate_corpus(300, min_tokens=15, max_tokens=60,
                          vocab_size=400)
    pdf.loc[pdf.doc_id == 10, "content"] = ""          # empty doc
    corpus = spark.createDataFrame(pdf)
    d = str(tmp_path / "ridx")
    IndexBuilder(spark, d, doc_bucket=128, chunk_docs=150,
                 term_buckets=4).build(corpus)
    dead = [10, 42, 255]
    delete_docs(spark, d, dead)
    assert compact(spark, d, term_buckets=4)["removed_docs"] == 3
    # retry the SAME deletes (plus one new) and compact again
    delete_docs(spark, d, dead + [77])
    res = compact(spark, d, term_buckets=4)
    assert res["removed_docs"] == 1          # only doc 77 this time
    live_pdf = pdf[~pdf.doc_id.isin(dead + [77])]
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content)
         for r in live_pdf.itertuples(index=False)])
    eng = SearchEngine(spark, d, term_buckets=4)
    assert eng.n_docs == oracle.n_docs == 296
    assert abs(eng.avgdl - oracle.avgdl) < 1e-9
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_wand("import", k=50).collect()]
    assert got == oracle.search("import", k=50)
    # a THIRD all-replay compaction is a clean no-op
    delete_docs(spark, d, dead + [77])
    assert compact(spark, d, term_buckets=4)["removed_docs"] == 0
    eng2 = SearchEngine(spark, d, term_buckets=4)
    assert eng2.n_docs == 296 and abs(eng2.avgdl - oracle.avgdl) < 1e-9


def test_export_metrics_tables(spark, tmp_path):
    """Lineage + stats publish as catalog tables (the Iceberg-bound
    checkpoint-metrics path; default session catalog here) and stay
    queryable/consistent with the on-disk checkpoints; re-export
    overwrites."""
    from auctus_spark.index.build import export_metrics_tables
    pdf = generate_corpus(120, min_tokens=10, max_tokens=30,
                          vocab_size=200)
    d = str(tmp_path / "midx")
    b = IndexBuilder(spark, d, doc_bucket=64, chunk_docs=60,
                     term_buckets=2)
    stats = b.build(spark.createDataFrame(pdf))
    tables = export_metrics_tables(spark, d, "auctus_m")
    assert tables == ["auctus_m_lineage", "auctus_m_stats"]
    lin = spark.table("auctus_m_lineage")
    assert lin.count() == 2                   # two chunks
    got = spark.table("auctus_m_stats").collect()[0]
    assert int(got["n_docs"]) == stats["n_docs"] == 120
    assert abs(float(got["avgdl"]) - stats["avgdl"]) < 1e-12
    # re-export is an overwrite, not an append
    export_metrics_tables(spark, d, "auctus_m")
    assert spark.table("auctus_m_lineage").count() == 2
    for t in tables:
        spark.sql(f"DROP TABLE {t}")


def test_compaction_crash_sweep(spark, tmp_path, fs_mutations):
    """A crash at EVERY file-system mutation of compact(), on a copy of
    one three-generation index whose deletes fall in two generations:
    before the manifest commit the index answers as before (deletes
    masked, pre-compaction N/avgdl, no removed docs recorded); between
    the commit and the stats write every engine refuses it
    (UnfinishedAppendError); after the stats write it answers the live
    corpus.  In every window a rerun of compact() then matches the
    live-corpus oracle, subtracting the removed docs exactly once, and
    a later delete + compaction subtracts only its own doc."""
    import shutil

    from auctus_spark.index.build import (UnfinishedAppendError, compact,
                                          delete_docs, read_manifest,
                                          read_removed)
    from auctus_spark.oracle import OracleIndex
    from auctus_spark.query.bm25 import SearchEngine
    from auctus_spark.streaming.incremental import incremental_update

    pdf = generate_corpus(240, min_tokens=10, max_tokens=40,
                          vocab_size=300)
    base = str(tmp_path / "base")
    b = IndexBuilder(spark, base, doc_bucket=64, chunk_docs=80,
                     term_buckets=2)
    for lo in (0, 80, 160):
        incremental_update(b, spark.createDataFrame(
            pdf[(pdf.doc_id >= lo) & (pdf.doc_id < lo + 80)]))
    assert len(read_manifest(base)["gens"]) == 3
    dead, later = [2, 5, 50, 90, 91], [200]
    delete_docs(spark, base, dead)

    def oracle(drop):
        return OracleIndex.build(
            [(int(r.doc_id), r.content)
             for r in pdf[~pdf.doc_id.isin(drop)].itertuples(index=False)])
    full, live, live2 = oracle([]), oracle(dead), oracle(dead + later)
    queries = ["import", "def return"]

    def assert_answers(d, want, masked=()):
        eng = SearchEngine(spark, d, term_buckets=2)
        assert (eng.n_docs, eng.avgdl) == (want.n_docs, want.avgdl)
        for q in queries:
            got = [(int(r.doc_id), float(r.score))
                   for r in eng.search(q, k=20).collect()]
            assert got == [(i, s) for i, s in want.search(q, k=40)
                           if i not in masked][:20], q

    def n_mutations():
        d = str(tmp_path / "count")
        shutil.copytree(base, d)
        fs_mutations.root, fs_mutations.count = d, 0
        compact(spark, d, term_buckets=2)
        fs_mutations.root = None
        return fs_mutations.count

    states = []
    for i in range(n_mutations()):
        d = str(tmp_path / f"crash{i}")
        shutil.copytree(base, d)
        fs_mutations.root, fs_mutations.count = d, 0
        fs_mutations.crash_at = i
        with pytest.raises(fs_mutations.Crash):
            compact(spark, d, term_buckets=2)
        fs_mutations.root = None
        try:
            SearchEngine(spark, d, term_buckets=2)
        except UnfinishedAppendError:
            states.append("refused")
        else:
            if read_removed(d).size:
                assert sorted(read_removed(d)) == dead, i
                assert_answers(d, live)
                states.append("after")
            else:
                assert_answers(d, full, masked=dead)
                states.append("before")
        res = compact(spark, d, term_buckets=2)
        assert res["removed_docs"] == (len(dead) if states[-1] == "before"
                                       else 0), (i, states[-1])
        assert_answers(d, live)
        assert not os.path.exists(os.path.join(d, "tombstones")), i
        delete_docs(spark, d, dead + later)
        assert compact(spark, d, term_buckets=2)["removed_docs"] == 1, i
        assert_answers(d, live2)
        shutil.rmtree(d)
    # the three states come in protocol order, each at least once
    assert states == sorted(states, key=["before", "refused",
                                         "after"].index), states
    assert set(states) == {"before", "refused", "after"}, states
