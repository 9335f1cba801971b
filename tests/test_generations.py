"""Segment generations: an append writes one new generation under the
manifest instead of rewriting the index; the manifest rename is its
only commit point; generations merge by tier; compaction's removals
survive later appends."""

import os

import pytest

from auctus_spark.corpus import generate_corpus
from auctus_spark.index import build
from auctus_spark.index.build import (IndexBuilder, UnfinishedAppendError,
                                      compact, delete_docs, read_analyzer,
                                      read_manifest)
from auctus_spark.index.snapshot import snapshot_index
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


def _staged(d):
    """Chunk ids with a ``partials/chunk=C`` dir."""
    part = os.path.join(d, "partials")
    return {n.split("=", 1)[1] for n in (os.listdir(part) if
            os.path.isdir(part) else ()) if n.startswith("chunk=")}


def _live_chunks(d):
    return {c for e in read_manifest(d)["gens"].values()
            for c in e["chunks"]}


def _assert_stored_once(d):
    """No chunk a live generation holds keeps its partials."""
    assert _live_chunks(d)
    assert not _staged(d) & _live_chunks(d), sorted(_staged(d))


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
    index alone that term_stats already holds the new chunk and writes
    only the stats — no double-counted df."""
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


def test_compaction_rewrites_only_generations_with_deletes(spark,
                                                         tmp_path):
    """Deletes that fall in 1 of 3 live generations: compaction
    rewrites that generation alone into a new one, the other
    generations' files stay untouched (same inode and size), and the
    index equals the oracle over the live corpus."""
    pdf = generate_corpus(300, **KW)
    d = str(tmp_path / "idx")
    b = _builder(spark, d)
    for lo in (0, 100, 200):
        incremental_update(b, spark.createDataFrame(
            pdf[(pdf.doc_id >= lo) & (pdf.doc_id < lo + 100)]))
    assert sorted(read_manifest(d)["gens"]) == ["0", "1", "2"]
    dead = [120, 150, 199]
    delete_docs(spark, d, dead)
    old = _gen_files(d)
    assert compact(spark, d, term_buckets=4)["removed_docs"] == 3
    m = read_manifest(d)
    assert sorted(m["gens"]) == ["0", "2", "3"]
    assert list(m["gens"]["3"]["chunks"]) == ["1"]
    assert m["gens"]["3"]["chunks"]["1"]["removed_docs"] == 3
    kept = {p: v for p, v in old.items()
            if os.sep + "gen=1" + os.sep not in p}
    assert {p: v for p, v in _gen_files(d).items() if p in old} == kept
    assert not os.path.exists(os.path.join(d, "segments", "gen=1"))
    _assert_matches(spark, d, OracleIndex.build(
        _docs(pdf[~pdf.doc_id.isin(dead)])))


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


def _parquet_digests(d):
    """{directory of the index: sorted sha256 of its parquet files} —
    file names carry a per-write UUID, so a directory is compared as
    the bag of its files' bytes."""
    import hashlib

    def digest(path):
        with open(path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()
    out = {}
    for root, _, files in os.walk(d):
        digests = sorted(digest(os.path.join(root, f))
                         for f in files if f.endswith(".parquet"))
        if digests:
            out[os.path.relpath(root, d)] = digests
    return out


def test_index_bytes_are_a_function_of_the_corpus(spark, tmp_path):
    """The same corpus built and appended twice in one session, with
    unrelated Spark jobs in between, writes byte-identical parquet
    files (term_stats, segments and every other table), directory by
    directory: the layout depends neither on task arrival order nor on
    earlier jobs of the session (a range exchange samples with a seed
    taken from the RDD id, which those jobs move)."""
    # a vocabulary wide enough that a sample of the term table cannot
    # hold all of its rows
    pdf = generate_corpus(400, min_tokens=50, max_tokens=400,
                          vocab_size=20000)
    base, extra = pdf[pdf.doc_id < 300], pdf[pdf.doc_id >= 300]
    runs = []
    for i in range(2):
        d = str(tmp_path / f"run{i}")
        b = _builder(spark, d)
        b.build(spark.createDataFrame(base))
        incremental_update(b, spark.createDataFrame(extra))
        runs.append(_parquet_digests(d))
        (spark.range(0, 50000, numPartitions=7)
         .repartition(5).selectExpr("id % 13 AS k")
         .groupBy("k").count().collect())
    assert any(k.startswith("segments") for k in runs[0])
    assert any(k.startswith("term_stats") for k in runs[0])
    diff = sorted(k for k in runs[0].keys() | runs[1].keys()
                  if runs[0].get(k) != runs[1].get(k))
    assert not diff, diff


def test_append_crash_sweep(spark, tmp_path, fs_mutations):
    """A crash at EVERY file-system mutation of incremental_update, on
    a copy of one two-generation index: tokenize (partials, lineage),
    the generation write and the manifest commit, the term_stats fold
    with its ``term_stats_next`` write, ``_SEQ`` stamp and rmtree +
    rename swap, the deletion of the new chunk's partials, then the
    stats write.  Before the manifest commit the
    index answers as before (N, avgdl and rankings of the old corpus);
    after it every engine refuses it (UnfinishedAppendError).  In
    every window a rerun of the append then matches the oracle of the
    whole corpus."""
    import shutil

    pdf = generate_corpus(240, **KW)
    base = str(tmp_path / "base")
    for lo in (0, 80):
        incremental_update(_builder(spark, base, chunk_docs=80),
                           spark.createDataFrame(
                               pdf[(pdf.doc_id >= lo)
                                   & (pdf.doc_id < lo + 80)]))
    assert len(read_manifest(base)["gens"]) == 2
    new = spark.createDataFrame(pdf[pdf.doc_id >= 160])
    old = OracleIndex.build(_docs(pdf[pdf.doc_id < 160]))
    full = OracleIndex.build(_docs(pdf))

    def append(d):
        incremental_update(_builder(spark, d, chunk_docs=80), new)

    d = str(tmp_path / "count")
    shutil.copytree(base, d)
    fs_mutations.root, fs_mutations.count = d, 0
    append(d)
    fs_mutations.root = None
    n = fs_mutations.count
    _assert_matches(spark, d, full)
    states = []
    for i in range(n):
        d = str(tmp_path / f"crash{i}")
        shutil.copytree(base, d)
        fs_mutations.root, fs_mutations.count = d, 0
        fs_mutations.crash_at = i
        with pytest.raises(fs_mutations.Crash):
            append(d)
        fs_mutations.root = None
        try:
            SearchEngine(spark, d, term_buckets=4)
        except UnfinishedAppendError:
            states.append("refused")
        else:
            _assert_matches(spark, d, old)
            states.append("before")
        append(d)
        _assert_matches(spark, d, full)
        shutil.rmtree(d)
    # the two states come in protocol order, each at least once
    assert states == sorted(states, key=["before", "refused"].index), \
        states
    assert set(states) == {"before", "refused"}, states


def test_each_posting_stored_once(spark, tmp_path):
    """Once term_stats describes a generation, the partials of the
    chunks it holds are gone: after a one-chunk and a three-chunk
    build, an append, a streaming finalize that rebuilt its tail chunk
    and a compaction, ``partials/`` holds no chunk a live generation
    holds, and a snapshot holds no ``partials/`` file.  A chunk
    tokenized but not finalized keeps its partials through a finalize
    of the term tables and a compaction, and a later finalize encodes
    it."""
    pdf = generate_corpus(500, **KW)
    base = pdf[pdf.doc_id < 300]
    d1 = str(tmp_path / "one")
    _builder(spark, d1, chunk_docs=400).build(spark.createDataFrame(base))
    assert _live_chunks(d1) == {"0"}
    _assert_stored_once(d1)

    d = str(tmp_path / "three")
    b = _builder(spark, d)
    b.build(spark.createDataFrame(base))
    assert _live_chunks(d) == {"0", "1", "2"}
    _assert_stored_once(d)
    incremental_update(b, spark.createDataFrame(
        pdf[(pdf.doc_id >= 300) & (pdf.doc_id < 400)]))
    _assert_stored_once(d)
    dead = [5, 120, 350]
    delete_docs(spark, d, dead)
    assert compact(spark, d, term_buckets=4)["removed_docs"] == 3
    _assert_stored_once(d)
    manifest = snapshot_index(d, str(tmp_path / "snap"))
    assert not [f for f in manifest if f.startswith("partials")]

    b.tokenize_chunks(spark.createDataFrame(pdf[pdf.doc_id >= 400]))
    b.finalize_term_stats_from_partials()
    delete_docs(spark, d, [7])
    compact(spark, d, term_buckets=4)
    assert _staged(d) == {"4"} and "4" not in _live_chunks(d)
    b.finalize()
    assert _live_chunks(d) == {"0", "1", "2", "3", "4"}
    assert _staged(d) == set()
    _assert_matches(spark, d, OracleIndex.build(
        _docs(pdf[~pdf.doc_id.isin(dead + [7])])))

    pdf = generate_corpus(180, **KW)
    corpus = spark.createDataFrame(pdf)
    ds = str(tmp_path / "stream")
    sink = StreamingIndexer(_builder(spark, ds, chunk_docs=200))
    sink(corpus.filter("doc_id < 150"), epoch_id=0)
    sink.finalize()
    _assert_stored_once(ds)
    sink(corpus.filter("doc_id >= 150"), epoch_id=1)
    assert _staged(ds) == {"0"}              # the rebuilt tail chunk
    assert sink.finalize()["n_docs"] == 180
    _assert_stored_once(ds)
    _assert_matches(spark, ds, OracleIndex.build(_docs(pdf)))


@pytest.mark.parametrize("window", ["unstamped", "swap", "stats"])
def test_term_stats_fold_rerun(spark, tmp_path, monkeypatch, window):
    """An append whose term_stats fold stops in each window after the
    manifest commit: before ``term_stats_next`` is stamped, between the
    old table's removal and the rename that swaps ``term_stats_next``
    in, and after the swap, before the stats write.  The rerun never
    recomputes term_stats from the segments (``finalize_term_stats``
    raises here): it folds again, finishes the swap, or writes only
    the stats.  It matches the oracle and leaves no
    ``term_stats_next``."""
    import builtins

    pdf = generate_corpus(200, **KW)
    d = str(tmp_path / "idx")
    b = _builder(spark, d)
    b.build(spark.createDataFrame(pdf[pdf.doc_id < 100]))
    ts = os.path.join(d, "term_stats")

    class Crash(Exception):
        pass

    real_open, real_rename = builtins.open, os.rename

    def fake_open(f, mode="r", *a, **kw):
        if "w" in mode and str(f) == os.path.join(ts + "_next", "_SEQ"):
            raise Crash(f)
        return real_open(f, mode, *a, **kw)

    def fake_rename(src, dst, *a, **kw):
        if dst == ts:
            raise Crash(dst)
        return real_rename(src, dst, *a, **kw)

    def fake_stats(*a, **kw):
        raise Crash("stats")

    tail = spark.createDataFrame(pdf[pdf.doc_id >= 100])
    with monkeypatch.context() as mp:
        if window == "unstamped":
            mp.setattr(builtins, "open", fake_open)
        elif window == "swap":
            mp.setattr(os, "rename", fake_rename)
        else:
            mp.setattr(build, "_write_stats", fake_stats)
        with pytest.raises(Crash):
            incremental_update(b, tail)
    assert os.path.isdir(ts + "_next") == (window != "stats")
    assert os.path.isdir(ts) == (window != "swap")
    with pytest.raises(UnfinishedAppendError):
        SearchEngine(spark, d, term_buckets=4)

    def recompute(self):
        raise AssertionError("term_stats recomputed from the segments")

    with monkeypatch.context() as mp:
        mp.setattr(IndexBuilder, "finalize_term_stats", recompute)
        incremental_update(_builder(spark, d), tail)
    assert not os.path.exists(ts + "_next")
    assert build.read_term_stats_seq(d) == read_manifest(d)["seq"]
    _assert_stored_once(d)
    _assert_matches(spark, d, OracleIndex.build(_docs(pdf)))


def test_stale_term_stats_next_is_swept(spark, tmp_path):
    """A ``term_stats_next`` the manifest has moved past (its ``_SEQ``
    is not the manifest seq) is removed by the next writer's sweep, a
    compaction that recomputes term_stats and never folds, and is
    never swapped in."""
    pdf = generate_corpus(200, **KW)
    d = str(tmp_path / "idx")
    _builder(spark, d).build(spark.createDataFrame(pdf))
    nxt = os.path.join(d, "term_stats_next")
    os.makedirs(nxt)
    with open(os.path.join(nxt, "_SEQ"), "w") as f:
        f.write("0")
    delete_docs(spark, d, [3])
    assert compact(spark, d, term_buckets=4)["removed_docs"] == 1
    assert not os.path.exists(nxt)
    _assert_matches(spark, d, OracleIndex.build(
        _docs(pdf[pdf.doc_id != 3])))


def test_build_crash_sweep(spark, tmp_path, fs_mutations):
    """A crash at EVERY file-system mutation of a fresh two-chunk
    build: the ``_ANALYZER`` and ``_FORMAT`` stamps, each chunk's
    partials and lineage row, the generation write and the manifest
    commit, the term_stats write and its ``_SEQ`` stamp, the deletion
    of each chunk's partials, then the stats write.  In every window
    the index either refuses to open (no ``_FORMAT``, no stats, or
    stats that lag the manifest) or answers the whole corpus; a
    ``build(resume=True)`` rerun then matches the oracle, keeps the
    analyzer record and leaves no partials of a committed chunk."""
    pdf = generate_corpus(120, **KW)
    corpus = spark.createDataFrame(pdf)
    full = OracleIndex.build(_docs(pdf))

    def run(d):
        _builder(spark, d, chunk_docs=60).build(corpus, resume=True)

    def check(d):
        eng = SearchEngine(spark, d, term_buckets=4)
        assert (eng.n_docs, eng.avgdl) == (full.n_docs, full.avgdl)
        for q in QUERIES[:2]:
            assert [(int(r.doc_id), float(r.score))
                    for r in eng.search(q, k=50).collect()] \
                == full.search(q, k=50), q

    d = str(tmp_path / "count")
    fs_mutations.root, fs_mutations.count = d, 0
    run(d)
    fs_mutations.root = None
    n = fs_mutations.count
    assert _live_chunks(d) == {"0", "1"}
    _assert_stored_once(d)
    check(d)
    states = []
    for i in range(n):
        d = str(tmp_path / f"crash{i}")
        fs_mutations.root, fs_mutations.count = d, 0
        fs_mutations.crash_at = i
        with pytest.raises(fs_mutations.Crash):
            run(d)
        fs_mutations.root = None
        try:
            check(d)
        except (ValueError, OSError, UnfinishedAppendError):
            states.append("refused")
        else:
            states.append("answers")
        run(d)
        check(d)
        _assert_stored_once(d)
        assert read_analyzer(d) == {"stem": False, "positions": False,
                                    "doc_bucket": 64}, i
    assert states == sorted(states, key=["refused", "answers"].index), \
        states
