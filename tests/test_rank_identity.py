"""THE correctness gate (SURVEY.md §5 / BASELINE.md): the distributed
engine's top-k (docIDs AND scores) must be rank-identical to the
pure-Python oracle on a reference query set — hot single terms, rare
terms, multi-term conjunctive, zero-hit, and tie-heavy queries."""

import math

import pytest

from auctus_spark.corpus import generate_corpus
from auctus_spark.index.build import IndexBuilder
from auctus_spark.oracle import OracleIndex
from auctus_spark.query.bm25 import SearchEngine

N_DOCS = 600

QUERY_SET = [
    "import",                     # hot term (>30% df)
    "def return",                 # two hot terms, AND
    "import def return the",      # many hot terms
    "uniq_token_11",              # df=1 tail term
    "import uniq_token_22",       # hot AND rare
    "no_such_token_anywhere",     # zero hits
    "import zz_missing",          # partial match → zero hits (AND)
    "getBatch",                   # camelCase identifier (one token)
    "parse_build_12",             # snake_case identifier token
    "the",                        # stopword-ish hot term, tie-heavy
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    pdf = generate_corpus(N_DOCS, min_tokens=20, max_tokens=200,
                          vocab_size=2000)
    corpus = spark.createDataFrame(pdf)
    # small buckets/chunks so the test exercises multi-bucket,
    # multi-chunk paths (256-doc scoring buckets, 200-doc build chunks)
    b = IndexBuilder(spark, out, doc_bucket=256, chunk_docs=200,
                     term_buckets=8)
    stats = b.build(corpus)
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)])
    return out, oracle, stats, corpus, b


def _assert_rank_identical(got, want):
    """Bit-exact: the engine mirrors the oracle's float64 evaluation
    order (idf * (tf/denom), summed in query-term order), so scores are
    IDENTICAL, not merely close."""
    assert len(got) == len(want), (got[:5], want[:5])
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd, (got[:10], want[:10])
        assert gs == ws, (gd, gs, ws)


@pytest.mark.parametrize("q", QUERY_SET)
def test_exhaustive_matches_oracle(spark, built, q):
    out, oracle, stats, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    assert eng.n_docs == oracle.n_docs
    assert math.isclose(eng.avgdl, oracle.avgdl, rel_tol=1e-12)
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search(q, k=50).collect()]
    _assert_rank_identical(got, oracle.search(q, k=50))


@pytest.mark.parametrize("q", QUERY_SET)
def test_wand_matches_oracle(spark, built, q):
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_wand(q, k=50).collect()]
    _assert_rank_identical(got, oracle.search(q, k=50))


OR_QUERIES = [
    "import",                      # single term
    "def return",                  # two hot terms
    "import zz_missing",           # one absent term still matches
    "uniq_token_11 uniq_token_22", # two singleton lists
    "the import def return for",   # wide OR, tie-heavy
    "zz_missing qq_missing",       # all absent → empty
]


@pytest.mark.parametrize("q", OR_QUERIES)
def test_or_maxscore_matches_oracle(spark, built, q):
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_or(q, k=50).collect()]
    _assert_rank_identical(got, oracle.search_or(q, k=50))


def test_search_many_batched(spark, built):
    """Batched multi-query job == per-query results, bit-exact."""
    from auctus_spark.query.bm25 import search_many
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    queries = {f"q{i}": q for i, q in enumerate(QUERY_SET)}
    got = {}
    for r in search_many(eng, queries, k=50).collect():
        got.setdefault(r.query_id, []).append(
            (float(r.score), int(r.doc_id)))
    for qid, q in queries.items():
        want = oracle.search(q, k=50)
        rows = sorted(got.get(qid, []), key=lambda t: (-t[0], t[1]))
        assert [(d, s) for s, d in rows] == want, q


def test_lineage_sha_invariant(spark, built):
    _, _, _, corpus, b = built
    assert b.verify_lineage(corpus)


def test_multifield_matches_oracle(spark, built):
    """Field-boosted multi-field BM25 (the reference's multi_match
    shape: content + path^3) — bit-exact vs oracle."""
    from auctus_spark.oracle import OracleIndex, search_multifield
    from auctus_spark.pipeline import bm25_multifield_topk
    _, _, _, corpus, _ = built
    pdf = corpus.toPandas()
    fi = OracleIndex.build_fields(
        [(int(r.doc_id), {"content": r.content, "path": r.path})
         for r in pdf.itertuples(index=False)])
    boosts = {"content": 1.0, "path": 3.0}
    for q in ["import", "src file_11 import", "file_7 py",
              "zz_missing import"]:
        want = search_multifield(fi, q, boosts, k=50)
        got = [(int(r.doc_id), float(r.score))
               for r in bm25_multifield_topk(
                   corpus, q, boosts, k=50).collect()]
        assert got == want, q


def test_crossfields_matches_oracle(spark, built):
    """multi_match type=cross_fields (the reference's flagship query
    TYPE, search/__init__.py:64-76): blended per-term df (max over
    fields, clamped to each field's N), per-term DisjunctionMax over
    field contributions, AND across terms — bit-exact vs
    oracle.search_cross_fields on the DataFrame path."""
    from auctus_spark.oracle import OracleIndex, search_cross_fields
    from auctus_spark.pipeline import bm25_crossfields_topk
    _, _, _, corpus, _ = built
    pdf = corpus.toPandas()
    fi = OracleIndex.build_fields(
        [(int(r.doc_id), {"content": r.content, "path": r.path})
         for r in pdf.itertuples(index=False)])
    boosts = {"content": 1.0, "path": 3.0}
    for q in ["import", "src file_11 import", "file_7 py",
              "zz_missing import", "no_such_token_anywhere"]:
        want = search_cross_fields(fi, q, boosts, k=50)
        got = [(int(r.doc_id), float(r.score))
               for r in bm25_crossfields_topk(
                   corpus, q, boosts, k=50).collect()]
        assert got == want, q
    # blending must actually bite: on a corpus where a term lives in
    # BOTH fields with different dfs, cross_fields != most_fields
    # (and the Spark path still matches the oracle bit-exactly there)
    from auctus_spark.oracle import search_multifield
    rows = [(i, f"alpha beta doc{i} " + ("alpha " * (i % 3)),
             "alpha" if i % 2 else f"title{i} beta")
            for i in range(40)]
    fi2 = OracleIndex.build_fields(
        [(i, {"content": c, "path": p}) for i, c, p in rows])
    corpus2 = spark.createDataFrame(
        rows, "doc_id long, content string, path string")
    q2 = "alpha beta"
    want2 = search_cross_fields(fi2, q2, boosts, k=50)
    assert want2 != search_multifield(fi2, q2, boosts, k=50)
    got2 = [(int(r.doc_id), float(r.score))
            for r in bm25_crossfields_topk(
                corpus2, q2, boosts, k=50).collect()]
    assert got2 == want2


PIPE_QUERIES = ["import", "def return", "import def return the",
                "uniq_token_11", "import uniq_token_22",
                "no_such_token_anywhere", "import zz_missing", "the"]


@pytest.mark.parametrize("q", PIPE_QUERIES)
def test_pipeline_conj_matches_oracle(spark, built, q):
    """Index-free DataFrame path (two scans, zero shuffles) — bit-exact
    vs the oracle, same contract as the segment-index paths."""
    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    got = [(int(r.doc_id), float(r.score))
           for r in pipeline.bm25_topk(
               corpus, q, k=50, text_col="content").collect()]
    _assert_rank_identical(got, oracle.search(q, k=50))


@pytest.mark.parametrize("q", PIPE_QUERIES)
def test_pipeline_disj_matches_oracle(spark, built, q):
    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    got = [(int(r.doc_id), float(r.score))
           for r in pipeline.bm25_or_topk(
               corpus, q, k=50, text_col="content").collect()]
    _assert_rank_identical(got, oracle.search_or(q, k=50))


def test_dis_max_matches_clause_algebra(spark, built):
    """ES dis_max: tie_breaker 0 → per-doc best clause; tie_breaker
    t → max + t*(sum-max) — bit-exact against clause scores derived
    from the oracle's disjunctive scorer (clauses share no terms, so
    each clause score IS oracle.search_or of that clause)."""
    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    c1, c2 = "import data", "def return"
    s1 = dict(oracle.search_or(c1, k=10**9))
    s2 = dict(oracle.search_or(c2, k=10**9))
    for tie in (0.0, 0.3, 1.0):
        got = {int(r.doc_id): float(r.score)
               for r in pipeline.dis_max_topk(
                   corpus, [c1, c2], k=10**9, tie_breaker=tie,
                   text_col="content").collect()}
        assert set(got) == set(s1) | set(s2)
        for d, s in got.items():
            a, b = s1.get(d, 0.0), s2.get(d, 0.0)
            mx = max(a, b)
            assert s == mx + tie * ((a + b) - mx), (d, tie)
    # empty clauses → empty result
    assert pipeline.dis_max_topk(corpus, ["", "  "],
                                 text_col="content").count() == 0


def test_boosting_query_demotes_not_excludes(spark, built):
    """ES boosting query: positive hits keep their score unless they
    also match the negative clause, in which case score*negative_boost
    — demoted docs stay in the result set (unlike must_not)."""
    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    pos, neg, nb = "import data", "def", 0.25
    base = dict(oracle.search_or(pos, k=10**9))
    neg_docs = {d for d, _ in oracle.search_or(neg, k=10**9)}
    got = {int(r.doc_id): float(r.score)
           for r in pipeline.boosting_topk(
               corpus, pos, neg, negative_boost=nb, k=10**9,
               text_col="content").collect()}
    assert set(got) == set(base)          # nothing excluded
    assert any(d in neg_docs for d in got)  # demotion actually fires
    for d, s in got.items():
        want = base[d] * nb if d in neg_docs else base[d]
        assert s == want, d


def test_function_score_decay_and_fvf(spark, built):
    """ES function_score decay (gauss/exp/linear) and
    field_value_factor (log1p): multiplier exactly 1 at dist 0,
    exactly `decay` at dist scale; fvf = bm25 * ln(1+factor*v)."""
    import math

    from pyspark.sql import functions as F

    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    docs = corpus.withColumn("n_chars", F.length("content"))
    nchars = {int(r.doc_id): int(r.n_chars)
              for r in docs.select("doc_id", "n_chars").collect()}
    q = "import"
    base = dict(oracle.search_or(q, k=10**9))
    origin, scale, offset, decay = 600.0, 250.0, 30.0, 0.5
    for kind in ("gauss", "exp", "linear"):
        got = {int(r.doc_id): float(r.score)
               for r in pipeline.function_score_decay(
                   docs, q, "n_chars", origin, scale, offset=offset,
                   decay=decay, kind=kind, k=10**9,
                   text_col="content").collect()}
        assert set(got) == set(base)
        for d, s in got.items():
            dist = max(0.0, abs(nchars[d] - origin) - offset)
            if kind == "gauss":
                m = math.exp(math.log(decay) * dist * dist
                             / (scale * scale))
            elif kind == "exp":
                m = math.exp(math.log(decay) * dist / scale)
            else:
                ls = scale / (1.0 - decay)
                m = max(0.0, (ls - dist) / ls)
            if kind == "linear":     # pure arithmetic: bit-exact
                assert s == base[d] * m, (kind, d)
            else:                    # JVM Math.exp vs libm: ±1 ulp
                assert s == pytest.approx(base[d] * m,
                                          rel=1e-12), (kind, d)
    with pytest.raises(ValueError):
        pipeline.function_score_decay(docs, q, "n_chars", 0, 1,
                                      kind="nope")
    got = {int(r.doc_id): float(r.score)
           for r in pipeline.field_value_factor_topk(
               docs, q, "n_chars", factor=0.01, modifier="log1p",
               k=10**9, text_col="content").collect()}
    for d, s in got.items():
        # JVM Math.log1p vs libm: ±1 ulp
        assert s == pytest.approx(
            base[d] * math.log1p(0.01 * nchars[d]), rel=1e-12), d
    with pytest.raises(ValueError):
        pipeline.field_value_factor_topk(docs, q, "n_chars",
                                         modifier="cube")


STEM_QUERIES = ["imports", "importing defined returns", "the",
                "meetings", "abilities imports", "zz_missing imports"]


@pytest.fixture(scope="module")
def built_stemmed(spark, tmp_path_factory):
    """Stemmed index + stemmed oracle over the same corpus — the
    reference's index-time english stemmer (elasticsearch.yml:15)."""
    out = str(tmp_path_factory.mktemp("sidx"))
    pdf = generate_corpus(N_DOCS, min_tokens=20, max_tokens=200,
                          vocab_size=2000)
    corpus = spark.createDataFrame(pdf)
    b = IndexBuilder(spark, out, doc_bucket=256, chunk_docs=200,
                     term_buckets=8, stem=True)
    b.build(corpus)
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)],
        stem=True)
    return out, oracle


@pytest.mark.parametrize("q", STEM_QUERIES)
def test_stemmed_wand_matches_stemmed_oracle(spark, built_stemmed, q):
    out, oracle = built_stemmed
    eng = SearchEngine(spark, out, term_buckets=8)
    assert eng.stem is True  # analyzer config read from the index
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_wand(q, k=50).collect()]
    _assert_rank_identical(got, oracle.search(q, k=50))


def test_stemmed_exhaustive_and_or(spark, built_stemmed):
    out, oracle = built_stemmed
    eng = SearchEngine(spark, out, term_buckets=8)
    q = "imports defined"
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search(q, k=50).collect()]
    _assert_rank_identical(got, oracle.search(q, k=50))
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_or(q, k=50).collect()]
    _assert_rank_identical(got, oracle.search_or(q, k=50))


def test_stemmed_surface_form_retrieval(spark, built_stemmed):
    """A plural query must retrieve docs containing the singular —
    the user-visible point of stemming."""
    out, oracle = built_stemmed
    eng = SearchEngine(spark, out, term_buckets=8)
    plural = eng.search_wand("imports", k=50).collect()
    singular = eng.search_wand("import", k=50).collect()
    assert [(r.doc_id, r.score) for r in plural] == \
        [(r.doc_id, r.score) for r in singular]
    assert len(plural) > 0


def test_analyzer_mismatch_fails_loudly(spark, built_stemmed, tmp_path):
    """Resuming a stemmed index with a stem-free builder must raise."""
    out, _ = built_stemmed
    from auctus_spark.corpus import generate_corpus as gc
    corpus = spark.createDataFrame(gc(50, min_tokens=5, max_tokens=20,
                                      vocab_size=100))
    b = IndexBuilder(spark, out, doc_bucket=256, chunk_docs=200,
                     term_buckets=8, stem=False)
    with pytest.raises(ValueError, match="stem"):
        b.tokenize_chunks(corpus, resume=True)


@pytest.fixture(scope="module")
def built_fields(spark, built, tmp_path_factory):
    """Per-field (content, path^3) indexes of the ``built`` corpus: a
    MultiFieldEngine, the fields oracle and the boosts."""
    from auctus_spark.query.bm25 import MultiFieldEngine, build_field_indexes
    _, _, _, corpus, _ = built
    base = str(tmp_path_factory.mktemp("mfidx"))
    boosts = {"content": 1.0, "path": 3.0}
    dirs = build_field_indexes(spark, corpus, base, ["content", "path"],
                               doc_bucket=256, chunk_docs=200,
                               term_buckets=8)
    eng = MultiFieldEngine(spark, dirs, boosts, term_buckets=8)
    pdf = corpus.toPandas()
    fi = OracleIndex.build_fields(
        [(int(r.doc_id), {"content": r.content, "path": r.path})
         for r in pdf.itertuples(index=False)])
    return eng, fi, boosts


MULTIFIELD_QUERIES = ["import", "src file_11 import", "file_7 py",
                      "zz_missing import", "no_such_token_anywhere"]


def test_multifield_index_matches_oracle(spark, built_fields):
    """Multi-field BM25 on the SEGMENT INDEX path (per-field indexes,
    boosted per-bucket scoring) — bit-exact vs oracle.search_multifield
    and vs the DataFrame path."""
    from auctus_spark.oracle import search_multifield
    eng, fi, boosts = built_fields
    for q in MULTIFIELD_QUERIES:
        want = search_multifield(fi, q, boosts, k=50)
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search(q, k=50).collect()]
        assert got == want, q
    # cross_fields on the same per-field indexes (blended df, dismax)
    from auctus_spark.oracle import search_cross_fields
    for q in ["import", "src file_11 import", "file_7 py",
              "zz_missing import"]:
        want = search_cross_fields(fi, q, boosts, k=50)
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_cross_fields(q, k=50).collect()]
        assert got == want, ("cross_fields/idx", q)
    # SINGLE-JOB discipline: constructing the plan must launch ZERO
    # Spark jobs (the round-2 implementation ran 2*|fields| stats
    # collects per query before returning the DataFrame)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    plan = eng.search("import src", k=50)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, (
        f"MultiFieldEngine.search launched {after - before} driver-side "
        "jobs while building the plan — stats must ride the broadcast")
    assert plan.collect() is not None
    # ---- explain on both multifield paths: the tree total must
    # reproduce the search score bit-exactly (same accumulation
    # order as the bucket scorers) and factors must be consistent
    for q in ["import", "src file_11 import", "file_7 py"]:
        for mode, searcher in (("most_fields", eng.search),
                               ("cross_fields",
                                eng.search_cross_fields)):
            top = [(int(r.doc_id), float(r.score))
                   for r in searcher(q, k=5).collect()]
            for d, score in top:
                tree = eng.explain_doc(q, d, mode=mode)
                assert tree is not None and tree["matched"], (q, mode)
                assert tree["value"] == score, (q, mode, d)
                for term_node in tree["details"]:
                    vals = [f["value"] for f in term_node["details"]]
                    if mode == "most_fields":
                        assert abs(sum(vals) - term_node["value"])                             < 1e-12
                    else:
                        assert max(vals) == term_node["value"]
                    for fnode in term_node["details"]:
                        boost, idf, tfn = [x["value"]
                                           for x in fnode["details"]]
                        assert fnode["value"] == boost * idf * tfn
    # unmatched doc: AND failure reported, value zero
    miss = eng.explain_doc("zz_missing import", 0, mode="most_fields")
    assert miss is None or miss["matched"] is False


@pytest.fixture(scope="module")
def built_positional(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pidx"))
    pdf = generate_corpus(N_DOCS, min_tokens=20, max_tokens=200,
                          vocab_size=2000)
    corpus = spark.createDataFrame(pdf)
    b = IndexBuilder(spark, out, doc_bucket=256, chunk_docs=200,
                     term_buckets=8, positions=True)
    b.build(corpus)
    from auctus_spark.oracle import PositionalOracleIndex
    oracle = PositionalOracleIndex.build(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)])
    return out, oracle, corpus


PHRASE_QUERIES = ["import def", "def return", "the import",
                  "import import", "def", "no_such_token import",
                  "import zz_missing"]


@pytest.mark.parametrize("q", PHRASE_QUERIES)
def test_phrase_matches_oracle(spark, built_positional, q):
    """match_phrase on the positional index — bit-exact vs the
    positional oracle (Lucene PhraseQuery scoring)."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_phrase(q, k=50).collect()]
    _assert_rank_identical(got, oracle.search_phrase(q, k=50))


def test_phrase_is_order_sensitive(spark, built_positional):
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    a = {r.doc_id for r in eng.search_phrase("import def", k=50).collect()}
    b = {r.doc_id for r in eng.search_phrase("def import", k=50).collect()}
    ora = {d for d, _ in oracle.search_phrase("import def", k=50)}
    orb = {d for d, _ in oracle.search_phrase("def import", k=50)}
    assert a == ora and b == orb
    assert a != b or (not a and not b)


@pytest.mark.parametrize("q,m", [
    ("import def return", 1), ("import def return", 2),
    ("import def return", 3), ("import uniq_token_11 zz_missing", 2),
    ("the import def return", 3)])
def test_search_or_min_should_match(spark, built, q, m):
    """Disjunctive search with ES minimum_should_match: engine
    (MaxScore for m=1, union-candidates for m>1) is bit-exact vs the
    oracle; m > n_present terms yields nothing."""
    out, oracle, stats, corpus, b = built
    eng = SearchEngine(spark, out, term_buckets=8)
    got = [(int(r.doc_id), float(r.score)) for r in
           eng.search_or(q, k=50, min_should_match=m).collect()]
    _assert_rank_identical(got, oracle.search_or(
        q, k=50, min_should_match=m))
    # m=1 is a superset of m=2 is a superset of m=3
    if m > 1:
        prev = {d for d, _ in oracle.search_or(
            q, k=600, min_should_match=m - 1)}
        assert {d for d, _ in oracle.search_or(
            q, k=600, min_should_match=m)} <= prev


def test_sloppy_freq_unit():
    """lucene_sloppy_freq on hand-checked Lucene cases: exact
    adjacency = 1.0, one gap = 1/2, transposition needs slop 2 at
    1/3, out-of-budget = 0, repeats accumulate."""
    from auctus_spark.oracle import lucene_sloppy_freq as sf
    # "a b" in "a b": adjusted positions a=[0], b=[0]
    assert sf([[0], [0]], 0) == 1.0
    # "a x b": a=[0], b adjusted=[1] → window 1 → 1/2 at slop>=1
    assert sf([[0], [1]], 0) == 0.0
    assert sf([[0], [1]], 1) == 0.5
    # "b a": a=[1], b=[-1] → window 2 → 1/3 at slop>=2
    assert sf([[1], [-1]], 1) == 0.0
    assert sf([[1], [-1]], 2) == pytest.approx(1 / 3)
    # "a b a b": two exact matches
    assert sf([[0, 2], [0, 2]], 0) == 2.0
    # three terms "a x b c": a=[0], b=[1], c=[1] → window 1 → 1/2
    assert sf([[0], [1], [1]], 1) == 0.5


@pytest.mark.parametrize("q,slop", [
    ("import def", 1), ("import def", 2), ("def import", 2),
    ("the import", 3), ("import return", 2),
    ("import def return", 2), ("no_such_token import", 1),
    # repeated-term phrases (distinct-position repeats rule)
    ("import import", 2), ("the the", 1), ("the import the", 2),
    ("def def def", 3)])
def test_sloppy_phrase_matches_oracle(spark, built_positional, q, slop):
    """match_phrase with slop — bit-exact vs the positional oracle
    (both run oracle.lucene_sloppy_freq; superset of slop=0 hits)."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_phrase(q, k=50, slop=slop).collect()]
    _assert_rank_identical(got, oracle.search_phrase(q, k=50, slop=slop))
    exact = {d for d, _ in oracle.search_phrase(q, k=600)}
    sloppy = {d for d, _ in oracle.search_phrase(q, k=600, slop=slop)}
    assert exact <= sloppy


def test_sloppy_phrase_repeats_subset_of_tf(spark, built_positional):
    """Repeated-term sloppy hits need >= 2 distinct occurrences: every
    "t t"~s hit doc has tf(t) >= 2 in the oracle postings."""
    out, oracle, _ = built_positional
    hits = oracle.search_phrase("import import", k=600, slop=2)
    assert hits, "corpus should contain docs with repeated 'import'"
    for d, _s in hits:
        assert len(oracle.postings["import"][d]) >= 2


def test_positional_index_still_answers_bm25(spark, built_positional):
    """A positional index serves ordinary WAND queries identically
    (positions ride along, BM25 untouched)."""
    out, _, corpus = built_positional
    pdf = corpus.toPandas()
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)])
    eng = SearchEngine(spark, out, term_buckets=8)
    got = [(int(r.doc_id), float(r.score))
           for r in eng.search_wand("import def", k=50).collect()]
    _assert_rank_identical(got, oracle.search("import def", k=50))


def test_phrase_requires_positions(spark, built):
    from auctus_spark.query.bm25 import PhraseEngine
    out, *_ = built
    with pytest.raises(ValueError, match="positions"):
        PhraseEngine(spark, out, term_buckets=8)


def test_synonyms_match_oracle(spark, built):
    """Search-time synonym expansion (Lucene SynonymQuery semantics:
    slot tf = sum of member tfs, slot df = max of member dfs) —
    bit-exact vs oracle.search_synonyms."""
    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    syn = {"import": ["def"], "uniq_token_11": ["uniq_token_22"]}
    for q in ["import", "import return", "uniq_token_11",
              "zz_missing import"]:
        want = oracle.search_synonyms(q, syn, k=50)
        got = [(int(r.doc_id), float(r.score))
               for r in pipeline.bm25_topk_synonyms(
                   corpus, q, syn, k=50, text_col="content").collect()]
        _assert_rank_identical(got, want)


def test_synonyms_match_oracle_index_path(spark, built):
    """Synonym expansion on the SEGMENT-INDEX path (the scale path):
    SearchEngine.search_synonyms must be bit-exact vs
    oracle.search_synonyms — slot df is a GLOBAL max (computed on the
    broadcast side), so multi-bucket indexes where a member term is
    absent from some buckets are the interesting case (doc_bucket=256
    here forces that)."""
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    syn = {"import": ["def"], "uniq_token_11": ["uniq_token_22"],
           "zz_missing": ["qq_also_missing"]}
    for q in ["import", "import return", "uniq_token_11",
              "zz_missing import", "uniq_token_11 return",
              "no_such_token_anywhere"]:
        want = oracle.search_synonyms(q, syn, k=50)
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_synonyms(q, syn, k=50).collect()]
        _assert_rank_identical(got, want)
    # single-job discipline: the global slot-df aggregate rides the
    # broadcast side — building the plan launches no driver jobs
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    plan = eng.search_synonyms("import return", syn, k=50)
    assert len(tracker.getJobIdsForGroup(None)) == before
    assert plan.collect() is not None


def test_search_many_synonyms_batched(spark, built):
    """Batched synonym search == per-query oracle, bit-exact, one
    shared job across queries (incl. shared slots across queries)."""
    from auctus_spark.query.bm25 import search_many_synonyms
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    syn = {"import": ["def"], "uniq_token_11": ["uniq_token_22"]}
    queries = {"qa": "import", "qb": "import return",
               "qc": "uniq_token_11", "qd": "zz_missing import",
               "qe": "no_such_token_anywhere"}
    got: dict = {}
    for r in search_many_synonyms(eng, queries, syn, k=50).collect():
        got.setdefault(r.query_id, []).append(
            (float(r.score), int(r.doc_id)))
    for qid, q in queries.items():
        want = oracle.search_synonyms(q, syn, k=50)
        rows = sorted(got.get(qid, []), key=lambda t: (-t[0], t[1]))
        assert [(d, s) for s, d in rows] == want, q


def test_search_service_synonyms(spark, built):
    from auctus_spark.query.search import SearchQuery, SearchService
    _, oracle, _, corpus, _ = built
    syn = {"import": ["def"]}
    svc = SearchService(corpus, text_col="content", synonyms=syn)
    hits = svc.search(SearchQuery(keywords="import", size=10))["hits"]
    got = [(int(r.doc_id), float(r.score)) for r in hits.collect()]
    want = oracle.search_synonyms("import", syn, k=10)
    _assert_rank_identical(got, want)


def test_search_many_or_batched(spark, built):
    """Batched disjunctive job == per-query search_or, bit-exact."""
    from auctus_spark.query.bm25 import search_many_or
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    queries = {f"q{i}": q for i, q in enumerate(OR_QUERIES)}
    got = {}
    for r in search_many_or(eng, queries, k=50).collect():
        got.setdefault(r.query_id, []).append(
            (float(r.score), int(r.doc_id)))
    for qid, q in queries.items():
        want = oracle.search_or(q, k=50)
        rows = sorted(got.get(qid, []), key=lambda t: (-t[0], t[1]))
        assert [(d, s) for s, d in rows] == want, q


def test_explain_breakdown(spark, built):
    """ES _explain analog: per-(doc, term) factors sum to the final
    score; idf/tf-norm match the oracle's arithmetic; the tree shape
    mirrors ES (value/description/details)."""
    out, oracle, stats, corpus, b = built
    eng = SearchEngine(spark, out, term_buckets=8)
    q = "import def return"
    want = dict(oracle.search(q, k=10))
    rows = eng.explain(q, k=10).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(int(r.doc_id), []).append(r)
    assert set(by_doc) == set(want)
    for d, rr in by_doc.items():
        assert len(rr) == 3                   # one row per query term
        assert {x.term for x in rr} == {"import", "def", "return"}
        for x in rr:
            assert x.score == want[d]
            # factor consistency: contribution = idf * tf_norm, and
            # idf is the Lucene formula over (df, N)
            assert x.contribution == pytest.approx(
                x.idf * x.tf_norm, rel=1e-15)
            assert x.idf == pytest.approx(
                math.log(1 + (eng.n_docs - x.df + 0.5) / (x.df + 0.5)),
                rel=1e-15)
        assert sum(x.contribution for x in rr) == pytest.approx(
            want[d], rel=1e-12)
    # tree-shaped single-doc explain
    top_doc = max(want, key=want.get)
    tree = eng.explain_doc(q, top_doc)
    assert tree["matched"] and tree["value"] == pytest.approx(
        want[top_doc], rel=1e-12)
    assert len(tree["details"]) == 3
    leaf = tree["details"][0]["details"]
    assert leaf[0]["description"].startswith("idf")
    assert leaf[1]["description"].startswith("tf")
    assert tree["details"][0]["value"] == pytest.approx(
        leaf[0]["value"] * leaf[1]["value"], rel=1e-15)
    # a doc missing one term: matched=False, partial details
    has_import = {d for d, _ in oracle.search("import", k=600)}
    has_all = {d for d, _ in oracle.search(q, k=600)}
    not_all = sorted(has_import - has_all)
    if not_all:
        t2 = eng.explain_doc(q, not_all[0])
        assert t2 is not None and not t2["matched"]
        assert t2["value"] == 0.0 and 0 < len(t2["details"]) < 3
    # unmatched / zero-hit cases
    assert eng.explain_doc("no_such_token_anywhere", 0) is None
    assert eng.explain("no_such_token_anywhere").count() == 0


@pytest.mark.parametrize("slop", [0, 2])
def test_search_many_phrase_batched(spark, built_positional, slop):
    """Batched phrase msearch: one job, per-query results bit-exact
    with per-query search_phrase; queries with globally-missing terms
    drop out; repeated-term queries ride the repeats rule at slop>0."""
    from auctus_spark.query.bm25 import PhraseEngine, search_many_phrase
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    queries = {"qa": "import def", "qb": "def return",
               "qc": "no_such_token import", "qd": "the import",
               "qe": "import import"}
    got = search_many_phrase(eng, queries, k=20, slop=slop).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(
            (int(r.doc_id), float(r.score)))
    assert "qc" not in by_q                 # missing term → dropped
    for qid, q in queries.items():
        if qid == "qc":
            continue
        want = [(int(r.doc_id), float(r.score)) for r in
                eng.search_phrase(q, k=20, slop=slop).collect()]
        assert sorted(by_q.get(qid, []),
                      key=lambda t: (-t[1], t[0])) == want, (qid, slop)



def test_sloppy_freq_repeats_unit():
    """Repeated-term sloppy phrases (distinct-position rule): each
    same-term slot consumes its own token position; hand-computed
    expectations for the documented greedy collision resolution."""
    from auctus_spark.oracle import lucene_sloppy_freq as sf
    # "a a" over doc "a a": abs positions [0,1]; slot1 adjusted [-1,0]
    # init: slot0@abs0, slot1 cleared to abs1 → both adjusted 0 → one
    # exact window (ml=0) → 1.0 at any slop
    assert sf([[0, 1], [-1, 0]], 1, terms=["a", "a"]) == 1.0
    # "a a" over "a": slot1 cannot clear the collision → no match
    assert sf([[0], [-1]], 3, terms=["a", "a"]) == 0.0
    # "a a" over "a a a" slop=1: first window exact (1.0); greedy
    # resolution leaves the tail window at ml=2 > slop (documented)
    assert sf([[0, 1, 2], [-1, 0, 1]], 1, terms=["a", "a"]) == 1.0
    # "a b a" over "a b a": slots a@[0,2], b adj [0], a2 adj [-2,0];
    # init clears a2 to abs2 (adj 0) → exact triple → 1.0
    assert sf([[0, 2], [0], [-2, 0]], 2,
              terms=["a", "b", "a"]) == 1.0
    # "a b a" over "a b x a" slop budget: a=[0,3] b=[1]; adjusted
    # slots: a1=[0,3], b=[0], a2=[-2,1]; init a2→abs3(adj1);
    # window [0,0,1] → ml=1 → 1/2 at slop>=1, 0 at slop 0
    assert sf([[0, 3], [0], [-2, 1]], 0,
              terms=["a", "b", "a"]) == 0.0
    assert sf([[0, 3], [0], [-2, 1]], 1,
              terms=["a", "b", "a"]) == 0.5
    # no repeats + terms given → identical to the fast path
    assert sf([[0], [1]], 1, terms=["a", "b"]) == sf([[0], [1]], 1)


def test_sloppy_freq_repeats_never_shares_positions():
    """Property: with R repeated slots and fewer than R occurrences,
    freq is always 0 (distinct positions are impossible)."""
    from auctus_spark.oracle import lucene_sloppy_freq as sf
    for occ in ([5], [5, 9]):
        adj = [[x - i for x in occ] for i in range(3)]
        assert sf(adj, 10, terms=["t", "t", "t"]) == 0.0


def test_sloppy_repeats_exact_subset_property():
    """Property (5k random cases): any doc with an exact occurrence
    of a repeated-term pattern gets sloppy freq > 0 at every slop —
    the guarantee the offset-ordered displacement rule provides."""
    import random

    from auctus_spark.oracle import lucene_sloppy_freq

    def exact_freq(occ, pattern):
        possets = {t: set(v) for t, v in occ.items()}
        lo = min(min(v) for v in possets.values())
        hi = max(max(v) for v in possets.values())
        return sum(
            1 for p in range(lo - len(pattern), hi + 1)
            if all(p + i in possets[t]
                   for i, t in enumerate(pattern)))

    rng = random.Random(3)
    for _ in range(5000):
        terms = rng.choice([["a", "a"], ["a", "b", "a"],
                            ["a", "a", "a"], ["a", "b", "b"],
                            ["a", "b", "a", "b"]])
        occ = {"a": sorted(rng.sample(range(14), rng.randint(1, 6))),
               "b": sorted(rng.sample(range(14), rng.randint(1, 6)))}
        slop = rng.randint(0, 4)
        adj = [[x - i for x in occ[t]] for i, t in enumerate(terms)]
        sf = lucene_sloppy_freq(adj, slop, terms=terms)
        if exact_freq(occ, terms) > 0:
            assert sf > 0.0, (terms, occ, slop)


def test_prefix_query_matches_oracle(spark, built):
    """ES prefix query (constant_score rewrite): doc set identical to
    the oracle's prefix expansion, every score == boost, doc_id
    order; empty prefix and no-match prefix return nothing."""
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    for p, boost in [("imp", 1.0), ("uniq_token_1", 1.0),
                     ("de", 2.5), ("zzz_nothing", 1.0)]:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_prefix(p, k=700, boost=boost)
               .collect()]
        assert got == oracle.search_prefix(p, k=700, boost=boost), p
    assert eng.search_prefix("  ").count() == 0
    # k-cap respected with doc_id order
    got5 = [r.doc_id for r in eng.search_prefix("imp", k=5).collect()]
    assert got5 == [d for d, _ in oracle.search_prefix("imp", k=5)]


def test_constant_score_masks_tombstones(spark, built, tmp_path):
    """Deleted docs drop out of prefix AND wildcard results — the
    tombstone branch of _constant_score_terms (np.searchsorted mask)
    on a COPY of the built index, so sibling fixtures stay clean."""
    import shutil

    from auctus_spark.index.build import delete_docs
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    copy = str(tmp_path / "index_copy")
    shutil.copytree(out, copy)
    base_prefix = [int(r.doc_id) for r in
                   SearchEngine(spark, copy, term_buckets=8)
                   .search_prefix("imp", k=700).collect()]
    base_wild = [int(r.doc_id) for r in
                 SearchEngine(spark, copy, term_buckets=8)
                 .search_wildcard("*turn", k=700).collect()]
    assert base_prefix and base_wild
    dead = sorted(set(base_prefix[:3]) | set(base_wild[:3]))
    delete_docs(spark, copy, dead)
    eng = SearchEngine(spark, copy, term_buckets=8)
    got_prefix = [int(r.doc_id) for r in
                  eng.search_prefix("imp", k=700).collect()]
    got_wild = [int(r.doc_id) for r in
                eng.search_wildcard("*turn", k=700).collect()]
    assert got_prefix == [d for d in base_prefix if d not in dead]
    assert got_wild == [d for d in base_wild if d not in dead]
    # the original (uncopied) index is untouched
    still = [int(r.doc_id) for r in
             SearchEngine(spark, out, term_buckets=8)
             .search_prefix("imp", k=700).collect()]
    assert still == base_prefix


def test_fuzzy_query_matches_oracle(spark, built):
    """ES fuzzy query (simplified blended rewrite): expansion set,
    slot scoring and ranks bit-exact vs the oracle; prefix_length
    and max_expansions knobs honored."""
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    for term, fz, pl, mx in [("import", 1, 0, 50), ("imprt", 1, 0, 50),
                             ("retur", 1, 0, 50), ("the", 1, 0, 50),
                             ("import", 2, 2, 50), ("import", 1, 0, 3),
                             ("zzzzzzz", 1, 0, 50)]:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_fuzzy(term, k=50, fuzziness=fz,
                                         max_expansions=mx,
                                         prefix_length=pl).collect()]
        want = oracle.search_fuzzy(term, k=50, fuzziness=fz,
                                   max_expansions=mx, prefix_length=pl)
        assert got == want, (term, fz, pl, mx)


def test_gram_prefilter_never_drops_true_candidate():
    """Property (pure python, 20k cases): for any query q and any term
    t within d Damerau edits (substitution/insert/delete/adjacent
    TRANSPOSITION), the q-gram count bound keeps t whenever it is
    non-vacuous — the dictionary cut can only ever remove FALSE
    candidates."""
    import random

    from auctus_spark.query.bm25 import (_gram_threshold,
                                         _term_bigrams)

    alphabet = "abcdef_0123"
    rng = random.Random(7)
    for _ in range(20_000):
        q = "".join(rng.choice(alphabet)
                    for _ in range(rng.randint(1, 12)))
        d = rng.randint(1, 2)
        t = list(q)
        for _ in range(rng.randint(0, d)):
            op = rng.choice(["sub", "ins", "del", "swap"])
            if op == "sub" and t:
                t[rng.randrange(len(t))] = rng.choice(alphabet)
            elif op == "ins":
                t.insert(rng.randint(0, len(t)), rng.choice(alphabet))
            elif op == "del" and t:
                del t[rng.randrange(len(t))]
            elif op == "swap" and len(t) >= 2:
                i = rng.randrange(len(t) - 1)
                t[i], t[i + 1] = t[i + 1], t[i]
        t = "".join(t)
        thresh = _gram_threshold(q, d)
        if thresh >= 1:
            common = len(_term_bigrams(q) & _term_bigrams(t))
            assert common >= thresh, (q, t, d, common, thresh)


def test_damerau_distance_definition():
    """The engine's scalar + vectorized Damerau implementations, the
    python oracle's independent one, and DuckDB's
    ``damerau_levenshtein`` (what every fuzzy SQL oracle calls) all
    agree on 2000 random pairs — and the distance genuinely differs
    from plain Levenshtein on a planted-transposition corpus
    (the round-7 divergence check: 'hte'→'the' is 1 edit, not 2)."""
    import random

    import duckdb

    from auctus_spark.oracle import _damerau_levenshtein
    from auctus_spark.query.bm25 import (_damerau_distances,
                                         damerau_levenshtein)

    con = duckdb.connect()
    rng = random.Random(13)
    alpha = "abcde_01"
    pairs = [("ca", "abc"), ("the", "hte"), ("", "x"), ("ab", "ba")]
    pairs += [("".join(rng.choice(alpha)
                       for _ in range(rng.randint(0, 9))),
               "".join(rng.choice(alpha)
                       for _ in range(rng.randint(0, 9))))
              for _ in range(2000)]
    vec = _damerau_distances(
        pairs[0][0], [b for _, b in pairs[:1]])  # smoke the vec path
    assert int(vec[0]) == 2
    for a, b in pairs:
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert damerau_levenshtein(a, b) == want, (a, b)
        assert _damerau_levenshtein(a, b) == want, (a, b)
    # planted transpositions: Damerau 1, plain Levenshtein 2
    planted = [("the", "hte"), ("import", "improt"),
               ("join", "jion"), ("data", "dtaa")]
    for a, b in planted:
        assert damerau_levenshtein(a, b) == 1, (a, b)
        lev = con.execute(
            "SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert lev == 2, (a, b)


def test_fuzzy_dictionary_cut(spark, built):
    """The gram pre-filter is exact (candidate set == full-dictionary
    Damerau scan) AND a real cut (rows reaching the comparator a
    fraction of the dictionary); the gram index is executor-cached."""
    from auctus_spark.query.bm25 import (SearchEngine,
                                         damerau_levenshtein)
    out, _, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    all_terms = [r["term"] for r in
                 eng._ts_df.select("term").collect()]
    dict_n = len(all_terms)
    for term, fz in [("import", 1), ("retur", 2),
                     ("uniq_token_1", 1), ("the", 1)]:
        got = {(r["term"], int(r["dist"]))
               for r in eng._fuzzy_candidates(term, fz, 0).collect()}
        full = {(w, damerau_levenshtein(w, term)) for w in all_terms
                if damerau_levenshtein(w, term) <= fz}
        assert got == full, (term, fz)
        pre = eng._fuzzy_prefilter(term, fz, 0).count()
        if len(term) > 4:      # non-vacuous bound → real pruning
            assert pre < dict_n / 5, (term, fz, pre, dict_n)
    assert eng.gram_index.storageLevel.useMemory


def test_wildcard_dictionary_cut_plan(spark, built):
    """Patterns with a usable literal resolve terms via the gram
    index and scan segments term_bucket-pruned (isin), not with a
    full-index rlike; literal-free patterns keep the fallback path.
    Results identical to the oracle either way (covered by
    test_wildcard_query_matches_oracle)."""
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    cut = eng.search_wildcard("*turn", k=700)
    assert "term_bucket" in plan(cut)          # partition-pruned isin
    assert "RLike" not in plan(cut)            # regex never hits segments
    got = [(int(r.doc_id), float(r.score)) for r in cut.collect()]
    assert got == oracle.search_wildcard("*turn", k=700)

    fallback = eng.search_wildcard("*", k=50)
    assert "RLike" in plan(fallback) or ".*" in plan(fallback)


def test_wildcard_query_matches_oracle(spark, built):
    """ES wildcard query (constant_score rewrite): * and ? patterns,
    whole-term anchoring, regex metachars escaped."""
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    for pat in ["imp*", "*turn", "u?iq_token_1*", "d?f", "*", "z*q",
                "uniq_token_7"]:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_wildcard(pat, k=700).collect()]
        assert got == oracle.search_wildcard(pat, k=700), pat


def test_regexp_query_matches_oracle(spark, built):
    """ES regexp query (constant_score rewrite): whole-term anchored
    regex over the term dictionary — pruned and fallback paths both
    identical to the oracle; tombstoned docs drop out."""
    import shutil

    from auctus_spark.index.build import delete_docs
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    pats = ["imp.*", ".*turn", "uniq_token_[0-9]", "d.f",
            "im?port", "re(turn)?", "def|import",     # group/alt → fallback
            "u.iq_token_.*", "zzz.*", "[a-z]+_token_1"]
    for pat in pats:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_regexp(pat, k=700, boost=2.0)
               .collect()]
        assert got == oracle.search_regexp(pat, k=700, boost=2.0), pat
    assert eng.search_regexp("  ").count() == 0
    # tombstone masking on a copy
    base = [int(r.doc_id) for r in
            eng.search_regexp("imp.*", k=700).collect()]
    assert base
    copy = out + "_rxcopy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(out, copy)
    delete_docs(spark, copy, base[:3])
    got = [int(r.doc_id) for r in
           SearchEngine(spark, copy, term_buckets=8)
           .search_regexp("imp.*", k=700).collect()]
    assert got == base[3:]
    shutil.rmtree(copy, ignore_errors=True)


def test_regexp_dictionary_cut_plan(spark, built):
    """Patterns with required literal runs resolve candidates via the
    gram index and scan segments term_bucket-pruned; the regex never
    reaches the posting scan. Alternation/group patterns fall back to
    the full-scan rlike path."""
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    cut = eng.search_regexp("imp.*", k=700)
    assert "term_bucket" in plan(cut)
    assert "RLIKE" not in plan(cut)    # regex never hits segments
    got = [(int(r.doc_id), float(r.score)) for r in cut.collect()]
    assert got == oracle.search_regexp("imp.*", k=700)

    fallback = eng.search_regexp("def|import", k=50)
    assert "RLIKE" in plan(fallback)


def test_regex_literal_runs_never_drop_candidates():
    """Property: every string matching the anchored regex contains
    ALL extracted literal runs as substrings — the dictionary cut is
    sound (never prunes a true match)."""
    import random
    import re

    from auctus_spark.query.bm25 import _regex_literal_runs

    rng = random.Random(7)
    vocab = ["import", "imports", "imported", "def", "dif", "dof",
             "return", "returns", "data", "date", "dataset", "a",
             "ab", "abc", "abbc", "abbbc", "ac", "xyz", "x1z"]
    pieces = ["a", "b", "c", "im", "port", "def", "ret", ".", "[a-c]",
              "a?", "b*", "b+", "c{1,2}", "[xy]?", ".*"]
    for _ in range(3000):
        pat = "".join(rng.choice(pieces)
                      for _ in range(rng.randint(1, 5)))
        runs = _regex_literal_runs(pat)
        assert runs is not None  # no |()^$\ in the piece set
        try:
            rx = re.compile("^(?:" + pat + ")$")
        except re.error:
            continue
        for w in vocab:
            if rx.match(w):
                for r in runs:
                    assert r in w, (pat, w, runs)
    # explicit fallbacks
    for p in ["a|b", "(ab)c", "a\\d", "^ab", "ab$"]:
        assert _regex_literal_runs(p) is None, p
    # ']' as first class member is a literal, not the terminator —
    # the run extractor must not leak class innards into runs
    for pat, match in [("[]x]ab", "]ab"), ("x[]]y", "x]y")]:
        runs = _regex_literal_runs(pat)
        assert runs is not None
        for r in runs:
            assert r in match, (pat, runs)
    # negated classes contain '^' and take the conservative fallback
    assert _regex_literal_runs("[^]x]ab") is None


def test_span_first_matches_oracle(spark, built_positional):
    """span_first (constant_score): doc set == oracle's
    position-filtered postings across several end values; end<=0
    empty; multi-term input rejected."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    for term, end in [("import", 1), ("import", 3), ("import", 50),
                      ("the", 2), ("zzz_nothing", 5)]:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_span_first(term, end, k=700,
                                              boost=2.0).collect()]
        assert got == oracle.search_span_first(term, end, k=700,
                                               boost=2.0), (term, end)
    assert eng.search_span_first("import", 0).count() == 0
    # larger end is a superset; full-length end == all docs with term
    small = {r.doc_id for r in
             eng.search_span_first("import", 2, k=700).collect()}
    big = {r.doc_id for r in
           eng.search_span_first("import", 10**6, k=700).collect()}
    assert small <= big
    assert big == set(oracle.postings["import"])  # all docs with term
    with pytest.raises(ValueError):
        eng.search_span_first("two terms", 5)


def test_term_vectors_matches_oracle(spark, built, tmp_path):
    """_termvectors analog: per-doc (term, tf) + global df identical
    to the oracle's postings; deleted docs return nothing; empty
    request returns an empty typed frame."""
    import shutil

    from auctus_spark.index.build import delete_docs
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    ids = [0, 3, 7, 599]

    def py_vectors(idx, want):
        rows = set()
        for term, post in idx.postings.items():
            for d in want:
                if d in post:
                    rows.add((d, term, post[d], len(post)))
        return rows

    got = {(r.doc_id, r.term, r.tf, r.df)
           for r in eng.term_vectors(ids).collect()}
    assert got == py_vectors(oracle, ids)
    assert eng.term_vectors([]).count() == 0
    copy = str(tmp_path / "tv_copy")
    shutil.copytree(out, copy)
    delete_docs(spark, copy, [3, 7])
    eng2 = SearchEngine(spark, copy, term_buckets=8)
    got2 = {r.doc_id for r in eng2.term_vectors(ids).collect()}
    assert got2 == {0, 599}


def test_term_vectors_exact_bucket_pruning(spark, built):
    """Round-7 #7: the segment predicate for {low id, high id} must
    NOT decode the doc buckets in between — the per-run OR predicate
    keeps strictly fewer segments than the old [min,max] envelope
    (the corpus spans 3 doc buckets of 256), results unchanged, and
    an id list with >_MAX_DOC_RANGE_ORS runs falls back to the
    envelope."""
    from pyspark.sql import functions as F

    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    ids = [5, 599]                     # buckets 0 and 2; bucket 1 idle
    exact = eng._seg_df.filter(eng._doc_range_pred(ids)).count()
    envelope = eng._seg_df.filter(
        (F.col("doc_id_max") >= ids[0])
        & (F.col("doc_id_min") <= ids[-1])).count()
    assert 0 < exact < envelope
    # middle-bucket partials survive the envelope but not the OR
    middle = eng._seg_df.filter(
        (F.col("doc_id_min") >= 256) & (F.col("doc_id_max") < 512))
    assert middle.filter(eng._doc_range_pred(ids)).count() == 0
    assert middle.count() > 0
    # results identical to the python oracle on the same request
    got = {(r.doc_id, r.term, r.tf, r.df)
           for r in eng.term_vectors(ids).collect()}
    want = {(d, term, post[d], len(post))
            for term, post in oracle.postings.items()
            for d in ids if d in post}
    assert got == want
    # fallback path: many scattered runs → envelope predicate
    scattered = list(range(0, 600, 2))      # 300 runs > 256
    pred = eng._doc_range_pred(scattered)
    assert (eng._seg_df.filter(pred).count()
            == eng._seg_df.filter(
                (F.col("doc_id_max") >= 0)
                & (F.col("doc_id_min") <= 598)).count())


def test_term_suggester_matches_oracle(spark, built):
    """ES term suggester: per missing token, candidates within
    max_edits ranked (dist asc, df desc, term asc), size-capped;
    present tokens get no suggestions in mode=missing but do in
    mode=always; prefix anchor respected.  Distance is Damerau
    (round-7 #4) — the helper delegates to the python oracle's
    independent implementation."""
    import re as _re

    from auctus_spark.oracle import _damerau_levenshtein as leven

    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)

    def py_suggest(text, size=5, max_edits=2, prefix_length=1,
                   mode="missing"):
        toks = [t for t in _re.split(r"\W+", text.lower()) if t]
        rows = []
        for t in toks:
            if mode == "missing" and t in oracle.postings:
                continue
            cands = [(leven(w, t), -len(post), w)
                     for w, post in oracle.postings.items()
                     if w != t and w[:prefix_length] == t[:prefix_length]]
            cands = sorted(c for c in cands if c[0] <= max_edits)
            rows += [(t, w, d, -negdf, i)
                     for i, (d, negdf, w) in enumerate(cands[:size], 1)]
        return sorted(rows)

    for text, kw in [("import", {}), ("import retur", {}),
                     ("import", {}),              # present -> nothing
                     ("import", {"mode": "always"}),
                     ("zzz", {}),                 # prefix z: no cands
                     ("imporz retur", {"size": 3, "max_edits": 1})]:
        mode = kw.pop("mode", "missing")
        got = sorted((r.token, r.suggestion, int(r.dist), int(r.df),
                      int(r.rank))
                     for r in eng.suggest_terms(
                         text, suggest_mode=mode, **kw).collect())
        assert got == py_suggest(text, mode=mode, **kw), (text, kw)
    with pytest.raises(ValueError):
        eng.suggest_terms("x", suggest_mode="nope")


def test_phrase_prefix_matches_oracle(spark, built_positional):
    """ES match_phrase_prefix (autocomplete): expansion-union last
    slot, SynonymQuery-style slot idf — bit-exact vs the positional
    oracle across multi-term, single-token and no-match prefixes."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    for q, mx in [("import d", 50), ("def retur", 50), ("the imp", 50),
                  ("uniq", 50), ("import def", 50), ("import d", 3),
                  ("import zzzz", 50)]:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_phrase_prefix(q, k=50,
                                                 max_expansions=mx)
               .collect()]
        want = oracle.search_phrase_prefix(q, k=50, max_expansions=mx)
        _assert_rank_identical(got, want)


# ---------------------------------------------------------------------
# more_like_this
# ---------------------------------------------------------------------

def test_more_like_this_matches_oracle(spark, built):
    """MLT = Lucene tf-idf term selection + the disjunctive engine:
    re-derive the selection in pure Python against the oracle's
    postings, then assert the engine's result is bit-exact with
    oracle.search_or on exactly those terms."""
    import collections

    from auctus_spark.analysis import tokenize
    out, oracle, stats, corpus, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    like = corpus.filter("doc_id = 3").collect()[0].content

    tf = collections.Counter(tokenize(like))
    n_docs = stats["n_docs"]
    scored = sorted(
        (-(c * (math.log(n_docs / (len(oracle.postings[t]) + 1.0)) + 1.0)),
         t)
        for t, c in tf.items() if t in oracle.postings)
    sel = [t for _, t in scored[:25]]
    msm = max(1, int(0.3 * len(sel)))
    want = oracle.search_or(" ".join(sel), min_should_match=msm)
    got = [(int(r.doc_id), float(r.score))
           for r in eng.more_like_this(like, k=50).collect()]
    _assert_rank_identical(got, want)
    # the source doc itself must rank #1 (it matches every selected term)
    assert got[0][0] == 3


def test_more_like_this_filters(spark, built):
    """min_term_freq / max_doc_freq prune the selection; an
    impossible filter combination yields the empty result."""
    out, oracle, stats, corpus, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    like = corpus.filter("doc_id = 3").collect()[0].content
    assert eng.more_like_this(like, min_term_freq=10**6).count() == 0
    # max_doc_freq=0 excludes every indexed term
    assert eng.more_like_this(like, max_doc_freq=0).count() == 0


def test_collapse_and_search_after(spark, built):
    """Field collapsing keeps exactly the best (score desc, id asc)
    hit per group; search_after pages are disjoint, ordered, and
    their union equals the full hit list."""
    from pyspark.sql import functions as F

    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    docs = corpus.withColumn("grp",
                             (F.col("doc_id") % 5).cast("string"))
    full = oracle.search("import data", k=10**9)
    # collapse: best per group from the oracle list
    want = {}
    for d, s in full:  # already (score desc, id asc)
        g = str(d % 5)
        want.setdefault(g, (d, round(s, 6)))
    got = {r.grp: (r.doc_id, r.score)
           for r in pipeline.collapse_topk(
               docs, "import data", "grp", k=100, round_to=6,
               text_col="content").collect()}
    assert got == want
    # search_after: walk pages of 7, reassemble the full list
    rounded = [(d, round(s, 6)) for d, s in full]
    rounded.sort(key=lambda x: (-x[1], x[0]))
    pages, cursor = [], (float("inf"), -1)
    while True:
        page = pipeline.search_after_topk(
            docs, "import data", after_score=cursor[0],
            after_id=cursor[1], k=7, text_col="content").collect()
        if not page:
            break
        pages += [(r.doc_id, r.score) for r in page]
        cursor = (page[-1].score, page[-1].doc_id)
    assert pages == rounded


def test_phrase_suggester(spark, built):
    """ES phrase suggester: per-token top-N Damerau candidates (self
    at distance 0 included), phrases ranked by the add-1 unigram LM
    over corpus counts — checked against an independent python
    recomputation from the oracle's postings; a token with no
    dictionary candidate keeps itself with cf=0."""
    import itertools
    import math

    from auctus_spark.oracle import _damerau_levenshtein
    from auctus_spark.query.bm25 import SearchEngine
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    cf = {w: sum(p.values()) for w, p in oracle.postings.items()}
    df = {w: len(p) for w, p in oracle.postings.items()}
    t_total = sum(cf.values())
    v_size = len(cf)

    def py_phrases(text, size=3, per_token=3, max_edits=2,
                   prefix_length=1):
        toks = [t for t in text.lower().split() if t]
        per = []
        for t in toks:
            cands = sorted(
                (_damerau_levenshtein(w, t), -df[w], w)
                for w in cf
                if w[:prefix_length] == t[:prefix_length]
                and _damerau_levenshtein(w, t) <= max_edits)
            per.append([w for _, _, w in cands[:per_token]] or [t])
        rows = []
        for combo in itertools.product(*per):
            s = 0.0
            for w in combo:
                s += math.log((cf.get(w, 0) + 1.0)
                              / (t_total + 1.0 * v_size))
            rows.append((" ".join(combo), round(s, 6)))
        rows.sort(key=lambda x: (-x[1], x[0]))
        return rows[:size]

    for text in ["improt retur", "the dta", "import"]:
        got = [(r.phrase, float(r.score))
               for r in eng.suggest_phrases(text, size=3).collect()]
        assert got == py_phrases(text), text
    # no-candidate token keeps itself at cf=0
    got = [(r.phrase, float(r.score))
           for r in eng.suggest_phrases("qqqqqqq import",
                                        size=2).collect()]
    assert got and all(p.startswith("qqqqqqq ") for p, _ in got)
    # token-count guard
    import pytest as _pytest
    with _pytest.raises(ValueError):
        eng.suggest_phrases("a b c d e f g h i")
    assert eng.suggest_phrases("").count() == 0


def test_span_near_matches_oracle(spark, built_positional):
    """span_near (constant_score): doc set == the positional oracle's
    independent brute-force matcher across ordered/unordered and
    several slops; ordered hits ⊆ unordered at the same slop."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    cases = [(["import", "def"], 0, True),
             (["import", "def"], 3, True),
             (["import", "def"], 3, False),
             (["the", "import", "def"], 5, False),
             (["import", "def", "return"], 8, True),
             (["import", "import"], 2, True),
             (["import", "no_such_token"], 5, True)]
    for clauses, slop, order in cases:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_span_near(
                   clauses, slop=slop, in_order=order, k=700,
                   boost=2.0).collect()]
        want = oracle.search_span_near(clauses, slop, order, k=700,
                                       boost=2.0)
        assert got == want, (clauses, slop, order)
    o = {d for d, _ in oracle.search_span_near(
        ["import", "def"], 3, True, k=700)}
    u = {d for d, _ in oracle.search_span_near(
        ["import", "def"], 3, False, k=700)}
    assert o <= u and len(u) > 0
    with pytest.raises(ValueError):
        eng.search_span_near(["import"])
    with pytest.raises(ValueError):
        eng.search_span_near(["import", "import"], in_order=False)
    with pytest.raises(ValueError):
        eng.search_span_near(["import def", "the"])


def test_span_near_semantics_handmade():
    """Slop boundaries and order sensitivity on a corpus built by
    hand (oracle only — engine equivalence is the test above)."""
    from auctus_spark.oracle import PositionalOracleIndex
    idx = PositionalOracleIndex.build([
        (0, "a b c"),            # a,b adjacent in order
        (1, "c x x b x x a"),    # b before a, 2 tokens apart
        (2, "a x b"),            # one-gap in order
        (3, "b a"),              # adjacent, reversed
    ])

    def ids(clauses, slop, order):
        return [d for d, _ in idx.search_span_near(clauses, slop,
                                                   order)]
    assert ids(["a", "b"], 0, True) == [0]
    assert ids(["a", "b"], 1, True) == [0, 2]
    assert ids(["a", "b"], 0, False) == [0, 3]
    assert ids(["a", "b"], 1, False) == [0, 2, 3]
    assert ids(["a", "b"], 2, False) == [0, 1, 2, 3]
    assert ids(["b", "a"], 0, True) == [3]
    # three clauses, unordered: doc1 span c..b..a width 6 -> slop 4
    assert ids(["a", "b", "c"], 3, False) == [0]
    assert ids(["a", "b", "c"], 4, False) == [0, 1]


def test_span_near_match_greedy_edges():
    """The bucket matcher's greedy walk: early-exit on exhaustion is
    sound, and per-start greedy finds the budget-feasible tuple."""
    import numpy as np

    from auctus_spark.query.bm25 import _span_near_match

    def m(lists, slop, order):
        return _span_near_match(
            [np.array(v, dtype=np.int64) for v in lists], slop, order)
    assert m([[0, 5], [3]], 2, True)          # 0 -> 3, budget 2
    assert not m([[0, 5], [3]], 1, True)      # only combo needs 2
    assert m([[0, 9], [10]], 0, True)         # later start is the hit
    assert not m([[5], [3]], 99, True)        # order impossible
    assert not m([[5], [3]], 0, False)        # gap of one token
    assert m([[5], [3]], 1, False)            # budget 1 covers it
    assert m([[5], [4]], 0, False)            # unordered adjacent
    assert m([[0, 100], [101], [99]], 0, False)   # window 99..101
    assert not m([[0, 100], [101], [99]], 0, True)


def test_rescore_matches_oracle_composition(spark, built):
    """ES rescore: engine total == qw*conjunctive + rqw*should for
    the top-window docs, bit-exact against the oracle scorers; with
    rescore weight 0 it degenerates to the primary top-k."""
    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    q, rq, w, qw, rqw = "import data", "def return", 25, 1.0, 2.0
    s1 = oracle.search(q, k=10**9)          # conjunctive, ranked
    s2 = dict(oracle.search_or(rq, k=10**9))
    win = s1[:w]
    exp = sorted(((d, qw * s + rqw * s2.get(d, 0.0)) for d, s in win),
                 key=lambda x: (-x[1], x[0]))[:10]
    got = [(int(r.doc_id), float(r.score))
           for r in pipeline.rescore_topk(
               corpus, q, rq, window_size=w, query_weight=qw,
               rescore_query_weight=rqw, k=10,
               text_col="content").collect()]
    assert got == exp
    # rqw=0 -> identical to the primary top-k
    base = [(int(r.doc_id), float(r.score))
            for r in pipeline.bm25_topk(corpus, q, k=10,
                                        text_col="content").collect()]
    got0 = [(int(r.doc_id), float(r.score))
            for r in pipeline.rescore_topk(
                corpus, q, rq, window_size=w, rescore_query_weight=0.0,
                k=10, text_col="content").collect()]
    assert got0 == base
    # empty rescore query -> empty (ES errors on empty rescorer)
    assert pipeline.rescore_topk(corpus, q, "", k=10,
                                 text_col="content").count() == 0


def test_span_not_matches_oracle(spark, built_positional):
    """span_not: doc set == oracle across pre/post widths; absent
    exclude term -> all docs with the include term."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    cases = [("import", "def", 0, 0), ("import", "def", 0, 3),
             ("import", "def", 2, 2), ("import", "the", 1, 5),
             ("import", "no_such_token", 0, 2),
             ("import", "import", 0, 0)]
    for inc, exc, pre, post in cases:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_span_not(
                   inc, exc, pre=pre, post=post, k=700,
                   boost=3.0).collect()]
        want = oracle.search_span_not(inc, exc, pre, post, k=700,
                                      boost=3.0)
        assert got == want, (inc, exc, pre, post)
    # absent exclude = unfiltered include postings
    full = {d for d, _ in oracle.search_span_not(
        "import", "no_such_token", 0, 2, k=10**6)}
    assert full == set(oracle.postings["import"])
    # include == exclude always self-overlaps -> empty
    assert oracle.search_span_not("import", "import", 0, 0) == []
    # wider exclusion window -> subset
    tight = {d for d, _ in oracle.search_span_not("import", "def",
                                                  0, 0, k=10**6)}
    wide = {d for d, _ in oracle.search_span_not("import", "def",
                                                 2, 6, k=10**6)}
    assert wide <= tight
    with pytest.raises(ValueError):
        eng.search_span_not("import def", "the")


def test_random_score_deterministic_md5(spark, built):
    """random_score: the md5 variate is reproducible, seed-sensitive,
    in [0,1), and matches a hand computation."""
    import hashlib

    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    a = [(int(r.doc_id), float(r.score))
         for r in pipeline.random_score_topk(
             corpus, "import", seed=7, k=30,
             text_col="content").collect()]
    b = [(int(r.doc_id), float(r.score))
         for r in pipeline.random_score_topk(
             corpus, "import", seed=7, k=30,
             text_col="content").collect()]
    assert a == b and len(a) == 30
    c = [(int(r.doc_id), float(r.score))
         for r in pipeline.random_score_topk(
             corpus, "import", seed=8, k=30,
             text_col="content").collect()]
    assert [d for d, _ in a] != [d for d, _ in c]
    for d, s in a:
        h = hashlib.md5(f"7:{d}".encode()).hexdigest()[:8]
        assert s == int(h, 16) / 2**32 and 0.0 <= s < 1.0
    # conjunctive filter: every hit contains the term
    assert all(d in oracle.postings["import"] for d, _ in a)


def test_match_bool_prefix_composition(spark, built):
    """match_bool_prefix == should-BM25(full terms) + 1.0 for docs
    with any token matching the prefix; prefix-only docs included."""
    from auctus_spark import pipeline
    _, oracle, _, corpus, _ = built
    full_q, prefix = "import", "def"     # 'def...' tokens exist
    s1 = dict(oracle.search_or(full_q, k=10**9))
    pref_docs = {d for t, post in oracle.postings.items()
                 if t.startswith(prefix) for d in post}
    exp = {d: s1.get(d, 0.0) + (1.0 if d in pref_docs else 0.0)
           for d in set(s1) | pref_docs}
    got = {int(r.doc_id): float(r.score)
           for r in pipeline.match_bool_prefix_topk(
               corpus, f"{full_q} {prefix}", k=10**9,
               text_col="content").collect()}
    assert got == exp
    # single-token query: pure prefix clause, constant scores
    only = {int(r.doc_id): float(r.score)
            for r in pipeline.match_bool_prefix_topk(
                corpus, prefix, k=10**9, text_col="content").collect()}
    assert set(only) == pref_docs
    assert set(only.values()) == {1.0}


def test_completion_suggester(spark, built):
    """Completion suggester: prefix cut on the dictionary, weight =
    df desc then term asc, rank sequential; multi-token prefix
    rejected."""
    out, oracle, _, corpus, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    got = [(r["term"], r["weight"], r["rank"])
           for r in eng.suggest_completions("d", size=5).collect()]
    dfs = {t: len(post) for t, post in oracle.postings.items()
           if t.startswith("d")}
    want = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == [(t, w, i + 1) for i, (t, w) in enumerate(want)]
    assert eng.suggest_completions("zzzz_nothing").count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        eng.suggest_completions("two tokens")


def test_span_near_match_property_vs_bruteforce():
    """Property: the production matcher (greedy walk / window sweep)
    agrees with exhaustive enumeration on 3000 random cases, ordered
    and unordered, 2-4 clauses."""
    import itertools
    import random

    import numpy as np

    from auctus_spark.query.bm25 import _span_near_match

    rng = random.Random(20260818)

    def brute(pos_lists, slop, in_order):
        n = len(pos_lists)
        for combo in itertools.product(*pos_lists):
            if len(set(combo)) != n:
                continue          # distinct positions per clause
            if in_order and any(combo[i] >= combo[i + 1]
                                for i in range(n - 1)):
                continue
            if max(combo) - min(combo) - (n - 1) <= slop:
                return True
        return False

    for trial in range(3000):
        n = rng.randint(2, 4)
        in_order = rng.random() < 0.5
        if in_order:
            # greedy walk is fully general — arbitrary overlap
            pos_lists = [sorted(rng.sample(range(0, 30),
                                           rng.randint(1, 5)))
                         for _ in range(n)]
        else:
            # unordered clauses are DISTINCT terms, so their position
            # lists are disjoint by construction (the engine rejects
            # duplicate terms in unordered mode) — sample accordingly
            pool = rng.sample(range(0, 30), 20)
            pos_lists, off = [], 0
            for _ in range(n):
                take = rng.randint(1, 5)
                pos_lists.append(sorted(pool[off:off + take]))
                off += take
        slop = rng.randint(0, 8)
        got = _span_near_match(
            [np.array(v, dtype=np.int64) for v in pos_lists],
            slop, in_order)
        want = brute(pos_lists, slop, in_order)
        assert got == want, (pos_lists, slop, in_order, got, want)


def test_multi_index_search_merges_local_topk(spark, built,
                                              tmp_path_factory):
    """Multi-index search: two parity-sharded indexes, each with its
    OWN stats (query_then_fetch), merged == unioned per-half oracle
    rankings; disjoint doc sets; k-cap respected."""
    from pyspark.sql import functions as F

    from auctus_spark.query.bm25 import search_multi_index
    _, _, _, corpus, _ = built
    engines, oracles = [], []
    for par in (0, 1):
        out = str(tmp_path_factory.mktemp(f"half{par}"))
        half = corpus.filter(F.col("doc_id") % 2 == par)
        IndexBuilder(spark, out, doc_bucket=256, chunk_docs=200,
                     term_buckets=8).build(half)
        engines.append(SearchEngine(spark, out, term_buckets=8))
        oracles.append(OracleIndex.build(
            [(int(r.doc_id), r.content) for r in half.collect()]))
    q = "import data"
    got = [(int(r.doc_id), float(r.score))
           for r in search_multi_index(engines, q, k=40).collect()]
    want = sorted(oracles[0].search(q, k=40)
                  + oracles[1].search(q, k=40),
                  key=lambda x: (-x[1], x[0]))[:40]
    assert got == want
    assert len({d for d, _ in got}) == len(got)
    with pytest.raises(ValueError):
        search_multi_index([], q)


def test_sampler_facet_scope_cut(spark):
    """sampler: the facet only sees the top shard_size hits (score
    desc, doc_id asc on the ROUNDED score)."""
    from auctus_spark import pipeline
    rows = [(1, "join join join", "en"), (2, "join join", "en"),
            (3, "join", "de"), (4, "nothing here", "de")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    got = {r["lang"]: r["doc_count"]
           for r in pipeline.sampler_facet(docs, "join", "lang",
                                           shard_size=2).collect()}
    assert got == {"en": 2}
    # no-match query -> empty facet
    assert pipeline.sampler_facet(docs, "zzz_missing", "lang"
                                  ).collect() == []


def test_diversified_sampler_skips_over_quota(spark):
    """diversified_sampler: over-quota docs are skipped and
    collection keeps filling from lower-ranked hits (not a plain
    truncation of the top shard_size)."""
    from auctus_spark import pipeline
    # doc 1,2,3 all source A ranked top; quota 1 -> only doc 1 from
    # A, then doc 4 (source B) fills the second slot
    rows = [(1, "join join join join", "en", "A"),
            (2, "join join join", "en", "A"),
            (3, "join join", "en", "A"),
            (4, "join", "fr", "B")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    got = {r["lang"]: r["doc_count"]
           for r in pipeline.diversified_sampler_facet(
               docs, "join", "lang", "source", max_docs_per_value=1,
               shard_size=2).collect()}
    assert got == {"en": 1, "fr": 1}


def test_span_contain_match_vs_enumeration():
    """_span_contain_match == brute-force pair enumeration over 2000
    random position-set cases."""
    import itertools
    import random
    import numpy as np
    from auctus_spark.query.bm25 import _span_contain_match
    rng = random.Random(89)
    for case in range(2000):
        n = rng.randint(1, 12)
        p1s = np.array(sorted(rng.sample(range(n + 8), rng.randint(1, 4))),
                       dtype=np.int64)
        p2s = np.array(sorted(rng.sample(range(n + 8), rng.randint(1, 4))),
                       dtype=np.int64)
        ls = np.array(sorted(rng.sample(range(n + 8), rng.randint(1, 4))),
                      dtype=np.int64)
        slop = rng.randint(0, 6)
        brute = any(
            p1 < p2 and p2 - p1 - 1 <= slop
            and any(p1 <= l <= p2 for l in ls)
            for p1, p2 in itertools.product(p1s, p2s))
        assert _span_contain_match(p1s, p2s, ls, slop) == brute, \
            (case, p1s, p2s, ls, slop)


def test_intervals_matches_oracle(spark, built_positional):
    """intervals (all_of with any_of unions, constant_score): doc set
    == the positional oracle's independent brute-force matcher across
    ordered/unordered and gap budgets."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    cases = [([["import", "def"], "return"], 2, True),
             ([["import", "def"], "return"], 0, True),
             ([["the", "import"], ["def", "return"]], 3, False),
             (["import", ["def", "return"]], -1, True),
             ([["import", "zz_missing"], "def"], 4, True)]
    for clauses, gaps, order in cases:
        got = [(int(r.doc_id), float(r.score))
               for r in eng.search_intervals(
                   clauses, max_gaps=gaps, ordered=order, k=700,
                   boost=3.0).collect()]
        want = oracle.search_intervals(clauses, gaps, order, k=700,
                                       boost=3.0)
        assert got == want, (clauses, gaps, order)
    # all-missing clause -> empty
    assert eng.search_intervals(
        [["zz_missing"], "def"], max_gaps=2).count() == 0
    with pytest.raises(ValueError):
        eng.search_intervals(["import"])
    with pytest.raises(ValueError):
        eng.search_intervals([["import"], "import"], ordered=False)


def test_intervals_semantics_handmade():
    """any_of union + gap budget on a hand-built corpus."""
    from auctus_spark.oracle import PositionalOracleIndex
    idx = PositionalOracleIndex.build([
        (0, "a x c"),      # a..c one gap
        (1, "b c"),        # b,c adjacent
        (2, "c a"),        # c before a/b
        (3, "a x x x c"),  # 3 gaps
    ])

    def ids(clauses, gaps, order):
        return [d for d, _ in idx.search_intervals(clauses, gaps,
                                                   order)]
    # any_of(a,b) then c, ordered
    assert ids([["a", "b"], "c"], 0, True) == [1]
    assert ids([["a", "b"], "c"], 1, True) == [0, 1]
    assert ids([["a", "b"], "c"], -1, True) == [0, 1, 3]
    # unordered picks up doc 2 too
    assert ids([["a", "b"], "c"], 1, False) == [0, 1, 2]


def _containing_brute(oracle, big, little, slop):
    """Docs (ascending) where an in-order ``big`` pair (p1 < p2,
    p2 - p1 - 1 <= slop) encloses a ``little`` position — brute force
    over the positional oracle's position lists."""
    (t1, t2), post = big, oracle.postings
    docs = []
    for d in sorted(set(post.get(t1, {})) & set(post.get(t2, {}))
                    & set(post.get(little, {}))):
        if any(p1 < p2 and p2 - p1 - 1 <= slop
               and any(p1 <= l <= p2 for l in post[little][d])
               for p1 in post[t1][d] for p2 in post[t2][d]):
            docs.append(d)
    return docs


def test_span_or_and_containing_match_oracle(spark, built_positional):
    """span_or == union of postings; span_containing == brute-force
    enclosure over the oracle's position lists."""
    from auctus_spark.query.bm25 import PhraseEngine
    out, oracle, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    got = {int(r.doc_id) for r in
           eng.search_span_or(["import", "return"], k=700).collect()}
    want = (set(oracle.postings.get("import", {}))
            | set(oracle.postings.get("return", {})))
    assert got == want
    # containing: big = (import .. def, slop 4) enclosing 'the'
    got_c = [int(r.doc_id) for r in eng.search_span_containing(
        ["import", "def"], "the", big_slop=4, k=700).collect()]
    brute = _containing_brute(oracle, ["import", "def"], "the", 4)
    assert got_c == brute and len(brute) > 0
    # span_within aliases containing (doc-existence collapse)
    got_w = [int(r.doc_id) for r in eng.search_span_within(
        "the", ["import", "def"], big_slop=4, k=700).collect()]
    assert got_w == got_c


def test_rank_feature_functions(spark):
    """rank_feature: saturation/log/sigmoid/linear closed forms,
    null and non-positive features never match."""
    import math
    from auctus_spark import pipeline
    rows = [(1, 10.0), (2, 5.0), (3, 0.0), (4, None), (5, 2.0)]
    df = spark.createDataFrame(rows, "doc_id long, pagerank double")
    got = {r["doc_id"]: r["score"]
           for r in pipeline.rank_feature_topk(
               df, "pagerank", "saturation", pivot=5.0).collect()}
    assert got == {1: pytest.approx(10 / 15), 2: pytest.approx(0.5),
                   5: pytest.approx(2 / 7)}
    lg = {r["doc_id"]: r["score"]
          for r in pipeline.rank_feature_topk(
              df, "pagerank", "log", scaling_factor=1.0,
              boost=2.0).collect()}
    assert lg[1] == pytest.approx(2 * math.log(11.0))
    sig = {r["doc_id"]: r["score"]
           for r in pipeline.rank_feature_topk(
               df, "pagerank", "sigmoid", pivot=5.0,
               exponent=2.0).collect()}
    assert sig[2] == pytest.approx(0.5)
    assert sig[1] == pytest.approx(100 / 125)
    # top-k cut + ordering (score desc, id asc)
    top = pipeline.rank_feature_topk(df, "pagerank", "linear",
                                     k=2).collect()
    assert [r["doc_id"] for r in top] == [1, 2]
    with pytest.raises(ValueError):
        pipeline.rank_feature_topk(df, "pagerank", "saturation")


def test_pinned_query_ordering(spark):
    """pinned: listed ids first in GIVEN order (even non-matching),
    then organic hits excluding pinned; missing ids skipped."""
    from auctus_spark import pipeline
    rows = [(1, "join join join"), (2, "join join"),
            (3, "join"), (4, "nothing here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["rank"], r["doc_id"], r["pinned"])
           for r in pipeline.pinned_topk(
               docs, [4, 2, 99], "join").collect()]
    # 4 pinned (doesn't match), 2 pinned, 99 skipped (absent),
    # then organic 1, 3 by score
    assert got == [(1, 4, True), (2, 2, True),
                   (3, 1, False), (4, 3, False)]
    # no-match organic query -> pinned only
    only = [(r["rank"], r["doc_id"])
            for r in pipeline.pinned_topk(docs, [3], "zzz").collect()]
    assert only == [(1, 3)]


def test_span_multi_near_prefix_clause(spark, built_positional):
    """span_multi(prefix) inside span_near: engine result equals a
    brute-force recomputation over the corpus — for each doc, ordered
    pair (p0, p1) with tokens[p0] == 'def', tokens[p1] startswith
    'im', p1 > p0, p1 - p0 - 1 <= slop."""
    from auctus_spark.analysis import tokenize
    from auctus_spark.query.bm25 import PhraseEngine
    out, _, corpus = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    slop = 4
    got = [int(r.doc_id) for r in eng.search_span_multi_near(
        ["def", "im*"], slop=slop, in_order=True, k=10000).collect()]
    want = []
    for r in corpus.select("doc_id", "content").collect():
        toks = tokenize(r["content"])
        p0s = [i for i, t in enumerate(toks) if t == "def"]
        p1s = [i for i, t in enumerate(toks) if t.startswith("im")]
        if any(p1 > p0 and p1 - p0 - 1 <= slop
               for p0 in p0s for p1 in p1s):
            want.append(int(r["doc_id"]))
    assert got == sorted(want)
    assert len(got) > 0


def test_span_multi_near_unordered_overlap_rejected(spark,
                                                    built_positional):
    from auctus_spark.query.bm25 import PhraseEngine
    out, _, _ = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    with pytest.raises(ValueError, match="overlapping"):
        eng.search_span_multi_near(["import", "im*"], slop=2,
                                   in_order=False, k=10)


def test_indices_boost_monotone_merge(spark, built_positional):
    """indices_boost: per-index positive multiplier before the merge
    — boosted scores are exactly boost * unboosted, invalid boosts
    rejected."""
    from auctus_spark.query.bm25 import SearchEngine, search_multi_index
    out, _, _ = built_positional
    eng = SearchEngine(spark, out, term_buckets=8)
    plain = {r.doc_id: r.score for r in
             search_multi_index([eng, eng], "import", k=10).collect()}
    boosted = {r.doc_id: r.score for r in
               search_multi_index([eng, eng], "import", k=10,
                                  boosts=[3.0, 3.0]).collect()}
    assert set(plain) == set(boosted)
    for d in plain:
        assert boosted[d] == pytest.approx(3.0 * plain[d], rel=1e-12)
    with pytest.raises(ValueError, match="1:1"):
        search_multi_index([eng], "import", boosts=[1.0, 2.0])
    with pytest.raises(ValueError, match="positive"):
        search_multi_index([eng], "import", boosts=[-1.0])


def test_span_multi_near_wildcard_clause(spark, built_positional):
    """span_multi with an infix wildcard clause ('i?port' / 'im*t'):
    expansion = dictionary terms matching the anchored pattern;
    brute-force parity like the prefix case."""
    from auctus_spark.analysis import tokenize
    from auctus_spark.query.bm25 import PhraseEngine
    import re
    out, _, corpus = built_positional
    eng = PhraseEngine(spark, out, term_buckets=8)
    got = [int(r.doc_id) for r in eng.search_span_multi_near(
        ["def", "i?port"], slop=5, in_order=True, k=10000).collect()]
    rx = re.compile(r"^i.port$")
    want = []
    for r in corpus.select("doc_id", "content").collect():
        toks = tokenize(r["content"])
        p0s = [i for i, t in enumerate(toks) if t == "def"]
        p1s = [i for i, t in enumerate(toks) if rx.match(t)]
        if any(p1 > p0 and p1 - p0 - 1 <= 5
               for p0 in p0s for p1 in p1s):
            want.append(int(r["doc_id"]))
    assert got == sorted(want) and got
    with pytest.raises(ValueError, match="leading literal"):
        eng.search_span_multi_near(["def", "*port"], slop=2, k=5)


def test_fuzzy_completion_semantics(spark, built_positional):
    """Fuzzy completion: prefix-of-term Damerau distance <= fuzziness
    with the first prefix_length chars exact; (dist asc, weight desc,
    term asc) order; fuzziness=0 path identical to plain prefix."""
    from auctus_spark.query.bm25 import (SearchEngine,
                                         damerau_levenshtein)
    out, _, corpus = built_positional
    eng = SearchEngine(spark, out, term_buckets=8)
    p = "imp"
    got = [(r["term"], r["dist"]) for r in
           eng.suggest_completions(p, size=50, fuzziness=1).collect()]
    assert got, "expected fuzzy completions"
    for t, d in got:
        assert t[0] == p[0]
        assert damerau_levenshtein(t[:len(p)], p) == d <= 1
    dists = [d for _, d in got]
    assert dists == sorted(dists)
    # exact-prefix terms all appear with dist 0
    exact = {r["term"] for r in
             eng.suggest_completions(p, size=50).collect()}
    assert exact <= {t for t, d in got if d == 0} | set(
        t for t, _ in got)


# ---------------------------------------------------------------------
# batched engines: one output schema; tombstones on every scored family
# ---------------------------------------------------------------------

def test_batched_engines_one_schema_when_nothing_to_score(
        spark, built, built_positional):
    """A batch whose queries have no terms comes back with the same
    (query_id, doc_id, score) columns as a batch with hits."""
    from auctus_spark.query.bm25 import (PhraseEngine, search_many,
                                         search_many_or,
                                         search_many_phrase,
                                         search_many_synonyms)
    eng = SearchEngine(spark, built[0], term_buckets=8)
    peng = PhraseEngine(spark, built_positional[0], term_buckets=8)
    syn = {"import": ["def"]}
    cols = ["query_id", "doc_id", "score"]
    for queries in ({"qa": "", "qb": "?! -- ..."}, {"qa": "import"}):
        for df in (search_many(eng, queries, k=5),
                   search_many_or(eng, queries, k=5),
                   search_many_synonyms(eng, queries, syn, k=5),
                   search_many_phrase(peng, queries, k=5)):
            assert df.columns == cols
            rows = df.collect()
            assert bool(rows) == ("qa" in queries and
                                  queries["qa"] == "import")


TOMB_K = 20
TOMB_SYN = {"import": ["def"], "uniq_token_11": ["uniq_token_22"]}
TOMB_AND = ["import def", "the return", "import def return the"]
TOMB_OR = ["def return", "the import def return for"]
TOMB_PHRASE = ["import def", "the import", "import import", "def return"]
TOMB_FIELDS = ["import", "src import", "file_7 py"]
TOMB_BOOSTS = {"content": 1.0, "path": 3.0}


def _or2_batched(c, qs, k):
    from auctus_spark.analysis import analyze_query
    return c.eng._or_job({qid: (analyze_query(q), 2)
                          for qid, q in qs.items()}, k, batched=True)


def _tomb_families():
    """family -> (queries, oracle(c, q, k), single(c, q, k),
    batched(c, {qid: q}, k) or None)."""
    from auctus_spark.oracle import search_cross_fields, search_multifield
    from auctus_spark.query.bm25 import (search_many, search_many_or,
                                         search_many_phrase,
                                         search_many_synonyms)
    return {
        "and": (TOMB_AND,
                lambda c, q, k: c.oracle.search(q, k=k),
                lambda c, q, k: c.eng.search_wand(q, k=k),
                lambda c, qs, k: search_many(c.eng, qs, k=k)),
        "or_msm1": (TOMB_OR,
                    lambda c, q, k: c.oracle.search_or(q, k=k),
                    lambda c, q, k: c.eng.search_or(q, k=k),
                    lambda c, qs, k: search_many_or(c.eng, qs, k=k)),
        "or_msm2": (TOMB_OR,
                    lambda c, q, k: c.oracle.search_or(
                        q, k=k, min_should_match=2),
                    lambda c, q, k: c.eng.search_or(
                        q, k=k, min_should_match=2),
                    _or2_batched),
        "synonyms": (["import return", "import", "uniq_token_11 return"],
                     lambda c, q, k: c.oracle.search_synonyms(
                         q, TOMB_SYN, k=k),
                     lambda c, q, k: c.eng.search_synonyms(
                         q, TOMB_SYN, k=k),
                     lambda c, qs, k: search_many_synonyms(
                         c.eng, qs, TOMB_SYN, k=k)),
        "phrase_slop0": (TOMB_PHRASE,
                         lambda c, q, k: c.poracle.search_phrase(q, k=k),
                         lambda c, q, k: c.peng.search_phrase(q, k=k),
                         lambda c, qs, k: search_many_phrase(
                             c.peng, qs, k=k)),
        "phrase_slop2": (TOMB_PHRASE,
                         lambda c, q, k: c.poracle.search_phrase(
                             q, k=k, slop=2),
                         lambda c, q, k: c.peng.search_phrase(
                             q, k=k, slop=2),
                         lambda c, qs, k: search_many_phrase(
                             c.peng, qs, k=k, slop=2)),
        "phrase_prefix": (["import d", "the imp", "def retur"],
                          lambda c, q, k: c.poracle.search_phrase_prefix(
                              q, k=k),
                          lambda c, q, k: c.peng.search_phrase_prefix(
                              q, k=k),
                          None),
        "most_fields": (TOMB_FIELDS,
                        lambda c, q, k: search_multifield(
                            c.foracle, q, TOMB_BOOSTS, k=k),
                        lambda c, q, k: c.meng.search(q, k=k),
                        None),
        "cross_fields": (TOMB_FIELDS,
                         lambda c, q, k: search_cross_fields(
                             c.foracle, q, TOMB_BOOSTS, k=k),
                         lambda c, q, k: c.meng.search_cross_fields(
                             q, k=k),
                         None),
    }


@pytest.fixture(scope="module")
def tombstoned(spark, built, built_positional, tmp_path_factory):
    """``delete_docs`` copies of the ``built`` and ``built_positional``
    indexes (plus per-field indexes of the same corpus) with victims
    taken from inside every family query's oracle top-k: the first
    hit and the middle hit of each."""
    import shutil
    from types import SimpleNamespace

    from auctus_spark.index.build import delete_docs
    from auctus_spark.oracle import OracleIndex as _OI
    from auctus_spark.query.bm25 import (MultiFieldEngine, PhraseEngine,
                                         build_field_indexes)
    out, oracle, _, corpus, _ = built
    pout, poracle, _ = built_positional
    base = tmp_path_factory.mktemp("tomb")
    pdf = corpus.toPandas()
    c = SimpleNamespace(oracle=oracle, poracle=poracle,
                        foracle=_OI.build_fields(
                            [(int(r.doc_id),
                              {"content": r.content, "path": r.path})
                             for r in pdf.itertuples(index=False)]))
    victims: set[int] = set()
    for queries, want, _, _ in _tomb_families().values():
        for q in queries:
            top = want(c, q, TOMB_K)
            if top:
                victims |= {top[0][0], top[len(top) // 2][0]}
    dirs = [str(base / "plain"), str(base / "positional")]
    shutil.copytree(out, dirs[0])
    shutil.copytree(pout, dirs[1])
    fdirs = build_field_indexes(spark, corpus, str(base / "fields"),
                                list(TOMB_BOOSTS), doc_bucket=256,
                                chunk_docs=200, term_buckets=8)
    for d in dirs + list(fdirs.values()):
        delete_docs(spark, d, sorted(victims))
    c.eng = SearchEngine(spark, dirs[0], term_buckets=8)
    c.peng = PhraseEngine(spark, dirs[1], term_buckets=8)
    c.meng = MultiFieldEngine(spark, fdirs, TOMB_BOOSTS, term_buckets=8)
    c.victims = victims
    return c


@pytest.mark.parametrize("family", [
    "and", "or_msm1", "or_msm2", "synonyms", "phrase_slop0",
    "phrase_slop2", "phrase_prefix", "most_fields", "cross_fields"])
def test_tombstones_mask_every_scored_family(spark, tombstoned, family):
    """On an index with deletes, every BM25-scored family — single
    query and batched — returns the oracle's top-(k + victims) with
    the victims removed, cut to k: bit-exact, so masking neither
    drops a live doc nor lets a tombstone through (several partials
    per term per bucket: doc_bucket=256, chunk_docs=200)."""
    c = tombstoned
    queries, oracle, single, batched = _tomb_families()[family]
    k, n_v = TOMB_K, len(c.victims)
    want = {q: [(d, s) for d, s in oracle(c, q, k + n_v)
                if d not in c.victims][:k] for q in queries}
    assert any(want.values()), family
    assert any(d in c.victims for q in queries
               for d, _ in oracle(c, q, k)), family
    for q in queries:
        got = [(int(r.doc_id), float(r.score))
               for r in single(c, q, k).collect()]
        _assert_rank_identical(got, want[q])
    if batched is None:
        return
    qids = {f"q{i}": q for i, q in enumerate(queries)}
    by_q: dict = {}
    for r in batched(c, qids, k).collect():
        by_q.setdefault(r.query_id, []).append(
            (int(r.doc_id), float(r.score)))
    for qid, q in qids.items():
        got = sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0]))
        _assert_rank_identical(got, want[q])


def _tomb_span_families():
    """family -> (cases, oracle(c, case, k), engine(c, case, k)) for
    the constant-score span family: every hit scores 1.0 and ranks in
    doc_id order."""
    def union(c, clauses, k):
        post = c.poracle.postings
        docs = set().union(*(post.get(t, {}) for t in clauses))
        return [(d, 1.0) for d in sorted(docs)][:k]

    return {
        "span_first": (
            [("import", 3), ("the", 5)],
            lambda c, a, k: c.poracle.search_span_first(*a, k=k),
            lambda c, a, k: c.peng.search_span_first(*a, k=k)),
        "span_near_ordered": (
            [(["import", "def"], 3), (["import", "def", "return"], 8)],
            lambda c, a, k: c.poracle.search_span_near(*a, True, k=k),
            lambda c, a, k: c.peng.search_span_near(*a, True, k=k)),
        "span_near_unordered": (
            [(["import", "def"], 3), (["the", "import", "def"], 5)],
            lambda c, a, k: c.poracle.search_span_near(*a, False, k=k),
            lambda c, a, k: c.peng.search_span_near(*a, False, k=k)),
        "intervals": (
            [([["import", "def"], "return"], 2, True),
             ([["the", "import"], ["def", "return"]], 3, False)],
            lambda c, a, k: c.poracle.search_intervals(*a, k=k),
            lambda c, a, k: c.peng.search_intervals(*a, k=k)),
        "span_not": (
            [("import", "def", 0, 3), ("import", "the", 1, 5)],
            lambda c, a, k: c.poracle.search_span_not(*a, k=k),
            lambda c, a, k: c.peng.search_span_not(*a, k=k)),
        "span_or": (
            [["import", "return"], ["def", "uniq_token_11"]],
            union,
            lambda c, a, k: c.peng.search_span_or(a, k=k)),
        "span_containing": (
            [(["import", "def"], "the", 4)],
            lambda c, a, k: [(d, 1.0) for d in
                             _containing_brute(c.poracle, *a)][:k],
            lambda c, a, k: c.peng.search_span_containing(*a, k=k)),
    }


@pytest.fixture(scope="module")
def tombstoned_spans(spark, tombstoned, tmp_path_factory):
    """A further ``delete_docs`` copy of ``tombstoned``'s positional
    index: its victims plus the first and middle hit of every span
    query's oracle top-k."""
    import shutil
    from types import SimpleNamespace

    from auctus_spark.index.build import delete_docs
    from auctus_spark.query.bm25 import PhraseEngine
    c = tombstoned
    victims = set(c.victims)
    for cases, want, _ in _tomb_span_families().values():
        for a in cases:
            top = want(c, a, TOMB_K)
            if top:
                victims |= {top[0][0], top[len(top) // 2][0]}
    d = str(tmp_path_factory.mktemp("tomb_span") / "positional")
    shutil.copytree(c.peng.paths.base, d)
    delete_docs(spark, d, sorted(victims - c.victims))
    return SimpleNamespace(poracle=c.poracle, victims=victims,
                           peng=PhraseEngine(spark, d, term_buckets=8))


@pytest.mark.parametrize("family", [
    "span_first", "span_near_ordered", "span_near_unordered",
    "intervals", "span_not", "span_or", "span_containing"])
def test_tombstones_mask_span_family(spark, tombstoned_spans, family):
    """On an index with deletes, every constant-score span query
    returns the oracle's top-(k + victims) with the victims removed,
    cut to k: bit-exact, with victims from inside each query's top-k
    (several partials per term per bucket)."""
    c = tombstoned_spans
    cases, oracle, engine = _tomb_span_families()[family]
    k, n_v = TOMB_K, len(c.victims)
    for a in cases:
        assert any(d in c.victims for d, _ in oracle(c, a, k)), a
        want = [(d, s) for d, s in oracle(c, a, k + n_v)
                if d not in c.victims][:k]
        assert want, a
        got = [(int(r.doc_id), float(r.score))
               for r in engine(c, a, k).collect()]
        _assert_rank_identical(got, want)


# ---- both shapes of the bucket job: one task with no shuffle (the
# default at this size), and a bucket exchange of 2+ partitions once
# one task's postings are set to 1 ----

AND_SYNONYMS = {"import": ["def"], "uniq_token_11": ["uniq_token_22"]}
# queries that may keep one task at one posting per task: their terms
# have 1 posting (a tail term) or none
FEW_POSTINGS = {"uniq_token_11", "no_such_token_anywhere"}


def _bucket_tasks(df) -> int:
    """Scoring tasks in ``df``'s plan: the bucket exchange's partition
    count, 1 for a scan coalesced into the scorer, 0 with no bucket
    job."""
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "FlatMapGroupsInPandas" not in plan:
        return 0
    n = re.findall(r"hashpartitioning\(bucket#\d+L?, (\d+)\)", plan)
    if n:
        return int(n[0])
    assert "Coalesce 1" in plan, plan
    return 1


def _per_query_rows(df) -> dict:
    got: dict = {}
    for r in df.collect():
        got.setdefault(r.query_id, []).append(
            (int(r.doc_id), float(r.score)))
    return {q: sorted(v, key=lambda t: (-t[1], t[0]))
            for q, v in got.items()}


def _path_cases(family, spark, built, built_positional, built_fields):
    """``[(label, DataFrame, oracle rows)]`` of one family: each
    DataFrame is a single query's (doc_id, score) top-50, or a batch
    whose oracle rows are ``{query_id: rows}``."""
    from auctus_spark.oracle import search_cross_fields, search_multifield
    from auctus_spark.query.bm25 import PhraseEngine, search_many
    out, oracle, _, _, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    if family == "and":
        return [(q, eng.search(q, k=50), oracle.search(q, k=50))
                for q in QUERY_SET]
    if family == "or":
        return [(q, eng.search_or(q, k=50), oracle.search_or(q, k=50))
                for q in OR_QUERIES]
    if family == "batch":
        qs = {f"q{i}": q for i, q in enumerate(QUERY_SET)}
        return [("batch", search_many(eng, qs, k=50),
                 {qid: oracle.search(q, k=50) for qid, q in qs.items()})]
    if family == "synonyms":
        return [(q, eng.search_synonyms(q, AND_SYNONYMS, k=50),
                 oracle.search_synonyms(q, AND_SYNONYMS, k=50))
                for q in ["import", "import return", "uniq_token_11",
                          "zz_missing import"]]
    if family == "phrase":
        pout, poracle, _ = built_positional
        peng = PhraseEngine(spark, pout, term_buckets=8)
        return [(q, peng.search_phrase(q, k=50),
                 poracle.search_phrase(q, k=50)) for q in PHRASE_QUERIES]
    feng, fi, boosts = built_fields
    return ([(q, feng.search(q, k=50),
              search_multifield(fi, q, boosts, k=50))
             for q in MULTIFIELD_QUERIES]
            + [("cross " + q, feng.search_cross_fields(q, k=50),
                search_cross_fields(fi, q, boosts, k=50))
               for q in MULTIFIELD_QUERIES])


@pytest.mark.parametrize("path", ["one_task", "fan_out"])
@pytest.mark.parametrize("family", ["and", "or", "batch", "synonyms",
                                    "phrase", "multifield"])
def test_bucket_job_paths_match_oracle(spark, built, built_positional,
                                       built_fields, monkeypatch,
                                       family, path):
    """Every family is rank-identical to the oracle in one scoring task
    and fanned out over the doc buckets.  At the default postings per
    task every query here scores in one task; at one posting per task
    each query whose terms have 2+ postings takes 2+ partitions (the
    index has 3 doc buckets)."""
    from auctus_spark.query import bm25
    if path == "fan_out":
        monkeypatch.setattr(bm25, "_TASK_POSTINGS", 1)
    tasks = []
    for label, df, want in _path_cases(family, spark, built,
                                       built_positional, built_fields):
        n = _bucket_tasks(df)
        tasks.append(n)
        if isinstance(want, dict):
            got = _per_query_rows(df)
            for qid, rows in want.items():
                assert got.get(qid, []) == rows, (label, qid)
        else:
            _assert_rank_identical(
                [(int(r.doc_id), float(r.score)) for r in df.collect()],
                want)
        if path == "one_task":
            assert n <= 1, (label, n)
        else:
            few = label.removeprefix("cross ") in FEW_POSTINGS
            assert n != 1 or few, (label, n)
    assert (max(tasks) >= 2) == (path == "fan_out"), tasks
