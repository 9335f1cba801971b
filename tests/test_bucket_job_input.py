"""The bucket job's input: the SQL-text segment scans, the stats-map
short cut for unindexed AND terms, the scan fallback, and the engine's
pyarrow read of the global stats."""

import shutil

import pytest
from pyspark.sql import functions as F

from auctus_spark.corpus import generate_corpus
from auctus_spark.index.build import (IndexBuilder, compact, delete_docs,
                                      read_doc_buckets)
from auctus_spark.oracle import OracleIndex
from auctus_spark.query.bm25 import SearchEngine, search_many

AND_QUERIES = ["import", "def return", "import def return the",
               "uniq_token_11", "import uniq_token_22",
               "no_such_token_anywhere", "import zz_missing", "the"]
OR_QUERIES = ["import", "def return", "import zz_missing",
              "uniq_token_11 uniq_token_22", "the import def return for",
              "zz_missing qq_missing"]
# strings the analyzer never emits: a quote, a backslash, a LIKE
# wildcard and a non-ASCII letter
ODD_TERMS = ["it's", "a\\b", "50%", "café"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bjidx"))
    pdf = generate_corpus(600, min_tokens=20, max_tokens=200,
                          vocab_size=2000)
    IndexBuilder(spark, out, doc_bucket=256, chunk_docs=200,
                 term_buckets=8).build(spark.createDataFrame(pdf))
    oracle = OracleIndex.build(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)])
    return out, oracle


def _assert_rank_identical(got, want):
    assert got == want, (got[:5], want[:5])


def _ranked(df):
    return [(int(r.doc_id), float(r.score)) for r in df.collect()]


def _per_query(df):
    got: dict = {}
    for r in df.collect():
        got.setdefault(r.query_id, []).append((int(r.doc_id),
                                               float(r.score)))
    return {q: sorted(v, key=lambda t: (-t[1], t[0]))
            for q, v in got.items()}


def _jobs(spark):
    """The last job id: it moves with every new job, where the count
    of jobs the tracker retains stops at its retention limit."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None),
               default=-1)


def test_scan_fallback_matches_oracle(spark, built):
    """With the driver stats map capped out, df rides the broadcast
    join with the term_stats scan: AND, OR and batched AND stay
    bit-exact with the oracle."""
    out, oracle = built
    eng = SearchEngine(spark, out, term_buckets=8)
    eng._stats_map_cache = False
    for q in AND_QUERIES:
        _assert_rank_identical(_ranked(eng.search_wand(q, k=50)),
                               oracle.search(q, k=50))
    for q in OR_QUERIES:
        _assert_rank_identical(_ranked(eng.search_or(q, k=50)),
                               oracle.search_or(q, k=50))
    queries = {f"q{i}": q for i, q in enumerate(AND_QUERIES)}
    got = _per_query(search_many(eng, queries, k=50))
    for qid, q in queries.items():
        _assert_rank_identical(got.get(qid, []), oracle.search(q, k=50))
    assert eng._stats_map_cache is False


@pytest.mark.parametrize("stats_map", [True, False])
def test_odd_terms_are_never_quoted(spark, built, stats_map):
    """Terms outside the analyzer alphabet cannot be indexed: they
    neither break the SQL text nor change a result."""
    out, oracle = built
    eng = SearchEngine(spark, out, term_buckets=8)
    if not stats_map:
        eng._stats_map_cache = False
    got = _ranked(eng.search_or_terms(["import"] + ODD_TERMS, k=50))
    _assert_rank_identical(got, oracle.search_or("import", k=50))
    got = _ranked(eng.search_or_terms(["import", "def"] + ODD_TERMS,
                                      k=50, min_should_match=2))
    _assert_rank_identical(got, oracle.search_or(
        "import def", k=50, min_should_match=2))
    assert _ranked(eng.search_or_terms(ODD_TERMS, k=50)) == []
    queries = {f"q{i}": f"import {t}" for i, t in enumerate(ODD_TERMS)}
    queries["plain"] = "def return"
    got = _per_query(search_many(eng, queries, k=50))
    for qid, q in queries.items():
        _assert_rank_identical(got.get(qid, []), oracle.search(q, k=50))


def test_unindexed_and_term_runs_no_job(spark, built):
    """With the stats map loaded, an AND query holding a term the index
    lacks is answered empty on the driver, single or batched."""
    out, oracle = built
    eng = SearchEngine(spark, out, term_buckets=8)
    assert eng._stats_map() is not None
    before = _jobs(spark)
    single = _ranked(eng.search_wand("import zz_missing", k=50))
    batch = search_many(eng, {"a": "import zz_missing",
                              "b": "qq_missing"}, k=50).collect()
    assert _jobs(spark) == before
    assert single == oracle.search("import zz_missing", k=50) == []
    assert batch == []
    assert oracle.search("qq_missing", k=50) == []
    # an OR query with no indexed term needs no job either
    assert _ranked(eng.search_or("zz_missing qq_missing", k=50)) == []
    assert _jobs(spark) == before


def test_synonym_slot_dfs_from_stats_map(spark, built):
    """With the driver stats map loaded, a synonym query's slot dfs
    (max of the members' df) ride in as a literal map: the query runs
    one Spark job, and its ranking equals the oracle's and that of
    the scan path, whose slot dfs are an aggregate on the broadcast
    side."""
    out, oracle = built
    eng = SearchEngine(spark, out, term_buckets=8)
    assert eng._stats_map() is not None
    syn = {"import": ["the", "zz_missing"], "def": ["return"]}
    cases = ["import def", "uniq_token_11 import", "zz_missing def",
             "qq_missing"]
    for q in cases:
        before = _jobs(spark)
        got = _ranked(eng.search_synonyms(q, syn, k=50))
        assert _jobs(spark) - before <= 1, q
        _assert_rank_identical(got, oracle.search_synonyms(q, syn, k=50))
    before = _jobs(spark)
    assert _ranked(eng.search_synonyms("import def", syn, k=50))
    assert _jobs(spark) - before == 1
    eng._stats_map_cache = False
    for q in cases:
        _assert_rank_identical(_ranked(eng.search_synonyms(q, syn, k=50)),
                               oracle.search_synonyms(q, syn, k=50))


def test_empty_results_run_no_job(spark, built, tmp_path):
    """explain, term_vectors, suggest_terms, suggest_phrases and every
    ranking of the index-free pipeline answer an input with nothing to
    look up with an empty frame of their own schema, and collecting
    that frame runs no Spark job."""
    from auctus_spark import pipeline as P
    from auctus_spark.query.querystring import query_string_topk
    out, _ = built
    d = str(tmp_path / "idx")
    shutil.copytree(out, d)
    delete_docs(spark, d, [5])
    eng = SearchEngine(spark, d, term_buckets=8)
    docs = spark.createDataFrame(generate_corpus(
        20, min_tokens=5, max_tokens=20, vocab_size=50))
    hits = "doc_id long, score double"
    facets = "lang string, doc_count long"
    kw = {"text_col": "content"}
    pipeline_cases = {
        "bm25_topk": (lambda: P.bm25_topk(docs, "", **kw), hits),
        "bm25_or_topk": (lambda: P.bm25_or_topk(docs, "", **kw), hits),
        "rescore_topk": (lambda: P.rescore_topk(docs, "import", "", **kw),
                         hits),
        "dis_max_topk": (lambda: P.dis_max_topk(docs, ["", ""], **kw),
                         hits),
        "boosting_topk": (lambda: P.boosting_topk(docs, "", "import",
                                                  **kw), hits),
        "function_score_decay": (lambda: P.function_score_decay(
            docs, "", "doc_id", 0.0, 10.0, **kw), hits),
        "field_value_factor_topk": (lambda: P.field_value_factor_topk(
            docs, "", "doc_id", **kw), hits),
        "collapse_topk": (lambda: P.collapse_topk(docs, "", "lang", **kw),
                          "doc_id long, lang string, score double"),
        "search_after_topk": (lambda: P.search_after_topk(
            docs, "", 1.0, 0, **kw), hits),
        "highlight": (lambda: P.highlight(docs, "", **kw),
                      "doc_id long, score double, highlighted string"),
        "highlight_fragments": (lambda: P.highlight_fragments(
            docs, "", **kw), "doc_id long, score double, fragment_ix "
            "long, fragment_score double, fragment string"),
        "bm25_multifield_topk": (lambda: P.bm25_multifield_topk(
            docs, "", {"content": 1.0, "path": 3.0}), hits),
        "bm25_crossfields_topk": (lambda: P.bm25_crossfields_topk(
            docs, "", {"content": 1.0, "path": 3.0}), hits),
        "bm25_topk_synonyms": (lambda: P.bm25_topk_synonyms(
            docs, "", {"import": ["def"]}, **kw), hits),
        "random_score_topk": (lambda: P.random_score_topk(docs, "", **kw),
                              hits),
        "match_bool_prefix_topk": (lambda: P.match_bool_prefix_topk(
            docs, "", **kw), hits),
        "sampler_facet": (lambda: P.sampler_facet(docs, "", "lang", **kw),
                          facets),
        "diversified_sampler_facet": (
            lambda: P.diversified_sampler_facet(docs, "", "lang", "repo",
                                                **kw), facets),
        "combined_fields_topk": (lambda: P.combined_fields_topk(
            docs, "", {"content": 1.0}), hits),
        "terms_set_topk": (lambda: P.terms_set_topk(
            docs, [], F.lit(1), **kw), hits),
        "collapse_inner_hits_topk": (lambda: P.collapse_inner_hits_topk(
            docs, "", "lang", **kw),
            "lang string, doc_id long, score double, inner_rank int"),
        "query_string_topk": (lambda: query_string_topk(docs, "", **kw),
                              hits),
    }
    explain = ("doc_id long, score double, term string, tf long, "
               "dl long, df long, idf double, tf_norm double, "
               "contribution double")
    vectors = "doc_id long, term string, tf long, df long"
    cases = {
        "explain, no term": (lambda: eng.explain(""), explain),
        "explain, unindexed term": (
            lambda: eng.explain("import zz_missing"), explain),
        "term_vectors, no id": (lambda: eng.term_vectors([]), vectors),
        "term_vectors, deleted id": (lambda: eng.term_vectors([5]),
                                     vectors),
        "suggest_terms": (lambda: eng.suggest_terms(""),
                          "token string, suggestion string, dist int, "
                          "df long, rank int"),
        "suggest_phrases": (lambda: eng.suggest_phrases(""),
                            "phrase string, score double"),
    }
    for name, (make, ddl) in {**cases, **pipeline_cases}.items():
        want = [(f.name, f.dataType)
                for f in spark.createDataFrame([], ddl).schema]
        df = make()
        assert [(f.name, f.dataType) for f in df.schema] == want, name
        before = _jobs(spark)
        assert df.collect() == [], name
        assert _jobs(spark) == before, name


def test_more_like_this_plan_runs_no_job(spark, built):
    """With the driver stats map loaded, more_like_this reads its
    terms' df from the map: building its plan runs no Spark job."""
    out, _ = built
    eng = SearchEngine(spark, out, term_buckets=8)
    assert eng._stats_map() is not None
    before = _jobs(spark)
    df = eng.more_like_this("import def return the uniq_token_11", k=10)
    assert _jobs(spark) == before
    assert df.collect()


def test_engine_open_runs_no_job(spark, built):
    """Opening an engine on an index without tombstones runs no Spark
    job: its segments and term_stats reads carry their schemas, so
    neither infers one."""
    import os
    out, _ = built
    assert not os.path.exists(f"{out}/tombstones")
    before = _jobs(spark)
    SearchEngine(spark, out, term_buckets=8)
    assert _jobs(spark) == before


def _spark_stats(spark, index_dir):
    row = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    return (int(row["n_docs"]), float(row["avgdl"]),
            int(row["total_tokens"]))


def _engine_stats(spark, index_dir):
    eng = SearchEngine(spark, index_dir, term_buckets=8)
    return eng.n_docs, eng.avgdl, eng.total_tokens


def test_stats_read_matches_spark(spark, built, tmp_path):
    """The engine's pyarrow read of the one-row stats table equals the
    Spark read on a built, an appended and a compacted index."""
    from auctus_spark.streaming.incremental import incremental_update
    out, _ = built
    d = str(tmp_path / "idx")
    shutil.copytree(out, d)
    assert _engine_stats(spark, d) == _spark_stats(spark, d)
    b = IndexBuilder(spark, d, doc_bucket=256, chunk_docs=200,
                     term_buckets=8)
    extra = generate_corpus(200, seed=3, min_tokens=20, max_tokens=200,
                            vocab_size=2000)
    extra["doc_id"] += 600
    incremental_update(b, spark.createDataFrame(extra))
    appended = _spark_stats(spark, d)
    assert appended[0] == 800
    assert _engine_stats(spark, d) == appended
    delete_docs(spark, d, [3, 250, 700])
    compact(spark, d, term_buckets=8)
    compacted = _spark_stats(spark, d)
    assert compacted[0] == 797
    assert _engine_stats(spark, d) == compacted


def test_doc_bucket_count_from_lineage(spark, built, tmp_path):
    """Doc buckets 0-2 of 600 docs at 256 per bucket, from the manifest
    records of three 200-doc chunks whose ranges share buckets; a chunk
    tokenized (its lineage row written) but never committed to the
    manifest is not counted."""
    out, _ = built
    assert read_doc_buckets(out) == 3
    d = str(tmp_path / "old")
    shutil.copytree(out, d)
    extra = generate_corpus(200, seed=5, min_tokens=20, max_tokens=60,
                            vocab_size=500)
    extra["doc_id"] += 1000
    assert IndexBuilder(spark, d, doc_bucket=256, chunk_docs=200,
                        term_buckets=8).tokenize_chunks(
                            spark.createDataFrame(extra)) == [5]
    assert read_doc_buckets(d) == 3
    with open(f"{d}/_ANALYZER", "w") as f:
        f.write('{"stem": false, "positions": false}')
    assert read_doc_buckets(d) is None
