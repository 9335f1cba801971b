"""Physical-plan assertions: the optimizations we design for must
actually appear in the executed plans (pushdown, partition pruning,
broadcast joins, TakeOrdered top-k, whole-stage codegen)."""

import re

import pytest
from pyspark.sql import functions as F

from auctus_spark.corpus import generate_corpus
from auctus_spark.index.build import IndexBuilder
from auctus_spark.query import bm25
from auctus_spark.query.bm25 import PhraseEngine, SearchEngine


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pidx"))
    pdf = generate_corpus(400, min_tokens=20, max_tokens=100,
                          vocab_size=800)
    IndexBuilder(spark, out, doc_bucket=128, chunk_docs=1 << 20,
                 term_buckets=8).build(spark.createDataFrame(pdf))
    return SearchEngine(spark, out, term_buckets=8)


def test_segment_scan_prunes(engine):
    """Query-term scan must push the term filter to parquet and prune
    term_bucket partitions."""
    plan = _plan(engine._segments_for(["import", "def"]))
    assert "PartitionFilters" in plan
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:200]
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "In(term" in pushed or "term" in pushed


def test_wand_plan_shape(engine):
    """WAND: df folded in as a literal-map projection (no join at
    all when the driver stats map fits), and a small query is one
    task: the scan is coalesced into the scorer, with no exchange
    before the TakeOrdered merge."""
    plan = _plan(engine.search_wand("import def"))
    assert "Join" not in plan          # df is a literal projection now
    assert "keys: [import, def]" in plan or "map_from" in plan \
        or "keys:" in plan             # the literal df map
    assert "TakeOrderedAndProject" in plan
    assert "Coalesce 1" in plan
    assert "Exchange" not in plan


def test_wand_plan_shape_scan_fallback(engine):
    """At real scale the stats map is byte-capped out and the df
    column rides a broadcast join with the pruned term_stats scan —
    the pre-round-8 single-job shape, still available."""
    engine._stats_map_cache = False
    try:
        plan = _plan(engine.search_wand("import def"))
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan
        assert plan.count("Exchange hashpartitioning") == 1
    finally:
        engine._stats_map_cache = None


def _bucket_exchange(plan: str) -> set[int]:
    """Partition counts of the plan's hash exchanges on ``bucket``."""
    return {int(n) for n in
            re.findall(r"hashpartitioning\(bucket#\d+L?, (\d+)\)", plan)}


def _postings(eng, query: str) -> int:
    m = eng._stats_map()
    return sum(m[t] for t in set(query.split()))


def test_small_query_has_no_bucket_exchange(engine):
    """The fixture's queries are far below one task's postings, so
    the AND, OR, synonym and batch jobs each score in one task: no
    bucket exchange."""
    assert _postings(engine, "import def the") < bm25._TASK_POSTINGS
    for df in [engine.search_wand("import def"),
               engine.search_or("import def"),
               engine.search_synonyms("import def", {"import": ["the"]}),
               bm25.search_many(engine, {"a": "import def",
                                         "b": "def the"})]:
        plan = _plan(df)
        assert _bucket_exchange(plan) == set(), plan
        assert "Coalesce 1" in plan, plan


def test_bucket_exchange_sized_from_postings(engine, monkeypatch):
    """A query over ``postings`` postings scores in
    min(defaultParallelism, doc buckets, ceil(postings / P)) tasks:
    400 docs at 128 per doc bucket are 4 buckets."""
    cap = min(engine.spark.sparkContext.defaultParallelism, 4)
    assert engine._bucket_cap == cap
    n = _postings(engine, "import def")
    wants = set()
    for p in [n, -(-n // 2), -(-n // 3), 1]:
        monkeypatch.setattr(bm25, "_TASK_POSTINGS", p)
        want = min(cap, -(-n // p))
        wants.add(want)
        got = _bucket_exchange(_plan(engine.search_wand("import def")))
        assert got == (set() if want == 1 else {want}), (p, got)
        got = _bucket_exchange(_plan(engine.search_or("import def")))
        assert got == (set() if want == 1 else {want}), (p, got)
    assert wants == set(range(1, cap + 1))


def test_bucket_exchange_capped_at_parallelism(spark, tmp_path,
                                               monkeypatch):
    """An index with more doc buckets than the default parallelism
    runs at most one scoring task per core: for a query over many
    postings, and for any query once the stats map is capped out (df
    is then known only inside Spark)."""
    from auctus_spark.index.build import read_doc_buckets
    cap = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "many")
    pdf = generate_corpus(400, min_tokens=5, max_tokens=20,
                          vocab_size=200)
    IndexBuilder(spark, out, doc_bucket=max(1, 400 // (2 * cap)),
                 chunk_docs=1 << 20, term_buckets=4).build(
                     spark.createDataFrame(pdf))
    assert read_doc_buckets(out) > cap
    eng = SearchEngine(spark, out, term_buckets=4)
    assert _bucket_exchange(_plan(eng.search_wand("import def"))) \
        == set()
    eng._stats_map_cache = False
    assert _bucket_exchange(_plan(eng.search_wand("import def"))) \
        == {cap}
    eng._stats_map_cache = None
    monkeypatch.setattr(bm25, "_TASK_POSTINGS", 1)
    assert _bucket_exchange(_plan(eng.search_wand("import def"))) \
        == {cap}


def test_bucket_exchange_without_doc_bucket_record(spark, engine,
                                                   tmp_path, monkeypatch):
    """An index that does not record its doc bucket is capped at the
    default parallelism alone."""
    import json
    import shutil
    d = str(tmp_path / "old")
    shutil.copytree(engine.paths.base, d)
    with open(f"{d}/_ANALYZER") as f:
        az = json.load(f)
    del az["doc_bucket"]
    with open(f"{d}/_ANALYZER", "w") as f:
        json.dump(az, f)
    eng = SearchEngine(spark, d, term_buckets=8)
    cap = spark.sparkContext.defaultParallelism
    assert eng._bucket_cap == cap
    monkeypatch.setattr(bm25, "_TASK_POSTINGS", 1)
    assert _bucket_exchange(_plan(eng.search_wand("import def"))) \
        == {cap}


def test_wand_plan_py4j_calls(engine):
    """Building search_wand's plan costs few py4j round trips: the
    input is one SQL text, not one call per column, literal and list
    element.  Building it column by column took 333; the bound is a
    third of that."""
    import threading
    client = engine.spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return send(command, *args, **kwargs)

    engine.search_wand("return the")  # warm the JVM-side lookups
    client.send_command = counting
    try:
        engine.search_wand("import def self")
    finally:
        client.send_command = send
    assert 0 < len(sent) <= 333 // 3, len(sent)


def test_synonyms_idx_plan_shape(engine):
    """Segment-path synonyms: with the driver stats map the slot dfs
    are a literal map projection — no join and no exchange at all (a
    small query scores in one task), TakeOrdered merge, and the
    segment scan still partition-prunes.  With the map capped out the
    global slot-df aggregate rides the BROADCAST side of the one
    scoring job."""
    query = ("import def", {"import": ["the"]})
    plan = _plan(engine.search_synonyms(*query))
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert "PartitionFilters" in plan
    assert "Coalesce 1" in plan, plan
    engine._stats_map_cache = False
    try:
        plan = _plan(engine.search_synonyms(*query))
    finally:
        engine._stats_map_cache = None
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PartitionFilters" in plan


def test_crossfields_fused_plan(spark, sf_dir):
    """cross_fields DataFrame path keeps the fused shape: candidate
    predicate at the scan, no exchange, TakeOrderedAndProject."""
    from auctus_spark import pipeline
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .withColumn("title", F.substring("text", 1, 48))
    df = pipeline.bm25_crossfields_topk(
        docs, "table value", {"text": 1.0, "title": 3.0}, k=50)
    phys = _plan(df)
    assert "Exchange" not in phys
    assert "TakeOrderedAndProject" in phys


def test_parquet_pushdown_tpch(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = (li.filter(F.col("l_shipdate") <= "1998-09-02")
         .select("l_returnflag").groupBy("l_returnflag").count())
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:300]
    # column pruning: content-bearing columns not read
    assert "ReadSchema" in plan
    rs = plan.split("ReadSchema", 1)[1][:200]
    assert "l_extendedprice" not in rs


def test_codegen_present(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    q.collect()  # AQE: codegen spans only visible in the FINAL plan
    plan = _plan(q)
    # AQE final plans mark codegen stages with the `*(n)` prefix
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_broadcast_small_dim(spark, sf_dir):
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_pipeline_bm25_fused_plan(spark, sf_dir):
    """Index-free BM25 is exactly: scan-side candidate predicate +
    one tokenize projection + TakeOrderedAndProject.  No exchange, no
    per-term re-tokenization (the round-1 plan tokenized the corpus 3x
    and shuffled twice)."""
    from auctus_spark import pipeline
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = pipeline.bm25_topk(docs, "data join merge", k=50)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("translate") == 2, opt  # scan predicate + projection
    phys = _plan(df)
    assert "Exchange" not in phys
    assert "TakeOrderedAndProject" in phys


def test_facet_counts_no_shuffle_but_agg(spark, sf_dir):
    """Facets = one scan + partial aggregate (no explode/semi-join)."""
    from auctus_spark import pipeline
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = pipeline.facet_counts(docs, "join merge", "lang")
    phys = _plan(df)
    assert phys.count("Exchange") <= 1      # one agg exchange only
    assert "Join" not in phys


def test_script_score_join_broadcasts(spark, sf_dir):
    """script_score_join must broadcast the query rows (the painless
    params side) — candidates never shuffle; a sort-merge join or
    cartesian product here would be the 100TB killer."""
    from auctus_spark.operators.joins import script_score_join
    cand = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("cand_id"),
        (F.col("c_custkey") % 500).cast("double").alias("gte"),
        ((F.col("c_custkey") % 500) + 10).cast("double").alias("lte"))
    q = spark.createDataFrame([(0.0, 100.0), (200.0, 260.0)],
                              "q_gte double, q_lte double")
    match = ((F.col("q_gte") <= F.col("lte"))
             & (F.col("q_lte") >= F.col("gte")))
    script = F.least("lte", "q_lte") - F.greatest("gte", "q_gte")
    df = script_score_join(cand, q, match, script, "sum")
    phys = _plan(df)
    assert "Broadcast" in phys, phys
    assert "SortMergeJoin" not in phys
    assert "CartesianProduct" not in phys


def test_ann_partitioned_search_single_scan(spark, tmp_path):
    """search_partitioned compiles to ONE pruned parquet scan +
    TakeOrdered — no shuffle at all (the probed-buckets filter is a
    partition filter, cosine math is scan-side)."""
    import numpy as np

    from auctus_spark.operators.similarity import HyperplaneLSH
    rng = np.random.Generator(np.random.PCG64(5))
    rows = [(i, rng.normal(size=16).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lsh = HyperplaneLSH(dim=16, n_planes=8)
    path = str(tmp_path / "annp")
    lsh.partition_table(emb, path)
    df = lsh.search_partitioned(spark, path, rows[0][1], k=5)
    phys = _plan(df)
    assert "Exchange" not in phys, phys
    assert "TakeOrderedAndProject" in phys


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark (eval-set) side must ride a broadcast hash join —
    the corpus side streams through with no shuffle of its spans."""
    from auctus_spark.operators.dedup import decontaminate
    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(20)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma delta")], "doc_id long, text string")
    plan = _plan(decontaminate(corpus, bench, n=4))
    assert "BroadcastHashJoin" in plan
    # corpus side must not hit a sort-merge join (that would shuffle
    # every corpus span on the join key)
    assert "SortMergeJoin" not in plan


def test_duplicate_spans_single_exchange_chain(spark):
    """duplicate_spans: occurrences aggregate on the 64-bit span key,
    join back, roll up by doc — no span STRINGS in any Exchange (the
    hash is projected before the shuffle)."""
    from auctus_spark.operators.dedup import duplicate_spans
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)],
        "doc_id long, text string")
    plan = _plan(duplicate_spans(df, n=5))
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "span" not in m.group(1), m.group(0)


def test_significant_terms_single_scan(spark):
    """significant_terms computes fg and bg doc frequencies in ONE
    conditional aggregation — the documents relation is scanned once,
    and the corpus totals join is a broadcast."""
    from auctus_spark.operators.profiling import significant_terms
    df = spark.createDataFrame(
        [(i, "alpha beta gamma", "fg" if i % 2 else "bg")
         for i in range(10)],
        "doc_id long, text string, grp string")
    d = significant_terms(df, F.col("grp") == "fg", k=5, min_doc_count=1)
    plan = _plan(d)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the in-memory relation appears once per scan; localtable scans
    # show up as LocalTableScan in local mode
    assert plan.count("LocalTableScan") <= 2  # df + (maybe) totals reuse


def _term_files(index_dir):
    """{term_bucket file: [(row-group min term, max term)]} and the
    files' term columns, of an index's term_stats table."""
    import glob
    import os

    import pyarrow.parquet as pq

    ranges, terms = {}, {}
    for f in sorted(glob.glob(os.path.join(
            index_dir, "term_stats", "term_bucket=*", "*.parquet"))):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        col = {md.schema.column(i).name: i
               for i in range(md.num_columns)}["term"]
        ranges[f] = [(md.row_group(g).column(col).statistics.min,
                      md.row_group(g).column(col).statistics.max)
                     for g in range(md.num_row_groups)]
        terms[f] = pf.read(columns=["term"]).column("term").to_pylist()
    return ranges, terms


def test_term_stats_is_the_sorted_dictionary(spark, engine,
                                             tmp_path_factory):
    """term_stats is the term dictionary: (a) every file of the fixture
    index is sorted by term, so (b) the ``startswith`` cut pushed into
    ``term_dict``'s scan (StringStartsWith in PushedFilters) can skip
    row groups by their [min, max] term statistics, and (c) on an
    index whose files hold several row groups (Hadoop
    ``parquet.block.size`` lowered for this build only) a prefix cut
    meets a strict, non-empty subset of each term_bucket file's row
    groups."""
    import os

    _, terms = _term_files(engine.paths.base)
    assert terms and all(t == sorted(t) for t in terms.values())
    assert not os.path.exists(os.path.join(engine.paths.base,
                                           "term_dict"))

    pref = "uniq_token_1"
    plan = _plan(engine.term_dict.filter(
        F.col("term").startswith(pref)).select("term"))
    assert "PushedFilters" in plan
    assert "StringStartsWith(term" in plan.split("PushedFilters", 1)[1][:300]

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    keys = ("parquet.block.size", "parquet.block.size.row.check.min",
            "parquet.block.size.row.check.max")
    old = {k: conf.get(k) for k in keys}
    out = str(tmp_path_factory.mktemp("rgidx"))
    try:
        for k, v in zip(keys, ("1024", "16", "16")):
            conf.set(k, v)
        pdf = generate_corpus(600, min_tokens=20, max_tokens=60,
                              vocab_size=800)
        IndexBuilder(spark, out, doc_bucket=256, chunk_docs=1 << 20,
                     term_buckets=2).build(spark.createDataFrame(pdf))
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    ranges, terms = _term_files(out)
    assert len(ranges) == 2
    for f, rgs in ranges.items():
        assert terms[f] == sorted(terms[f]), f
        assert len(rgs) > 1, (f, len(rgs))
        hit = [r for r in rgs if r[0][:len(pref)] <= pref <= r[1]]
        assert 0 < len(hit) < len(rgs), (f, hit, rgs)
    eng = SearchEngine(spark, out, term_buckets=2)
    want = sorted(t for ts in terms.values() for t in ts
                  if t.startswith(pref))
    got = sorted(r["term"] for r in eng.term_dict.filter(
        F.col("term").startswith(pref)).collect())
    assert got == want and want


def test_term_vectors_df_from_stats_map(engine):
    """With the driver stats map loaded, term_vectors takes df from it:
    its plan scans no term_stats file, and its rows equal those of the
    term_stats scan path and the df of the whole table."""
    assert engine._stats_map() is not None
    ids = [0, 3, 7, 399]
    vecs = engine.term_vectors(ids)
    plan = _plan(vecs)
    assert "term_stats" not in plan and "FileScan" not in plan
    got = sorted(tuple(r) for r in vecs.collect())
    table = {r["term"]: r["df"] for r in engine._ts_df.collect()}
    assert got and all(df == table[t] for _, t, _, df in got)
    engine._stats_map_cache = False
    try:
        assert sorted(tuple(r) for r in
                      engine.term_vectors(ids).collect()) == got
    finally:
        engine._stats_map_cache = None


def test_prefix_paths_agree(engine):
    """Dictionary-resolved prefix/wildcard/regexp results are
    identical to the full-scan predicate path (the >_MAX_TERM_ISIN
    fallback), including scores and order."""
    want = [(int(r.doc_id), float(r.score)) for r in
            engine._constant_score_terms(
                F.col("term").startswith("uniq_token_1"),
                50, 1.0).collect()]
    got = [(int(r.doc_id), float(r.score)) for r in
           engine.search_prefix("uniq_token_1", k=50).collect()]
    assert got == want and got
    wild = [(int(r.doc_id), float(r.score)) for r in
            engine.search_wildcard("uniq*_110", k=50).collect()]
    wild_full = [(int(r.doc_id), float(r.score)) for r in
                 engine._constant_score_terms(
                     F.col("term").rlike("^uniq.*_110$"), 50,
                     1.0).collect()]
    assert wild == wild_full and wild
    rex = [(int(r.doc_id), float(r.score)) for r in
           engine.search_regexp("uniq_token_2[0-3]", k=50).collect()]
    rex_full = [(int(r.doc_id), float(r.score)) for r in
                engine._constant_score_terms(
                    F.col("term").rlike("^(?:uniq_token_2[0-3])$"),
                    50, 1.0).collect()]
    assert rex == rex_full and rex


def test_rescore_broadcasts_window(spark, sf_dir):
    """rescore: the top-window joins back to the corpus as a
    BROADCAST hash join (never a shuffle join), and the final re-rank
    is a TakeOrderedAndProject over <= window_size rows."""
    from auctus_spark import pipeline
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = pipeline.rescore_topk(docs, "data join", "table value",
                               window_size=30, k=10)
    phys = _plan(df)
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys
    assert "TakeOrderedAndProject" in phys


def test_top_hits_single_shuffle_window(spark, sf_dir):
    """top_hits: exactly ONE exchange (the group-key shuffle feeding
    the partition-local window sort) below the presentation sort."""
    from auctus_spark.operators.profiling import top_hits_agg
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = top_hits_agg(orders, "o_orderpriority", "o_totalprice",
                      size=3, tiebreak_col="o_orderkey")
    phys = _plan(df)
    assert "RunningWindowFunction" in phys or "Window" in phys
    # one hash-partitioning exchange for the window; the final
    # orderBy adds a range exchange — nothing else shuffles
    assert phys.count("Exchange hashpartitioning") == 1


def test_histogram_agg_partial_agg_plan(spark, sf_dir):
    """histogram_agg: scan -> partial HashAggregate -> exchange ->
    final HashAggregate (map-side combine present)."""
    from auctus_spark.operators.profiling import histogram_agg
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = histogram_agg(orders, "o_totalprice", 25000.0)
    phys = _plan(df)
    assert phys.count("HashAggregate") >= 2   # partial + final


def test_completion_suggest_range_scan(engine):
    """Completion suggester reads the term-sorted term_stats table
    (``term_dict``) with the prefix pushed to the parquet scan
    (StringStartsWith), so row groups outside the prefix are skipped —
    not a full-dictionary pass."""
    df = engine.suggest_completions("im", size=5)
    plan = _plan(df)
    assert "StartsWith" in plan or "term" in plan.split(
        "PushedFilters", 1)[1][:200]
    assert "TakeOrderedAndProject" in plan


def test_query_string_two_scan_zero_shuffle_plan(spark, sf_dir):
    """query_string compiles to the pipeline contract: ONE scoring
    scan, no exchange, TakeOrderedAndProject (the stats pass is its
    own 1-scan aggregate job)."""
    from auctus_spark.query.querystring import query_string_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = query_string_topk(
        docs, '(join AND data) OR "hash join"^2 -lang:de')
    phys = _plan(df)
    assert "Exchange" not in phys
    assert "TakeOrderedAndProject" in phys
    assert phys.count("Scan parquet") == 1


@pytest.fixture(scope="module")
def phrase_engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("posidx"))
    pdf = generate_corpus(400, min_tokens=20, max_tokens=100,
                          vocab_size=800)
    IndexBuilder(spark, out, doc_bucket=128, chunk_docs=1 << 20,
                 term_buckets=8, positions=True
                 ).build(spark.createDataFrame(pdf))
    return PhraseEngine(spark, out, term_buckets=8)


def test_span_family_plan_shape(phrase_engine):
    """A span query is one bucket-parallel job over the positional
    segments and a TakeOrdered merge: at the fixture's size one task,
    with no exchange at all."""
    eng = phrase_engine
    for df in [eng.search_span_near(["import", "def"], slop=3),
               eng.search_intervals([["import", "the"], "def"],
                                    max_gaps=2),
               eng.search_span_not("import", "def", post=2)]:
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
