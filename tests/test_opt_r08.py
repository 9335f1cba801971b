"""Round-8 optimization regression tests.

Each test pins an equivalence or behavior that a round-8 optimization
relies on:

- ``spark_token_runs`` == historical split+filter tokenizer (the regex
  rewrite that removed per-row Pattern.compile).
- ``fan_out_small_scan`` parallelizes small single-file scans without
  changing rows, and its nondeterministic fence keeps downstream
  filters above the exchange.
- ``finalize_term_stats_from_partials`` == segment-based finalize
  (the build-stage overlap depends on the merge being row-preserving).
- ``SearchEngine._stats_map`` returns the same df values as the
  partition-pruned scan path.
- ``random_sampler_agg`` survives ids beyond the old int64-overflow
  bound and is unchanged below it.
- ``terms_agg_sharded`` no longer dies on empty input.
"""

import pytest
from pyspark.sql import functions as F

from auctus_spark.analysis import SPLIT_PATTERN, spark_token_runs


NASTY = [
    "",
    "   ",
    "hello world",
    "--lead trail--",
    "under_score 123 mix3d",
    "tab\tsep\nnewline",
    "punct!@#$%^&*()mess",
    "Ünïcödé straße kelvinKK",
    "a",
    "_",
    "...",
    "x" * 500,
    ("tok " * 100).strip(),
]


def test_token_runs_equals_split_filter(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(NASTY)],
                               "i long, t string")
    old = F.filter(F.split(F.lower("t"), SPLIT_PATTERN),
                   lambda x: x != "")
    new = spark_token_runs(F.lower("t"))
    bad = df.select(old.alias("a"), new.alias("b")) \
        .filter(F.col("a") != F.col("b")).count()
    assert bad == 0


def test_fan_out_preserves_rows_and_parallelizes(spark, sf_dir):
    import __spark_entry__ as entry
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fanned = entry.fan_out_small_scan(raw)
    # same rows
    assert fanned.count() == raw.count()
    assert fanned.select(F.sum("doc_id")).collect()[0][0] == \
        raw.select(F.sum("doc_id")).collect()[0][0]
    # small single-file input -> repartitioned to the session's cores
    cores = spark.sparkContext.defaultParallelism
    assert fanned.rdd.getNumPartitions() == cores


def test_fan_out_fence_keeps_filter_above_exchange(spark, sf_dir):
    """Without the nondeterministic fence, Catalyst pushes the
    tokenize filter below the round-robin exchange onto the
    single-task scan — the exact pathology the fan-out exists to fix."""
    import __spark_entry__ as entry
    fanned = entry.fan_out_small_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    cond = F.size(spark_token_runs(F.lower("text"))) > 3
    plan = fanned.filter(cond)._jdf.queryExecution() \
        .executedPlan().toString()
    # the plan must contain the exchange, and the tokenize filter must
    # NOT be in the scan-side (below-exchange) section
    assert "Exchange" in plan
    below = plan.split("Exchange", 1)[1]  # text after first Exchange
    # executedPlan prints top-down: scan side appears AFTER the
    # exchange line; the tokenize filter (regexp_extract_all) must be
    # above it (i.e. before "Exchange" in the printed tree)
    above = plan.split("Exchange", 1)[0]
    assert "regexp_extract_all" in above
    assert "regexp_extract_all" not in below


def test_term_stats_from_partials_matches_segments(spark, tmp_path):
    from auctus_spark.corpus import generate_corpus
    from auctus_spark.index.build import IndexBuilder
    out = str(tmp_path / "idx")
    pdf = generate_corpus(300, min_tokens=20, max_tokens=80,
                          vocab_size=500)
    b = IndexBuilder(spark, out, doc_bucket=64, chunk_docs=1 << 20,
                     term_buckets=8)
    b.build(spark.createDataFrame(pdf))  # uses the partials variant
    from_partials = spark.read.parquet(b.paths.term_stats) \
        .orderBy("term").collect()
    # recompute the old way (from segments) and compare
    b.finalize_term_stats()
    from_segments = spark.read.parquet(b.paths.term_stats) \
        .orderBy("term").collect()
    assert [tuple(r) for r in from_partials] == \
        [tuple(r) for r in from_segments]


def test_stats_map_matches_scan(spark, tmp_path):
    from auctus_spark.corpus import generate_corpus
    from auctus_spark.index.build import IndexBuilder
    from auctus_spark.query.bm25 import SearchEngine
    out = str(tmp_path / "idx")
    pdf = generate_corpus(200, min_tokens=20, max_tokens=60,
                          vocab_size=400)
    IndexBuilder(spark, out, doc_bucket=64, chunk_docs=1 << 20,
                 term_buckets=8).build(spark.createDataFrame(pdf))
    eng = SearchEngine(spark, out, term_buckets=8)
    terms = ["import", "def", "return", "zzz_missing"]
    via_map = eng.term_stats(terms)
    assert eng._stats_map() is not None  # cap not hit at test scale
    # scan path (bypass the map)
    eng._stats_map_cache = False
    via_scan = eng.term_stats(terms)
    assert via_map == via_scan
    # and the broadcast-side frame carries the same rows
    eng._stats_map_cache = None
    rows = {(r["term"], r["df"])
            for r in eng._ts_for(["import", "def"]).collect()}
    assert rows == {(t, via_scan[t]) for t in ("import", "def")}


def test_random_sampler_agg_big_ids(spark):
    from auctus_spark.operators.profiling import random_sampler_agg
    big = 1 << 33  # above the old overflow bound ~3.47e9
    rows = [(big + i, "k") for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, key string")
    out = random_sampler_agg(df, "vec_id", "key", probability=0.5) \
        .collect()
    # reference: the exact 32-bit Knuth hash in Python
    kept = sum(1 for i, _ in rows
               if ((i * 2654435761) % (1 << 32)) / float(1 << 32) < 0.5)
    if kept:
        assert out[0]["sampled_count"] == kept
    else:
        assert out == []


def test_random_sampler_agg_small_ids_unchanged(spark):
    from auctus_spark.operators.profiling import random_sampler_agg
    rows = [(i, "k") for i in range(1000)]
    df = spark.createDataFrame(rows, "vec_id long, key string")
    out = random_sampler_agg(df, "vec_id", "key", probability=0.25) \
        .collect()
    kept = sum(1 for i, _ in rows
               if ((i * 2654435761) % (1 << 32)) / float(1 << 32) < 0.25)
    assert out[0]["sampled_count"] == kept


def test_terms_agg_sharded_empty_input(spark):
    from auctus_spark.operators.profiling import terms_agg_sharded
    df = spark.createDataFrame([], "doc_id long, lang string")
    out = terms_agg_sharded(df, "lang", "doc_id").collect()
    assert out == []


# ---------------------------------------------------------------------
# second-session round-8 optimizations
# ---------------------------------------------------------------------

def test_cumsum_dot_matches_hof_sequential_sum(spark):
    """embedding_near_pairs' vectorized pair dot (np.cumsum last
    element) must be bit-identical to the historical JVM
    zip_with/aggregate HOF, which accumulates strictly
    left-associatively."""
    import numpy as np
    rng = np.random.Generator(np.random.PCG64(7))
    vecs = [[float(x) for x in rng.normal(size=16)] for _ in range(12)]
    rows = [(i, vecs[i], j, vecs[j])
            for i in range(12) for j in range(12)]
    df = spark.createDataFrame(
        rows, "id_a long, va array<double>, id_b long, vb array<double>")
    hof = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    got = {(r["id_a"], r["id_b"]): r["d"]
           for r in df.select("id_a", "id_b", hof.alias("d")).collect()}
    for i in range(12):
        for j in range(12):
            prod = np.array(vecs[i]) * np.array(vecs[j])
            assert np.cumsum(prod)[-1] == got[(i, j)]


def test_embedding_near_pairs_broadcast_matches_join_path(spark,
                                                          monkeypatch):
    """The size-capped broadcast verify and the join fallback must
    return identical pairs AND identical cosines."""
    import numpy as np
    from auctus_spark.operators.dedup import embedding_near_pairs
    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.normal(size=(6, 8))
    vecs = []
    for i in range(60):
        v = base[i % 6] + 0.01 * rng.normal(size=8)
        vecs.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    a = sorted(tuple(r) for r in embedding_near_pairs(
        df, threshold=0.9, bands=8, rows_per_band=4).collect())
    monkeypatch.setenv("AUCTUS_VEC_BCAST_MB", "0")  # force join path
    b = sorted(tuple(r) for r in embedding_near_pairs(
        df, threshold=0.9, bands=8, rows_per_band=4).collect())
    assert a == b
    assert len(a) > 0


def test_fan_out_by_window_rows_identical(spark, tmp_path):
    """fan_out_small_scan with a key (exchange-by-key below the
    window sort) must not change window top-k results."""
    from pyspark.sql import Window as W
    import __spark_entry__ as entry
    rows = [(i % 37, i, float((i * 7919) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, oid long, price double")
    p = str(tmp_path / "orders_one_file")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    base = spark.read.parquet(p)
    w = W.partitionBy("k").orderBy(F.desc("price"), F.asc("oid"))
    def topk(d):
        return (d.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= 2)
                .select("k", "oid", "price", "rk"))
    plain = sorted(tuple(r) for r in topk(base).collect())
    fanned = sorted(tuple(r) for r in
                    topk(entry.fan_out_small_scan(base, "k")).collect())
    assert plain == fanned


def test_spread_buckets_no_extra_exchange(spark):
    """_spread_buckets' numbered repartition must SATISFY the
    downstream groupBy-applyInPandas distribution requirement: exactly
    one Exchange in the plan, and it is the user-specified one (not an
    AQE-coalescible ENSURE_REQUIREMENTS exchange)."""
    import pandas as pd
    from auctus_spark.query.bm25 import _spread_buckets
    df = spark.createDataFrame(
        [(i % 8, i) for i in range(100)], "bucket long, x long")
    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["bucket"]].head(1)
    out = (_spread_buckets(df).groupBy("bucket")
           .applyInPandas(f, schema="bucket long"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in plan
