"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 search over the sf0.001 documents
table.  ``queries()`` / ``oracle_sql()`` — one entry per implemented
operator from SURVEY.md §2, each validated against DuckDB at sf0.01.

Float columns are rounded to 6 dp on BOTH sides before the driver's
value hash (cross-engine float sums differ in the last ulp).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from auctus_spark import pipeline  # noqa: E402
from auctus_spark.analysis import SPLIT_PATTERN, analyze_query  # noqa: E402
from auctus_spark.operators.profiling import fan_out_small_scan  # noqa: E402


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """The driver may create its own SparkSession without PYTHONPATH
    pointing at this repo; index-path queries ship module-level
    functions to Python workers, which then need to import
    ``auctus_spark``.  Ship the package as a zip via addPyFile
    (idempotent per session)."""
    import zipfile
    root = os.path.dirname(os.path.abspath(__file__))
    zpath = "/tmp/auctus_spark_pkg.zip"
    # regenerate once per process (a stale zip from an older run must
    # never shadow current code)
    if not getattr(_ensure_workers_can_import, "_zipped", False):
        with zipfile.ZipFile(zpath, "w") as z:
            pkg = os.path.join(root, "auctus_spark")
            for dirpath, _, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        _ensure_workers_can_import._zipped = True
    key = "_auctus_pyfile_added"
    if not getattr(spark, key, False):
        try:
            spark.sparkContext.addPyFile(zpath)
        except Exception:
            pass  # already added in this context
        setattr(spark, key, True)


# Scan fan-out (guide §2.5 "input skew"): the sf tables are single
# parquet files with ONE row group, so a scan is one task no matter how
# small spark.sql.files.maxPartitionBytes is — and the compute-heavy
# per-row paths (tokenization, vector math) then run on 1 core of 32.
# For those tables a round-robin exchange of a few MB buys full-core
# parallelism.  The gate is ``profiling.fan_out_small_scan`` (scale-
# adaptive: inputs that already yield >= cores scan tasks or exceed
# ``small_scan_cap()``, env AUCTUS_SMALL_SCAN_BYTES, are returned as-is,
# so at real scale the zero-extra-shuffle plan shape is unchanged).
# tokenize / vector-math tables only: TPC-H numeric tables keep the
# scan -> partial-aggregate shape (a pre-agg exchange of the raw rows
# would cost more than the single-pass partial aggregation saves).
# "events" was REMOVED from the set this round: its ~30 consumers are
# windows/date-aggs with cheap per-row work, and the interleaved A/B
# (13 queries, 5 reps each) showed the round-robin exchange costing
# ~2x on nearly every one (e.g. window_agg_events 1.38 s fanned vs
# 0.54 s raw, asof_join 1.60 vs 0.73, terms_agg_ordered 0.48 vs 0.24)
# — same pattern as dedup_exact: the exchange ships the rows to
# parallelize work cheaper than the shuffle itself.
_FAN_OUT_TABLES = {"documents", "embeddings"}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fan_out_small_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _docs_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docID-ordered documents read, NO fan-out: the index builder's
    input contract is strictly ascending doc_id per task (one file per
    task), which a round-robin exchange would destroy.  The builder
    parallelizes its own stages (one-file-per-task scan + term-bucket
    shuffle), so it does not need the fan-out."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return fan_out_small_scan(df) if name in _FAN_OUT_TABLES else df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: conjunctive-AND BM25 top-50 on sf0.001 documents."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    return pipeline.bm25_topk(docs, "data join", k=50, round_to=6)


# ---------------------------------------------------------------------
# BM25 oracle SQL (DuckDB) — same analyzer (lowercase + [^a-z0-9_]+
# split), same Lucene BM25 formula, same global-stats discipline.
# ---------------------------------------------------------------------

def _bm25_sql(terms: list[str], k: int = 50) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))))
           AS raw_score,
         count(*) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 6) AS score
FROM scored WHERE nt = {len(terms)}
ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


# ---------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------

def _bm25_or_sql(terms: list[str], k: int = 50,
                 min_should_match: int = 0) -> str:
    """Disjunctive variant: drop the conjunctive nt filter (or relax
    it to ``nt >= min_should_match``); a doc's score sums its
    present-term contributions."""
    sql = _bm25_sql(terms, k)
    repl = (f"WHERE nt >= {min_should_match}"
            if min_should_match > 1 else "")
    return sql.replace(f"WHERE nt = {len(terms)}", repl)


def _q_bm25_hot(spark, sf_dir):
    return pipeline.bm25_topk(_docs(spark, sf_dir), "join", k=50, round_to=6)


def _q_bm25_conj(spark, sf_dir):
    return pipeline.bm25_topk(_docs(spark, sf_dir), "data join merge",
                              k=50, round_to=6)


def _q_bm25_zero(spark, sf_dir):
    return pipeline.bm25_topk(_docs(spark, sf_dir),
                              "join zzz_not_a_token", k=50, round_to=6)


def _q_term_stats(spark, sf_dir):
    return pipeline.term_stats_df(
        _docs(spark, sf_dir), ["join", "hash", "data", "zzz_missing"]
    ).orderBy("term")


def _q_corpus_stats(spark, sf_dir):
    n, avgdl = pipeline.corpus_stats(_docs(spark, sf_dir))
    return spark.createDataFrame(
        [(n, round(avgdl, 6))], "n_docs long, avgdl double")


def _q_facet_lang(spark, sf_dir):
    return pipeline.facet_counts(_docs(spark, sf_dir), "join merge",
                                 "lang").orderBy("lang")


def _q_dedup_exact(spark, sf_dir):
    # NO fan-out here: the per-row work is one md5 — a round-robin
    # exchange of the full text rows costs ~2x the single-pass
    # scan+partial-agg it would parallelize (measured sf0.1 interleaved
    # A/B: raw 0.58 s vs fanned 1.13 s median of 7).  The groupBy's own
    # exchange ships only (hash, count, min) partials either way.
    d = _docs_seq(spark, sf_dir)
    return (d.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("first_doc"))
            .filter(F.col("n_dups") > 1)
            .orderBy("text_hash"))


def _q_token_count(spark, sf_dir):
    from auctus_spark.analysis import spark_token_runs
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(spark_token_runs(F.lower("text")))
        .cast("long").alias("n_tokens"))


def _q_text_quality(spark, sf_dir):
    """Quality-scoring heuristics (training-data pipeline op): length,
    mean token length, stopword ratio.

    The token array is materialized ONCE per row in its own projection
    (guide §1.2 "per-task work"): referencing the split expression from
    each output column would re-tokenize up to 4x per row — Catalyst's
    CollapseProject keeps a non-cheap alias referenced more than once,
    so this two-step select is a real plan-level dedup (same trick as
    pipeline.bm25_topk's scoring pass).  Identical arithmetic on
    identical ints -> identical results."""
    from auctus_spark.analysis import spark_token_runs
    d = _docs(spark, sf_dir)
    toks = spark_token_runs(F.lower("text"))
    staged = d.select("doc_id", F.length("text").alias("_len"),
                      toks.alias("_toks"))
    n_tok = F.size("_toks")
    stop = F.size(F.filter("_toks",
                           lambda x: x.isin("the", "a", "of", "and")))
    return staged.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(F.col("_len") / n_tok, 6).alias("mean_tok_len"),
        F.round(stop / n_tok, 6).alias("stopword_ratio"))


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def _q_topk_orders_per_cust(spark, sf_dir):
    from pyspark.sql import Window as W
    # exchange-by-key BEFORE the window sort (fan_out_small_scan with
    # keys): rows,
    # ranks and output are identical — row_number's order
    # (o_totalprice desc, o_orderkey asc) is a total order per custkey
    # (o_orderkey is unique), so physical row placement cannot change
    # the result
    o = fan_out_small_scan(_t(spark, sf_dir, "orders"), "o_custkey")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 2)
            .select("o_custkey", "o_orderkey", "o_totalprice",
                    F.col("rk").cast("long").alias("rk")))


def _q_union_by_name(spark, sf_dir):
    """Union execution semantics (reference augmentation.py:627-764):
    align by column name, missing columns null-filled."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind"))
    return c.unionByName(s, allowMissingColumns=True)


def _q_interval_overlap_join(spark, sf_dir):
    """Range-overlap candidate scoring (reference search/join.py:150-252):
    query ranges vs candidate coverage ranges, score = overlap length /
    total query coverage, summed per candidate."""
    o = _t(spark, sf_dir, "orders")
    cand = (o.groupBy("o_custkey")
            .agg(F.min("o_totalprice").alias("gte"),
                 F.max("o_totalprice").alias("lte")))
    q = spark.createDataFrame(
        [(0.0, 50000.0), (100000.0, 200000.0)], "q_gte double, q_lte double")
    overlap = (F.least(F.col("lte"), F.col("q_lte"))
               - F.greatest(F.col("gte"), F.col("q_gte")))
    total_q = 50000.0 + 100000.0
    joined = cand.join(
        q, (F.col("q_gte") <= F.col("lte")) & (F.col("q_lte") >= F.col("gte")))
    return (joined.groupBy("o_custkey")
            .agg(F.round(F.sum(overlap / F.lit(total_q)), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("o_custkey")).limit(100))


def _q_embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (training-data op):
    neighbors of vec_id=0, JVM-side vector math via zip_with/aggregate."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"))
    j = e.crossJoin(F.broadcast(qvec)).filter(F.col("vec_id") != 0)
    dot = F.aggregate(F.zip_with("embedding", "qe", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    sim = dot / (norm(F.col("embedding")) * norm(F.col("qe")))
    return (j.select("vec_id", F.round(sim, 6).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(20))


def _q_ann_ivf(spark, sf_dir):
    """IVF-KMeans ANN (similarity.IVFKMeans): deterministic maxmin
    init + fixed Lloyd iterations recover the planted clusters of a
    closed-form corpus (planted_embeddings — rebuildable in SQL), so
    nprobe=2 probed-list search returns EXACTLY the brute-force
    cosine top-k and the gate is fully oracle-checked.  Random
    vectors have no cluster structure for IVF to exploit; the planted
    corpus is what makes an exact-recall contract honest."""
    from auctus_spark.operators.similarity import (IVFKMeans,
                                                   planted_embeddings)
    _ensure_workers_can_import(spark)
    ids = _t(spark, sf_dir, "embeddings").select("vec_id")
    emb = planted_embeddings(ids)
    ivf = IVFKMeans(n_lists=16).fit(emb)
    q = emb.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    assigned = ivf.assign(emb).filter(F.col("vec_id") != 1)
    out = ivf.search(assigned, q, k=20, nprobe=2)
    return out.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


_ANN_IVF_SQL = """
WITH v AS (
  SELECT vec_id,
         list_transform(range(0, 16), d ->
           CASE WHEN d = vec_id % 16 THEN 1.0 ELSE 0.0 END
           + CAST((vec_id * 31 + d * 17) % 97 - 48 AS DOUBLE)
             / 480.0) AS e
  FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id = 1)
SELECT vec_id,
       round(list_cosine_similarity(e::DOUBLE[], qe::DOUBLE[]), 6)
         AS cos_sim
FROM v, q WHERE vec_id <> 1
ORDER BY list_cosine_similarity(e::DOUBLE[], qe::DOUBLE[]) DESC,
         vec_id
LIMIT 20
"""


def _q_ngram_jaccard_dups(spark, sf_dir):
    from auctus_spark.operators.dedup import ngram_jaccard_pairs
    d = _docs(spark, sf_dir)
    out = ngram_jaccard_pairs(d, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_minhash_dedup(spark, sf_dir):
    from auctus_spark.operators.dedup import minhash_dedup_pairs
    d = _docs(spark, sf_dir)
    out = minhash_dedup_pairs(d, threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_clusters(spark, sf_dir):
    """Connected components over the exact-Jaccard near-dup pair
    graph: cluster_id = min reachable doc id (canonical-doc
    election).  Engine: hash-min label propagation; oracle: the same
    pairs via exact Jaccard, components via a recursive CTE."""
    from auctus_spark.operators.dedup import (dedup_clusters,
                                              minhash_dedup_pairs)
    pairs = minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.8)
    return dedup_clusters(pairs).orderBy("doc_id")


def _dedup_clusters_sql(threshold: float) -> str:
    return f"""
WITH RECURSIVE pairs AS ({_jaccard_pairs_sql(threshold)}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS n FROM e),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN e ON e.a = r.m
)
SELECT n AS doc_id, min(m) AS cluster_id
FROM reach GROUP BY n ORDER BY doc_id
"""


def _q_simhash(spark, sf_dir):
    from auctus_spark.operators.dedup import simhash
    return simhash(_docs(spark, sf_dir), bits=32)


def _q_lang_id(spark, sf_dir):
    from auctus_spark.operators.textstats import language_id
    return (language_id(_docs(spark, sf_dir))
            .groupBy("lang_pred").agg(F.count("*").alias("n"))
            .orderBy("lang_pred"))


def _q_content_fingerprint(spark, sf_dir):
    from auctus_spark.operators.textstats import content_fingerprint
    return content_fingerprint(_docs(spark, sf_dir)) \
        .select("doc_id", "fingerprint")


def _q_tpch_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (c.filter(F.col("c_mktsegment") == "BUILDING")
            .join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


def _q_asof_join(spark, sf_dir):
    """As-of join: each error event matched to the user's most recent
    purchase at or before it."""
    from auctus_spark.operators.joins import asof_join
    e = _t(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    err = e.filter(F.col("event_type") == "error") \
        .select("event_id", "user_id", "ts")
    pur = e.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    out = asof_join(err, pur, on="user_id",
                    left_ts="ts", right_ts="ts", value_cols=["value"])
    return out.select("event_id", "user_id",
                      F.round("value_r", 6).alias("purchase_value"),
                      F.col("ts_r").alias("purchase_ts"))


def _q_sessionize(spark, sf_dir):
    from auctus_spark.operators.joins import sessionize
    e = _t(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    s = sessionize(e, gap_minutes=30)
    return (s.groupBy("user_id")
            .agg(F.max("session_id").cast("long").alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


def _q_fuzzy_name_match(spark, sf_dir):
    """Fuzzy keyword match (reference join.py:166-169 — ES fuzzy,
    max edit distance 2)."""
    n = _t(spark, sf_dir, "nation")
    return (n.select("n_nationkey", "n_name",
                     F.levenshtein(F.lower("n_name"), F.lit("nation_5"))
                     .cast("long").alias("dist"))
            .filter(F.col("dist") <= 2).orderBy("n_nationkey"))


def _q_name_similarity(spark, sf_dir):
    """Auctus 3-gram column-name similarity (union.py:13-30) over all
    nation-name x region-name pairs."""
    from auctus_spark.operators.union_ops import name_similarity_df
    n = _t(spark, sf_dir, "nation").select(
        F.lower("n_name").alias("left_name"))
    r = _t(spark, sf_dir, "region").select(
        F.lower("r_name").alias("right_name"))
    pairs = n.crossJoin(r)
    return name_similarity_df(pairs).select(
        "left_name", "right_name",
        F.round("similarity", 6).alias("similarity"))


def _q_bm25_page2(spark, sf_dir):
    """Pagination semantics (reference search/__init__.py:556-577):
    page 2 of size 10 for a keyword query."""
    full = pipeline.bm25_topk(_docs(spark, sf_dir), "join merge",
                              k=20, round_to=6)
    from pyspark.sql import Window as W
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return (full.withColumn("_r", F.row_number().over(w))
            .filter((F.col("_r") > 10) & (F.col("_r") <= 20)).drop("_r"))


def _q_unpivot_part(spark, sf_dir):
    """Pivoted-table unpivot (reference pivot.py via stack)."""
    from auctus_spark.sources import unpivot
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice")
    return unpivot(p, ["p_partkey"], ["p_size", "p_retailprice"],
                   var_name="metric", value_name="value")


def _q_tpch_q5ish(spark, sf_dir):
    """Multi-join aggregate across 6 tables."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (r.join(n, F.col("r_regionkey") == F.col("n_regionkey"))
            .join(c, F.col("n_nationkey") == F.col("c_nationkey"))
            .join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("r_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))) / 1e6, 2)
                 .alias("revenue_m"),
                 F.count("*").alias("n_items"))
            .orderBy("r_name"))


def _q_window_agg_events(spark, sf_dir):
    """Tumbling-window aggregation (streaming rollup shape, batch
    semantics): 6-hour windows per event_type."""
    e = _t(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    return (e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("value_sum"))
            .select(F.col("w.start").alias("w_start"), "event_type",
                    "n", "value_sum")
            .orderBy("w_start", "event_type"))


def _q_numeric_histogram(spark, sf_dir):
    """10-bin numeric histogram (reference core.py:348-367)."""
    from auctus_spark.operators.profiling import numeric_histogram
    li = _t(spark, sf_dir, "lineitem")
    return (numeric_histogram(li, "l_extendedprice")
            .select("bin", "count", F.round("bin_start", 6)
                    .alias("bin_start")))


def _q_bm25_or(spark, sf_dir):
    """Disjunctive (should) BM25 — DataFrame path."""
    return pipeline.bm25_or_topk(_docs(spark, sf_dir),
                                 "join zzz_not_a_token merge",
                                 k=50, round_to=6)


def _q_bm25_index_path(spark, sf_dir):
    """THE index path end-to-end at the gate: build the segment index
    over the documents table (chunked, compressed, term-partitioned),
    then answer with the block-selective WAND scorer — checked against
    the same DuckDB BM25 SQL as the DataFrame path."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import IndexBuilder
    from auctus_spark.query.bm25 import SearchEngine

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    idx_dir = f"/tmp/auctus_entry_index_{tag}"
    corpus = _docs_seq(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content"))
    b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                     chunk_docs=1 << 12, term_buckets=16)
    from auctus_spark.index.build import FORMAT_VERSION, read_format, wipe
    if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
            or read_format(idx_dir) != FORMAT_VERSION):
        wipe(idx_dir)  # stale or old-layout cache
        b.build(corpus)
    eng = SearchEngine(spark, idx_dir, term_buckets=16)
    out = eng.search_wand("data join", k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_prefix(spark, sf_dir):
    """ES prefix query with the constant_score multi-term rewrite
    (every doc containing any term starting with the prefix scores
    exactly the boost; doc_id order) on the segment index."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    out = eng.search_prefix("val", k=100)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_prefix_sql(prefix: str, k: int = 100) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text),
                '{SPLIT_PATTERN}')) AS term
  FROM documents),
m AS (SELECT DISTINCT doc_id FROM tok
      WHERE term LIKE '{prefix}%' AND term <> '')
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


def _q_bm25_wildcard(spark, sf_dir):
    """ES wildcard query (* / ?) with the constant_score rewrite on
    the segment index; whole-term anchored like ES."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    out = eng.search_wildcard("v?l*", k=100)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_wildcard_sql(like_pattern: str, k: int = 100) -> str:
    """Oracle via SQL LIKE (% = *, _ = ?)."""
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text),
                '{SPLIT_PATTERN}')) AS term
  FROM documents),
m AS (SELECT DISTINCT doc_id FROM tok
      WHERE term LIKE '{like_pattern}' AND term <> '')
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


def _q_bm25_regexp(spark, sf_dir):
    """ES regexp query (whole-term anchored, constant_score rewrite)
    on the segment index; dictionary cut via required-literal-run
    bigrams (Cox trigram-index trick), anchored regex final confirm."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    out = eng.search_regexp("v.l.*", k=100)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_regexp_sql(pattern: str, k: int = 100) -> str:
    """Oracle via RE2 regexp_full_match (pattern chosen inside the
    Java-regex ∩ RE2 common subset)."""
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text),
                '{SPLIT_PATTERN}')) AS term
  FROM documents),
m AS (SELECT DISTINCT doc_id FROM tok
      WHERE regexp_full_match(term, '{pattern}') AND term <> '')
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


def _q_bm25_fuzzy(spark, sf_dir):
    """ES fuzzy full-text query on the segment index (simplified
    blended rewrite: dictionary expansion by plain Levenshtein —
    Spark and DuckDB share it; ES uses Damerau, documented — best 50
    by (distance, df desc, term), scored as one SynonymQuery slot)."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    out = eng.search_fuzzy("valu", k=50, fuzziness=1)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_fuzzy_sql(term: str, fuzziness: int = 1, max_exp: int = 50,
                    k: int = 50) -> str:
    return f"""
WITH tok2 AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text),
           '{SPLIT_PATTERN}')) AS term FROM documents)
  WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
dict AS (SELECT term, count(DISTINCT doc_id) AS df
         FROM tok2 GROUP BY term),
exp AS (SELECT term FROM dict
        WHERE damerau_levenshtein(term, '{term}') <= {fuzziness}
        ORDER BY damerau_levenshtein(term, '{term}') ASC, df DESC,
                 term ASC
        LIMIT {max_exp}),
sd AS (SELECT max(df) AS sdf FROM dict JOIN exp USING (term)),
tf AS (SELECT doc_id, count(*) AS tf
       FROM tok2 JOIN exp USING (term) GROUP BY doc_id)
SELECT tf.doc_id,
       round(ln(1 + (s.n_docs - d.sdf + 0.5) / (d.sdf + 0.5))
             * (tf.tf / (tf.tf + 1.2 *
                (0.25 + 0.75 * dl.dl / s.avgdl))), 6) AS score
FROM tf JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN sd d
ORDER BY ln(1 + (s.n_docs - d.sdf + 0.5) / (d.sdf + 0.5))
         * (tf.tf / (tf.tf + 1.2 *
            (0.25 + 0.75 * dl.dl / s.avgdl))) DESC, tf.doc_id ASC
LIMIT {k}
"""


def _q_bm25_min_should_match(spark, sf_dir):
    """Disjunctive index search with ES minimum_should_match=2 (the
    reference's textual-join body sets minimum_should_match,
    join.py:543): docs matching >=2 of the 3 should terms."""
    from auctus_spark.query.bm25 import SearchEngine
    _ensure_workers_can_import(spark)
    _q_bm25_index_path(spark, sf_dir)       # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    out = eng.search_or("data join merge", k=50, min_should_match=2)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_phrase_batched(spark, sf_dir):
    """Batched phrase msearch: both phrase queries in ONE job (shared
    segment scan + position decodes); each checked against its own
    positional phrase SQL."""
    from auctus_spark.query.bm25 import PhraseEngine, search_many_phrase
    _q_bm25_phrase(spark, sf_dir)           # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = PhraseEngine(spark, f"/tmp/auctus_entry_index_pos_{tag}",
                       term_buckets=16)
    out = search_many_phrase(
        eng, {"qa": "table value", "qb": "data join"}, k=20)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"))


def _q_bm25_batched(spark, sf_dir):
    """Batched multi-query index search (one job, shared decodes) —
    each query checked against its own BM25 SQL."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import IndexBuilder
    from auctus_spark.query.bm25 import SearchEngine, search_many

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    idx_dir = f"/tmp/auctus_entry_index_{tag}"
    corpus = _docs_seq(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content"))
    b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                     chunk_docs=1 << 12, term_buckets=16)
    from auctus_spark.index.build import FORMAT_VERSION, read_format, wipe
    if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
            or read_format(idx_dir) != FORMAT_VERSION):
        wipe(idx_dir)  # stale or old-layout cache
        b.build(corpus)
    eng = SearchEngine(spark, idx_dir, term_buckets=16)
    out = search_many(eng, {"qa": "data join", "qb": "merge batch"}, k=20)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"))


def _q_embedding_near_pairs(spark, sf_dir):
    """Banded hyperplane-LSH near-dup pairs + exact cosine verify,
    checked against a DuckDB exact all-pairs oracle.  LSH params are
    threshold-tuned by recall = 1-(1-p^r)^b with p = 1-acos(t)/pi:
    at t=0.45 (the embeddings table's near-pair regime), b=32 x r=2
    gives miss probability ~3e-8 per true pair; the exact verify step
    keeps precision 1."""
    from auctus_spark.operators.dedup import embedding_near_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_pairs(emb, threshold=0.45, bands=32,
                               rows_per_band=2)
    return out.select("id_a", "id_b",
                      F.round("cosine", 6).alias("cosine"))


def _q_bm25_multifield_idx(spark, sf_dir):
    """Multi-field BM25 on the SEGMENT-INDEX path: one index per field
    (per-field N/df/avgdl — ES's statistics model), boosted per-bucket
    scoring, checked against the same DuckDB multifield BM25 SQL as the
    DataFrame path (reference search/__init__.py:57-109)."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import FORMAT_VERSION, read_format, wipe
    from auctus_spark.query.bm25 import MultiFieldEngine, build_field_indexes

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/auctus_entry_index_mf_{tag}"
    boosts = {"text": 1.0, "source": 5.0}
    docs = _docs_seq(spark, sf_dir)  # index build: docID-ordered input
    dirs = {f: _os.path.join(base, f"field={f}") for f in boosts}
    stale = any(not _os.path.exists(_os.path.join(d, "stats"))
                or read_format(d) != FORMAT_VERSION for d in dirs.values())
    if stale:
        wipe(base)
        dirs = build_field_indexes(spark, docs, base, list(boosts),
                                   doc_bucket=1 << 10, chunk_docs=1 << 12,
                                   term_buckets=16)
    eng = MultiFieldEngine(spark, dirs, boosts, term_buckets=16)
    out = eng.search("join src3", k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_span_first(spark, sf_dir):
    """ES/Lucene span_first on the positional index: docs with 'data'
    among their first 5 tokens (constant_score rewrite)."""
    import hashlib as _h
    _q_bm25_phrase(spark, sf_dir)        # ensure the positional index
    from auctus_spark.query.bm25 import PhraseEngine
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = PhraseEngine(spark, f"/tmp/auctus_entry_index_pos_{tag}",
                       term_buckets=16)
    return eng.search_span_first("data", end=5, k=200)


def _span_first_sql(term: str, end: int, k: int = 200) -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS toks
  FROM documents),
m AS (SELECT DISTINCT doc_id
      FROM t, (SELECT unnest(generate_series(1, {end})) AS i) s
      WHERE i <= length(toks) AND toks[i] = '{term}')
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


def _q_bm25_phrase(spark, sf_dir):
    """match_phrase over the positional segment index (positions are
    per-posting delta+varbyte streams with block offsets, codec v3).
    Lucene PhraseQuery scoring: phrase_freq as tf, weight = sum of the
    terms' idfs.  Beyond the reference's DSL (Auctus never exposes
    match_phrase) but core ES-parity surface."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import (FORMAT_VERSION, IndexBuilder,
                                          read_analyzer, read_format, wipe)
    from auctus_spark.query.bm25 import PhraseEngine

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    idx_dir = f"/tmp/auctus_entry_index_pos_{tag}"
    corpus = _docs_seq(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content"))
    b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                     chunk_docs=1 << 12, term_buckets=16, positions=True)
    if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
            or read_format(idx_dir) != FORMAT_VERSION
            or not read_analyzer(idx_dir).get("positions", False)):
        wipe(idx_dir)
        b.build(corpus)
    eng = PhraseEngine(spark, idx_dir, term_buckets=16)
    out = eng.search_phrase("table value", k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_phrase_sloppy(spark, sf_dir):
    """match_phrase with slop=2 (Lucene SloppyPhraseScorer window
    algorithm — oracle.lucene_sloppy_freq runs in BOTH the engine
    buckets and the pytest oracle, bit-identical scores;
    tests/test_rank_identity.py::test_sloppy_phrase_matches_oracle).
    Full oracle gate: the two-term case runs the exact two-cursor
    window algorithm as a DuckDB recursive CTE
    (:func:`_phrase_sloppy2_sql`)."""
    from auctus_spark.query.bm25 import PhraseEngine
    _q_bm25_phrase(spark, sf_dir)        # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = PhraseEngine(spark, f"/tmp/auctus_entry_index_pos_{tag}",
                       term_buckets=16)
    out = eng.search_phrase("table value", k=50, slop=2)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _phrase_sql(terms: list[str], k: int = 50) -> str:
    """DuckDB phrase oracle: positional self-joins on consecutive
    positions; Lucene PhraseQuery scoring (idf_sum * tf_norm(freq))."""
    joins = "".join(
        f" JOIN tok a{i} ON a{i}.doc_id = a0.doc_id AND "
        f"a{i}.pos = a0.pos + {i} AND a{i}.term = '{terms[i]}'"
        for i in range(1, len(terms)))
    uterms = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    idf_terms = " + ".join(
        f"(SELECT ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) FROM df "
        f"CROSS JOIN stats s WHERE term = '{t}')" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
dl AS (SELECT doc_id, len(l) AS dl FROM toks),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(len(l)) FROM toks) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN ({uterms}) GROUP BY term),
occ AS (
  SELECT a0.doc_id, count(*) AS freq
  FROM tok a0{joins}
  WHERE a0.term = '{terms[0]}'
  GROUP BY a0.doc_id)
SELECT occ.doc_id,
       round(({idf_terms})
             * (occ.freq / (occ.freq + 1.2 *
                (0.25 + 0.75 * dl.dl / s.avgdl))), 6) AS score
FROM occ JOIN dl USING (doc_id) CROSS JOIN stats s
ORDER BY ({idf_terms})
         * (occ.freq / (occ.freq + 1.2 *
            (0.25 + 0.75 * dl.dl / s.avgdl))) DESC, occ.doc_id ASC
LIMIT {k}
"""


def _phrase_sloppy2_sql(t0: str, t1: str, slop: int,
                        k: int = 50) -> str:
    """DuckDB oracle for TWO-TERM sloppy phrase: runs the exact Lucene
    SloppyPhraseScorer two-cursor window algorithm
    (:func:`auctus_spark.oracle.lucene_sloppy_freq`) as a RECURSIVE
    CTE — one state row per candidate doc, one cursor advance per
    recursion level (state = cursors i/j, window end, match_length,
    accumulated freq).  Offset-adjusted positions: slot 0 = pos, slot
    1 = pos − 1; initial pop tie-breaks to slot 0 like the heap's
    (pos, slot) ordering.  Matches the engine's float64 accumulation
    order exactly because the recursion adds the same 1/(1+ml) terms
    in the same sequence."""
    idf_terms = " + ".join(
        f"(SELECT ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) FROM df "
        f"CROSS JOIN stats s WHERE term = '{t}')" for t in (t0, t1))
    # CAST to DOUBLE: bare 1.0/… is DECIMAL division in DuckDB and
    # silently truncates (1/3 → 0.3)
    contrib = (f"CASE WHEN ml <= {slop} THEN "
               "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + ml) "
               "ELSE CAST(0.0 AS DOUBLE) END")
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
dl AS (SELECT doc_id, len(l) AS dl FROM toks),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(len(l)) FROM toks) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN ('{t0}', '{t1}') GROUP BY term),
pa AS (SELECT doc_id, list(pos ORDER BY pos) AS a
       FROM tok WHERE term = '{t0}' GROUP BY doc_id),
pb AS (SELECT doc_id, list(pos - 1 ORDER BY pos) AS b
       FROM tok WHERE term = '{t1}' GROUP BY doc_id),
plist AS (
  SELECT doc_id, a, b, len(a) AS na, len(b) AS nb
  FROM pa JOIN pb USING (doc_id)),
st AS (
  SELECT doc_id, a, b, na, nb, 1 AS i, 1 AS j,
         greatest(a[1], b[1]) AS e,
         CASE WHEN a[1] <= b[1] THEN 0 ELSE 1 END AS s,
         greatest(a[1], b[1]) - least(a[1], b[1]) AS ml,
         CAST(0.0 AS DOUBLE) AS freq, false AS done
  FROM plist
  UNION ALL
  SELECT doc_id, a, b, na, nb,
         CASE WHEN s = 0 THEN i + 1 ELSE i END AS i,
         CASE WHEN s = 1 THEN j + 1 ELSE j END AS j,
         CASE WHEN ex THEN e ELSE greatest(e, p2) END AS e,
         CASE WHEN ex THEN s
              WHEN p2 > q THEN 1 - s ELSE s END AS s,
         CASE WHEN ex THEN ml
              WHEN p2 > q THEN greatest(e, p2) - q
              ELSE least(ml, greatest(e, p2) - p2) END AS ml,
         freq + CASE WHEN ex OR p2 > q THEN {contrib}
                     ELSE 0.0 END AS freq,
         ex AS done
  FROM (
    SELECT *,
      CASE WHEN s = 0 THEN i + 1 > na ELSE j + 1 > nb END AS ex,
      CASE WHEN s = 0 THEN a[i + 1] ELSE b[j + 1] END AS p2,
      CASE WHEN s = 0 THEN b[j] ELSE a[i] END AS q
    FROM st WHERE NOT done) t),
fin AS (SELECT doc_id, freq FROM st WHERE done AND freq > 0)
SELECT fin.doc_id,
       round(({idf_terms})
             * (fin.freq / (fin.freq + 1.2 *
                (0.25 + 0.75 * dl.dl / s.avgdl))), 6) AS score
FROM fin JOIN dl USING (doc_id) CROSS JOIN stats s
ORDER BY ({idf_terms})
         * (fin.freq / (fin.freq + 1.2 *
            (0.25 + 0.75 * dl.dl / s.avgdl))) DESC, fin.doc_id ASC
LIMIT {k}
"""


def _q_bm25_phrase_prefix(spark, sf_dir):
    """ES match_phrase_prefix on the positional index: exact phrase
    head + last-token prefix expanded over the dictionary (first 50
    in term order), last slot = union of expansion positions,
    slot idf = idf(max expansion df) — SynonymQuery discipline."""
    from auctus_spark.query.bm25 import PhraseEngine
    _q_bm25_phrase(spark, sf_dir)        # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = PhraseEngine(spark, f"/tmp/auctus_entry_index_pos_{tag}",
                       term_buckets=16)
    out = eng.search_phrase_prefix("table val", k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _phrase_prefix_sql(exact: str, prefix: str, k: int = 50,
                       max_exp: int = 50) -> str:
    """DuckDB oracle for a 2-slot match_phrase_prefix (one exact term
    + one prefix slot)."""
    idf = ("ln(1 + (s.n_docs - {d} + 0.5) / ({d} + 0.5))")
    idf_sum = (idf.format(d="(SELECT df FROM dfx)") + " + "
               + idf.format(d="(SELECT sdf FROM sd)"))
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
dl AS (SELECT doc_id, len(l) AS dl FROM toks),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(len(l)) FROM toks) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
exp AS (SELECT DISTINCT term FROM tok
        WHERE term LIKE '{prefix}%' ORDER BY term LIMIT {max_exp}),
dfx AS (SELECT count(DISTINCT doc_id) AS df FROM tok
        WHERE term = '{exact}'),
sd AS (SELECT max(df) AS sdf FROM (
         SELECT t.term, count(DISTINCT t.doc_id) AS df
         FROM tok t JOIN exp USING (term) GROUP BY t.term)),
occ AS (
  SELECT a0.doc_id, count(*) AS freq
  FROM tok a0
  JOIN tok a1 ON a1.doc_id = a0.doc_id AND a1.pos = a0.pos + 1
  JOIN exp ON a1.term = exp.term
  WHERE a0.term = '{exact}'
  GROUP BY a0.doc_id)
SELECT occ.doc_id,
       round(({idf_sum})
             * (occ.freq / (occ.freq + 1.2 *
                (0.25 + 0.75 * dl.dl / s.avgdl))), 6) AS score
FROM occ JOIN dl USING (doc_id) CROSS JOIN stats s
ORDER BY ({idf_sum})
         * (occ.freq / (occ.freq + 1.2 *
            (0.25 + 0.75 * dl.dl / s.avgdl))) DESC, occ.doc_id ASC
LIMIT {k}
"""


def _q_bm25_synonyms(spark, sf_dir):
    """Search-time synonym expansion (reference elasticsearch.yml:16-24
    applies synonym_graph on every search): query token 'join' expands
    to the slot {join, merge}; Lucene SynonymQuery semantics — slot
    tf = sum of member tfs, slot df = max of member dfs, AND across
    slots."""
    return pipeline.bm25_topk_synonyms(
        _docs(spark, sf_dir), "join data",
        synonyms={"join": ["merge"]}, k=50, round_to=6)


def _synonym_sql(slots: list[list[str]], k: int = 50) -> str:
    """DuckDB oracle for SynonymQuery-style slots."""
    all_members = sorted({t for alts in slots for t in alts})
    tlist = ", ".join(f"'{t}'" for t in all_members)
    slot_tf, slot_df, conds = [], [], []
    for i, alts in enumerate(slots):
        ms = ", ".join(f"'{t}'" for t in alts)
        slot_tf.append(
            f"sum(CASE WHEN term IN ({ms}) THEN 1 ELSE 0 END) AS tf{i}")
        slot_df.append(
            "greatest(" + ", ".join(
                f"(SELECT count(DISTINCT doc_id) FROM tok2 "
                f"WHERE term = '{t}')" for t in alts) + f") AS df{i}")
        conds.append(f"tf{i} > 0")
    contrib = " + ".join(
        f"ln(1 + (s.n_docs - d.df{i} + 0.5) / (d.df{i} + 0.5)) * "
        f"(tf.tf{i} / (tf.tf{i} + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))"
        for i in range(len(slots)))
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
d AS (SELECT {", ".join(slot_df)}),
tf AS (
  SELECT doc_id, {", ".join(slot_tf)} FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id)
SELECT tf.doc_id, round({contrib}, 6) AS score
FROM tf JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN d
WHERE {" AND ".join(conds)}
ORDER BY {contrib} DESC, tf.doc_id ASC
LIMIT {k}
"""


def _q_bm25_compacted(spark, sf_dir):
    """Delete + compact (the Lucene forceMerge analog): tombstone a
    docID set, physically rewrite the segments, then search — must
    equal BM25 over the corpus WITHOUT the deleted docs (stats
    recomputed over live docs only).  Oracle: the standard BM25 SQL
    with the deleted ids filtered out of the corpus CTE."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import (FORMAT_VERSION, IndexBuilder,
                                          compact, delete_docs,
                                          read_format, wipe)
    from auctus_spark.query.bm25 import SearchEngine

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    idx_dir = f"/tmp/auctus_entry_index_cmp_{tag}"
    corpus = _docs_seq(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content"))
    marker = _os.path.join(idx_dir, "_COMPACTED")
    if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
            or read_format(idx_dir) != FORMAT_VERSION
            or not _os.path.exists(marker)):
        wipe(idx_dir)
        b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                         chunk_docs=1 << 12, term_buckets=16)
        b.build(corpus)
        delete_docs(spark, idx_dir, COMPACT_DELETED)
        compact(spark, idx_dir, term_buckets=16)
        open(marker, "w").write("1")
    eng = SearchEngine(spark, idx_dir, term_buckets=16)
    out = eng.search_wand("data join", k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


COMPACT_DELETED = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377]


def _q_bm25_synonyms_idx(spark, sf_dir):
    """Search-time synonym expansion on the SEGMENT-INDEX path (the
    scale path — the reference applies synonym_graph on every search,
    elasticsearch.yml:16-24): SynonymQuery semantics with slot df =
    max of member GLOBAL dfs, computed broadcast-side in the same
    single job as the scoring.  Same DuckDB oracle as the DataFrame
    synonym gate."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import (FORMAT_VERSION, IndexBuilder,
                                          read_format, wipe)
    from auctus_spark.query.bm25 import SearchEngine

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    idx_dir = f"/tmp/auctus_entry_index_{tag}"
    corpus = _docs_seq(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content"))
    b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                     chunk_docs=1 << 12, term_buckets=16)
    if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
            or read_format(idx_dir) != FORMAT_VERSION):
        wipe(idx_dir)
        b.build(corpus)
    eng = SearchEngine(spark, idx_dir, term_buckets=16)
    out = eng.search_synonyms("join data", {"join": ["merge"]}, k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_stemmed(spark, sf_dir):
    """Index-time Porter2 stemming (reference elasticsearch.yml:15 —
    the ES english stemmer runs on every indexed field): build a
    STEMMED segment index, then answer a query whose surface forms
    ("merges tables values") appear nowhere in the corpus — only the
    stem classes match.  Oracle: the same BM25 SQL with each query
    stem-class expanded to its corpus surface forms (stem() itself is
    in DuckDB's fts extension, unavailable offline)."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import (FORMAT_VERSION, IndexBuilder,
                                          read_analyzer, read_format, wipe)
    from auctus_spark.query.bm25 import SearchEngine

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    idx_dir = f"/tmp/auctus_entry_index_stem_{tag}"
    corpus = _docs_seq(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content"))
    b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                     chunk_docs=1 << 12, term_buckets=16, stem=True)
    if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
            or read_format(idx_dir) != FORMAT_VERSION
            or not read_analyzer(idx_dir).get("stem", False)):
        wipe(idx_dir)
        b.build(corpus)
    eng = SearchEngine(spark, idx_dir, term_buckets=16)
    out = eng.search_wand(STEMMED_QUERY, k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


STEMMED_QUERY = "merges tables values"


def _bm25_stemmed_sql(k: int = 50) -> str:
    """Stemmed-BM25 oracle: analyze STEMMED_QUERY with the engine's
    Porter2, expand each stem class to the surface forms present in
    the sf0.01 corpus vocabulary, and run the standard BM25 SQL over
    the mapped terms.  dl/avgdl/N are stemming-invariant (stemming is
    a token->token map).  Falls back to '' if the sf0.01 table is
    unavailable (caller drops the entry -> rows-only check)."""
    import duckdb as _d

    from auctus_spark.analysis import analyze_query
    from auctus_spark.stem import stem as _stem

    path = "/root/testdata/sf0.01/documents.parquet"
    if not os.path.exists(path):
        return ""
    vocab = [r[0] for r in _d.connect().execute(
        "SELECT DISTINCT unnest(regexp_split_to_array(lower(text), "
        f"'{SPLIT_PATTERN}')) t FROM read_parquet('{path}')").fetchall()
        if r[0]]
    qstems = analyze_query(STEMMED_QUERY, stem=True)
    classes = {qs: sorted(w for w in vocab if _stem(w) == qs)
               for qs in qstems}
    if any(not v for v in classes.values()):
        return ""  # a query stem absent from the corpus vocabulary
    all_members = sorted({w for v in classes.values() for w in v})
    tlist = ", ".join(f"'{t}'" for t in all_members)
    case = "CASE " + " ".join(
        "WHEN term IN ({}) THEN '{}'".format(
            ", ".join(f"'{w}'" for w in classes[qs]), qs)
        for qs in qstems) + " END"
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, {case} AS term, count(*) AS tf FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))))
           AS raw_score,
         count(*) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 6) AS score
FROM scored WHERE nt = {len(qstems)}
ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


def _q_bm25_multifield(spark, sf_dir):
    """Field-boosted multi_match (reference search/__init__.py:57-109:
    id^10, name^3 shape) over documents(text^1, source^5)."""
    return pipeline.bm25_multifield_topk(
        _docs(spark, sf_dir), "join src3",
        boosts={"text": 1.0, "source": 5.0}, k=50, round_to=6)


def _q_bm25_crossfields(spark, sf_dir):
    """multi_match type=cross_fields — the reference's flagship query
    TYPE (search/__init__.py:64-76): blended per-term df (max over
    fields, clamped to each field's doc count), DisjunctionMax over
    field contributions per term (tie_breaker 0.0), AND across terms.
    The second field is a derived title (text prefix) so query terms
    genuinely live in BOTH fields with different dfs — the blend is
    exercised, not vacuous."""
    docs = _docs(spark, sf_dir).withColumn(
        "title", F.substring("text", 1, 48))
    return pipeline.bm25_crossfields_topk(
        docs, "table value", boosts={"text": 1.0, "title": 3.0},
        k=50, round_to=6)


def _crossfields_sql(terms: list[str], fields: list[tuple[str, float]],
                     k: int = 50) -> str:
    """DuckDB oracle for cross_fields: per-field stats CTEs + blended
    df (max over fields) + per-term greatest-contribution + AND."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    ctes, contribs, dfs_union = [], [], []
    for fcol, boost in fields:
        src = ("substr(text, 1, 48)" if fcol == "title" else fcol)
        ctes.append(f"""
tok_{fcol} AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower({src}),
         '{SPLIT_PATTERN}')) AS term
  FROM documents WHERE {src} IS NOT NULL),
tok2_{fcol} AS (SELECT * FROM tok_{fcol} WHERE term <> ''),
dl_{fcol} AS (SELECT doc_id, count(*) AS dl FROM tok2_{fcol}
              GROUP BY doc_id),
st_{fcol} AS (
  SELECT (SELECT count(*) FROM documents
          WHERE {src} IS NOT NULL) AS n_docs,
         (SELECT count(*) FROM tok2_{fcol}) * 1.0
           / (SELECT count(*) FROM documents
              WHERE {src} IS NOT NULL) AS avgdl),
tf_{fcol} AS (SELECT doc_id, term, count(*) AS tf FROM tok2_{fcol}
              WHERE term IN ({tlist}) GROUP BY doc_id, term),
df_{fcol} AS (SELECT term, count(*) AS df FROM tf_{fcol} GROUP BY term)""")
        dfs_union.append(f"SELECT term, df FROM df_{fcol}")
        contribs.append(f"""
  SELECT tf.doc_id, tf.term,
         {boost} * ln(1 + (s.n_docs - least(bl.df_blend, s.n_docs)
                           + 0.5)
                      / (least(bl.df_blend, s.n_docs) + 0.5))
           * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))
           AS contrib
  FROM tf_{fcol} tf JOIN blend bl USING (term)
  JOIN dl_{fcol} dl USING (doc_id) CROSS JOIN st_{fcol} s""")
    return f"""
WITH {','.join(ctes)},
blend AS (SELECT term, max(df) AS df_blend
          FROM ({' UNION ALL '.join(dfs_union)}) GROUP BY term),
allc AS ({' UNION ALL '.join(contribs)}),
best AS (
  SELECT doc_id, term, max(contrib) AS best
  FROM allc GROUP BY doc_id, term),
agg AS (
  SELECT doc_id, sum(best) AS raw_score, count(*) AS nt
  FROM best GROUP BY doc_id)
SELECT doc_id, round(raw_score, 6) AS score
FROM agg WHERE nt = {len(terms)}
ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


def _multifield_sql(terms: list[str], fields: list[tuple[str, float]],
                    k: int = 50) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    ctes, contribs = [], []
    for fcol, boost in fields:
        ctes.append(f"""
tok_{fcol} AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower({fcol}),
         '{SPLIT_PATTERN}')) AS term
  FROM documents WHERE {fcol} IS NOT NULL),
tok2_{fcol} AS (SELECT * FROM tok_{fcol} WHERE term <> ''),
dl_{fcol} AS (SELECT doc_id, count(*) AS dl FROM tok2_{fcol}
              GROUP BY doc_id),
st_{fcol} AS (
  SELECT (SELECT count(*) FROM documents
          WHERE {fcol} IS NOT NULL) AS n_docs,
         (SELECT count(*) FROM tok2_{fcol}) * 1.0
           / (SELECT count(*) FROM documents
              WHERE {fcol} IS NOT NULL) AS avgdl),
tf_{fcol} AS (SELECT doc_id, term, count(*) AS tf FROM tok2_{fcol}
              WHERE term IN ({tlist}) GROUP BY doc_id, term),
df_{fcol} AS (SELECT term, count(*) AS df FROM tf_{fcol} GROUP BY term)""")
        contribs.append(f"""
  SELECT tf.doc_id, tf.term,
         {boost} * ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))
           AS contrib
  FROM tf_{fcol} tf JOIN df_{fcol} df USING (term)
  JOIN dl_{fcol} dl USING (doc_id) CROSS JOIN st_{fcol} s""")
    return f"""
WITH {','.join(ctes)},
allc AS ({' UNION ALL '.join(contribs)}),
agg AS (
  SELECT doc_id, sum(contrib) AS raw_score,
         count(DISTINCT term) AS nt
  FROM allc GROUP BY doc_id)
SELECT doc_id, round(raw_score, 6) AS score
FROM agg WHERE nt = {len(terms)}
ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


# ---------------------------------------------------------------------
# round-4 gates: previously pytest-only SURVEY §2 operators
# ---------------------------------------------------------------------

def _temporal_resolution_sql() -> str:
    """The reference's coarse→fine probe (temporal.py:36-71) as one
    CASE: first resolution whose n_distinct/bins < 1.05."""
    def one(table: str, col: str) -> str:
        bins = ", ".join(
            f"count(DISTINCT date_trunc('{r}', {col})) AS b_{r}"
            for r in ("year", "quarter", "month", "week", "day",
                      "hour", "minute", "second"))
        whens = " ".join(
            f"WHEN n / b_{r} < 1.05 THEN '{r}'"
            for r in ("year", "quarter", "month", "week", "day",
                      "hour", "minute", "second"))
        return (f"SELECT '{col}' AS col, CASE {whens} ELSE 'second' END"
                f" AS resolution FROM (SELECT count(DISTINCT {col})*1.0"
                f" AS n, {bins} FROM {table})")
    return (one("orders", "o_orderdate") + " UNION ALL "
            + one("events", "ts"))


def _geohash4_sql() -> str:
    """Base-4 geohash (quadtree) digits in SQL: 8 lon bits + 8 lat
    bits, lon bit first per digit — mirrors geo.geohash_encode's
    quantize (ceil((v-lo)/step)-1, clipped) exactly."""
    digits = " || ".join(
        f"CAST(2*((qlon >> {7 - c}) & 1) + ((qlat >> {7 - c}) & 1)"
        f" AS VARCHAR)"
        for c in range(8))
    return f"""
        WITH pts AS (
          SELECT CAST((c_custkey % 12) * 10 - 55 AS DOUBLE) AS lat,
                 CAST((c_custkey % 10) * 30 - 135 AS DOUBLE) AS lon
          FROM customer),
        q AS (
          SELECT least(greatest(CAST(ceil((lon + 180.0)
                   / (360.0 / 256.0)) AS BIGINT) - 1, 0), 255) AS qlon,
                 least(greatest(CAST(ceil((lat + 90.0)
                   / (180.0 / 256.0)) AS BIGINT) - 1, 0), 255) AS qlat
          FROM pts),
        h AS (SELECT {digits} AS hash FROM q)
        SELECT hash, count(*) AS number FROM h
        GROUP BY hash ORDER BY hash"""

def _q_augment_join(spark, sf_dir):
    """Augmentation join with post-join fan-in aggregation (reference
    augmentation.py:250-336, 376-547): every customer row keeps its
    identity; matched orders fold back as mean/sum/max/min columns."""
    from auctus_spark.operators.joins import augment_join
    c = _t(spark, sf_dir, "customer")
    o = (_t(spark, sf_dir, "orders")
         .withColumnRenamed("o_custkey", "c_custkey"))
    out = augment_join(
        c, o, on=["c_custkey"],
        agg_columns={"o_totalprice": ["mean", "sum", "max", "min"]},
        keep_columns=["o_totalprice"])
    return out.select(
        "c_custkey", "c_mktsegment",
        F.round("mean_o_totalprice", 6).alias("mean_o_totalprice"),
        F.round("sum_o_totalprice", 6).alias("sum_o_totalprice"),
        F.round("max_o_totalprice", 6).alias("max_o_totalprice"),
        F.round("min_o_totalprice", 6).alias("min_o_totalprice"))


def _q_temporal_aligned_join(spark, sf_dir):
    """Cross-resolution temporal join (reference augmentation.py:
    134-231): hourly event rollups truncated onto daily order-side
    resolution — coarser side wins."""
    from auctus_spark.operators.joins import temporal_aligned_join
    ev = _t(spark, sf_dir, "events")
    left = (ev.groupBy(F.date_trunc("day", "ts").alias("d"))
            .agg(F.count("*").alias("n_day")))
    right = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
             .agg(F.sum("value").alias("v_hour")))
    out = temporal_aligned_join(left, right, "d", "h", "day", "hour")
    return out.select("d", "n_day", "h",
                      F.round("v_hour", 6).alias("v_hour"))


def _q_spatial_overlap(spark, sf_dir):
    """Spatial box-intersection candidate scoring (reference
    join.py:255-358): intersection-area / query-area summed over query
    boxes, boost_mode replace.  Boxes derived deterministically from
    customer keys."""
    from auctus_spark.operators.joins import spatial_overlap_score
    c = _t(spark, sf_dir, "customer")
    cand = c.select(
        F.col("c_custkey").alias("cand_id"),
        ((F.col("c_custkey") % 60) - 30).cast("double").alias("min_lon"),
        ((F.col("c_custkey") % 40) - 20).cast("double").alias("min_lat"),
        ((F.col("c_custkey") % 60) - 30 + 1 + (F.col("c_custkey") % 5))
        .cast("double").alias("max_lon"),
        ((F.col("c_custkey") % 40) - 20 + 1 + (F.col("c_custkey") % 3))
        .cast("double").alias("max_lat"))
    q = spark.createDataFrame(
        [(-10.0, -10.0, 10.0, 10.0), (0.0, 0.0, 25.0, 15.0)],
        "q_min_lon double, q_min_lat double, q_max_lon double, "
        "q_max_lat double")
    out = spatial_overlap_score(cand, q)
    return out.select("cand_id", F.round("score", 6).alias("score"))


def _q_lazo_containment(spark, sf_dir):
    """Directional Lazo containment |A∩B|/|A| (reference
    join.py:462-554, 633-662) over the documents table — ranks
    asymmetric-size near-pairs symmetric Jaccard misses."""
    from auctus_spark.operators.dedup import containment_pairs
    out = containment_pairs(_docs(spark, sf_dir), threshold=0.5)
    return out.select("id_q", "id_c",
                      F.round("containment", 6).alias("containment"))


def _q_script_score(spark, sf_dir):
    """Generic script_score facade (reference join.py:176-252) with a
    formula neither built-in scorer implements: fraction of the
    CANDIDATE interval covered by the query range, score_mode max,
    outer weight 2.0 (function_score boost_mode multiply)."""
    from auctus_spark.operators.joins import script_score_join
    c = _t(spark, sf_dir, "customer")
    cand = c.select(
        F.col("c_custkey").alias("cand_id"),
        (F.col("c_custkey") % 500).cast("double").alias("gte"),
        ((F.col("c_custkey") % 500) + 1 + (F.col("c_custkey") % 50))
        .cast("double").alias("lte"))
    q = spark.createDataFrame(
        [(0.0, 100.0), (200.0, 260.0), (400.0, 470.0)],
        "q_gte double, q_lte double")
    match = ((F.col("q_gte") <= F.col("lte"))
             & (F.col("q_lte") >= F.col("gte")))
    script = ((F.least("lte", "q_lte") - F.greatest("gte", "q_gte") + 1)
              / (F.col("lte") - F.col("gte") + 1))
    out = script_score_join(cand, q, match, script, "max", weight=2.0)
    return out.select("cand_id", F.round("score", 6).alias("score"))


def _q_search_service(spark, sf_dir):
    """Full search-service request (reference apiserver semantics):
    terms filters on lang+source, must_not docID exclusions, BM25
    keywords over the FILTERED base (per-request corpus stats, like
    an ES filtered query), page-1 window."""
    from auctus_spark.query.search import SearchQuery, SearchService
    svc = SearchService(_docs(spark, sf_dir))
    q = SearchQuery(keywords="data join",
                    filters={"lang": ["en", "fr"],
                             "source": ["src0", "src1", "src2", "src3",
                                        "src4", "src5", "src6", "src7"]},
                    exclude_ids=[1, 2, 3, 5, 8], page=1, size=50)
    out = svc.search(q)["hits"]
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_function_score_boost(spark, sf_dir):
    """function_score filter+weight (reference search/__init__.py:
    112-161): conjunctive keyword filter match scores a constant
    weight, boost_mode replace."""
    from auctus_spark.query.search import keyword_filter_boost
    out = keyword_filter_boost(_docs(spark, sf_dir), "data join",
                               weight=10.0)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_dis_max(spark, sf_dir):
    """ES dis_max over two match clauses, tie_breaker 0.3: best
    clause + 0.3 * the rest (Lucene DisjunctionMaxQuery), one scan."""
    out = pipeline.dis_max_topk(_docs(spark, sf_dir),
                                ["data join", "filter scan"],
                                k=50, tie_breaker=0.3, round_to=6)
    return out


def _dis_max_sql(clauses: list[list[str]], tie_breaker: float,
                 k: int = 50) -> str:
    all_terms = sorted({t for c in clauses for t in c})
    tlist = ", ".join(f"'{t}'" for t in all_terms)
    cl_ctes = ",\n".join(
        f"c{i} AS (SELECT doc_id, sum(c) AS s FROM contrib "
        f"WHERE term IN ({', '.join(repr(t) for t in c)}) "
        f"GROUP BY doc_id)" for i, c in enumerate(clauses))
    joins = " ".join(f"LEFT JOIN c{i} USING (doc_id)"
                     for i in range(len(clauses)))
    s_cols = [f"coalesce(c{i}.s, 0.0)" for i in range(len(clauses))]
    total = " + ".join(s_cols)
    mx = f"greatest({', '.join(s_cols)})"
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))
           AS c
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
{cl_ctes},
docs AS (SELECT DISTINCT doc_id FROM contrib),
scored AS (
  SELECT docs.doc_id,
         {mx} + {tie_breaker} * (({total}) - {mx}) AS raw_score
  FROM docs {joins}
)
SELECT doc_id, round(raw_score, 6) AS score
FROM scored ORDER BY round(raw_score, 6) DESC, doc_id ASC LIMIT {k}
"""


def _q_boosting(spark, sf_dir):
    """ES boosting query: positive match scores normally; docs also
    matching the negative clause are demoted (score * 0.3), never
    excluded."""
    out = pipeline.boosting_topk(_docs(spark, sf_dir),
                                 positive="data join",
                                 negative="slow error",
                                 negative_boost=0.3, k=50, round_to=6)
    return out


def _boosting_sql(pos: list[str], neg: list[str],
                  negative_boost: float, k: int = 50) -> str:
    nlist = ", ".join(f"'{t}'" for t in neg)
    base = _bm25_or_sql(pos, k)
    demoted = (f"s.raw_score * CASE WHEN n.doc_id IS NOT NULL "
               f"THEN {negative_boost} ELSE 1.0 END")
    return base.replace(
        "SELECT doc_id, round(raw_score, 6) AS score\nFROM scored",
        f"""SELECT s.doc_id, round({demoted}, 6) AS score
FROM scored s LEFT JOIN (SELECT DISTINCT doc_id FROM tok2
                         WHERE term IN ({nlist})) n USING (doc_id)"""
    ).replace("ORDER BY raw_score DESC",
              f"ORDER BY round({demoted}, 6) DESC")


def _q_decay_gauss(spark, sf_dir):
    """ES function_score gauss decay on n_chars (boost_mode
    multiply): BM25(match) * exp(ln(decay) * dist^2 / scale^2)."""
    out = pipeline.function_score_decay(
        _docs(spark, sf_dir), "data join", field="n_chars",
        origin=500.0, scale=300.0, offset=50.0, decay=0.5,
        kind="gauss", k=50, round_to=6)
    return out


def _decay_gauss_sql(terms: list[str], origin: float, scale: float,
                     offset: float, decay: float, k: int = 50) -> str:
    import math
    base = _bm25_or_sql(terms, k)
    mult = (f"exp({math.log(decay)!r} * "
            f"pow(greatest(0.0, abs(d.n_chars - {origin}) - {offset}), 2)"
            f" / {scale * scale})")
    return base.replace(
        "SELECT doc_id, round(raw_score, 6) AS score\nFROM scored",
        f"""SELECT s.doc_id, round(s.raw_score * {mult}, 6) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id""").replace(
        "ORDER BY raw_score DESC, doc_id ASC",
        f"ORDER BY round(s.raw_score * {mult}, 6) DESC, s.doc_id ASC")


def _q_field_value_factor(spark, sf_dir):
    """ES function_score field_value_factor log1p on n_chars:
    BM25(match) * ln(1 + 0.1 * n_chars)."""
    out = pipeline.field_value_factor_topk(
        _docs(spark, sf_dir), "data join", field="n_chars",
        factor=0.1, modifier="log1p", k=50, round_to=6)
    return out


def _fvf_sql(terms: list[str], factor: float, k: int = 50) -> str:
    base = _bm25_or_sql(terms, k)
    mult = f"ln(1.0 + {factor} * d.n_chars)"
    return base.replace(
        "SELECT doc_id, round(raw_score, 6) AS score\nFROM scored",
        f"""SELECT s.doc_id, round(s.raw_score * {mult}, 6) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id""").replace(
        "ORDER BY raw_score DESC, doc_id ASC",
        f"ORDER BY round(s.raw_score * {mult}, 6) DESC, s.doc_id ASC")


def _q_cms_counts(spark, sf_dir):
    """Count-min sketch point estimates over the token stream —
    md5-hashed counters the oracle rebuilds identically (w=256
    deliberately small so collisions and the min-rule are
    exercised)."""
    from auctus_spark.operators.profiling import cms_estimates
    toks = _docs(spark, sf_dir).select(
        F.explode(F.filter(F.split(F.lower(F.col("text")),
                                   SPLIT_PATTERN),
                           lambda x: x != "")).alias("tok"))
    return cms_estimates(toks, "tok",
                         ["data", "join", "the", "zzz_absent"],
                         w=256, d=4)


def _cms_counts_sql(keys: list[str], w: int, d: int) -> str:
    kvals = ", ".join(f"('{k}')" for k in keys)
    h = (f"('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || v), 1, 15))"
         f"::BIGINT % {w}")
    return f"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS v
  FROM documents),
tok2 AS (SELECT v FROM tok WHERE v <> ''),
s AS (SELECT unnest(generate_series(0, {d - 1})) AS i),
c AS (SELECT i, {h} AS b, count(*) AS cnt
      FROM tok2, s GROUP BY i, b),
k AS (SELECT key, i, {h.replace("|| v", "|| key")} AS b
      FROM (VALUES {kvals}) t(key), s)
SELECT key, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS estimate
FROM k LEFT JOIN c USING (i, b) GROUP BY key
"""


def _q_bloom_contains(spark, sf_dir):
    """Bloom-filter membership over the token vocabulary: present
    tokens always true, an absent probe answers by the shared bits."""
    from auctus_spark.operators.profiling import bloom_contains
    toks = _docs(spark, sf_dir).select(
        F.explode(F.filter(F.split(F.lower(F.col("text")),
                                   SPLIT_PATTERN),
                           lambda x: x != "")).alias("tok"))
    return bloom_contains(toks, "tok",
                          ["data", "join", "zzz_absent", "qq_nope"],
                          m=4096, k=4)


def _bloom_contains_sql(keys: list[str], m: int, k: int) -> str:
    kvals = ", ".join(f"('{key}')" for key in keys)
    h = (f"('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || v), 1, 15))"
         f"::BIGINT % {m}")
    return f"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS v
  FROM documents),
tok2 AS (SELECT v FROM tok WHERE v <> ''),
s AS (SELECT unnest(generate_series(0, {k - 1})) AS i),
bits AS (SELECT DISTINCT {h} AS b FROM tok2, s),
probe AS (SELECT key, i, {h.replace("|| v", "|| key")} AS b
          FROM (VALUES {kvals}) t(key), s),
hit AS (SELECT key, count(*) AS nh FROM probe
        WHERE b IN (SELECT b FROM bits) GROUP BY key)
SELECT t.key, coalesce(hit.nh, 0) = {k} AS maybe_present
FROM (VALUES {kvals}) t(key) LEFT JOIN hit ON hit.key = t.key
"""


def _q_phrase_suggest(spark, sf_dir):
    """ES phrase suggester: per-token top-3 Damerau candidates
    (dist asc, df desc, term asc, self included), candidate phrases
    ranked by the add-1 unigram LM over corpus term counts."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    return eng.suggest_phrases("dta joinn", size=3, per_token=3,
                               max_edits=2, prefix_length=1)


def _phrase_suggest_sql(tokens: list[str], size: int = 3,
                        per_token: int = 3, max_edits: int = 2,
                        alpha: float = 1.0) -> str:
    cands = ",\n".join(f"""
c{i} AS (SELECT term, cf FROM dict
         WHERE substr(term, 1, 1) = '{t[0]}'
           AND damerau_levenshtein(term, '{t}') <= {max_edits}
         ORDER BY damerau_levenshtein(term, '{t}') ASC, df DESC,
                  term ASC
         LIMIT {per_token})""" for i, t in enumerate(tokens))
    phrase = " || ' ' || ".join(f"c{i}.term"
                                for i in range(len(tokens)))
    raw = " + ".join(
        f"ln((c{i}.cf + {float(alpha)}) / "
        f"((SELECT t FROM tot) + {float(alpha)} * (SELECT v FROM tot)))"
        for i in range(len(tokens)))
    froms = ", ".join(f"c{i}" for i in range(len(tokens)))
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dict AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
         FROM tok2 GROUP BY term),
tot AS (SELECT (SELECT count(*) * 1.0 FROM tok2) AS t,
               (SELECT count(*) * 1.0 FROM dict) AS v),
{cands}
SELECT {phrase} AS phrase, round({raw}, 6) AS score
FROM {froms}
ORDER BY round({raw}, 6) DESC, phrase ASC LIMIT {size}
"""


def _q_term_suggest(spark, sf_dir):
    """ES term suggester ("did you mean") on the segment index:
    per missing token, dictionary terms within 2 edits ranked
    (dist asc, df desc, term asc), top 5."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    return eng.suggest_terms("dta joinn", size=5, max_edits=2,
                             prefix_length=1)


def _term_suggest_sql(tokens: list[str], size: int = 5,
                      max_edits: int = 2) -> str:
    cands = "\nUNION ALL\n".join(f"""
  SELECT '{t}' AS token, term AS suggestion,
         damerau_levenshtein(term, '{t}') AS dist, df
  FROM dict
  WHERE substr(term, 1, 1) = '{t[0]}'
    AND damerau_levenshtein(term, '{t}') <= {max_edits}
    AND term <> '{t}'
    AND NOT EXISTS (SELECT 1 FROM dict d2 WHERE d2.term = '{t}')"""
        for t in tokens)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
         GROUP BY term),
cand AS ({cands}),
ranked AS (
  SELECT token, suggestion, CAST(dist AS INTEGER) AS dist,
         CAST(df AS BIGINT) AS df,
         CAST(row_number() OVER (PARTITION BY token
              ORDER BY dist ASC, df DESC, suggestion ASC) AS INTEGER)
           AS rank
  FROM cand)
SELECT * FROM ranked WHERE rank <= {size}
"""


def _q_term_vectors(spark, sf_dir):
    """ES _termvectors (term_statistics=true) for five docs from the
    segment index: per-doc (term, tf) + global df."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    return eng.term_vectors([1, 2, 3, 5, 8])


def _term_vectors_sql(doc_ids: list[int]) -> str:
    ids = ", ".join(str(d) for d in doc_ids)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE doc_id IN ({ids}) GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
       GROUP BY term)
SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
       CAST(df.df AS BIGINT) AS df
FROM tf JOIN df USING (term)
"""


def _q_cardinality_hll(spark, sf_dir):
    """ES cardinality aggregation analog: deterministic HyperLogLog
    (md5-based 60-bit hash, p=12) — registers and estimate are
    re-derivable in ANSI SQL, so this is a FULL-oracle approximate
    sketch (the oracle recomputes the identical sketch, not the
    exact count)."""
    from auctus_spark.operators.profiling import hll_cardinality
    out = hll_cardinality(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    return out.select(F.round("estimate", 6).alias("estimate"),
                      "registers_used", "exact_small")


def _cardinality_hll_sql(col: str, table: str, p: int = 12) -> str:
    from auctus_spark.operators.profiling import hll_alpha
    m = 1 << p
    k_max = 60 - p + 1
    suf_mod = 1 << (60 - p)
    num = repr(hll_alpha(m) * m * m * float(1 << k_max))
    raw = f"{num} / CAST(s_total AS DOUBLE)"
    small = f"({raw} <= {2.5 * m!r} AND zeros > 0)"
    return f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT
           AS v
  FROM {table}),
r AS (SELECT v // {suf_mod} AS reg,
             CASE WHEN v % {suf_mod} = 0 THEN {k_max}
                  ELSE {k_max} - length(bin(v % {suf_mod})) END AS rho
      FROM h),
regs AS (SELECT reg, max(rho) AS mx FROM r GROUP BY reg),
a AS (SELECT coalesce(sum(1::BIGINT << ({k_max} - mx)), 0) AS s,
             count(*) AS n
      FROM regs),
f AS (SELECT s + ({m} - n) * (1::BIGINT << {k_max}) AS s_total,
             {m} - n AS zeros, n FROM a)
SELECT round(CASE WHEN {small}
             THEN {float(m)!r} * ln({float(m)!r} / CAST(zeros AS DOUBLE))
             ELSE {raw} END, 6) AS estimate,
       CAST(n AS BIGINT) AS registers_used,
       {small} AS exact_small
FROM f
"""


def _q_temporal_histogram(spark, sf_dir):
    """10-bin temporal histogram over unix seconds (reference
    core.py:380-399)."""
    from auctus_spark.operators.profiling import temporal_histogram
    out = temporal_histogram(_t(spark, sf_dir, "events"), "ts")
    return out.select("bin", "count",
                      F.round("bin_start", 6).alias("bin_start"))


def _q_gopher_rules(spark, sf_dir):
    """Published Gopher quality-rule battery (Rae et al. 2021 App. A)
    over the documents table — JVM-side expressions, one scan."""
    from auctus_spark.operators.textstats import gopher_rules
    out = gopher_rules(_docs(spark, sf_dir))
    return out.select("doc_id", "n_words", "r_word_count",
                      "r_mean_word_len", "r_symbol_ratio",
                      "r_bullet_lines", "r_ellipsis_lines",
                      "r_alpha_words", "r_stopwords", "gopher_keep")


def _q_gopher_repetition(spark, sf_dir):
    """Gopher repetition filters (duplicate-line fractions + top
    n-gram char fractions, published thresholds) over documents."""
    from auctus_spark.operators.textstats import gopher_repetition
    out = gopher_repetition(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("dup_para_frac", 6).alias("dup_para_frac"),
        F.round("dup_para_char_frac", 6).alias("dup_para_char_frac"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        F.round("top_3gram_char_frac", 6).alias("top_3gram_char_frac"),
        F.round("top_4gram_char_frac", 6).alias("top_4gram_char_frac"),
        "rep_keep")


def _q_c4_rules(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020 §2.2 public subset) over
    the documents table."""
    from auctus_spark.operators.textstats import c4_rules
    out = c4_rules(_docs(spark, sf_dir))
    return out.select("doc_id", "n_kept_lines", "n_sentences",
                      "has_lorem", "has_brace", "c4_keep")


def _q_pii_redact(spark, sf_dir):
    """Regex PII redaction (ROOTS/FineWeb stage): emails, IPv4s and
    phone-shaped numbers -> typed placeholders + per-category counts.
    PII is planted deterministically on 2/3 of the docs (the corpus
    itself has none), identically in the SQL oracle."""
    from auctus_spark.operators.textstats import pii_redact
    d = _docs(spark, sf_dir)
    aug = F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), F.lit(" contact u"),
                 F.col("doc_id").cast("string"),
                 F.lit("@ex.com via 10.1.2."),
                 (F.col("doc_id") % 200).cast("string"),
                 F.lit(" tel 555-123-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"),
                        4, "0")))
    out = pii_redact(d.withColumn("text", aug))
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                      "redacted")


def _pii_redact_sql() -> str:
    from auctus_spark.operators.textstats import PII_PATTERNS
    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    repls = {name: repl for name, pat, repl in PII_PATTERNS}
    red = "aug"
    for name, _, _ in PII_PATTERNS:
        red = (f"regexp_replace({red}, '{pats[name]}', "
               f"'{repls[name]}', 'g')")
    counts = ", ".join(
        f"CAST(length(regexp_extract_all(aug, '{pats[name]}')) AS "
        f"INTEGER) AS n_{name}" for name, _, _ in PII_PATTERNS)
    return f"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              ELSE text || ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@ex.com via 10.1.2.'
                   || CAST(doc_id % 200 AS VARCHAR)
                   || ' tel 555-123-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         END AS aug
  FROM documents)
SELECT doc_id, {counts}, {red} AS redacted FROM a
"""


def _q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram LM quality proxy (CCNet perplexity-filter
    analog): per-doc mean -ln p(token) with add-1 smoothing."""
    from auctus_spark.operators.textstats import unigram_logprob
    out = unigram_logprob(_docs(spark, sf_dir))
    return out.select("doc_id", "n_tokens",
                      F.round("mean_neg_logprob", 6)
                      .alias("mean_neg_logprob"))


_UNIGRAM_LOGPROB_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{split}')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
c AS (SELECT term, count(*) AS c FROM tok2 GROUP BY term),
t AS (SELECT sum(c) AS T, count(*) AS V FROM c)
SELECT tok2.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(-ln((c.c + 1.0) / (t.T + 1.0 * t.V))) / count(*), 6)
         AS mean_neg_logprob
FROM tok2 JOIN c USING (term) CROSS JOIN t
GROUP BY tok2.doc_id
"""


def _q_weighted_sample(spark, sf_dir):
    """Deterministic per-source Bernoulli sampling (training-data
    mixing): keep iff md5(doc_id)[:8] < hex threshold(weight)."""
    from auctus_spark.operators.sampling import weighted_sample
    out = weighted_sample(_docs(spark, sf_dir),
                          {"src0": 1.0, "src1": 0.6, "src2": 0.25,
                           "src3": 0.0},
                          default_weight=0.5)
    return out.select("doc_id", "source")


def _weighted_sample_sql(weights: dict[str, float],
                         default_weight: float) -> str:
    from auctus_spark.operators.sampling import _hex_threshold
    cases = " ".join(f"WHEN '{s}' THEN '{_hex_threshold(w)}'"
                     for s, w in sorted(weights.items()))
    return f"""
SELECT doc_id, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE source {cases}
           ELSE '{_hex_threshold(default_weight)}' END
"""


def _q_deterministic_split(spark, sf_dir):
    """Hash-range train/val/test assignment (80/10/10), reproducible
    across engines / cluster sizes / repartitions."""
    from auctus_spark.operators.sampling import deterministic_split
    out = deterministic_split(
        _docs(spark, sf_dir),
        {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "split")


def _deterministic_split_sql(fractions: dict[str, float]) -> str:
    from auctus_spark.operators.sampling import _hex_threshold
    names = list(fractions)
    cum, whens = 0.0, []
    for name in names[:-1]:
        cum += fractions[name]
        whens.append(f"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
                     f" < '{_hex_threshold(cum)}' THEN '{name}'")
    return f"""
SELECT doc_id, CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split
FROM documents
"""


def _q_collapse(spark, sf_dir):
    """ES field collapsing: best hit per lang, re-ranked."""
    out = pipeline.collapse_topk(_docs(spark, sf_dir), "data join",
                                 "lang", k=10, round_to=6)
    return out


def _collapse_sql(terms: list[str], k: int = 10) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                        / s.avgdl)))), 6) AS score,
         count(*) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
hits AS (SELECT s.doc_id, d.lang, s.score
         FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         WHERE s.nt = {len(terms)}),
best AS (SELECT doc_id, lang, score,
                row_number() OVER (PARTITION BY lang
                  ORDER BY score DESC, doc_id ASC) AS rn
         FROM hits)
SELECT doc_id, lang, score FROM best WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_search_after(spark, sf_dir):
    """ES search_after deep paging: next 10 hits strictly after the
    (0.35, 0) cursor — the skipped prefix is a predicate, not
    materialized rows."""
    return pipeline.search_after_topk(_docs(spark, sf_dir),
                                      "data join", after_score=0.35,
                                      after_id=0, k=10)


def _search_after_sql(terms: list[str], after_score: float,
                      after_id: int, k: int = 10) -> str:
    base = _bm25_sql(terms, 10 ** 9)
    return base.replace(
        f"FROM scored WHERE nt = {len(terms)}",
        f"""FROM scored WHERE nt = {len(terms)}
  AND (round(raw_score, 6) < {after_score}
       OR (round(raw_score, 6) = {after_score}
           AND doc_id > {after_id}))""").replace(
        "ORDER BY raw_score DESC, doc_id ASC LIMIT 1000000000",
        f"ORDER BY round(raw_score, 6) DESC, doc_id ASC LIMIT {k}")


def _q_geo_distance(spark, sf_dir):
    """ES geo_distance query: customers (deterministic derived
    coordinates) within 1500 km of (10, 20), exact haversine over a
    bbox pre-filter."""
    from auctus_spark.operators.geo import geo_distance_filter
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 80) - 40).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 160) - 80).cast("double")
        .alias("lon"))
    out = geo_distance_filter(c, "lat", "lon", origin_lat=10.0,
                              origin_lon=20.0, radius_km=1500.0)
    return out.select("c_custkey", "lat", "lon",
                      F.round("distance_km", 6).alias("distance_km"))


_GEO_DISTANCE_SQL = """
WITH c AS (
  SELECT c_custkey,
         CAST((c_custkey % 80) - 40 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 160) - 80 AS DOUBLE) AS lon
  FROM customer),
d AS (
  SELECT c_custkey, lat, lon,
         2.0 * 6371.0088 * asin(sqrt(
           sin(radians(10.0 - lat) / 2) * sin(radians(10.0 - lat) / 2)
           + cos(radians(lat)) * cos(radians(10.0))
             * sin(radians(20.0 - lon) / 2)
             * sin(radians(20.0 - lon) / 2))) AS distance_km
  FROM c)
SELECT c_custkey, lat, lon, round(distance_km, 6) AS distance_km
FROM d WHERE distance_km <= 1500.0
"""


def _q_date_histogram(spark, sf_dir):
    """ES date_histogram (calendar day, min_doc_count=0): dense
    calendar axis with zero-count buckets."""
    from auctus_spark.operators.profiling import date_histogram
    e = _t(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    return date_histogram(e, "ts", interval="day", min_doc_count=0)


_DATE_HISTOGRAM_SQL = """
WITH b AS (SELECT date_trunc('day', ts) AS bucket FROM events
           WHERE ts IS NOT NULL),
c AS (SELECT bucket, count(*) AS count FROM b GROUP BY bucket),
mm AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c),
axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
           AS bucket FROM mm)
SELECT axis.bucket AS bucket_start,
       CAST(coalesce(c.count, 0) AS BIGINT) AS count
FROM axis LEFT JOIN c USING (bucket) ORDER BY bucket
"""


def _q_ingest_pipeline(spark, sf_dir):
    """ES ingest pipeline (operators/ingest.ingest_pipeline): grok
    the k field out of the props JSON, convert+rename, enrich with a
    broadcast lookup (event_type -> type_code), set a constant,
    uppercase — the whole pipeline compiles to ONE projection over
    one scan plus the broadcast enrich join."""
    from auctus_spark.operators.ingest import ingest_pipeline
    e = _t(spark, sf_dir, "events")
    lookup = (e.select("event_type").distinct()
              .withColumn("type_code",
                          F.upper(F.substring("event_type", 1, 1))))
    procs = [
        {"grok": {"field": "props", "pattern": '"k": ([0-9]+)',
                  "captures": {"k_str": 1}}},
        {"convert": {"field": "k_str", "type": "int"}},
        {"rename": {"field": "k_str", "target_field": "k"}},
        {"enrich": {"lookup": "types", "on": "event_type",
                    "fields": ["type_code"]}},
        {"set": {"field": "source", "value": "events"}},
        {"uppercase": {"field": "event_type"}},
    ]
    out = ingest_pipeline(e, procs, lookups={"types": lookup})
    return out.select("event_id", "k", "type_code", "source",
                      "event_type")


_INGEST_SQL = """
WITH lk AS (SELECT DISTINCT event_type,
                   upper(substr(event_type, 1, 1)) AS type_code
            FROM events)
SELECT e.event_id,
       regexp_extract(e.props, '"k": ([0-9]+)', 1)::INT AS k,
       lk.type_code,
       'events' AS source,
       upper(e.event_type) AS event_type
FROM events e LEFT JOIN lk USING (event_type)
"""


def _q_rank_eval(spark, sf_dir):
    """ES Ranking Evaluation API (operators/rankeval.rank_eval):
    three term queries, results = top-10 docs by raw tf (tf desc,
    doc_id asc), judgments = graded rating least(tf, 3) for docs with
    tf >= 2 — emits precision@10 / recall@10 / reciprocal rank /
    nDCG@10 per query, every metric recomputed by the SQL oracle."""
    from pyspark.sql import Window
    from auctus_spark.operators.rankeval import rank_eval
    d = _docs(spark, sf_dir)
    terms = ["join", "data", "hash"]
    tok = d.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), SPLIT_PATTERN),
                           lambda x: x != "")).alias("term"))
    tf = (tok.filter(F.col("term").isin(terms))
          .groupBy("term", "doc_id")
          .agg(F.count(F.lit(1)).alias("tf")))
    w = Window.partitionBy("term").orderBy(F.desc("tf"),
                                           F.asc("doc_id"))
    results = (tf.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= 10)
               .select(F.col("term").alias("query_id"), "doc_id",
                       "rank"))
    ratings = (tf.filter(F.col("tf") >= 2)
               .select(F.col("term").alias("query_id"), "doc_id",
                       F.least(F.col("tf"), F.lit(3)).cast("int")
                       .alias("rating")))
    return rank_eval(results, ratings, k=10).withColumnsRenamed(
        {"precision": "precision_k", "recall": "recall_k"})


_RANK_EVAL_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
         '{{SPLIT}}')) AS term FROM documents),
tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
       WHERE term IN ('join', 'data', 'hash') GROUP BY 1, 2),
res AS (SELECT term AS query_id, doc_id, rank FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term
                              ORDER BY tf DESC, doc_id ASC) AS rank
    FROM tf) WHERE rank <= 10),
rat AS (SELECT term AS query_id, doc_id, least(tf, 3)::INT AS rating
        FROM tf WHERE tf >= 2),
j AS (SELECT r.query_id, r.rank, coalesce(rat.rating, 0) AS rating
      FROM res r LEFT JOIN rat USING (query_id, doc_id)),
per AS (SELECT query_id, count(*) AS retrieved,
          sum(CASE WHEN rating >= 1 THEN 1 ELSE 0 END) AS rel_ret,
          min(CASE WHEN rating >= 1 THEN rank END) AS first_rel,
          sum((pow(2.0, rating) - 1.0) / log2(rank + 1.0)) AS dcg
        FROM j GROUP BY query_id),
ideal AS (SELECT query_id,
            sum((pow(2.0, rating) - 1.0) / log2(ir + 1.0)) AS idcg
          FROM (SELECT query_id, rating,
                  row_number() OVER (PARTITION BY query_id
                     ORDER BY rating DESC, doc_id ASC) AS ir
                FROM rat) WHERE ir <= 10 GROUP BY query_id),
tot AS (SELECT query_id,
          sum(CASE WHEN rating >= 1 THEN 1 ELSE 0 END) AS total_rel
        FROM rat GROUP BY query_id)
SELECT p.query_id,
  round(rel_ret * 1.0 / retrieved, 6) AS precision_k,
  round(CASE WHEN coalesce(total_rel, 0) > 0
             THEN rel_ret * 1.0 / total_rel ELSE 0.0 END, 6)
    AS recall_k,
  round(coalesce(1.0 / first_rel, 0.0), 6) AS reciprocal_rank,
  round(CASE WHEN coalesce(idcg, 0.0) > 0
             THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
FROM per p LEFT JOIN ideal USING (query_id)
LEFT JOIN tot USING (query_id)
"""


def _q_shingle_phrase(spark, sf_dir):
    """Lucene ShingleFilter / ES search_as_you_type _2gram
    (pipeline.shingle_phrase_topk): 'hash join' matched as ONE
    2-shingle term, BM25 over the shingle field's own stats — the
    fast-phrase trade with zero positions machinery."""
    return pipeline.shingle_phrase_topk(
        _docs(spark, sf_dir), "hash join", k=50, round_to=6)


_SHINGLE_PHRASE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{{SPLIT}}'), x -> x <> '') AS l
  FROM documents),
sh AS (SELECT doc_id, len(l) AS ln,
         list_transform(range(1, greatest(len(l), 1)),
                        i -> l[i] || ' ' || l[i + 1]) AS s
       FROM toks),
st AS (SELECT count(*) AS n,
         sum(greatest(ln - 1, 0)) AS tot,
         sum(CASE WHEN list_contains(s, 'hash join')
                  THEN 1 ELSE 0 END) AS df
       FROM sh),
sc AS (SELECT doc_id,
         len(list_filter(s, x -> x = 'hash join')) AS tf,
         greatest(ln - 1, 0) AS dl
       FROM sh WHERE list_contains(s, 'hash join'))
SELECT doc_id,
       round(ln(1 + (n - df + 0.5) / (df + 0.5))
             * (tf / (tf + 1.2
                * (0.25 + 0.75 * dl / (tot * 1.0 / n)))), 6)
         AS score
FROM sc, st
ORDER BY score DESC, doc_id ASC LIMIT 50
"""


def _q_bm25_explain(spark, sf_dir):
    """ES _explain flattened (SearchEngine.explain): one row per
    (top-10 conjunctive doc, query term) with tf, dl, df, idf, the
    BM25 tf-norm and the term contribution — every factor recomputed
    independently by the SQL oracle."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import (FORMAT_VERSION, IndexBuilder,
                                          read_format, wipe)
    from auctus_spark.query.bm25 import SearchEngine

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    idx_dir = f"/tmp/auctus_entry_index_{tag}"
    corpus = _docs_seq(spark, sf_dir).select(
        "doc_id", F.col("text").alias("content"))
    b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                     chunk_docs=1 << 12, term_buckets=16)
    if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
            or read_format(idx_dir) != FORMAT_VERSION):
        wipe(idx_dir)
        b.build(corpus)
    eng = SearchEngine(spark, idx_dir, term_buckets=16)
    out = eng.explain("data join", k=10)
    return out.select(
        "doc_id", F.round("score", 6).alias("score"), "term", "tf",
        "dl", "df", F.round("idf", 6).alias("idf"),
        F.round("tf_norm", 6).alias("tf_norm"),
        F.round("contribution", 6).alias("contribution"))


_BM25_EXPLAIN_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
         '{{SPLIT}}')) AS term FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('data', 'join') GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
fac AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl, dfq.df,
          ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) AS idf,
          (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))
            AS tfn
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats s),
scored AS (SELECT doc_id, sum(idf * tfn) AS raw_score,
                  count(*) AS nt
           FROM fac GROUP BY doc_id),
hits AS (SELECT doc_id, raw_score FROM scored WHERE nt = 2
         ORDER BY raw_score DESC, doc_id ASC LIMIT 10)
SELECT f.doc_id, round(h.raw_score, 6) AS score, f.term,
       f.tf::BIGINT AS tf, f.dl::BIGINT AS dl, f.df::BIGINT AS df,
       round(f.idf, 6) AS idf, round(f.tfn, 6) AS tf_norm,
       round(f.idf * f.tfn, 6) AS contribution
FROM fac f JOIN hits h USING (doc_id)
"""


def _q_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 tf·idf keywords (textstats.tfidf_keywords)
    — the more_like_this interesting-terms selection as a standalone
    training-data op; BM25-idf weighting, rank ties by term asc."""
    from auctus_spark.operators.textstats import tfidf_keywords
    return tfidf_keywords(_docs(spark, sf_dir), k=3)


_TFIDF_KEYWORDS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
         '{{SPLIT}}')) AS term FROM documents),
t2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
s AS (SELECT doc_id, term,
        round(tf * ln(1 + (n.n - df + 0.5) / (df + 0.5)), 6) AS score
      FROM tf JOIN dfq USING (term), n),
r AS (SELECT doc_id, term, score,
        row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term ASC) AS rank
      FROM s)
SELECT doc_id, term, score, rank::BIGINT AS rank
FROM r WHERE rank <= 3
"""


def _q_hex_grid(spark, sf_dir):
    """Hexagonal grid aggregation (geo.hex_grid_agg, the ES
    geohex_grid analog with the documented planar-axial divergence
    from H3): customers' derived coordinates binned into 5-degree
    pointy-top hexes, count per cell."""
    from auctus_spark.operators.geo import hex_grid_agg
    c = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") % 80) - 40).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 160) - 80).cast("double")
        .alias("lon"))
    return hex_grid_agg(c, "lat", "lon", size_deg=5.0)


_HEX_GRID_SQL = """
WITH c AS (SELECT ((c_custkey % 80) - 40)::DOUBLE AS lat,
                  (((c_custkey * 7) % 160) - 80)::DOUBLE AS lon
           FROM customer),
a AS (SELECT (0.5773502691896257 * lon - (1.0 / 3.0) * lat) / 5.0
               AS cx,
             ((2.0 / 3.0) * lat) / 5.0 AS cz
      FROM c),
b AS (SELECT cx, cz, -cx - cz AS cy,
             floor(cx + 0.5) AS rx,
             floor(-cx - cz + 0.5) AS ry,
             floor(cz + 0.5) AS rz
      FROM a),
d AS (SELECT cx, cy, cz, rx, ry, rz,
             abs(rx - cx) AS dx, abs(ry - cy) AS dy,
             abs(rz - cz) AS dz
      FROM b),
h AS (SELECT CASE WHEN dx > dy AND dx > dz THEN -ry - rz
                  ELSE rx END AS hq,
             CASE WHEN dx > dy AND dx > dz THEN rz
                  WHEN dy > dz THEN rz
                  ELSE -rx - ry END AS hr
      FROM d)
SELECT hq::BIGINT AS hex_q, hr::BIGINT AS hex_r,
       count(*) AS doc_count
FROM h GROUP BY 1, 2
"""


def _q_random_sampler(spark, sf_dir):
    """ES random_sampler agg (profiling.random_sampler_agg): terms
    counts by lang over a deterministic p=0.25 Knuth-hash sample of
    documents, with the 1/p-scaled doc_count estimate."""
    from auctus_spark.operators.profiling import random_sampler_agg
    return random_sampler_agg(_docs(spark, sf_dir), "doc_id", "lang",
                              probability=0.25)


_RANDOM_SAMPLER_SQL = """
SELECT lang, count(*) AS sampled_count,
       round(count(*) / 0.25, 6) AS est_doc_count
FROM documents
WHERE ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < 0.25
GROUP BY lang
"""


def _q_downsample_rollup(spark, sf_dir):
    """ES TSDB downsampling / hypertable rollup
    (profiling.downsample_agg): hourly buckets per event_type with
    the gauge summary min/max/sum/value_count and last_value (latest
    ts, event_id tiebreak) — one partial-aggregated shuffle, no
    window."""
    from auctus_spark.operators.profiling import downsample_agg
    e = _t(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    return downsample_agg(e, "ts", dim_cols=("event_type",),
                          value_col="value", id_col="event_id",
                          unit="hour")


_DOWNSAMPLE_SQL = """
WITH r AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
         row_number() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
l AS (SELECT event_type, bucket, value AS v_last FROM r WHERE rn = 1),
g AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        min(value) AS v_min, max(value) AS v_max,
        round(sum(value), 6) AS v_sum, count(value) AS v_count
      FROM events GROUP BY 1, 2)
SELECT g.event_type, g.bucket, v_min, v_max, v_sum, v_count, v_last
FROM g JOIN l USING (event_type, bucket)
"""


def _q_terms_shard_merge(spark, sf_dir):
    """The ES terms aggregation's distributed contract
    (profiling.terms_agg_sharded): 4 deterministic shards
    (o_orderkey % 4), per-shard top-20 customers by order count,
    coordinator merge with doc_count_error_upper_bound = Σ last
    (smallest) returned count of the shards that cut the term,
    final top-10."""
    from auctus_spark.operators.profiling import terms_agg_sharded
    o = _t(spark, sf_dir, "orders")
    return terms_agg_sharded(o, "o_custkey", shard_col="o_orderkey",
                             n_shards=4, shard_size=20, size=10)


_TERMS_SHARD_SQL = """
WITH counts AS (
  SELECT o_orderkey % 4 AS shard, o_custkey AS k, count(*) AS cnt
  FROM orders GROUP BY 1, 2),
coll AS (
  SELECT shard, k, cnt FROM (
    SELECT shard, k, cnt,
           row_number() OVER (PARTITION BY shard
                              ORDER BY cnt DESC, k ASC) AS r
    FROM counts) WHERE r <= 20),
sl AS (SELECT shard, min(cnt) AS last_cnt FROM coll GROUP BY shard),
tl AS (SELECT sum(last_cnt) AS t FROM sl),
m AS (SELECT k, sum(cnt) AS doc_count, sum(last_cnt) AS pl
      FROM coll JOIN sl USING (shard) GROUP BY k)
SELECT k AS o_custkey, doc_count::BIGINT AS doc_count,
       ((SELECT t FROM tl) - pl)::BIGINT
         AS doc_count_error_upper_bound
FROM m ORDER BY doc_count DESC, o_custkey ASC LIMIT 10
"""


def _q_highlight(spark, sf_dir):
    """ES highlighter (number_of_fragments=0): top-k conjunctive hits
    with every whole-word query-term occurrence wrapped in <em>."""
    return pipeline.highlight(_docs(spark, sf_dir), "data join",
                              k=20, round_to=6)


def _highlight_sql(terms: list[str], k: int = 20) -> str:
    import re as _re
    base = _bm25_sql(terms, k)
    pat = (r"(?i)\b(" + "|".join(
        _re.escape(t) for t in sorted(terms, key=len, reverse=True))
        + r")\b")
    return base.replace(
        "SELECT doc_id, round(raw_score, 6) AS score\nFROM scored",
        f"""SELECT s.doc_id, round(s.raw_score, 6) AS score,
       regexp_replace(d.text, '{pat}', '<em>\\1</em>', 'g')
         AS highlighted
FROM scored s JOIN documents d ON d.doc_id = s.doc_id""").replace(
        "ORDER BY raw_score DESC, doc_id ASC",
        "ORDER BY s.raw_score DESC, s.doc_id ASC")


def _q_highlight_fragments(spark, sf_dir):
    """ES unified highlighter, fragmenting mode: top-20 conjunctive
    hits, 12-token tiled windows, best 2 windows per doc by
    (Σ count·idf DESC, window ASC), emitted in document order."""
    return pipeline.highlight_fragments(
        _docs(spark, sf_dir), "data join", k=20, fragment_size=12,
        number_of_fragments=2, round_to=6)


def _highlight_fragments_sql(terms: list[str], k: int = 20,
                             size: int = 12, nfrags: int = 2) -> str:
    import re as _re
    tlist = ", ".join(f"'{t}'" for t in terms)
    # window score folded in query-term order, mirroring the engine
    idf = ("ln(1 + ((SELECT n_docs FROM stats) - "
           "(SELECT df FROM df WHERE term = '{t}') + 0.5) / "
           "((SELECT df FROM df WHERE term = '{t}') + 0.5))")
    fscore = " + ".join(
        f"c{i} * {idf.format(t=t)}" for i, t in enumerate(terms))
    cnts = ",\n         ".join(
        f"sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS c{i}"
        for i, t in enumerate(terms))
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))))
           AS raw_score,
         count(*) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
hits AS (
  SELECT doc_id, round(raw_score, 6) AS score
  FROM scored WHERE nt = {len(terms)}
  ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
),
ht AS (
  SELECT d.doc_id, h.score,
         list_filter(regexp_split_to_array(lower(d.text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS toks
  FROM documents d JOIN hits h USING (doc_id)
),
p AS (SELECT doc_id, score, i - 1 AS pos, toks[i] AS tok
      FROM ht, (SELECT unnest(generate_series(
                  1, (SELECT max(length(toks)) FROM ht))) AS i) s
      WHERE i <= length(toks)),
g AS (
  SELECT doc_id, score, pos // {size} AS w,
         {cnts},
         string_agg(CASE WHEN tok IN ({tlist})
                         THEN '<em>' || tok || '</em>' ELSE tok END,
                    ' ' ORDER BY pos) AS fragment
  FROM p GROUP BY doc_id, score, w
),
sc AS (SELECT *, round({fscore}, 6) AS fragment_score FROM g),
top AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY fragment_score DESC, w ASC)
              AS rn
  FROM sc WHERE fragment_score > 0
)
SELECT doc_id, score,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY w ASC)
            - 1 AS BIGINT) AS fragment_ix,
       fragment_score, fragment
FROM top WHERE rn <= {nfrags}
"""


def _q_dedup_paragraphs(spark, sf_dir):
    """Corpus-wide paragraph dedup (C4 repeated-unit rule): shared
    header/footer paragraphs are planted on every doc (identically in
    the oracle); only the first (doc_id, pos) occurrence survives."""
    from auctus_spark.operators.dedup import dedup_paragraphs
    d = _docs(spark, sf_dir)
    aug = F.concat(F.lit("shared boilerplate header#P#"),
                   F.col("text"),
                   F.lit("#P#common footer paragraph"))
    out = dedup_paragraphs(d.withColumn("text", aug), sep="#P#")
    return out.select("doc_id", "n_kept", "n_dropped", "text_dedup")


_DEDUP_PARAGRAPHS_SQL = """
WITH a AS (
  SELECT doc_id,
         'shared boilerplate header#P#' || text
           || '#P#common footer paragraph' AS aug
  FROM documents),
p0 AS (SELECT doc_id, string_split(aug, '#P#') AS parts FROM a),
p AS (SELECT doc_id, i AS pos, trim(parts[i]) AS norm
      -- series bound derived from the data (max paragraph count),
      -- matching the unbounded engine operator (round-7 advice)
      FROM p0, (SELECT unnest(generate_series(
                  1, (SELECT max(length(parts)) FROM p0))) AS i) s
      WHERE i <= length(parts) AND trim(parts[i]) <> ''),
k AS (SELECT doc_id, pos, norm,
             row_number() OVER (PARTITION BY norm
                                ORDER BY doc_id, pos) AS rn
      FROM p),
kept AS (SELECT doc_id, pos, norm FROM k WHERE rn = 1),
tot AS (SELECT doc_id, count(*) AS n_total FROM p GROUP BY doc_id),
reb AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(norm, '#P#' ORDER BY pos) AS text_dedup
        FROM kept GROUP BY doc_id)
SELECT tot.doc_id,
       CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(tot.n_total - coalesce(reb.n_kept, 0) AS BIGINT)
         AS n_dropped,
       coalesce(reb.text_dedup, '') AS text_dedup
FROM tot LEFT JOIN reb USING (doc_id)
"""


def _q_composite_agg(spark, sf_dir):
    """ES composite aggregation page 2: buckets of (o_orderpriority,
    o_orderstatus) strictly after the cursor, tuple-ordered."""
    from auctus_spark.operators.profiling import composite_agg
    return composite_agg(_t(spark, sf_dir, "orders"),
                         ["o_orderpriority", "o_orderstatus"], size=5,
                         after={"o_orderpriority": "2-HIGH",
                                "o_orderstatus": "F"})


_COMPOSITE_AGG_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS doc_count
FROM orders
WHERE (o_orderpriority > '2-HIGH')
   OR (o_orderpriority = '2-HIGH' AND o_orderstatus > 'F')
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus
LIMIT 5
"""


def _q_rare_terms(spark, sf_dir):
    """ES rare_terms aggregation: the df long tail (df <= 60 — this
    synthetic corpus has a uniform vocabulary, min df 25)."""
    from auctus_spark.operators.profiling import rare_terms
    return rare_terms(_docs(spark, sf_dir), max_doc_count=60, k=50)


def _rare_terms_sql(max_doc_count: int, k: int) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents),
tok2 AS (SELECT DISTINCT doc_id, term FROM tok WHERE term <> ''),
d AS (SELECT term, count(*) AS doc_count FROM tok2 GROUP BY term)
SELECT term, CAST(doc_count AS BIGINT) AS doc_count
FROM d WHERE doc_count <= {max_doc_count}
ORDER BY doc_count ASC, term ASC LIMIT {k}
"""


def _q_pipeline_aggs(spark, sf_dir):
    """ES pipeline aggregations (cumulative_sum, derivative,
    moving_fn avg window 3) over the daily date_histogram."""
    from auctus_spark.operators.profiling import (bucket_pipeline,
                                                  date_histogram)
    e = _t(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    buckets = date_histogram(e, "ts", interval="day", min_doc_count=0)
    out = bucket_pipeline(buckets, "count", "bucket_start", window=3)
    return out.select("bucket_start", "count", "cumulative_sum",
                      "derivative",
                      F.round("moving_avg_3", 6).alias("moving_avg_3"))


_PIPELINE_AGGS_SQL = """
WITH b AS (SELECT date_trunc('day', ts) AS bucket FROM events
           WHERE ts IS NOT NULL),
c AS (SELECT bucket, count(*) AS count FROM b GROUP BY bucket),
mm AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c),
axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
           AS bucket FROM mm),
h AS (SELECT axis.bucket AS bucket_start,
             CAST(coalesce(c.count, 0) AS BIGINT) AS count
      FROM axis LEFT JOIN c USING (bucket))
SELECT bucket_start, count,
       CAST(sum(count) OVER (ORDER BY bucket_start
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_sum,
       CAST(count - lag(count, 1) OVER (ORDER BY bucket_start)
            AS BIGINT) AS derivative,
       round(avg(count) OVER (ORDER BY bucket_start
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             6) AS moving_avg_3
FROM h
"""


def _q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (size 40, stride 20): the
    RAG/context-length prep step."""
    from auctus_spark.operators.chunking import chunk_documents
    return chunk_documents(_docs(spark, sf_dir), size=40, stride=20)


def _chunk_documents_sql(size: int, stride: int) -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS toks
  FROM documents),
p AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
      -- series bound derived from the data (max doc token count),
      -- matching the unbounded engine operator (round-7 advice)
      FROM t, (SELECT unnest(generate_series(
                 1, (SELECT max(length(toks)) FROM t))) AS i) s
      WHERE i <= length(toks)),
c AS (SELECT doc_id, pos, tok,
             unnest(generate_series(
               greatest(0, CAST(ceil((pos - {size - 1})
                                     / {float(stride)}) AS BIGINT)),
               pos // {stride})) AS chunk_id
      FROM p)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       string_agg(tok, ' ' ORDER BY pos) AS chunk_text
FROM c GROUP BY doc_id, chunk_id
"""


def _q_pack_documents(spark, sf_dir):
    """Whole-doc sequence packing: per-source streams cut into
    500-token training sequences by start offset."""
    from auctus_spark.operators.chunking import pack_documents
    return pack_documents(_docs(spark, sf_dir), budget=500)


def _pack_documents_sql(budget: int) -> str:
    return f"""
WITH n AS (
  SELECT doc_id, source,
         CAST(length(list_filter(regexp_split_to_array(lower(text),
              '{SPLIT_PATTERN}'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, source, n_tokens,
       CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens)
            // {budget} AS BIGINT) AS seq_id
FROM n
"""


def _q_gopher_dup_ngrams(spark, sf_dir):
    """Duplicate n-gram char fractions (n=5..10, union-of-positions)
    over documents — the remaining Gopher repetition rules."""
    from auctus_spark.operators.textstats import gopher_dup_ngrams
    out = gopher_dup_ngrams(_docs(spark, sf_dir))
    cols = [F.round(f"dup_{n}gram_char_frac", 6)
            .alias(f"dup_{n}gram_char_frac") for n in range(5, 11)]
    return out.select("doc_id", *cols, "dup_ngram_keep")


def _q_image_stats(spark, sf_dir):
    """Multimodal decode end-to-end with the from-spec stdlib PNG
    codec (operators/png.py): synthesize REAL PNG payloads (mixed
    per-scanline filters) for doc_id < 200, decode them in executors
    via mapInPandas, and emit per-image stats.  Pixel values are a
    closed-form function of media_id (deterministic_image), so the
    DuckDB oracle recomputes the exact stats without any codec."""
    from auctus_spark.operators.multimodal import (image_stats,
                                                   synthesize_png_media)
    _ensure_workers_can_import(spark)
    ids = (_docs(spark, sf_dir).select(F.col("doc_id")
                                       .alias("media_id"))
           .filter(F.col("media_id") < 200))
    media = synthesize_png_media(spark, ids)
    out = image_stats(media)
    return out.select("media_id", "width", "height", "channels",
                      F.round("px_mean", 6).alias("px_mean"),
                      "px_min", "px_max")


_IMAGE_STATS_SQL = """
WITH ids AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
  FROM documents WHERE doc_id < 200),
px AS (
  SELECT media_id, w, h, ch,
         (media_id * 7 + r * 3 + c * 5 + k * 11) % 256 AS v
  FROM ids,
  LATERAL (SELECT unnest(range(0, h)) AS r),
  LATERAL (SELECT unnest(range(0, w)) AS c),
  LATERAL (SELECT unnest(range(0, ch)) AS k))
SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(ch AS INT) AS channels,
       round(avg(CAST(v AS DOUBLE)), 6) AS px_mean,
       CAST(min(v) AS BIGINT) AS px_min,
       CAST(max(v) AS BIGINT) AS px_max
FROM px GROUP BY media_id, w, h, ch
"""


def _q_admin_resolve(spark, sf_dir):
    """Offline admin-area resolution (reference spatial.py:333-403 +
    profile_types.py:264-275): gazetteer built from region (level 0)
    / nation (level 1) with closed-form bounding boxes, broadcast-
    joined against the nation-name column, disambiguated with the
    reference's level/common-parent rule."""
    from auctus_spark.operators.gazetteer import (build_gazetteer,
                                                  resolve_admin_areas)
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    gaz = build_gazetteer(nation, region)
    out = resolve_admin_areas(nation, gaz, "n_name")
    return out.select(
        "name", "area_id", "level",
        F.round("min_lat", 6).alias("min_lat"),
        F.round("max_lat", 6).alias("max_lat"),
        F.round("min_lon", 6).alias("min_lon"),
        F.round("max_lon", 6).alias("max_lon"))


# all 25 nation names resolve (100%>70%); every candidate is level 1,
# the only option clearing max(3, 0.9*25) votes is (level 1, no
# common parent) -> each name maps to its nation box
_ADMIN_RESOLVE_SQL = """
SELECT lower(n_name) AS name,
       CAST(100 + n_nationkey AS BIGINT) AS area_id,
       1 AS level,
       round(10.0 * n_regionkey - 60 + 4.0 * (n_nationkey // 5), 6)
         AS min_lat,
       round(10.0 * n_regionkey - 60 + 4.0 * (n_nationkey // 5) + 4.0,
             6) AS max_lat,
       round(20.0 * n_regionkey - 150 + 8.0 * (n_nationkey // 5), 6)
         AS min_lon,
       round(20.0 * n_regionkey - 150 + 8.0 * (n_nationkey // 5) + 8.0,
             6) AS max_lon
FROM nation
"""


def _q_column_types(spark, sf_dir):
    """Structural-type detection battery (reference
    profile_types.py:82-126): single-pass regex voting over
    string-cast columns, 2% tolerance, 10% categorical ratio."""
    from auctus_spark.operators.profiling import (
        classify_column, infer_structural_types_multi, semantic_flags)
    cols = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
    # the regex-voting battery is compute-heavy per row — fan the
    # small single-row-group scan out over the cores (counts are
    # partition-order-independent)
    c = fan_out_small_scan(_t(spark, sf_dir, "customer").select(
        *[F.col(col).cast("string").alias(col) for col in cols]))
    ratios = infer_structural_types_multi(c, cols)   # ONE scan/job
    rows = [(col, classify_column(r),
             "CATEGORICAL" in semantic_flags(r))
            for col, r in ratios.items()]
    return spark.createDataFrame(
        rows, "col string, kind string, categorical boolean")


def _q_categorical_histogram(spark, sf_dir):
    """top-5 most common values (reference core.py:401-420)."""
    from auctus_spark.operators.profiling import categorical_histogram
    return categorical_histogram(
        _t(spark, sf_dir, "orders"), "o_orderpriority", k=5)


def _q_word_histogram(spark, sf_dir):
    """top-5 lowercase \\W+ words (reference core.py:422-444)."""
    from auctus_spark.operators.profiling import text_word_histogram
    return text_word_histogram(_docs(spark, sf_dir), "text", k=5)


def _q_numeric_profile(spark, sf_dir):
    """One-pass mean/stddev/distinct/min/max column profile
    (reference core.py:310-346)."""
    from auctus_spark.operators.profiling import numeric_profile
    out = numeric_profile(_t(spark, sf_dir, "lineitem"),
                          "l_extendedprice")
    return out.select(
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
        "num_distinct_values",
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"))


def _q_temporal_resolution(spark, sf_dir):
    """Temporal-resolution detection — exact reference rule
    (temporal.py:36-71): coarse→fine probe, first resolution whose
    avg distinct-values-per-bin < 1.05."""
    from auctus_spark.operators.profiling import temporal_resolution
    # the resolution probe is exact count_distincts — fan-out-safe.
    # Neither table is in _FAN_OUT_TABLES, so _t returns both unfanned:
    # orders (single-row-group) is fanned here, events is probed on its
    # raw scan
    r_orders = temporal_resolution(
        fan_out_small_scan(_t(spark, sf_dir, "orders")), "o_orderdate")
    r_events = temporal_resolution(_t(spark, sf_dir, "events"), "ts")
    return spark.createDataFrame(
        [("o_orderdate", r_orders), ("ts", r_events)],
        "col string, resolution string")


def _q_range_sketch(spark, sf_dir):
    """Numerical coverage sketch (reference numerical.py:38-86):
    seeded KMeans(k<=3, random_state=0) cluster ranges with 10% mass
    filter and 5-95% cuts.  Rows-only driver check (iterative seeded
    KMeans is not SQL-expressible); sklearn-parity pinned in
    tests/test_profiling.py."""
    from auctus_spark.operators.profiling import range_sketch
    ranges = range_sketch(_t(spark, sf_dir, "lineitem"),
                          "l_extendedprice")
    return spark.createDataFrame(
        [(i, round(r["gte"], 6), round(r["lte"], 6))
         for i, r in enumerate(ranges)],
        "range_id int, gte double, lte double")


def _q_spatial_ranges(spark, sf_dir):
    """2-D KMeans spatial coverage boxes (reference spatial.py:49-106):
    per-cluster 5-95% quantile envelopes, ±1e-4 degenerate inflation.
    Rows-only driver check; exact-contract tests in test_geo.py."""
    from auctus_spark.operators.geo import spatial_ranges
    pts = _t(spark, sf_dir, "customer").select(
        (((F.col("c_custkey") * 37) % 160) / F.lit(2.0) - 35.0)
        .alias("lat"),
        (((F.col("c_custkey") * 61) % 300) / F.lit(2.0) - 70.0)
        .alias("lon"))
    boxes = spatial_ranges(pts, "lat", "lon")
    rows = []
    for i, b in enumerate(boxes):
        (min_lon, max_lat), (max_lon, min_lat) = b["range"]["coordinates"]
        rows.append((i, round(min_lon, 6), round(min_lat, 6),
                     round(max_lon, 6), round(max_lat, 6)))
    return spark.createDataFrame(
        rows, "box_id int, min_lon double, min_lat double, "
              "max_lon double, max_lat double")


def _q_profile_dataset(spark, sf_dir):
    """Whole-dataset profile (reference profile() metadata doc):
    per-column structural + semantic classification in ONE aggregate
    pass.  Rows-only driver check; the SQL-expressible pieces are
    separately oracle-gated (column_types, numeric_profile,
    histograms, temporal_resolution)."""
    from auctus_spark.operators.profile_dataset import profile_dataset
    prof = profile_dataset(_t(spark, sf_dir, "orders"))
    rows = [(c["name"], c["structural_type"],
             ",".join(c["semantic_types"]),
             int(c["num_distinct_values"]))
            for c in prof["columns"]]
    return spark.createDataFrame(
        rows, "name string, structural_type string, "
              "semantic_types string, num_distinct_values long")


# ---------------------------------------------------------------------
# end-to-end Auctus-parity gates (reference tests/test_integ.py:149-205:
# profile fixtures -> assert the documents -> search them)
# ---------------------------------------------------------------------

_E2E_DESCRIPTIONS = {
    "nation": "reference list of nations with region codes",
    "customer": "customer accounts with market segment and account "
                "balance",
    "orders": "customer orders with total price order date and priority",
}

# static schema spec for the oracle: (column, dtype-kind); the ORACLE
# recomputes every data-dependent field from the base tables — only
# schema-static facts (dtype branch, column list) are literals
_E2E_SPEC = {
    "nation": [("n_nationkey", "int"), ("n_name", "text"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "int"), ("c_name", "text"),
                 ("c_nationkey", "int"), ("c_acctbal", "float"),
                 ("c_mktsegment", "text")],
    "orders": [("o_orderkey", "int"), ("o_custkey", "int"),
               ("o_orderstatus", "text"), ("o_totalprice", "float"),
               ("o_orderdate", "ts"), ("o_orderpriority", "text")],
}

# expected attribute-keyword expansion (the id-splitting CONTRACT,
# golden like the reference's fixture docs in test_integ.py — the
# engine DERIVES these via expand_identifier; a derivation bug breaks
# the match)
_E2E_KEYWORDS = {
    t: " ".join(w for c, _ in cols
                for w in ([c] + c.split("_")))
    for t, cols in _E2E_SPEC.items()
}

_E2E_QUERIES = ["customer", "order price"]
_E2E_RANGE = (500.0, 3000.0)


def _e2e_catalog(spark, sf_dir, tables):
    """Profile the catalog tables CONCURRENTLY (guide §2.6): each
    ``add_dataset`` is an independent chain of small single-task jobs,
    so driver threads let the FIFO scheduler back-fill idle cores
    instead of serializing 3-5 tables' profile batteries.  Each
    table's own jobs (plans, partitioning, collect order — what the
    seeded sketches depend on) are untouched; ``_meta`` insertion is
    a GIL-atomic dict store and every accessor sorts by dataset id,
    so results are identical to the serial loop's."""
    from concurrent.futures import ThreadPoolExecutor

    from auctus_spark.query.catalog import MetadataCatalog
    cat = MetadataCatalog(spark)
    with ThreadPoolExecutor(max_workers=min(4, len(tables))) as pool:
        futs = [pool.submit(cat.add_dataset, t, _t(spark, sf_dir, t),
                            description=_E2E_DESCRIPTIONS.get(t, ""))
                for t in tables]
        for f in futs:
            f.result()
    return cat


def _q_auctus_e2e(spark, sf_dir):
    """End-to-end apiserver chain (reference test_integ.py:149-205):
    profile nation/customer/orders -> dataset + column + coverage
    document tables -> keyword search (conjunctive BM25 over
    id/name/description/attribute_keywords) + joinable search
    (interval-overlap coverage scoring).  Long format (section,
    dataset, item, sval, dval); the oracle recomputes every
    data-dependent value from the base tables."""
    cat = _e2e_catalog(spark, sf_dir, list(_E2E_SPEC))
    rows = []
    for r in cat.datasets_table().collect():
        ds = r["dataset_id"]
        rows.append(("dataset", ds, "nb_rows", None, float(r["nb_rows"])))
        rows.append(("dataset", ds, "nb_columns", None,
                     float(r["nb_columns"])))
        for k in ("numerical", "categorical", "spatial", "temporal"):
            rows.append(("dataset", ds, f"nb_{k}_columns", None,
                         float(r[f"nb_{k}_columns"])))
        rows.append(("dataset", ds, "types", r["types"], None))
        rows.append(("dataset", ds, "attribute_keywords",
                     r["attribute_keywords"], None))
    for r in cat.columns_table().collect():
        ds, c = r["dataset_id"], r["column"]
        rows.append(("column", ds, c + ".structural",
                     r["structural_type"], None))
        rows.append(("column", ds, c + ".semantic",
                     r["semantic_types"], None))
        rows.append(("column", ds, c + ".distinct", None,
                     float(r["num_distinct_values"])))
        if r["mean"] is not None:
            rows.append(("column", ds, c + ".mean", None,
                         round(r["mean"], 6)))
            rows.append(("column", ds, c + ".stddev", None,
                         round(r["stddev"], 6)))
    for r in cat.coverage_table().collect():
        ds, c = r["dataset_id"], r["column"]
        if r["kind"] == "numerical":
            rows.append(("coverage", ds, c + ".gte", None,
                         round(r["gte"], 6)))
            rows.append(("coverage", ds, c + ".lte", None,
                         round(r["lte"], 6)))
        else:
            rows.append(("coverage", ds, c + ".gte", r["gte_s"], None))
            rows.append(("coverage", ds, c + ".lte", r["lte_s"], None))
    # the two keyword searches and the join search are independent
    # queries over the metadata tables: overlap them (guide §2.6);
    # append order (and so the output) matches the serial loop
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=3) as pool:
        kw_futs = [pool.submit(
            lambda q=q: cat.keyword_search(q).collect())
            for q in _E2E_QUERIES]
        j_fut = pool.submit(lambda: cat.join_search(*_E2E_RANGE).collect())
        for q, f in zip(_E2E_QUERIES, kw_futs):
            for r in f.result():
                rows.append(("keyword", r["dataset_id"], q, None,
                             round(r["score"], 6)))
        for r in j_fut.result():
            rows.append(("join", r["dataset_id"], r["column"], None,
                         round(r["score"], 6)))
    return spark.createDataFrame(
        rows, "section string, dataset string, item string, "
              "sval string, dval double")


_UNION_E2E_TABLES = ["customer", "supplier", "nation", "orders", "part"]

_UNION_E2E_SPEC = {
    "customer": [("c_custkey", "INTEGER"), ("c_name", "TEXT"),
                 ("c_nationkey", "INTEGER"), ("c_acctbal", "FLOAT"),
                 ("c_mktsegment", "TEXT")],
    "supplier": [("s_suppkey", "INTEGER"), ("s_name", "TEXT"),
                 ("s_nationkey", "INTEGER"), ("s_acctbal", "FLOAT")],
    "nation": [("n_nationkey", "INTEGER"), ("n_name", "TEXT"),
               ("n_regionkey", "INTEGER")],
    "orders": [("o_orderkey", "INTEGER"), ("o_custkey", "INTEGER"),
               ("o_orderstatus", "TEXT"), ("o_totalprice", "FLOAT"),
               ("o_orderdate", "DATETIME"), ("o_orderpriority", "TEXT")],
    "part": [("p_partkey", "INTEGER"), ("p_name", "TEXT"),
             ("p_brand", "TEXT"), ("p_type", "TEXT"),
             ("p_size", "INTEGER"), ("p_retailprice", "FLOAT")],
}


def _q_union_search_e2e(spark, sf_dir):
    """Union-candidate search over REAL profiled columns (reference
    union.py:58-241): profile 5 tables through the catalog (types via
    the regex-voting profiler, not the schema), pair same-type columns
    by 3-gram name similarity, greedy best-pair matching with the
    >= 2-pairs rule, union score = sum(sims)/n_left.  The oracle
    re-runs the greedy matching as a recursive CTE over the same
    similarity table."""
    cat = _e2e_catalog(spark, sf_dir, _UNION_E2E_TABLES)
    return cat.union_search("customer")


def _q_geohash_sketch(spark, sf_dir):
    """Quadtree (base-4 geohash) histogram sketch (reference
    spatial.py:406-508, 511-631) over deterministic synthetic points;
    the lon-bit-first interleave is the oracle-checked contract."""
    _ensure_workers_can_import(spark)
    from auctus_spark.operators.geo import geohash_sketch
    pts = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") % 12) * 10 - 55).cast("double").alias("lat"),
        ((F.col("c_custkey") % 10) * 30 - 135).cast("double")
        .alias("lon"))
    return geohash_sketch(pts, "lat", "lon", base=4, max_precision=8)


def _q_dup_spans(spark, sf_dir):
    """Cross-document duplicate n-gram-span stats (Lee et al. 2021
    exact-substring dedup at word-5-gram granularity): per doc, how
    many of its windows already occurred earlier in the corpus."""
    from auctus_spark.operators.dedup import duplicate_spans
    d = _docs(spark, sf_dir)
    return duplicate_spans(d, n=5).orderBy("doc_id")


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C recipe at 4-gram
    granularity): corpus docs sharing any word 4-gram with the
    held-out benchmark subset (doc_id % 41 == 0)."""
    from auctus_spark.operators.dedup import decontaminate
    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 41 == 0)
    corpus = d.filter(F.col("doc_id") % 41 != 0)
    return decontaminate(corpus, bench, n=4).orderBy("doc_id")


def _q_percentile_profile(spark, sf_dir):
    """Exact interpolated percentiles (PERCENTILE_CONT contract) of
    l_extendedprice per returnflag — the profiling-layer quantile
    sketch in its exact form."""
    from auctus_spark.operators.profiling import percentile_profile
    li = _t(spark, sf_dir, "lineitem")
    return (percentile_profile(li, "l_extendedprice", by="l_returnflag")
            .orderBy("l_returnflag", "p"))


_FILTERS_AGG_SPEC = {"data_join": ["data", "join"],
                     "filter_scan": ["filter", "scan"],
                     "missing_zzz": ["zzz_absent_token"]}


def _q_filters_agg(spark, sf_dir):
    """ES filters aggregation: named match-AND buckets counted in one
    scan (conditional sums over the same tokenized row)."""
    from auctus_spark.operators.profiling import filters_agg
    return filters_agg(_docs(spark, sf_dir), _FILTERS_AGG_SPEC)


def _filters_agg_sql(filters: dict) -> str:
    parts = []
    for name in sorted(filters):
        terms = sorted(set(filters[name]))
        tlist = ", ".join(f"'{t}'" for t in terms)
        parts.append(f"""
SELECT '{name}' AS bucket, CAST((
  SELECT count(*) FROM (
    SELECT doc_id FROM tok2 WHERE term IN ({tlist})
    GROUP BY doc_id HAVING count(DISTINCT term) = {len(terms)})
) AS BIGINT) AS doc_count""")
    u = "\nUNION ALL\n".join(parts)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> '')
{u}
ORDER BY bucket
"""


_RANGE_AGG_RANGES = [(None, 50000.0), (50000.0, 150000.0),
                     (100000.0, None)]


def _q_range_agg(spark, sf_dir):
    """ES range aggregation over o_totalprice: half-open [from, to)
    buckets, deliberately overlapping (each independently counted)."""
    from auctus_spark.operators.profiling import range_agg
    return range_agg(_t(spark, sf_dir, "orders"), "o_totalprice",
                     _RANGE_AGG_RANGES)


def _range_agg_sql(ranges) -> str:
    parts = []
    for lo, hi in ranges:
        key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        conds = ["o_totalprice IS NOT NULL"]
        if lo is not None:
            conds.append(f"o_totalprice >= {lo!r}")
        if hi is not None:
            conds.append(f"o_totalprice < {hi!r}")
        lo_sql = "CAST(NULL AS DOUBLE)" if lo is None else repr(float(lo))
        hi_sql = "CAST(NULL AS DOUBLE)" if hi is None else repr(float(hi))
        parts.append(f"""
SELECT '{key}' AS bucket, {lo_sql} AS range_from, {hi_sql} AS range_to,
       CAST((SELECT count(*) FROM orders
             WHERE {' AND '.join(conds)}) AS BIGINT) AS doc_count""")
    return ("\nUNION ALL\n".join(parts)) + "\nORDER BY bucket\n"


def _q_adjacency_matrix(spark, sf_dir):
    """ES adjacency_matrix aggregation: singles + pairwise
    intersections of named filters, one scan."""
    from auctus_spark.operators.profiling import adjacency_matrix_agg
    return adjacency_matrix_agg(_docs(spark, sf_dir),
                                _FILTERS_AGG_SPEC)


def _adjacency_matrix_sql(filters: dict) -> str:
    names = sorted(filters)

    def member(name):
        terms = sorted(set(filters[name]))
        tlist = ", ".join(f"'{t}'" for t in terms)
        return (f"(SELECT doc_id FROM tok2 WHERE term IN ({tlist}) "
                f"GROUP BY doc_id "
                f"HAVING count(DISTINCT term) = {len(terms)})")
    parts = []
    for i, a in enumerate(names):
        parts.append(f"""
SELECT '{a}' AS bucket,
       CAST((SELECT count(*) FROM {member(a)}) AS BIGINT) AS doc_count""")
        for b in names[i + 1:]:
            parts.append(f"""
SELECT '{a}&{b}' AS bucket,
       CAST((SELECT count(*) FROM (
          SELECT doc_id FROM {member(a)}
          INTERSECT SELECT doc_id FROM {member(b)})) AS BIGINT)
         AS doc_count""")
    u = "\nUNION ALL\n".join(parts)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> '')
SELECT * FROM ({u}) WHERE doc_count > 0 ORDER BY bucket
"""


def _phrase_engine(spark, sf_dir):
    """The shared positional-index engine for span/phrase gates."""
    import hashlib as _h

    from auctus_spark.query.bm25 import PhraseEngine
    _q_bm25_phrase(spark, sf_dir)        # ensure the positional index
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    return PhraseEngine(spark, f"/tmp/auctus_entry_index_pos_{tag}",
                        term_buckets=16)


def _q_span_near(spark, sf_dir):
    """Lucene/ES span_near, in_order: docs where 'join' follows
    'data' with at most 3 tokens between the spans (constant_score
    rewrite, doc_id order)."""
    return _phrase_engine(spark, sf_dir).search_span_near(
        ["data", "join"], slop=3, in_order=True, k=200)


def _q_span_multi(spark, sf_dir):
    """Lucene span_multi (SpanMultiTermQueryWrapper around
    PrefixQuery) inside span_near: 'data' followed by any 'jo*' term
    within edit budget 3 — the prefix clause matches at the UNION of
    its dictionary expansions' positions."""
    return _phrase_engine(spark, sf_dir).search_span_multi_near(
        ["data", "jo*"], slop=3, in_order=True, k=200)


_SPAN_MULTI_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{{SPLIT}}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
m AS (
  SELECT DISTINCT p0.doc_id
  FROM (SELECT doc_id, pos FROM tok WHERE term = 'data') p0
  JOIN (SELECT doc_id, pos FROM tok WHERE term LIKE 'jo%') p1
    USING (doc_id)
  WHERE p1.pos > p0.pos AND p1.pos - p0.pos - 1 <= 3)
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT 200
"""


def _q_span_near_unordered(spark, sf_dir):
    """span_near, in_order=false: 'table'/'value'/'scan' anywhere
    within a covering span of edit budget 6."""
    return _phrase_engine(spark, sf_dir).search_span_near(
        ["table", "value", "scan"], slop=6, in_order=False, k=200)


def _span_near2_sql(t0: str, t1: str, slop: int, k: int = 200) -> str:
    """Ordered two-clause span_near: EXISTS p1 > p0 with
    p1 - p0 - 1 <= slop."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
m AS (
  SELECT DISTINCT p0.doc_id
  FROM (SELECT doc_id, pos FROM tok WHERE term = '{t0}') p0
  JOIN (SELECT doc_id, pos FROM tok WHERE term = '{t1}') p1
    USING (doc_id)
  WHERE p1.pos > p0.pos AND p1.pos - p0.pos - 1 <= {slop})
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


def _span_near3u_sql(t0: str, t1: str, t2: str, slop: int,
                     k: int = 200) -> str:
    """Unordered three-clause span_near: one position per clause with
    max - min - 2 <= slop."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
m AS (
  SELECT DISTINCT a.doc_id
  FROM (SELECT doc_id, pos FROM tok WHERE term = '{t0}') a
  JOIN (SELECT doc_id, pos FROM tok WHERE term = '{t1}') b USING (doc_id)
  JOIN (SELECT doc_id, pos FROM tok WHERE term = '{t2}') c USING (doc_id)
  WHERE greatest(a.pos, b.pos, c.pos)
        - least(a.pos, b.pos, c.pos) - 2 <= {slop})
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


_HISTOGRAM_INTERVAL = 25000.0


def _q_histogram_agg(spark, sf_dir):
    """ES histogram aggregation over o_totalprice: fixed 25k-wide
    buckets, key = floor(v/interval)*interval, sparse form."""
    from auctus_spark.operators.profiling import histogram_agg
    return histogram_agg(_t(spark, sf_dir, "orders"), "o_totalprice",
                         _HISTOGRAM_INTERVAL)


def _histogram_agg_sql(interval: float) -> str:
    return f"""
SELECT CAST(floor(o_totalprice / {interval!r}) * {interval!r}
            AS DOUBLE) AS bucket_key,
       CAST(count(*) AS BIGINT) AS doc_count
FROM orders WHERE o_totalprice IS NOT NULL
GROUP BY 1 HAVING count(*) >= 1 ORDER BY bucket_key
"""


def _q_extended_stats(spark, sf_dir):
    """ES extended_stats over l_extendedprice: one-pass moments
    (population variance, ES formula sum_sq/n - mean^2)."""
    from auctus_spark.operators.profiling import extended_stats_agg
    return extended_stats_agg(_t(spark, sf_dir, "lineitem"),
                              "l_extendedprice").select(
        "count", F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
        F.round("sum", 2).alias("sum"),
        F.round("avg", 4).alias("avg"),
        F.round(F.col("sum_of_squares") / 1e6, 2)
        .alias("sum_of_squares_1e6"),
        F.round("variance", 2).alias("variance"),
        F.round("std_deviation", 4).alias("std_deviation"))


_EXTENDED_STATS_SQL = """
WITH m AS (
  SELECT count(l_extendedprice) AS count,
         CAST(min(l_extendedprice) AS DOUBLE) AS min,
         CAST(max(l_extendedprice) AS DOUBLE) AS max,
         CAST(sum(l_extendedprice) AS DOUBLE) AS sum,
         CAST(sum(l_extendedprice * l_extendedprice) AS DOUBLE)
           AS sum_sq
  FROM lineitem WHERE l_extendedprice IS NOT NULL)
SELECT count, round(min, 6) AS min, round(max, 6) AS max,
       round(sum, 2) AS sum, round(sum / count, 4) AS avg,
       round(sum_sq / 1e6, 2) AS sum_of_squares_1e6,
       round(greatest(sum_sq / count - (sum / count) * (sum / count),
                      0.0), 2) AS variance,
       round(sqrt(greatest(sum_sq / count
                           - (sum / count) * (sum / count), 0.0)), 4)
         AS std_deviation
FROM m
"""


def _q_top_hits(spark, sf_dir):
    """ES top_hits under a terms bucketing: top-3 orders per
    o_orderpriority by o_totalprice desc (ties -> o_orderkey asc)."""
    from auctus_spark.operators.profiling import top_hits_agg
    return top_hits_agg(_t(spark, sf_dir, "orders"),
                        "o_orderpriority", "o_totalprice", size=3,
                        tiebreak_col="o_orderkey").select(
        "bucket", "hit_rank", "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"))


_TOP_HITS_SQL = """
WITH r AS (
  SELECT o_orderpriority AS bucket, o_orderkey, o_totalprice,
         CAST(row_number() OVER (
            PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT)
           AS hit_rank
  FROM orders)
SELECT bucket, hit_rank, o_orderkey,
       round(o_totalprice, 2) AS o_totalprice
FROM r WHERE hit_rank <= 3 ORDER BY bucket, hit_rank
"""


def _q_rescore(spark, sf_dir):
    """ES rescore: conjunctive 'data join' top-50 window re-ranked by
    1.0*primary + 2.0*should-BM25('table value'), top-20 by the
    rounded total."""
    return pipeline.rescore_topk(
        _docs(spark, sf_dir), "data join", "table value",
        window_size=50, query_weight=1.0, rescore_query_weight=2.0,
        k=20, round_to=6)


def _rescore_sql(primary: list[str], secondary: list[str],
                 window_size: int, qw: float, rqw: float,
                 k: int) -> str:
    p_list = ", ".join(f"'{t}'" for t in primary)
    s_list = ", ".join(f"'{t}'" for t in secondary)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}'))
           AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
tf1 AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({p_list}) GROUP BY doc_id, term),
df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY term),
s1 AS (
  SELECT tf1.doc_id,
         sum(ln(1 + (s.n_docs - df1.df + 0.5) / (df1.df + 0.5))
             * (tf1.tf / (tf1.tf + 1.2 *
                (0.25 + 0.75 * dl.dl / s.avgdl)))) AS raw1,
         count(*) AS nt
  FROM tf1 JOIN df1 USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s GROUP BY tf1.doc_id),
win AS (
  SELECT doc_id, raw1 FROM s1 WHERE nt = {len(primary)}
  ORDER BY raw1 DESC, doc_id ASC LIMIT {window_size}),
tf2 AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({s_list}) GROUP BY doc_id, term),
df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
s2 AS (
  SELECT tf2.doc_id,
         sum(ln(1 + (s.n_docs - df2.df + 0.5) / (df2.df + 0.5))
             * (tf2.tf / (tf2.tf + 1.2 *
                (0.25 + 0.75 * dl.dl / s.avgdl)))) AS raw2
  FROM tf2 JOIN df2 USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s GROUP BY tf2.doc_id)
SELECT w.doc_id,
       round({qw!r} * w.raw1 + {rqw!r} * coalesce(s2.raw2, 0.0), 6)
         AS score
FROM win w LEFT JOIN s2 USING (doc_id)
ORDER BY round({qw!r} * w.raw1 + {rqw!r} * coalesce(s2.raw2, 0.0), 6)
         DESC, w.doc_id ASC
LIMIT {k}
"""


def _q_span_not(spark, sf_dir):
    """Lucene/ES span_not: docs with a 'data' occurrence NOT followed
    within 3 tokens by 'join' (include span widened post=3 must avoid
    every exclude span; constant_score, doc_id order)."""
    return _phrase_engine(spark, sf_dir).search_span_not(
        "data", "join", pre=0, post=3, k=400)


def _span_not_sql(inc: str, exc: str, pre: int, post: int,
                  k: int = 400) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
m AS (
  SELECT DISTINCT p.doc_id
  FROM (SELECT doc_id, pos FROM tok WHERE term = '{inc}') p
  WHERE NOT EXISTS (
    SELECT 1 FROM tok q
    WHERE q.term = '{exc}' AND q.doc_id = p.doc_id
      AND q.pos BETWEEN p.pos - {pre} AND p.pos + {post}))
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


_PCT_RANK_VALUES = [50000.0, 150000.0, 300000.0]


def _q_percentile_ranks(spark, sf_dir):
    """ES percentile_ranks over o_totalprice: empirical CDF x100 at
    three probe values (exact; ES approximates via TDigest)."""
    from auctus_spark.operators.profiling import percentile_ranks_agg
    out = percentile_ranks_agg(_t(spark, sf_dir, "orders"),
                               "o_totalprice", _PCT_RANK_VALUES)
    return out.select("value", F.round("percentile_rank", 6)
                      .alias("percentile_rank"))


def _percentile_ranks_sql(values: list[float]) -> str:
    rows = "\nUNION ALL\n".join(f"""
SELECT CAST({v!r} AS DOUBLE) AS value,
       round(100.0 * (SELECT count(*) FROM orders
                      WHERE o_totalprice <= {v!r})
             / (SELECT count(*) FROM orders
                WHERE o_totalprice IS NOT NULL), 6)
         AS percentile_rank""" for v in values)
    return rows + "\nORDER BY value\n"


def _q_boxplot(spark, sf_dir):
    """ES boxplot over l_extendedprice: exact PERCENTILE_CONT
    quartiles + extremes (ES: TDigest, documented divergence)."""
    from auctus_spark.operators.profiling import boxplot_agg
    out = boxplot_agg(_t(spark, sf_dir, "lineitem"), "l_extendedprice")
    return out.select(F.round("min", 6).alias("min"),
                      F.round("q1", 6).alias("q1"),
                      F.round("q2", 6).alias("q2"),
                      F.round("q3", 6).alias("q3"),
                      F.round("max", 6).alias("max"),
                      F.round("iqr", 6).alias("iqr"))


_BOXPLOT_SQL = """
SELECT round(CAST(min(l_extendedprice) AS DOUBLE), 6) AS min,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS q2,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS q3,
       round(CAST(max(l_extendedprice) AS DOUBLE), 6) AS max,
       round(quantile_cont(l_extendedprice, 0.75)
             - quantile_cont(l_extendedprice, 0.25), 6) AS iqr
FROM lineitem WHERE l_extendedprice IS NOT NULL
"""


def _q_weighted_avg(spark, sf_dir):
    """ES weighted_avg: l_extendedprice weighted by l_quantity."""
    from auctus_spark.operators.profiling import weighted_avg_agg
    out = weighted_avg_agg(_t(spark, sf_dir, "lineitem"),
                           "l_extendedprice", "l_quantity")
    return out.select(F.round("weighted_avg", 6).alias("weighted_avg"))


_WEIGHTED_AVG_SQL = """
SELECT round(CAST(sum(l_extendedprice * l_quantity) AS DOUBLE)
             / CAST(sum(l_quantity) AS DOUBLE), 6) AS weighted_avg
FROM lineitem
WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
"""


def _q_multi_terms(spark, sf_dir):
    """ES multi_terms: compound (l_returnflag, l_linestatus) buckets
    by doc_count desc, keys asc."""
    from auctus_spark.operators.profiling import multi_terms_agg
    return multi_terms_agg(_t(spark, sf_dir, "lineitem"),
                           ["l_returnflag", "l_linestatus"], size=10)


_MULTI_TERMS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS doc_count
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
GROUP BY l_returnflag, l_linestatus
ORDER BY doc_count DESC, l_returnflag, l_linestatus
LIMIT 10
"""


def _q_stats_bucket(spark, sf_dir):
    """ES stats_bucket pipeline agg over the dense daily
    date_histogram of events (count/min/max/avg/sum of the bucket
    counts, zero-days included)."""
    from auctus_spark.operators.profiling import (date_histogram,
                                                  stats_bucket)
    e = _t(spark, sf_dir, "events")
    h = date_histogram(e, "ts", interval="day", min_doc_count=0)
    out = stats_bucket(h, value_col="count")
    return out.select("count", "min", "max",
                      F.round("avg", 6).alias("avg"), "sum")


_STATS_BUCKET_SQL = """
WITH b AS (SELECT date_trunc('day', ts) AS bucket FROM events
           WHERE ts IS NOT NULL),
c AS (SELECT bucket, count(*) AS count FROM b GROUP BY bucket),
mm AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c),
axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
           AS bucket FROM mm),
h AS (SELECT CAST(coalesce(c.count, 0) AS BIGINT) AS count
      FROM axis LEFT JOIN c USING (bucket))
SELECT CAST(count(count) AS BIGINT) AS count,
       CAST(min(count) AS DOUBLE) AS min,
       CAST(max(count) AS DOUBLE) AS max,
       round(avg(count), 6) AS avg,
       CAST(sum(count) AS DOUBLE) AS sum
FROM h
"""


def _geo_derived_customers(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 80) - 40).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 160) - 80).cast("double")
        .alias("lon"))


def _q_geo_bounds(spark, sf_dir):
    """ES geo_bounds over the derived customer coordinates."""
    from auctus_spark.operators.geo import geo_bounds_agg
    return geo_bounds_agg(_geo_derived_customers(spark, sf_dir),
                          "lat", "lon")


_GEO_BOUNDS_SQL = """
WITH c AS (
  SELECT CAST((c_custkey % 80) - 40 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 160) - 80 AS DOUBLE) AS lon
  FROM customer)
SELECT max(lat) AS top_left_lat, min(lon) AS top_left_lon,
       min(lat) AS bottom_right_lat, max(lon) AS bottom_right_lon
FROM c
"""


def _q_geo_centroid(spark, sf_dir):
    """ES geo_centroid (arithmetic-mean centroid + count) over the
    derived customer coordinates."""
    from auctus_spark.operators.geo import geo_centroid_agg
    out = geo_centroid_agg(_geo_derived_customers(spark, sf_dir),
                           "lat", "lon")
    return out.select(F.round("lat", 6).alias("lat"),
                      F.round("lon", 6).alias("lon"), "count")


_GEO_CENTROID_SQL = """
WITH c AS (
  SELECT CAST((c_custkey % 80) - 40 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 160) - 80 AS DOUBLE) AS lon
  FROM customer)
SELECT round(avg(lat), 6) AS lat, round(avg(lon), 6) AS lon,
       CAST(count(*) AS BIGINT) AS count
FROM c
"""


def _q_random_score(spark, sf_dir):
    """ES function_score random_score (seeded, reproducible): docs
    with 'data', score = md5-variate in [0,1) keyed on
    (seed, doc_id)."""
    return pipeline.random_score_topk(_docs(spark, sf_dir), "data",
                                      seed=42, k=50, round_to=6)


def _random_score_sql(term: str, seed: int, k: int = 50) -> str:
    v = (f"round(CAST(('0x' || substr(md5('{seed}:' || "
         f"CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) "
         f"/ 4294967296.0, 6)")
    return f"""
WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
hits AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = '{term}')
SELECT doc_id, {v} AS score
FROM hits ORDER BY {v} DESC, doc_id ASC LIMIT {k}
"""


def _q_match_bool_prefix(spark, sf_dir):
    """ES match_bool_prefix 'data joi': BM25 should on 'data' + a
    constant-score 1.0 prefix clause on 'joi*'."""
    return pipeline.match_bool_prefix_topk(
        _docs(spark, sf_dir), "data joi", k=50, round_to=6)


def _match_bool_prefix_sql(full: list[str], prefix: str,
                           k: int = 50) -> str:
    tlist = ", ".join(f"'{t}'" for t in full)
    return f"""
WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s1 AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 *
                (0.25 + 0.75 * dl.dl / s.avgdl)))) AS raw
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s GROUP BY tf.doc_id),
pref AS (SELECT DISTINCT doc_id FROM tok2
         WHERE term LIKE '{prefix}%'),
hits AS (
  SELECT coalesce(s1.doc_id, pref.doc_id) AS doc_id,
         coalesce(s1.raw, 0.0)
           + CASE WHEN pref.doc_id IS NOT NULL
                  THEN 1.0 ELSE 0.0 END AS raw
  FROM s1 FULL OUTER JOIN pref ON s1.doc_id = pref.doc_id)
SELECT doc_id, round(raw, 6) AS score
FROM hits ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT {k}
"""


def _q_auto_date_histogram(spark, sf_dir):
    """ES auto_date_histogram (target 25 buckets): the ladder picks
    'week' for the ~30-day events corpus; sparse calendar buckets."""
    from auctus_spark.operators.profiling import auto_date_histogram
    return auto_date_histogram(_t(spark, sf_dir, "events"), "ts",
                               buckets=25)


def _auto_date_histogram_sql(buckets: int) -> str:
    return f"""
WITH mm AS (SELECT min(ts) AS lo, max(ts) AS hi FROM events
            WHERE ts IS NOT NULL),
n AS (SELECT
  date_diff('hour', date_trunc('hour', lo),
            date_trunc('hour', hi)) + 1 AS nh,
  date_diff('day', date_trunc('day', lo),
            date_trunc('day', hi)) + 1 AS nd,
  date_diff('week', date_trunc('week', lo),
            date_trunc('week', hi)) + 1 AS nw,
  date_diff('month', date_trunc('month', lo),
            date_trunc('month', hi)) + 1 AS nm,
  date_diff('quarter', date_trunc('quarter', lo),
            date_trunc('quarter', hi)) + 1 AS nq
  FROM mm),
pick AS (SELECT CASE WHEN nh <= {buckets} THEN 'hour'
                     WHEN nd <= {buckets} THEN 'day'
                     WHEN nw <= {buckets} THEN 'week'
                     WHEN nm <= {buckets} THEN 'month'
                     WHEN nq <= {buckets} THEN 'quarter'
                     ELSE 'year' END AS unit FROM n)
SELECT p.unit AS interval,
       date_trunc(p.unit, e.ts) AS bucket_start,
       CAST(count(*) AS BIGINT) AS count
FROM events e CROSS JOIN pick p WHERE e.ts IS NOT NULL
GROUP BY p.unit, date_trunc(p.unit, e.ts)
ORDER BY bucket_start
"""


def _q_knn_filtered(spark, sf_dir):
    """ES filtered kNN: the label=3 predicate applies BEFORE the
    search (exact top-15 of the filtered set — k survivors
    guaranteed, unlike post-filtering)."""
    from auctus_spark.operators.similarity import cosine_topk_filtered
    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    out = cosine_topk_filtered(e, qvec, F.col("label") == 3, k=15)
    return out.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


_KNN_FILTERED_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
           WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qe), 6)
         AS cos_sim
FROM embeddings, q WHERE label = 3
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id
LIMIT 15
"""


def _q_pipeline_aggs2(spark, sf_dir):
    """Second ES pipeline-agg family (serial_diff lag 2, normalize
    percent_of_sum + z-score) over the dense daily date_histogram."""
    from auctus_spark.operators.profiling import (bucket_pipeline2,
                                                  date_histogram)
    e = _t(spark, sf_dir, "events")
    buckets = date_histogram(e, "ts", interval="day", min_doc_count=0)
    out = bucket_pipeline2(buckets, "count", "bucket_start", lag=2)
    return out.select("bucket_start", "count", "serial_diff_2",
                      F.round("percent_of_sum", 6)
                      .alias("percent_of_sum"),
                      F.round("z_score", 6).alias("z_score"))


_PIPELINE_AGGS2_SQL = """
WITH b AS (SELECT date_trunc('day', ts) AS bucket FROM events
           WHERE ts IS NOT NULL),
c AS (SELECT bucket, count(*) AS count FROM b GROUP BY bucket),
mm AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c),
axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
           AS bucket FROM mm),
h AS (SELECT axis.bucket AS bucket_start,
             CAST(coalesce(c.count, 0) AS BIGINT) AS count
      FROM axis LEFT JOIN c USING (bucket))
SELECT bucket_start, count,
       CAST(count AS DOUBLE)
         - lag(CAST(count AS DOUBLE), 2) OVER (ORDER BY bucket_start)
         AS serial_diff_2,
       round(CAST(count AS DOUBLE) / sum(CAST(count AS DOUBLE))
             OVER (), 6) AS percent_of_sum,
       round(CASE WHEN stddev_pop(CAST(count AS DOUBLE)) OVER () = 0
                  THEN 0.0
                  ELSE (CAST(count AS DOUBLE)
                        - avg(CAST(count AS DOUBLE)) OVER ())
                       / stddev_pop(CAST(count AS DOUBLE)) OVER ()
             END, 6) AS z_score
FROM h
"""


def _q_bucket_sort(spark, sf_dir):
    """ES bucket_sort: the 7 busiest days of the daily
    date_histogram (count desc, bucket asc tie-break)."""
    from auctus_spark.operators.profiling import (bucket_sort,
                                                  date_histogram)
    e = _t(spark, sf_dir, "events")
    buckets = date_histogram(e, "ts", interval="day", min_doc_count=1)
    return bucket_sort(buckets, sort_col="count", size=7)


_BUCKET_SORT_SQL = """
WITH b AS (SELECT date_trunc('day', ts) AS bucket_start FROM events
           WHERE ts IS NOT NULL),
c AS (SELECT bucket_start, CAST(count(*) AS BIGINT) AS count
      FROM b GROUP BY bucket_start)
SELECT bucket_start, count FROM c
ORDER BY count DESC, bucket_start ASC LIMIT 7
"""


def _q_completion_suggest(spark, sf_dir):
    """ES completion suggester: dictionary terms with prefix 's',
    weight = df, ranked weight desc / term asc — a ``startswith`` cut
    pushed to the scan of the term-sorted term_stats table."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    return eng.suggest_completions("s", size=8)


def _completion_suggest_sql(prefix: str, size: int = 8) -> str:
    return f"""
WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS weight
      FROM tok2 WHERE term LIKE '{prefix}%' GROUP BY term)
SELECT term, weight,
       CAST(row_number() OVER (ORDER BY weight DESC, term ASC)
            AS INT) AS rank
FROM d ORDER BY weight DESC, term ASC LIMIT {size}
"""


def _q_completion_fuzzy(spark, sf_dir):
    """ES fuzzy completion: dictionary terms whose prefix of the
    query's length is within 1 Damerau edit of 'sca' (first char
    exact), ranked (dist asc, weight desc, term asc) — the
    FST-automaton walk rendered as an anchored, row-group-pruned
    dictionary scan + Arrow-batched distance predicate."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    _ensure_workers_can_import(spark)
    return eng.suggest_completions("sca", size=8, fuzziness=1,
                                   prefix_length=1)


def _completion_fuzzy_sql(prefix: str, size: int = 8,
                          fuzziness: int = 1) -> str:
    plen = len(prefix)
    anchor = prefix[0]
    return f"""
WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS weight
      FROM tok2 WHERE term LIKE '{anchor}%' GROUP BY term),
f AS (SELECT term, weight,
        CAST(damerau_levenshtein(substr(term, 1, {plen}),
                                 '{prefix}') AS INT) AS dist
      FROM d)
SELECT term, weight, dist,
       CAST(row_number() OVER (ORDER BY dist ASC, weight DESC,
                               term ASC) AS INT) AS rank
FROM f WHERE dist <= {fuzziness}
ORDER BY dist ASC, weight DESC, term ASC LIMIT {size}
"""


_GEO_RINGS = [(None, 1500.0), (1500.0, 4000.0), (4000.0, None)]


def _q_geo_distance_rings(spark, sf_dir):
    """ES geo_distance aggregation: distance rings around (10, 20)
    over the derived customer coordinates — one scan, the haversine
    evaluates once per row."""
    from auctus_spark.operators.geo import geo_distance_rings
    return geo_distance_rings(_geo_derived_customers(spark, sf_dir),
                              "lat", "lon", 10.0, 20.0, _GEO_RINGS)


def _geo_distance_rings_sql(rings) -> str:
    parts = []
    for lo, hi in rings:
        key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        conds = ["TRUE"]
        if lo is not None:
            conds.append(f"d >= {lo!r}")
        if hi is not None:
            conds.append(f"d < {hi!r}")
        lo_sql = "CAST(NULL AS DOUBLE)" if lo is None else repr(float(lo))
        hi_sql = "CAST(NULL AS DOUBLE)" if hi is None else repr(float(hi))
        parts.append(f"""
SELECT '{key}' AS bucket, {lo_sql} AS range_from, {hi_sql} AS range_to,
       CAST((SELECT count(*) FROM dist
             WHERE {' AND '.join(conds)}) AS BIGINT) AS doc_count""")
    u = "\nUNION ALL\n".join(parts)
    return f"""
WITH c AS (
  SELECT CAST((c_custkey % 80) - 40 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 160) - 80 AS DOUBLE) AS lon
  FROM customer),
dist AS (
  SELECT 2.0 * 6371.0088 * asin(sqrt(
           sin(radians(10.0 - lat) / 2) * sin(radians(10.0 - lat) / 2)
           + cos(radians(lat)) * cos(radians(10.0)) *
             sin(radians(20.0 - lon) / 2) *
             sin(radians(20.0 - lon) / 2))) AS d
  FROM c)
{u}
ORDER BY bucket
"""


def _q_terms_agg_ordered(spark, sf_dir):
    """ES terms aggregation ordered by a sub-agg metric: event_type
    buckets by avg(value) desc."""
    from auctus_spark.operators.profiling import terms_agg_ordered
    out = terms_agg_ordered(_t(spark, sf_dir, "events"),
                            "event_type", "value", metric="avg",
                            size=10)
    return out.select("bucket", "doc_count",
                      F.round("metric_value", 6).alias("metric_value"))


_TERMS_AGG_ORDERED_SQL = """
SELECT event_type AS bucket, CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(value), 6) AS metric_value
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type
ORDER BY avg(value) DESC, event_type ASC LIMIT 10
"""


def _q_multi_index_search(spark, sf_dir):
    """ES multi-index search (query_then_fetch): the corpus sharded
    into two indexes by doc_id parity, each scoring with its OWN
    stats (N/df/avgdl), local top-k merged to the global top-k —
    the per-partition-index sharding story end-to-end."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import (FORMAT_VERSION, IndexBuilder,
                                          read_format, wipe)
    from auctus_spark.query.bm25 import (SearchEngine,
                                         search_multi_index)

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    engines = []
    for par in (0, 1):
        idx_dir = f"/tmp/auctus_entry_index_half{par}_{tag}"
        corpus = (_docs_seq(spark, sf_dir)
                  .filter(F.col("doc_id") % 2 == par)
                  .select("doc_id", F.col("text").alias("content")))
        b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                         chunk_docs=1 << 12, term_buckets=16)
        if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
                or read_format(idx_dir) != FORMAT_VERSION):
            wipe(idx_dir)
            b.build(corpus)
        engines.append(SearchEngine(spark, idx_dir, term_buckets=16))
    out = search_multi_index(engines, "data join", k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_indices_boost(spark, sf_dir):
    """ES indices_boost on the same two parity indexes as
    [multi_index_search]: index of odd doc_ids boosted 2x before the
    query_then_fetch merge (boost is monotone per index, so local
    top-k lists stay sufficient)."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.build import (FORMAT_VERSION, IndexBuilder,
                                          read_format, wipe)
    from auctus_spark.query.bm25 import (SearchEngine,
                                         search_multi_index)

    _ensure_workers_can_import(spark)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    engines = []
    for par in (0, 1):
        idx_dir = f"/tmp/auctus_entry_index_half{par}_{tag}"
        corpus = (_docs_seq(spark, sf_dir)
                  .filter(F.col("doc_id") % 2 == par)
                  .select("doc_id", F.col("text").alias("content")))
        b = IndexBuilder(spark, idx_dir, doc_bucket=1 << 10,
                         chunk_docs=1 << 12, term_buckets=16)
        if (not _os.path.exists(_os.path.join(idx_dir, "stats"))
                or read_format(idx_dir) != FORMAT_VERSION):
            wipe(idx_dir)
            b.build(corpus)
        engines.append(SearchEngine(spark, idx_dir, term_buckets=16))
    out = search_multi_index(engines, "data join", k=50,
                             boosts=[1.0, 2.0])
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _multi_index_search_sql(terms: list[str], k: int = 50,
                            boosts: tuple[float, float] = (1.0, 1.0)
                            ) -> str:
    """Per-index BM25 (each parity half has its own N/avgdl/df — the
    ES query_then_fetch contract), optionally indices_boost-ed,
    unioned, global top-k."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    halves = []
    for par in (0, 1):
        halves.append(f"""
SELECT doc_id, raw_score FROM (
  WITH docs{par} AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 2 = {par}),
  tok AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text),
                  '{SPLIT_PATTERN}')) AS term
    FROM docs{par}),
  tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
  dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
  stats AS (
    SELECT (SELECT count(*) FROM docs{par}) AS n_docs,
           (SELECT count(*) FROM tok2) * 1.0
             / (SELECT count(*) FROM docs{par}) AS avgdl),
  tf AS (
    SELECT doc_id, term, count(*) AS tf FROM tok2
    WHERE term IN ({tlist}) GROUP BY doc_id, term),
  df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf / (tf.tf + 1.2 *
                  (0.25 + 0.75 * dl.dl / s.avgdl)))) AS raw_score,
           count(*) AS nt
    FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
    CROSS JOIN stats s GROUP BY tf.doc_id)
  SELECT doc_id, raw_score * {boosts[par]!r} AS raw_score
  FROM scored WHERE nt = {len(terms)})""")
    u = "\nUNION ALL\n".join(halves)
    return f"""
SELECT doc_id, round(raw_score, 6) AS score
FROM ({u})
ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


def _q_date_math_range(spark, sf_dir):
    """ES range query with date-math bounds: events in the ISO week
    of 2024-01-08 ("2024-01-08||/w" <= ts < "2024-01-08||+1w/w") —
    bounds resolve driver-side to sargable literals."""
    from auctus_spark.query.datemath import date_math_range
    e = _t(spark, sf_dir, "events")
    out = date_math_range(e, "ts", gte="2024-01-08||/w",
                          lt="2024-01-08||+1w/w")
    return out.select("event_id", "ts")


_DATE_MATH_RANGE_SQL = """
SELECT event_id, ts FROM events
WHERE ts >= date_trunc('week', DATE '2024-01-08')
  AND ts < date_trunc('week', DATE '2024-01-08') + INTERVAL 7 DAY
"""


def _q_significant_terms(spark, sf_dir):
    """ES significant_terms aggregation analog (JLH heuristic):
    terms over-represented in the lang='de' foreground vs the whole
    documents corpus."""
    from auctus_spark.operators.profiling import significant_terms
    d = _docs(spark, sf_dir)
    return significant_terms(d, F.col("lang") == "de", k=10)


def _q_bm25_mlt(spark, sf_dir):
    """ES more_like_this (artificial document = doc 0's text): Lucene
    MLT tf-idf term selection (top 25, tie-break term ASC) + the
    disjunctive BM25 engine with minimum_should_match=30% on the
    segment index."""
    from auctus_spark.query.bm25 import SearchEngine
    _q_bm25_index_path(spark, sf_dir)    # ensure the index exists
    import hashlib as _h
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    eng = SearchEngine(spark, f"/tmp/auctus_entry_index_{tag}",
                       term_buckets=16)
    like = (_docs(spark, sf_dir).filter(F.col("doc_id") == 0)
            .collect()[0].text)
    out = eng.more_like_this(like, k=50)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_mlt_sql(src_doc: int = 0, k: int = 50,
                  max_terms: int = 25, msm_pct: float = 0.3) -> str:
    """[bm25_mlt] oracle: replicate MLT selection (tf * (ln(n/(df+1))
    + 1), top max_terms by score DESC term ASC) from the source doc's
    text, then the disjunctive BM25 with nt >= floor(pct * n_sel)."""
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}'))
           AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
src AS (SELECT term, count(*) AS tf FROM tok2
        WHERE doc_id = {src_doc} GROUP BY term),
dfall AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          GROUP BY term),
mlt AS (
  SELECT s.term
  FROM src s JOIN dfall d USING (term) CROSS JOIN stats st
  ORDER BY s.tf * (ln(st.n_docs / (d.df + 1.0)) + 1.0) DESC,
           s.term ASC
  LIMIT {max_terms}),
msm AS (SELECT greatest(1, floor({msm_pct} * count(*))::INT) AS m
        FROM mlt),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN (SELECT term FROM mlt) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))))
           AS raw_score,
         count(*) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 6) AS score
FROM scored, msm WHERE nt >= msm.m
ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


def _q_string_stats(spark, sf_dir):
    """ES string_stats over documents.text: length stats + Shannon
    entropy (log2) of the character distribution."""
    from auctus_spark.operators.profiling import string_stats_agg
    out = string_stats_agg(_t(spark, sf_dir, "documents"), "text")
    return out.select(
        F.col("count").cast("long").alias("count"),
        F.col("min_length").cast("long").alias("min_length"),
        F.col("max_length").cast("long").alias("max_length"),
        F.round("avg_length", 6).alias("avg_length"),
        F.round("entropy", 6).alias("entropy"))


_STRING_STATS_SQL = """
WITH base AS (SELECT text AS s FROM documents WHERE text IS NOT NULL),
lens AS (SELECT count(*) AS count, min(length(s)) AS min_length,
                max(length(s)) AS max_length,
                round(avg(length(s)), 6) AS avg_length FROM base),
chars AS (SELECT substr(s, i, 1) AS ch
          FROM base, LATERAL unnest(generate_series(1, length(s)))
               AS t(i)),
cc AS (SELECT ch, CAST(count(*) AS DOUBLE) AS n FROM chars GROUP BY ch),
ent AS (SELECT round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6)
          AS entropy FROM cc)
SELECT count, min_length, max_length, avg_length, entropy
FROM lens, ent
"""


def _q_mad_value(spark, sf_dir):
    """ES median_absolute_deviation on events.value — exact form
    (ES is TDigest-approximate; documented stronger contract)."""
    from auctus_spark.operators.profiling import (
        median_absolute_deviation_agg)
    out = median_absolute_deviation_agg(
        _t(spark, sf_dir, "events"), "value")
    return out.select(F.round("median", 6).alias("median"),
                      F.round("mad", 6).alias("mad"))


_MAD_VALUE_SQL = """
SELECT round(median(value), 6) AS median,
       round(mad(value), 6) AS mad
FROM events WHERE value IS NOT NULL
"""


def _q_t_test_welch(spark, sf_dir):
    """ES t_test (heteroscedastic/Welch, the default) between the
    click and purchase populations of events.value; surfaces the
    exact (t, dof) sufficient statistics (ES converts to a p-value
    via the Student CDF — documented divergence)."""
    from auctus_spark.operators.profiling import t_test_agg
    out = t_test_agg(_t(spark, sf_dir, "events"), "value",
                     "event_type", "click", "purchase")
    return out.select(F.round("t_stat", 6).alias("t_stat"),
                      F.round("dof", 6).alias("dof"),
                      "n_a", "n_b")


_T_TEST_WELCH_SQL = """
WITH s AS (
  SELECT count(CASE WHEN event_type = 'click' THEN value END) AS n1,
         avg(CASE WHEN event_type = 'click' THEN value END) AS m1,
         var_samp(CASE WHEN event_type = 'click' THEN value END) AS v1,
         count(CASE WHEN event_type = 'purchase' THEN value END) AS n2,
         avg(CASE WHEN event_type = 'purchase' THEN value END) AS m2,
         var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v2
  FROM events)
SELECT round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
       round(pow(v1 / n1 + v2 / n2, 2)
             / (pow(v1 / n1, 2) / (n1 - 1)
                + pow(v2 / n2, 2) / (n2 - 1)), 6) AS dof,
       n1 AS n_a, n2 AS n_b
FROM s
"""


def _q_top_metrics(spark, sf_dir):
    """ES top_metrics under a terms agg: per event_type the
    (value, user_id) metrics of the latest event (ts desc, event_id
    asc tiebreak — deterministic where ES is arbitrary)."""
    from auctus_spark.operators.profiling import top_metrics_agg
    out = top_metrics_agg(_t(spark, sf_dir, "events"), "event_type",
                          "ts", ["value", "user_id"],
                          tiebreak_col="event_id")
    return out.select("event_type", "top_ts",
                      F.round("top_value", 6).alias("top_value"),
                      "top_user_id")


_TOP_METRICS_SQL = """
SELECT event_type, ts AS top_ts, round(value, 6) AS top_value,
       user_id AS top_user_id
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY ts DESC, event_id ASC)
        AS rn FROM events WHERE ts IS NOT NULL)
WHERE rn = 1
"""


def _q_value_count_missing(spark, sf_dir):
    """ES value_count + missing aggs, one row per field, over a
    projection with a genuinely-null column (value gated > 50)."""
    from auctus_spark.operators.profiling import value_count_missing_agg
    e = _t(spark, sf_dir, "events")
    proj = e.select(
        F.when(F.col("value") > 50, F.col("value")).alias("v50"),
        "props", "user_id")
    return value_count_missing_agg(proj, ["v50", "props", "user_id"])


_VALUE_COUNT_MISSING_SQL = """
SELECT 'v50' AS field,
       count(CASE WHEN value > 50 THEN value END) AS value_count,
       count(CASE WHEN value > 50 THEN NULL ELSE 1 END) AS missing
FROM events
UNION ALL
SELECT 'props', count(props),
       count(CASE WHEN props IS NULL THEN 1 END) FROM events
UNION ALL
SELECT 'user_id', count(user_id),
       count(CASE WHEN user_id IS NULL THEN 1 END) FROM events
"""


def _q_date_range_agg(spark, sf_dir):
    """ES date_range agg: half-open [from, to) buckets, overlapping
    allowed (a doc counts once per containing range)."""
    from auctus_spark.operators.profiling import date_range_agg
    ranges = [(None, "2024-01-10"),
              ("2024-01-05", "2024-01-20"),
              ("2024-01-15", None)]
    return date_range_agg(_t(spark, sf_dir, "events"), "ts", ranges)


_DATE_RANGE_AGG_SQL = """
SELECT '*-2024-01-10' AS bucket,
       count(CASE WHEN ts < TIMESTAMP '2024-01-10' THEN 1 END)
         AS doc_count
FROM events WHERE ts IS NOT NULL
UNION ALL
SELECT '2024-01-05-2024-01-20',
       count(CASE WHEN ts >= TIMESTAMP '2024-01-05'
                   AND ts < TIMESTAMP '2024-01-20' THEN 1 END)
FROM events WHERE ts IS NOT NULL
UNION ALL
SELECT '2024-01-15-*',
       count(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 1 END)
FROM events WHERE ts IS NOT NULL
"""


def _q_rate_agg(spark, sf_dir):
    """ES rate agg in a monthly date_histogram, day unit: per month
    sum(value) / calendar days in that month (leap-aware)."""
    from auctus_spark.operators.profiling import rate_agg
    out = rate_agg(_t(spark, sf_dir, "events"), "ts", "value",
                   interval="month", rate_unit="day")
    return out.select("bucket_start", "doc_count",
                      F.round("bucket_value", 6).alias("bucket_value"),
                      F.round("rate_per_day", 6).alias("rate_per_day"))


_RATE_AGG_SQL = """
SELECT date_trunc('month', ts) AS bucket_start,
       count(*) AS doc_count,
       round(sum(value), 6) AS bucket_value,
       round(sum(value)
             / day(last_day(date_trunc('month', ts))), 6)
         AS rate_per_day
FROM events WHERE ts IS NOT NULL
GROUP BY date_trunc('month', ts)
ORDER BY bucket_start
"""


_CUST_COORDS_SQL = """
  SELECT CAST((c_custkey % 80) - 40 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 160) - 80 AS DOUBLE) AS lon
  FROM customer"""


def _q_geotile_grid(spark, sf_dir):
    """ES geotile_grid agg at zoom 6 over the derived customer
    coordinates (slippy-tile mercator formula)."""
    from auctus_spark.operators.geo import geotile_grid_agg
    c = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") % 80) - 40).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 160) - 80).cast("double")
        .alias("lon"))
    return geotile_grid_agg(c, "lat", "lon", zoom=6, size=20)


_GEOTILE_GRID_SQL = f"""
WITH c AS ({_CUST_COORDS_SQL}),
m AS (SELECT lon,
             least(greatest(lat, -85.05112878), 85.05112878) AS latc
      FROM c),
t AS (SELECT
  least(greatest(CAST(floor(64 * (lon + 180.0) / 360.0) AS BIGINT),
                 0), 63) AS x,
  least(greatest(CAST(floor(64 * (1.0
        - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi())
        / 2.0) AS BIGINT), 0), 63) AS y
FROM m)
SELECT '6/' || x || '/' || y AS tile, count(*) AS doc_count
FROM t GROUP BY 1 ORDER BY doc_count DESC, tile ASC LIMIT 20
"""


def _geohash32_p4_expr() -> str:
    """4-char base-32 geohash as pure SQL over (qlon, qlat) 10-bit
    cells — the same lon-first bit interleave as geohash_encode."""
    from auctus_spark.operators.geo import GEOHASH_CHARS
    parts = []
    for k in range(4):
        terms = []
        for j in range(5):
            p = 5 * k + j
            if p % 2 == 0:
                src, s = "qlon", 9 - p // 2
            else:
                src, s = "qlat", 9 - (p - 1) // 2
            terms.append(f"((({src} >> {s}) & 1) << {4 - j})")
        idx = " + ".join(terms)
        parts.append(f"substr('{GEOHASH_CHARS}', ({idx}) + 1, 1)")
    return " || ".join(parts)


def _q_geohash_grid(spark, sf_dir):
    """ES geohash_grid agg, precision 4, over the derived customer
    coordinates (vectorized base-32 encoder)."""
    from auctus_spark.operators.geo import geohash_grid_agg
    _ensure_workers_can_import(spark)  # pandas UDF imports the package
    c = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") % 80) - 40).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 160) - 80).cast("double")
        .alias("lon"))
    return geohash_grid_agg(c, "lat", "lon", precision=4, size=20)


def _geohash_grid_sql() -> str:
    # _quantize mirror: ceil((v - lo) / step) - 1, clipped — step is
    # a power-of-two division so the float math is exact in both
    # engines
    return f"""
WITH c AS ({_CUST_COORDS_SQL}),
q AS (SELECT
  greatest(0, least(1023,
    CAST(ceil((lon + 180.0) / 0.3515625) AS BIGINT) - 1)) AS qlon,
  greatest(0, least(1023,
    CAST(ceil((lat + 90.0) / 0.17578125) AS BIGINT) - 1)) AS qlat
FROM c),
g AS (SELECT {_geohash32_p4_expr()} AS geohash FROM q)
SELECT geohash, count(*) AS doc_count FROM g GROUP BY geohash
ORDER BY doc_count DESC, geohash ASC LIMIT 20
"""


def _q_sampler(spark, sf_dir):
    """ES sampler agg: terms facet on lang over the global top-100
    should-BM25 hits (global = strictly-stronger deterministic form
    of ES's per-shard sampling)."""
    return pipeline.sampler_facet(_docs(spark, sf_dir), "join data",
                                  "lang", shard_size=100)


def _sampler_sql() -> str:
    or_sql = _bm25_or_sql(["join", "data"], k=100).replace(
        "ORDER BY raw_score DESC", "ORDER BY round(raw_score, 6) DESC")
    return f"""
WITH hits AS ({or_sql})
SELECT d.lang, count(*) AS doc_count
FROM hits h JOIN documents d ON d.doc_id = h.doc_id
GROUP BY d.lang ORDER BY doc_count DESC, d.lang ASC
"""


def _q_diversified_sampler(spark, sf_dir):
    """ES diversified_sampler: top-50 hits with at most 2 docs per
    source admitted during collection, then the lang facet."""
    return pipeline.diversified_sampler_facet(
        _docs(spark, sf_dir), "join data", "lang", "source",
        max_docs_per_value=2, shard_size=50)


def _diversified_sampler_sql() -> str:
    or_sql = _bm25_or_sql(["join", "data"], k=10**9).replace(
        "ORDER BY raw_score DESC", "ORDER BY round(raw_score, 6) DESC")
    return f"""
WITH hits AS ({or_sql}),
ranked AS (
  SELECT h.doc_id, h.score, d.source, d.lang,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY h.score DESC, h.doc_id ASC) AS rv
  FROM hits h JOIN documents d ON d.doc_id = h.doc_id),
top AS (SELECT * FROM ranked WHERE rv <= 2
        ORDER BY score DESC, doc_id ASC LIMIT 50)
SELECT lang, count(*) AS doc_count FROM top
GROUP BY lang ORDER BY doc_count DESC, lang ASC
"""


_ANN_Q = [round(math.sin(i + 1), 6) for i in range(64)]


def _q_ann_int8_rescore(spark, sf_dir):
    """ES 8.x int8-quantized kNN with exact rescore
    (similarity.quantized_topk_rescore): unit-normalize each vector
    (Lucene's index-time cosine→dot step), quantize to uint8 on
    fixed [-1,1] calibration bounds — q = floor((x+1)·127.5 + 0.5)
    — rank the corpus by the affine-corrected integer dot
    Δ²·qdot − Δ·(Σq_doc + Σq_query) + d, keep the top-50 window,
    exact-cosine rescore only those, return top-10.  The query is a
    deterministic literal (sin(i+1) rounded to 6dp, 64-dim), so the
    oracle replays the identical quantized query and constants."""
    from auctus_spark.operators.similarity import quantized_topk_rescore
    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk_rescore(emb, _ANN_Q, k=10, window=50)


def _ann_int8_sql() -> str:
    from auctus_spark.operators.similarity import quantize_query
    qn, qq = quantize_query(_ANN_Q)
    delta = 2.0 / 255.0
    qn_lit = "[" + ", ".join(repr(v) for v in qn) + "]"
    qq_lit = "[" + ", ".join(f"{v}.0" for v in qq) + "]"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
n AS (SELECT vec_id, emb,
        list_transform(emb, x -> x / sqrt(list_sum(
          list_transform(emb, y -> y * y)))) AS nv
      FROM e),
dq AS (SELECT vec_id, emb,
         list_transform(nv, x -> least(255.0, greatest(0.0,
           floor((x - (-1.0)) * 127.5 + 0.5)))) AS qv
       FROM n),
cand AS (
  SELECT vec_id, emb,
         {delta * delta!r} * list_dot_product(qv, {qq_lit})
           + {-1.0 * delta!r}
             * (list_sum(qv) + {float(sum(qq))!r})
           + {64.0!r} AS appx
  FROM dq
  ORDER BY appx DESC, vec_id ASC LIMIT 50)
SELECT vec_id,
       round(list_cosine_similarity(emb, {qn_lit}::DOUBLE[]), 6)
         AS cos_sim
FROM cand
ORDER BY round(list_cosine_similarity(emb, {qn_lit}::DOUBLE[]), 6)
           DESC, vec_id ASC
LIMIT 10
"""


def _q_ann_bit_rescore(spark, sf_dir):
    """ES bit dense_vector / BBQ-style 1-bit quantization with exact
    rescore (similarity.binary_topk_rescore): sign-bit quantization
    (parameter-free), hamming-distance candidate ranking (asc, id asc
    ties), top-50 window, exact-cosine rescore to top-10 — the 1-bit
    tier below [ann_int8_rescore], same literal query."""
    from auctus_spark.operators.similarity import binary_topk_rescore
    emb = _t(spark, sf_dir, "embeddings")
    return binary_topk_rescore(emb, _ANN_Q, k=10, window=50)


def _ann_bit_sql() -> str:
    from auctus_spark.operators.similarity import quantize_query
    qn, _ = quantize_query(_ANN_Q)
    qb = "[" + ", ".join("1" if float(x) >= 0.0 else "0"
                         for x in _ANN_Q) + "]"
    qn_lit = "[" + ", ".join(repr(v) for v in qn) + "]"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
h AS (SELECT vec_id, emb,
        list_sum(list_transform(range(1, len(emb) + 1),
          i -> abs(CASE WHEN emb[i] >= 0.0 THEN 1 ELSE 0 END
                   - ({qb})[i]))) AS hd
      FROM e),
cand AS (SELECT vec_id, emb FROM h
         ORDER BY hd ASC, vec_id ASC LIMIT 50)
SELECT vec_id,
       round(list_cosine_similarity(emb, {qn_lit}::DOUBLE[]), 6)
         AS cos_sim
FROM cand
ORDER BY round(list_cosine_similarity(emb, {qn_lit}::DOUBLE[]), 6)
           DESC, vec_id ASC
LIMIT 10
"""


_MAXSIM_QS = [[round(math.cos(i + 1 + 7 * j), 6) for i in range(64)]
              for j in range(3)]


def _q_maxsim_rank_vectors(spark, sf_dir):
    """ES 8.x rank_vectors / ColBERT late interaction
    (similarity.maxsim_topk): docs are bags of 5 vectors (vec_id DIV
    5), score = Σ over 3 literal query vectors of the max dot product
    against the doc's bag — one scan, one partial-aggregated shuffle
    on the doc key (max and sum combine map-side), top-10 on the
    6-dp-rounded score."""
    from auctus_spark.operators.similarity import maxsim_topk
    e = (_t(spark, sf_dir, "embeddings")
         .select(F.expr("vec_id DIV 5").alias("doc_id"),
                 F.col("embedding").cast("array<double>")
                 .alias("embedding")))
    return maxsim_topk(e, _MAXSIM_QS, k=10)


def _maxsim_sql() -> str:
    qs = ["[" + ", ".join(repr(float(x)) for x in q) + "]"
          for q in _MAXSIM_QS]
    return f"""
WITH e AS (SELECT vec_id // 5 AS doc_id,
                  embedding::DOUBLE[] AS emb FROM embeddings),
m AS (SELECT doc_id,
        max(list_dot_product(emb, {qs[0]}::DOUBLE[])) AS m0,
        max(list_dot_product(emb, {qs[1]}::DOUBLE[])) AS m1,
        max(list_dot_product(emb, {qs[2]}::DOUBLE[])) AS m2
      FROM e GROUP BY doc_id)
SELECT doc_id, round(m0 + m1 + m2, 6) AS maxsim
FROM m ORDER BY round(m0 + m1 + m2, 6) DESC, doc_id ASC LIMIT 10
"""


def _q_linear_hybrid(spark, sf_dir):
    """ES linear retriever (8.16+, minmax normalizer): the same two
    retriever windows as [rrf_hybrid] — BM25 should top-50 and
    cosine kNN top-50 — each min-max normalized over its own window,
    fused as 2.0·lex + 1.0·vec (absent → 0), final top-10 on the
    6-dp-rounded fused score, id asc ties."""
    from auctus_spark.operators.similarity import (cosine_topk,
                                                   linear_fuse)
    docs = _docs(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    lex = pipeline.bm25_or_topk(docs, "join data", k=50, round_to=6)
    vec = (cosine_topk(emb, qvec, k=50, round_to=6)
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("cos_sim").alias("score")))
    return linear_fuse(lex, vec, weight_a=2.0, weight_b=1.0,
                       id_col="doc_id", k=10)


def _linear_hybrid_sql() -> str:
    or_sql = _bm25_or_sql(["join", "data"], k=50).replace(
        "ORDER BY raw_score DESC", "ORDER BY round(raw_score, 6) DESC")
    return f"""
WITH lex AS ({or_sql}),
lexn AS (SELECT doc_id,
           CASE WHEN max(score) OVER () = min(score) OVER ()
                THEN 1.0
                ELSE (score - min(score) OVER ())
                     / (max(score) OVER () - min(score) OVER ())
           END AS na FROM lex),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
      WHERE vec_id = 0),
vec AS (SELECT vec_id AS doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qe),
                     6) AS cs
        FROM embeddings, q
        ORDER BY cs DESC, vec_id ASC LIMIT 50),
vecn AS (SELECT doc_id,
           CASE WHEN max(cs) OVER () = min(cs) OVER ()
                THEN 1.0
                ELSE (cs - min(cs) OVER ())
                     / (max(cs) OVER () - min(cs) OVER ())
           END AS nb FROM vec),
j AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             coalesce(na, 0.0) * 2.0 + coalesce(nb, 0.0) * 1.0 AS s
      FROM lexn l FULL OUTER JOIN vecn v ON l.doc_id = v.doc_id)
SELECT doc_id, round(s, 6) AS linear_score
FROM j ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 10
"""


def _q_rrf_hybrid(spark, sf_dir):
    """ES RRF retriever: fuse a BM25 should top-50 over documents
    with a cosine kNN top-50 over the aligned embeddings table
    (vec_id ≡ doc_id), rank_constant 60, final top-10.  Both
    retriever windows rank on 6-dp-rounded scores so the oracle
    agrees on rank-boundary membership."""
    from auctus_spark.operators.similarity import cosine_topk, rrf_fuse
    docs = _docs(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    lex = pipeline.bm25_or_topk(docs, "join data", k=50, round_to=6)
    vec = (cosine_topk(emb, qvec, k=50, round_to=6)
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("cos_sim").alias("score")))
    out = rrf_fuse(lex, vec, id_col="doc_id", rank_constant=60, k=10)
    return out.select("doc_id",
                      F.round("rrf_score", 6).alias("rrf_score"))


def _rrf_hybrid_sql() -> str:
    or_sql = _bm25_or_sql(["join", "data"], k=50).replace(
        "ORDER BY raw_score DESC", "ORDER BY round(raw_score, 6) DESC")
    return f"""
WITH lex AS ({or_sql}),
lexr AS (SELECT doc_id, row_number()
           OVER (ORDER BY score DESC, doc_id ASC) AS rank_a FROM lex),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
      WHERE vec_id = 0),
vec AS (SELECT vec_id AS doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qe),
                     6) AS cs
        FROM embeddings, q
        ORDER BY cs DESC, vec_id ASC LIMIT 50),
vecr AS (SELECT doc_id, row_number()
           OVER (ORDER BY cs DESC, doc_id ASC) AS rank_b FROM vec),
j AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             coalesce(1.0 / (60 + rank_a), 0.0)
               + coalesce(1.0 / (60 + rank_b), 0.0) AS rrf
      FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
SELECT doc_id, round(rrf, 6) AS rrf_score
FROM j ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""


def _q_query_string(spark, sf_dir):
    """ES query_string: '(join AND data) OR "hash join"^2 -lang:de'
    — parens, AND/OR, quoted phrase with boost, keyword-field
    must_not — compiled to one stats scan + one scoring scan."""
    from auctus_spark.query.querystring import query_string_topk
    return query_string_topk(
        _docs(spark, sf_dir),
        '(join AND data) OR "hash join"^2 -lang:de',
        k=50, keyword_fields=("lang", "source"))


_IDF = ("ln(1 + (s.n_docs - x.df_{t} + 0.5) / (x.df_{t} + 0.5))")
_TFN = "({f} / ({f} + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)))"


def _query_string_sql() -> str:
    i_join = _IDF.format(t="join")
    i_data = _IDF.format(t="data")
    i_hash = _IDF.format(t="hash")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
         '{SPLIT_PATTERN}')) AS term FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
x AS (SELECT
  count(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df_join,
  count(DISTINCT CASE WHEN term = 'data' THEN doc_id END) AS df_data,
  count(DISTINCT CASE WHEN term = 'hash' THEN doc_id END) AS df_hash
  FROM tok2),
tf AS (SELECT doc_id,
  count(CASE WHEN term = 'join' THEN 1 END) AS tfj,
  count(CASE WHEN term = 'data' THEN 1 END) AS tfd
  FROM tok2 WHERE term IN ('join', 'data') GROUP BY doc_id),
tokpos AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
  FROM (SELECT doc_id,
          unnest(regexp_split_to_array(lower(text),
                 '{SPLIT_PATTERN}')) AS term,
          generate_subscripts(regexp_split_to_array(lower(text),
                 '{SPLIT_PATTERN}'), 1) AS pos
        FROM documents) WHERE term <> ''),
pf AS (SELECT a.doc_id, count(*) AS pf
       FROM tokpos a JOIN tokpos b
         ON b.doc_id = a.doc_id AND b.p = a.p + 1
       WHERE a.term = 'hash' AND b.term = 'join'
       GROUP BY a.doc_id),
b AS (SELECT d.doc_id, d.lang,
        coalesce(tf.tfj, 0) AS tfj, coalesce(tf.tfd, 0) AS tfd,
        coalesce(pf.pf, 0) AS pfreq, coalesce(dl.dl, 0) AS dl
      FROM documents d LEFT JOIN tf USING (doc_id)
        LEFT JOIN pf USING (doc_id) LEFT JOIN dl USING (doc_id)),
scored AS (
  SELECT b.doc_id,
    (CASE WHEN b.tfj > 0 AND b.tfd > 0 THEN
       {i_join} * {_TFN.format(f='b.tfj')}
       + {i_data} * {_TFN.format(f='b.tfd')}
     ELSE 0.0 END)
    + (CASE WHEN b.pfreq > 0 THEN
        (2.0 * ({i_hash} + {i_join}))
          * {_TFN.format(f='b.pfreq')}
       ELSE 0.0 END) AS raw,
    ((b.tfj > 0 AND b.tfd > 0) OR b.pfreq > 0)
      AND b.lang <> 'de' AS cond
  FROM b CROSS JOIN stats s CROSS JOIN x)
SELECT doc_id, round(raw, 6) AS score FROM scored WHERE cond
ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT 50
"""


def _q_simple_query_string(spark, sf_dir):
    """ES simple_query_string: '(join + data) | merge -hash' —
    infix +/| operators, prefix negation, never raises."""
    from auctus_spark.query.querystring import simple_query_string_topk
    return simple_query_string_topk(
        _docs(spark, sf_dir), "(join + data) | merge -hash", k=50)


def _simple_query_string_sql() -> str:
    i_join = _IDF.format(t="join")
    i_data = _IDF.format(t="data")
    i_merge = _IDF.format(t="merge")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
         '{SPLIT_PATTERN}')) AS term FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl),
x AS (SELECT
  count(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df_join,
  count(DISTINCT CASE WHEN term = 'data' THEN doc_id END) AS df_data,
  count(DISTINCT CASE WHEN term = 'merge' THEN doc_id END) AS df_merge
  FROM tok2),
tf AS (SELECT doc_id,
  count(CASE WHEN term = 'join' THEN 1 END) AS tfj,
  count(CASE WHEN term = 'data' THEN 1 END) AS tfd,
  count(CASE WHEN term = 'merge' THEN 1 END) AS tfm,
  count(CASE WHEN term = 'hash' THEN 1 END) AS tfh
  FROM tok2 WHERE term IN ('join', 'data', 'merge', 'hash')
  GROUP BY doc_id),
b AS (SELECT d.doc_id,
        coalesce(tf.tfj, 0) AS tfj, coalesce(tf.tfd, 0) AS tfd,
        coalesce(tf.tfm, 0) AS tfm, coalesce(tf.tfh, 0) AS tfh,
        coalesce(dl.dl, 0) AS dl
      FROM documents d LEFT JOIN tf USING (doc_id)
        LEFT JOIN dl USING (doc_id)),
scored AS (
  SELECT b.doc_id,
    (CASE WHEN b.tfj > 0 AND b.tfd > 0 THEN
       {i_join} * {_TFN.format(f='b.tfj')}
       + {i_data} * {_TFN.format(f='b.tfd')}
     ELSE 0.0 END)
    + (CASE WHEN b.tfm > 0 THEN
        {i_merge} * {_TFN.format(f='b.tfm')}
       ELSE 0.0 END) AS raw,
    ((b.tfj > 0 AND b.tfd > 0) OR b.tfm > 0)
      AND b.tfh = 0 AS cond
  FROM b CROSS JOIN stats s CROSS JOIN x)
SELECT doc_id, round(raw, 6) AS score FROM scored WHERE cond
ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT 50
"""


def _q_span_or(spark, sf_dir):
    """Lucene/ES span_or: union of single-term spans (constant_score,
    doc_id order)."""
    return _phrase_engine(spark, sf_dir).search_span_or(
        ["merge", "vector"], k=200)


def _span_or_sql(terms: list[str], k: int = 200) -> str:
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
         '{SPLIT_PATTERN}')) AS term FROM documents),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({tlist}))
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


def _q_span_containing(spark, sf_dir):
    """Lucene/ES span_containing: a 'data … join' big span (in-order,
    slop 5) enclosing a 'table' little span."""
    return _phrase_engine(spark, sf_dir).search_span_containing(
        ["data", "join"], "table", big_slop=5, k=200)


def _q_span_within(spark, sf_dir):
    """Lucene/ES span_within: 'scan' little spans inside a
    'table … value' big span (in-order, slop 6) — doc-existence
    equal to span_containing with swapped roles (documented
    constant-score collapse)."""
    return _phrase_engine(spark, sf_dir).search_span_within(
        "scan", ["table", "value"], big_slop=6, k=200)


def _span_contain_sql(t1: str, t2: str, tl: str, slop: int,
                      k: int = 200) -> str:
    """big = ordered two-clause span_near(t1, t2, slop); match when a
    little occurrence l lies in [p1, p2] of some big match."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
m AS (
  SELECT DISTINCT p0.doc_id
  FROM (SELECT doc_id, pos FROM tok WHERE term = '{t1}') p0
  JOIN (SELECT doc_id, pos FROM tok WHERE term = '{t2}') p1
    USING (doc_id)
  JOIN (SELECT doc_id, pos FROM tok WHERE term = '{tl}') li
    USING (doc_id)
  WHERE p1.pos > p0.pos AND p1.pos - p0.pos - 1 <= {slop}
    AND li.pos BETWEEN p0.pos AND p1.pos)
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT {k}
"""


def _q_combined_fields(spark, sf_dir):
    """ES combined_fields (term-centric BM25F): text + derived title
    (48-char prefix, weight 3) mixed into ONE field — weighted tf/dl,
    any-field df — operator AND."""
    docs = _docs(spark, sf_dir).withColumn(
        "title", F.substring("text", 1, 48))
    return pipeline.combined_fields_topk(
        docs, "table value", fields={"text": 1.0, "title": 3.0},
        operator="and", k=50, round_to=6)


def _combined_fields_sql() -> str:
    # weights 1.0 / 3.0 keep tf_c, dl_c integer-exact in float64, so
    # engine and oracle agree bit-for-bit before the 6-dp round
    return f"""
WITH tokt AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
         '{SPLIT_PATTERN}')) AS term FROM documents),
t2 AS (SELECT doc_id, term FROM tokt WHERE term <> ''),
toki AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(substr(text, 1,
         48)), '{SPLIT_PATTERN}')) AS term FROM documents),
i2 AS (SELECT doc_id, term FROM toki WHERE term <> ''),
dlt AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id),
dli AS (SELECT doc_id, count(*) AS dl FROM i2 GROUP BY doc_id),
dlc AS (SELECT d.doc_id,
          1.0 * coalesce(dlt.dl, 0) + 3.0 * coalesce(dli.dl, 0)
            AS dlc
        FROM documents d LEFT JOIN dlt USING (doc_id)
          LEFT JOIN dli USING (doc_id)),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dlc) FROM dlc)
           / (SELECT count(*) FROM documents) AS avgdl),
x AS (SELECT
  count(DISTINCT CASE WHEN term = 'table' THEN doc_id END) AS df_table,
  count(DISTINCT CASE WHEN term = 'value' THEN doc_id END) AS df_value
  FROM t2),
tft AS (SELECT doc_id,
  count(CASE WHEN term = 'table' THEN 1 END) AS t_table,
  count(CASE WHEN term = 'value' THEN 1 END) AS t_value
  FROM t2 WHERE term IN ('table', 'value') GROUP BY doc_id),
tfi AS (SELECT doc_id,
  count(CASE WHEN term = 'table' THEN 1 END) AS i_table,
  count(CASE WHEN term = 'value' THEN 1 END) AS i_value
  FROM i2 WHERE term IN ('table', 'value') GROUP BY doc_id),
b AS (SELECT dlc.doc_id, dlc.dlc,
        1.0 * coalesce(tft.t_table, 0)
          + 3.0 * coalesce(tfi.i_table, 0) AS c_table,
        1.0 * coalesce(tft.t_value, 0)
          + 3.0 * coalesce(tfi.i_value, 0) AS c_value
      FROM dlc LEFT JOIN tft USING (doc_id)
        LEFT JOIN tfi USING (doc_id)),
scored AS (
  SELECT b.doc_id,
    ln(1 + (s.n_docs - x.df_table + 0.5) / (x.df_table + 0.5))
      * (b.c_table / (b.c_table
          + 1.2 * (0.25 + 0.75 * b.dlc / s.avgdl)))
    + ln(1 + (s.n_docs - x.df_value + 0.5) / (x.df_value + 0.5))
      * (b.c_value / (b.c_value
          + 1.2 * (0.25 + 0.75 * b.dlc / s.avgdl))) AS raw,
    b.c_table > 0 AND b.c_value > 0 AS cond
  FROM b CROSS JOIN stats s CROSS JOIN x)
SELECT doc_id, round(raw, 6) AS score FROM scored WHERE cond
ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT 50
"""


def _q_distance_feature(spark, sf_dir):
    """ES distance_feature (date form): events ranked by proximity to
    2024-01-15, pivot 3 days — score = pivot/(pivot + |ts-origin|s)."""
    return pipeline.distance_feature_topk(
        _t(spark, sf_dir, "events"), "ts", "2024-01-15 00:00:00",
        pivot=3 * 86400.0, boost=1.0, k=20, id_col="event_id")


_DISTANCE_FEATURE_SQL = """
SELECT event_id,
       round(259200.0 / (259200.0
             + abs(epoch_us(ts) / 1000000.0
                   - epoch_us(TIMESTAMP '2024-01-15 00:00:00')
                     / 1000000.0)), 6) AS score
FROM events WHERE ts IS NOT NULL
ORDER BY round(259200.0 / (259200.0
             + abs(epoch_us(ts) / 1000000.0
                   - epoch_us(TIMESTAMP '2024-01-15 00:00:00')
                     / 1000000.0)), 6) DESC, event_id ASC
LIMIT 20
"""


def _q_terms_set(spark, sf_dir):
    """ES terms_set: >= m of {join,data,merge} must occur, m read
    per-doc from a minimum_should_match_field ((doc_id % 3) + 1);
    matching docs score the bool-should BM25 sum."""
    return pipeline.terms_set_topk(
        _docs(spark, sf_dir), ["join", "data", "merge"],
        (F.col("doc_id") % 3) + 1, k=50)


def _terms_set_sql() -> str:
    sql = _bm25_sql(["join", "data", "merge"], k=50)
    sql = sql.replace("WHERE nt = 3",
                      "WHERE nt >= (doc_id % 3) + 1")
    return sql.replace("ORDER BY raw_score DESC",
                       "ORDER BY round(raw_score, 6) DESC")


_PERCOLATE_QUERIES = [
    (1, "join + data"),
    (2, '"hash join"'),
    (3, "merge | vector -join"),
    (4, "lang:de + table"),
    (5, "vec*"),
]


def _q_percolate(spark, sf_dir):
    """ES percolate, corpus-scale form: 5 registered
    simple_query_string queries matched against every document in ONE
    scan → (query_id, doc_id) pairs."""
    from auctus_spark.query.querystring import percolate
    return percolate(_docs(spark, sf_dir), _PERCOLATE_QUERIES,
                     grammar="simple")


def _percolate_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
t AS (SELECT doc_id, lang, l,
        list_contains(l, 'join') AS has_join,
        list_contains(l, 'data') AS has_data,
        list_contains(l, 'merge') AS has_merge,
        list_contains(l, 'vector') AS has_vector,
        list_contains(l, 'table') AS has_table
      FROM toks),
ph AS (SELECT DISTINCT doc_id, TRUE AS has_phrase
       FROM (SELECT doc_id, l[i] AS a, l[i + 1] AS b
             FROM toks, LATERAL (SELECT unnest(
                    range(1, len(l))) AS i))
       WHERE a = 'hash' AND b = 'join'),
w AS (SELECT doc_id,
        len(list_filter(l, x -> x LIKE 'vec%')) > 0 AS has_vec_pre
      FROM toks)
SELECT 1 AS query_id, t.doc_id FROM t
WHERE has_join AND has_data
UNION ALL
SELECT 2, t.doc_id FROM t JOIN ph USING (doc_id)
UNION ALL
SELECT 3, t.doc_id FROM t
WHERE (has_merge OR has_vector) AND NOT has_join
UNION ALL
SELECT 4, t.doc_id FROM t WHERE lang = 'de' AND has_table
UNION ALL
SELECT 5, t.doc_id FROM t JOIN w USING (doc_id) WHERE w.has_vec_pre
"""


def _q_intervals(spark, sf_dir):
    """ES intervals query: all_of(ordered, max_gaps=2) over
    [any_of(scan, filter), table] — an any_of union clause followed
    by a term within a 2-gap budget."""
    return _phrase_engine(spark, sf_dir).search_intervals(
        [["scan", "filter"], "table"], max_gaps=2, ordered=True,
        k=200)


def _intervals_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
tok AS (
  SELECT doc_id, l[i] AS term, i AS pos
  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)),
m AS (
  SELECT DISTINCT a.doc_id
  FROM (SELECT doc_id, pos FROM tok
        WHERE term IN ('scan', 'filter')) a
  JOIN (SELECT doc_id, pos FROM tok WHERE term = 'table') b
    USING (doc_id)
  WHERE b.pos > a.pos AND b.pos - a.pos - 1 <= 2)
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM m ORDER BY doc_id LIMIT 200
"""


def _q_pipeline_aggs3(spark, sf_dir):
    """Third ES pipeline-agg family over the daily date_histogram:
    moving_fn avg (window 3, ES shift=0 — the 3 buckets BEFORE the
    current), bucket_script ratio = count / moving_avg,
    bucket_selector ratio > 1 (null windows drop, ES gap policy)."""
    from auctus_spark.operators.profiling import (bucket_script,
                                                  bucket_selector,
                                                  date_histogram,
                                                  moving_fn)
    e = _t(spark, sf_dir, "events")
    b = date_histogram(e, "ts", interval="day", min_doc_count=0)
    b = moving_fn(b, "count", "bucket_start", window=3, fn="avg")
    b = bucket_script(
        b, "CAST(count AS DOUBLE) / moving_avg", "ratio")
    b = bucket_selector(b, "ratio > 1.0")
    return b.select("bucket_start", "count",
                    F.round("moving_avg", 6).alias("moving_avg"),
                    F.round("ratio", 6).alias("ratio"))


_PIPELINE_AGGS3_SQL = """
WITH b AS (SELECT date_trunc('day', ts) AS bucket FROM events
           WHERE ts IS NOT NULL),
c AS (SELECT bucket, count(*) AS count FROM b GROUP BY bucket),
mm AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c),
axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
           AS bucket FROM mm),
h AS (SELECT axis.bucket AS bucket_start,
             CAST(coalesce(c.count, 0) AS BIGINT) AS count
      FROM axis LEFT JOIN c USING (bucket)),
m AS (SELECT bucket_start, count,
        avg(CAST(count AS DOUBLE)) OVER (ORDER BY bucket_start
          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS moving_avg
      FROM h),
s AS (SELECT bucket_start, count, moving_avg,
        CAST(count AS DOUBLE) / moving_avg AS ratio FROM m)
SELECT bucket_start, count, round(moving_avg, 6) AS moving_avg,
       round(ratio, 6) AS ratio
FROM s WHERE ratio > 1.0 ORDER BY bucket_start
"""


def _cust_coords(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 80) - 40).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 160) - 80).cast("double")
        .alias("lon"))


def _q_geo_bounding_box(spark, sf_dir):
    """ES geo_bounding_box with an ANTIMERIDIAN-crossing box
    (left 60 > right -60 → lon >= 60 OR lon <= -60), edges
    inclusive, fully sargable."""
    from auctus_spark.operators.geo import geo_bounding_box_filter
    return geo_bounding_box_filter(_cust_coords(spark, sf_dir),
                                   "lat", "lon",
                                   top_left=(30.0, 60.0),
                                   bottom_right=(-30.0, -60.0))


_GEO_BBOX_SQL = f"""
WITH c AS (SELECT c_custkey, lat, lon FROM (
  SELECT c_custkey,
         CAST((c_custkey % 80) - 40 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 160) - 80 AS DOUBLE) AS lon
  FROM customer))
SELECT c_custkey, lat, lon FROM c
WHERE lat BETWEEN -30.0 AND 30.0
  AND (lon >= 60.0 OR lon <= -60.0)
"""


_POLY = [(40.0, -70.0), (40.0, 70.0), (-40.0, 0.0)]


def _q_geo_polygon(spark, sf_dir):
    """ES geo_polygon: even-odd (ray casting) point-in-triangle over
    the derived customer coordinates — unrolled JVM expressions, one
    scan, bbox pre-filter pushed to the scan."""
    from auctus_spark.operators.geo import geo_polygon_filter
    return geo_polygon_filter(_cust_coords(spark, sf_dir),
                              "lat", "lon", _POLY)


def _geo_polygon_sql() -> str:
    lats = [p[0] for p in _POLY]
    lons = [p[1] for p in _POLY]
    n = len(_POLY)
    edges = []
    for i in range(n):
        j = (i - 1) % n
        yi, xi, yj, xj = lats[i], lons[i], lats[j], lons[j]
        edges.append(
            f"CASE WHEN (({yi} > lat) <> ({yj} > lat)) AND "
            f"(lon < ({xj} - {xi}) * (lat - {yi}) / ({yj} - {yi})"
            f" + {xi}) THEN 1 ELSE 0 END")
    return f"""
WITH c AS (
  SELECT c_custkey,
         CAST((c_custkey % 80) - 40 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 160) - 80 AS DOUBLE) AS lon
  FROM customer)
SELECT c_custkey, lat, lon FROM c
WHERE lat BETWEEN {min(lats)} AND {max(lats)}
  AND lon BETWEEN {min(lons)} AND {max(lons)}
  AND ({' + '.join(edges)}) % 2 = 1
"""


def _q_cumulative_cardinality(spark, sf_dir):
    """ES cumulative_cardinality over the daily events histogram:
    distinct users seen so far per day — EXACT via the first-seen
    decomposition (ES stacks HLL sketches; documented stronger
    contract)."""
    from auctus_spark.operators.profiling import cumulative_cardinality
    return cumulative_cardinality(_t(spark, sf_dir, "events"), "ts",
                                  "user_id", interval="day")


_CUMULATIVE_CARDINALITY_SQL = """
WITH b AS (SELECT date_trunc('day', ts) AS bucket, user_id
           FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
f AS (SELECT user_id, min(bucket) AS fb FROM b GROUP BY user_id),
nk AS (SELECT fb AS bucket_start, CAST(count(*) AS BIGINT)
         AS new_keys FROM f GROUP BY fb),
dc AS (SELECT bucket AS bucket_start, CAST(count(*) AS BIGINT)
         AS doc_count FROM b GROUP BY bucket)
SELECT d.bucket_start, d.doc_count,
       CAST(coalesce(nk.new_keys, 0) AS BIGINT) AS new_keys,
       CAST(sum(coalesce(nk.new_keys, 0))
            OVER (ORDER BY d.bucket_start) AS BIGINT)
         AS cumulative_cardinality
FROM dc d LEFT JOIN nk USING (bucket_start) ORDER BY bucket_start
"""


def _q_matrix_stats(spark, sf_dir):
    """ES matrix_stats over three lineitem numerics: per-pair
    population covariance + Pearson correlation, per-field mean/var
    diagonal, listwise null deletion, ONE scan."""
    from auctus_spark.operators.profiling import matrix_stats
    out = matrix_stats(_t(spark, sf_dir, "lineitem"),
                       ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select("field_a", "field_b",
                      F.round("mean_a", 6).alias("mean_a"),
                      F.round("covariance", 6).alias("covariance"),
                      F.round("correlation", 6).alias("correlation"))


_MATRIX_STATS_SQL = """
WITH b AS (SELECT l_quantity AS q, l_extendedprice AS e,
                  l_discount AS d
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL)
SELECT 'l_quantity' AS field_a, 'l_quantity' AS field_b,
       round(avg(q), 6) AS mean_a, round(var_pop(q), 6) AS covariance,
       1.0 AS correlation FROM b
UNION ALL
SELECT 'l_extendedprice', 'l_extendedprice', round(avg(e), 6),
       round(var_pop(e), 6), 1.0 FROM b
UNION ALL
SELECT 'l_discount', 'l_discount', round(avg(d), 6),
       round(var_pop(d), 6), 1.0 FROM b
UNION ALL
SELECT 'l_quantity', 'l_extendedprice', NULL,
       round(covar_pop(q, e), 6), round(corr(q, e), 6) FROM b
UNION ALL
SELECT 'l_quantity', 'l_discount', NULL,
       round(covar_pop(q, d), 6), round(corr(q, d), 6) FROM b
UNION ALL
SELECT 'l_extendedprice', 'l_discount', NULL,
       round(covar_pop(e, d), 6), round(corr(e, d), 6) FROM b
"""


def _q_significant_text(spark, sf_dir):
    """ES significant_text (JLH, filter_duplicate_text): exact-dup
    docs counted once before the foreground-vs-corpus contrast."""
    from auctus_spark.operators.profiling import significant_text
    d = _docs(spark, sf_dir)
    return significant_text(d, F.col("lang") == "de", k=10)


_SIGNIFICANT_TEXT_SQL = f"""
WITH firstd AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(text) AS h FROM documents) GROUP BY h),
d AS (
  SELECT doc_id, (lang = 'de')::INT AS fg,
         list_distinct(list_filter(
           regexp_split_to_array(lower(text), '{SPLIT_PATTERN}'),
           x -> x <> '')) AS terms
  FROM documents JOIN firstd USING (doc_id)),
tot AS (SELECT sum(fg) AS n_fg, count(*) AS n_bg FROM d),
ex AS (SELECT fg, unnest(terms) AS term FROM d),
pt AS (SELECT term, sum(fg)::BIGINT AS df_fg,
              count(*)::BIGINT AS df_bg
       FROM ex GROUP BY term)
SELECT term, df_fg, df_bg,
       round((df_fg / n_fg - df_bg / n_bg)
             * (df_fg / n_fg) / (df_bg / n_bg), 6) AS jlh
FROM pt, tot
WHERE df_fg >= 3 AND df_fg / n_fg > df_bg / n_bg
ORDER BY jlh DESC, term ASC LIMIT 10
"""


def _q_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality proxy (CCNet/KenLM-style conditional
    perplexity filter, add-1 smoothing over corpus bigram counts)."""
    from auctus_spark.operators.textstats import bigram_logprob
    out = bigram_logprob(_docs(spark, sf_dir))
    return out.select("doc_id", "n_bigrams",
                      F.round("mean_neg_logprob", 6)
                      .alias("mean_neg_logprob"))


_BIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> '') AS l
  FROM documents),
bg AS (SELECT doc_id, l[i] AS a, l[i + 1] AS b
       FROM toks, LATERAL (SELECT unnest(range(1, len(l))) AS i)),
c AS (SELECT a, b, count(*) AS c FROM bg GROUP BY a, b),
v AS (SELECT count(DISTINCT term) AS v
      FROM (SELECT unnest(l) AS term FROM toks)),
cl AS (SELECT a, sum(c) AS cl FROM c GROUP BY a),
scored AS (
  SELECT bg.doc_id,
         -ln((c.c + 1.0) / (cl.cl + 1.0 * v.v)) AS nlp
  FROM bg JOIN c USING (a, b) JOIN cl USING (a) CROSS JOIN v),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               sum(nlp) / count(*) AS m
        FROM scored GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(per.n_bigrams, 0) AS BIGINT)
         AS n_bigrams,
       round(per.m, 6) AS mean_neg_logprob
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per USING (doc_id)
"""


def _q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (Structured Streaming state-store
    dropDuplicates over md5(text), the online twin of [dedup_exact]).
    Runs the stream to completion with availableNow over the static
    corpus and returns the surviving distinct content hashes — which
    row survives per hash is arrival-order-dependent, so the gate
    compares the HASH SET (full oracle: DISTINCT md5(text))."""
    import os
    import tempfile
    import uuid
    from auctus_spark.streaming.dedup import streaming_dedup
    src = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(src).schema
    # FileStreamSource needs a DIRECTORY basePath; the testdata table
    # is a single file — expose it through a symlinked temp dir
    d = tempfile.mkdtemp(prefix="strm_dedup_src_")
    os.symlink(os.path.abspath(src), os.path.join(d, "part-0.parquet"))
    stream = (spark.readStream.format("parquet").schema(schema)
              .load(d))
    name = "strm_dedup_" + uuid.uuid4().hex[:8]
    q = (streaming_dedup(stream).writeStream
         .outputMode("append").format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"SELECT _text_hash AS text_hash FROM {name}")


def _q_streaming_window_agg(spark, sf_dir):
    """Watermarked windowed aggregation (streaming_event_counts, the
    Structured Streaming rollup surface): hourly tumbling windows per
    event_type, run to completion with availableNow in complete mode
    — end-state equals the batch GROUP BY, so the gate is FULL
    oracle (hourly Spark windows are epoch-aligned ==
    date_trunc('hour'))."""
    import os
    import tempfile
    import uuid
    from auctus_spark.streaming.incremental import streaming_event_counts
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    d = tempfile.mkdtemp(prefix="strm_win_src_")
    os.symlink(os.path.abspath(src), os.path.join(d, "part-0.parquet"))
    agg = streaming_event_counts(spark, d, schema, window="1 hour",
                                 watermark="2 hours")
    name = "strm_win_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(
        f"SELECT window.start AS window_start, event_type, n, "
        f"round(value_sum, 6) AS value_sum FROM {name}")


_STREAMING_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 6) AS value_sum
FROM events GROUP BY 1, 2
"""


def _q_variable_width_histogram(spark, sf_dir):
    """ES variable_width_histogram: k-means-adaptive bucket widths
    over o_totalprice.  Rows-only driver check (seeded iterative
    k-means picks the centroids — not SQL-expressible); exact
    bucket membership/keys pinned in tests/test_profiling.py."""
    from auctus_spark.operators.profiling import variable_width_histogram
    out = variable_width_histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", buckets=4)
    return out.select(F.round("key", 6).alias("key"),
                      F.round("min", 6).alias("min"),
                      F.round("max", 6).alias("max"), "doc_count")


def _q_bpe_encode(spark, sf_dir):
    """BPE tokenizer train + distributed encode.  The oracle checks
    the LOSSLESS ROUND-TRIP property in SQL (BPE segmentations always
    reconstruct the analyzed word stream — merge-rank parity vs the
    published algorithm is pinned in tests/test_bpe.py)."""
    from auctus_spark.operators.bpe import END, bpe_encode, train_bpe
    docs = _docs(spark, sf_dir)
    merges = train_bpe(docs, n_merges=50)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.trim(F.regexp_replace(
            F.concat_ws("", F.col("bpe_tokens")), END, " "))
        .alias("text_rt"))


_BPE_ENCODE_SQL = f"""
SELECT doc_id,
       array_to_string(
         list_filter(regexp_split_to_array(lower(text),
                     '{SPLIT_PATTERN}'), x -> x <> ''), ' ') AS text_rt
FROM documents
"""


def _q_wordpiece_encode(spark, sf_dir):
    """WordPiece (likelihood-score merges, greedy longest-match
    encode).  Oracle = the same lossless round-trip property as
    [bpe_encode]: '##' continuations mark word-internal pieces, so
    stripping '##' and inserting a space before each word-initial
    piece rebuilds the analyzed word stream."""
    from auctus_spark.operators.bpe import train_wordpiece, wordpiece_encode
    docs = _docs(spark, sf_dir)
    vocab = train_wordpiece(docs, n_merges=30)
    enc = wordpiece_encode(docs, vocab)
    return enc.select(
        "doc_id",
        F.trim(F.concat_ws("", F.transform(
            F.col("wp_tokens"),
            lambda t: F.when(t.startswith("##"),
                             t.substr(F.lit(3), F.length(t)))
            .otherwise(F.concat(F.lit(" "), t)))))
        .alias("text_rt"))


def _q_unigram_encode(spark, sf_dir):
    """SentencePiece-style unigram LM tokenizer (Viterbi-EM trainer
    over the word-frequency table, distributed Viterbi encode).
    Oracle = the same lossless round-trip property as [bpe_encode]:
    word-initial pieces carry the ▁ marker, so ▁→space rebuilds the
    analyzed word stream."""
    from auctus_spark.operators.bpe import train_unigram, unigram_encode
    docs = _docs(spark, sf_dir)
    logp = train_unigram(docs, vocab_size=200, n_iters=2)
    enc = unigram_encode(docs, logp)
    return enc.select(
        "doc_id",
        F.trim(F.regexp_replace(F.concat_ws("", "sp_tokens"),
                                "▁", " ")).alias("text_rt"))


def _q_rank_feature(spark, sf_dir):
    """ES rank_feature query (saturation pivot=1000) over the
    documents' n_chars feature — static-feature ranking, no text
    match, one sargable scan."""
    out = pipeline.rank_feature_topk(
        _docs(spark, sf_dir), "n_chars", "saturation",
        pivot=1000.0, k=50, round_to=6)
    return out


_RANK_FEATURE_SQL = """
SELECT doc_id, round(n_chars / (n_chars + 1000.0), 6) AS score
FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
ORDER BY round(n_chars / (n_chars + 1000.0), 6) DESC, doc_id ASC
LIMIT 50
"""

_PINNED_IDS = [17, 3, 999_999_999]
_PINNED_QUERY = "data join"


def _q_pinned(spark, sf_dir):
    """ES pinned query: ids [17, 3] promoted in given order (the
    absent third id is skipped), then organic should-BM25 hits."""
    return pipeline.pinned_topk(_docs(spark, sf_dir), _PINNED_IDS,
                                _PINNED_QUERY, k=20)


def _pinned_sql(ids: list[int], terms: list[str], k: int) -> str:
    vals = ", ".join(f"({d}, {i})" for i, d in enumerate(ids))
    tlist = ", ".join(f"'{t}'" for t in terms)
    idlist = ", ".join(str(d) for d in ids)
    return f"""
WITH pin(pid, p) AS (VALUES {vals}),
pin2 AS (SELECT d.doc_id, p.p FROM pin p
         JOIN documents d ON d.doc_id = p.pid),
tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}'))
           AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT count(*) FROM tok2) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ({tlist}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
org AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                        / s.avgdl)))), 6) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
       CROSS JOIN stats s
  WHERE tf.doc_id NOT IN ({idlist})
  GROUP BY tf.doc_id
),
orgk AS (
  SELECT doc_id,
         {len(ids)} + row_number()
           OVER (ORDER BY score DESC, doc_id ASC) AS p
  FROM org ORDER BY score DESC, doc_id ASC LIMIT {k}
),
unioned AS (
  SELECT doc_id, p, TRUE AS pinned FROM pin2
  UNION ALL
  SELECT doc_id, p, FALSE AS pinned FROM orgk
),
ranked AS (
  SELECT row_number() OVER (ORDER BY p ASC, doc_id ASC) AS rank,
         doc_id, pinned
  FROM unioned
)
SELECT CAST(rank AS INT) AS rank, doc_id, pinned FROM ranked
WHERE rank <= {k}
"""


def _q_frequent_item_sets(spark, sf_dir):
    """ES frequent_item_sets agg: market baskets = the distinct
    event_types a user fires per day; closed frequent sets at 10%
    support, sizes <= 3."""
    from auctus_spark.operators.itemsets import frequent_item_sets
    tx = (_t(spark, sf_dir, "events")
          .groupBy("user_id", F.to_date("ts").alias("d"))
          .agg(F.collect_set("event_type").alias("items")))
    return frequent_item_sets(tx, "items", min_support=0.1,
                              max_size=3, closed=True)


_FREQUENT_ITEM_SETS_SQL = """
WITH t1 AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d,
                   event_type AS i FROM events),
n AS (SELECT count(*) AS n
      FROM (SELECT DISTINCT user_id, d FROM t1)),
minc AS (SELECT CAST(ceiling(0.1 * n) AS BIGINT) AS m FROM n),
s1 AS (SELECT i, count(*) AS c FROM t1 GROUP BY i
       HAVING count(*) >= (SELECT m FROM minc)),
s2 AS (SELECT a.i AS i1, b.i AS i2, count(*) AS c
       FROM t1 a JOIN t1 b ON a.user_id = b.user_id AND a.d = b.d
       WHERE a.i < b.i GROUP BY a.i, b.i
       HAVING count(*) >= (SELECT m FROM minc)),
s3 AS (SELECT a.i AS i1, b.i AS i2, cc.i AS i3, count(*) AS c
       FROM t1 a
       JOIN t1 b ON a.user_id = b.user_id AND a.d = b.d
       JOIN t1 cc ON a.user_id = cc.user_id AND a.d = cc.d
       WHERE a.i < b.i AND b.i < cc.i GROUP BY a.i, b.i, cc.i
       HAVING count(*) >= (SELECT m FROM minc)),
closed1 AS (SELECT i FROM s1 WHERE NOT EXISTS (
  SELECT 1 FROM s2 WHERE (s2.i1 = s1.i OR s2.i2 = s1.i)
    AND s2.c = s1.c)),
closed2 AS (SELECT i1, i2 FROM s2 WHERE NOT EXISTS (
  SELECT 1 FROM s3 WHERE s3.c = s2.c
    AND ((s3.i1 = s2.i1 AND s3.i2 = s2.i2)
      OR (s3.i1 = s2.i1 AND s3.i3 = s2.i2)
      OR (s3.i2 = s2.i1 AND s3.i3 = s2.i2)))),
allsets AS (
  SELECT s1.i AS items, 1 AS size, s1.c FROM s1
    JOIN closed1 ON closed1.i = s1.i
  UNION ALL
  SELECT s2.i1 || ' ' || s2.i2, 2, s2.c FROM s2
    JOIN closed2 ON closed2.i1 = s2.i1 AND closed2.i2 = s2.i2
  UNION ALL
  SELECT i1 || ' ' || i2 || ' ' || i3, 3, c FROM s3
)
SELECT items, size, c AS doc_count,
       c * 1.0 / (SELECT n FROM n) AS support
FROM allsets
ORDER BY doc_count DESC, items ASC
"""


def _q_geo_line(spark, sf_dir):
    """ES geo_line agg: per-group tracks in sort order with the
    smallest-sort truncation rule.  Coordinates are synthesized as
    exact halves (n/2.0) so the double->string rendering is
    identical between the JVM and DuckDB (no shortest-repr
    divergence)."""
    from auctus_spark.operators.geo import geo_line_agg
    pts = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 25).alias("g"),
        (((F.col("c_custkey") * 37) % 160) / 2.0 - 35.0).alias("lat"),
        (((F.col("c_custkey") * 61) % 300) / 2.0 - 70.0).alias("lon"),
        F.col("c_custkey").alias("s"))
    return geo_line_agg(pts, "g", "lat", "lon", "s", size=5)


_GEO_LINE_SQL = """
WITH pts AS (
  SELECT c_custkey % 25 AS g,
         ((c_custkey * 37) % 160) / 2.0 - 35.0 AS lat,
         ((c_custkey * 61) % 300) / 2.0 - 70.0 AS lon,
         c_custkey AS s
  FROM customer),
r AS (SELECT *,
        row_number() OVER (PARTITION BY g
                           ORDER BY s, lon, lat) AS rn,
        count(*) OVER (PARTITION BY g) AS n
      FROM pts)
SELECT g,
       string_agg(CAST(lon AS VARCHAR) || ' ' || CAST(lat AS VARCHAR),
                  ',' ORDER BY s, lon, lat) AS line,
       max(n) AS point_count,
       max(n) <= 5 AS complete
FROM r WHERE rn <= 5
GROUP BY g ORDER BY g
"""


def _q_categorize_text(spark, sf_dir):
    """ES categorize_text over synthesized log lines ('user <id>
    did <type>'): digit tokens mask to <num>, exact-template
    grouping."""
    from auctus_spark.operators.profiling import categorize_text
    logs = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("user "), F.col("user_id").cast("string"),
                 F.lit(" did "), F.col("event_type"))
        .alias("text"))
    return categorize_text(logs, "text")


_CATEGORIZE_TEXT_SQL = f"""
WITH logs AS (
  SELECT 'user ' || CAST(user_id AS VARCHAR) || ' did ' || event_type
           AS t
  FROM events),
cat AS (
  SELECT array_to_string(
           list_transform(
             list_filter(regexp_split_to_array(lower(t),
                         '{SPLIT_PATTERN}'), x -> x <> ''),
             x -> CASE WHEN regexp_matches(x, '[0-9]')
                       THEN '<num>' ELSE x END), ' ') AS category
  FROM logs)
SELECT category, count(*) AS doc_count
FROM cat GROUP BY category
ORDER BY doc_count DESC, category ASC
"""


def _q_change_point(spark, sf_dir):
    """ES change_point (deterministic MAD-z spike/dip core) over the
    daily event-count series."""
    from auctus_spark.operators.profiling import change_point
    daily = (_t(spark, sf_dir, "events")
             .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    return change_point(daily, "day", "n", threshold=0.0)


_CHANGE_POINT_SQL = """
WITH s AS (SELECT strftime(ts, '%Y-%m-%d') AS key,
                  CAST(count(*) AS DOUBLE) AS v
           FROM events GROUP BY 1),
m AS (SELECT median(v) AS med FROM s),
d AS (SELECT key, v, abs(v - (SELECT med FROM m)) AS dev FROM s),
mad AS (SELECT median(dev) AS mad FROM d)
SELECT key, v AS value,
       CASE WHEN v > (SELECT med FROM m) THEN 'spike'
            ELSE 'dip' END AS type,
       dev / (SELECT mad FROM mad) AS score
FROM d
WHERE (SELECT mad FROM mad) > 0
  AND dev / (SELECT mad FROM mad) > 0
ORDER BY score DESC, key ASC LIMIT 1
"""


def _q_scripted_metric(spark, sf_dir):
    """ES scripted_metric (map-side combine shape): per-lang sum of
    squared n_chars — integer-valued squares keep the float64 sum
    exact, so partial-state merge order cannot perturb the result."""
    import pandas as pd
    from auctus_spark.operators.scripted import scripted_metric

    def red(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"g": [pdf["g"].iloc[0]],
                             "sum_sq": [float(pdf["ss"].sum())],
                             "n": [int(pdf["n"].sum())]})

    docs = _docs(spark, sf_dir).select(
        "lang", F.col("n_chars").cast("long").alias("n_chars"))
    return scripted_metric(
        docs.withColumnRenamed("lang", "g").withColumnRenamed(
            "n_chars", "v"),
        lambda pdf: pdf.groupby("g", as_index=False).agg(
            ss=("v", lambda s: float((s.astype("float64") ** 2)
                                     .sum())),
            n=("v", "size"))[["g", "ss", "n"]],
        red, ["g"], "g string, ss double, n long",
        "g string, sum_sq double, n long")


_SCRIPTED_METRIC_SQL = """
SELECT lang AS g,
       sum(CAST(n_chars AS DOUBLE) * n_chars) AS sum_sq,
       count(*) AS n
FROM documents GROUP BY lang
"""


def _q_has_child(spark, sf_dir):
    """ES has_child query: customers having >= 2 open ('O') orders
    above 150k, score_mode=sum over the matching orders' totalprice.
    Child side filtered + partial-aggregated before the one join."""
    from auctus_spark.operators import relations as R
    out = R.has_child(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        "c_custkey", "o_custkey",
        "o_orderstatus = 'O' AND o_totalprice > 150000",
        score_col="o_totalprice", score_mode="sum", min_children=2)
    return out.select("c_custkey", "n_matching_children",
                      F.round("score", 6).alias("score"))


_HAS_CHILD_SQL = """
SELECT o_custkey AS c_custkey,
       count(*) AS n_matching_children,
       round(sum(o_totalprice), 6) AS score
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice > 150000
  AND o_custkey IN (SELECT c_custkey FROM customer)
GROUP BY o_custkey
HAVING count(*) >= 2
"""


def _q_has_parent(spark, sf_dir):
    """ES has_parent query (score: true): orders whose parent
    customer is in the BUILDING segment, each child inheriting the
    parent's acctbal as parent_score.  Filtered parents broadcast —
    the order fact table never shuffles."""
    from auctus_spark.operators import relations as R
    out = R.has_parent(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        "c_custkey", "o_custkey", "c_mktsegment = 'BUILDING'",
        score_col="c_acctbal")
    return out.select("o_orderkey",
                      F.round("parent_score", 6).alias("parent_score"))


_HAS_PARENT_SQL = """
SELECT o.o_orderkey, round(c.c_acctbal, 6) AS parent_score
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
"""


def _q_nested_query(spark, sf_dir):
    """ES nested query with inner_hits: fold each customer's orders
    into an array-of-structs (the nested mapping), then match
    customers owning at least one order that is BOTH status 'F' AND
    > 200k within the SAME object — the per-object conjunction that
    distinguishes nested from flattened-object semantics.  The match
    itself is exists()/filter() inside the scan — no explode."""
    from auctus_spark.operators import relations as R
    nested = R.nest_children(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        "c_custkey", "o_custkey", "kids",
        ["o_orderstatus", "o_totalprice"])
    hit = R.nested_query(
        nested, "kids",
        "x.o_orderstatus = 'F' AND x.o_totalprice > 200000",
        inner_hits=True)
    return hit.select("c_custkey",
                      F.col("n_inner_hits").cast("long")
                      .alias("n_inner_hits"))


_NESTED_QUERY_SQL = """
SELECT o_custkey AS c_custkey, count(*) AS n_inner_hits
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 200000
  AND o_custkey IN (SELECT c_custkey FROM customer)
GROUP BY o_custkey
"""


def _q_nested_agg(spark, sf_dir):
    """ES nested aggregation + reverse_nested: bucket the nested
    order objects by priority, per-bucket doc_count / sum / avg of
    totalprice plus the reverse_nested count of parent customers."""
    from auctus_spark.operators import relations as R
    nested = R.nest_children(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        "c_custkey", "o_custkey", "kids",
        ["o_orderpriority", "o_totalprice"])
    return R.nested_agg(nested, "kids", "o_orderpriority",
                        "o_totalprice", "c_custkey")


_NESTED_AGG_SQL = """
SELECT o_orderpriority,
       count(*) AS doc_count,
       CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
         AS sum_metric,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             / count(*), 6) AS avg_metric,
       count(DISTINCT o_custkey) AS parent_doc_count
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer)
GROUP BY o_orderpriority
"""


def _q_children_agg(spark, sf_dir):
    """ES children aggregation: customer buckets by market segment,
    each aggregating over the bucket's child orders; the (key ->
    bucket) projection broadcasts onto the order table."""
    from auctus_spark.operators import relations as R
    return R.children_agg(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        "c_custkey", "o_custkey", "c_mktsegment", "o_totalprice")


_CHILDREN_AGG_SQL = """
SELECT c.c_mktsegment, count(*) AS doc_count,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
         AS sum_metric
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


_SPARSE_WEIGHTS = {"data": 2.0, "join": 1.0, "vector": 0.5}


def _q_sparse_vector(spark, sf_dir):
    """ES sparse_vector query (ELSER-style weighted term expansion):
    doc-side term->1+ln(tf) impact maps (the deterministic stand-in
    for a neural expansion model), scored by the query-weight dot
    product in given term order — one scan, no explode at query
    time."""
    from auctus_spark.operators import sparsevec as SV
    feats = SV.sparse_features(_docs(spark, sf_dir))
    return SV.sparse_vector_topk(feats, _SPARSE_WEIGHTS, k=50)


_SPARSE_VECTOR_SQL = f"""
WITH tok2 AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+'))
             AS term
    FROM documents) t WHERE t.term <> ''
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2
  WHERE term IN ('data', 'join', 'vector') GROUP BY doc_id, term
),
piv AS (
  SELECT doc_id,
         max(CASE WHEN term = 'data'   THEN 1.0 + ln(tf) END) AS w1,
         max(CASE WHEN term = 'join'   THEN 1.0 + ln(tf) END) AS w2,
         max(CASE WHEN term = 'vector' THEN 1.0 + ln(tf) END) AS w3
  FROM tf GROUP BY doc_id
)
SELECT doc_id,
       round(coalesce(w1, 0) * 2.0 + coalesce(w2, 0) * 1.0
             + coalesce(w3, 0) * 0.5, 6) AS score
FROM piv
ORDER BY round(coalesce(w1, 0) * 2.0 + coalesce(w2, 0) * 1.0
               + coalesce(w3, 0) * 0.5, 6) DESC, doc_id ASC
LIMIT 50
"""


_BAND_EXPR = ("CASE WHEN n_chars < 200 THEN 'short' "
              "WHEN n_chars < 350 THEN 'med' ELSE 'long' END")


def _q_runtime_global_facets(spark, sf_dir):
    """ES runtime fields + global aggregation: a query-time computed
    'band' field (no reindex) faceted over the filtered hit set AND
    over the whole corpus via the scope-escaping global agg."""
    from auctus_spark.query.search import SearchQuery, SearchService
    svc = SearchService(_docs(spark, sf_dir),
                        runtime_mappings={"band": _BAND_EXPR})
    out = svc.search(SearchQuery(filters={"lang": ["en", "fr"]}),
                     facets=["band"], global_facets=["band"])
    f = out["facets"]["band"].withColumnRenamed("n", "filtered_n")
    g = out["global_facets"]["band"].withColumnRenamed("n", "global_n")
    return f.join(g, "band", "full")


_RUNTIME_GLOBAL_SQL = f"""
WITH f AS (
  SELECT {_BAND_EXPR} AS band, count(*) AS filtered_n
  FROM documents WHERE lang IN ('en', 'fr') GROUP BY 1
),
g AS (
  SELECT {_BAND_EXPR} AS band, count(*) AS global_n
  FROM documents GROUP BY 1
)
SELECT coalesce(f.band, g.band) AS band, f.filtered_n, g.global_n
FROM f FULL JOIN g ON f.band = g.band
"""


def _daily_event_buckets(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("day", "ts").alias("bucket_start"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(28,6)"))
                 .cast("double").alias("sum_value")))


_DAILY_BUCKETS_SQL = """
SELECT date_trunc('day', ts) AS bucket_start, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def _q_moving_percentiles(spark, sf_dir):
    """ES moving_percentiles pipeline agg: trailing-7 window (shift=0,
    current bucket excluded) p50/p90 over the daily event counts —
    exact linear-interpolation percentile (documented divergence from
    ES's TDigest merge; the window holds 7 aggregated values)."""
    from auctus_spark.operators.profiling import moving_percentiles
    b = _daily_event_buckets(spark, sf_dir)
    out = moving_percentiles(b, "n", "bucket_start", window=7,
                             percents=(50.0, 90.0))
    return out.select("bucket_start", "n",
                      F.round("p50", 6).alias("p50"),
                      F.round("p90", 6).alias("p90"))


_MOVING_PERCENTILES_SQL = f"""
WITH b AS ({_DAILY_BUCKETS_SQL})
SELECT bucket_start, n,
       round(quantile_cont(n, 0.5) OVER w, 6) AS p50,
       round(quantile_cont(n, 0.9) OVER w, 6) AS p90
FROM b
WINDOW w AS (ORDER BY bucket_start
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
"""


def _q_bucket_correlation(spark, sf_dir):
    """ES bucket_correlation pipeline agg: Pearson r between the
    daily doc counts and the sibling daily value sums — one reduce
    over the bucket table."""
    from auctus_spark.operators.profiling import bucket_correlation
    return bucket_correlation(_daily_event_buckets(spark, sf_dir),
                              "n", "sum_value")


_BUCKET_CORRELATION_SQL = f"""
WITH b AS ({_DAILY_BUCKETS_SQL})
SELECT round(corr(n, sum_value), 6) AS correlation FROM b
"""


def _q_bucket_ks_test(spark, sf_dir):
    """ES bucket_count_ks_test pipeline agg vs the uniform
    alternative: deterministic KS D statistic over the ordered daily
    buckets (ES's sampled p-values are stochastic — documented)."""
    from auctus_spark.operators.profiling import bucket_count_ks_test
    return bucket_count_ks_test(_daily_event_buckets(spark, sf_dir),
                                "n", "bucket_start")


_BUCKET_KS_SQL = f"""
WITH b AS ({_DAILY_BUCKETS_SQL}),
c AS (
  SELECT sum(CAST(n AS DOUBLE)) OVER (ORDER BY bucket_start) AS cum,
         sum(CAST(n AS DOUBLE)) OVER () AS tot,
         row_number() OVER (ORDER BY bucket_start) AS i,
         count(*) OVER () AS cnt
  FROM b
)
SELECT round(max(abs(cum / tot - CAST(i AS DOUBLE) / cnt)), 6)
         AS d_statistic
FROM c
"""


def _cust_boxes(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("cand_id"),
        ((F.col("c_custkey") % 60) - 30).cast("double").alias("min_lon"),
        ((F.col("c_custkey") % 40) - 20).cast("double").alias("min_lat"),
        ((F.col("c_custkey") % 60) - 30 + 1 + (F.col("c_custkey") % 5))
        .cast("double").alias("max_lon"),
        ((F.col("c_custkey") % 40) - 20 + 1 + (F.col("c_custkey") % 3))
        .cast("double").alias("max_lat"))


_CUST_BOXES_SQL = """
SELECT c_custkey AS cand_id,
       CAST((c_custkey % 60) - 30 AS DOUBLE) AS min_lon,
       CAST((c_custkey % 40) - 20 AS DOUBLE) AS min_lat,
       CAST((c_custkey % 60) - 30 + 1 + (c_custkey % 5) AS DOUBLE)
         AS max_lon,
       CAST((c_custkey % 40) - 20 + 1 + (c_custkey % 3) AS DOUBLE)
         AS max_lat
FROM customer
"""


def _q_geo_shape_envelope(spark, sf_dir):
    """ES geo_shape query, envelope shape, relation=within: indexed
    boxes entirely inside ((10, -25), (-10, 20)) — pure sargable
    interval algebra on the four box columns."""
    from auctus_spark.operators.geo import geo_shape_envelope_filter
    return geo_shape_envelope_filter(
        _cust_boxes(spark, sf_dir), ((10.0, -25.0), (-10.0, 20.0)),
        "within")


_GEO_SHAPE_SQL = f"""
WITH b AS ({_CUST_BOXES_SQL})
SELECT * FROM b
WHERE min_lat >= -10.0 AND max_lat <= 10.0
  AND min_lon >= -25.0 AND max_lon <= 20.0
"""


def _q_terms_lookup(spark, sf_dir):
    """ES terms lookup: the filter's value list is READ FROM another
    document (here: the per-lang source list, looked up for 'fr'),
    then applied as an ordinary pushed terms filter."""
    from auctus_spark.query.search import terms_lookup_filter
    docs = _docs(spark, sf_dir)
    lookup = docs.groupBy("lang").agg(
        F.collect_set("source").alias("sources"))
    out = terms_lookup_filter(docs, "source", lookup, "lang", "fr",
                              "sources")
    return out.select("doc_id", "source")


_TERMS_LOOKUP_SQL = """
SELECT doc_id, source FROM documents
WHERE source IN (SELECT DISTINCT source FROM documents
                 WHERE lang = 'fr')
"""


def _q_search_template(spark, sf_dir):
    """ES search template: mustache-subset render ({{var}} +
    conditional section) driver-side, then the rendered query runs
    the normal conjunctive BM25 compiler."""
    from auctus_spark.query.querystring import render_search_template
    q = render_search_template(
        "{{a}}{{#b}} {{b}}{{/b}}", {"a": "data", "b": "join"})
    return pipeline.bm25_topk(_docs(spark, sf_dir), q, k=50,
                              round_to=6)


def _q_collapse_inner_hits(spark, sf_dir):
    """ES field collapsing with inner_hits: top-5 source groups by
    their best 'join' hit, each carrying its own top-2 hits."""
    return pipeline.collapse_inner_hits_topk(
        _docs(spark, sf_dir), "join", "source", k=5, inner_size=2)


def _collapse_inner_sql(terms: list[str], k: int, inner: int) -> str:
    base = _bm25_sql(terms, k=10 ** 9)
    # keep the scored CTE, replace the final SELECT with windows
    head = base[:base.rindex("SELECT doc_id")]
    return f"""{head},
conj AS (
  SELECT doc_id, round(raw_score, 6) AS score FROM scored
  WHERE nt = {len(terms)}
),
ranked AS (
  SELECT d.source, c.doc_id, c.score,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY c.score DESC, c.doc_id ASC)
           AS inner_rank
  FROM conj c JOIN documents d USING (doc_id)
),
leads AS (
  SELECT source FROM ranked WHERE inner_rank = 1
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT r.source, r.doc_id, r.score, r.inner_rank
FROM ranked r JOIN leads USING (source)
WHERE r.inner_rank <= {inner}
"""


_EVENT_IP = ("concat('10.', CAST(user_id % 256 AS STRING), '.', "
             "CAST((user_id * 7) % 256 AS STRING), '.', "
             "CAST((user_id * 13) % 256 AS STRING))")
_EVENT_IP_DUCK = ("'10.' || CAST(user_id % 256 AS VARCHAR) || '.' || "
                  "CAST((user_id * 7) % 256 AS VARCHAR) || '.' || "
                  "CAST((user_id * 13) % 256 AS VARCHAR)")


def _q_ip_range(spark, sf_dir):
    """ES ip_range agg (IPv4, from inclusive / to exclusive, empty
    buckets emitted): one conditional-agg scan, stack-unpivoted."""
    from auctus_spark.operators.profiling import ip_range_agg
    ev = _t(spark, sf_dir, "events").withColumn("ip",
                                                F.expr(_EVENT_IP))
    return ip_range_agg(ev, "ip", [("10.0.0.0", "10.64.0.0"),
                                   ("10.64.0.0", "10.192.0.0"),
                                   ("10.192.0.0", None)])


_IP_RANGE_SQL = f"""
WITH e AS (SELECT {_EVENT_IP_DUCK} AS ip FROM events),
p AS (SELECT CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
           + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
           + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
           + CAST(string_split(ip, '.')[4] AS BIGINT) AS ipl FROM e)
SELECT '10.0.0.0-10.64.0.0' AS key,
       count(*) FILTER (ipl >= 167772160 AND ipl < 171966464)
         AS doc_count FROM p
UNION ALL
SELECT '10.64.0.0-10.192.0.0',
       count(*) FILTER (ipl >= 171966464 AND ipl < 180355072) FROM p
UNION ALL
SELECT '10.192.0.0-*',
       count(*) FILTER (ipl >= 180355072) FROM p
"""


def _q_ip_prefix(spark, sf_dir):
    """ES ip_prefix agg: /16 network buckets in CIDR form, one
    partial-aggregated shuffle on the masked key."""
    from auctus_spark.operators.profiling import ip_prefix_agg
    ev = _t(spark, sf_dir, "events").withColumn("ip",
                                                F.expr(_EVENT_IP))
    return ip_prefix_agg(ev, "ip", 16)


_IP_PREFIX_SQL = f"""
WITH e AS (SELECT {_EVENT_IP_DUCK} AS ip FROM events)
SELECT '10.' || string_split(ip, '.')[2] || '.0.0/16' AS prefix,
       count(*) AS doc_count
FROM e GROUP BY 1
"""


def _q_index_sorted_topk(spark, sf_dir):
    """ES index sorting + early termination (index.sort.field):
    documents laid out range-partitioned + sorted by n_chars desc;
    the top-50 reads only the exact file prefix the manifest proves
    sufficient (boundary ties included) instead of sorting the
    corpus."""
    import hashlib as _h
    import os as _os

    from auctus_spark.index.static_sort import (MANIFEST, topk_sorted,
                                                write_sorted_table)
    tag = _h.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/auctus_sorted_{tag}"
    if not _os.path.exists(_os.path.join(path, MANIFEST)):
        write_sorted_table(
            _docs(spark, sf_dir).select("doc_id", "n_chars"),
            path, "n_chars", n_files=8)
    return topk_sorted(spark, path, 50, tie_col="doc_id")


_INDEX_SORTED_SQL = """
SELECT doc_id, n_chars FROM documents
WHERE n_chars IS NOT NULL
ORDER BY n_chars DESC, doc_id ASC
LIMIT 50
"""


def _q_alias_search(spark, sf_dir):
    """ES filtered alias: 'western' = documents(lang=en) ∪
    documents(lang=fr); BM25 over the alias resolution — the filters
    push into each target scan, and the corpus stats are the
    alias-scoped stats (ES scores within the alias view)."""
    from auctus_spark.query.search import AliasRegistry
    docs = _docs(spark, sf_dir)
    reg = AliasRegistry()
    reg.add("western", docs, "lang = 'en'", is_write_index=True)
    reg.add("western", docs, "lang = 'fr'")
    return pipeline.bm25_topk(reg.resolve("western"), "join", k=50,
                              round_to=6)


_ALIAS_SEARCH_SQL = _bm25_sql(["join"], 50).replace(
    "FROM documents",
    "FROM (SELECT * FROM documents WHERE lang IN ('en', 'fr'))")


_MGET_IDS = [17, 3, 999_999_999, 42]


def _q_mget(spark, sf_dir):
    """ES _mget: one pushed isin fetch, request order preserved via
    _requested_order (missing ids absent, ES found:false)."""
    from auctus_spark.query.search import mget
    return mget(_docs(spark, sf_dir), _MGET_IDS, "doc_id") \
        .select("doc_id", "lang", "_requested_order")


_MGET_SQL = f"""
WITH req(doc_id, _requested_order) AS (
  VALUES {", ".join(f"({d}, {i + 1})" for i, d in enumerate(_MGET_IDS))}
)
SELECT d.doc_id, d.lang, CAST(r._requested_order AS INT)
         AS _requested_order
FROM documents d JOIN req r USING (doc_id)
"""


_MIXTURE = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def _q_domain_mixture(spark, sf_dir):
    """Training-data domain mixing: downsample-only resampling to a
    target 50/30/20 source mixture; T = min(n_d/p_d) total rows,
    rate_d = T*p_d/n_d, rows chosen by the deterministic md5
    discipline (same rows on any cluster size / engine)."""
    from auctus_spark.operators.sampling import domain_mixture_sample
    out = domain_mixture_sample(_docs(spark, sf_dir), _MIXTURE,
                                "source", "doc_id")
    return out.select("doc_id", "source")


def _domain_mixture_sql(target: dict[str, float]) -> str:
    vals = ", ".join(f"('{d}', {p})" for d, p in target.items())
    return f"""
WITH w(d, p) AS (VALUES {vals}),
n AS (SELECT source AS d, count(*) AS n FROM documents
      WHERE source IN (SELECT d FROM w) GROUP BY 1),
t AS (SELECT min(n / p) AS T FROM w JOIN n USING (d) WHERE p > 0),
r AS (SELECT d, T * p / n AS rate
      FROM w JOIN n USING (d) CROSS JOIN t),
thr AS (SELECT d,
        CASE WHEN floor(rate * 4294967296) >= 4294967296 THEN 'g'
             WHEN rate <= 0 THEN ''
             ELSE printf('%08x',
                         CAST(floor(rate * 4294967296) AS BIGINT))
        END AS thr FROM r)
SELECT doc_id, source FROM documents
JOIN thr ON source = thr.d
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < thr
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_topk_hot": _q_bm25_hot,
        "bm25_topk_conjunctive": _q_bm25_conj,
        "bm25_zero_hits": _q_bm25_zero,
        "term_stats": _q_term_stats,
        "corpus_doc_stats": _q_corpus_stats,
        "facet_lang": _q_facet_lang,
        "dedup_exact": _q_dedup_exact,
        "token_count": _q_token_count,
        "text_quality": _q_text_quality,
        "tpch_q1": _q_tpch_q1,
        "topk_orders_per_cust": _q_topk_orders_per_cust,
        "union_by_name": _q_union_by_name,
        "interval_overlap_join": _q_interval_overlap_join,
        "embedding_cosine_topk": _q_embedding_cosine_topk,
        "ann_ivf": _q_ann_ivf,
        "ngram_jaccard_dups": _q_ngram_jaccard_dups,
        "minhash_dedup": _q_minhash_dedup,
        "simhash": _q_simhash,
        "lang_id": _q_lang_id,
        "content_fingerprint": _q_content_fingerprint,
        "tpch_q3": _q_tpch_q3,
        "asof_join": _q_asof_join,
        "sessionize": _q_sessionize,
        "fuzzy_name_match": _q_fuzzy_name_match,
        "name_similarity": _q_name_similarity,
        "bm25_page2": _q_bm25_page2,
        "unpivot_part": _q_unpivot_part,
        "tpch_q5ish": _q_tpch_q5ish,
        "window_agg_events": _q_window_agg_events,
        "numeric_histogram": _q_numeric_histogram,
        "bm25_or": _q_bm25_or,
        "bm25_min_should_match": _q_bm25_min_should_match,
        "bm25_prefix": _q_bm25_prefix,
        "bm25_fuzzy": _q_bm25_fuzzy,
        "bm25_wildcard": _q_bm25_wildcard,
        "bm25_regexp": _q_bm25_regexp,
        "bm25_phrase_prefix": _q_bm25_phrase_prefix,
        "bm25_index_path": _q_bm25_index_path,
        "bm25_batched": _q_bm25_batched,
        "bm25_multifield": _q_bm25_multifield,
        "bm25_crossfields": _q_bm25_crossfields,
        "bm25_stemmed": _q_bm25_stemmed,
        "bm25_compacted": _q_bm25_compacted,
        "bm25_synonyms": _q_bm25_synonyms,
        "bm25_synonyms_idx": _q_bm25_synonyms_idx,
        "bm25_phrase": _q_bm25_phrase,
        "bm25_phrase_batched": _q_bm25_phrase_batched,
        "bm25_phrase_sloppy": _q_bm25_phrase_sloppy,
        "bm25_multifield_idx": _q_bm25_multifield_idx,
        "embedding_near_pairs": _q_embedding_near_pairs,
        "augment_join": _q_augment_join,
        "script_score": _q_script_score,
        "lazo_containment": _q_lazo_containment,
        "temporal_aligned_join": _q_temporal_aligned_join,
        "spatial_overlap": _q_spatial_overlap,
        "categorical_histogram": _q_categorical_histogram,
        "search_service": _q_search_service,
        "column_types": _q_column_types,
        "gopher_rules": _q_gopher_rules,
        "gopher_repetition": _q_gopher_repetition,
        "gopher_dup_ngrams": _q_gopher_dup_ngrams,
        "c4_rules": _q_c4_rules,
        "pii_redact": _q_pii_redact,
        "date_histogram": _q_date_histogram,
        "downsample_rollup": _q_downsample_rollup,
        "tfidf_keywords": _q_tfidf_keywords,
        "rank_eval": _q_rank_eval,
        "ingest_pipeline": _q_ingest_pipeline,
        "random_sampler": _q_random_sampler,
        "hex_grid": _q_hex_grid,
        "bm25_explain": _q_bm25_explain,
        "shingle_phrase": _q_shingle_phrase,
        "terms_shard_merge": _q_terms_shard_merge,
        "highlight": _q_highlight,
        "highlight_fragments": _q_highlight_fragments,
        "dedup_paragraphs": _q_dedup_paragraphs,
        "composite_agg": _q_composite_agg,
        "rare_terms": _q_rare_terms,
        "pipeline_aggs": _q_pipeline_aggs,
        "chunk_documents": _q_chunk_documents,
        "pack_documents": _q_pack_documents,
        "unigram_logprob": _q_unigram_logprob,
        "weighted_sample": _q_weighted_sample,
        "deterministic_split": _q_deterministic_split,
        "image_stats": _q_image_stats,
        "admin_resolve": _q_admin_resolve,
        "function_score_boost": _q_function_score_boost,
        "dis_max": _q_dis_max,
        "boosting_query": _q_boosting,
        "decay_gauss": _q_decay_gauss,
        "field_value_factor": _q_field_value_factor,
        "cardinality_hll": _q_cardinality_hll,
        "term_suggest": _q_term_suggest,
        "phrase_suggest": _q_phrase_suggest,
        "span_first": _q_span_first,
        "span_near": _q_span_near,
        "span_multi": _q_span_multi,
        "span_near_unordered": _q_span_near_unordered,
        "span_not": _q_span_not,
        "percentile_ranks": _q_percentile_ranks,
        "boxplot": _q_boxplot,
        "weighted_avg": _q_weighted_avg,
        "multi_terms": _q_multi_terms,
        "stats_bucket": _q_stats_bucket,
        "geo_bounds": _q_geo_bounds,
        "geo_centroid": _q_geo_centroid,
        "random_score": _q_random_score,
        "match_bool_prefix": _q_match_bool_prefix,
        "auto_date_histogram": _q_auto_date_histogram,
        "knn_filtered": _q_knn_filtered,
        "pipeline_aggs2": _q_pipeline_aggs2,
        "bucket_sort": _q_bucket_sort,
        "completion_suggest": _q_completion_suggest,
        "completion_fuzzy": _q_completion_fuzzy,
        "geo_distance_rings": _q_geo_distance_rings,
        "terms_agg_ordered": _q_terms_agg_ordered,
        "multi_index_search": _q_multi_index_search,
        "indices_boost": _q_indices_boost,
        "date_math_range": _q_date_math_range,
        "histogram_agg": _q_histogram_agg,
        "extended_stats": _q_extended_stats,
        "top_hits": _q_top_hits,
        "rescore": _q_rescore,
        "term_vectors": _q_term_vectors,
        "dedup_clusters": _q_dedup_clusters,
        "cms_counts": _q_cms_counts,
        "bloom_contains": _q_bloom_contains,
        "collapse_by_field": _q_collapse,
        "search_after": _q_search_after,
        "geo_distance": _q_geo_distance,
        "temporal_histogram": _q_temporal_histogram,
        "word_histogram": _q_word_histogram,
        "numeric_profile": _q_numeric_profile,
        "temporal_resolution": _q_temporal_resolution,
        "geohash_sketch": _q_geohash_sketch,
        "range_sketch": _q_range_sketch,
        "spatial_ranges": _q_spatial_ranges,
        "profile_dataset": _q_profile_dataset,
        "auctus_e2e": _q_auctus_e2e,
        "union_search_e2e": _q_union_search_e2e,
        "dup_spans": _q_dup_spans,
        "decontaminate": _q_decontaminate,
        "percentile_profile": _q_percentile_profile,
        "significant_terms": _q_significant_terms,
        "filters_agg": _q_filters_agg,
        "range_agg": _q_range_agg,
        "adjacency_matrix": _q_adjacency_matrix,
        "bm25_mlt": _q_bm25_mlt,
        "string_stats": _q_string_stats,
        "mad_value": _q_mad_value,
        "t_test_welch": _q_t_test_welch,
        "top_metrics": _q_top_metrics,
        "value_count_missing": _q_value_count_missing,
        "date_range_agg": _q_date_range_agg,
        "rate_agg": _q_rate_agg,
        "geotile_grid": _q_geotile_grid,
        "geohash_grid": _q_geohash_grid,
        "sampler_facet": _q_sampler,
        "diversified_sampler": _q_diversified_sampler,
        "rrf_hybrid": _q_rrf_hybrid,
        "ann_int8_rescore": _q_ann_int8_rescore,
        "maxsim_rank_vectors": _q_maxsim_rank_vectors,
        "ann_bit_rescore": _q_ann_bit_rescore,
        "linear_hybrid": _q_linear_hybrid,
        "query_string": _q_query_string,
        "simple_query_string": _q_simple_query_string,
        "span_or": _q_span_or,
        "span_containing": _q_span_containing,
        "span_within": _q_span_within,
        "combined_fields": _q_combined_fields,
        "distance_feature": _q_distance_feature,
        "terms_set": _q_terms_set,
        "percolate": _q_percolate,
        "intervals": _q_intervals,
        "pipeline_aggs3": _q_pipeline_aggs3,
        "geo_bounding_box": _q_geo_bounding_box,
        "geo_polygon": _q_geo_polygon,
        "cumulative_cardinality": _q_cumulative_cardinality,
        "matrix_stats": _q_matrix_stats,
        "significant_text": _q_significant_text,
        "bigram_logprob": _q_bigram_logprob,
        "streaming_dedup": _q_streaming_dedup,
        "streaming_window_agg": _q_streaming_window_agg,
        "variable_width_histogram": _q_variable_width_histogram,
        "bpe_encode": _q_bpe_encode,
        "wordpiece_encode": _q_wordpiece_encode,
        "unigram_encode": _q_unigram_encode,
        "rank_feature": _q_rank_feature,
        "pinned": _q_pinned,
        "frequent_item_sets": _q_frequent_item_sets,
        "geo_line": _q_geo_line,
        "categorize_text": _q_categorize_text,
        "change_point": _q_change_point,
        "scripted_metric": _q_scripted_metric,
        "has_child": _q_has_child,
        "has_parent": _q_has_parent,
        "nested_query": _q_nested_query,
        "nested_agg": _q_nested_agg,
        "children_agg": _q_children_agg,
        "sparse_vector": _q_sparse_vector,
        "runtime_global_facets": _q_runtime_global_facets,
        "moving_percentiles": _q_moving_percentiles,
        "bucket_correlation": _q_bucket_correlation,
        "bucket_ks_test": _q_bucket_ks_test,
        "geo_shape_envelope": _q_geo_shape_envelope,
        "terms_lookup": _q_terms_lookup,
        "search_template": _q_search_template,
        "collapse_inner_hits": _q_collapse_inner_hits,
        "ip_range": _q_ip_range,
        "ip_prefix": _q_ip_prefix,
        "index_sorted_topk": _q_index_sorted_topk,
        "alias_search": _q_alias_search,
        "mget": _q_mget,
        "domain_mixture": _q_domain_mixture,
    }


_TOK2 = (f"SELECT doc_id, unnest(regexp_split_to_array(lower(text), "
         f"'{SPLIT_PATTERN}')) AS term FROM documents")

# ordered tokens (for shingles): generate_subscripts zips with unnest
_TOKPOS = (f"SELECT doc_id, "
           f"unnest(regexp_split_to_array(lower(text), '{SPLIT_PATTERN}'))"
           f" AS term, "
           f"generate_subscripts(regexp_split_to_array(lower(text), "
           f"'{SPLIT_PATTERN}'), 1) AS pos FROM documents")

# distinct 3-token shingles per doc (docs here all have >= 3 tokens)
_SHINGLES = f"""
  SELECT DISTINCT doc_id,
         term || ' ' || lead(term, 1) OVER w || ' ' ||
         lead(term, 2) OVER w AS shingle
  FROM (SELECT * FROM ({_TOKPOS}) WHERE term <> '')
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
"""


def _gopher_rules_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in
                      ("the", "be", "to", "of", "and", "that",
                       "have", "with"))
    return rf"""
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'),
                x -> x <> '') AS words,
    list_filter(regexp_split_to_array(text, '\n'),
                x -> trim(x) <> '') AS lines,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) / 3
      + (length(text) - length(replace(text, '…', ''))) AS n_ell
  FROM documents),
m AS (
  SELECT doc_id, len(words) AS nw,
    greatest(len(words), 1) * 1.0 AS nw1,
    coalesce(list_sum(list_transform(words, x -> length(x))), 0)
      / (greatest(len(words), 1) * 1.0) AS mwl,
    n_hash, n_ell,
    len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]')))
      / (greatest(len(lines), 1) * 1.0) AS bullet,
    len(list_filter(lines,
                    x -> regexp_matches(trim(x), '(\.\.\.|…)$')))
      / (greatest(len(lines), 1) * 1.0) AS ell_end,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
      / (greatest(len(words), 1) * 1.0) AS alpha,
    len(list_intersect(
        list_distinct(list_transform(words, x -> lower(x))),
        [{stops}])) AS stops
  FROM w)
SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
  nw >= 50 AND nw <= 100000 AS r_word_count,
  mwl >= 3.0 AND mwl <= 10.0 AS r_mean_word_len,
  n_hash / nw1 <= 0.1 AND n_ell / nw1 <= 0.1 AS r_symbol_ratio,
  bullet <= 0.9 AS r_bullet_lines,
  ell_end <= 0.3 AS r_ellipsis_lines,
  alpha >= 0.8 AS r_alpha_words,
  stops >= 2 AS r_stopwords,
  (nw >= 50 AND nw <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
    AND (n_hash / nw1 <= 0.1 AND n_ell / nw1 <= 0.1)
    AND (bullet <= 0.9)
    AND (ell_end <= 0.3) AND (alpha >= 0.8) AND (stops >= 2)
    AS gopher_keep
FROM m
"""


def _gopher_dup_ngrams_sql() -> str:
    thr = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    gram_sels = " UNION ALL ".join(
        f"SELECT doc_id, i - 1 AS i, {n} AS n, "
        f"array_to_string(w[i:i + {n - 1}], ' ') AS g "
        f"FROM base, LATERAL (SELECT unnest(range(1, len(w) - {n - 1}"
        f" + 1)) AS i) WHERE len(w) >= {n}"
        for n in range(5, 11))
    fracs = ", ".join(
        f"round(coalesce(max(CASE WHEN f.n = {n} THEN f.covd END)"
        f" / wc.wchars, 0.0), 6) AS dup_{n}gram_char_frac"
        for n in range(5, 11))
    keep = " AND ".join(
        f"coalesce(max(CASE WHEN f.n = {n} THEN f.covd END)"
        f" / wc.wchars, 0.0) <= {t}" for n, t in thr.items())
    return rf"""
WITH base AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
  FROM documents),
words AS (
  SELECT doc_id, i - 1 AS idx, w[i] AS word
  FROM base, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
wc AS (SELECT doc_id,
              coalesce(sum(length(word)), 0) * 1.0 AS wchars
       FROM base LEFT JOIN words USING (doc_id) GROUP BY doc_id),
grams AS ({gram_sels}),
dup AS (
  SELECT doc_id, n, g, list(i) AS starts FROM grams
  GROUP BY doc_id, n, g HAVING count(*) > 1),
cov AS (
  SELECT DISTINCT doc_id, n, i + off AS idx
  FROM (SELECT doc_id, n, unnest(starts) AS i FROM dup) d,
       LATERAL (SELECT unnest(range(0, d.n)) AS off)),
f AS (
  SELECT cov.doc_id, cov.n, sum(length(words.word)) * 1.0 AS covd
  FROM cov JOIN words ON words.doc_id = cov.doc_id
                     AND words.idx = cov.idx
  GROUP BY cov.doc_id, cov.n)
SELECT wc.doc_id, {fracs},
       {keep} AS dup_ngram_keep
FROM wc LEFT JOIN f ON f.doc_id = wc.doc_id
GROUP BY wc.doc_id, wc.wchars
"""


def _gopher_repetition_sql() -> str:
    gram_ctes, gram_joins = [], []
    for n in (2, 3, 4):
        gram_ctes.append(rf"""
g{n} AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id,
      array_to_string(w[i:i + {n - 1}], ' ') AS g
    FROM wd, LATERAL (SELECT unnest(range(1, len(w) - {n - 1} + 1))
                      AS i)
    WHERE len(w) >= {n})
  GROUP BY doc_id, g),
t{n} AS (
  SELECT doc_id,
    cnt * (length(g) - {n - 1}) AS covered
  FROM (SELECT doc_id, g, cnt,
          row_number() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, g ASC) AS rn
        FROM g{n})
  WHERE rn = 1)""")
        gram_joins.append(
            f"coalesce(t{n}.covered / greatest(wd.wchars, 1.0), 0.0)"
            f" AS f{n}")
    return rf"""
WITH wd AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'),
                x -> x <> '') AS w,
    coalesce(list_sum(list_transform(
      list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''),
      x -> length(x))), 0) * 1.0 AS wchars
  FROM documents),
ln AS (
  SELECT doc_id, line, count(*) AS cnt FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\n')) AS line
    FROM documents)
  WHERE trim(line) <> '' GROUP BY doc_id, line),
ls AS (
  SELECT doc_id,
    1.0 - count(*) * 1.0 / sum(cnt) AS dlf,
    1.0 - sum(length(line)) * 1.0 / sum(length(line) * cnt) AS dlcf
  FROM ln GROUP BY doc_id),
pr AS (
  SELECT doc_id, para, count(*) AS cnt FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\n\s*\n'))
      AS para
    FROM documents)
  WHERE trim(para) <> '' GROUP BY doc_id, para),
ps AS (
  SELECT doc_id,
    1.0 - count(*) * 1.0 / sum(cnt) AS dpf,
    1.0 - sum(length(para)) * 1.0 / sum(length(para) * cnt) AS dpcf
  FROM pr GROUP BY doc_id),
{','.join(gram_ctes)},
m AS (
  SELECT wd.doc_id,
    coalesce(ls.dlf, 0.0) AS dlf, coalesce(ls.dlcf, 0.0) AS dlcf,
    coalesce(ps.dpf, 0.0) AS dpf, coalesce(ps.dpcf, 0.0) AS dpcf,
    {', '.join(gram_joins)}
  FROM wd LEFT JOIN ls ON ls.doc_id = wd.doc_id
    LEFT JOIN ps ON ps.doc_id = wd.doc_id
    LEFT JOIN t2 ON t2.doc_id = wd.doc_id
    LEFT JOIN t3 ON t3.doc_id = wd.doc_id
    LEFT JOIN t4 ON t4.doc_id = wd.doc_id)
SELECT doc_id,
  round(dlf, 6) AS dup_line_frac,
  round(dlcf, 6) AS dup_line_char_frac,
  round(dpf, 6) AS dup_para_frac,
  round(dpcf, 6) AS dup_para_char_frac,
  round(f2, 6) AS top_2gram_char_frac,
  round(f3, 6) AS top_3gram_char_frac,
  round(f4, 6) AS top_4gram_char_frac,
  dlf <= 0.30 AND dpf <= 0.30 AND dlcf <= 0.20 AND dpcf <= 0.20
    AND f2 <= 0.20 AND f3 <= 0.18 AND f4 <= 0.16 AS rep_keep
FROM m
"""


def _column_types_sql() -> str:
    """Reference type-voting thresholds as SQL: anchored regexes are
    full matches under both Java regex (rlike) and RE2
    (regexp_matches)."""
    def one(col: str) -> str:
        return f"""
  SELECT '{col}' AS col,
    CASE WHEN n = 0 THEN 'MISSING_DATA'
         WHEN int_r >= 0.98 THEN 'INTEGER'
         WHEN float_r >= 0.98 THEN 'FLOAT'
         WHEN point_r >= 0.98 THEN 'GEO_POINT'
         ELSE 'TEXT' END AS kind,
    dist_r <= 0.10 AS categorical
  FROM (
    SELECT count(*) FILTER (v IS NOT NULL AND v <> '') AS n,
      count(*) FILTER (regexp_matches(v, '^[+-]?[0-9]+$')) * 1.0
        / count(*) FILTER (v IS NOT NULL AND v <> '') AS int_r,
      count(*) FILTER (regexp_matches(v,
        '^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$')) * 1.0
        / count(*) FILTER (v IS NOT NULL AND v <> '') AS float_r,
      count(*) FILTER (regexp_matches(v,
        '^\\s*POINT\\s*\\(-?[0-9.]+ -?[0-9.]+\\)\\s*$')) * 1.0
        / count(*) FILTER (v IS NOT NULL AND v <> '') AS point_r,
      count(DISTINCT v) * 1.0
        / count(*) FILTER (v IS NOT NULL AND v <> '') AS dist_r
    FROM (SELECT CAST({col} AS VARCHAR) AS v FROM customer))"""
    return " UNION ALL ".join(
        one(c) for c in ["c_custkey", "c_name", "c_mktsegment",
                         "c_acctbal"])


def _bm25_filtered_sql(terms: list[str], cond: str, k: int = 50) -> str:
    """BM25 over a filtered documents subset (ES filtered query:
    per-request corpus stats over the filtered base)."""
    sql = _bm25_sql(terms, k)
    return (f"WITH docs_f AS (SELECT * FROM documents WHERE {cond})"
            + sql.replace("WITH tok", ", tok", 1)
                 .replace("FROM documents", "FROM docs_f"))


def _containment_pairs_sql(threshold: float) -> str:
    return f"""
WITH sh AS ({_SHINGLES}),
sh2 AS (SELECT * FROM sh WHERE shingle IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
dirs AS (
  SELECT id_a AS id_q, id_b AS id_c, i * 1.0 / sa.sz AS containment
  FROM inter JOIN sizes sa ON sa.doc_id = id_a
  UNION ALL
  SELECT id_b AS id_q, id_a AS id_c, i * 1.0 / sb.sz AS containment
  FROM inter JOIN sizes sb ON sb.doc_id = id_b)
SELECT id_q, id_c, round(containment, 6) AS containment
FROM dirs WHERE containment >= {threshold}
"""


def _jaccard_pairs_sql(threshold: float) -> str:
    return f"""
WITH sh AS ({_SHINGLES}),
sh2 AS (SELECT * FROM sh WHERE shingle IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {threshold}
"""


def _simhash_sql(bits: int = 32) -> str:
    h = "(('0x' || substring(md5(term), 1, 15))::BIGINT)"
    sums = ",\n    ".join(
        f"sum(CASE WHEN ({h} >> {j}) & 1 = 1 THEN tf ELSE -tf END) AS b{j}"
        for j in range(bits))
    assemble = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits))
    return f"""
WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY doc_id, term),
sums AS (SELECT doc_id,
    {sums}
  FROM tf GROUP BY doc_id)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM sums
"""


def _lang_id_sql() -> str:
    from auctus_spark.operators.textstats import LANG_MARKERS
    langs = sorted(LANG_MARKERS)
    scores = ",\n    ".join(
        "sum(CASE WHEN term IN ({}) THEN 1 ELSE 0 END) * 1.0 / "
        "greatest(count(*), 1) AS score_{}".format(
            ", ".join(f"'{w}'" for w in LANG_MARKERS[lg]), lg)
        for lg in langs)
    best = "greatest({})".format(", ".join(f"score_{lg}" for lg in langs))
    pick = " ".join(
        f"WHEN score_{lg} = best THEN '{lg}'" for lg in langs)
    return f"""
WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
scored AS (SELECT doc_id,
    {scores}
  FROM tok2 GROUP BY doc_id),
best AS (SELECT doc_id, {best} AS best, * FROM scored),
pred AS (SELECT doc_id,
    CASE WHEN best <= 0 THEN 'unknown' {pick} END AS lang_pred
  FROM best)
SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred
ORDER BY lang_pred
"""


_GRAMS = ("CASE WHEN length({c}) < 3 THEN [{c}] ELSE "
          "list_transform(range(1, length({c}) - 1), "
          "i -> substring({c}, i, 3)) END")


def _auctus_e2e_sql() -> str:
    """Generated UNION ALL recomputing every [auctus_e2e] row from the
    base tables: per-column classification (regex voting with the 2%
    tolerance for VARCHAR columns; the dtype branch is schema-static),
    distinct/mean/stddev, min/max coverage spans, conjunctive BM25
    over the literal metadata documents, and interval-overlap join
    scores."""
    int_re = "^[+-]?[0-9]+$"
    float_re = (r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)"
                r"([eE][+-]?[0-9]+)?$")
    parts = []
    kind_counts = {}
    for t, cols in _E2E_SPEC.items():
        kinds = {"numerical": 0, "categorical": 0, "spatial": 0,
                 "temporal": 0}
        for c, k in cols:
            if k in ("int", "float"):
                kinds["numerical"] += 1
            elif k == "ts":
                kinds["temporal"] += 1
            else:
                kinds["categorical"] += 1
        kind_counts[t] = kinds
    S = parts.append
    for t, cols in _E2E_SPEC.items():
        kw = _E2E_KEYWORDS[t]
        types = ",".join(sorted(k for k, v in kind_counts[t].items()
                                if v > 0))
        S(f"SELECT 'dataset' AS section, '{t}' AS dataset, "
          f"'nb_rows' AS item, NULL::VARCHAR AS sval, "
          f"CAST(count(*) AS DOUBLE) AS dval FROM {t}")
        S(f"SELECT 'dataset','{t}','nb_columns',NULL,"
          f"{float(len(cols))}")
        for k, v in kind_counts[t].items():
            S(f"SELECT 'dataset','{t}','nb_{k}_columns',NULL,"
              f"{float(v)}")
        S(f"SELECT 'dataset','{t}','types','{types}',NULL")
        S(f"SELECT 'dataset','{t}','attribute_keywords','{kw}',NULL")
        for c, k in cols:
            S(f"SELECT 'column','{t}','{c}.distinct',NULL,"
              f"CAST(count(DISTINCT {c}) AS DOUBLE) FROM {t}")
            if k in ("int", "float"):
                st = "INTEGER" if k == "int" else "FLOAT"
                S(f"SELECT 'column','{t}','{c}.structural','{st}',NULL")
                S(f"SELECT 'column','{t}','{c}.semantic','',NULL")
                S(f"SELECT 'column','{t}','{c}.mean',NULL,"
                  f"round(avg(CAST({c} AS DOUBLE)),6) FROM {t}")
                S(f"SELECT 'column','{t}','{c}.stddev',NULL,"
                  f"round(coalesce(stddev_pop(CAST({c} AS DOUBLE)),0)"
                  f",6) FROM {t}")
                S(f"SELECT 'coverage','{t}','{c}.gte',NULL,"
                  f"round(min(CAST({c} AS DOUBLE)),6) FROM {t}")
                S(f"SELECT 'coverage','{t}','{c}.lte',NULL,"
                  f"round(max(CAST({c} AS DOUBLE)),6) FROM {t}")
            elif k == "ts":
                S(f"SELECT 'column','{t}','{c}.structural','TEXT',NULL")
                S(f"SELECT 'column','{t}','{c}.semantic',"
                  f"'DATE_TIME',NULL")
                S(f"SELECT 'coverage','{t}','{c}.gte',"
                  f"CAST(min({c}) AS VARCHAR),NULL FROM {t}")
                S(f"SELECT 'coverage','{t}','{c}.lte',"
                  f"CAST(max({c}) AS VARCHAR),NULL FROM {t}")
            else:
                n = (f"count_if({c} IS NOT NULL AND "
                     f"CAST({c} AS VARCHAR) <> '')")
                S(f"SELECT 'column','{t}','{c}.structural',"
                  f"CASE WHEN count_if(regexp_matches(CAST({c} AS "
                  f"VARCHAR), '{int_re}')) >= 0.98*{n} THEN 'INTEGER' "
                  f"WHEN count_if(regexp_matches(CAST({c} AS VARCHAR),"
                  f" '{float_re}')) >= 0.98*{n} THEN 'FLOAT' "
                  f"ELSE 'TEXT' END,NULL FROM {t}")
                S(f"SELECT 'column','{t}','{c}.semantic',"
                  f"CASE WHEN count_if(array_length("
                  f"regexp_split_to_array(CAST({c} AS VARCHAR),"
                  f" '\\s+')) >= 4) >= 0.5*{n} THEN 'TEXT' "
                  f"WHEN count(DISTINCT {c})*1.0/{n} <= 0.10 "
                  f"THEN 'CATEGORICAL' ELSE '' END,NULL FROM {t}")
    # keyword search: BM25 over the three literal metadata documents
    docs_vals = ", ".join(
        "('{0}', '{0} {0} {1} {2}')".format(
            t, _E2E_DESCRIPTIONS[t], _E2E_KEYWORDS[t])
        for t in _E2E_SPEC)
    for q in _E2E_QUERIES:
        terms = [w for w in q.lower().split() if w]
        tlist = ", ".join(f"'{w}'" for w in terms)
        S(f"""SELECT 'keyword', doc_id, '{q}', NULL, score FROM (
WITH docs(doc_id, text) AS (VALUES {docs_vals}),
tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text),
        '{SPLIT_PATTERN}')) AS term FROM docs),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM docs) AS n_docs,
       (SELECT count(*) FROM tok2) * 1.0
         / (SELECT count(*) FROM docs) AS avgdl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ({tlist}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (SELECT tf.doc_id,
       sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))))
         AS raw, count(*) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 6) AS score FROM scored
WHERE nt = {len(terms)})""")
    # join search: overlap of the query range with each numeric span
    q_gte, q_lte = _E2E_RANGE
    total = q_lte - q_gte + 1
    for t, cols in _E2E_SPEC.items():
        for c, k in cols:
            if k in ("int", "float"):
                S(f"SELECT 'join','{t}','{c}',NULL,"
                  f"round((least(max(CAST({c} AS DOUBLE)), {q_lte}) - "
                  f"greatest(min(CAST({c} AS DOUBLE)), {q_gte}) + 1)"
                  f" / {total}, 6) FROM {t} "
                  f"HAVING min(CAST({c} AS DOUBLE)) <= {q_lte} "
                  f"AND max(CAST({c} AS DOUBLE)) >= {q_gte}")
    body = "\nUNION ALL\n".join(parts)
    return (f"SELECT section, dataset, item, sval, dval FROM ("
            f"{body}) ORDER BY section, dataset, item")


def _union_search_e2e_sql() -> str:
    """Recomputes [union_search_e2e]: same-type column pairs (VALUES
    of the schema-static match keys), 3-gram multiset-Jaccard
    similarity, then the GREEDY matching itself as a recursive CTE —
    each recursion step appends, per candidate, the best remaining
    pair whose left and right columns are both untaken (ordering
    similarity desc, left asc, right asc — the engine's pinned tie
    order)."""
    vals = ", ".join(
        f"('{t}', '{c}', '{k}')"
        for t, cols in _UNION_E2E_SPEC.items() for c, k in cols)
    gl = _GRAMS.format(c="ln")
    gr = _GRAMS.format(c="rn")
    n_left = len(_UNION_E2E_SPEC["customer"])
    return f"""
WITH RECURSIVE
cols(tbl, col, k) AS (VALUES {vals}),
pairs0 AS (
  SELECT c2.tbl AS cand, lower(c1.col) AS ln, lower(c2.col) AS rn
  FROM cols c1 JOIN cols c2 ON c1.k = c2.k
  WHERE c1.tbl = 'customer' AND c2.tbl <> 'customer'),
gl AS (SELECT cand, ln, rn, unnest({gl}) AS gram FROM pairs0),
gr AS (SELECT cand, ln, rn, unnest({gr}) AS gram FROM pairs0),
cl AS (SELECT cand, ln, rn, gram, count(*) AS c FROM gl GROUP BY ALL),
cr AS (SELECT cand, ln, rn, gram, count(*) AS c FROM gr GROUP BY ALL),
m AS (SELECT coalesce(cl.cand, cr.cand) AS cand,
             coalesce(cl.ln, cr.ln) AS ln,
             coalesce(cl.rn, cr.rn) AS rn,
             coalesce(cl.c, 0) AS c_l, coalesce(cr.c, 0) AS c_r
      FROM cl FULL OUTER JOIN cr
        ON cl.cand = cr.cand AND cl.ln = cr.ln AND cl.rn = cr.rn
       AND cl.gram = cr.gram),
sims AS (SELECT cand, ln, rn,
                sum(least(c_l, c_r)) * 1.0 /
                sum(greatest(c_l, c_r)) AS sim
         FROM m GROUP BY cand, ln, rn
         HAVING sum(least(c_l, c_r)) > 0),
greedy AS (
  SELECT cand, CAST([] AS VARCHAR[]) AS ls, CAST([] AS VARCHAR[]) AS rs,
         CAST(NULL AS VARCHAR) AS ln, CAST(NULL AS VARCHAR) AS rn,
         CAST(NULL AS DOUBLE) AS sim
  FROM (SELECT DISTINCT cand FROM sims)
  UNION ALL
  SELECT cand, list_append(ls, ln), list_append(rs, rn), ln, rn, sim
  FROM (
    SELECT g.cand AS cand, g.ls AS ls, g.rs AS rs,
           s.ln AS ln, s.rn AS rn, s.sim AS sim,
           row_number() OVER (PARTITION BY g.cand
                              ORDER BY s.sim DESC, s.ln, s.rn) AS rk
    FROM greedy g JOIN sims s ON s.cand = g.cand
     AND NOT list_contains(g.ls, s.ln)
     AND NOT list_contains(g.rs, s.rn))
  WHERE rk = 1),
picked AS (SELECT cand, ln, rn, sim FROM greedy WHERE ln IS NOT NULL),
kept AS (SELECT cand, count(*) AS n_pairs, sum(sim) AS ssum
         FROM picked GROUP BY cand HAVING count(*) >= 2)
SELECT p.cand AS cand_id, p.ln AS left_name, p.rn AS right_name,
       round(p.sim, 6) AS similarity, k.n_pairs AS n_pairs,
       round(k.ssum / {n_left}, 6) AS score
FROM picked p JOIN kept k USING (cand)
ORDER BY score DESC, cand_id, left_name
"""


def _name_similarity_sql() -> str:
    gl = _GRAMS.format(c="left_name")
    gr = _GRAMS.format(c="right_name")
    return f"""
WITH pairs AS (
  SELECT lower(n_name) AS left_name, lower(r_name) AS right_name
  FROM nation CROSS JOIN region),
gl AS (SELECT left_name, right_name, unnest({gl}) AS gram FROM pairs),
gr AS (SELECT left_name, right_name, unnest({gr}) AS gram FROM pairs),
cl AS (SELECT left_name, right_name, gram, count(*) AS c FROM gl
       GROUP BY ALL),
cr AS (SELECT left_name, right_name, gram, count(*) AS c FROM gr
       GROUP BY ALL),
m AS (SELECT coalesce(cl.left_name, cr.left_name) AS left_name,
             coalesce(cl.right_name, cr.right_name) AS right_name,
             coalesce(cl.c, 0) AS c_l, coalesce(cr.c, 0) AS c_r
      FROM cl FULL OUTER JOIN cr
        ON cl.left_name = cr.left_name
       AND cl.right_name = cr.right_name AND cl.gram = cr.gram)
SELECT left_name, right_name,
       round(sum(least(c_l, c_r)) * 1.0 /
             sum(greatest(c_l, c_r)), 6) AS similarity
FROM m GROUP BY left_name, right_name
"""


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_static()
    stemmed = _bm25_stemmed_sql()
    if stemmed:
        out["bm25_stemmed"] = stemmed
    return out


def _span_occ_sql(n: int) -> str:
    """(doc_id, pos, span) word n-gram occurrences — the engine's
    `_word_ngram_occurrences` contract (lowercase \\W+ tokens, empties
    dropped, 0-based window start)."""
    return f"""
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(toks, i, i + {n} - 1), ' ')
               AS span
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                                                     '{SPLIT_PATTERN}'),
                               x -> x <> '') AS toks
            FROM documents),
           LATERAL (SELECT unnest(generate_series(
                      1, len(toks) - {n} + 1)) AS i) u
      WHERE len(toks) >= {n}"""


def _spans_sql(n: int) -> str:
    """[dup_spans] oracle: all-but-first occurrences (global order
    (doc_id, pos)) of each span text are duplicates."""
    return f"""
      WITH occ AS ({_span_occ_sql(n)}),
      marked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY span
                                  ORDER BY doc_id, pos) AS rn
        FROM occ)
      SELECT doc_id, count(*) AS n_spans,
             sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_dup_spans,
             round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                   / count(*), 6) AS dup_ratio
      FROM marked GROUP BY doc_id ORDER BY doc_id"""


def _decontaminate_sql(n: int) -> str:
    """[decontaminate] oracle: benchmark = doc_id %% 41 == 0; corpus
    docs sharing >= 1 distinct n-gram with it, with the distinct-hit
    count."""
    return f"""
      WITH occ AS (
        SELECT DISTINCT doc_id, span FROM ({_span_occ_sql(n)})),
      bs AS (SELECT DISTINCT span FROM occ WHERE doc_id % 41 = 0)
      SELECT o.doc_id, count(*) AS n_hits
      FROM (SELECT * FROM occ WHERE doc_id % 41 <> 0) o
      JOIN bs USING (span)
      GROUP BY o.doc_id ORDER BY o.doc_id"""


def _oracle_sql_static() -> dict[str, str]:
    return {
        "embedding_near_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                       a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
                     AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
            ORDER BY id_a, id_b""",
        "bm25_topk_hot": _bm25_sql(["join"]),
        "bm25_topk_conjunctive": _bm25_sql(["data", "join", "merge"]),
        "bm25_zero_hits": _bm25_sql(["join", "zzz_not_a_token"]),
        "term_stats": f"""
            WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
                   WHERE term IN ('join','hash','data','zzz_missing')
                   GROUP BY doc_id, term)
            SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf
            GROUP BY term ORDER BY term""",
        "corpus_doc_stats": f"""
            WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> '')
            SELECT (SELECT count(*) FROM documents) AS n_docs,
                   round((SELECT count(*) FROM tok2) * 1.0
                         / (SELECT count(*) FROM documents), 6) AS avgdl""",
        "facet_lang": f"""
            WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
            hits AS (
              SELECT doc_id FROM (
                SELECT doc_id, count(DISTINCT term) nt FROM tok2
                WHERE term IN ('join','merge') GROUP BY doc_id)
              WHERE nt = 2)
            SELECT lang, count(*) AS n FROM documents
            WHERE doc_id IN (SELECT doc_id FROM hits)
            GROUP BY lang ORDER BY lang""",
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS n_dups,
                   min(doc_id) AS first_doc
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
            ORDER BY text_hash""",
        "token_count": f"""
            WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
            c AS (SELECT doc_id, count(*) AS n FROM tok2 GROUP BY doc_id)
            SELECT d.doc_id, coalesce(c.n, 0) AS n_tokens
            FROM documents d LEFT JOIN c USING (doc_id)""",
        "text_quality": f"""
            WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
            c AS (SELECT doc_id, count(*) AS n,
                         sum(CASE WHEN term IN ('the','a','of','and')
                             THEN 1 ELSE 0 END) AS stop
                  FROM tok2 GROUP BY doc_id)
            SELECT d.doc_id, c.n AS n_tokens,
                   round(length(d.text) * 1.0 / c.n, 6) AS mean_tok_len,
                   round(c.stop * 1.0 / c.n, 6) AS stopword_ratio
            FROM documents d JOIN c USING (doc_id)""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "topk_orders_per_cust": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders) WHERE rk <= 2""",
        "union_by_name": """
            SELECT c_name AS name, c_acctbal AS acctbal,
                   'customer' AS kind FROM customer
            UNION ALL
            SELECT s_name AS name, NULL AS acctbal,
                   'supplier' AS kind FROM supplier""",
        "interval_overlap_join": """
            WITH cand AS (
              SELECT o_custkey, min(o_totalprice) AS gte,
                     max(o_totalprice) AS lte FROM orders
              GROUP BY o_custkey),
            q AS (SELECT * FROM (VALUES (0.0, 50000.0),
                                        (100000.0, 200000.0)) t(q_gte, q_lte)),
            j AS (SELECT cand.o_custkey,
                         (least(lte, q_lte) - greatest(gte, q_gte))
                           / 150000.0 AS part
                  FROM cand JOIN q ON q_gte <= lte AND q_lte >= gte)
            SELECT o_custkey, round(sum(part), 6) AS score FROM j
            GROUP BY o_custkey ORDER BY sum(part) DESC, o_custkey LIMIT 100""",
        "embedding_cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qe), 6)
                     AS cos_sim
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC,
                     vec_id
            LIMIT 20""",
        "ngram_jaccard_dups": _jaccard_pairs_sql(0.5),
        "lazo_containment": _containment_pairs_sql(0.5),
        # LSH recall ~1 at j>=0.8 with 16 bands x 4 rows (verified in
        # tests); oracle = exact pairs above threshold
        "minhash_dedup": _jaccard_pairs_sql(0.8),
        "simhash": _simhash_sql(32),
        "lang_id": _lang_id_sql(),
        "content_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_filter(
                       regexp_split_to_array(lower(text), '{SPLIT_PATTERN}'),
                       x -> x <> ''), ' ')) AS fingerprint
            FROM documents""",
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                     AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
        "asof_join": """
            WITH err AS (SELECT event_id, user_id, ts FROM events
                         WHERE event_type = 'error'),
            pur AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase')
            SELECT e.event_id, e.user_id,
                   round(p.value, 6) AS purchase_value,
                   p.ts AS purchase_ts
            FROM err e ASOF LEFT JOIN pur p
              ON e.user_id = p.user_id AND p.ts <= e.ts""",
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id""",
        "fuzzy_name_match": """
            SELECT n_nationkey, n_name,
                   CAST(levenshtein(lower(n_name), 'nation_5') AS BIGINT)
                     AS dist
            FROM nation
            WHERE levenshtein(lower(n_name), 'nation_5') <= 2
            ORDER BY n_nationkey""",
        "name_similarity": _name_similarity_sql(),
        "auctus_e2e": _auctus_e2e_sql(),
        "union_search_e2e": _union_search_e2e_sql(),
        "bm25_mlt": _bm25_mlt_sql(),
        "dup_spans": _spans_sql(5),
        "decontaminate": _decontaminate_sql(4),
        "percentile_profile": """
            WITH q AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice,
                                   [0.05, 0.25, 0.5, 0.75, 0.95]) AS qs
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, p, round(v, 6) AS value
            FROM q, LATERAL (SELECT unnest([0.05, 0.25, 0.5, 0.75, 0.95])
                                      AS p,
                                    unnest(qs) AS v) u
            ORDER BY l_returnflag, p""",
        "significant_terms": f"""
            WITH d AS (
              SELECT doc_id, (lang = 'de')::INT AS fg,
                     list_distinct(list_filter(
                       regexp_split_to_array(lower(text),
                                             '{SPLIT_PATTERN}'),
                       x -> x <> '')) AS terms
              FROM documents),
            tot AS (SELECT sum(fg) AS n_fg, count(*) AS n_bg FROM d),
            ex AS (SELECT fg, unnest(terms) AS term FROM d),
            pt AS (SELECT term, sum(fg)::BIGINT AS df_fg,
                          count(*)::BIGINT AS df_bg
                   FROM ex GROUP BY term)
            SELECT term, df_fg, df_bg,
                   round((df_fg / n_fg - df_bg / n_bg)
                         * (df_fg / n_fg) / (df_bg / n_bg), 6) AS jlh
            FROM pt, tot
            WHERE df_fg >= 3 AND df_fg / n_fg > df_bg / n_bg
            ORDER BY jlh DESC, term ASC LIMIT 10""",
        # page 2 of size 10 → LIMIT 10 OFFSET 10
        "bm25_page2": _bm25_sql(["join", "merge"], k=10) + " OFFSET 10",
        "unpivot_part": """
            SELECT p_partkey, 'p_size' AS metric,
                   CAST(p_size AS DOUBLE) AS value FROM part
            UNION ALL
            SELECT p_partkey, 'p_retailprice' AS metric,
                   p_retailprice AS value FROM part""",
        "tpch_q5ish": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)) / 1e6, 2)
                     AS revenue_m,
                   count(*) AS n_items
            FROM region
            JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY r_name ORDER BY r_name""",
        "window_agg_events": """
            SELECT time_bucket(INTERVAL 6 HOURS, ts) AS w_start,
                   event_type, count(*) AS n,
                   round(sum(value), 4) AS value_sum
            FROM events GROUP BY ALL ORDER BY w_start, event_type""",
        "bm25_or": _bm25_or_sql(["join", "zzz_not_a_token", "merge"]),
        "bm25_min_should_match": _bm25_or_sql(
            ["data", "join", "merge"], min_should_match=2),
        "bm25_prefix": _bm25_prefix_sql("val"),
        "bm25_fuzzy": _bm25_fuzzy_sql("valu"),
        "bm25_wildcard": _bm25_wildcard_sql("v_l%"),
        "bm25_regexp": _bm25_regexp_sql("v.l.*"),
        "bm25_phrase_prefix": _phrase_prefix_sql("table", "val"),
        "bm25_index_path": _bm25_sql(["data", "join"]),
        "bm25_batched": (
            "SELECT 'qa' AS query_id, * FROM ("
            + _bm25_sql(["data", "join"], k=20)
            + ") UNION ALL SELECT 'qb' AS query_id, * FROM ("
            + _bm25_sql(["merge", "batch"], k=20) + ")"),
        "bm25_phrase": _phrase_sql(["table", "value"]),
        "bm25_phrase_sloppy": _phrase_sloppy2_sql("table", "value", 2),
        "bm25_phrase_batched": (
            "SELECT 'qa' AS query_id, * FROM ("
            + _phrase_sql(["table", "value"], 20)
            + ") UNION ALL SELECT 'qb' AS query_id, * FROM ("
            + _phrase_sql(["data", "join"], 20) + ")"),
        "bm25_compacted": _bm25_sql(["data", "join"]).replace(
            "FROM documents",
            "FROM (SELECT * FROM documents WHERE doc_id NOT IN "
            "(1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377)) documents", 1).replace(
            "(SELECT count(*) FROM documents)",
            "(SELECT count(*) FROM documents WHERE doc_id NOT IN "
            "(1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377))"),
        "bm25_synonyms": _synonym_sql([["join", "merge"], ["data"]]),
        "bm25_synonyms_idx": _synonym_sql([["join", "merge"], ["data"]]),
        "bm25_multifield_idx": _multifield_sql(
            ["join", "src3"], [("text", 1.0), ("source", 5.0)]),
        "bm25_multifield": _multifield_sql(
            ["join", "src3"], [("text", 1.0), ("source", 5.0)]),
        "bm25_crossfields": _crossfields_sql(
            ["table", "value"], [("text", 1.0), ("title", 3.0)]),
        "numeric_histogram": """
            WITH mm AS (SELECT min(l_extendedprice) AS lo,
                               max(l_extendedprice) AS hi FROM lineitem),
            b AS (SELECT least(CAST(floor((l_extendedprice - lo)
                                    / ((hi - lo) / 10)) AS BIGINT), 9)
                         AS bin
                  FROM lineitem, mm)
            SELECT bin, count(*) AS count,
                   round((SELECT lo FROM mm)
                         + bin * (((SELECT hi FROM mm)
                                   - (SELECT lo FROM mm)) / 10), 6)
                     AS bin_start
            FROM b GROUP BY bin ORDER BY bin""",
        "augment_join": """
            SELECT c_custkey, c_mktsegment,
                   round(avg(o_totalprice), 6) AS mean_o_totalprice,
                   round(sum(o_totalprice), 6) AS sum_o_totalprice,
                   round(max(o_totalprice), 6) AS max_o_totalprice,
                   round(min(o_totalprice), 6) AS min_o_totalprice
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey, c_mktsegment""",
        "temporal_aligned_join": """
            WITH l AS (SELECT date_trunc('day', ts) AS d,
                              count(*) AS n_day
                       FROM events GROUP BY 1),
            r AS (SELECT date_trunc('hour', ts) AS h,
                         sum(value) AS v_hour
                  FROM events GROUP BY 1)
            SELECT l.d, l.n_day, r.h, round(r.v_hour, 6) AS v_hour
            FROM l LEFT JOIN r ON date_trunc('day', r.h) = l.d""",
        "spatial_overlap": """
            WITH cand AS (
              SELECT c_custkey AS cand_id,
                     CAST((c_custkey % 60) - 30 AS DOUBLE) AS min_lon,
                     CAST((c_custkey % 40) - 20 AS DOUBLE) AS min_lat,
                     CAST((c_custkey % 60) - 30 + 1 + (c_custkey % 5)
                          AS DOUBLE) AS max_lon,
                     CAST((c_custkey % 40) - 20 + 1 + (c_custkey % 3)
                          AS DOUBLE) AS max_lat
              FROM customer),
            q(q_min_lon, q_min_lat, q_max_lon, q_max_lat) AS (
              VALUES (-10.0, -10.0, 10.0, 10.0),
                     (0.0, 0.0, 25.0, 15.0))
            SELECT cand_id,
                   round(sum((least(max_lon, q_max_lon)
                              - greatest(min_lon, q_min_lon))
                             * (least(max_lat, q_max_lat)
                                - greatest(min_lat, q_min_lat))
                             / ((q_max_lon - q_min_lon)
                                * (q_max_lat - q_min_lat))), 6) AS score
            FROM cand JOIN q
              ON min_lon < q_max_lon AND max_lon > q_min_lon
             AND min_lat < q_max_lat AND max_lat > q_min_lat
            GROUP BY cand_id""",
        "script_score": """
            WITH cand AS (
              SELECT c_custkey AS cand_id,
                     CAST(c_custkey % 500 AS DOUBLE) AS gte,
                     CAST((c_custkey % 500) + 1 + (c_custkey % 50)
                          AS DOUBLE) AS lte
              FROM customer),
            q(q_gte, q_lte) AS (VALUES (0.0, 100.0), (200.0, 260.0),
                                       (400.0, 470.0))
            SELECT cand_id,
                   round(max((least(lte, q_lte) - greatest(gte, q_gte)
                              + 1) / (lte - gte + 1)) * 2.0, 6)
                     AS score
            FROM cand JOIN q ON q_gte <= lte AND q_lte >= gte
            GROUP BY cand_id""",
        "column_types": _column_types_sql(),
        "gopher_rules": _gopher_rules_sql(),
        "gopher_repetition": _gopher_repetition_sql(),
        "gopher_dup_ngrams": _gopher_dup_ngrams_sql(),
        "image_stats": _IMAGE_STATS_SQL,
        "admin_resolve": _ADMIN_RESOLVE_SQL,
        "ann_ivf": _ANN_IVF_SQL,
        "pii_redact": _pii_redact_sql(),
        "date_histogram": _DATE_HISTOGRAM_SQL,
        "downsample_rollup": _DOWNSAMPLE_SQL,
        "tfidf_keywords": _TFIDF_KEYWORDS_SQL.replace(
            "{SPLIT}", SPLIT_PATTERN),
        "rank_eval": _RANK_EVAL_SQL.replace("{SPLIT}", SPLIT_PATTERN),
        "ingest_pipeline": _INGEST_SQL,
        "random_sampler": _RANDOM_SAMPLER_SQL,
        "hex_grid": _HEX_GRID_SQL,
        "bm25_explain": _BM25_EXPLAIN_SQL.replace("{SPLIT}",
                                                  SPLIT_PATTERN),
        "shingle_phrase": _SHINGLE_PHRASE_SQL.replace("{SPLIT}",
                                                      SPLIT_PATTERN),
        "terms_shard_merge": _TERMS_SHARD_SQL,
        "highlight": _highlight_sql(["data", "join"]),
        "highlight_fragments": _highlight_fragments_sql(
            ["data", "join"]),
        "dedup_paragraphs": _DEDUP_PARAGRAPHS_SQL,
        "composite_agg": _COMPOSITE_AGG_SQL,
        "rare_terms": _rare_terms_sql(60, 50),
        "filters_agg": _filters_agg_sql(_FILTERS_AGG_SPEC),
        "range_agg": _range_agg_sql(_RANGE_AGG_RANGES),
        "adjacency_matrix": _adjacency_matrix_sql(_FILTERS_AGG_SPEC),
        "pipeline_aggs": _PIPELINE_AGGS_SQL,
        "chunk_documents": _chunk_documents_sql(40, 20),
        "pack_documents": _pack_documents_sql(500),
        "unigram_logprob": _UNIGRAM_LOGPROB_SQL.format(
            split=SPLIT_PATTERN),
        "weighted_sample": _weighted_sample_sql(
            {"src0": 1.0, "src1": 0.6, "src2": 0.25, "src3": 0.0},
            default_weight=0.5),
        "deterministic_split": _deterministic_split_sql(
            {"train": 0.8, "val": 0.1, "test": 0.1}),
        "c4_rules": """
            WITH l AS (
              SELECT doc_id, text,
                list_filter(regexp_split_to_array(text, '\n'),
                            x -> trim(x) <> '') AS lines
              FROM documents),
            k AS (
              SELECT doc_id, text,
                list_filter(lines,
                  x -> regexp_matches(x, '[.!?"]\\s*$')
                   AND len(list_filter(regexp_split_to_array(x, '\\s+'),
                                       w -> w <> '')) >= 5) AS kept
              FROM l),
            m AS (
              SELECT doc_id,
                CAST(len(kept) AS BIGINT) AS n_kept_lines,
                CAST(coalesce(length(regexp_replace(
                  array_to_string(kept, chr(10)), '[^.!?]', '', 'g')),
                  0) AS BIGINT) AS n_sentences,
                contains(lower(text), 'lorem ipsum') AS has_lorem,
                contains(text, '{') AS has_brace
              FROM k)
            SELECT doc_id, n_kept_lines, n_sentences, has_lorem,
                   has_brace,
                   n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
                     AS c4_keep
            FROM m""",
        "search_service": _bm25_filtered_sql(
            ["data", "join"],
            "lang IN ('en', 'fr') AND source IN ('src0', 'src1', "
            "'src2', 'src3', 'src4', 'src5', 'src6', 'src7') AND "
            "doc_id NOT IN (1, 2, 3, 5, 8)"),
        "dis_max": _dis_max_sql([["data", "join"], ["filter", "scan"]],
                                tie_breaker=0.3),
        "boosting_query": _boosting_sql(["data", "join"],
                                        ["slow", "error"],
                                        negative_boost=0.3),
        "decay_gauss": _decay_gauss_sql(["data", "join"], origin=500.0,
                                        scale=300.0, offset=50.0,
                                        decay=0.5),
        "field_value_factor": _fvf_sql(["data", "join"], factor=0.1),
        "cardinality_hll": _cardinality_hll_sql("l_orderkey",
                                                "lineitem"),
        "term_suggest": _term_suggest_sql(["dta", "joinn"]),
        "phrase_suggest": _phrase_suggest_sql(["dta", "joinn"]),
        "span_first": _span_first_sql("data", 5),
        "span_near": _span_near2_sql("data", "join", 3),
        "span_multi": _SPAN_MULTI_SQL.replace("{SPLIT}", SPLIT_PATTERN),
        "span_near_unordered": _span_near3u_sql("table", "value",
                                                "scan", 6),
        "span_not": _span_not_sql("data", "join", 0, 3),
        "percentile_ranks": _percentile_ranks_sql(_PCT_RANK_VALUES),
        "boxplot": _BOXPLOT_SQL,
        "weighted_avg": _WEIGHTED_AVG_SQL,
        "multi_terms": _MULTI_TERMS_SQL,
        "stats_bucket": _STATS_BUCKET_SQL,
        "geo_bounds": _GEO_BOUNDS_SQL,
        "geo_centroid": _GEO_CENTROID_SQL,
        "random_score": _random_score_sql("data", 42),
        "match_bool_prefix": _match_bool_prefix_sql(["data"], "joi"),
        "auto_date_histogram": _auto_date_histogram_sql(25),
        "knn_filtered": _KNN_FILTERED_SQL,
        "pipeline_aggs2": _PIPELINE_AGGS2_SQL,
        "bucket_sort": _BUCKET_SORT_SQL,
        "completion_suggest": _completion_suggest_sql("s"),
        "completion_fuzzy": _completion_fuzzy_sql("sca"),
        "geo_distance_rings": _geo_distance_rings_sql(_GEO_RINGS),
        "terms_agg_ordered": _TERMS_AGG_ORDERED_SQL,
        "multi_index_search": _multi_index_search_sql(
            ["data", "join"]),
        "indices_boost": _multi_index_search_sql(
            ["data", "join"], boosts=(1.0, 2.0)),
        "date_math_range": _DATE_MATH_RANGE_SQL,
        "histogram_agg": _histogram_agg_sql(_HISTOGRAM_INTERVAL),
        "extended_stats": _EXTENDED_STATS_SQL,
        "top_hits": _TOP_HITS_SQL,
        "rescore": _rescore_sql(["data", "join"], ["table", "value"],
                                50, 1.0, 2.0, 20),
        "term_vectors": _term_vectors_sql([1, 2, 3, 5, 8]),
        "dedup_clusters": _dedup_clusters_sql(0.8),
        "cms_counts": _cms_counts_sql(
            ["data", "join", "the", "zzz_absent"], 256, 4),
        "collapse_by_field": _collapse_sql(["data", "join"]),
        "search_after": _search_after_sql(["data", "join"], 0.35, 0),
        "geo_distance": _GEO_DISTANCE_SQL,
        "bloom_contains": _bloom_contains_sql(
            ["data", "join", "zzz_absent", "qq_nope"], 4096, 4),
        "function_score_boost": f"""
            WITH tok2 AS (SELECT * FROM ({_TOK2}) WHERE term <> ''),
            hits AS (
              SELECT doc_id, count(DISTINCT term) AS nt FROM tok2
              WHERE term IN ('data', 'join') GROUP BY doc_id)
            SELECT doc_id, 10.0 AS score FROM hits WHERE nt = 2""",
        "temporal_histogram": """
            WITH t AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t
                       FROM events),
            mm AS (SELECT min(t) AS lo, max(t) AS hi FROM t),
            b AS (SELECT least(CAST(floor((t - lo)
                                    / ((hi - lo) / 10.0)) AS BIGINT), 9)
                         AS bin
                  FROM t, mm)
            SELECT bin, count(*) AS count,
                   round((SELECT lo FROM mm)
                         + bin * (((SELECT hi FROM mm)
                                   - (SELECT lo FROM mm)) / 10.0), 6)
                     AS bin_start
            FROM b GROUP BY bin ORDER BY bin""",
        "categorical_histogram": """
            SELECT o_orderpriority, count(*) AS count
            FROM orders GROUP BY o_orderpriority
            ORDER BY count DESC, o_orderpriority ASC LIMIT 5""",
        "word_histogram": r"""
            WITH w AS (
              SELECT unnest(regexp_split_to_array(lower(text), '\W+'))
                       AS word
              FROM documents)
            SELECT word, count(*) AS count FROM w WHERE word <> ''
            GROUP BY word ORDER BY count DESC, word ASC LIMIT 5""",
        "numeric_profile": """
            SELECT round(avg(l_extendedprice), 6) AS mean,
                   round(stddev_pop(l_extendedprice), 6) AS stddev,
                   count(DISTINCT l_extendedprice)
                     AS num_distinct_values,
                   round(min(l_extendedprice), 6) AS min,
                   round(max(l_extendedprice), 6) AS max
            FROM lineitem""",
        "temporal_resolution": _temporal_resolution_sql(),
        "geohash_sketch": _geohash4_sql(),
        "string_stats": _STRING_STATS_SQL,
        "mad_value": _MAD_VALUE_SQL,
        "t_test_welch": _T_TEST_WELCH_SQL,
        "top_metrics": _TOP_METRICS_SQL,
        "value_count_missing": _VALUE_COUNT_MISSING_SQL,
        "date_range_agg": _DATE_RANGE_AGG_SQL,
        "rate_agg": _RATE_AGG_SQL,
        "geotile_grid": _GEOTILE_GRID_SQL,
        "geohash_grid": _geohash_grid_sql(),
        "sampler_facet": _sampler_sql(),
        "diversified_sampler": _diversified_sampler_sql(),
        "rrf_hybrid": _rrf_hybrid_sql(),
        "ann_int8_rescore": _ann_int8_sql(),
        "maxsim_rank_vectors": _maxsim_sql(),
        "ann_bit_rescore": _ann_bit_sql(),
        "linear_hybrid": _linear_hybrid_sql(),
        "query_string": _query_string_sql(),
        "simple_query_string": _simple_query_string_sql(),
        "span_or": _span_or_sql(["merge", "vector"]),
        "span_containing": _span_contain_sql("data", "join", "table", 5),
        "span_within": _span_contain_sql("table", "value", "scan", 6),
        "combined_fields": _combined_fields_sql(),
        "distance_feature": _DISTANCE_FEATURE_SQL,
        "terms_set": _terms_set_sql(),
        "percolate": _percolate_sql(),
        "intervals": _intervals_sql(),
        "pipeline_aggs3": _PIPELINE_AGGS3_SQL,
        "geo_bounding_box": _GEO_BBOX_SQL,
        "geo_polygon": _geo_polygon_sql(),
        "cumulative_cardinality": _CUMULATIVE_CARDINALITY_SQL,
        "matrix_stats": _MATRIX_STATS_SQL,
        "significant_text": _SIGNIFICANT_TEXT_SQL,
        "bigram_logprob": _BIGRAM_LOGPROB_SQL,
        "streaming_dedup":
            "SELECT DISTINCT md5(text) AS text_hash FROM documents",
        "streaming_window_agg": _STREAMING_WINDOW_SQL,
        "bpe_encode": _BPE_ENCODE_SQL,
        "wordpiece_encode":
            _BPE_ENCODE_SQL,  # same round-trip property
        "unigram_encode":
            _BPE_ENCODE_SQL,  # same round-trip property
        "rank_feature": _RANK_FEATURE_SQL,
        "pinned": _pinned_sql(_PINNED_IDS,
                              analyze_query(_PINNED_QUERY), 20),
        "frequent_item_sets": _FREQUENT_ITEM_SETS_SQL,
        "geo_line": _GEO_LINE_SQL,
        "categorize_text": _CATEGORIZE_TEXT_SQL,
        "change_point": _CHANGE_POINT_SQL,
        "scripted_metric": _SCRIPTED_METRIC_SQL,
        "has_child": _HAS_CHILD_SQL,
        "has_parent": _HAS_PARENT_SQL,
        "nested_query": _NESTED_QUERY_SQL,
        "nested_agg": _NESTED_AGG_SQL,
        "children_agg": _CHILDREN_AGG_SQL,
        "sparse_vector": _SPARSE_VECTOR_SQL,
        "runtime_global_facets": _RUNTIME_GLOBAL_SQL,
        "moving_percentiles": _MOVING_PERCENTILES_SQL,
        "bucket_correlation": _BUCKET_CORRELATION_SQL,
        "bucket_ks_test": _BUCKET_KS_SQL,
        "geo_shape_envelope": _GEO_SHAPE_SQL,
        "terms_lookup": _TERMS_LOOKUP_SQL,
        "search_template": _bm25_sql(["data", "join"], 50),
        "collapse_inner_hits": _collapse_inner_sql(["join"], 5, 2),
        "ip_range": _IP_RANGE_SQL,
        "ip_prefix": _IP_PREFIX_SQL,
        "index_sorted_topk": _INDEX_SORTED_SQL,
        "alias_search": _ALIAS_SEARCH_SQL,
        "mget": _MGET_SQL,
        "domain_mixture": _domain_mixture_sql(_MIXTURE),
    }
