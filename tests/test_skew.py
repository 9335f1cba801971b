"""Hot-term skew handling: a term in >30% of documents must never be
owned by a single task/segment — its postings split across fixed
docID-range buckets (the salted dimension) and build tasks."""

import numpy as np
from pyspark.sql import functions as F

from auctus_spark.corpus import generate_corpus
from auctus_spark.index.build import IndexBuilder


def test_hot_term_split(spark, tmp_path):
    n_docs = 2000
    pdf = generate_corpus(n_docs, min_tokens=30, max_tokens=120,
                          vocab_size=1000)
    out = str(tmp_path / "idx")
    b = IndexBuilder(spark, out, doc_bucket=256, chunk_docs=1 << 20,
                     term_buckets=8)
    b.build(spark.createDataFrame(pdf))

    segs = spark.read.parquet(b.paths.segments)
    ts = spark.read.parquet(b.paths.term_stats)
    hot = (ts.orderBy(F.desc("df")).limit(1).collect())[0]
    assert hot["df"] > 0.3 * n_docs  # corpus guarantees a hot term

    rows = segs.filter(F.col("term") == hot["term"]) \
        .select("bucket", "n_docs").collect()
    buckets = {r["bucket"] for r in rows}
    # split across all doc-range buckets...
    assert len(buckets) == (n_docs + 255) // 256
    # ...and no single segment holds more than one bucket's worth
    assert max(r["n_docs"] for r in rows) <= 256
    # per-segment postings sum back to the global df
    assert sum(r["n_docs"] for r in rows) == hot["df"]


def test_partials_disjoint_sorted(spark, tmp_path):
    """Partials of one (term, bucket) are disjoint sorted docID runs —
    the invariant the query-side concat relies on."""
    from auctus_spark.index.codec import decode_docs
    pdf = generate_corpus(600, min_tokens=20, max_tokens=80,
                          vocab_size=300)
    out = str(tmp_path / "idx2")
    b = IndexBuilder(spark, out, doc_bucket=128, chunk_docs=200,
                     term_buckets=4)
    b.build(spark.createDataFrame(pdf))
    segs = spark.read.parquet(b.paths.segments)
    hot = segs.groupBy("term").agg(F.sum("n_docs").alias("df")) \
        .orderBy(F.desc("df")).limit(1).collect()[0]["term"]
    rows = segs.filter(F.col("term") == hot) \
        .select("bucket", "doc_id_min", "doc_id_max", "docs_blob") \
        .collect()
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, parts in by_bucket.items():
        parts.sort(key=lambda r: r["doc_id_min"])
        prev_max = -1
        for p in parts:
            ids = decode_docs(p["docs_blob"])
            assert np.all(np.diff(ids) > 0)          # sorted unique
            assert ids[0] == p["doc_id_min"]
            assert ids[-1] == p["doc_id_max"]
            assert ids[0] > prev_max                 # disjoint runs
            prev_max = int(ids[-1])
