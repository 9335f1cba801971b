"""auctus_spark — a PySpark-native rebuild of VIDA-NYU/auctus's search core.

The reference (Auctus, the NYU dataset-search engine) delegates its
inverted-index / BM25 layer to Elasticsearch 7.10.2 and implements the
analyzer chain, query semantics, profiling sketches and join/union
relational engine in Python.  This package internalizes the whole stack
as first-class Spark jobs:

- ``auctus_spark.analysis``   — the analyzer chain (tokenize/lowercase,
  identifier expansion) mirroring the reference's ES analyzer config
  (``coordinator/coordinator/elasticsearch.yml:6-15``) and identifier
  split (``lib_profiler/datamart_profiler/core.py:100-123``).
- ``auctus_spark.oracle``     — pure-Python reference scorer (Lucene BM25,
  k1=1.2 b=0.75, conjunctive AND, top-k=50) — the rank-identity contract.
- ``auctus_spark.corpus``     — deterministic synthetic source-code corpus
  ``(repo, path, commit, lang, content)`` per BASELINE.json input_hint.
- ``auctus_spark.index``      — posting-list construction, delta+varbyte
  compression, docID-range-bucketed merge, checkpointed resumable builds.
- ``auctus_spark.query``      — bucket-parallel BM25 top-k over the
  segment index (one AND scorer, block-skipping decode), Auctus-style
  search surface (filters, facets, fuzzy, pagination).
- ``auctus_spark.operators``  — Auctus parity operators (profiling
  sketches, join/union search + execution) and large-scale training-data
  ops (dedup, similarity search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
TOP_K_SIZE = 50  # reference: apiserver/apiserver/search/base.py:1
