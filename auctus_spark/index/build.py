"""Inverted-index build: tokenize → compressed partial segments →
JVM merge into term-partitioned segment generations.  Resumable per
docID-range chunk; appends write one new generation instead of
rewriting the index.

What Elasticsearch did for the reference (index documents into Lucene
shards, ``lib_core/datamart_core/common.py:451-467``) becomes two Spark
stages, shaped by one rule: ship COMPRESSED postings across every
boundary (the MapReduce local-indexing + merge construction):

1. **tokenize+encode** — one ``mapInArrow`` pass over the corpus.
   Per Arrow batch it tokenizes, counts term frequencies, and emits
   already-compressed PARTIAL SEGMENTS: one row per (term, doc-range
   bucket) with delta+varbyte blobs, per-block byte offsets and
   block-max metadata.  The Python→JVM return is ~100× smaller than
   raw (term, doc, tf) rows — this is what makes the stage scale with
   cores instead of drowning in Arrow serialization.  Lineage metrics
   (doc count, sha256 rollup) ride the SAME job via two Observations:
   one on the input scan (count/min/max/sha — pure JVM expressions, no
   per-row Python anywhere), one on the partials output (token totals
   from segment metadata).  Written per *chunk* (fixed docID range) →
   resumable: chunks with lineage rows are skipped.  The partials are
   a staging table: a chunk's are deleted once term_stats describes
   the generation that holds it, so each posting is stored once.
2. **merge** — pure JVM: the partials of the chunks that no live
   generation holds yet are repartitioned by ``term_bucket``
   (murmur3(term) % T) into ONE new generation,
   ``segments/gen=G/term_bucket=B``; the exchange is sized from the
   bytes it moves, and input that fits one partition is written by
   one task with no exchange.  No Python, no blob surgery: partials of one
   (term, bucket) are disjoint sorted docID runs, also across
   generations (chunks are disjoint docID ranges), so the query
   scorers concatenate them after decode.  Hot terms (df ~ 30% of
   corpus) are spread across doc buckets AND across stage-1 tasks —
   no single task ever owns a hot term (the salted-repartition
   requirement).

Generations (log-structured, after Lucene's TieredMergePolicy and
geometric partitioning): ``segments/_MANIFEST.json`` lists the live
generations and, per generation, its chunks with their lineage
fingerprints.  Spark's file listing skips ``_``-prefixed names, so
``spark.read.parquet(segments)`` still reads a healthy index.  The
manifest is written to a temporary name and renamed over the old one:
that rename is an append's only commit point.  A generation written
but never committed is swept by the next append.  When the live
generations exceed :data:`MAX_LIVE_GENERATIONS`, the smallest ones are
merged into one (segment rows in, segment rows out, so compaction's
masking survives).  A fresh build is one generation, gen 0.
``compact`` is one more writer of the manifest: it rewrites only the
generations that hold deleted docs into one new generation, and its
manifest rename (which also lists the ``removed_docs`` file it wrote)
is its only commit point; the derived tables then follow as for an
append.

The partial-row layout (blobs, block offsets, avgdl-free block
metadata, positions) is known to ``codec.py`` alone: the encode step
and compaction both write rows with ``codec.encode_groups``.

docID-ordering contract: scorers concatenate partials of one
(term, bucket) sorted by ``doc_id_min`` and rely on the runs being
DISJOINT.  That holds when corpus batches arrive docID-ascending and
task splits cover disjoint docID ranges (true for a corpus parquet
written in docID order).  The encoder VALIDATES per-batch ascending
order and fails loudly; for arbitrarily-ordered input pass
``presort=True`` to range-partition + sort by doc_id first (one
shuffle).  The query side additionally asserts run disjointness at
decode time (``query/bm25.py:_group_partials``).

Global stats discipline: N and avgdl come from the manifest's chunk
records (each chunk's lineage counts, less what compactions removed
from it), df/cf per term from segment metadata — global snapshots,
required for rank identity.  An append folds only its new chunks'
(term, df, cf) aggregate into term_stats.  term_stats is also the
index's one term dictionary: its files are written term-sorted per
``term_bucket``, so exact lookups prune by bucket and prefix cuts by
row-group term ranges (no separate dictionary table is written).  The
stats table carries the
manifest ``seq`` it describes and is written last; an engine refuses
an index whose stats lag its manifest (:class:`UnfinishedAppendError`).

Iceberg note: the sandbox has no Iceberg jars; tables are parquet
directories with the same layout.  Lineage rows live in an ordinary
table either way and are committed after chunk data (write data →
commit lineage last).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec

DEFAULT_DOC_BUCKET = 1 << 16      # docs per scoring bucket
DEFAULT_CHUNK_DOCS = 1 << 20      # docs per resumable build chunk
DEFAULT_TERM_BUCKETS = 64

# on-disk layout version: bumped when PARTIAL_SCHEMA / segment layout
# changes; readers and resumed builds fail loudly on stale indexes
# instead of misreading them.  v2: binary-packed block metadata,
# marker-row-free lineage.  v3: optional per-posting position streams
# (pos_blob/pos_off columns; empty when positions=False).  v4:
# segment generations under a manifest; stats carry the manifest seq.
# v5: compaction commits through the manifest, which lists the
# removed_docs files (a v4 index may hold a compaction marker or
# removed_docs files no manifest lists).
FORMAT_VERSION = 5

# Live generations past which the smallest ones are merged into one
# (Lucene TieredMergePolicy's segmentsPerTier default).
MAX_LIVE_GENERATIONS = 10

MANIFEST = "_MANIFEST.json"


class UnfinishedAppendError(RuntimeError):
    """The manifest commits a generation (an append's or a
    compaction's) whose term_stats and stats are not written yet:
    scoring its postings with the old N/df would silently mis-rank.
    Raised on every engine open until a rerun of the
    operation (:meth:`IndexBuilder.finalize` or :func:`compact`) writes
    them."""


def read_format(index_dir: str) -> int | None:
    """Layout version of an existing index dir (None if no marker —
    either empty dir or a pre-versioning build)."""
    p = os.path.join(index_dir, "_FORMAT")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def read_analyzer(index_dir: str) -> dict:
    """Analyzer config stamped at build time ({} for pre-analyzer
    indexes = stem-free).  Readers MUST analyze queries with the same
    chain the index was built with (ES stores this in the mapping)."""
    import json
    p = os.path.join(index_dir, "_ANALYZER")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def read_stats(index_dir: str) -> dict:
    """The one-row global stats table as a dict (``n_docs``, ``avgdl``
    and, on indexes that record it, ``total_tokens``): a driver-side
    pyarrow read, no Spark job.  Both writers (``finalize_stats`` and
    ``compact``) write it with pyarrow.  Raises FileNotFoundError when
    no stats row is written yet (a build that has not finished)."""
    import pyarrow.dataset as pads
    path = IndexPaths(index_dir).stats
    rows = pads.dataset(path, format="parquet").head(1).to_pylist()
    if not rows:
        raise FileNotFoundError(f"{path} holds no stats row: the build "
                                "of this index has not finished")
    return rows[0]


TERM_STATS_SEQ = "_SEQ"


def read_term_stats_seq(index_dir: str) -> int | None:
    """The manifest seq the term_stats table describes (None when the
    table is absent or was never completely written)."""
    return _table_seq(IndexPaths(index_dir).term_stats)


def _table_seq(table_dir: str) -> int | None:
    p = os.path.join(table_dir, TERM_STATS_SEQ)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def read_doc_buckets(index_dir: str) -> int | None:
    """How many doc buckets (``doc_id // doc_bucket`` values) the
    index's live chunks span: the ``doc_bucket`` recorded in
    ``_ANALYZER`` over the manifest's per-chunk docID ranges, read
    driver-side with no Spark job (chunks tokenized but never
    committed are not counted).  An upper bound when a chunk has docID
    gaps.  None when the index predates the record or commits no
    chunk."""
    width = read_analyzer(index_dir).get("doc_bucket")
    if not width:
        return None
    n, end = 0, -1
    for lo, hi in sorted((rec["doc_id_min"], rec["doc_id_max"])
                         for e in read_manifest(index_dir)["gens"].values()
                         for rec in e["chunks"].values()):
        lo, hi = max(lo // width, end + 1), hi // width
        if hi >= lo:
            n += hi - lo + 1
            end = hi
    return n or None


def read_manifest(index_dir: str) -> dict:
    """The live-generation manifest: ``{"seq": int, "gens": {gen:
    {"chunks": {chunk: record}, "bytes": int}}}`` with string keys
    (JSON).  A chunk record is its lineage fingerprint plus the docs
    and tokens compactions removed from it.  ``seq`` counts content
    changes (appends, compactions), not merges.  A manifest whose
    last content change added new chunks only also records them,
    ``"appended": {"seq": seq, "chunks": [chunk, ...]}``, so term_stats
    can be brought up to it by a fold.  Once a compaction has removed
    docs, ``"removed": [file, ...]`` lists the ``removed_docs`` files
    of the committed compactions (:func:`read_removed`).  An index with
    no committed generation reads as seq 0 with no generations."""
    p = os.path.join(IndexPaths(index_dir).segments, MANIFEST)
    if not os.path.exists(p):
        return {"seq": 0, "gens": {}}
    with open(p) as f:
        return json.load(f)


def _commit_manifest(seg_dir: str, manifest: dict) -> None:
    """Write ``manifest`` under a temporary name, then rename it over
    the live one: the commit point of an append, a merge and a
    compaction."""
    os.makedirs(seg_dir, exist_ok=True)
    tmp = os.path.join(seg_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(seg_dir, MANIFEST))


def _gen_dir(seg_dir: str, gen) -> str:
    return os.path.join(seg_dir, f"gen={gen}")


def read_segments(spark: SparkSession, index_dir: str,
                  gens=None) -> DataFrame:
    """The segment rows of the manifest's live generations (or of
    ``gens``): uncommitted generation dirs are never read."""
    seg = IndexPaths(index_dir).segments
    if gens is None:
        gens = read_manifest(index_dir)["gens"]
    return (spark.read.schema(SEGMENTS_SCHEMA).option("basePath", seg)
            .parquet(*[_gen_dir(seg, g) for g in sorted(gens, key=int)]))


def check_stats_current(index_dir: str, stats: dict) -> None:
    """Raise :class:`UnfinishedAppendError` when ``stats`` (the row
    :func:`read_stats` returns) describes an older manifest."""
    seq = read_manifest(index_dir)["seq"]
    if stats.get("seq") != seq:
        raise UnfinishedAppendError(
            f"index {index_dir} commits manifest seq {seq} but its "
            f"stats describe seq {stats.get('seq')}: an append or a "
            "compaction stopped before its term_stats and stats were "
            "written. Re-run it (or IndexBuilder.finalize()) "
            "to finish it.")


def manifest_stats(manifest: dict) -> tuple[int, int]:
    """(N, total tokens) of the live generations: each chunk's lineage
    counts less what compactions removed from it."""
    n = total = 0
    for entry in manifest["gens"].values():
        for rec in entry["chunks"].values():
            n += rec["n_docs"] - rec.get("removed_docs", 0)
            total += rec["total_tokens"] - rec.get("removed_tokens", 0)
    return n, total


def _fingerprint(lineage_row: dict) -> dict:
    """The lineage fields that identify a chunk's content: a chunk
    whose lineage row differs from its manifest record was rebuilt."""
    return {"n_docs": int(lineage_row["n_docs"]),
            "total_tokens": int(lineage_row["total_tokens"] or 0),
            "doc_id_min": int(lineage_row["doc_id_min"]),
            "doc_id_max": int(lineage_row["doc_id_max"]),
            "sha_rollup": str(int(lineage_row["sha_rollup"]))}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _exchange_partitions(spark: SparkSession, nbytes: int,
                         term_buckets: int) -> int:
    """Partitions of a segment-writing exchange: the on-disk bytes it
    moves over ``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
    at least 1 and at most ``4 * term_buckets`` (past that, each
    term_bucket almost surely has a task of its own)."""
    advisory = spark.sparkContext._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    return int(min(4 * term_buckets, max(1, -(-nbytes // advisory))))


def _write_generation(spark: SparkSession, rows: DataFrame, path: str,
                      nbytes: int, term_buckets: int, *,
                      exchange: bool = False) -> None:
    """Write segment rows carrying ``term_bucket`` as one generation,
    partitionBy(term_bucket), through an exchange on term_bucket sized
    from ``nbytes`` (:func:`_exchange_partitions`).  At one partition
    the rows are coalesced into the one writing task instead, with no
    exchange, unless ``exchange`` is set: rows computed by a costly
    stage (compaction's Python rewrite) keep the exchange, so that
    stage runs in the scan's tasks rather than in the writing task.
    Either way each bucket is one file at one partition.  The files
    are not term-sorted: the planned write sorts each task by
    term_bucket alone."""
    n = _exchange_partitions(spark, nbytes, term_buckets)
    if n == 1 and not exchange:
        rows = rows.coalesce(1)
    else:
        rows = rows.repartition(n, "term_bucket")
    rows.write.mode("overwrite").partitionBy("term_bucket").parquet(path)


# block metadata is packed little-endian binary, not list<long>:
# parquet + Tungsten handle flat binary far cheaper than nested lists
# (the merge shuffle moves every one of these rows).  Byte offsets
# within one partial's blob always fit int32 (a partial covers at most
# one doc bucket); block_last_doc keeps int64 for 10^12-scale docIDs.
PARTIAL_SCHEMA = (
    "term string, bucket long, n_docs long, tf_sum long, doc_id_min long, "
    "doc_id_max long, docs_blob binary, tfs_blob binary, dls_blob binary, "
    "docs_off binary, tfs_off binary, dls_off binary, "
    "block_max_tf binary, block_min_dl binary, "
    "block_last_doc binary, max_tf long, min_dl long, "
    "pos_blob binary, pos_off binary"
)

# Schemas of the library's own parquet reads, partition columns typed
# as Spark infers them from the directory names: a read without a
# schema runs a one-task schema-inference job.
SEGMENTS_SCHEMA = PARTIAL_SCHEMA + ", gen int, term_bucket int"
TERM_STATS_SCHEMA = "term string, df long, cf long, term_bucket int"


def read_term_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """The (term, df, cf) table, partitioned by ``term_bucket``."""
    return spark.read.schema(TERM_STATS_SCHEMA).parquet(
        IndexPaths(index_dir).term_stats)


def _sha_rollup_expr():
    """JVM-side sha256 lineage rollup: first 15 hex chars (60 bits) as
    decimal — summing 10^12 of them stays far inside decimal(38,0).
    The SAME expression is used at build time (input Observation) and
    in verify_lineage, and is hashlib-parity-tested in
    tests/test_resume.py."""
    return (F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 15),
                   16, 10).cast("decimal(38,0)"))


@dataclass
class IndexPaths:
    base: str

    @property
    def partials(self):
        # staging: a chunk's tokenize checkpoint, deleted once
        # term_stats describes the generation that holds the chunk
        return os.path.join(self.base, "partials")

    @property
    def lineage(self):
        return os.path.join(self.base, "lineage")

    @property
    def stats(self):
        return os.path.join(self.base, "stats")

    @property
    def term_stats(self):
        return os.path.join(self.base, "term_stats")

    @property
    def segments(self):
        return os.path.join(self.base, "segments")

    @property
    def removed(self):
        # docIDs physically removed by past compactions (liveness
        # record; grows with lifetime deletes, read driver-side)
        return os.path.join(self.base, "removed_docs")


ARROW_PARTIAL_SCHEMA = None  # built lazily (pyarrow import)


def _arrow_schema():
    import pyarrow as pa
    global ARROW_PARTIAL_SCHEMA
    if ARROW_PARTIAL_SCHEMA is None:
        ARROW_PARTIAL_SCHEMA = pa.schema([
            ("term", pa.string()),
            ("bucket", pa.int64()),
            ("n_docs", pa.int64()),
            ("tf_sum", pa.int64()),
            ("doc_id_min", pa.int64()),
            ("doc_id_max", pa.int64()),
            ("docs_blob", pa.binary()),
            ("tfs_blob", pa.binary()),
            ("dls_blob", pa.binary()),
            ("docs_off", pa.binary()),
            ("tfs_off", pa.binary()),
            ("dls_off", pa.binary()),
            ("block_max_tf", pa.binary()),
            ("block_min_dl", pa.binary()),
            ("block_last_doc", pa.binary()),
            ("max_tf", pa.int64()),
            ("min_dl", pa.int64()),
            ("pos_blob", pa.binary()),
            ("pos_off", pa.binary()),
        ])
    return ARROW_PARTIAL_SCHEMA


def _segment_cols() -> list[str]:
    """Columns of a segment row: the partial row plus term_bucket."""
    return list(_arrow_schema().names) + ["term_bucket"]


def _tokenize_arrow(content, stem: bool = False):
    """Tokenize a pa.StringArray: ascii_lower → RE2 split on
    ``[^a-z0-9_]+`` → dictionary_encode, all in Arrow C++ (no per-token
    Python objects).  Returns (codes: int32 ndarray, doc_local: int32
    ndarray, vocab: pa.StringArray) with empty split artifacts dropped.
    Matches ``analysis.tokenize`` — the shared index/query analyzer
    contract.

    ``stem=True``: Porter2 applied to the (small) per-batch VOCABULARY
    only — never per token occurrence — then codes are remapped through
    the merged stem classes (lru-cached across batches)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(content)
    toks = pc.split_pattern_regex(pc.ascii_lower(content), "[^a-z0-9_]+")
    flat = pc.list_flatten(toks)
    lens = np.diff(toks.offsets.to_numpy().astype(np.int64))
    enc = pc.dictionary_encode(flat)
    codes = enc.indices.to_numpy()          # int32 dictionary codes
    doc_local = np.repeat(np.arange(n, dtype=np.int32),
                          lens.astype(np.int32))
    vocab = enc.dictionary
    vocab_np = vocab.to_numpy(zero_copy_only=False)
    empty_code = np.nonzero(vocab_np == "")[0]
    if empty_code.size:
        keep = codes != empty_code[0]
        codes, doc_local = codes[keep], doc_local[keep]
    if stem:
        from ..stem import stem as _stem
        stemmed = np.array([_stem(w) for w in vocab_np.tolist()],
                           dtype=object)
        new_vocab, inv = np.unique(stemmed, return_inverse=True)
        codes = inv.astype(np.int32)[codes]
        vocab = pa.array(new_vocab.tolist(), type=pa.string())
    return codes, doc_local, vocab


def _encode_batch(doc_ids_all: np.ndarray, content, doc_bucket: int,
                  stem: bool = False, positions: bool = False):
    """One corpus slice → partial-segment RecordBatch.

    Everything stays in Arrow/numpy: tokenization is Arrow C++
    (ascii_lower → RE2 split → dictionary_encode), tf counting is one
    np.unique over packed uint32 keys, and every (term, bucket) group
    is encoded in one :func:`codec.encode_groups` call, which builds
    binary columns with from_buffers — no per-row Python anywhere
    (pandas→Arrow of millions of object rows was the build's largest
    non-scaling cost).  ``content`` is a pa.StringArray aligned with
    ``doc_ids_all``, which MUST be strictly ascending (validated by
    the caller).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n_batch = len(doc_ids_all)
    codes, doc_local, vocab_arr = _tokenize_arrow(content, stem=stem)
    dl_per_doc = np.bincount(doc_local, minlength=n_batch).astype(np.int64)
    if len(codes) == 0:
        return None

    # group order is dictionary (first-occurrence) order — groups only
    # need to be CONTIGUOUS with ascending docIDs (the JVM merge
    # re-sorts globally by term); batch rows arrive docID-ascending
    n_vocab = len(vocab_arr)
    if n_vocab * n_batch + n_batch < (1 << 32):
        key = (codes.astype(np.uint32) * np.uint32(n_batch)
               + doc_local.astype(np.uint32))
        skey, tfs = np.unique(key, return_counts=True)
        skey = skey.astype(np.int64)
    else:
        key = codes.astype(np.int64) * n_batch + doc_local
        skey, tfs = np.unique(key, return_counts=True)
    tcode = skey // n_batch
    dloc = skey % n_batch
    doc_ids = doc_ids_all[dloc].astype(np.int64)
    tfs = tfs.astype(np.int64)
    dls = dl_per_doc[dloc]
    buckets = doc_ids // doc_bucket

    pos_sorted = None
    if positions:
        # occurrence position within the (empty-filtered) token
        # sequence of its doc, then occurrences ordered to match the
        # posting order of np.unique (code, doc) — per-posting
        # ascending positions
        n_occ = len(doc_local)
        run_start = np.ones(n_occ, dtype=bool)
        run_start[1:] = doc_local[1:] != doc_local[:-1]
        run_firsts = np.nonzero(run_start)[0]
        run_id = np.cumsum(run_start) - 1
        pos_in_doc = (np.arange(n_occ, dtype=np.int64)
                      - run_firsts[run_id])
        order = np.lexsort((pos_in_doc, doc_local, codes))
        pos_sorted = pos_in_doc[order]

    new_group = np.ones(len(skey), dtype=bool)
    new_group[1:] = (tcode[1:] != tcode[:-1]) | (buckets[1:] != buckets[:-1])
    group_starts = np.nonzero(new_group)[0]
    cols = codec.encode_groups(doc_ids, tfs, dls, group_starts, pos_sorted)
    return pa.RecordBatch.from_arrays(
        [pc.take(vocab_arr, pa.array(tcode[group_starts])).cast(pa.string()),
         pa.array(buckets[group_starts], type=pa.int64()),
         *cols.values()], schema=_arrow_schema())


def _tokenize_encode_factory(doc_bucket: int,
                             max_batch_bytes: int | None = None,
                             stem: bool = False,
                             positions: bool = False):
    """mapInArrow body with byte-budgeted encode granularity.

    Incoming Arrow batches are SMALL (~8k rows, capped in
    tokenize_chunks so the JVM never buffers half-GB batches); the
    encoder ACCUMULATES them to ~``max_batch_bytes`` of content before
    encoding, so partial segments stay coarse (fragmented partials
    inflate the merge shuffle and the parquet write — the dominant
    fixed cost at high parallelism).  Oversized incoming batches are
    sliced down to the same budget, so peak memory stays flat in both
    directions.  Validates the docID-ordering contract per batch.
    """
    if max_batch_bytes is None:
        max_batch_bytes = int(os.environ.get(
            "AUCTUS_TOKENIZE_BATCH_BYTES", str(16 << 20)))

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        pend_ids: list[np.ndarray] = []
        pend_content: list = []
        pend_bytes = 0

        def flush():
            nonlocal pend_ids, pend_content, pend_bytes
            if not pend_ids:
                return None
            ids = pend_ids[0] if len(pend_ids) == 1 \
                else np.concatenate(pend_ids)
            content = pend_content[0] if len(pend_content) == 1 \
                else pa.concat_arrays(pend_content)
            pend_ids, pend_content, pend_bytes = [], [], 0
            return _encode_batch(ids, content, doc_bucket, stem=stem,
                                 positions=positions)

        ready = []

        def _consume_run(doc_ids, content):
            """Append one ascending docID run, flushing when it does
            not extend the pending one; the byte budget also flushes;
            oversized runs are sliced.

            With one-file-per-task scans (tokenize_chunks sets
            openCostInBytes huge) a task OWNS a disjoint docID range,
            so any ascending merge within the task is safe — including
            across in-file gaps of sparse docID corpora."""
            nonlocal pend_bytes
            if pend_ids and doc_ids[0] <= int(pend_ids[-1][-1]):
                segs = flush()
                if segs is not None:
                    ready.append(segs)
            nbytes = int(pc.sum(pc.binary_length(content)).as_py() or 0)
            if nbytes >= max_batch_bytes:
                segs = flush()
                if segs is not None:
                    ready.append(segs)
                sizes = pc.binary_length(content).to_numpy()
                csum = np.cumsum(sizes)
                bounds = np.searchsorted(
                    csum, np.arange(max_batch_bytes, int(csum[-1]),
                                    max_batch_bytes))
                nrun = len(doc_ids)
                cuts = sorted({0, *(int(b) + 1 for b in bounds), nrun})
                cuts = [c for c in cuts if c <= nrun]
                for lo, hi in zip(cuts[:-1], cuts[1:]):
                    segs = _encode_batch(
                        doc_ids[lo:hi], content.slice(lo, hi - lo),
                        doc_bucket, stem=stem, positions=positions)
                    if segs is not None:
                        ready.append(segs)
                return
            pend_ids.append(doc_ids)
            pend_content.append(content)
            pend_bytes += nbytes
            if pend_bytes >= max_batch_bytes:
                segs = flush()
                if segs is not None:
                    ready.append(segs)

        def _drain():
            out, ready[:] = list(ready), []
            return out

        last_id = None
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            all_ids = rb.column(
                rb.schema.get_field_index("doc_id")).to_numpy()
            all_content = rb.column(rb.schema.get_field_index("content"))
            if isinstance(all_content, pa.ChunkedArray):
                all_content = all_content.combine_chunks()
            diffs = np.diff(all_ids)
            # with one-file-per-task scans (openCostInBytes set in
            # tokenize_chunks) a task's rows are ascending by the
            # docID-ordered-input contract; ANY non-ascending step
            # means disordered input — fail loudly at build time
            # rather than corrupting the run layout
            if np.any(diffs <= 0) or (
                    last_id is not None and all_ids[0] <= last_id):
                raise ValueError(
                    "corpus batch is not strictly docID-ascending; the "
                    "index layout requires docID-ordered input — pass "
                    "IndexBuilder(..., presort=True) to range-partition "
                    "and sort by doc_id first")
            last_id = int(all_ids[-1])
            _consume_run(all_ids, all_content)
            for segs_out in _drain():
                yield segs_out
        segs = flush()
        if segs is not None:
            yield segs
    return run


def read_corpus_chunk(corpus: DataFrame, lo: int, hi: int) -> DataFrame:
    return corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))


class IndexBuilder:
    """Chunked, resumable index build over a code_files corpus.

    ``presort=True`` adds one repartitionByRange+sort on doc_id before
    stage 1 — required when the input is not already docID-ordered
    (the encoder fails loudly on unsorted batches either way).
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 doc_bucket: int = DEFAULT_DOC_BUCKET,
                 chunk_docs: int = DEFAULT_CHUNK_DOCS,
                 term_buckets: int = DEFAULT_TERM_BUCKETS,
                 presort: bool = False, stem: bool = False,
                 positions: bool = False):
        self.spark = spark
        self.paths = IndexPaths(out_dir)
        self.doc_bucket = doc_bucket
        self.chunk_docs = chunk_docs
        self.term_buckets = term_buckets
        self.presort = presort
        self.stem = stem
        self.positions = positions

    # ---------------- stage 1: tokenize+encode, chunked + resumable ---

    def _check_or_stamp_format(self) -> None:
        v = read_format(self.paths.base)
        if v is None:
            if os.path.exists(self.paths.lineage):
                raise ValueError(
                    f"index at {self.paths.base} predates layout "
                    f"versioning — wipe() and rebuild (current format "
                    f"v{FORMAT_VERSION})")
            # _ANALYZER first: _FORMAT marks a stamped index, so a
            # crash between the two writes leaves neither recorded
            os.makedirs(self.paths.base, exist_ok=True)
            with open(os.path.join(self.paths.base, "_ANALYZER"),
                      "w") as f:
                json.dump({"stem": self.stem,
                           "positions": self.positions,
                           "doc_bucket": self.doc_bucket}, f)
            with open(os.path.join(self.paths.base, "_FORMAT"), "w") as f:
                f.write(str(FORMAT_VERSION))
        elif v != FORMAT_VERSION:
            raise ValueError(
                f"index at {self.paths.base} has layout v{v}, this build "
                f"is v{FORMAT_VERSION} — wipe() and rebuild")
        else:
            az = read_analyzer(self.paths.base)
            if (az.get("stem", False) != self.stem
                    or az.get("positions", False) != self.positions):
                raise ValueError(
                    f"index at {self.paths.base} was built with "
                    f"stem={az.get('stem', False)}/positions="
                    f"{az.get('positions', False)} but this builder has "
                    f"stem={self.stem}/positions={self.positions} — "
                    "resumed chunks would mix layouts; wipe() and "
                    "rebuild")

    def _lineage_rows(self) -> dict[int, dict]:
        """chunk → lineage metrics, read driver-side (tiny table)."""
        try:
            import pyarrow.dataset as pads
            ds = pads.dataset(self.paths.lineage, format="parquet",
                              partitioning="hive")
            t = ds.to_table()
        except Exception:
            return {}
        out = {}
        for i in range(t.num_rows):
            row = {c: t[c][i].as_py() for c in t.column_names}
            out[int(row["chunk"])] = row
        return out

    def _chunk_counts(self, corpus: DataFrame) -> dict[int, dict]:
        """One doc_id-column aggregate: per-chunk (count, min, max).
        Drives the chunk loop (empty ranges are never scanned) and the
        resume overlap check."""
        rows = (corpus
                .groupBy(F.expr(f"doc_id div {self.chunk_docs}")
                         .alias("chunk"))
                .agg(F.count("*").alias("n_docs"),
                     F.min("doc_id").alias("lo"),
                     F.max("doc_id").alias("hi"))
                .collect())
        return {int(r["chunk"]): {"n_docs": int(r["n_docs"]),
                                  "lo": int(r["lo"]), "hi": int(r["hi"])}
                for r in rows}

    def tokenize_chunks(self, corpus: DataFrame, resume: bool = True
                        ) -> list[int]:
        """Run stage 1 for every non-empty chunk not in lineage;
        returns chunk ids built this call.  Lineage row committed LAST
        per chunk.  Raises if ``resume`` finds new rows inside an
        already-committed chunk (appends must land in new docID
        ranges — chunk-granular exactly-once)."""
        self._check_or_stamp_format()
        counts = self._chunk_counts(corpus)
        if not counts:
            return []
        done = self._lineage_rows() if resume else {}
        built = []
        # Cap the JVM->Python Arrow batch size for FAT content rows:
        # the session default (200k rows, tuned for thin posting rows)
        # would make each stage-1 task buffer ~0.5 GB per batch in JVM
        # direct memory — 32 concurrent tasks stall the whole stage on
        # allocation/GC.  ~8k rows ≈ 20 MB/batch; restored after.
        conf = self.spark.conf
        keys = {
            # fat content rows: cap JVM->Python Arrow batches (~20 MB)
            "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
            # ONE FILE PER TASK: bin-packing several parquet files into
            # a task reorders them by SIZE, so a task's row stream can
            # jump docID ranges (f16 then f19) — an encoded partial
            # would span a hole that f17 (possibly in another task)
            # fills, breaking the disjoint-run layout.  A huge open
            # cost disables packing; splits of one big file remain
            # contiguous row ranges.  docID-ordered input (the
            # documented contract) then means every task OWNS a
            # disjoint docID range.
            "spark.sql.files.openCostInBytes": str(1 << 40),
        }
        prev = {k: conf.get(k, None) for k in keys}
        for k, v in keys.items():
            conf.set(k, v)
        try:
            built = self._tokenize_loop(corpus, counts, done, built)
        finally:
            for k, v in prev.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
        return built

    def _tokenize_loop(self, corpus: DataFrame, counts: dict, done: dict,
                       built: list[int]) -> list[int]:
        if self.presort:
            n_part = max(self.spark.sparkContext.defaultParallelism, 2)
            corpus = (corpus.repartitionByRange(n_part, "doc_id")
                      .sortWithinPartitions("doc_id"))
        for chunk in sorted(counts):
            c = counts[chunk]
            if chunk in done:
                lin = done[chunk]
                if (c["n_docs"] != lin["n_docs"]
                        or c["lo"] != lin["doc_id_min"]
                        or c["hi"] != lin["doc_id_max"]):
                    raise ValueError(
                        f"chunk {chunk} is already committed with "
                        f"n_docs={lin['n_docs']} range=[{lin['doc_id_min']},"
                        f"{lin['doc_id_max']}] but the input now has "
                        f"n_docs={c['n_docs']} range=[{c['lo']},{c['hi']}] "
                        "— appends inside a committed chunk are not "
                        "applied; new documents must use docIDs beyond "
                        "the last committed chunk")
                continue
            lo = chunk * self.chunk_docs
            cslice = read_corpus_chunk(corpus, lo, lo + self.chunk_docs)
            inp = cslice.select("doc_id", "content")
            # lineage metrics ride along the write job itself
            # (Observation API) — no separate scan, no per-row Python:
            # count/min/max/sha256-rollup observed on the INPUT scan,
            # token totals on the partials output; the lineage row is
            # then committed LAST with a driver-side pyarrow write
            from pyspark.sql import Observation
            obs_in = Observation(f"lineage_in_{chunk}")
            inp = inp.observe(
                obs_in,
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("doc_id_min"),
                F.max("doc_id").alias("doc_id_max"),
                F.sum(_sha_rollup_expr()).cast("decimal(38,0)")
                .alias("sha_rollup"))
            partials = inp.mapInArrow(
                _tokenize_encode_factory(self.doc_bucket, stem=self.stem,
                                         positions=self.positions),
                schema=PARTIAL_SCHEMA)
            obs_out = Observation(f"lineage_out_{chunk}")
            observed = partials.observe(
                obs_out, F.sum("tf_sum").alias("total_tokens"))
            pdir = os.path.join(self.paths.partials, f"chunk={chunk}")
            observed.write.mode("overwrite").parquet(pdir)
            m = {**obs_in.get, **obs_out.get}
            self._write_lineage_row(chunk, m)
            built.append(chunk)
        return built

    def _write_lineage_row(self, chunk: int, m: dict) -> None:
        import decimal

        import pyarrow as pa
        import pyarrow.parquet as pq
        ldir = os.path.join(self.paths.lineage, f"chunk={chunk}")
        os.makedirs(ldir, exist_ok=True)
        tbl = pa.table({
            "n_docs": pa.array([int(m["n_docs"])], pa.int64()),
            "total_tokens": pa.array([int(m["total_tokens"] or 0)],
                                     pa.int64()),
            "doc_id_min": pa.array([int(m["doc_id_min"])], pa.int64()),
            "doc_id_max": pa.array([int(m["doc_id_max"])], pa.int64()),
            # NB: no 'chunk' column in the file — the hive-style
            # directory name carries it (duplicate would break reads)
            "sha_rollup": pa.array(
                [decimal.Decimal(int(m["sha_rollup"]))],
                pa.decimal128(38, 0)),
        })
        pq.write_table(tbl, os.path.join(ldir, "lineage.parquet"))

    def _read_partials(self, chunks) -> DataFrame:
        """The partial rows of ``chunks``, with their ``term_bucket``."""
        return (self.spark.read.schema(PARTIAL_SCHEMA + ", chunk int")
                .option("basePath", self.paths.partials)
                .parquet(*[os.path.join(self.paths.partials, f"chunk={c}")
                           for c in sorted(chunks, key=int)])
                .drop("chunk")
                .withColumn("term_bucket", F.pmod(
                    F.hash("term"), F.lit(self.term_buckets))))

    # ---------------- stage 2: merge into a new generation ------------

    def _plan(self) -> tuple[dict, dict]:
        """(manifest, chunks to encode): every lineage chunk that no
        live generation holds with the same lineage fingerprint — new
        chunks, and chunks rebuilt since (the streaming tail chunk)."""
        m = read_manifest(self.paths.base)
        live = {c: rec for e in m["gens"].values()
                for c, rec in e["chunks"].items()}
        todo = {}
        for c, row in self._lineage_rows().items():
            fp, rec = _fingerprint(row), live.get(str(c), {})
            if any(rec.get(k) != v for k, v in fp.items()):
                todo[str(c)] = fp
        return m, todo

    def _sweep_uncommitted(self, m: dict) -> None:
        """Remove generation dirs and ``removed_docs`` files the
        manifest does not list: written by an append, merge or
        compaction that stopped before its commit, or replaced by one
        that stopped after it.  A ``term_stats_next`` table is swapped
        in or removed (:func:`_settle_term_stats_next`)."""
        _settle_term_stats_next(self.paths, m["seq"])
        seg, rem = self.paths.segments, self.paths.removed
        for name in os.listdir(seg) if os.path.isdir(seg) else ():
            if name.startswith("gen=") and name[4:] not in m["gens"]:
                shutil.rmtree(os.path.join(seg, name), ignore_errors=True)
        for name in os.listdir(rem) if os.path.isdir(rem) else ():
            if name not in m.get("removed", ()):
                os.remove(os.path.join(rem, name))

    def encode_segments(self) -> None:
        """Encode the chunks no live generation holds as ONE new
        generation and commit it to the manifest; no Python.  New
        chunks are read from their partials, so an append moves only
        its own rows.  A generation holding a rebuilt chunk is
        rewritten into the new one without that chunk's old rows (rows
        never span chunks).  Then merges generations by tier."""
        m, todo = self._plan()
        self._sweep_uncommitted(m)
        if todo:
            stale = [g for g, e in m["gens"].items()
                     if not todo.keys().isdisjoint(e["chunks"])]
            rows = self._read_partials(todo).select(*_segment_cols())
            nbytes = sum(_dir_bytes(os.path.join(self.paths.partials,
                                                 f"chunk={c}"))
                         for c in todo)
            chunks = dict(todo)
            if stale:
                old = read_segments(self.spark, self.paths.base, stale)
                old = old.filter(~F.expr(
                    f"doc_id_min div {self.chunk_docs}").isin(
                        [int(c) for c in todo]))
                rows = rows.unionByName(old.select(*_segment_cols()))
                nbytes += sum(m["gens"][g]["bytes"] for g in stale)
                for g in stale:
                    chunks.update({c: rec for c, rec in
                                   m["gens"][g]["chunks"].items()
                                   if c not in todo})
            seq = m["seq"] + 1
            m = self._replace_generations(
                m, stale, rows, nbytes, chunks, seq,
                None if stale else {"seq": seq, "chunks": sorted(todo)})
        self._merge_tiers(m)

    def _replace_generations(self, m: dict, drop: list[str],
                             rows: DataFrame, nbytes: int, chunks: dict,
                             seq: int, appended: dict | None, *,
                             exchange: bool = False) -> dict:
        """Write ``rows`` as one new generation holding ``chunks`` in
        place of the generations ``drop`` (:func:`_write_generation`,
        with ``exchange``), commit the manifest with ``seq``,
        ``appended`` and ``m``'s removed-docs list (see
        :func:`read_manifest`), then delete the dropped dirs.  Returns
        the manifest."""
        seg = self.paths.segments
        gen = str(max(map(int, m["gens"]), default=-1) + 1)
        path = _gen_dir(seg, gen)
        _write_generation(self.spark, rows, path, nbytes,
                          self.term_buckets, exchange=exchange)
        gens = {g: e for g, e in m["gens"].items() if g not in drop}
        gens[gen] = {"chunks": chunks, "bytes": _dir_bytes(path)}
        new = {"seq": seq, "gens": gens}
        if appended is not None:
            new["appended"] = appended
        if m.get("removed"):
            new["removed"] = m["removed"]
        _commit_manifest(seg, new)
        for g in drop:
            shutil.rmtree(_gen_dir(seg, g), ignore_errors=True)
        return new

    def _merge_tiers(self, m: dict) -> None:
        """While more than :data:`MAX_LIVE_GENERATIONS` generations are
        live, merge the smallest ``MAX_LIVE_GENERATIONS`` (at least 2)
        into one.  A merge reads segment rows (compaction's masking
        survives) and keeps the content, so the manifest seq, its
        ``appended`` record and the derived tables stay as they are."""
        while len(m["gens"]) > MAX_LIVE_GENERATIONS:
            gens = m["gens"]
            small = sorted(gens, key=lambda g: (gens[g]["bytes"], int(g))
                           )[:max(2, MAX_LIVE_GENERATIONS)]
            m = self._replace_generations(
                m, small, read_segments(self.spark, self.paths.base,
                                        small).select(*_segment_cols()),
                sum(gens[g]["bytes"] for g in small),
                {c: rec for g in small
                 for c, rec in gens[g]["chunks"].items()}, m["seq"],
                m.get("appended"))

    # ---------------- stage 3: global statistics ----------------------

    def _stats_seq(self) -> int | None:
        try:
            return read_stats(self.paths.base).get("seq")
        except (OSError, ValueError):
            return None

    def finalize_stats(self) -> dict:
        """Global (N, avgdl) of the live generations, from the
        manifest's chunk records — driver-side, zero Spark jobs —
        written with the manifest seq.  That seq marks term_stats
        current, so this runs after it is written."""
        m = read_manifest(self.paths.base)
        n_docs, total = manifest_stats(m)
        return {"n_docs": n_docs,
                "avgdl": _write_stats(self.paths, n_docs, total, m["seq"])}

    def finalize_term_stats(self) -> None:
        """(term, df, cf) from the live segments' metadata — partials
        of one term cover disjoint docID ranges, so df = sum(n_docs) —
        then the committed chunks' partials are deleted
        (:meth:`_drop_committed_partials`) and stats written.  The
        segments are the source of truth after a compaction, and this
        is the recovery path of an append or a compaction that stopped
        after its commit."""
        _write_term_stats(self.spark, self.paths,
                          read_segments(self.spark, self.paths.base),
                          read_manifest(self.paths.base)["seq"])
        self._drop_committed_partials()
        self.finalize_stats()

    def finalize_term_stats_from_partials(self) -> None:
        """Bring term_stats and stats up to the manifest, deciding
        from on-disk state alone.  A term_stats already at the
        manifest seq is kept and only the stats are written: a fold
        stopped after its swap, or before it (the writers' sweep,
        :meth:`_sweep_uncommitted`, swaps in a ``term_stats_next``
        stamped with the manifest seq).
        When the manifest's last change appended new chunks
        (``m["appended"]``) onto the content term_stats describes
        (:func:`read_term_stats_seq` is one behind), those chunks'
        (term, df, cf) aggregate over their partials is folded into
        term_stats: df and cf are sums over disjoint docID ranges.  A
        fresh build has no term_stats and aggregates all its chunks
        the same way.  Any other lagging state (a rebuilt chunk
        replaced rows, or a compaction) is recomputed from the live
        segments.  Once term_stats is current, the committed chunks'
        partials are deleted (:meth:`_drop_committed_partials`), then
        stats are written last; on an index whose stats are current
        only the partials are dropped."""
        m = read_manifest(self.paths.base)
        if self._stats_seq() == m["seq"]:
            self._drop_committed_partials()
            return
        ts_seq = read_term_stats_seq(self.paths.base) or 0
        if ts_seq != m["seq"]:
            appended = m.get("appended", {})
            if appended.get("seq") != m["seq"] or ts_seq != m["seq"] - 1:
                self.finalize_term_stats()
                return
            base = None
            if ts_seq:
                base = read_term_stats(self.spark, self.paths.base)
            _write_term_stats(self.spark, self.paths,
                              self._read_partials(appended["chunks"]),
                              m["seq"], base=base)
        self._drop_committed_partials()
        self.finalize_stats()

    def _drop_committed_partials(self) -> None:
        """Delete the partials of every chunk that is not to be
        encoded (:meth:`_plan`): a live generation holds it with its
        current lineage fingerprint, or it has no lineage row (a
        tokenize that stopped before its lineage commit, which a rerun
        redoes).  Only :meth:`encode_segments` (the chunks to encode)
        and the term_stats fold (before term_stats is current) read
        partials, so this runs once term_stats describes the
        manifest."""
        part = self.paths.partials
        names = sorted(n for n in (os.listdir(part) if os.path.isdir(part)
                                   else ()) if n.startswith("chunk="))
        if not names:
            return
        _, todo = self._plan()
        for name in names:
            if name[6:] not in todo:
                shutil.rmtree(os.path.join(part, name))

    # ---------------- public API --------------------------------------

    def finalize(self) -> dict:
        """Make every tokenized chunk searchable: encode the chunks no
        live generation holds (:meth:`encode_segments`), then write
        term_stats and stats
        (:meth:`finalize_term_stats_from_partials`).  Finishes an
        append that stopped midway; a no-op on an up-to-date index.
        Returns the global (N, avgdl)."""
        self.encode_segments()
        self.finalize_term_stats_from_partials()
        row = read_stats(self.paths.base)
        return {"n_docs": int(row["n_docs"]), "avgdl": float(row["avgdl"])}

    def build(self, corpus: DataFrame, resume: bool = True) -> dict:
        """End-to-end build: tokenize every chunk (``resume=True``
        skips chunks with lineage), then :meth:`finalize`.  On an
        existing index this is an append of one new generation.

        (Round-8 audit note: a python-worker prewarm job overlapped
        with the chunk-count prep was measured and REJECTED — worker
        fork+imports are <1 s here and the cold-session gap is JVM
        JIT/codegen, which a warm-up job merely moves, not hides.)"""
        self.tokenize_chunks(corpus, resume=resume)
        return self.finalize()

    def verify_lineage(self, corpus: DataFrame) -> bool:
        """Per-row invariant (BASELINE.json): sha256(content) rollup of
        the corpus equals the rollup recorded in the index lineage."""
        corp = corpus.select(_sha_rollup_expr().alias("h"))
        expect = corp.agg(F.sum("h").alias("s"),
                          F.count("*").alias("n")).collect()[0]
        lin = self.spark.read.parquet(self.paths.lineage).agg(
            F.sum("sha_rollup").alias("s"),
            F.sum("n_docs").alias("n")).collect()[0]
        return (int(expect["s"]) == int(lin["s"])
                and int(expect["n"]) == int(lin["n"]))


def _write_stats(paths: IndexPaths, n_docs: int, total: int,
                 seq: int) -> float:
    """Write the one-row global stats table (read back by
    :func:`read_stats`) with pyarrow, stamped with the manifest ``seq``
    it describes; returns avgdl.  Column statistics and the embedded
    Arrow schema are left out: for one row of int64/float64 they only
    repeat the row and the parquet schema (about half the file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    avgdl = total / n_docs if n_docs else 0.0
    os.makedirs(paths.stats, exist_ok=True)
    pq.write_table(pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avgdl": pa.array([avgdl], pa.float64()),
        "total_tokens": pa.array([total], pa.int64()),
        "seq": pa.array([seq], pa.int64())}),
        os.path.join(paths.stats, "stats.parquet"),
        store_schema=False, write_statistics=False)
    return avgdl


def _write_term_stats(spark: SparkSession, paths: IndexPaths,
                      rows: DataFrame, seq: int,
                      base: DataFrame | None = None) -> None:
    """The (term, df, cf) table from partial rows carrying a
    ``term_bucket`` column — partials of one term cover disjoint docID
    ranges, so df = sum(n_docs) — stamped with the manifest ``seq`` it
    describes (:func:`read_term_stats_seq`).  With ``base`` (the
    existing term_stats), the rows' counts are added to it: the new
    table is written aside, stamped and swapped in.

    The table is also the sorted term dictionary: each task's rows are
    sorted by (term_bucket, term), an order the planned
    partitionBy(term_bucket) write keeps, so every file is term-sorted
    and its row groups' [min, max] term statistics let a prefix cut
    (``term LIKE 'pre%'``) skip the row groups outside the prefix (the
    sorted-term-index analog of Lucene's FST).  Exact lookups prune on
    ``term_bucket``; a prefix reads one sorted run per file, and a
    bucket has one file per task of the aggregate."""
    cols = rows.select("term", "term_bucket", F.col("n_docs").alias("df"),
                       F.col("tf_sum").alias("cf"))
    out = paths.term_stats
    if base is not None:
        cols = cols.unionByName(base.select("term", "term_bucket", "df",
                                            "cf"))
        out += "_next"
    (cols.groupBy("term", "term_bucket")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .sortWithinPartitions("term_bucket", "term")
        .write.mode("overwrite").partitionBy("term_bucket").parquet(out))
    with open(os.path.join(out, TERM_STATS_SEQ), "w") as f:
        f.write(str(seq))
    if base is not None:
        _settle_term_stats_next(paths, seq)


def _settle_term_stats_next(paths: IndexPaths, seq: int) -> None:
    """Finish or sweep a fold's ``term_stats_next`` table: stamped with
    the manifest ``seq``, it is the finished fold and replaces
    term_stats (``rmtree``, then ``rename``); any other is a fold that
    stopped before its stamp, or one the manifest has moved past, and
    is removed."""
    nxt = paths.term_stats + "_next"
    if not os.path.isdir(nxt):
        return
    if _table_seq(nxt) != seq:
        shutil.rmtree(nxt)
        return
    if os.path.isdir(paths.term_stats):
        shutil.rmtree(paths.term_stats)
    os.rename(nxt, paths.term_stats)


def export_metrics_tables(spark: SparkSession, index_dir: str,
                          prefix: str,
                          table_format: str | None = None) -> list[str]:
    """Publish the index's checkpoint metrics — per-chunk lineage
    (sha256 rollups, doc ranges, token counts) and global stats — as
    CATALOG tables, so build lineage is queryable alongside the corpus
    (the north rule's "checkpoints ... with lineage and metrics into
    Iceberg": with an Iceberg catalog configured —
    ``session.get_spark(iceberg_catalog=...)`` — pass
    ``prefix='cat.db.myindex'`` and ``table_format='iceberg'``; in
    catalogs without Iceberg jars the session's default table format
    applies).  Overwrites on re-export (a re-run republishes the
    current checkpoint state).  Returns the table names written."""
    paths = IndexPaths(index_dir)
    out = []
    for name, path in (("lineage", paths.lineage),
                       ("stats", paths.stats)):
        table = f"{prefix}_{name}"
        writer = (spark.read.parquet(path)
                  .write.mode("overwrite"))
        if table_format:
            writer = writer.format(table_format)
        writer.saveAsTable(table)
        out.append(table)
    return out


def wipe(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)


# ---------------------------------------------------------------------
# deletes / updates (Lucene-style tombstones)
# ---------------------------------------------------------------------

# Driver-side tombstone mask cap: every scorer and compaction read the
# deletes as one sorted numpy array, loaded with this size limit.  Past
# it neither an engine nor compact() opens the index, so deletes must
# be compacted (like Lucene forceMerge) before they reach the cap;
# past it, rebuild over the live corpus.
MAX_TOMBSTONE_MASK = 1 << 22


def delete_docs(spark: SparkSession, index_dir: str,
                doc_ids: list[int]) -> None:
    """Mark documents deleted.  Like Lucene, postings stay in place and
    global stats (N, df, avgdl) keep counting deleted docs until
    :func:`compact`; scorers mask tombstoned candidates.  An UPDATE is
    delete(old_id) + incremental append of the new version under a new
    docID (the reference re-profiles a dataset the same way: delete +
    reindex, common.py:delete_dataset_from_index)."""
    import pandas as pd
    paths = IndexPaths(index_dir)
    tomb = os.path.join(paths.base, "tombstones")
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": pd.Series(doc_ids, dtype="int64")}))
    df.write.mode("append").parquet(tomb)


def load_tombstones(spark: SparkSession, index_dir: str,
                    max_mask: int = MAX_TOMBSTONE_MASK):
    """Sorted numpy array of deleted docIDs ([] if none) — the mask
    of every scorer and of compaction (:func:`tombstoned`).  Capped at
    ``max_mask`` entries: beyond that the driver-side array stops
    being cheap to ship with each task (the cap fails loudly, never
    silently drops tombstones)."""
    tomb = os.path.join(IndexPaths(index_dir).base, "tombstones")
    if not os.path.exists(tomb):
        return np.array([], dtype=np.int64)
    rows = (spark.read.parquet(tomb).select("doc_id")
            .limit(max_mask + 1).collect())
    if len(rows) > max_mask:
        raise ValueError(
            f"more than {max_mask} tombstones: past the cap neither "
            "an engine nor compact() opens the index; compact deletes "
            "before they reach it, or rebuild over the live corpus")
    return np.unique(np.array([r["doc_id"] for r in rows],
                              dtype=np.int64))


def read_removed(index_dir: str) -> np.ndarray:
    """The docIDs committed compactions physically removed (the
    ``removed_docs`` liveness record), read driver-side from the files
    the manifest lists only — a file a compaction wrote before a crash
    that stopped its commit is never read; empty when no compaction
    removed any."""
    import pyarrow.dataset as pads
    files = read_manifest(index_dir).get("removed")
    if not files:
        return np.array([], dtype=np.int64)
    path = IndexPaths(index_dir).removed
    return pads.dataset([os.path.join(path, f) for f in files],
                        format="parquet").to_table(
        columns=["doc_id"])["doc_id"].to_numpy()


def tombstoned(ids: np.ndarray, tomb: np.ndarray) -> np.ndarray:
    """Boolean mask of the ``ids`` found in ``tomb``, the sorted array
    :func:`load_tombstones` returns."""
    if tomb.size == 0:
        return np.zeros(len(ids), dtype=bool)
    pos = np.minimum(np.searchsorted(tomb, ids), tomb.size - 1)
    return tomb[pos] == ids


# ---------------------------------------------------------------------
# compaction (Lucene's per-segment deletes, TieredMergePolicy's
# forceMergeDeletes): physically remove tombstoned postings from the
# generations that hold them, recompute global stats, clear
# tombstones.  After compaction the index answers queries
# bit-identically to a fresh build over the live corpus (same
# postings, same N/df/avgdl).
# ---------------------------------------------------------------------

def compact(spark: SparkSession, index_dir: str,
            term_buckets: int = DEFAULT_TERM_BUCKETS) -> dict:
    """Remove tombstoned documents physically.

    The deletes are the tombstones the manifest's removed-docs record
    (:func:`read_removed`) does not already hold, so a re-delete of a
    removed docID (idempotent-delete retry) and a rerun after the
    commit both remove nothing.  Pass 1 collects (deleted doc, dl)
    pairs from the live generations holding a chunk whose docID range
    contains a delete (to fix N/avgdl); pass 2 rewrites only the
    generations that hold a removed doc, tombstoned postings masked
    (positions preserved), into one new generation at manifest
    ``seq + 1``.  The removed docIDs are written to a new
    ``removed_docs`` file first; the manifest then lists it and
    records, per chunk, the docs and tokens removed from it (N and
    avgdl are computed from those records, so a later append keeps
    the removals).  That manifest rename is the only commit point: a
    crash before it leaves the index answering as before, and the
    generation and file it wrote are swept by the next writer.

    After the commit, the derived tail an append runs: term_stats,
    the committed chunks' partials dropped, then stats, then the
    tombstone dir is cleared.  A
    crash in that tail leaves an index engines refuse
    (:class:`UnfinishedAppendError`) until a rerun of ``compact`` or
    :meth:`IndexBuilder.finalize` finishes it.  The lineage table still
    describes the ORIGINAL ingest (sha rollup of what was indexed) —
    verify_lineage checks ingest integrity, not liveness."""
    v = read_format(index_dir)
    if v != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has layout "
            f"v{v if v is not None else '<unversioned>'}; compact() "
            f"rewrites v{FORMAT_VERSION} — rebuild the index")
    b = IndexBuilder(spark, index_dir, term_buckets=term_buckets)
    manifest = read_manifest(index_dir)
    b._sweep_uncommitted(manifest)
    tomb = np.setdiff1d(load_tombstones(spark, index_dir),
                        read_removed(index_dir))
    out = _remove_docs(b, manifest, tomb)
    b.finalize_term_stats_from_partials()
    shutil.rmtree(os.path.join(b.paths.base, "tombstones"),
                  ignore_errors=True)
    return out


def _remove_docs(b: IndexBuilder, manifest: dict, tomb: np.ndarray
                 ) -> dict:
    """The part of :func:`compact` up to its commit: find which of
    ``tomb`` the live generations hold, write them to a new
    ``removed_docs`` file, rewrite the generations holding one without
    them, and commit the manifest listing both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # chunk records sorted by docID range (chunks are disjoint), with
    # the generation holding each
    held = sorted(((rec["doc_id_min"], g, rec)
                   for g, e in manifest["gens"].items()
                   for rec in e["chunks"].values()), key=lambda t: t[0])
    rec_gen = [g for _, g, _ in held]
    recs = [rec for _, _, rec in held]
    rec_min = np.array([r["doc_id_min"] for r in recs], dtype=np.int64)
    rec_max = np.array([r["doc_id_max"] for r in recs], dtype=np.int64)

    def owner(ids: np.ndarray) -> np.ndarray:
        """Index into ``recs`` of the chunk whose docID range holds
        each of ``ids``, -1 when none does."""
        i = np.searchsorted(rec_min, ids, side="right") - 1
        hit = i >= 0
        hit[hit] = ids[hit] <= rec_max[i[hit]]
        return np.where(hit, i, -1)

    def gens_of(ids: np.ndarray) -> list[str]:
        own = owner(ids)
        return sorted({rec_gen[i] for i in own[own >= 0]}, key=int)

    nothing = {"removed_docs": 0, "removed_tokens": 0}
    candidates = gens_of(tomb)
    if not candidates:
        return nothing
    spark, paths = b.spark, b.paths
    positions = read_analyzer(paths.base).get("positions", False)
    lo, hi = int(tomb.min()), int(tomb.max())

    def dropped_dl(batches):
      import pandas as pd
      for pdf in batches:
        out_d, out_l = [], []
        for r in pdf.itertuples(index=False):
            ids = codec.decode_docs(r.docs_blob)
            hit = tombstoned(ids, tomb)
            if hit.any():
                dls = codec.decode_values(r.dls_blob)
                out_d.append(ids[hit])
                out_l.append(dls[hit])
        if not out_d:
            yield pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                                "dl": pd.Series([], dtype=np.int64)})
            continue
        yield pd.DataFrame({"doc_id": np.concatenate(out_d),
                            "dl": np.concatenate(out_l)})

    hit_segs = read_segments(spark, paths.base, candidates).filter(
        (F.col("doc_id_max") >= lo) & (F.col("doc_id_min") <= hi))
    # Collect the (doc, dl) pairs actually present in postings —
    # bounded by the tombstone cap, so driver-safe.
    dropped_rows = (hit_segs.select("docs_blob", "dls_blob")
                    .mapInPandas(dropped_dl, schema="doc_id long, dl long")
                    .groupBy("doc_id").agg(F.first("dl").alias("dl"))
                    .collect())
    found = np.array([r["doc_id"] for r in dropped_rows], dtype=np.int64)
    found_dl = np.array([r["dl"] for r in dropped_rows], dtype=np.int64)
    order = np.argsort(found)
    found, found_dl = found[order], found_dl[order]
    # Zero-token docs were counted in N at build but never appear in
    # postings.  The chunk records decide existence: a tombstone inside
    # a DENSE chunk range (n_docs == max-min+1) certainly existed.  Residual
    # (documented): an empty doc in a SPARSE docID range cannot be
    # distinguished from a never-existing docID without per-doc state,
    # and is not subtracted — sequential-ID ingest (the supported
    # pipeline, ids.sequential_index) always produces dense chunks.
    rec_dense = np.array([r["doc_id_max"] - r["doc_id_min"] + 1
                          == r["n_docs"] for r in recs] + [False])
    # owner -1 picks the appended False: outside every chunk
    existed_empty = rec_dense[owner(tomb)] & ~np.isin(tomb, found)
    newly = np.union1d(found, tomb[existed_empty])
    if not newly.size:
        return nothing

    def rewrite(batches):
        # rows holding a tombstoned posting are decoded one by one,
        # then every surviving one of the Arrow batch is re-encoded in
        # ONE codec call (the build's encoder, so the bytes equal a
        # fresh build's); untouched rows pass through as they are
        import pyarrow as pa
        for rb in batches:
            col = dict(zip(rb.schema.names, rb.columns))
            row_lo = col["doc_id_min"].to_numpy()
            row_hi = col["doc_id_max"].to_numpy()
            as_is = np.ones(rb.num_rows, dtype=bool)
            src, ids_l, tfs_l, dls_l, pos_l = [], [], [], [], []
            for i in np.nonzero((row_hi >= lo) & (row_lo <= hi))[0]:
                ids = codec.decode_docs(col["docs_blob"][i].as_py())
                keep = ~tombstoned(ids, tomb)
                if keep.all():
                    continue
                as_is[i] = False
                if not keep.any():
                    continue
                tfs = codec.decode_values(col["tfs_blob"][i].as_py())
                dls = codec.decode_values(col["dls_blob"][i].as_py())
                src.append(i)
                ids_l.append(ids[keep])
                tfs_l.append(tfs[keep])
                dls_l.append(dls[keep])
                if positions:
                    pos_l.append(codec.decode_positions(
                        col["pos_blob"][i].as_py(), tfs)[
                            np.repeat(keep, tfs)])
            yield rb if as_is.all() else rb.filter(pa.array(as_is))
            if not src:
                continue
            sizes = np.array([a.size for a in ids_l], dtype=np.int64)
            cols = codec.encode_groups(
                np.concatenate(ids_l), np.concatenate(tfs_l),
                np.concatenate(dls_l),
                np.concatenate([[0], np.cumsum(sizes)[:-1]]),
                np.concatenate(pos_l) if positions else None)
            take = pa.array(src, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [col["term"].take(take), col["bucket"].take(take),
                 *cols.values(), col["term_bucket"].take(take)],
                schema=rb.schema)

    # removed docs and tokens, recorded per chunk in the new manifest
    newly_dl = np.zeros(newly.size, dtype=np.int64)
    newly_dl[np.searchsorted(newly, found)] = found_dl
    own = owner(newly)
    docs_per = np.bincount(own, minlength=len(recs))
    toks_per = np.bincount(own, weights=newly_dl, minlength=len(recs))
    for i in np.nonzero(docs_per)[0]:
        rec = recs[i]
        rec["removed_docs"] = rec.get("removed_docs", 0) + int(docs_per[i])
        rec["removed_tokens"] = (rec.get("removed_tokens", 0)
                                 + int(toks_per[i]))
    seq = manifest["seq"] + 1
    name = f"r{seq:05d}.parquet"
    os.makedirs(paths.removed, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(newly, pa.int64())}),
                   os.path.join(paths.removed, name))
    touched = gens_of(newly)
    gens = manifest["gens"]
    b._replace_generations(
        {**manifest, "removed": manifest.get("removed", []) + [name]},
        touched,
        read_segments(spark, paths.base, touched)
        .select(*_segment_cols())
        .mapInArrow(rewrite, schema=PARTIAL_SCHEMA + ", term_bucket int"),
        sum(gens[g]["bytes"] for g in touched),
        {c: rec for g in touched for c, rec in gens[g]["chunks"].items()},
        seq, None, exchange=True)
    return {"removed_docs": int(newly.size),
            "removed_tokens": int(found_dl.sum())}
