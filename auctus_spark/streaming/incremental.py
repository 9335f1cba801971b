"""Incremental index maintenance.

The reference profiles new datasets from an AMQP queue and upserts ES
documents (``profiler/profiler.py:238-434``).  The north rule needs
resumable BATCH; this module adds the streaming analogue on top of the
chunked builder:

- :func:`incremental_update` — batch: tokenize only the chunks whose
  lineage rows are missing (new doc ranges), then
  :meth:`IndexBuilder.finalize`: the new chunks' partials become ONE
  new segment generation, committed by the manifest, and their
  (term, df, cf) aggregate is folded into term_stats.  Older
  generations are not read or rewritten (until a tiered merge), so an
  append costs what it adds, not what the index holds.  New docs land
  in new docID ranges → new chunks → old chunks untouched (this is
  why chunking is by fixed docID range).
- :class:`StreamingIndexer` — Structured Streaming ``foreachBatch``
  wrapper: each micro-batch of new documents is appended through the
  same chunk path, giving exactly-once-per-chunk semantics via the
  lineage table (a replayed batch hits already-committed chunks and
  skips them).  Micro-batches do NOT need to align with chunk
  boundaries: the raw rows of the open TAIL chunk are retained in a
  ``tail_buffer`` parquet dir under the index, and an append that
  lands inside that chunk rebuilds it from (buffer ∪ new rows), less
  the docs compactions removed from it (``removed_docs``) — delete the
  chunk's partials+lineage, re-tokenize, lineage committed last.  The rebuilt chunk's lineage no longer matches its manifest
  record, so the next finalize rewrites the generation holding it
  without its old rows.  The buffer is bounded by ``chunk_docs`` raw
  rows (pick a smaller ``chunk_docs`` for fine-grained streams);
  appends into any OLDER committed chunk still fail loudly (their raw
  rows are gone — the exactly-once contract from round 2 stands).

Windowed/watermarked aggregates are demonstrated by
:func:`streaming_event_counts` over the events table (Auctus itself
has no streaming operators — SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import IndexBuilder, read_removed


def incremental_update(builder: IndexBuilder, new_docs: DataFrame) -> dict:
    """Append new documents (strictly increasing doc_id ranges) to an
    existing index: tokenize the missing chunks, then write them as
    one new generation with its term_stats, dictionary and stats
    (:meth:`IndexBuilder.finalize`).  Already-indexed chunks are
    skipped via lineage, so a rerun after a crash finishes the append
    exactly once."""
    builder.tokenize_chunks(new_docs, resume=True)
    return builder.finalize()


class StreamingIndexer:
    """foreachBatch sink: micro-batches of corpus rows → chunked index.

    Stats/segments finalize is deferred to :meth:`finalize` (cheap
    per-batch appends, one new generation per finalize) — the
    streaming/batch-duality pattern: the stream only ever runs
    stage 1.

    ``buffer_tail=True`` (default) enables sub-chunk appends: the open
    tail chunk's raw rows are kept in ``<index>/tail_buffer/chunk=N``
    and a batch landing inside that chunk rebuilds it from
    buffer ∪ new rows (crash order: merged buffer written to a tmp
    dir → buffer swapped → chunk partials+lineage dropped →
    re-tokenize; the buffer is therefore ALWAYS a superset of the open
    chunk).  A crash after the swap but before the drop leaves a
    committed chunk with a LARGER buffer — detected by comparing the
    buffer row count to the chunk's lineage ``n_docs`` and healed by a
    rebuild on the next append; a crash after the drop leaves the
    chunk absent from lineage with ALL its rows in the buffer, healed
    the same way.
    Replayed batches (foreachBatch redelivery) are detected by docID
    containment against the buffer and skipped; a batch that OVERLAPS
    the buffer only partially is corrupt input and fails loudly.
    Docs a compaction removed from a buffered chunk (``removed_docs``)
    are dropped from its buffer and from incoming batches, so a
    rebuild never brings them back.
    """

    def __init__(self, builder: IndexBuilder, buffer_tail: bool = True):
        self.builder = builder
        self.buffer_tail = buffer_tail
        self.batches_seen = 0

    def _tail_dir(self, chunk: int) -> str:
        import os
        return os.path.join(self.builder.paths.base, "tail_buffer",
                            f"chunk={chunk}")

    def _write_buffer(self, rows: DataFrame, chunk: int,
                      clean: bool = True) -> None:
        """Retain the open chunk's raw rows; with ``clean`` (default)
        also drop buffers of older (now sealed) chunks."""
        import glob
        import os
        import shutil
        tmp = self._tail_dir(chunk) + "_tmp"
        rows.write.mode("overwrite").parquet(tmp)
        final = self._tail_dir(chunk)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        if not clean:
            return
        for d in glob.glob(os.path.join(
                self.builder.paths.base, "tail_buffer", "chunk=*")):
            if not d.endswith(f"chunk={chunk}") and not d.endswith("_tmp"):
                shutil.rmtree(d, ignore_errors=True)

    def _drop_chunk(self, chunk: int) -> None:
        import os
        import shutil
        p = self.builder.paths
        shutil.rmtree(os.path.join(p.partials, f"chunk={chunk}"),
                      ignore_errors=True)
        shutil.rmtree(os.path.join(p.lineage, f"chunk={chunk}"),
                      ignore_errors=True)

    def _buffer_chunks(self) -> dict[int, str]:
        import glob
        import os
        out = {}
        for d in glob.glob(os.path.join(
                self.builder.paths.base, "tail_buffer", "chunk=*")):
            tag = os.path.basename(d).split("=", 1)[1]
            if tag.isdigit():
                out[int(tag)] = d
        return out

    def append(self, batch_df: DataFrame) -> None:
        """Append a micro-batch; chunk-boundary alignment NOT required
        (tail chunk rebuilt from its raw buffer).  Also the crash
        recovery path: a buffered chunk missing from lineage (crash
        between drop and re-tokenize) is rebuilt from its buffer even
        if this batch carries no rows for it."""
        b = self.builder
        buffers = self._buffer_chunks()
        batch_df = batch_df.select("doc_id", "content")
        removed = read_removed(b.paths.base)

        def live(rows: DataFrame, chunk: int) -> DataFrame:
            """``rows`` less the docs compactions removed from
            ``chunk``."""
            lo = chunk * b.chunk_docs
            dead = removed[(removed >= lo) & (removed < lo + b.chunk_docs)]
            if not dead.size:
                return rows
            import pandas as pd
            return rows.join(F.broadcast(b.spark.createDataFrame(
                pd.DataFrame({"doc_id": dead}))), "doc_id", "left_anti")

        for c in buffers:
            batch_df = live(batch_df, c)
        counts = b._chunk_counts(batch_df)
        done = b._lineage_rows()
        tail = max(done) if done else None
        overlap = sorted(c for c in counts if c in done)
        bad = [c for c in overlap if c != tail or c not in buffers]
        if bad:
            raise ValueError(
                f"appends land inside committed chunks {bad} whose raw "
                "rows are not retained (only the tail chunk built "
                "through this streaming path keeps a buffer) — new "
                "documents must use docIDs beyond the last committed "
                "chunk")
        work = batch_df
        rebuild = False
        for c, buf_dir in sorted(buffers.items()):
            old = live(b.spark.read.parquet(buf_dir).select("doc_id",
                                                            "content"), c)
            if c in done:
                # committed tail: replay vs clean-append vs corrupt.
                # ``stale`` detects a crash that swapped the merged
                # buffer in but died before dropping the chunk: the
                # buffer then holds MORE rows than the committed chunk
                # and is the source of truth.
                lo = c * b.chunk_docs
                in_chunk = batch_df.filter(
                    (F.col("doc_id") >= lo)
                    & (F.col("doc_id") < lo + b.chunk_docs))
                fresh = in_chunk.join(old, "doc_id", "left_anti")
                n_new = in_chunk.count()
                n_fresh = fresh.count()
                stale = old.count() > int(done[c]["n_docs"])
                if 0 < n_fresh < n_new:
                    raise ValueError(
                        f"append into chunk {c} overlaps "
                        f"{n_new - n_fresh} already-buffered docIDs "
                        f"but also carries {n_fresh} new ones — "
                        "neither a clean replay nor a clean append; "
                        "refusing")
                if n_fresh == 0 and not stale:
                    if n_new:       # full replay: drop those rows
                        work = work.filter(
                            (F.col("doc_id") < lo)
                            | (F.col("doc_id") >= lo + b.chunk_docs))
                    continue
                # rebuild tail from buffer ∪ new — crash-safe order
                # (class docstring): swap the MERGED buffer in FIRST,
                # so the buffer is always a superset of the open
                # chunk, THEN drop the chunk, then re-tokenize.
                if n_fresh:
                    self._write_buffer(old.unionByName(fresh), c,
                                       clean=False)
                buf = b.spark.read.parquet(
                    self._tail_dir(c)).select("doc_id", "content")
                work = (work.filter(
                            (F.col("doc_id") < lo)
                            | (F.col("doc_id") >= lo + b.chunk_docs))
                        .unionByName(buf))
                rebuild = True
                self._drop_chunk(c)
            else:
                # crash recovery: chunk dropped but never re-committed;
                # its rows live only in the buffer (replayed batch rows
                # may duplicate them — anti-join keeps one copy)
                work = work.unionByName(
                    old.join(work, "doc_id", "left_anti"))
        if not rebuild and b._chunk_counts(work) == {}:
            return
        # docID-ordered contract: range-partition + sort the merged
        # input (same recipe as IndexBuilder(presort=True))
        n_part = max(b.spark.sparkContext.defaultParallelism, 2)
        sorted_work = (work.repartitionByRange(n_part, "doc_id")
                       .sortWithinPartitions("doc_id"))
        b.tokenize_chunks(sorted_work, resume=True)
        # retain the (possibly new) tail chunk's raw rows
        done2 = b._lineage_rows()
        if done2:
            new_tail = max(done2)
            lo2 = new_tail * b.chunk_docs
            self._write_buffer(
                sorted_work.filter(F.col("doc_id") >= lo2), new_tail)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self.buffer_tail:
            self.append(batch_df)
        else:
            self.builder.tokenize_chunks(batch_df, resume=True)
        self.batches_seen += 1

    def attach(self, stream_df: DataFrame, checkpoint_dir: str):
        return (stream_df.writeStream
                .foreachBatch(self)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True))

    def finalize(self) -> dict:
        """Encode every chunk the stream committed since the last
        finalize as one generation (rebuilt tail chunks replace their
        old rows), then term_stats, dictionary and stats."""
        return self.builder.finalize()


def streaming_event_counts(spark: SparkSession, events_path: str,
                           schema, window: str = "5 minutes",
                           watermark: str = "10 minutes") -> DataFrame:
    """Watermarked windowed aggregation over an event stream — the
    standard late-data-tolerant rollup (counts + value sums per
    event_type per window)."""
    stream = (spark.readStream.format("parquet").schema(schema)
              .load(events_path))
    # parquet may carry TIMESTAMP_NTZ; watermarks need TIMESTAMP
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("value_sum")))
