"""BM25 top-k query engine over the segment index.

Internalizes what Auctus delegated to Elasticsearch: the conjunctive-AND
``multi_match`` keyword query (``apiserver/apiserver/search/__init__.py:
57-109``, ``operator: and``), BM25 scoring with ES 7.10.2 defaults, and
top-k=50 with deterministic (score desc, docID asc) ordering.

One physical strategy, the *bucket-parallel scorer*: segments are
co-partitioned by docID-range bucket (all terms' postings for one doc
range share a bucket id), so AND-intersection and scoring run per
bucket inside ``applyInPandas`` with numpy set-intersection, decoding
only the blocks that can hold a candidate.  Per-bucket top-k, then one
global ``ORDER BY ... LIMIT k`` merge.  No shuffle of posting rows at
all — only (bucket → k rows) survive.  The segment scan is pruned by
``term_bucket`` partition; the files are not term-sorted, so row-group
pruning does not apply.  :meth:`SearchEngine.search` (and its alias
``search_wand``), :func:`search_many`, :meth:`SearchEngine.explain` and
:func:`search_multi_index` all run the one AND kernel; the
pure-Python scorer of ``oracle.py`` is the reference they match.

Every BM25-scored family of the bucket-parallel path — AND, OR (with
``min_should_match``), synonym slots, phrase (exact, sloppy and
``phrase_prefix``) and multi-field (``most_fields``/``cross_fields``) —
is ONE module-level per-query kernel (``_and_kernel``, ``_or_kernel``,
``_slots_kernel``, ``_phrase_kernel``, ``_fields_kernel``) run by ONE
job helper, :func:`_bucket_job`: it owns the ``_spread_buckets`` +
``groupBy("bucket").applyInPandas`` site, groups a bucket's partials
once, and runs the kernel for every query of the batch over those
shared decodes.  A single-query method is a batch of one merged by
``TakeOrdered``; the batched functions (:func:`search_many` and
friends) merge with a per-``query_id`` window.  Both paths run the same
kernel, so they are bit-identical by construction.

The constant-score span family runs as kernels of the same job:
``_near_kernel`` (span_near, span_multi inside span_near, intervals),
``_span_first_kernel``, ``_contain_kernel`` (span_containing /
span_within) and ``_span_not_kernel``.  Every hit scores ``boost``, so
the job's (score desc, doc_id asc) merge is the doc_id order those
queries promise.  span_or needs no positions: it is the constant_score
union of postings that the prefix/wildcard/regexp rewrites use.

Fixed per-query cost: at small scale a warm query pays more for Spark
overhead than for scoring, so the bucket job keeps it down.
- Its input is ONE ``spark.sql`` text over the segments and
  term_stats views that an engine registers when it opens: term_bucket
  pruning, the term list, and the df column (a literal
  ``map(...)[term]`` from the driver stats map, or a broadcast join
  with the pruned term_stats scan).  Built with the DataFrame API, the
  same input cost one py4j round trip per column, literal and list
  element.  Only terms of the analyzer alphabet ``[a-z0-9_]+`` are
  quoted into the text, since no other string can be an index term.
- The bucket exchange has one partition per doc bucket, capped at 4x
  the default parallelism.  The engine reads the bucket count at open
  from the recorded ``doc_bucket`` and the lineage's chunk docID
  ranges.  Every empty task costs a Python worker round trip.
- With the driver stats map, an AND query with an unindexed term
  never becomes a job.

At ``perfbench`` shape (2048 files, 4 doc buckets, local[4]), a warm
hot-term ``search_wand`` made 94 py4j calls instead of 317 while its
plan was built, and ran 7 tasks instead of 19.

Global statistics discipline: N, avgdl, df are read from the stats
tables written at build finalize (pre-merge snapshot), never derived
from the pruned scan — required for rank identity with the oracle.
"""

from __future__ import annotations

import re
import uuid
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import B, K1, TOP_K_SIZE
from ..analysis import JVM_TOKEN_PATTERN, analyze_query
from ..index.build import IndexPaths, load_tombstones, tombstoned
from ..index import codec
from ..oracle import bm25_idf
from ..session import no_rows


_GRAM_N = 2

# the analyzer's token alphabet: no other string can be an index term,
# so only such terms are ever quoted into a query's SQL text
_INDEX_TERM = re.compile(JVM_TOKEN_PATTERN)


def _bucket_partitions(spark: SparkSession, doc_buckets: int | None
                       ) -> int:
    """Shuffle partitions of the bucket exchange: one per doc bucket,
    capped at 4x the default parallelism; 4x the default parallelism
    when the index does not record its doc-bucket count."""
    p = 4 * spark.sparkContext.defaultParallelism
    return min(p, doc_buckets) if doc_buckets else p


def _spread_buckets(df: DataFrame, partitions: int | None = None
                    ) -> DataFrame:
    """Numbered hash-repartition by doc ``bucket`` ahead of every
    ``groupBy("bucket").applyInPandas`` scorer, into ``partitions``
    (default 4x the default parallelism; the engines pass
    :func:`_bucket_partitions`).

    Without it the scorer's ENSURE_REQUIREMENTS exchange is subject to
    AQE partition coalescing: a query's pruned segment scan is a few
    MB, far below the advisory partition size, so AQE folds the
    post-shuffle partitions down to 1-3 and the python scoring — the
    expensive part of the job, whose cost is proportional to decoded
    postings, not shuffled bytes — runs on 1-3 cores (measured: hot
    3-term WAND query 1.09 s -> 0.63 s at 200k docs, identical rows).
    A repartition WITH an explicit partition count is not coalesced
    (user-specified).  The scorer's ClusteredDistribution requirement
    is satisfied by ANY hash partitioning on bucket, so no second
    exchange appears.

    Partitions beyond the bucket count only add empty tasks, and every
    task of the scoring stage costs a Python worker round trip whether
    or not it owns a group.  Over-partitioning does not keep buckets
    apart either: murmur3 picks the slots, and at 16 partitions buckets
    0 and 1 of a 4-bucket index share partition 13 (at 4 partitions
    they share partition 1).  So the engines use one partition per doc
    bucket, capped at 4x parallelism for large indexes, where each task
    owns several groups.  ``repartitionById`` would place each bucket
    alone, but its partitioning does not satisfy the scorer's
    distribution, so a second exchange follows it."""
    if partitions is None:
        partitions = _bucket_partitions(df.sparkSession, None)
    return df.repartition(partitions, "bucket")


def _term_bigrams(s: str) -> set[str]:
    """Distinct character bigrams of a term (no padding)."""
    return {s[i:i + _GRAM_N] for i in range(len(s) - _GRAM_N + 1)}


def _wildcard_regex(pattern: str) -> str:
    """Anchored whole-term regex of an ES wildcard pattern: ``*`` = any
    run, ``?`` = one char, every other char literal."""
    return "^" + "".join(".*" if c == "*" else "." if c == "?"
                         else re.escape(c) for c in pattern) + "$"


def _regex_literal_runs(pattern: str) -> list[str] | None:
    """Conservative literal-run extraction from a regex — the
    trigram-index trick (Cox, "Regular Expression Matching with a
    Trigram Index", 2012): every maximal run of plain literal
    characters that MUST appear in any matching string.  Walks the
    pattern left to right; a literal char extends the current run; a
    metacharacter ends it, and a quantifier (``? * {``) additionally
    drops the run's last char (it may vanish or repeat — ``+`` keeps
    the char, required at least once, but still breaks adjacency).
    Character classes ``[...]`` contribute nothing.  Patterns with
    alternation, groups, anchors or escapes (``| ( ) ^ $ \\``) return
    ``None`` — a group under a quantifier would make its interior
    runs optional and a branch of an alternation is never required,
    so the caller must use the full-dictionary-scan path (semantics
    identical, just unpruned)."""
    if any(c in pattern for c in "|()^$\\"):
        return None
    runs: list[str] = []
    cur: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "[":
            # a ']' immediately after '[' (or '[^') is a literal
            # class member, not the terminator (regex grammar)
            j = i + 1
            if j < n and pattern[j] == "^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1
            j = pattern.find("]", j)
            if j < 0:
                return None  # malformed — let the regex engine error
            if cur:
                runs.append("".join(cur))
                cur = []
            i = j + 1
            # a quantifier after the class quantifies the class only
            if i < n and pattern[i] in "?*+{":
                if pattern[i] == "{":
                    j = pattern.find("}", i)
                    if j < 0:
                        return None
                    i = j + 1
                else:
                    i += 1
        elif c in "?*{":
            if cur:
                cur.pop()  # the quantified char may vanish/repeat
            if cur:
                runs.append("".join(cur))
            cur = []
            if c == "{":
                j = pattern.find("}", i)
                if j < 0:
                    return None
                i = j + 1
            else:
                i += 1
        elif c == "+":
            # char required (>=1) but repetition breaks adjacency to
            # whatever follows: close the run INCLUDING the char
            if cur:
                runs.append("".join(cur))
            cur = []
            i += 1
        elif c == ".":
            if cur:
                runs.append("".join(cur))
            cur = []
            i += 1
        else:
            cur.append(c)
            i += 1
    if cur:
        runs.append("".join(cur))
    return runs


def _gram_threshold(q: str, fuzziness: int) -> int:
    """q-gram count-filter lower bound (Gravano et al., VLDB'01,
    distinct-set form, transposition-aware): any term within
    ``fuzziness`` Damerau edits of ``q`` shares at least
    ``|bigrams(q)| - fuzziness*(n+1)`` distinct bigrams with it — an
    insert/delete/substitute destroys at most ``n`` gram occurrences,
    and an adjacent transposition spans ``n+1`` gram windows, so the
    per-edit worst case is ``n+1`` distinct grams removed from the
    intersection.  A bound <= 0 means the filter is vacuous (short
    query) and the caller must fall back to the length-window-only
    scan."""
    return len(_term_bigrams(q)) - fuzziness * (_GRAM_N + 1)


def damerau_levenshtein(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner):
    insert / delete / substitute / adjacent-transposition each cost
    1, and later edits may touch transposed characters — the
    definition DuckDB's ``damerau_levenshtein`` shares, which is what
    lets every fuzzy oracle stay pure SQL.  ES/Lucene parity note:
    transpositions count 1 edit exactly as ES ``fuzziness`` with
    default ``transpositions: true``; Lucene's automaton implements
    the RESTRICTED variant (OSA), which differs only when another
    edit lands inside a transposed pair (e.g. 'ca'→'abc': 2 here,
    3 under OSA) — documented divergence, oracle-shared on our side.

    Scalar reference used by tests and the python oracle; the engine
    hot path is the vectorized :func:`_damerau_distances`."""
    m, n = len(a), len(b)
    inf = m + n
    d = [[inf] * (n + 2) for _ in range(m + 2)]
    for i in range(m + 1):
        d[i + 1][1] = i
    for j in range(n + 1):
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, m + 1):
        db = 0
        for j in range(1, n + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1))
        da[a[i - 1]] = i
    return d[m + 1][n + 1]


def _damerau_distances(q: str, terms) -> "np.ndarray":
    """Vectorized (across candidate terms) unrestricted Damerau-
    Levenshtein against a fixed query ``q`` — the same Lowrance-
    Wagner DP as :func:`damerau_levenshtein`, with every cell update
    a numpy op over ALL candidates at once (no per-row python in the
    executor path; the i,j loops are bounded by the query length ×
    the longest candidate, and the length window has already capped
    that at |q|+fuzziness)."""
    term_list = ["" if t is None else str(t) for t in terms]
    n_rows = len(term_list)
    m = len(q)
    out = np.empty(n_rows, dtype=np.int32)
    if n_rows == 0:
        return out
    lens = np.fromiter((len(t) for t in term_list), dtype=np.int64,
                       count=n_rows)
    lmax = int(lens.max()) if n_rows else 0
    if m == 0 or lmax == 0:
        return np.maximum(lens, m).astype(np.int32)
    # char-code matrix, 0-padded (0 never equals a real char)
    codes = np.zeros((n_rows, lmax), dtype=np.int64)
    for r, t in enumerate(term_list):
        if t:
            codes[r, :len(t)] = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32)
    qc = np.frombuffer(q.encode("utf-32-le"),
                       dtype=np.uint32).astype(np.int64)
    inf = m + lmax
    dp = np.full((n_rows, m + 2, lmax + 2), inf, dtype=np.int32)
    dp[:, 1, 1:] = np.arange(lmax + 1, dtype=np.int32)
    dp[:, 1:, 1] = np.arange(m + 1, dtype=np.int32)
    rows = np.arange(n_rows)
    da: dict[int, int] = {}
    for i in range(1, m + 1):
        eq = codes == qc[i - 1]                       # [N, L]
        # l (last matching column j' < j in this row of the DP)
        jpos = np.where(eq, np.arange(1, lmax + 1)[None, :], 0)
        lastm = np.maximum.accumulate(jpos, axis=1)
        l_prev = np.concatenate(
            [np.zeros((n_rows, 1), dtype=np.int64), lastm[:, :-1]],
            axis=1)
        # k (last query index whose char equals the candidate char)
        kmat = np.zeros((n_rows, lmax), dtype=np.int64)
        for code, i0 in da.items():
            kmat[codes == code] = i0
        cost = (~eq).astype(np.int32)
        for j in range(1, lmax + 1):
            kj = kmat[:, j - 1]
            lj = l_prev[:, j - 1]
            trans = (dp[rows, kj, lj]
                     + (i - kj - 1) + 1 + (j - lj - 1)).astype(np.int32)
            dp[:, i + 1, j + 1] = np.minimum.reduce([
                dp[:, i, j] + cost[:, j - 1],
                dp[:, i + 1, j] + 1,
                dp[:, i, j + 1] + 1,
                trans])
        da[int(qc[i - 1])] = i
    return dp[rows, m + 1, lens + 1].astype(np.int32)


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 term_buckets: int = 64):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.term_buckets = term_buckets
        from ..index.build import FORMAT_VERSION, read_format
        v = read_format(index_dir)
        if v != FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir} has layout "
                f"v{v if v is not None else '<unversioned>'}; this "
                f"engine reads v{FORMAT_VERSION} — rebuild the index")
        from ..index.build import (check_stats_current, read_analyzer,
                                   read_doc_buckets, read_segments,
                                   read_stats)
        self.stem = bool(read_analyzer(index_dir).get("stem", False))
        row = read_stats(index_dir)
        check_stats_current(index_dir, row)
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        self.total_tokens = int(row.get("total_tokens", 0))
        self._vocab_size_cache: int | None = None
        # open the index tables ONCE: spark.read.parquet lists files and
        # reads footers eagerly, so per-query re-opens dominate latency;
        # partition/row-group pruning still applies per query.  Only
        # the manifest's live generations are read.
        self._seg_df = read_segments(spark, index_dir)
        self._ts_df = spark.read.parquet(self.paths.term_stats)
        # ... and name them ONCE: a query's input plan is one spark.sql
        # text over these views (one py4j call instead of one per
        # column, literal and list element).  Names are unique per
        # engine, so a reopened index never rebinds an older engine's
        # snapshot.
        tag = uuid.uuid4().hex
        self._seg_view = f"auctus_segments_{tag}"
        self._ts_view = f"auctus_term_stats_{tag}"
        self._seg_df.createOrReplaceTempView(self._seg_view)
        self._ts_df.createOrReplaceTempView(self._ts_view)
        self._bucket_parts = _bucket_partitions(
            spark, read_doc_buckets(index_dir))
        # Lucene-style deletes: tombstoned docIDs are masked at query
        # time; global stats keep counting them until a rebuild.  The
        # sorted numpy mask is size-capped (build.MAX_TOMBSTONE_MASK)
        # and rides into each task's closure, never into the plan.
        self.tombstones = load_tombstones(spark, index_dir)
        self._gram_df_cache: DataFrame | None = None
        self._dict_df_cache: DataFrame | None = None
        # driver-side (term -> df) map, loaded lazily from the
        # term_stats table when it is small enough (size-capped): turns
        # the per-query stats lookup from a Spark scan job into a dict
        # probe — False = table too big, use the scan path
        self._stats_map_cache: dict[str, int] | bool | None = None

    def _stats_map(self) -> dict[str, int] | None:
        """term → df dict, or None when the term_stats table exceeds
        the byte cap (at real scale the dictionary does not fit a
        driver; the partition-pruned scan path is used instead).  One
        pyarrow read per engine instance — the same snapshot
        discipline as the eagerly-opened ``_ts_df``; queries are then
        pure driver dict probes with zero extra Spark jobs."""
        if self._stats_map_cache is None:
            import os as _os
            cap = int(_os.environ.get(
                "AUCTUS_TERM_STATS_CACHE_MB", "64")) << 20
            try:
                total = 0
                for root, _, files in _os.walk(self.paths.term_stats):
                    total += sum(
                        _os.path.getsize(_os.path.join(root, f))
                        for f in files)
                if total > cap:
                    self._stats_map_cache = False
                else:
                    import pyarrow.dataset as pads
                    t = pads.dataset(
                        self.paths.term_stats, format="parquet",
                        partitioning="hive").to_table(
                            columns=["term", "df"])
                    self._stats_map_cache = dict(zip(
                        t["term"].to_pylist(),
                        (int(x) for x in t["df"].to_pylist())))
            except Exception:
                self._stats_map_cache = False
        return self._stats_map_cache or None

    @property
    def gram_index(self) -> DataFrame:
        """Lazily-built, executor-cached (term, gram) bigram inverted
        index over the term dictionary — the scale-clean analog of
        Lucene's per-segment FST automaton intersection for multi-term
        queries.  Fuzzy and wildcard expansion pre-filter candidates
        through this table, so the expensive comparator (levenshtein /
        anchored regex) runs on a gram-bounded candidate set instead
        of every dictionary term.  Derived purely from the engine's
        own term_stats snapshot (``_ts_df``), so it can never disagree
        with the dictionary it prunes; one build per engine instance,
        reused across queries from executor memory (long-lived search
        services amortize it exactly as ES amortizes its FSTs)."""
        if self._gram_df_cache is None:
            grams = F.when(
                F.length("term") >= _GRAM_N,
                F.array_distinct(F.expr(
                    f"transform(sequence(1, length(term) - {_GRAM_N - 1}),"
                    f" i -> substring(term, i, {_GRAM_N}))"))
            ).otherwise(F.array().cast("array<string>"))
            self._gram_df_cache = (
                self._ts_df.select("term",
                                   F.explode(grams).alias("gram"))
                .persist())
        return self._gram_df_cache

    @property
    def term_dict(self) -> DataFrame:
        """Sorted secondary term dictionary (build.write_term_dict):
        (term, term_bucket, df) range-partitioned + sorted by term,
        so a prefix/leading-literal predicate is a RANGE scan — only
        the row groups whose [min,max] term range intersects the
        prefix are read (Lucene FST term-index analog; the hash
        ``term_bucket`` layout of the segments cannot prune these).
        Falls back to the term_stats scan when the dir is missing or
        lacks _SUCCESS (older index / mid-crash) — same rows, no
        range pruning."""
        if self._dict_df_cache is None:
            import os
            p = self.paths.term_dict
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                self._dict_df_cache = self.spark.read.parquet(p)
            else:
                self._dict_df_cache = self._ts_df.select(
                    "term", "term_bucket", "df")
        return self._dict_df_cache

    # ------------------------------------------------------------------
    def _term_buckets_for(self, terms: list[str]) -> dict[str, int]:
        """term → term_bucket via the pure-Python clone of Spark's
        murmur3 string hash (spark_hash.py, verified against F.hash) —
        partition pruning with zero driver-side Spark jobs."""
        from ..index.spark_hash import term_bucket
        return {t: term_bucket(t, self.term_buckets) for t in terms}

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """df per term from the global stats table: driver dict probe
        when the dictionary fits the size cap (no Spark job at all),
        partition-pruned scan otherwise."""
        if not terms:
            return {}
        m = self._stats_map()
        if m is not None:
            return {t: m[t] for t in terms if t in m}
        return {r["term"]: int(r["df"])
                for r in self._ts_for(terms).collect()}

    @staticmethod
    def _index_terms(terms) -> list[str]:
        """``terms`` deduplicated, keeping only strings of the analyzer
        alphabet: no other string can be an index term, so dropping
        one changes no result, and the kept ones are quoted into SQL
        text without escaping."""
        return [t for t in dict.fromkeys(terms)
                if _INDEX_TERM.fullmatch(t)]

    def _term_filter(self, terms: list[str]) -> str:
        """SQL predicate selecting the rows of ``terms`` (from
        :meth:`_index_terms`) in a term-bucketed table: term_bucket
        partition pruning plus the term list; ``false`` for none."""
        if not terms:
            return "false"
        tb = sorted(set(self._term_buckets_for(terms).values()))
        quoted = ", ".join(f"'{t}'" for t in terms)
        return (f"term_bucket IN ({', '.join(map(str, tb))}) "
                f"AND term IN ({quoted})")

    def _ts_for(self, terms: list[str]) -> DataFrame:
        """(term, df) rows for the query terms — broadcast side of the
        single-job query plan (partition-pruned scan, no collect)."""
        return self.spark.sql(
            f"SELECT term, df FROM {self._ts_view} "
            f"WHERE {self._term_filter(self._index_terms(terms))}")

    def _segments_for(self, terms: list[str],
                      cols: list[str] | None = None) -> DataFrame:
        """The query terms' partial-segment rows (``cols``, default
        all), term_bucket-pruned: one SQL text over the engine's
        segments view."""
        return self.spark.sql(
            f"SELECT {', '.join(cols) if cols else '*'} "
            f"FROM {self._seg_view} "
            f"WHERE {self._term_filter(self._index_terms(terms))}")

    def _empty(self) -> DataFrame:
        return no_rows(self.spark, _TOPK_SCHEMA)

    # ---------------- prefix query (multi-term rewrite) ---------------
    def search_prefix(self, prefix: str, k: int = TOP_K_SIZE,
                      boost: float = 1.0) -> DataFrame:
        """ES ``prefix`` query with its default multi-term rewrite,
        ``constant_score``: every doc containing ANY index term that
        starts with ``prefix`` scores exactly ``boost`` (no per-term
        weighting — ES builds one bit-set over the expanded term set).
        Ties (i.e. everything) order by doc_id asc, ES's internal-
        doc-order analog.

        Matching runs against INDEX terms (post-analysis: lowercased,
        stemmed if the index stems); the prefix itself is lowercased.
        Plan note: candidate terms resolve on the SORTED term
        dictionary (:attr:`term_dict`) where ``startswith`` is a
        range scan over only the matching row groups; the segment
        scan is then term_bucket-pruned + ``isin`` on the resolved
        terms.  Above ``_MAX_TERM_ISIN`` expansions it falls back to
        the full-scan ``StartsWith`` predicate path (semantically
        identical — an isin list that long bloats the plan more than
        the scan costs); postings of matching terms are decoded in
        Arrow batches, then one distinct + TakeOrdered."""
        p = prefix.lower().strip()
        if not p:
            return self._empty()
        terms = [r["term"] for r in
                 (self.term_dict.filter(F.col("term").startswith(p))
                  .select("term").collect())]
        return self._constant_score_expansion(
            terms, F.col("term").startswith(p), k, boost)

    # terms collected from a dictionary cut above this count fall back
    # to the predicate path (an isin literal list this long would
    # bloat the plan more than the full scan costs)
    _MAX_TERM_ISIN = 4096

    def search_wildcard(self, pattern: str, k: int = TOP_K_SIZE,
                        boost: float = 1.0) -> DataFrame:
        """ES ``wildcard`` query (``*`` = any run, ``?`` = one char),
        constant_score rewrite like :meth:`search_prefix`.  The
        pattern anchors both ends (whole-term match, ES semantics);
        regex metacharacters in the pattern are escaped.

        Dictionary cut: a LEADING literal resolves candidates on the
        sorted term dictionary (:attr:`term_dict`) — ``startswith``
        is a range scan over only the matching row groups (the FST
        term-index analog).  With no leading literal, every literal
        run of >= 2 chars must appear as a substring of a matching
        term, so all its bigrams must be in the term's gram set —
        candidates resolve against :attr:`gram_index` (the FST-
        intersection analog).  Either way the anchored regex is the
        final confirm and the SEGMENT scan is ``term_bucket``-pruned
        + ``isin`` on the resolved terms instead of running the regex
        over every posting row.  Patterns with no usable literal
        (``*``, ``?x``) keep the full-scan predicate path — the
        documented fallback, semantically identical."""
        p = pattern.lower().strip()
        if not p:
            return self._empty()
        rx = _wildcard_regex(p)
        runs = [r for r in re.split(r"[*?]", p) if len(r) >= _GRAM_N]
        req = sorted({g for r in runs for g in _term_bigrams(r)})
        lead = re.split(r"[*?]", p, maxsplit=1)[0]
        if not req and not lead:
            return self._constant_score_terms(
                F.col("term").rlike(rx), k, boost)
        if lead:
            cand = self.term_dict.filter(F.col("term").startswith(lead))
        else:
            cand = (self.gram_index
                    .filter(F.col("gram").isin(req))
                    .groupBy("term")
                    .agg(F.count("*").alias("ng"))
                    .filter(F.col("ng") >= len(req))
                    .select("term"))
        terms = [r["term"]
                 for r in (cand.filter(F.col("term").rlike(rx))
                           .select("term").collect())]
        return self._constant_score_expansion(
            terms, F.col("term").rlike(rx), k, boost)

    def search_regexp(self, pattern: str, k: int = TOP_K_SIZE,
                      boost: float = 1.0) -> DataFrame:
        """ES ``regexp`` query: whole-term anchored regular expression
        over the index term dictionary, constant_score rewrite like
        :meth:`search_prefix` (ES default rewrite for multi-term
        queries).  Matching runs against INDEX terms (post-analysis);
        like ES, the pattern is NOT analyzed — it is matched verbatim
        (callers should lowercase it to match this index's analyzer).

        Syntax note: evaluated by Spark's ``rlike`` (Java regex).  ES
        uses Lucene's own regex dialect; for the shared operator set
        (literals, ``. ? + * {m,n} [...]``) the semantics coincide,
        and that subset is also the one the dictionary cut
        understands.  Documented divergence: Lucene extras (``~ @ # &
        <>``) are not supported.

        Dictionary cut (same shape as :meth:`search_wildcard`): a
        plain-literal pattern prefix resolves candidates on the
        sorted term dictionary (:attr:`term_dict`) as a range scan;
        otherwise required literal runs extracted with
        :func:`_regex_literal_runs` contribute mandatory bigrams
        resolved against :attr:`gram_index` (the FST-intersection
        analog); the anchored regex is the final confirm — so the
        segment scan is term_bucket-pruned + ``isin`` on the resolved
        terms.  Patterns the extractor cannot prune (alternation/
        groups/no literal run) take the full-scan ``rlike`` predicate
        path — semantically identical."""
        p = pattern.strip()
        if not p:
            return self._empty()
        rx = "^(?:" + p + ")$"
        runs = _regex_literal_runs(p)
        # longest plain-literal prefix of the pattern (minus a final
        # quantified char) → startswith cut on the dictionary
        m = re.match(r"[a-z0-9_]+", p)
        lead = m.group(0) if m else ""
        if lead and len(lead) < len(p) and p[len(lead)] in "?*{":
            lead = lead[:-1]
        if runs is None or (not lead
                            and not any(len(r) >= _GRAM_N for r in runs)):
            return self._constant_score_terms(
                F.col("term").rlike(rx), k, boost)
        req = sorted({g for r in runs for g in _term_bigrams(r)})
        if lead:
            cand = self.term_dict.filter(F.col("term").startswith(lead))
        elif req:
            cand = (self.gram_index
                    .filter(F.col("gram").isin(req))
                    .groupBy("term")
                    .agg(F.count("*").alias("ng"))
                    .filter(F.col("ng") >= len(req))
                    .select("term"))
        else:
            cand = self._ts_df.select("term")
        terms = [r["term"]
                 for r in (cand.filter(F.col("term").rlike(rx))
                           .select("term").collect())]
        return self._constant_score_expansion(
            terms, F.col("term").rlike(rx), k, boost)

    def _constant_score_expansion(self, terms: list[str], fallback,
                                  k: int, boost: float) -> DataFrame:
        """The multi-term tail of prefix/wildcard/regexp/span_or: no
        terms → empty; above ``_MAX_TERM_ISIN`` terms the ``fallback``
        predicate (semantically identical) replaces the isin list;
        otherwise the segment scan is term_bucket-pruned + ``isin``."""
        if not terms:
            return self._empty()
        if len(terms) > self._MAX_TERM_ISIN:
            return self._constant_score_terms(fallback, k, boost)
        tb = self._term_buckets_for(terms)
        pred = (F.col("term_bucket").isin(list(set(tb.values())))
                & F.col("term").isin(terms))
        return self._constant_score_terms(pred, k, boost)

    def _constant_score_terms(self, term_pred, k: int, boost: float
                              ) -> DataFrame:
        """Shared constant_score multi-term rewrite: docs containing
        ANY term matching ``term_pred`` score exactly ``boost``."""
        segs = (self._seg_df
                .filter(term_pred)
                .select("docs_blob", "doc_id_min", "doc_id_max"))
        tomb = self.tombstones

        def decode(batches):
            for pdf in batches:
                outs = []
                for r in pdf.itertuples(index=False):
                    ids = _mask_tombstones(
                        codec.decode_docs(r.docs_blob), tomb)
                    if ids.size:
                        outs.append(ids)
                yield pd.DataFrame({
                    "doc_id": (np.concatenate(outs) if outs
                               else np.array([], dtype=np.int64))})
        docs = segs.mapInPandas(decode, schema="doc_id long")
        return (docs.distinct()
                .orderBy(F.asc("doc_id")).limit(k)
                .select("doc_id",
                        F.lit(float(boost)).alias("score")))

    def _flat_postings(self, terms: list[str],
                       docs: np.ndarray) -> DataFrame:
        """(term, doc_id, tf, dl) of the query terms' postings of the
        sorted docIDs ``docs``, tombstones masked — the explain
        surface's input.  Only rows whose docID range meets ``docs``
        are read, and only their blocks that can hold one are decoded
        (``codec.postings_for``)."""
        segs = (self._segments_for(terms, self._SEG_COLS)
                .filter(self._doc_range_pred(docs.tolist())))
        want = docs[~tombstoned(docs, self.tombstones)]

        def decode(batches):
            for pdf in batches:
                outs = []
                for r in pdf.to_dict("records"):
                    doc_ids, tfs, dls = codec.postings_for(r, want)
                    keep = np.isin(doc_ids, want)
                    if keep.any():
                        outs.append(pd.DataFrame(
                            {"term": r["term"], "doc_id": doc_ids[keep],
                             "tf": tfs[keep], "dl": dls[keep]}))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return segs.mapInPandas(decode, schema="term string, doc_id long, "
                                               "tf long, dl long")

    # ---------------- explain (ES _explain analog) --------------------
    def explain(self, query: str, k: int = 10) -> DataFrame:
        """Flattened ES/Lucene explain: one row per (top-k doc, query
        term) with every scoring factor — tf, dl, df, idf, the BM25
        tf-norm, and the term's contribution — plus the doc's final
        score.  The debugging surface for rank diffs: ES ``_explain``
        returns the same numbers as a nested tree
        (:meth:`explain_doc` builds that shape)."""
        schema = ("doc_id long, score double, term string, tf long, "
                  "dl long, df long, idf double, tf_norm double, "
                  "contribution double")
        terms = analyze_query(query, stem=self.stem)
        stats = self.term_stats(terms)
        if not terms or any(t not in stats for t in terms):
            return no_rows(self.spark, schema)  # AND: no hits
        # the k hits first: their docIDs bound the posting decode
        top = self.search(query, k).toPandas()
        if top.empty:
            return no_rows(self.spark, schema)
        factors = F.broadcast(self.spark.createDataFrame(
            pd.DataFrame({"term": terms,
                          "df": [stats[t] for t in terms],
                          "idf": [bm25_idf(self.n_docs, stats[t])
                                  for t in terms]})))
        tf_norm = (F.col("tf") /
                   (F.col("tf") + F.lit(K1) *
                    (F.lit(1.0 - B) +
                     F.lit(B) * F.col("dl") / F.lit(self.avgdl))))
        docs = np.sort(top["doc_id"].to_numpy(dtype=np.int64))
        return (self._flat_postings(terms, docs)
                .join(F.broadcast(self.spark.createDataFrame(
                    top, "doc_id long, score double")), "doc_id")
                .join(factors, "term")
                .withColumn("tf_norm", tf_norm)
                .withColumn("contribution",
                            F.col("idf") * F.col("tf_norm"))
                .select("doc_id", "score", "term", "tf", "dl", "df",
                        "idf", "tf_norm", "contribution")
                .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("term")))

    def explain_doc(self, query: str, doc_id: int) -> dict | None:
        """ES ``_explain``-shaped tree for ONE document (matched or
        not): ``{value, description, details}`` nesting with the
        Lucene BM25 breakdown per term.  Returns None when the doc
        matches no query term (conjunctive semantics: any missing
        term zeroes the doc — reported via ``matched``)."""
        terms = analyze_query(query, stem=self.stem)
        if not terms:
            return None
        stats = self.term_stats(terms)
        rows = (self._flat_postings([t for t in terms if t in stats],
                                    np.array([doc_id], dtype=np.int64))
                .collect() if stats else [])
        per_term = {r["term"]: r for r in rows}
        if not per_term:
            return None
        details = []
        total = 0.0
        for t in terms:
            r = per_term.get(t)
            if r is None:
                continue
            df_t = stats[t]
            idf_t = bm25_idf(self.n_docs, df_t)
            tfn = _tf_norm(float(r["tf"]), float(r["dl"]), self.avgdl)
            contrib = idf_t * tfn
            total += contrib
            details.append({
                "value": contrib,
                "description": (f"weight({t} in {doc_id}) "
                                "[BM25Similarity], result of:"),
                "details": [
                    {"value": idf_t,
                     "description": (f"idf, computed as ln(1 + (N - n "
                                     f"+ 0.5) / (n + 0.5)) from n={df_t}, "
                                     f"N={self.n_docs}"),
                     "details": []},
                    {"value": tfn,
                     "description": (f"tf, computed as freq / (freq + "
                                     f"k1 * (1 - b + b * dl / avgdl)) "
                                     f"from freq={int(r['tf'])}, "
                                     f"k1={K1}, b={B}, dl={int(r['dl'])}, "
                                     f"avgdl={self.avgdl}"),
                     "details": []},
                ]})
        matched = len(details) == len(terms)
        return {"value": total if matched else 0.0,
                "matched": matched,
                "description": ("sum of:" if matched else
                                "conjunctive AND not satisfied "
                                "(missing terms); sum would be:"),
                "details": details}

    # ---------------- bucket-parallel block-max scorers ----------------
    #
    # Segments are co-partitioned by docID-range bucket, so scoring is
    # an applyInPandas per bucket with NO shuffle of posting rows; only
    # per-bucket top-k survives into the global TakeOrdered merge.
    # A term may have several PARTIAL segments per bucket (disjoint
    # sorted docID runs from different build tasks); scorers merge them
    # after decode.  Per-block byte offsets + per-block delta resets
    # mean only blocks that can contain candidates are decoded
    # (Lucene-style skipping); a partial's (max_tf, min_dl) give
    # avgdl-independent score upper bounds for MaxScore pruning.  The
    # per-block (block_max_tf, block_min_dl) stay in the index but no
    # kernel reads them, so the bucket exchange does not carry them.

    _SEG_COLS = ["bucket", "term", "n_docs", "doc_id_min", "doc_id_max",
                 "docs_blob", "tfs_blob", "dls_blob", "docs_off",
                 "tfs_off", "dls_off", "max_tf", "min_dl",
                 "block_last_doc"]

    def search(self, query: str, k: int = TOP_K_SIZE) -> DataFrame:
        """Conjunctive AND top-k with posting skipping: intersect
        rarest-first — only the smallest term's partials are fully
        decoded; larger lists decode candidate-containing blocks only
        (:func:`_and_kernel`, run as a batch of one)."""
        terms = analyze_query(query, stem=self.stem)
        return self._and_job({"": terms} if terms else {}, k)

    def search_wand(self, query: str, k: int = TOP_K_SIZE) -> DataFrame:
        """Alias of :meth:`search`."""
        return self.search(query, k)

    def _and_job(self, qterms: dict, k: int, batched: bool = False
                 ) -> DataFrame:
        """AND family over ``{query_id: terms}``.  Single-job plan:
        global df rides in as a literal-map projection (driver stats
        map) or a broadcast join with term_stats at scale; idf is
        computed inside the kernel (same python math.log on the same
        doubles -> bit-identical to the oracle).  AND semantics make a
        globally-missing term produce zero hits through the per-bucket
        term check."""
        m = self._stats_map()
        if m is not None:
            # a query with an unindexed term has no hits: it leaves the
            # batch here, and with no query left no job runs at all
            qterms = {qid: ts for qid, ts in qterms.items()
                      if all(t in m for t in ts)}
        terms = list(dict.fromkeys(t for ts in qterms.values() for t in ts))
        kernel = partial(_and_kernel, n_docs=self.n_docs,
                         avgdl=self.avgdl, tomb=self.tombstones)
        return _bucket_job(self.spark, self._df_segments(terms), kernel,
                           qterms, k, "df", batched,
                           partitions=self._bucket_parts)

    def _df_segments(self, terms: list[str]) -> DataFrame | None:
        """The query terms' partials with their global df attached —
        the input of the AND and OR jobs, as one SQL text — or None
        when no term can match.  With the driver stats map the df
        values are folded in as a LITERAL map lookup, a pure
        projection with no term_stats scan and no join (measured: WAND
        mean latency 0.73s → 0.55s at 200k docs), and a term missing
        from the map has no postings to select.  When the dictionary
        exceeds the driver cache cap the df rides a broadcast join
        with the pruned term_stats scan."""
        terms = self._index_terms(terms)
        m = self._stats_map()
        if m is not None:
            terms = [t for t in terms if t in m]
        if not terms:
            return None
        cols = ", ".join(self._SEG_COLS)
        pred = self._term_filter(terms)
        if m is not None:
            dfs = ", ".join(f"'{t}', {int(m[t])}L" for t in terms)
            return self.spark.sql(
                f"SELECT {cols}, map({dfs})[term] AS df "
                f"FROM {self._seg_view} WHERE {pred}")
        return self.spark.sql(
            f"SELECT /*+ BROADCAST(ts) */ s.*, ts.df "
            f"FROM (SELECT {cols} FROM {self._seg_view} WHERE {pred}) s "
            f"JOIN (SELECT term, df FROM {self._ts_view} WHERE {pred}) ts "
            f"ON s.term = ts.term")

    def search_synonyms(self, query: str, synonyms: dict,
                        k: int = TOP_K_SIZE) -> DataFrame:
        """Conjunctive search with search-time synonym expansion on the
        SEGMENT-INDEX path — the reference applies ``synonym_graph`` on
        every search (coordinator/elasticsearch.yml:16-24,
        docker/synonyms.txt), and this engine is the declared scale
        path, so synonym queries must not fall back to the index-free
        DataFrame plan.  Lucene SynonymQuery semantics per slot: the
        alternatives act as ONE pseudo-term with tf = sum of member
        tfs and df = max of member GLOBAL dfs; AND across slots;
        contributions summed in slot order (bit-exact with
        ``oracle.search_synonyms``).

        Single-job plan: slot df is a GLOBAL statistic, but a bucket's
        rows only carry terms present in that bucket — so the slot max
        is computed on the broadcast side (term_stats scan → slot
        aggregate → joined back onto the segments) instead of a
        driver-side collect.  Posting rows never shuffle; only
        (bucket → k rows) survive into the global TakeOrdered merge.
        """
        from ..oracle import _analyze_slots
        slots = _analyze_slots(query, synonyms, stem=self.stem)
        return self._slots_job({"": slots} if slots else {}, k)

    def search_fuzzy(self, term: str, k: int = TOP_K_SIZE,
                     fuzziness: int = 1, max_expansions: int = 50,
                     prefix_length: int = 0) -> DataFrame:
        """ES ``fuzzy`` full-text query on the segment index: expand
        the term over the index dictionary to terms within
        ``fuzziness`` Damerau-Levenshtein edits (transposition = 1
        edit, matching ES ``transpositions: true`` and the DuckDB
        oracle's ``damerau_levenshtein``; see
        :func:`damerau_levenshtein` for the unrestricted-vs-OSA
        note), keep the best
        ``max_expansions`` by (distance asc, df desc, term asc), and
        score the expansion set as ONE SynonymQuery slot (tf = sum of
        member tfs, df = max of member dfs) — a simplified
        blended-freqs rewrite, engine ≡ oracle bit-exact.
        ``prefix_length`` requires that many leading chars to match
        exactly (the ES knob that keeps the dictionary scan cheap).

        Dictionary cut (the Levenshtein-automaton analog): candidates
        are pre-filtered through :attr:`gram_index` with the q-gram
        count bound (:func:`_gram_threshold` — never drops a term
        within ``fuzziness`` edits) plus a ±``fuzziness`` length
        window, so the levenshtein comparator runs on the gram-bounded
        candidate set, not the whole dictionary; short queries where
        the bound is vacuous keep the length-window-only scan."""
        t = term.lower().strip()
        if not t:
            return self._empty()
        rows = self._fuzzy_candidates(t, fuzziness,
                                      prefix_length).collect()
        if not rows:
            return self._empty()
        # (distance asc, df desc, term asc) cap, df from the live
        # partition-pruned stats scan — identical ordering to the
        # pre-cut full-dictionary plan
        stats = self.term_stats([r["term"] for r in rows])
        ranked = sorted((int(r["dist"]), -stats[r["term"]], r["term"])
                        for r in rows if r["term"] in stats)
        exp = [term_ for _, _, term_ in ranked[:max_expansions]]
        if not exp:
            return self._empty()
        return self._slots_job({"": [exp]}, k)

    def _fuzzy_candidates(self, t: str, fuzziness: int,
                          prefix_length: int) -> DataFrame:
        """(term, dist) rows of every dictionary term within
        ``fuzziness`` Damerau-Levenshtein edits of ``t`` (adjacent
        transposition = 1 edit — ES ``transpositions: true`` parity,
        see :func:`damerau_levenshtein` for the exact definition and
        its DuckDB-shared/OSA note) — gram-bounded pre-filter, then
        exact distance confirm via an Arrow-batched pandas UDF
        vectorized across the candidate batch
        (:func:`_damerau_distances`).  Split out so the tests can
        assert both the no-false-drop property (result == full-scan
        result) and the cut (rows reaching the comparator <<
        dictionary size)."""
        cand = self._fuzzy_prefilter(t, fuzziness, prefix_length)

        @F.pandas_udf("int")
        def _dl(terms: pd.Series) -> pd.Series:
            return pd.Series(_damerau_distances(t, terms))

        return (cand.withColumn("dist", _dl(F.col("term")))
                .filter(F.col("dist") <= fuzziness)
                .select("term", "dist"))

    def _fuzzy_prefilter(self, t: str, fuzziness: int,
                         prefix_length: int) -> DataFrame:
        """Candidate terms BEFORE the levenshtein confirm: gram count
        bound (when non-vacuous) + ±fuzziness length window +
        prefix_length anchor.  Guaranteed superset of the true
        expansion set (each filter only removes terms provably beyond
        ``fuzziness`` edits)."""
        thresh = _gram_threshold(t, fuzziness)
        if thresh >= 1:
            grams = sorted(_term_bigrams(t))
            cand = (self.gram_index
                    .filter(F.col("gram").isin(grams))
                    .groupBy("term")
                    .agg(F.count("*").alias("ng"))
                    .filter(F.col("ng") >= thresh)
                    .select("term"))
        else:
            cand = self._ts_df.select("term")
        cand = cand.filter(
            F.abs(F.length("term") - F.lit(len(t))) <= fuzziness)
        if prefix_length > 0:
            cand = cand.filter(
                F.col("term").startswith(t[:prefix_length]))
        return cand

    # per-run OR ranges above this count fall back to the envelope
    _MAX_DOC_RANGE_ORS = 256

    def _doc_range_pred(self, ids: list[int]):
        """Exact doc-range segment predicate for a sorted id list:
        coalesce consecutive ids into runs, OR the per-run overlap
        ranges (doc_id_min <= hi AND doc_id_max >= lo); envelope
        fallback above :attr:`_MAX_DOC_RANGE_ORS` runs.  Split out so
        the pruning test can count surviving segments directly."""
        runs: list[list[int]] = []
        for d in ids:
            if runs and d == runs[-1][1] + 1:
                runs[-1][1] = d
            else:
                runs.append([d, d])
        if len(runs) > self._MAX_DOC_RANGE_ORS:
            return (F.col("doc_id_max") >= ids[0]) \
                & (F.col("doc_id_min") <= ids[-1])
        pred = None
        for lo, hi in runs:
            p = (F.col("doc_id_min") <= hi) & (F.col("doc_id_max") >= lo)
            pred = p if pred is None else pred | p
        return pred

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """ES ``_termvectors`` analog (term_statistics=true): for each
        requested live doc, its (term, tf) vector from the segment
        index plus each term's GLOBAL df from the stats table.

        Returns (doc_id, term, tf, df).  The index is term-major, so
        per-doc extraction prunes segments by the doc_id_min/max
        range columns — EXACTLY (round-7 #7): requested ids coalesce
        into maximal consecutive runs and the scan predicate is the
        OR of per-run overlap ranges, so a partial decodes only if
        its doc range intersects a requested id; with the old single
        [min,max] envelope, asking for {5, 10^9} decoded every
        doc bucket in between.  Above ``_MAX_DOC_RANGE_ORS`` runs the
        envelope is the documented fallback (an OR chain that long
        costs more in plan than it prunes).  The OR of range
        conjuncts pushes to the parquet row-group stats.  The vectors
        are collected (one response, like ES's) and df is taken for
        their terms alone: from the driver stats map when it is loaded,
        else from a term-pruned term_stats scan (:meth:`term_stats`) —
        never a join with the whole table.  Tombstoned docs return
        nothing, like ES after delete."""
        empty = "doc_id long, term string, tf long, df long"
        want = _mask_tombstones(
            np.array(sorted({int(d) for d in doc_ids}), dtype=np.int64),
            self.tombstones)
        if not want.size:
            return no_rows(self.spark, empty)
        segs = (self._seg_df.filter(self._doc_range_pred(want.tolist()))
                .select("term", "docs_blob", "tfs_blob"))

        def decode(batches):
            for pdf in batches:
                outs = []
                for r in pdf.itertuples(index=False):
                    d = codec.decode_docs(r.docs_blob)
                    p = np.searchsorted(d, want)
                    p_c = np.minimum(p, d.size - 1)
                    hit = d[p_c] == want
                    if not hit.any():
                        continue
                    tfs = codec.decode_values(r.tfs_blob)
                    outs.append(pd.DataFrame(
                        {"doc_id": want[hit], "term": r.term,
                         "tf": tfs[p_c[hit]]}))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        vecs = segs.mapInPandas(
            decode, schema="doc_id long, term string, tf long").toPandas()
        if vecs.empty:
            return no_rows(self.spark, empty)
        stats = self.term_stats(vecs["term"].unique().tolist())
        vecs["df"] = vecs["term"].map(stats).astype(np.int64)
        return self.spark.createDataFrame(vecs, empty)

    def suggest_terms(self, text: str, size: int = 5,
                      max_edits: int = 2, prefix_length: int = 1,
                      suggest_mode: str = "missing") -> DataFrame:
        """ES term suggester ("did you mean"): per input token,
        dictionary terms within ``max_edits`` Damerau-Levenshtein
        edits (transposition = 1 edit — ES parity, oracle-shared
        definition), ranked (distance asc, df desc, term asc) — ES
        sort=score ordering with frequency tie-break — capped at
        ``size``.  ``suggest_mode="missing"`` (the ES default) only
        suggests for tokens ABSENT from the index; ``"always"``
        suggests for every token.  ``prefix_length`` (ES default 1)
        anchors the first chars, which also keeps the dictionary cut
        cheap.

        Returns (token, suggestion, dist, df, rank).  Candidate
        generation reuses the fuzzy gram-cut
        (:meth:`_fuzzy_candidates`, never drops a true candidate);
        this is an interactive driver-side surface — one small
        candidate job per missing token plus ONE stats lookup for
        all candidates (bounded by size * tokens rows collected)."""
        if suggest_mode not in ("missing", "always"):
            raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
        schema = ("token string, suggestion string, dist int, "
                  "df long, rank int")
        tokens = analyze_query(text, stem=self.stem)
        if not tokens:
            return no_rows(self.spark, schema)
        present = self.term_stats(tokens)
        targets = [t for t in tokens
                   if suggest_mode == "always" or t not in present]
        per_tok: dict[str, list] = {}
        all_cands: set[str] = set()
        for t in targets:
            rows = [(r["term"], int(r["dist"])) for r in
                    self._fuzzy_candidates(t, max_edits,
                                           prefix_length).collect()
                    if r["term"] != t]
            per_tok[t] = rows
            all_cands.update(term for term, _ in rows)
        stats = self.term_stats(sorted(all_cands))
        out = []
        for t in targets:
            ranked = sorted((d, -stats[term], term)
                            for term, d in per_tok[t]
                            if term in stats)
            for i, (d, negdf, term) in enumerate(ranked[:size], 1):
                out.append((t, term, d, -negdf, i))
        return self.spark.createDataFrame(out, schema)

    def suggest_completions(self, prefix: str, size: int = 5,
                            fuzziness: int = 0,
                            prefix_length: int = 1) -> DataFrame:
        """ES completion suggester analog (search-as-you-type): index
        terms starting with the analyzed ``prefix``, ranked weight
        desc then term asc — weight = document frequency (ES
        completion fields carry an explicit weight; df is this
        engine's natural popularity signal, documented contract).

        Runs as a RANGE scan on the sorted term dictionary
        (:attr:`term_dict` — the Lucene FST/completion-index analog):
        only row groups whose [min,max] term range intersects the
        prefix are read, then a size-capped TakeOrdered.  Returns
        (term, weight, rank).

        ``fuzziness`` > 0 is ES's fuzzy completion: a term matches
        when the Damerau-Levenshtein distance between ITS prefix of
        the query's length and the query is ≤ ``fuzziness``, with the
        first ``prefix_length`` chars required exact (ES's default 1
        — the knob that keeps the dictionary cut a range scan on the
        anchor).  Ranking (dist asc, weight desc, term asc) — closer
        completions first, ES's share-the-longest-prefix-scores-
        higher contract.  The distance predicate evaluates in an
        Arrow-batched pandas UDF over the anchored dictionary slice —
        distributed, no driver collect (the FST-automaton-walk
        analog)."""
        toks = analyze_query(prefix, stem=self.stem)
        if len(toks) != 1:
            raise ValueError(
                f"completion prefix must analyze to one token; "
                f"{prefix!r} analyzed to {toks!r}")
        p = toks[0]
        if fuzziness <= 0:
            w = Window.orderBy(F.desc("weight"), F.asc("term"))
            return (self.term_dict
                    .filter(F.col("term").startswith(p))
                    .select("term", F.col("df").cast("long")
                            .alias("weight"))
                    .orderBy(F.desc("weight"), F.asc("term"))
                    .limit(size)
                    .withColumn("rank", F.row_number().over(w)))
        anchor = p[:max(0, int(prefix_length))]
        cand = self.term_dict
        if anchor:
            cand = cand.filter(F.col("term").startswith(anchor))
        plen, fz = len(p), int(fuzziness)

        @F.pandas_udf("int")
        def pdist(terms: pd.Series) -> pd.Series:
            return terms.map(
                lambda t: damerau_levenshtein(t[:plen], p))

        w = Window.orderBy(F.asc("dist"), F.desc("weight"),
                           F.asc("term"))
        return (cand.withColumn("dist", pdist(F.col("term")))
                .filter(F.col("dist") <= fz)
                .select("term", F.col("df").cast("long")
                        .alias("weight"), "dist")
                .orderBy(F.asc("dist"), F.desc("weight"),
                         F.asc("term"))
                .limit(size)
                .withColumn("rank", F.row_number().over(w)))

    @property
    def vocab_size(self) -> int:
        """Distinct index terms (one job, cached — dictionary-sized)."""
        if self._vocab_size_cache is None:
            self._vocab_size_cache = self._ts_df.count()
        return self._vocab_size_cache

    def suggest_phrases(self, text: str, size: int = 3,
                        per_token: int = 3, max_edits: int = 2,
                        prefix_length: int = 1,
                        alpha: float = 1.0,
                        max_tokens: int = 8) -> DataFrame:
        """ES phrase suggester ("did you mean", whole-phrase): per
        input token generate the best ``per_token`` dictionary
        candidates (Damerau distance asc, df desc, term asc —
        suggest_mode=always, token itself included at distance 0),
        form every candidate phrase (cross product), and rank phrases
        by a smoothed unigram LM over corpus term counts:
        score = Σ_t ln((cf(t)+α) / (T+α·V)) with T total tokens and
        V the dictionary size — the deterministic reduction of ES's
        Laplace-smoothed phrase scorer (ES defaults to a bigram
        stupid-backoff; unigram is the documented simplification, the
        ranking rule above is the whole contract and the oracle
        recomputes it in SQL).  A token with no dictionary candidate
        keeps itself with cf = 0 (unseen, smoothed).  Phrases rank by
        (round(score, 6) desc, phrase asc), top ``size``.

        Interactive driver-side surface like :meth:`suggest_terms`:
        one gram-cut candidate job per token + ONE stats lookup; the
        cross product is bounded by ``per_token ** n_tokens`` with
        ``max_tokens`` the guard ES implements via window cutting."""
        import itertools
        import math

        schema = "phrase string, score double"
        tokens = analyze_query(text, stem=self.stem)
        if not tokens:
            return no_rows(self.spark, schema)
        if len(tokens) > max_tokens:
            raise ValueError(
                f"phrase suggester caps at {max_tokens} tokens "
                f"(got {len(tokens)}) — cut the text into windows")
        per_tok: list[list[str]] = []
        for t in tokens:
            rows = [(int(r["dist"]), r["term"]) for r in
                    self._fuzzy_candidates(t, max_edits,
                                           prefix_length).collect()]
            if not rows:
                per_tok.append([t])
                continue
            stats = self.term_stats([term for _, term in rows])
            ranked = sorted((d, -stats.get(term, 0), term)
                            for d, term in rows)
            per_tok.append([term for _, _, term
                            in ranked[:max(1, int(per_token))]])
        members = sorted({t for cands in per_tok for t in cands})
        cf_rows = (self._ts_df
                   .filter(F.col("term").isin(members))
                   .select("term", "cf").collect())
        cf = {r["term"]: int(r["cf"]) for r in cf_rows}
        t_total, v_size = self.total_tokens, self.vocab_size
        denom = float(t_total) + float(alpha) * v_size
        out = []
        for combo in itertools.product(*per_tok):
            s = 0.0
            for term in combo:
                s += math.log((cf.get(term, 0) + float(alpha)) / denom)
            out.append((" ".join(combo), round(s, 6)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return self.spark.createDataFrame(out[:size], schema)

    def _slots_job(self, qslots: dict, k: int, batched: bool = False
                   ) -> DataFrame:
        """Synonym-slot family (:func:`_slots_kernel`; plan and
        semantics in :meth:`search_synonyms`) over
        ``{query_id: slots}``.  One slot-df table across ALL queries:
        a slot's key is its member tuple (identical slots share one
        aggregate row), and each segment row carries the ``slot_dfs``
        map of every slot its term is a member of, so slot resolution
        happens inside the kernel."""
        slot_key: dict[tuple, int] = {}
        for slots in qslots.values():
            for alts in slots:
                slot_key.setdefault(tuple(alts), len(slot_key))
        specs = {qid: [(slot_key[tuple(alts)], list(alts))
                       for alts in slots]
                 for qid, slots in qslots.items()}
        segs = None
        if slot_key:
            members = sorted({t for alts in slot_key for t in alts})
            mem_df = self.spark.createDataFrame(
                [(t, sid) for alts, sid in slot_key.items()
                 for t in alts], "term string, slot_id int")
            # global slot df on the broadcast side, all inside one job
            slot_df = (self._ts_for(members).join(mem_df, "term")
                       .groupBy("slot_id")
                       .agg(F.max("df").alias("slot_df")))
            slot_dfs = (slot_df.join(mem_df, "slot_id").groupBy("term")
                        .agg(F.map_from_entries(F.collect_list(
                            F.struct("slot_id", "slot_df")))
                            .alias("slot_dfs")))
            segs = (self._segments_for(members, self._SEG_COLS)
                    .join(F.broadcast(slot_dfs), "term")
                    .select(*self._SEG_COLS, "slot_dfs"))
        kernel = partial(_slots_kernel, n_docs=self.n_docs,
                         avgdl=self.avgdl, tomb=self.tombstones)
        return _bucket_job(self.spark, segs, kernel, specs, k,
                           "slot_dfs", batched,
                           partitions=self._bucket_parts)

    def search_or(self, query: str, k: int = TOP_K_SIZE,
                  min_should_match: int = 1) -> DataFrame:
        """Disjunctive (should) top-k via block-max MaxScore: terms
        ordered by score upper bound idf * tf_norm(max_tf, min_dl);
        the non-essential tail — whose combined bound cannot reach the
        bootstrap threshold — is never fully decoded, only probed at
        candidate positions (block-selective).

        ``min_should_match`` (ES bool minimum_should_match — the
        reference's textual-join body sets it, join.py:543) keeps only
        docs matching at least that many query terms.  With m > 1 the
        single-term bootstrap threshold is no longer a valid lower
        bound for the k-th QUALIFYING doc, so MaxScore pruning is
        disabled (every term decoded) — correctness over pruning."""
        terms = analyze_query(query, stem=self.stem)
        return self.search_or_terms(terms, k, min_should_match)

    def search_or_terms(self, terms: list[str], k: int = TOP_K_SIZE,
                        min_should_match: int = 1) -> DataFrame:
        """:meth:`search_or` on PRE-ANALYZED terms (no re-tokenization
        / re-stemming — stemming is not idempotent, so callers that
        already hold index-vocabulary terms, e.g.
        :meth:`more_like_this`, must use this entry)."""
        return self._or_job(
            {"": (terms, min_should_match)} if terms else {}, k)

    def _or_job(self, qspecs: dict, k: int, batched: bool = False
                ) -> DataFrame:
        """OR family over ``{query_id: (terms, min_should_match)}``;
        df attached exactly as in :meth:`_and_job`."""
        terms = list(dict.fromkeys(
            t for ts, _ in qspecs.values() for t in ts))
        kernel = partial(_or_kernel, n_docs=self.n_docs,
                         avgdl=self.avgdl, tomb=self.tombstones)
        return _bucket_job(self.spark, self._df_segments(terms), kernel,
                           qspecs, k, "df", batched,
                           partitions=self._bucket_parts)

    def more_like_this(self, like_text: str, k: int = TOP_K_SIZE,
                       max_query_terms: int = 25,
                       min_term_freq: int = 1,
                       min_doc_freq: int = 1,
                       max_doc_freq: int | None = None,
                       minimum_should_match: float = 0.3) -> DataFrame:
        """ES ``more_like_this`` with an artificial document (the
        ``like: "text"`` form; ES docs "more-like-this query").

        Term selection is the Lucene MoreLikeThis contract: analyze
        the text, keep terms with text-tf >= ``min_term_freq`` and
        index df in [``min_doc_freq``, ``max_doc_freq``], score each
        by classic MLT tf-idf::

            tf * (ln(n_docs / (df + 1)) + 1)

        take the top ``max_query_terms`` by (score DESC, term ASC —
        deterministic tie-break), then run the disjunctive BM25
        engine with ``minimum_should_match`` as an ES percentage
        (floor(pct * n_selected), min 1).

        Scale shape: selection needs only the term-stats table pruned
        to the text's vocabulary (one tiny driver-side lookup, the
        same df fetch ES performs), then ONE :meth:`search_or_terms`
        job.  ES defaults are min_term_freq=2 / min_doc_freq=5; here
        both default to 1 because short corpus docs rarely repeat
        terms — pass ES's values for web-scale text.
        """
        from collections import Counter

        from ..analysis import tokenize
        toks = list(tokenize(like_text))
        if self.stem:
            from ..stem import stem as _stem
            toks = [_stem(t) for t in toks]
        tf = Counter(toks)
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return self._empty()
        stats = self.term_stats(cand)
        import math
        scored = []
        for t in cand:
            df_ = stats.get(t)
            if df_ is None or df_ < min_doc_freq:
                continue
            if max_doc_freq is not None and df_ > max_doc_freq:
                continue
            s = tf[t] * (math.log(self.n_docs / (df_ + 1.0)) + 1.0)
            scored.append((-s, t))
        scored.sort()
        sel = [t for _, t in scored[:max_query_terms]]
        if not sel:
            return self._empty()
        msm = max(1, int(minimum_should_match * len(sel)))
        return self.search_or_terms(sel, k, msm)


# ---------------------------------------------------------------------
# module-level scoring helpers: closures over these pickle WITHOUT
# dragging the SearchEngine (and its SparkContext) into the task
# ---------------------------------------------------------------------

_PARTIAL_FIELDS = ("docs_blob", "tfs_blob", "dls_blob", "docs_off",
                   "tfs_off", "dls_off", "block_last_doc", "n_docs",
                   "doc_id_min", "doc_id_max", "max_tf", "min_dl")
_POS_FIELDS = ("pos_blob", "pos_off")

# result schemas built once as StructTypes: a DDL string would be
# parsed by the JVM on every query
_TOPK_SCHEMA = StructType([StructField("doc_id", LongType()),
                           StructField("score", DoubleType())])
_HITS_SCHEMA = StructType([StructField("query_id", StringType())]
                          + _TOPK_SCHEMA.fields)

_NO_DOCS = (np.array([], dtype=np.int64), np.array([], dtype=np.float64))


def _bucket_job(spark: SparkSession, segs: DataFrame | None, kernel,
                specs: dict, k: int, stat: str | None = None,
                batched: bool = False, *, partitions: int) -> DataFrame:
    """THE bucket-parallel job of every BM25-scored family.

    ``segs`` holds the partial-segment rows of every term the
    ``specs`` (``{query_id: per-query spec}``) need, or is None when
    no query can match.  Per bucket the partials are grouped ONCE
    (:func:`_group_partials`; ``stat`` names a per-row column folded
    into a key → value dict alongside), then
    ``kernel(parts, stats, spec, k)`` runs for each query over the
    shared decodes and returns that query's (doc_ids, scores) in the
    bucket; the local top-k of each survives.  A single query
    (``batched=False``) merges with ``TakeOrdered`` and returns
    (doc_id, score); a batch merges with a per-``query_id`` window and
    returns (query_id, doc_id, score) — including when empty.
    ``partitions`` sizes the bucket exchange (:func:`_spread_buckets`)."""
    if segs is None:
        return no_rows(spark, _HITS_SCHEMA if batched else _TOPK_SCHEMA)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        parts = _group_partials(pdf)
        stats = {}
        if stat is not None:
            keys = (zip(pdf["field"], pdf["term"])
                    if "field" in pdf.columns else pdf["term"])
            stats = dict(zip(keys, pdf[stat]))
        qids, docs, scores = [], [], []
        for qid, spec in specs.items():
            d, s = _topk_local(*kernel(parts, stats, spec, k), k)
            qids += [qid] * d.size
            docs.append(d)
            scores.append(s)
        hits = {"doc_id": np.concatenate(docs).astype(np.int64),
                "score": np.concatenate(scores).astype(np.float64)}
        if batched:
            hits = {"query_id": pd.Series(qids, dtype=object), **hits}
        return pd.DataFrame(hits)

    local = (_spread_buckets(segs, partitions).groupBy("bucket")
             .applyInPandas(score_bucket,
                            _HITS_SCHEMA if batched else _TOPK_SCHEMA))
    if not batched:
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def _tf_norm(tf: float, dl: float, avgdl: float) -> float:
    return tf / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _group_partials(pdf: pd.DataFrame) -> dict:
    """key → list of partial-segment dicts sorted by doc_id_min
    (disjoint docID runs).  The key is the term, or (field, term) when
    the rows carry a ``field`` column; position streams are copied
    when the rows carry them (positional index).  VALIDATES
    disjointness: overlapping runs mean the build ingested
    docID-interleaved input (see build.py's ordering contract) and
    concatenated decodes would be silently wrong — fail loudly
    instead."""
    cols = _PARTIAL_FIELDS + tuple(c for c in _POS_FIELDS
                                   if c in pdf.columns)
    keyed = "field" in pdf.columns
    out: dict = {}
    for r in pdf.sort_values("doc_id_min").itertuples(index=False):
        seg = {c: getattr(r, c) for c in cols}
        seg["full"] = None
        parts = out.setdefault((r.field, r.term) if keyed else r.term, [])
        if parts and seg["doc_id_min"] <= parts[-1]["doc_id_max"]:
            raise ValueError(
                f"index corruption: partials of term {r.term!r} have "
                f"overlapping docID ranges ([{parts[-1]['doc_id_min']},"
                f"{parts[-1]['doc_id_max']}] then [{seg['doc_id_min']},"
                f"{seg['doc_id_max']}]) — rebuild with presort=True")
        parts.append(seg)
    return out


def _decode_partial_full(seg: dict):
    if seg["full"] is None:
        seg["full"] = codec.decode_row(seg["docs_blob"], seg["tfs_blob"],
                                       seg["dls_blob"])
    return seg["full"]


def _decode_full_term(parts: list) -> np.ndarray:
    """All docIDs of a term in this bucket (partials are disjoint and
    pre-sorted by doc_id_min → concat stays sorted)."""
    return np.concatenate([_decode_partial_full(p)[0] for p in parts])


def _decode_partial_for(seg: dict, cand: np.ndarray) -> np.ndarray:
    """docIDs of the partial restricted to blocks that can contain any
    candidate (all of them once the partial is fully decoded)."""
    if seg["full"] is not None:
        return seg["full"][0]
    return codec.docs_for(seg, cand)


# ---- candidate rules, written once over GROUPS: a group is a list of
# one or more term partial lists (a synonym slot's members, a term's
# fields, the expansions of a phrase_prefix slot); candidates are the
# AND across groups of the union within each group

def _group_size(group: list) -> int:
    return sum(p["n_docs"] for parts in group for p in parts)


def _decode_group(group: list) -> np.ndarray:
    """Sorted unique docIDs of a group (one term's disjoint partials
    concatenate sorted; several terms need a union)."""
    ids = [_decode_full_term(parts) for parts in group]
    return ids[0] if len(ids) == 1 else np.unique(np.concatenate(ids))


def _probe_cand(groups: list, tomb: np.ndarray) -> np.ndarray | None:
    """Block-probing AND candidates: the rarest group is decoded in
    full, every other group only at the blocks that can hold a
    surviving candidate (``_decode_partial_for``).  Intersection is
    order-independent and the tombstone mask commutes with it.  None
    when empty."""
    groups = sorted(groups, key=_group_size)
    cand = _mask_tombstones(_decode_group(groups[0]), tomb)
    for group in groups[1:]:
        if cand.size == 0:
            break
        hit = np.zeros(cand.size, dtype=bool)
        for parts in group:
            for seg in parts:
                ids = _decode_partial_for(seg, cand)
                if ids.size == 0:
                    continue
                pos = np.searchsorted(ids, cand)
                pos_c = np.minimum(pos, ids.size - 1)
                hit |= ids[pos_c] == cand
        cand = cand[hit]
    return cand if cand.size else None


def _phrase_cand(groups: list, tomb: np.ndarray) -> np.ndarray | None:
    """Full-decode AND candidates, rarest group first — for callers
    that decode every partial anyway (synonym slot tfs, position
    streams).  None when empty."""
    groups = sorted(groups, key=_group_size)
    cand = _mask_tombstones(_decode_group(groups[0]), tomb)
    for group in groups[1:]:
        if cand.size == 0:
            break
        ids = _decode_group(group)
        pos = np.searchsorted(ids, cand)
        pos_c = np.minimum(pos, ids.size - 1)
        cand = cand[ids[pos_c] == cand]
    return cand if cand.size else None


def _score_candidates(terms, idf_b, per_term, cand, avgdl):
    """Exact scores for candidate docIDs, decoding only the blocks that
    contain candidates; contributions summed in query-term order
    (bit-exact contract).  Absent terms/partials contribute +0.0 —
    float-identical to skipping them (each candidate lives in at most
    one partial of a term)."""
    score = np.zeros(cand.size, dtype=np.float64)
    present = np.zeros(cand.size, dtype=np.int64)
    for t in terms:
        parts = per_term.get(t)
        if not parts:
            continue
        contrib = np.zeros(cand.size, dtype=np.float64)
        hit_any = np.zeros(cand.size, dtype=bool)
        for seg in parts:
            if seg["full"] is not None:
                doc_ids, tfs, dls = seg["full"]
            else:
                doc_ids, tfs, dls = codec.postings_for(seg, cand)
            if doc_ids.size == 0:
                continue
            pos = np.searchsorted(doc_ids, cand)
            pos_c = np.minimum(pos, doc_ids.size - 1)
            hit = doc_ids[pos_c] == cand
            tf = np.where(hit, tfs[pos_c], 0).astype(np.float64)
            dl = np.where(hit, dls[pos_c], 1).astype(np.float64)
            contrib += np.where(
                hit, idf_b[t] * (tf / (tf + K1 *
                                       (1.0 - B + B * dl / avgdl))), 0.0)
            hit_any |= hit
        score += contrib
        present += hit_any.astype(np.int64)
    return score, present


def _mask_tombstones(cand: np.ndarray, tomb: np.ndarray) -> np.ndarray:
    if tomb.size == 0 or cand.size == 0:
        return cand
    return cand[~tombstoned(cand, tomb)]


def _topk_local(cand, score, k):
    if cand.size > k:
        order = np.lexsort((cand, -score))[:k]
        return cand[order], score[order]
    return cand, score


# ---- per-query kernels: kernel(parts, stats, spec, k) -> (doc_ids,
# scores) of one query in one bucket; engine constants are bound with
# functools.partial by the family's job method

def _and_kernel(parts, stats, terms, k, *, n_docs, avgdl, tomb):
    """Conjunctive AND: block-probing candidates, exact scores summed
    in query-term order."""
    if any(t not in parts for t in terms):
        return _NO_DOCS  # AND: a term missing in this bucket
    cand = _probe_cand([[parts[t]] for t in dict.fromkeys(terms)], tomb)
    if cand is None:
        return _NO_DOCS
    idf = {t: bm25_idf(n_docs, int(stats[t])) for t in terms}
    score, _ = _score_candidates(terms, idf, parts, cand, avgdl)
    return cand, score


def _or_kernel(parts, stats, spec, k, *, n_docs, avgdl, tomb):
    """Disjunctive should with ``min_should_match`` m.  m <= 1:
    block-max MaxScore — a bootstrap threshold from the top-bound
    term's exact live scores, and only the essential terms (whose
    tail bound can still reach it) seed candidates; the rest are
    probed at candidate blocks while scoring.  m > 1: the single-term
    bootstrap is no longer a lower bound for the k-th QUALIFYING doc,
    so every term is essential and docs present in >= m terms
    survive."""
    terms, m = spec
    present = [t for t in dict.fromkeys(terms) if t in parts]
    if len(present) < max(m, 1):
        return _NO_DOCS  # can't reach m matches
    idf = {t: bm25_idf(n_docs, int(stats[t])) for t in present}
    if m > 1:
        cand = _mask_tombstones(np.unique(np.concatenate(
            [_decode_full_term(parts[t]) for t in present])), tomb)
    else:
        ubs = sorted(
            ((idf[t] * max(_tf_norm(p["max_tf"], p["min_dl"], avgdl)
                           for p in parts[t]), t) for t in present),
            reverse=True)
        # bootstrap threshold: exact scores of the top-bound term
        # alone (a valid lower bound on the final k-th best score)
        t0 = ubs[0][1]
        ids0 = _decode_full_term(parts[t0])
        tfs0 = np.concatenate([p["full"][1] for p in parts[t0]])
        dls0 = np.concatenate([p["full"][2] for p in parts[t0]])
        if tomb.size:
            # theta must be a lower bound over LIVE docs only, or
            # the essential-set pruning over-tightens
            live = np.isin(ids0, tomb, invert=True)
            ids0, tfs0, dls0 = ids0[live], tfs0[live], dls0[live]
        s0 = idf[t0] * (tfs0 / (tfs0 + K1 * (
            1.0 - B + B * dls0.astype(np.float64) / avgdl)))
        theta = (float(np.partition(s0, s0.size - k)[s0.size - k])
                 if s0.size >= k else 0.0)
        # essential prefix: a doc found ONLY in the remaining tail
        # is bounded by the tail's summed UBs; extend the prefix
        # until the tail bound drops below theta
        essential = [t0]
        tail = sum(ub for ub, _ in ubs[1:])
        for ub, t in ubs[1:]:
            if tail >= theta:
                essential.append(t)
                tail -= ub
            else:
                break
        cand = _mask_tombstones(np.unique(np.concatenate(
            [ids0] + [_decode_full_term(parts[t])
                      for t in essential[1:]])), tomb)
    if cand.size == 0:
        return _NO_DOCS
    score, hits = _score_candidates(terms, idf, parts, cand, avgdl)
    if m > 1:
        keep = hits >= m
        return cand[keep], score[keep]
    return cand, score


def _slots_kernel(parts, stats, slots, k, *, n_docs, avgdl, tomb):
    """Lucene SynonymQuery per slot: the members act as ONE
    pseudo-term with tf = sum of member tfs and df = the slot's
    global df (``stats``: term → {slot_id: slot df}); AND across
    slots, contributions summed in slot order."""
    groups = []
    for sid, members in slots:
        have = [t for t in members if t in parts]
        if not have:
            return _NO_DOCS  # AND: a slot absent in this bucket
        groups.append((int(stats[have[0]][sid]),
                       [parts[t] for t in have]))
    cand = _phrase_cand([g for _, g in groups], tomb)
    if cand is None:
        return _NO_DOCS
    score = np.zeros(cand.size, dtype=np.float64)
    for slot_df, group in groups:
        idf_s = bm25_idf(n_docs, slot_df)
        slot_tf = np.zeros(cand.size, dtype=np.int64)
        dl = np.ones(cand.size, dtype=np.float64)
        for seg in (seg for ps in group for seg in ps):
            doc_ids, tfs, dls = _decode_partial_full(seg)
            if doc_ids.size == 0:
                continue
            pos = np.searchsorted(doc_ids, cand)
            pos_c = np.minimum(pos, doc_ids.size - 1)
            hit = doc_ids[pos_c] == cand
            slot_tf[hit] += tfs[pos_c[hit]]
            dl[hit] = dls[pos_c[hit]]
        tfd = slot_tf.astype(np.float64)
        score += idf_s * (tfd / (tfd + K1 * (
            1.0 - B + B * dl / avgdl)))
    return cand, score


def _fields_kernel(parts, stats, terms, k, *, fields, boosts, n_docs,
                   avgdl, tomb, cross):
    """Term-centric multi-field AND over (field, term)-keyed partials
    (every term present in >= 1 field) with weight boost_f * idf_f.
    ``most_fields``: contributions summed in (term, field) order with
    each field's own df.  ``cross_fields`` (Lucene BlendedTermQuery):
    ``stats`` holds the blended df (max over fields), clamped to each
    field's N, and a term scores the max over its fields
    (DisjunctionMax, tie_breaker 0.0), summed in query order."""
    groups = []
    for t in dict.fromkeys(terms):
        group = [parts[(f, t)] for f in fields if (f, t) in parts]
        if not group:
            return _NO_DOCS  # AND: term absent from every field here
        groups.append(group)
    cand = _probe_cand(groups, tomb)
    if cand is None:
        return _NO_DOCS
    score = np.zeros(cand.size, dtype=np.float64)
    for t in terms:
        best = np.zeros(cand.size, dtype=np.float64)
        for f in fields:
            ps = parts.get((f, t))
            if ps is None:
                continue
            df_ = int(stats[(f, t)])
            # python float64, the oracle's exact left-assoc multiply
            w = boosts[f] * bm25_idf(
                n_docs[f], min(df_, n_docs[f]) if cross else df_)
            s_tf, _ = _score_candidates([t], {t: w}, {t: ps}, cand,
                                        avgdl[f])
            if cross:
                np.maximum(best, s_tf, out=best)
            else:
                score += s_tf
        if cross:
            score += best
    return cand, score


def _phrase_kernel(parts, stats, spec, k, *, avgdl, tomb, shift, slop):
    """Lucene (Multi)PhraseQuery: ``spec`` = (slots, idf_sum), a slot
    being the terms whose positions match there (one term, or a
    phrase_prefix's expansions).  Candidates are the AND of the slots;
    slop == 0 intersects offset-shifted position keys, slop > 0 runs
    the Lucene window matcher; score = idf_sum * tf_norm(freq, dl)."""
    slots, idf_sum = spec
    groups = [[parts[t] for t in slot if t in parts] for slot in slots]
    if not all(groups):
        return _NO_DOCS
    cand = _phrase_cand(groups, tomb)
    if cand is None:
        return _NO_DOCS
    if slop:
        docs, f = _phrase_sloppy_docs(groups, cand,
                                      [slot[0] for slot in slots], slop)
    else:
        docs, f = _phrase_exact_docs(groups, cand, shift)
    if docs.size == 0:
        return _NO_DOCS
    dl = _dl_for([seg for ps in groups[0] for seg in ps], docs)
    return docs, idf_sum * (f / (f + K1 * (1.0 - B + B * dl / avgdl)))


def _analyzed(engine: "SearchEngine", queries: dict[str, str]) -> dict:
    """``{query_id: analyzed terms}``, queries without terms dropped."""
    out = {}
    for qid, q in queries.items():
        terms = analyze_query(q, stem=engine.stem)
        if terms:
            out[qid] = terms
    return out


def search_many(engine: SearchEngine, queries: dict[str, str],
                k: int = TOP_K_SIZE) -> "DataFrame":
    """Batched conjunctive search: ALL queries answered in ONE Spark
    job — the offline-eval / reranking shape at scale.  The segment
    scan covers the union of query terms; inside each bucket, decoded
    partials are shared across queries; output is (query_id, doc_id,
    score) with per-query top-k.

    Same kernel as per-query ``search`` — bit-exact by
    construction.
    """
    return engine._and_job(_analyzed(engine, queries), k, batched=True)


# ---------------------------------------------------------------------
# multi-field search over per-field segment indexes — the reference's
# flagship multi_match (id^10, description, name^3; search/__init__.py:
# 57-109) on the SCALE path.  Each field gets its own index (own N, df,
# avgdl — ES's per-field statistics model); scoring is term-centric
# AND: every query term present in >= 1 field, contribution summed in
# (term, field) order with weight boost_f * idf_f(t) — bit-exact with
# oracle.search_multifield.
# ---------------------------------------------------------------------

class MultiFieldEngine:
    """Boosted multi-field BM25 over per-field segment indexes.

    ``build_field_indexes`` is the companion constructor: one
    IndexBuilder per field over ``docs.select(id, field)`` filtered to
    non-null — all sharing doc_bucket so per-bucket scoring needs no
    shuffle realignment across fields (postings of one doc range land
    in one task regardless of field)."""

    def __init__(self, spark: SparkSession, field_dirs: dict[str, str],
                 boosts: dict[str, float], term_buckets: int = 64):
        self.spark = spark
        self.boosts = dict(boosts)
        self.engines = {f: SearchEngine(spark, d, term_buckets)
                        for f, d in field_dirs.items()}
        stems = {e.stem for e in self.engines.values()}
        if len(stems) > 1:
            raise ValueError("field indexes disagree on analyzer config")
        self.stem = stems.pop() if stems else False

    def _empty(self) -> DataFrame:
        return no_rows(self.spark, _TOPK_SCHEMA)

    def search(self, query: str, k: int = TOP_K_SIZE) -> DataFrame:
        """SINGLE-JOB plan: no driver-side stats collects — each
        field's global (term, df) rides in via a broadcast join onto
        that field's segment scan (the discipline
        ``SearchEngine.search`` follows); boost_f * idf_f(t) is folded
        inside the bucket scorer from per-field constants captured at
        engine init.
        The term-missing-everywhere early return is subsumed by the
        per-bucket AND check (a term with no postings in any field
        empties every bucket)."""
        return self._fields_job(query, k, cross=False)

    def search_cross_fields(self, query: str, k: int = TOP_K_SIZE
                            ) -> DataFrame:
        """``multi_match type: cross_fields`` on the SEGMENT-INDEX
        path — the reference's flagship query type (search/__init__.py:
        64-76).  Lucene BlendedTermQuery semantics: df_blend(t) = max
        over fields of the GLOBAL df; per-field contribution uses
        idf(N_f, min(df_blend, N_f)); per-term score = DisjunctionMax
        over fields (tie_breaker 0.0); AND across terms; per-term
        maxima summed in query order.  Bit-exact with
        oracle.search_cross_fields.

        Single job: df_blend is a GLOBAL statistic, so it is computed
        on the broadcast side (union of per-field term_stats scans →
        max per term → joined back onto every field's segments) —
        no driver-side collects, posting rows never shuffle."""
        return self._fields_job(query, k, cross=True)

    def _fields_job(self, query: str, k: int, cross: bool) -> DataFrame:
        """Multi-field family (:func:`_fields_kernel`) as a batch of
        one: every field's pruned segment scan tagged with its field
        and the df the mode scores with (the field's own, or the
        blended max), unioned into one bucket job."""
        fields = list(self.boosts)
        terms = analyze_query(query, stem=self.stem)
        segs = None
        if terms:
            if cross:
                ts_all = None
                for f in fields:
                    t = self.engines[f]._ts_for(terms)
                    ts_all = t if ts_all is None else ts_all.unionByName(t)
                blend = F.broadcast(ts_all.groupBy("term")
                                    .agg(F.max("df").alias("df")))
            for f in fields:
                eng = self.engines[f]
                s = (eng._segments_for(terms, SearchEngine._SEG_COLS)
                     .join(blend if cross
                           else F.broadcast(eng._ts_for(terms)), "term")
                     .withColumn("field", F.lit(f)))
                segs = s if segs is None else segs.unionByName(s)
        tombs = [self.engines[f].tombstones for f in fields]
        tomb = (np.unique(np.concatenate(tombs))
                if any(t.size for t in tombs)
                else np.array([], dtype=np.int64))
        kernel = partial(
            _fields_kernel, fields=fields, boosts=dict(self.boosts),
            n_docs={f: self.engines[f].n_docs for f in fields},
            avgdl={f: self.engines[f].avgdl for f in fields},
            tomb=tomb, cross=cross)
        return _bucket_job(self.spark, segs, kernel,
                           {"": terms} if terms else {}, k, "df",
                           partitions=max(e._bucket_parts
                                          for e in self.engines.values()))

    # -------- explain (ES _explain analog, multifield paths) --------
    def explain_doc(self, query: str, doc_id: int,
                    mode: str = "most_fields") -> dict | None:
        """ES ``_explain``-shaped tree for ONE doc on the multifield
        paths.  ``most_fields``: per term, sum over fields of
        boost_f · idf_f(t) · tf_norm_f (the :meth:`search` scoring);
        ``cross_fields``: per term, DisjunctionMax over fields of
        boost_f · idf(N_f, min(df_blend, N_f)) · tf_norm_f with
        df_blend = max over fields of the global df
        (:meth:`search_cross_fields` / BlendedTermQuery).  The tree
        total reproduces the search score bit-exactly (same float64
        accumulation order as the bucket scorers).  Returns None when
        no query term matches; ``matched`` is False when the
        conjunctive AND fails (any term absent from every field)."""
        if mode not in ("most_fields", "cross_fields"):
            raise ValueError(f"unknown explain mode {mode!r}")
        fields = list(self.boosts)
        terms = analyze_query(query, stem=self.stem)
        if not terms:
            return None
        stats = {f: self.engines[f].term_stats(terms) for f in fields}
        rows: dict[tuple[str, str], dict] = {}
        for f in fields:
            live = [t for t in terms if t in stats[f]]
            if not live:
                continue
            for r in self.engines[f]._flat_postings(
                    live, np.array([doc_id], dtype=np.int64)).collect():
                rows[(f, r["term"])] = {"tf": int(r["tf"]),
                                        "dl": int(r["dl"])}
        if not rows:
            return None
        blend = {t: max((stats[f][t] for f in fields
                         if t in stats[f]), default=0) for t in terms}
        details = []
        total = 0.0
        n_matched_terms = 0
        for t in terms:
            fdetails = []
            term_sum, term_max = 0.0, 0.0
            for f in fields:
                r = rows.get((f, t))
                if r is None:
                    continue
                eng = self.engines[f]
                if mode == "most_fields":
                    idf_t = bm25_idf(eng.n_docs, stats[f][t])
                    idf_desc = (f"idf from n={stats[f][t]}, "
                                f"N={eng.n_docs}")
                else:
                    df_b = min(blend[t], eng.n_docs)
                    idf_t = bm25_idf(eng.n_docs, df_b)
                    idf_desc = (f"idf from blended n={df_b} "
                                f"(df_blend={blend[t]}), "
                                f"N={eng.n_docs}")
                tfn = _tf_norm(float(r["tf"]), float(r["dl"]),
                               eng.avgdl)
                w = self.boosts[f] * idf_t
                contrib = w * tfn
                term_sum += contrib
                term_max = max(term_max, contrib)
                if mode == "most_fields":
                    total += contrib       # engine's flat (t,f) order
                fdetails.append({
                    "value": contrib,
                    "description": (f"weight({f}:{t} in {doc_id}) "
                                    "[BM25Similarity], result of:"),
                    "details": [
                        {"value": self.boosts[f],
                         "description": f"boost({f})", "details": []},
                        {"value": idf_t, "description": idf_desc,
                         "details": []},
                        {"value": tfn,
                         "description": (f"tf from freq={r['tf']}, "
                                         f"dl={r['dl']}, "
                                         f"avgdl={eng.avgdl}"),
                         "details": []},
                    ]})
            if not fdetails:
                continue
            n_matched_terms += 1
            tval = term_sum if mode == "most_fields" else term_max
            if mode == "cross_fields":
                total += tval              # engine's per-term dismax
            details.append({
                "value": tval,
                "description": (f"sum of field weights for '{t}':"
                                if mode == "most_fields" else
                                f"max of field weights for '{t}' "
                                "(tie_breaker 0.0):"),
                "details": fdetails})
        matched = n_matched_terms == len(terms)
        return {"value": total if matched else 0.0,
                "matched": matched,
                "description": ("sum of:" if matched else
                                "failure to match (conjunctive AND)"),
                "details": details}


def build_field_indexes(spark: SparkSession, docs: DataFrame,
                        base_dir: str, fields: list[str],
                        id_col: str = "doc_id",
                        doc_bucket: int = 1 << 16,
                        chunk_docs: int = 1 << 20,
                        term_buckets: int = 64,
                        stem: bool = False,
                        resume: bool = True) -> dict[str, str]:
    """One segment index per field (field value as the content column,
    null rows excluded — per-field N/df/avgdl like ES).  Returns
    {field: index_dir} for MultiFieldEngine."""
    import os as _os

    from ..index.build import IndexBuilder
    out = {}
    for f in fields:
        d = _os.path.join(base_dir, f"field={f}")
        b = IndexBuilder(spark, d, doc_bucket=doc_bucket,
                         chunk_docs=chunk_docs,
                         term_buckets=term_buckets, stem=stem)
        corpus = (docs.filter(F.col(f).isNotNull())
                  .select(F.col(id_col).alias("doc_id"),
                          F.col(f).cast("string").alias("content")))
        b.build(corpus, resume=resume)
        out[f] = d
    return out


# ---------------------------------------------------------------------
# phrase search over positional segments (index built with
# positions=True).  Lucene PhraseQuery semantics: candidates =
# conjunctive AND, phrase_freq = exact consecutive occurrences,
# score = (sum of term idfs) * tf_norm(phrase_freq, dl, avgdl) —
# mirrored bit-for-bit by oracle.PositionalOracleIndex.search_phrase.
# ---------------------------------------------------------------------

def _phrase_occurrences(seg: dict, cand: np.ndarray, term_offset: int
                        ) -> tuple[np.ndarray, np.ndarray]:
    """(candidate_index, position − term_offset) pairs for candidate
    docs present in this partial — the raw material of both the exact
    (key-equality) and sloppy phrase matchers.  Adjusted positions may
    be negative (a later slot's term occurring early)."""
    empty = (np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    doc_ids, tfs, _ = _decode_partial_full(seg)
    pos_abs = codec.decode_positions(seg["pos_blob"], tfs)
    lo = np.searchsorted(cand, seg["doc_id_min"])
    hi = np.searchsorted(cand, seg["doc_id_max"], side="right")
    sub_idx = np.arange(lo, hi)
    if sub_idx.size == 0:
        return empty
    pos = np.searchsorted(doc_ids, cand[sub_idx])
    pos_c = np.minimum(pos, doc_ids.size - 1)
    hit = doc_ids[pos_c] == cand[sub_idx]
    sub_idx, posting = sub_idx[hit], pos_c[hit]
    if sub_idx.size == 0:
        return empty
    firsts = np.concatenate([[0], np.cumsum(tfs)])
    counts = tfs[posting]
    occ_start = firsts[posting]
    flat = np.repeat(occ_start, counts) + (
        np.arange(int(counts.sum())) -
        np.repeat(np.concatenate([[0], np.cumsum(counts)])[:-1], counts))
    cidx = np.repeat(sub_idx, counts)
    p = pos_abs[flat] - term_offset
    return cidx.astype(np.int64), p.astype(np.int64)


def _positions_by_cand(group: list, cand: np.ndarray, offset: int = 0
                       ) -> dict[int, np.ndarray]:
    """candidate index → the sorted union of the group's positions
    (minus ``offset``) in that doc; candidates holding no term of the
    group are absent.  Distinct terms never share a token position, so
    the union of a group's terms needs no dedup."""
    occ = [_phrase_occurrences(seg, cand, offset)
           for parts in group for seg in parts]
    c = np.concatenate([x[0] for x in occ])
    p = np.concatenate([x[1] for x in occ])
    o = np.lexsort((p, c))
    c, p = c[o], p[o]
    uniq, starts = np.unique(c, return_index=True)
    return dict(zip(uniq.tolist(), np.split(p, starts[1:])))


def _phrase_keys(seg: dict, cand: np.ndarray, shift_terms: int,
                 term_offset: int) -> np.ndarray:
    """(candidate_index << shift) | (position - term_offset) keys for
    candidate docs present in this partial; positions are shifted so a
    phrase match has EQUAL keys across terms."""
    cidx, p = _phrase_occurrences(seg, cand, term_offset)
    keep = p >= 0
    return (cidx[keep] << np.int64(shift_terms)) | p[keep]


def _phrase_exact_docs(groups: list, cand: np.ndarray, shift: int
                       ) -> tuple[np.ndarray, np.ndarray]:
    """(docs, phrase_freq) via key-equality intersection across phrase
    slots (slop=0); slot i's keys are the union over its group."""
    running = None
    for i, group in enumerate(groups):
        keys = np.unique(np.concatenate(
            [_phrase_keys(seg, cand, shift, i)
             for parts in group for seg in parts]))
        running = keys if running is None else \
            running[np.isin(running, keys, assume_unique=True)]
        if running.size == 0:
            return _NO_DOCS
    cidx = (running >> np.int64(shift)).astype(np.int64)
    uniq, freq = np.unique(cidx, return_counts=True)
    return cand[uniq], freq.astype(np.float64)


def _phrase_sloppy_docs(groups: list, cand: np.ndarray,
                        terms: list[str], slop: int
                        ) -> tuple[np.ndarray, np.ndarray]:
    """(docs, sloppy_freq) via the Lucene window matcher over
    offset-adjusted per-slot positions."""
    from ..oracle import lucene_sloppy_freq
    slot_maps = [_positions_by_cand(group, cand, i)
                 for i, group in enumerate(groups)]
    docs_out, freqs = [], []
    for ci in range(cand.size):
        if any(ci not in m for m in slot_maps):
            continue
        f = lucene_sloppy_freq([m[ci] for m in slot_maps], slop,
                               terms=terms)
        if f > 0.0:
            docs_out.append(int(cand[ci]))
            freqs.append(f)
    if not docs_out:
        return _NO_DOCS
    return (np.array(docs_out, dtype=np.int64),
            np.array(freqs, dtype=np.float64))


def _span_contain_match(p1s: np.ndarray, p2s: np.ndarray,
                        ls: np.ndarray, slop: int) -> bool:
    """Existence test for span_containing over one doc's sorted
    position arrays: is there p1 ∈ p1s, p2 ∈ p2s with p1 < p2,
    p2 − p1 − 1 ≤ slop, and some l ∈ ls with p1 ≤ l ≤ p2?

    For a fixed p1 the legal p2 form the contiguous run
    (p1, p1 + slop + 1]; picking the LARGEST legal p2 maximises the
    containment window [p1, p2], so checking ls against
    [p1, max p2] alone is exact — vectorized searchsorted cuts, no
    pair enumeration."""
    lo = np.searchsorted(p2s, p1s, side="right")
    hi = np.searchsorted(p2s, p1s + slop + 1, side="right") - 1
    ok = lo <= hi
    if not ok.any():
        return False
    p1v = p1s[ok]
    p2max = p2s[hi[ok]]
    n_l = (np.searchsorted(ls, p2max, side="right")
           - np.searchsorted(ls, p1v, side="left"))
    return bool((n_l > 0).any())


def _span_near_match(pos_lists: list[np.ndarray], slop: int,
                     in_order: bool) -> bool:
    """Existence test for span_near over one doc's per-clause sorted
    position arrays (single-term clauses, so each span is [p, p+1)).

    in_order: choose p_0 < p_1 < ... < p_{n-1} (one per clause,
    clause order) with edit budget p_{n-1} - p_0 - (n-1) <= slop.
    For a fixed p_0 the greedy 'smallest position > prev' walk
    minimizes p_{n-1}, so trying every p_0 decides existence exactly.

    unordered: choose one position per clause with
    max - min - (n-1) <= slop — the minimal window covering all n
    lists, found by the standard sorted-merge sweep.  PRECONDITION:
    unordered lists are pairwise disjoint — guaranteed upstream
    because unordered clauses must not share a term (enforced in
    PhraseEngine._near_job) and distinct terms never share a token
    position; with colliding lists the sweep could count one
    position for two clauses."""
    n = len(pos_lists)
    if in_order:
        first = pos_lists[0]
        for p0 in first.tolist():
            prev = p0
            ok = True
            for lst in pos_lists[1:]:
                i = int(np.searchsorted(lst, prev, side="right"))
                if i >= lst.size:
                    ok = False
                    break
                prev = int(lst[i])
            if ok and prev - p0 - (n - 1) <= slop:
                return True
            if not ok:
                # later starts only push the greedy walk further
                # right on the SAME exhausted list — no match possible
                return False
        return False
    # unordered: merge (pos, slot), sliding window covering all slots
    merged = np.concatenate(pos_lists)
    slots = np.concatenate([np.full(a.size, i, dtype=np.int64)
                            for i, a in enumerate(pos_lists)])
    o = np.argsort(merged, kind="stable")
    merged, slots = merged[o], slots[o]
    need = np.zeros(n, dtype=np.int64)
    covered = 0
    lo = 0
    for hi in range(merged.size):
        if need[slots[hi]] == 0:
            covered += 1
        need[slots[hi]] += 1
        while need[slots[lo]] > 1:
            need[slots[lo]] -= 1
            lo += 1
        if covered == n and \
                merged[hi] - merged[lo] - (n - 1) <= slop:
            return True
    return False


# ---- constant-score span kernels, run by _bucket_job like the scored
# families: kernel(parts, stats, spec, k) -> (doc_ids, scores) with
# every hit scoring the spec's boost

def _const_hits(cand: np.ndarray, hit: list, boost: float):
    """(doc_ids, scores) of the candidates at indexes ``hit``."""
    hit = np.asarray(hit, dtype=np.int64)
    return cand[hit], np.full(hit.size, boost)


def _near_kernel(parts, stats, spec, k, *, tomb):
    """span_near / span_multi near / intervals: ``spec`` = (clauses,
    slop, in_order, boost), a clause being the terms whose positions
    it matches at (one term, a span_multi expansion or an intervals
    any_of).  Candidates are the AND of the clauses; a doc matches
    when :func:`_span_near_match` finds one position per clause."""
    clauses, slop, in_order, boost = spec
    groups = [[parts[t] for t in c if t in parts] for c in clauses]
    if not all(groups):
        return _NO_DOCS
    cand = _phrase_cand(groups, tomb)
    if cand is None:
        return _NO_DOCS
    maps = [_positions_by_cand(g, cand) for g in groups]
    return _const_hits(cand, [
        ci for ci in range(cand.size)
        if _span_near_match([m[ci] for m in maps], slop, in_order)],
        boost)


def _span_first_kernel(parts, stats, spec, k, *, tomb):
    """span_first: ``spec`` = (term, end, boost); docs where the term
    occurs at a position < end."""
    term, end, boost = spec
    if term not in parts:
        return _NO_DOCS
    cand = _phrase_cand([[parts[term]]], tomb)
    if cand is None:
        return _NO_DOCS
    m = _positions_by_cand([parts[term]], cand)
    return _const_hits(cand, [ci for ci, ps in m.items() if ps[0] < end],
                       boost)


def _contain_kernel(parts, stats, spec, k, *, tomb):
    """span_containing: ``spec`` = ((big1, big2, little), slop, boost);
    candidates hold all three terms, :func:`_span_contain_match`
    decides."""
    terms, slop, boost = spec
    if any(t not in parts for t in terms):
        return _NO_DOCS
    cand = _phrase_cand([[parts[t]] for t in terms], tomb)
    if cand is None:
        return _NO_DOCS
    m1, m2, ml = (_positions_by_cand([parts[t]], cand) for t in terms)
    return _const_hits(cand, [
        ci for ci in range(cand.size)
        if _span_contain_match(m1[ci], m2[ci], ml[ci], slop)], boost)


def _span_not_kernel(parts, stats, spec, k, *, tomb):
    """span_not: ``spec`` = (include, exclude, pre, post, boost);
    candidates are the include term's postings, and a doc matches when
    some include position p has no exclude position in
    [p - pre, p + post]."""
    inc, exc, pre, post, boost = spec
    if inc not in parts:
        return _NO_DOCS
    cand = _phrase_cand([[parts[inc]]], tomb)
    if cand is None:
        return _NO_DOCS
    inc_map = _positions_by_cand([parts[inc]], cand)
    exc_map = _positions_by_cand([parts[exc]], cand) if exc in parts else {}
    hit = []
    for ci, ps in inc_map.items():
        qs = exc_map.get(ci)
        if qs is None or (np.searchsorted(qs, ps + post, side="right")
                          == np.searchsorted(qs, ps - pre,
                                             side="left")).any():
            hit.append(ci)
    return _const_hits(cand, hit, boost)


def _dl_for(parts: list, docs: np.ndarray) -> np.ndarray:
    """Doc lengths for ``docs`` from a term's partials (dls inline)."""
    dl = np.zeros(docs.size, dtype=np.float64)
    for seg in parts:
        ids, _, dls = _decode_partial_full(seg)
        pos = np.searchsorted(ids, docs)
        pos_c = np.minimum(pos, ids.size - 1)
        hit = ids[pos_c] == docs
        dl[hit] = dls[pos_c[hit]]
    return dl


class PhraseEngine(SearchEngine):
    """SearchEngine over a positional index, adding match_phrase."""

    POS_SHIFT = 32  # positions < 2^32 (dl bound); cand index above

    def __init__(self, spark: SparkSession, index_dir: str,
                 term_buckets: int = 64):
        super().__init__(spark, index_dir, term_buckets)
        from ..index.build import read_analyzer
        if not read_analyzer(index_dir).get("positions", False):
            raise ValueError(
                f"index at {index_dir} was built without positions — "
                "rebuild with IndexBuilder(..., positions=True) to use "
                "match_phrase")

    _POS_COLS = SearchEngine._SEG_COLS + ["pos_blob", "pos_off"]

    def search_phrase(self, query: str, k: int = TOP_K_SIZE,
                      slop: int = 0) -> DataFrame:
        """Phrase top-k.  Duplicate terms are kept and order matters
        (unlike the bag-of-words analyzers).  ``slop`` > 0 runs the
        Lucene sloppy matcher (``oracle.lucene_sloppy_freq`` — the
        SAME function the oracle scores with, so ranks and scores stay
        bit-identical): phrase freq accumulates 1/(1+window) over
        minimal windows within the edit budget; repeated terms with
        slop>0 use the distinct-position repeats rule (same-term
        slots never share a token position — documented greedy
        variant of Lucene's repeats machinery)."""
        from ..analysis import tokenize as _tok
        return self._phrase_job(
            self._phrase_specs({"": _tok(query, stem=self.stem)}), k,
            slop)

    def _phrase_specs(self, qterms: dict) -> dict:
        """``{query_id: (slots, idf_sum)}`` for the token lists whose
        terms are all indexed (a phrase needs every term somewhere);
        duplicates contribute their idf twice (Lucene weight)."""
        stats = self.term_stats(
            sorted({t for ts in qterms.values() for t in ts}))
        return {qid: ([[t] for t in ts],
                      _idf_sum(self.n_docs, [stats[t] for t in ts]))
                for qid, ts in qterms.items()
                if ts and all(t in stats for t in ts)}

    def _phrase_job(self, specs: dict, k: int, slop: int,
                    batched: bool = False) -> DataFrame:
        """Phrase family (:func:`_phrase_kernel`) over
        ``{query_id: (slots, idf_sum)}``; idf_sum is driver-side, so
        the segment scan needs no df."""
        terms = list(dict.fromkeys(t for slots, _ in specs.values()
                                   for slot in slots for t in slot))
        segs = (self._segments_for(terms, self._POS_COLS)
                if terms else None)
        kernel = partial(_phrase_kernel, avgdl=self.avgdl,
                         tomb=self.tombstones, shift=self.POS_SHIFT,
                         slop=slop)
        return _bucket_job(self.spark, segs, kernel, specs, k,
                           batched=batched, partitions=self._bucket_parts)

    def _one_term(self, text: str, what: str) -> str:
        """The one analyzed term of a span/intervals clause; anything
        else is rejected."""
        toks = analyze_query(text, stem=self.stem)
        if len(toks) != 1:
            raise ValueError(
                f"{what} take exactly one analyzed term; {text!r} "
                f"analyzed to {toks!r}")
        return toks[0]

    def _span_job(self, kernel, terms: list[str], spec, k: int
                  ) -> DataFrame:
        """One constant-score span query as a batch of one of
        :func:`_bucket_job`: every hit scores ``boost``, so the job's
        (score desc, doc_id asc) TakeOrdered merge is doc_id order."""
        segs = self._segments_for(terms, self._POS_COLS)
        return _bucket_job(self.spark, segs,
                           partial(kernel, tomb=self.tombstones),
                           {"": spec}, k, partitions=self._bucket_parts)

    def _near_job(self, clauses: list[list[str]], slop: int,
                  in_order: bool, k: int, boost: float) -> DataFrame:
        """span_near / span_multi near / intervals over clauses of
        terms (:func:`_near_kernel`).  Unindexed terms drop out; a
        clause left empty can never match.  Unordered clauses must not
        share a term (the matcher's distinct-position precondition)."""
        flat = [t for c in clauses for t in c]
        if not in_order and len(set(flat)) != len(flat):
            raise ValueError(
                "unordered span_near/intervals with overlapping clause "
                "terms is not supported (distinct-position repeats "
                "rule)")
        stats = self.term_stats(list(dict.fromkeys(flat)))
        clauses = [[t for t in dict.fromkeys(c) if stats.get(t, 0) > 0]
                   for c in clauses]
        if not all(clauses):
            return self._empty()
        return self._span_job(
            _near_kernel, list(dict.fromkeys(t for c in clauses for t in c)),
            (clauses, int(slop), bool(in_order), float(boost)), k)

    def search_span_first(self, term: str, end: int,
                          k: int = TOP_K_SIZE,
                          boost: float = 1.0) -> DataFrame:
        """Lucene/ES ``span_first`` query: docs whose analyzed token
        stream contains ``term`` at a position p with p + 1 <= end
        (the one-term span ends within the first ``end`` positions —
        the 'title-like terms at the front of the field' query).
        Simplified constant_score rewrite like the other multi-term
        queries here (documented divergence: Lucene scores
        SpanFirstQuery through sloppyFreq); doc_id order, score ==
        boost.

        One bucket-parallel job over the positional index
        (:func:`_span_first_kernel`): the term's postings prune to
        tombstone-masked candidates, positions decode per bucket, and
        only the early-position test touches them — no phrase
        machinery, no shuffle beyond the final TakeOrdered."""
        if end <= 0:
            return self._empty()
        t = self._one_term(term, "span_first terms")
        if self.term_stats([t]).get(t, 0) == 0:
            return self._empty()
        return self._span_job(_span_first_kernel, [t],
                              (t, int(end), float(boost)), k)

    def search_span_near(self, clauses: list[str], slop: int = 0,
                         in_order: bool = True, k: int = TOP_K_SIZE,
                         boost: float = 1.0) -> DataFrame:
        """Lucene/ES ``span_near`` with single-term clauses: docs whose
        token stream contains one position per clause such that the
        covering span's edit budget ``max+1-min-n <= slop``; with
        ``in_order`` the chosen positions must additionally be strictly
        increasing in clause order.  Constant_score rewrite like
        :meth:`search_span_first` (documented divergence: Lucene scores
        SpanNearQuery through sloppyFreq); doc_id order, score == boost.

        Plan shape == the phrase queries (:func:`_near_kernel`):
        rarest-term candidate intersection prunes to docs containing
        ALL clause terms (tombstone-masked), positions decode only for
        candidates, the per-doc existence test is a greedy cursor walk
        (in_order: for each start of clause 0 the greedily-minimal end
        is optimal, so existence is exact) or a k-way minimal-window
        sweep (unordered) — one bucket-parallel job, no shuffle beyond
        the final TakeOrdered."""
        if len(clauses) < 2:
            raise ValueError("span_near needs at least 2 clauses")
        return self._near_job(
            [[self._one_term(c, "span_near clauses")] for c in clauses],
            slop, in_order, k, boost)

    def search_span_or(self, clauses: list[str], k: int = TOP_K_SIZE,
                       boost: float = 1.0) -> DataFrame:
        """Lucene/ES ``span_or`` with single-term clauses: docs whose
        token stream contains ANY clause term (span union — at the
        doc-existence level the union of the postings).  Constant_
        score rewrite like the rest of the span family; doc_id order,
        score == boost.

        A one-term span exists iff the term occurs, so no positions
        decode at all: this is the constant_score multi-term rewrite
        of :meth:`search_prefix` over the clause terms (tombstone-
        masked union of postings, one distinct + TakeOrdered)."""
        terms = list(dict.fromkeys(
            self._one_term(c, "span_or clauses") for c in clauses))
        return self._constant_score_expansion(
            terms, F.col("term").isin(terms), k, boost)

    def search_span_containing(self, big: list[str], little: str,
                               big_slop: int = 0, k: int = TOP_K_SIZE,
                               boost: float = 1.0) -> DataFrame:
        """Lucene/ES ``span_containing``: docs with a match of the
        ``big`` span (an in-order two-clause span_near with
        ``big_slop``) that fully encloses a match of the ``little``
        single-term span — i.e. positions p1 < p2 of the big terms
        with p2 − p1 − 1 ≤ big_slop and a little occurrence at
        l ∈ [p1, p2].  Constant_score rewrite, doc_id order,
        score == boost.

        At the doc-existence level ``span_within(little, big)`` is
        the SAME predicate (a (big ⊇ little) pair exists) — Lucene
        differs only in which spans it emits for scoring, which the
        constant-score contract here collapses; :meth:`search_span_
        within` aliases this method with that documented note.

        Per candidate doc (conjunctive: both big terms AND the
        little term present, the rarest-first pruning the phrase
        path uses) the test is vectorized searchsorted cuts
        (:func:`_contain_kernel`): for each p1 the widest legal p2
        window is [p1+1, p1+1+slop], and a little hit needs
        L ∩ [p1, max p2] ≠ ∅.  One bucket-parallel job, no shuffle
        beyond the final TakeOrdered."""
        if len(big) != 2:
            raise ValueError("span_containing takes a two-clause big "
                             "span (in-order span_near)")
        toks = tuple(self._one_term(c, "span clauses")
                     for c in [*big, little])
        terms = list(dict.fromkeys(toks))
        stats = self.term_stats(terms)
        if any(stats.get(t, 0) == 0 for t in terms):
            return self._empty()
        return self._span_job(_contain_kernel, terms,
                              (toks, int(big_slop), float(boost)), k)

    def search_intervals(self, clauses: list, max_gaps: int = -1,
                         ordered: bool = True, k: int = TOP_K_SIZE,
                         boost: float = 1.0) -> DataFrame:
        """ES ``intervals`` query, ``match``/``all_of`` form with
        ``any_of`` sub-clauses: each element of ``clauses`` is either
        a single term or a LIST of terms (``any_of`` — its interval
        positions are the union of the terms' positions).  A doc
        matches when one position per clause can be chosen with the
        covering-window edit budget ``max+1-min-n <= max_gaps``
        (``max_gaps < 0`` = unlimited, the ES default) — ordered or
        unordered.  Doc-level existence under this flat algebra
        coincides with Lucene's minimal-interval semantics (a
        witness exists iff a minimal one does); scoring is the span
        family's constant_score rewrite (documented divergence:
        Lucene scores IntervalQuery through sloppyFreq).  doc_id
        order, score == boost.

        Candidates: per clause the UNION of its terms' postings,
        INTERSECTED across clauses (tombstone-masked) — the rarest-
        clause pruning of the phrase path generalized to any_of
        (:func:`_near_kernel`, as span_near).  One bucket-parallel
        job, no shuffle beyond TakeOrdered."""
        if len(clauses) < 2:
            raise ValueError("intervals needs at least 2 clauses")
        norm = [[self._one_term(t, "intervals terms")
                 for t in ([c] if isinstance(c, str) else c)]
                for c in clauses]
        return self._near_job(norm, max_gaps if max_gaps >= 0 else 1 << 30,
                              ordered, k, boost)

    def search_span_within(self, little: str, big: list[str],
                           big_slop: int = 0, k: int = TOP_K_SIZE,
                           boost: float = 1.0) -> DataFrame:
        """Lucene/ES ``span_within``: little spans enclosed by a big
        span match.  Doc-existence-equivalent to
        :meth:`search_span_containing` (see its docstring for the
        documented constant-score collapse); alias with the ES
        argument order."""
        return self.search_span_containing(big, little, big_slop, k,
                                           boost)

    def search_span_not(self, include: str, exclude: str,
                        pre: int = 0, post: int = 0,
                        k: int = TOP_K_SIZE,
                        boost: float = 1.0) -> DataFrame:
        """Lucene/ES ``span_not`` with single-term spans: docs with an
        occurrence of ``include`` at a position p such that NO
        occurrence of ``exclude`` falls inside [p - pre, p + post]
        (the include span widened by pre/post must not overlap any
        exclude span).  Constant_score rewrite like span_first/near;
        doc_id order, score == boost.

        Candidates are the include term's postings (NOT a conjunctive
        intersection — absence of the exclude term is a match);
        per-doc the test is two searchsorted cuts of the exclude
        positions around each include position
        (:func:`_span_not_kernel`).  One bucket-parallel job, no
        shuffle beyond the final TakeOrdered."""
        inc = self._one_term(include, "span_not terms")
        exc = self._one_term(exclude, "span_not terms")
        if self.term_stats([inc]).get(inc, 0) == 0:
            return self._empty()
        return self._span_job(
            _span_not_kernel, list(dict.fromkeys([inc, exc])),
            (inc, exc, int(pre), int(post), float(boost)), k)

    def search_span_multi_near(self, clauses: list[str],
                               slop: int = 0, in_order: bool = True,
                               k: int = TOP_K_SIZE,
                               boost: float = 1.0) -> DataFrame:
        """Lucene/ES ``span_multi`` inside ``span_near``: each clause
        is either a literal term or a wildcard pattern with a leading
        literal — ``'pre*'``, ``'pre?x'``, ``'pre*fix'``
        (SpanMultiTermQueryWrapper around Prefix/WildcardQuery).  A
        multi-term clause matches at the UNION of its expanded terms'
        positions;
        the near semantics are then exactly :meth:`search_span_near`
        (covering-span edit budget ≤ slop, strictly increasing
        positions when in_order).  Constant_score rewrite, doc_id
        order, score == boost.

        Prefixes expand on the sorted term dictionary (range scan);
        candidates are the intersection ACROSS clauses of the union
        WITHIN each clause of the terms' postings (tombstone-masked,
        :func:`_near_kernel`), so positions decode only for docs
        holding at least one term of every clause — one bucket-
        parallel job, no shuffle beyond the final TakeOrdered."""
        if len(clauses) < 2:
            raise ValueError("span_near needs at least 2 clauses")
        clause_terms: list[list[str]] = []
        for c in clauses:
            if "*" not in c and "?" not in c:
                clause_terms.append([self._one_term(c, "span clauses")])
                continue
            p = c.lower().strip()
            lead = re.split(r"[*?]", p, maxsplit=1)[0]
            if not lead:
                raise ValueError(
                    "span_multi patterns need a leading literal "
                    f"(got {c!r}) — an unanchored wildcard "
                    "expands the whole dictionary")
            cand = self.term_dict.filter(F.col("term").startswith(lead))
            if p != lead + "*":    # beyond plain prefix: confirm
                cand = cand.filter(F.col("term").rlike(_wildcard_regex(p)))
            exp = [r["term"] for r in cand.select("term").collect()]
            if len(exp) > self._MAX_TERM_ISIN:
                raise ValueError(
                    f"span_multi pattern {c!r} expands to "
                    f"{len(exp)} terms (> {self._MAX_TERM_ISIN})")
            clause_terms.append(sorted(exp))
        return self._near_job(clause_terms, slop, in_order, k, boost)

    def search_phrase_prefix(self, query: str, k: int = TOP_K_SIZE,
                             max_expansions: int = 50) -> DataFrame:
        """ES ``match_phrase_prefix`` (autocomplete): the last query
        token is a PREFIX, expanded over the index dictionary to the
        first ``max_expansions`` terms in term order (ES picks from
        index-dictionary order); phrase matching then treats the last
        slot as the UNION of the expansions' positions
        (MultiPhraseQuery, slop=0).  Scoring: idf_sum = Σ idf(exact
        terms) + idf(slot df) with slot df = max over expansion dfs —
        the SynonymQuery-style pseudo-term this engine uses for every
        expansion slot (Lucene's MultiPhraseQuery sums idf over ALL
        expanded terms, which explodes with wide prefixes; documented
        divergence, engine ≡ oracle bit-exact)."""
        from ..analysis import tokenize as _tok
        terms = _tok(query, stem=self.stem)
        if not terms:
            return self._empty()
        prefix, exact = terms[-1], terms[:-1]
        exp_rows = (self.term_dict
                    .filter(F.col("term").startswith(prefix))
                    .select("term", "df").orderBy("term")
                    .limit(max_expansions).collect())
        if not exp_rows:
            return self._empty()
        expansions = [r["term"] for r in exp_rows]
        slot_df = max(int(r["df"]) for r in exp_rows)
        stats = self.term_stats(list(dict.fromkeys(exact)))
        if any(t not in stats for t in exact):
            return self._empty()
        # duplicates contribute twice, query order, then the slot
        idf_sum = _idf_sum(self.n_docs,
                           [stats[t] for t in exact] + [slot_df])
        spec = ([[t] for t in exact] + [expansions], idf_sum)
        return self._phrase_job({"": spec}, k, 0)


def _idf_sum(n_docs: int, dfs: list[int]) -> float:
    """Left fold of the phrase slots' idfs (the oracle's order)."""
    s = 0.0
    for df_ in dfs:
        s += bm25_idf(n_docs, df_)
    return s


def search_many_synonyms(engine: SearchEngine,
                         queries: dict[str, str], synonyms: dict,
                         k: int = TOP_K_SIZE) -> "DataFrame":
    """Batched SYNONYM-EXPANDED conjunctive search: every query in
    ONE job with shared decodes (the reference applies synonym_graph
    on all searches, so the batched offline-eval shape needs it too).
    Same kernel and broadcast-side GLOBAL slot dfs as
    ``SearchEngine.search_synonyms`` — bit-exact by construction."""
    from ..oracle import _analyze_slots
    qslots = {qid: _analyze_slots(q, synonyms, stem=engine.stem)
              for qid, q in queries.items()}
    return engine._slots_job({qid: s for qid, s in qslots.items() if s},
                             k, batched=True)


def search_many_or(engine: SearchEngine, queries: dict[str, str],
                   k: int = TOP_K_SIZE) -> "DataFrame":
    """Batched DISJUNCTIVE search: all queries in ONE job (shared
    segment scan + decodes per bucket), per-query top-k.  Same
    MaxScore kernel as per-query ``search_or`` — bit-exact by
    construction."""
    return engine._or_job({qid: (ts, 1) for qid, ts
                           in _analyzed(engine, queries).items()},
                          k, batched=True)


def search_many_phrase(engine: "PhraseEngine", queries: dict[str, str],
                       k: int = TOP_K_SIZE, slop: int = 0
                       ) -> "DataFrame":
    """Batched match_phrase: ALL phrase queries answered in ONE job —
    the segment scan covers the union of query terms, decoded partials
    (postings AND position streams) are shared across queries inside
    each bucket, output is (query_id, doc_id, score) with per-query
    top-k.  ``slop`` applies to every query (Lucene sloppy matcher;
    repeated-term phrases use the distinct-position repeats rule —
    see oracle.lucene_sloppy_freq).  Queries with a globally-missing
    term drop out.  Same kernel as per-query ``search_phrase`` —
    bit-exact by construction."""
    from ..analysis import tokenize as _tok
    specs = engine._phrase_specs(
        {qid: _tok(q, stem=engine.stem) for qid, q in queries.items()})
    return engine._phrase_job(specs, k, slop, batched=True)


def search_multi_index(engines: list["SearchEngine"], query: str,
                       k: int = TOP_K_SIZE,
                       boosts: list[float] | None = None) -> DataFrame:
    """ES multi-index search (``index1,index2/_search``), default
    ``query_then_fetch``: every index scores with ITS OWN statistics
    (N, df, avgdl) — exactly ES without ``dfs_query_then_fetch`` —
    each returns a LOCAL top-k, and the global top-k is the merge
    (score desc, doc_id asc).  A local top-k per shard is sufficient
    for an exact global top-k, so the merge moves at most
    ``k * n_indexes`` rows.

    This is the 100-TB sharding story: build per-partition indexes
    (per month / per source / per tenant), fan the query out, merge
    k-sized results — index builds stay bounded and incremental, and
    a query touches only the shards its filter selects (callers pass
    the pruned engine list).  Doc ids must be globally unique across
    the indexes (the builders' contract).

    ``boosts`` is ES ``indices_boost``: a positive per-index score
    multiplier applied before the merge.  A positive boost is
    monotone within an index, so each local top-k is STILL sufficient
    for the exact global top-k — the boost changes only how the
    k-sized local lists interleave.

    Reference behavior: ES multi-index search / cross-cluster
    search; reference repo queries exactly one index
    (apiserver search) — beyond-ref surface."""
    if not engines:
        raise ValueError("search_multi_index needs at least one "
                         "engine")
    if boosts is not None:
        if len(boosts) != len(engines):
            raise ValueError("boosts must match engines 1:1")
        if any(b <= 0 for b in boosts):
            raise ValueError("indices_boost factors must be positive")
    parts = [e.search(query, k=k) for e in engines]
    if boosts is not None:
        parts = [p.withColumn(
            "score", F.col("score") * F.lit(float(b)))
            for p, b in zip(parts, boosts)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
