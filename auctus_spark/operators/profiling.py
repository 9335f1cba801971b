"""Column profiling = the reference's sketch/aggregate layer, as
DataFrame aggregations.

Reference: ``lib_profiler/datamart_profiler`` — mean/stddev
(``numerical.py:17-35``), histograms (``core.py:348-444``), distinct
counts (``profile_types.py:214``), temporal resolution detection
(``temporal.py:36-71``), dataset-type counts (``core.py:729-746``),
type-detect regex voting (``profile_types.py:16-126``), numerical range
sketches (``numerical.py:38-86``).

Everything is a built-in aggregation; the only custom math is the
range-sketch clustering: a seeded 1-D k-means++/Lloyd's implementation
matching the reference's sklearn KMeans contract exactly (k≤3, seed 0,
n_init=10, k-means++ with n_local_trials; ≥10%% mass per cluster,
[5th,95th] percentile bounds per cluster).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analysis import spark_token_runs
from ..session import no_rows

MAX_UNCLEAN = 0.02          # profile_types.py:82
CATEGORICAL_RATIO = 0.10    # profile_types.py:92
FREE_TEXT_MIN_WORDS = 4     # profile_types.py:87-88
N_RANGES = 3                # numerical.py:13
MIN_RANGE_SIZE = 0.10       # numerical.py:14
FLOAT32_MAX = 3.4028235e38  # ES float clamp, core.py:327-336

# temporal aggregation keys, coarse→fine probe order exactly as the
# reference dict iteration (temporal.py:15-33); Spark date_trunc('week')
# is Monday-start, same as the reference's dt.weekday() mapping
RESOLUTIONS = ["year", "quarter", "month", "week", "day",
               "hour", "minute", "second"]


def small_scan_cap() -> int:
    """Largest input, in bytes, that :func:`fan_out_small_scan`
    spreads over all cores: ``AUCTUS_SMALL_SCAN_BYTES``, 256 MB when
    unset."""
    return int(os.environ.get("AUCTUS_SMALL_SCAN_BYTES", str(256 << 20)))


def fan_out_small_scan(df: DataFrame, *keys: str) -> DataFrame:
    """THE small-scan fan-out gate (guide §2.5 "input skew"): a
    single-row-group parquet file scans as ONE task no matter the
    split size, serializing per-row work on 1 of N cores.

    Scale-adaptive: a file input with fewer files than cores and at
    most :func:`small_scan_cap` bytes is exchanged; many-file, large
    or non-file inputs are returned unchanged, so at real scale the
    zero-extra-shuffle plan shape is untouched.

    - No ``keys``: round-robin ``repartition(cores)``.  Only for
      consumers that are partition-order independent — per-row work
      (tokenize, vector math) or exact aggregates (counts,
      count_distinct, min/max) — NOT float sums/moments, whose
      partial-merge order is partition-dependent.
    - ``keys``: hash repartition by the keys, for a window or top-k
      partitioned by them.  It is the SAME exchange the window needs
      (EnsureRequirements adds no second shuffle) but sits below the
      map-side partial Sort + WindowGroupLimit Spark 3.5+ would
      otherwise run on the one scan task, and it avoids the local
      sort a round-robin repartition pays
      (spark.sql.execution.sortBeforeRepartition).

    The always-true NONDETERMINISTIC filter is a predicate-pushdown
    fence: predicates (and the partial WindowGroupLimit) cannot be
    reordered across it, so downstream per-row work stays above the
    exchange instead of being pushed back onto the single scan
    task."""
    spark = df.sparkSession
    try:
        from urllib.parse import urlparse
        files = df.inputFiles()
        total = sum(os.path.getsize(urlparse(f).path) for f in files)
    except Exception:
        return df
    cores = spark.sparkContext.defaultParallelism
    if not (0 < len(files) < cores and total <= small_scan_cap()):
        return df
    spread = (df.repartition(*[F.col(k) for k in keys]) if keys
              else df.repartition(cores))
    return spread.filter(F.monotonically_increasing_id() >= 0)


def numeric_profile(df: DataFrame, col: str) -> DataFrame:
    """mean + population stddev + distinct count + min/max, one pass."""
    return df.agg(
        F.avg(col).alias("mean"),
        F.stddev_pop(col).alias("stddev"),
        F.count_distinct(col).alias("num_distinct_values"),
        F.min(col).alias("min"),
        F.max(col).alias("max"))


def clamp_float32(col):
    """ES float32 overflow clamp (reference core.py:327-336)."""
    return F.least(F.greatest(F.col(col), F.lit(-FLOAT32_MAX)),
                   F.lit(FLOAT32_MAX))


def numeric_histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """10-bin equal-width histogram (reference numpy.histogram parity,
    core.py:348-367): width_bucket over [min, max], last edge closed."""
    mm = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    lo, hi = float(mm["lo"]), float(mm["hi"])
    if lo == hi:
        hi = lo + 1.0
    b = F.least(F.floor((F.col(col) - F.lit(lo)) /
                        F.lit((hi - lo) / bins)).cast("long"),
                F.lit(bins - 1))
    return (df.filter(F.col(col).isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count("*").alias("count"))
            .withColumn("bin_start",
                        F.lit(lo) + F.col("bin") * F.lit((hi - lo) / bins))
            .orderBy("bin"))


def categorical_histogram(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    """top-5 most common values (reference core.py:401-420)."""
    return (df.groupBy(col).agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc(col)).limit(k))


def text_word_histogram(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    """top-5 lowercase words (reference core.py:422-444, \\W+ split)."""
    words = (df.select(F.explode(
        F.regexp_extract_all(F.lower(F.col(col)), F.lit(r"\w+"), F.lit(0)))
        .alias("word")))
    return (words.groupBy("word").agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc("word")).limit(k))


def temporal_histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """10-bin histogram over unix timestamps (core.py:380-399)."""
    ts = df.select(F.unix_timestamp(F.col(col)).alias("t"))
    return numeric_histogram(ts, "t", bins)


def temporal_resolution(df: DataFrame, col: str,
                        threshold: float = 1.05) -> str:
    """Detect resolution — EXACT reference rule (temporal.py:36-71):
    probe coarse→fine; the first resolution where avg DISTINCT values
    per bin < 1.05 wins; 'second' if none; single-value special case by
    finest nonzero component."""
    # Plan note (round-8 audit): the 8 distinct-aggregates compile to
    # an Expand(x9) + partial distinct-aggregation before ONE shuffle.
    # A pre-``distinct()`` pass was measured and REJECTED: it only
    # helps when the column's values repeat heavily (dates), and adds
    # a full extra shuffle when they are near-unique (event
    # timestamps) — the Expand's partial aggregation already collapses
    # each truncation to its distinct values before the exchange.
    # Every aggregate here is exact (count_distinct / min), so callers
    # with single-row-group inputs may pre-apply fan_out_small_scan —
    # result-identical, and it moves the Expand(x9) + partial
    # distinct-agg off the single scan task (measured sf0.1 orders:
    # 1.44 s -> 0.67 s median).  Not applied here: already-fanned
    # inputs would be exchanged twice (inputFiles() sees through a
    # repartition, so the helper cannot tell).
    counts = df.agg(
        F.count_distinct(col).alias("n"),
        F.min(col).alias("only"),
        *[F.count_distinct(F.date_trunc(r, F.col(col))).alias(r)
          for r in RESOLUTIONS]).collect()[0]
    n = counts["n"]
    if n == 0:
        return "second"
    if n == 1:
        v = counts["only"]
        if v.second:
            return "second"
        if v.minute:
            return "minute"
        if v.hour:
            return "hour"
        return "day"
    for r in RESOLUTIONS:
        bins = counts[r]
        if bins and n / bins < threshold:
            return r
    return "second"


def dataset_type_counts(profile: pd.DataFrame) -> dict[str, int]:
    """nb_*_columns vote (core.py:729-746) over a per-column profile
    frame with a ``kind`` column in {numerical,categorical,spatial,
    temporal}."""
    out = {f"nb_{k}_columns": 0 for k in
           ("numerical", "categorical", "spatial", "temporal")}
    for k, c in profile["kind"].value_counts().items():
        out[f"nb_{k}_columns"] = int(c)
    return out


# ---------------------------------------------------------------------
# structural type inference — regex voting with 2% unclean tolerance
# (profile_types.py:16-126, 186-214)
# ---------------------------------------------------------------------

_INT_RE = r"^[+-]?[0-9]+$"
_FLOAT_RE = r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"
_BOOL_RE = r"^(?i)(true|false|yes|no|0|1)$"
_URL_RE = r"^https?://"
_GEO_POINT_RE = r"^\s*POINT\s*\(-?[0-9.]+ -?[0-9.]+\)\s*$"


def _structural_aggs(col: str, prefix: str = "") -> list:
    """The full voting battery for one column as aggregate
    expressions (optionally name-prefixed so many columns share one
    agg)."""
    c = F.col(col)
    nonempty = F.count(F.when(c.isNotNull() & (c != ""), 1))
    return [
        nonempty.alias(f"{prefix}n"),
        (F.count(F.when(c.rlike(_INT_RE), 1)) / nonempty)
        .alias(f"{prefix}int_ratio"),
        (F.count(F.when(c.rlike(_FLOAT_RE), 1)) / nonempty)
        .alias(f"{prefix}float_ratio"),
        (F.count(F.when(c.rlike(_BOOL_RE), 1)) / nonempty)
        .alias(f"{prefix}bool_ratio"),
        (F.count(F.when(c.rlike(_URL_RE), 1)) / nonempty)
        .alias(f"{prefix}url_ratio"),
        (F.count(F.when(c.rlike(_GEO_POINT_RE), 1)) / nonempty)
        .alias(f"{prefix}point_ratio"),
        (F.count_distinct(c) / nonempty).alias(f"{prefix}distinct_ratio"),
        (F.count(F.when(F.size(F.split(c, r"\s+")) >=
                        FREE_TEXT_MIN_WORDS, 1)) / nonempty)
        .alias(f"{prefix}free_text_ratio"),
    ]


def infer_structural_types(df: DataFrame, col: str) -> DataFrame:
    """Single-pass regex voting (one scan computes all counters, like
    profile_types.py:95-126).  Returns one row of match ratios; the
    caller applies MAX_UNCLEAN (2%) tolerance."""
    return df.agg(*_structural_aggs(col))


def infer_structural_types_multi(df: DataFrame, cols: list[str]
                                 ) -> dict[str, dict]:
    """The voting battery for MANY columns in ONE scan/one job (the
    operators' own aggregate-once discipline — a per-column loop of
    agg jobs re-reads the table len(cols) times).  Returns
    {col: ratios-dict} ready for classify_column/semantic_flags."""
    aggs = []
    for i, col in enumerate(cols):
        aggs.extend(_structural_aggs(col, prefix=f"c{i}_"))
    row = df.agg(*aggs).collect()[0].asDict()
    return {col: {k[len(f"c{i}_"):]: v for k, v in row.items()
                  if k.startswith(f"c{i}_")}
            for i, col in enumerate(cols)}


def classify_column(ratios: dict) -> str:
    """Apply the reference's thresholds to the voting ratios."""
    tol = 1.0 - MAX_UNCLEAN
    if ratios["n"] == 0:
        return "MISSING_DATA"
    if ratios["int_ratio"] >= tol:
        return "INTEGER"
    if ratios["float_ratio"] >= tol:
        return "FLOAT"
    if ratios["point_ratio"] >= tol:
        return "GEO_POINT"
    return "TEXT"


def semantic_flags(ratios: dict) -> list[str]:
    out = []
    if ratios["bool_ratio"] >= 1.0 - MAX_UNCLEAN:
        out.append("BOOLEAN")
    if ratios["url_ratio"] >= 1.0 - MAX_UNCLEAN:
        out.append("URL")
    if ratios["distinct_ratio"] <= CATEGORICAL_RATIO:
        out.append("CATEGORICAL")
    if ratios["free_text_ratio"] >= 0.5:
        out.append("TEXT")
    return out


# ---------------------------------------------------------------------
# numerical range sketch (coverage) — seeded K-Means parity with the
# reference's KMeans(n_clusters<=3, random_state=0) (numerical.py:38-86)
# ---------------------------------------------------------------------

def _kmeans_pp_init(v: np.ndarray, k: int,
                    rng: np.random.RandomState) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii 2007), 1-D, with the
    greedy n_local_trials refinement sklearn uses."""
    n = v.size
    n_local_trials = 2 + int(np.log(k))
    centers = np.empty(k, dtype=np.float64)
    centers[0] = v[rng.randint(n)]
    closest = (v - centers[0]) ** 2
    pot = closest.sum()
    for c in range(1, k):
        if pot <= 0:
            centers[c:] = centers[0]
            break
        rand_vals = rng.uniform(size=n_local_trials) * pot
        cand_ids = np.searchsorted(np.cumsum(closest), rand_vals)
        cand_ids = np.clip(cand_ids, 0, n - 1)
        best_pot, best_id, best_closest = None, None, None
        for cid in cand_ids:
            d = np.minimum(closest, (v - v[cid]) ** 2)
            p = d.sum()
            if best_pot is None or p < best_pot:
                best_pot, best_id, best_closest = p, cid, d
        centers[c] = v[best_id]
        closest, pot = best_closest, best_pot
    return centers


def _kmeans_1d(v: np.ndarray, k: int, seed: int = 0, n_init: int = 10,
               max_iter: int = 300, tol: float = 1e-4
               ) -> tuple[np.ndarray, np.ndarray]:
    """Seeded Lloyd's over 1-D values: n_init k-means++ restarts, keep
    lowest inertia — the algorithm (and defaults) of the sklearn
    estimator the reference pins with ``random_state=0``."""
    rng = np.random.RandomState(seed)
    tol_abs = tol * v.var() if v.size else 0.0
    best = None
    for _ in range(n_init):
        centers = np.sort(_kmeans_pp_init(v, k, rng))
        for _ in range(max_iter):
            # 1-D assignment: nearest of sorted centers via midpoints
            mids = (centers[1:] + centers[:-1]) / 2.0
            labels = np.searchsorted(mids, v)
            sums = np.bincount(labels, weights=v, minlength=k)
            cnts = np.bincount(labels, minlength=k)
            new = centers.copy()
            nz = cnts > 0
            new[nz] = sums[nz] / cnts[nz]
            # relocate empty clusters to the farthest points
            if (~nz).any():
                d = (v - new[labels]) ** 2
                for j in np.nonzero(~nz)[0]:
                    far = int(np.argmax(d))
                    new[j] = v[far]
                    d[far] = 0.0
            new = np.sort(new)
            shift = ((new - centers) ** 2).sum()
            centers = new
            if shift <= tol_abs:
                break
        mids = (centers[1:] + centers[:-1]) / 2.0
        labels = np.searchsorted(mids, v)
        inertia = ((v - centers[labels]) ** 2).sum()
        if best is None or inertia < best[0]:
            best = (inertia, centers, labels)
    return best[1], best[2]


def _kmeans_pp_init_nd(X: np.ndarray, k: int,
                       rng: np.random.RandomState) -> np.ndarray:
    """k-means++ seeding over (n, d) points — the d-dimensional twin
    of ``_kmeans_pp_init`` (same greedy n_local_trials refinement)."""
    n = X.shape[0]
    n_local_trials = 2 + int(np.log(k))
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    closest = ((X - centers[0]) ** 2).sum(axis=1)
    pot = closest.sum()
    for c in range(1, k):
        if pot <= 0:
            centers[c:] = centers[0]
            break
        rand_vals = rng.uniform(size=n_local_trials) * pot
        cand_ids = np.searchsorted(np.cumsum(closest), rand_vals)
        cand_ids = np.clip(cand_ids, 0, n - 1)
        best_pot, best_id, best_closest = None, None, None
        for cid in cand_ids:
            d = np.minimum(closest, ((X - X[cid]) ** 2).sum(axis=1))
            p = d.sum()
            if best_pot is None or p < best_pot:
                best_pot, best_id, best_closest = p, cid, d
        centers[c] = X[best_id]
        closest, pot = best_closest, best_pot
    return centers


def _kmeans_nd(X: np.ndarray, k: int, seed: int = 0, n_init: int = 10,
               max_iter: int = 300, tol: float = 1e-4
               ) -> tuple[np.ndarray, np.ndarray]:
    """Seeded Lloyd's over (n, d) points: n_init k-means++ restarts,
    keep lowest inertia — the d-dimensional twin of ``_kmeans_1d``
    (the reference's spatial sketch pins
    ``KMeans(n_clusters=min(3, n), random_state=0)`` on (lat, long)
    pairs, spatial.py:49-106).  k is small (<= 3), so the (n, k)
    distance matrix is the right assignment strategy."""
    rng = np.random.RandomState(seed)
    tol_abs = tol * X.var(axis=0).sum() if X.size else 0.0
    best = None
    for _ in range(n_init):
        centers = _kmeans_pp_init_nd(X, k, rng)
        for _ in range(max_iter):
            d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
            labels = d2.argmin(axis=1)
            new = centers.copy()
            cnts = np.bincount(labels, minlength=k)
            for dim in range(X.shape[1]):
                sums = np.bincount(labels, weights=X[:, dim],
                                   minlength=k)
                nz = cnts > 0
                new[nz, dim] = sums[nz] / cnts[nz]
            if (cnts == 0).any():
                dd = ((X - new[labels]) ** 2).sum(axis=1)
                for j in np.nonzero(cnts == 0)[0]:
                    far = int(np.argmax(dd))
                    new[j] = X[far]
                    dd[far] = 0.0
            shift = ((new - centers) ** 2).sum()
            centers = new
            if shift <= tol_abs:
                break
        d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        labels = d2.argmin(axis=1)
        inertia = (d2[np.arange(X.shape[0]), labels]).sum()
        if best is None or inertia < best[0]:
            best = (inertia, centers, labels)
    return best[1], best[2]


def range_sketch_pdf(values: np.ndarray, n_ranges: int = N_RANGES,
                     min_size: float = MIN_RANGE_SIZE) -> list[dict]:
    """The reference's coverage sketch, exactly (numerical.py:38-86):
    KMeans(k=min(3, n), random_state=0) over the values, drop clusters
    under 10% mass, keep [cluster[int(.05*len)], cluster[int(.95*len)]]
    per surviving cluster, ranges sorted."""
    v = values[~np.isnan(values)].astype(np.float64)
    if v.size == 0:
        return []
    k = min(n_ranges, v.size)
    if v.min() == v.max():
        return [{"gte": float(v[0]), "lte": float(v[0])}]
    _, labels = _kmeans_1d(v, k, seed=0)
    out = []
    for rg in range(k):
        cluster = np.sort(v[labels == rg])
        if cluster.size == 0 or cluster.size < min_size * v.size:
            continue
        out.append([float(cluster[int(0.05 * cluster.size)]),
                    float(cluster[int(0.95 * cluster.size)])])
    out.sort()
    return [{"gte": lo, "lte": hi} for lo, hi in out]


def range_sketch(df: DataFrame, col: str, sample_cap: int = 100_000,
                 seed: int = 89, n_rows: int | None = None) -> list[dict]:
    """Distributed wrapper: sample-bounded collect (the reference also
    profiles a 5 MB random sample, core.py:33-36) then the
    deterministic 1-D sketch.  ``n_rows`` lets a caller that already
    counted ``df`` (profile_dataset counts once for nb_rows) skip the
    per-column count job — same n, same sample fraction, identical
    sketch."""
    n = df.count() if n_rows is None else n_rows
    frac = min(1.0, sample_cap / max(n, 1))
    vals = (df.select(F.col(col).cast("double").alias("v"))
            .filter(F.col("v").isNotNull()))
    if frac < 1.0:
        vals = vals.sample(fraction=frac, seed=seed)
    arr = np.array([r["v"] for r in vals.collect()], dtype=np.float64)
    return range_sketch_pdf(arr)


def percentile_profile(df: DataFrame, col: str,
                       ps: list[float] | None = None,
                       by: str | None = None) -> DataFrame:
    """EXACT percentiles (linear interpolation, the ANSI
    PERCENTILE_CONT contract) of ``col``, optionally grouped by
    ``by``.  One row per (group, p): (``by``?, p, value).

    Spark's ``percentile`` aggregate is exact (sort-based within the
    aggregation — not the t-digest ``approx_percentile``); DuckDB's
    ``quantile_cont`` computes the identical interpolated statistic,
    which is what makes this oracle-gateable bit-for-bit.  At 100 TB
    the exact form is still one shuffle (map-side partial sort
    buffers); swap in ``approx_percentile`` only when the per-group
    cardinality makes exact memory-infeasible — same output shape.
    """
    ps = ps or [0.05, 0.25, 0.5, 0.75, 0.95]
    pcol = F.percentile(F.col(col), F.array(*[F.lit(p) for p in ps]))
    keys = [by] if by else []
    agg = (df.groupBy(*keys) if keys else df.groupBy()) \
        .agg(pcol.alias("_q"))
    pairs = F.arrays_zip(F.array(*[F.lit(p) for p in ps]).alias("p"),
                         F.col("_q").alias("value"))
    out = agg.select(*keys, F.explode(pairs).alias("_e")) \
        .select(*keys, F.col("_e.p").alias("p"),
                F.round(F.col("_e.value"), 6).alias("value"))
    return out


def significant_terms(df: DataFrame, fg_filter,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      k: int = 10,
                      min_doc_count: int = 3) -> DataFrame:
    """ES ``significant_terms`` aggregation analog: terms
    over-represented in a foreground subset vs the whole corpus,
    scored with ES's JLH heuristic.

    ``fg_filter`` is a boolean Column selecting the foreground docs
    (ES: the query scope; here e.g. ``F.col("lang") == "de"``).  For
    each term (engine tokenization, document frequency = docs
    containing it):

        fg_pct = df_fg / n_fg          bg_pct = df_bg / n_bg
        jlh    = (fg_pct - bg_pct) * (fg_pct / bg_pct)

    keeping terms with ``df_fg >= min_doc_count`` and fg_pct > bg_pct
    (positively significant only, as ES).  Returns top-``k`` by
    (jlh DESC, term ASC): (term, df_fg, df_bg, jlh).

    Scale shape: one scan computes per-doc distinct terms with the
    fg flag; one groupBy(term) builds both counts via conditional
    aggregation (no second pass over the corpus, no join); the
    corpus-level n_fg/n_bg scalars ride a 2-row broadcast.  This is
    the background_is_superset=true ES default — bg counts include
    the foreground.
    """
    toks = spark_token_runs(F.lower(F.col(text_col)))
    d = df.select(F.col(id_col).alias("doc_id"),
                  fg_filter.cast("int").alias("_fg"),
                  F.array_distinct(toks).alias("_terms"))
    totals = d.agg(F.sum("_fg").alias("n_fg"),
                   F.count("*").alias("n_bg"))
    per_term = (d.select("_fg", F.explode("_terms").alias("term"))
                .groupBy("term")
                .agg(F.sum("_fg").alias("df_fg"),
                     F.count("*").alias("df_bg")))
    j = per_term.crossJoin(F.broadcast(totals))
    fg_pct = F.col("df_fg") / F.col("n_fg")
    bg_pct = F.col("df_bg") / F.col("n_bg")
    jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    return (j.filter((F.col("df_fg") >= min_doc_count)
                     & (fg_pct > bg_pct))
            .select("term", "df_fg", "df_bg",
                    F.round(jlh, 6).alias("jlh"))
            .orderBy(F.col("jlh").desc(), F.col("term").asc())
            .limit(k))


def hll_alpha(m: int) -> float:
    """Bias-correction constant from the published HLL paper
    (Flajolet, Fusy, Gandouet, Meunier 2007, §4); m >= 128 branch."""
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_cardinality(df: DataFrame, col: str, p: int = 12) -> DataFrame:
    """ES ``cardinality`` aggregation analog: a HyperLogLog distinct
    count (Flajolet et al. 2007) that is DETERMINISTIC and
    cross-engine reproducible — unlike ``approx_count_distinct``
    (whose HLL++ hash/merge is Spark-internal), this sketch is fully
    re-derivable in ANSI SQL, so the DuckDB oracle recomputes the
    identical registers and estimate bit-for-bit.

    Hash: first 60 bits of md5(value::string); register = top ``p``
    bits, rho = leading-zero count of the remaining ``60-p`` bits + 1
    (all integer arithmetic — no float bit-twiddling).  Estimate:
    alpha_m * m^2 / sum(2^-M_j), with the paper's small-range
    linear-counting correction (E <= 2.5m and empty registers
    present -> m*ln(m/V)).  The 32-bit large-range correction is
    unnecessary at a 60-bit hash and is omitted (documented
    divergence from the 2007 paper's 32-bit setup).

    Scale shape: one scan -> partial max per register (map-side
    combine), a shuffle of at most m=2^p tiny rows, one scalar
    reduce.  Register sums use INTEGER 2^(K-M_j) terms so the
    reduction is order-independent (exact), not float-associative.

    Returns one row: (estimate double, registers_used long,
    exact_small boolean — true when the linear-counting branch fired).
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    w = 60 - p                      # suffix width in bits
    suf_mod = 1 << w
    k_max = w + 1                   # rho for an all-zero suffix
    alpha = hll_alpha(m)
    v = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15),
               16, 10).cast("long")
    h = df.select(v.alias("_v")).select(
        F.expr(f"_v div {suf_mod}").alias("_reg"),
        (F.col("_v") % suf_mod).alias("_suf"))
    rho = (F.when(F.col("_suf") == 0, F.lit(k_max))
           .otherwise(F.lit(k_max)
                      - F.length(F.conv(F.col("_suf"), 10, 2))))
    regs = (h.select("_reg", rho.alias("_rho"))
            .groupBy("_reg").agg(F.max("_rho").alias("_m")))
    agg = regs.agg(
        F.sum(F.expr(f"shiftleft(1L, {k_max} - _m)")).alias("_s"),
        F.count("*").alias("_n"))
    # s_total = sum(2^(k_max - M_j)) over ALL m registers (absent
    # registers have M_j = 0) — exact BIGINT (max m * 2^k_max < 2^63),
    # so the only rounding is the single final BIGINT->double cast
    # (deterministic IEEE, identical in the SQL oracle)
    zeros = F.lit(m) - F.coalesce(F.col("_n"), F.lit(0))
    s_total = (F.coalesce(F.col("_s"), F.lit(0))
               + zeros.cast("long") * F.lit(1 << k_max))
    numerator = alpha * m * m * float(1 << k_max)  # one shared literal
    est_raw = F.lit(numerator) / s_total.cast("double")
    small = (est_raw <= F.lit(2.5 * m)) & (zeros > 0)
    est = F.when(small,
                 F.lit(float(m)) * F.log(F.lit(float(m))
                                         / zeros.cast("double"))) \
        .otherwise(est_raw)
    return agg.select(
        est.alias("estimate"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("long")
        .alias("registers_used"),
        small.alias("exact_small"))


def date_histogram(df: DataFrame, col: str,
                   interval: str = "month",
                   min_doc_count: int = 1) -> DataFrame:
    """ES ``date_histogram`` aggregation with a calendar interval
    (``year``/``quarter``/``month``/``week``/``day``/``hour``):
    buckets are calendar-aligned via ``date_trunc`` (weeks start
    Monday, the ES default), counted per bucket.  With
    ``min_doc_count=0`` the bucket axis is DENSE like ES: every
    calendar step between the corpus min and max appears, zeros
    included — materialized with ``sequence()`` over the truncated
    bounds (a few thousand rows at worst, broadcast side).

    Returns (bucket_start timestamp, count long) ordered by bucket.
    One scan + partial agg; the dense axis joins the tiny aggregated
    table, never the raw scan."""
    if interval not in ("year", "quarter", "month", "week", "day",
                        "hour"):
        raise ValueError(f"unsupported calendar interval {interval!r}")
    b = df.select(F.date_trunc(interval, F.col(col)).alias("bucket"))
    counts = (b.filter(F.col("bucket").isNotNull())
              .groupBy("bucket").agg(F.count("*").alias("count")))
    if min_doc_count <= 0:
        step = {"year": "interval 1 year",
                "quarter": "interval 3 month",
                "month": "interval 1 month",
                "week": "interval 7 day",
                "day": "interval 1 day",
                "hour": "interval 1 hour"}[interval]
        bounds = counts.agg(F.min("bucket").alias("lo"),
                            F.max("bucket").alias("hi"))
        axis = bounds.select(F.explode(F.expr(
            f"sequence(lo, hi, {step})")).alias("bucket"))
        counts = (axis.join(counts, "bucket", "left")
                  .select("bucket",
                          F.coalesce(F.col("count"), F.lit(0))
                          .alias("count")))
    else:
        counts = counts.filter(F.col("count") >= min_doc_count)
    return (counts.select(F.col("bucket").alias("bucket_start"),
                          F.col("count").cast("long").alias("count"))
            .orderBy("bucket_start"))


def composite_agg(df: DataFrame, sources: list[str], size: int = 10,
                  after: dict | None = None) -> DataFrame:
    """ES ``composite`` aggregation: multi-source bucket counts with
    cursor paging — buckets order by the source tuple ascending, and
    ``after`` (the last bucket of the previous page, ES's
    ``after_key``) resumes STRICTLY past that tuple.  This is the ES
    way to stream ALL buckets of a high-cardinality group-by in
    bounded pages; unlike from/size it never re-aggregates skipped
    buckets.

    Returns (sources..., doc_count) — the next ``size`` buckets.
    Scale shape: one groupBy; the after-cursor is a scan predicate
    (sargable tuple comparison pushed below the aggregation), so a
    page deep in the keyspace still prunes at the scan.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    if after is not None and list(after) != sources:
        raise ValueError("after keys must match sources")
    d = df
    if after is not None:
        # lexicographic (s1, s2, ...) > (a1, a2, ...)
        cond = None
        eq = None
        for s in sources:
            gt = F.col(s) > F.lit(after[s])
            this = gt if eq is None else eq & gt
            cond = this if cond is None else cond | this
            e = F.col(s) == F.lit(after[s])
            eq = e if eq is None else eq & e
        d = d.filter(cond)
    return (d.groupBy(*sources)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(*[F.asc(s) for s in sources])
            .limit(size))


def rare_terms(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", max_doc_count: int = 1,
               k: int = 100) -> DataFrame:
    """ES ``rare_terms`` aggregation: terms appearing in at most
    ``max_doc_count`` documents (the long tail a ``terms`` agg's
    size-cap hides), ordered (df asc, term asc).  One scan: per-doc
    distinct terms explode into one groupBy."""
    toks = spark_token_runs(F.lower(F.col(text_col)))
    per_doc = df.select(F.col(id_col).alias("_id"),
                        F.explode(F.array_distinct(toks)).alias("term"))
    return (per_doc.groupBy("term")
            .agg(F.count("*").alias("doc_count"))
            .filter(F.col("doc_count") <= max_doc_count)
            .orderBy(F.asc("doc_count"), F.asc("term"))
            .limit(k))


def bucket_pipeline(buckets: DataFrame, value_col: str = "count",
                    order_col: str = "bucket_start",
                    window: int = 3) -> DataFrame:
    """ES pipeline aggregations over a bucket table (the
    date_histogram output shape): ``cumulative_sum``, ``derivative``
    (ES: null for the first bucket) and ``moving_fn`` unweighted
    average over the trailing ``window`` buckets (current included).

    The window runs over the WHOLE bucket axis in one partition —
    correct for pipeline aggs by definition (buckets are already the
    aggregated, axis-sized table, thousands of rows at most), never
    applied to raw data."""
    from pyspark.sql import Window
    w = Window.orderBy(F.asc(order_col))
    v = F.col(value_col)
    return buckets.select(
        order_col, value_col,
        F.sum(v).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cumulative_sum"),
        (v - F.lag(v, 1).over(w)).alias("derivative"),
        F.avg(v).over(w.rowsBetween(-(window - 1), 0))
        .alias(f"moving_avg_{window}"))


def _md5_hash_expr(i: int, col, mod: int):
    """The shared cross-engine hash: first 60 bits of
    md5('<i>:' || value) mod ``mod`` — identical in Spark, DuckDB
    and Python's hashlib, so sketches built on it are re-derivable
    anywhere."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{i}:"), col.cast("string"))), 1, 15),
        16, 10).cast("long") % mod)


def _md5_hash_py(i: int, value, mod: int) -> int:
    import hashlib
    h = hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:15]
    return int(h, 16) % mod


def cms_estimates(df: DataFrame, col: str, keys: list,
                  w: int = 1024, d: int = 4) -> DataFrame:
    """Count-min sketch point estimates (Cormode & Muthukrishnan
    2005): d rows of w counters, each row keyed by an independent
    md5-derived hash; estimate(key) = min over rows of the key's
    counter.  One-sided error — estimate >= true count ALWAYS, with
    overshoot <= 2N/w at probability 1-2^-d.  Like
    :func:`hll_cardinality`, the hash is engine-neutral md5, so the
    DuckDB oracle rebuilds the identical counters and estimates.

    Returns (key string, estimate long).  Scale shape: ONE scan
    explodes each row into its d (row, bucket) pairs -> groupBy
    (map-side combine) onto a <= w*d-row counter table; the probe
    keys' buckets are computed driver-side (same md5) and
    broadcast-joined.
    """
    if w <= 0 or d <= 0:
        raise ValueError("w and d must be positive")
    spark = df.sparkSession
    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"),
                 _md5_hash_expr(i, F.col(col), w).alias("b"))
        for i in range(d)])).alias("s")).select("s.i", "s.b")
    counters = pairs.groupBy("i", "b").agg(F.count("*").alias("cnt"))
    probe = spark.createDataFrame(
        [(str(k), i, _md5_hash_py(i, k, w))
         for k in keys for i in range(d)],
        "key string, i int, b long")
    return (probe.join(counters, ["i", "b"], "left")
            .groupBy("key")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("long").alias("estimate")))


def bloom_contains(df: DataFrame, col: str, keys: list,
                   m: int = 4096, k: int = 4) -> DataFrame:
    """Bloom-filter membership (Bloom 1970): k md5-derived bit
    positions per value over an m-bit filter; a probe key is
    maybe-present iff ALL its k bits are set.  No false negatives
    ever; false-positive rate ~(1-e^{-kn/m})^k.  The filter is
    materialized as its SET-BIT table (<= m rows) — engine-neutral,
    so the oracle rebuilds it bit-for-bit.

    Returns (key string, maybe_present boolean).  One scan, <= m-row
    distinct-bit table, broadcast probe join.
    """
    if m <= 0 or k <= 0:
        raise ValueError("m and k must be positive")
    spark = df.sparkSession
    bits = (df.select(F.explode(F.array(*[
        _md5_hash_expr(i, F.col(col), m) for i in range(k)]))
        .alias("b")).distinct())
    probe = spark.createDataFrame(
        [(str(key), i, _md5_hash_py(i, key, m))
         for key in keys for i in range(k)],
        "key string, i int, b long")
    return (probe.join(bits, "b", "left_semi")
            .groupBy("key").agg(F.count("*").alias("_hits"))
            .join(probe.select("key").distinct(), "key", "right")
            .select("key",
                    (F.coalesce(F.col("_hits"), F.lit(0)) == k)
                    .alias("maybe_present")))


def filters_agg(docs: DataFrame, filters: dict[str, list[str]],
                text_col: str = "text") -> DataFrame:
    """ES ``filters`` aggregation: named buckets, each counting the
    docs whose analyzed text contains ALL of the bucket's terms
    (match-AND filters — the reduction of ES's per-bucket query DSL
    this engine's other surfaces share).

    Returns (bucket, doc_count) — one row per named filter, bucket
    order = name asc (ES returns insertion order; sorted is the
    deterministic contract here).  Scale shape: ONE scan, every
    bucket a conditional sum over the same tokenized row (no
    per-filter passes, no shuffle beyond the single partial+final
    aggregate); the unpivot runs on the 1-row aggregate output.

    Reference: ES search-aggregations-bucket-filters; the reference
    repo's faceted search uses the single-filter form
    (lib_core search).
    """
    toks = spark_token_runs(F.lower(F.col(text_col)))
    row = docs.select(toks.alias("_t"))
    names = sorted(filters)
    aggs = []
    for i, name in enumerate(names):
        qarr = F.array(*[F.lit(t) for t in sorted(set(filters[name]))])
        n_req = len(set(filters[name]))
        cond = F.size(F.array_intersect(F.col("_t"), qarr)) == n_req
        aggs.append(F.sum(F.when(cond, 1).otherwise(0))
                    .cast("long").alias(f"_b{i}"))
    one = row.agg(*aggs)
    stack = ", ".join(f"'{n}', _b{i}" for i, n in enumerate(names))
    return (one.selectExpr(
        f"stack({len(names)}, {stack}) AS (bucket, doc_count)")
        .orderBy("bucket"))


def range_agg(df: DataFrame, col: str,
              ranges: list[tuple[float | None, float | None]]
              ) -> DataFrame:
    """ES ``range`` aggregation: half-open [from, to) numeric buckets
    (ES includes ``from``, excludes ``to``; None = unbounded), each
    independently counted — buckets may overlap, exactly like ES.

    Returns (bucket, range_from, range_to, doc_count), bucket the ES
    key ``"from-to"`` with ``*`` for unbounded.  ONE scan, one
    conditional sum per bucket (partial agg), unpivot on the 1-row
    output."""
    aggs = []
    keys = []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= float(lo))
        if hi is not None:
            cond = cond & (F.col(col) < float(hi))
        keys.append((f"{'*' if lo is None else lo}-"
                     f"{'*' if hi is None else hi}", lo, hi))
        aggs.append(F.sum(F.when(cond & F.col(col).isNotNull(), 1)
                          .otherwise(0)).cast("long").alias(f"_b{i}"))
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{k}', CAST({'NULL' if lo is None else repr(float(lo))} "
        f"AS DOUBLE), "
        f"CAST({'NULL' if hi is None else repr(float(hi))} AS DOUBLE), "
        f"_b{i}"
        for i, (k, lo, hi) in enumerate(keys))
    return (one.selectExpr(
        f"stack({len(keys)}, {stack}) "
        "AS (bucket, range_from, range_to, doc_count)")
        .orderBy("bucket"))


def adjacency_matrix_agg(docs: DataFrame,
                         filters: dict[str, list[str]],
                         text_col: str = "text") -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: for named term filters,
    the doc counts of every filter AND every pairwise intersection
    (key "a&b", a < b, ES's separator) — one row per non-empty cell.

    ONE scan: each filter's membership evaluates once per row into a
    boolean, singles and pairs are conditional sums over those
    booleans (n + n(n-1)/2 counters; ES caps n at 100 for the same
    quadratic reason — enforced here too)."""
    names = sorted(filters)
    if len(names) > 100:
        raise ValueError("adjacency_matrix caps at 100 filters (ES "
                         "max_adjacency_matrix_filters)")
    toks = spark_token_runs(F.lower(F.col(text_col)))
    flags = []
    for name in names:
        qarr = F.array(*[F.lit(t) for t in sorted(set(filters[name]))])
        n_req = len(set(filters[name]))
        flags.append((F.size(F.array_intersect(toks, qarr)) == n_req)
                     .alias(f"_f_{name}"))
    row = docs.select(*flags)
    aggs = []
    keys = []
    for i, a in enumerate(names):
        keys.append(a)
        aggs.append(F.sum(F.when(F.col(f"_f_{a}"), 1).otherwise(0))
                    .cast("long").alias(f"_c{len(keys) - 1}"))
        for b in names[i + 1:]:
            keys.append(f"{a}&{b}")
            aggs.append(F.sum(F.when(F.col(f"_f_{a}")
                                     & F.col(f"_f_{b}"), 1)
                              .otherwise(0))
                        .cast("long").alias(f"_c{len(keys) - 1}"))
    one = row.agg(*aggs)
    stack = ", ".join(f"'{k}', _c{i}" for i, k in enumerate(keys))
    return (one.selectExpr(
        f"stack({len(keys)}, {stack}) AS (bucket, doc_count)")
        .filter(F.col("doc_count") > 0)
        .orderBy("bucket"))


def histogram_agg(df: DataFrame, col: str, interval: float,
                  offset: float = 0.0, min_doc_count: int = 1
                  ) -> DataFrame:
    """ES ``histogram`` aggregation: fixed-interval numeric buckets,
    key = floor((value - offset) / interval) * interval + offset (the
    published ES bucketing formula — correct for negatives, unlike a
    truncating cast).

    Returns (bucket_key, doc_count) ordered by key; buckets below
    ``min_doc_count`` drop (ES default 0 returns empty buckets over
    the full extent — that form needs the min/max first and is a
    different, two-job shape; the sparse form here is the streamed
    one).  ONE scan + one partial-aggregated groupBy on the bucket
    key — the same shape Catalyst gives date_histogram above.

    Reference: ES search-aggregations-bucket-histogram; the reference
    repo's numeric profiling histograms (lib_profiler temporal.py /
    numerical ranges) are the KMeans-sketch cousins — this is the
    ES-parity fixed-interval form."""
    if interval <= 0:
        raise ValueError("histogram interval must be > 0")
    key = (F.floor((F.col(col) - float(offset)) / float(interval))
           * float(interval) + float(offset)).cast("double")
    return (df.filter(F.col(col).isNotNull())
            .groupBy(key.alias("bucket_key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .filter(F.col("doc_count") >= int(min_doc_count))
            .orderBy("bucket_key"))


def extended_stats_agg(df: DataFrame, col: str,
                       sigma: float = 2.0) -> DataFrame:
    """ES ``extended_stats`` aggregation: one row with count / min /
    max / sum / avg / sum_of_squares / variance (population, like ES)
    / std_deviation and the ±sigma bounds.

    ONE scan, all measures partial-aggregated in the same job;
    variance computed from the aggregated moments (sum_sq/n - mean²,
    ES's own formula) rather than var_pop so the row is a single
    1-pass aggregate.  Reference: ES
    search-aggregations-metrics-extendedstats."""
    c = F.col(col)
    one = (df.filter(c.isNotNull())
           .agg(F.count(c).alias("count"),
                F.min(c).cast("double").alias("min"),
                F.max(c).cast("double").alias("max"),
                F.sum(c).cast("double").alias("sum"),
                F.sum(c * c).cast("double").alias("sum_of_squares")))
    avg = F.col("sum") / F.col("count")
    var = F.col("sum_of_squares") / F.col("count") - avg * avg
    # moment subtraction can go −0.0/-eps on constant columns
    var = F.greatest(var, F.lit(0.0))
    sd = F.sqrt(var)
    return one.select(
        "count", "min", "max", "sum",
        avg.alias("avg"), "sum_of_squares",
        var.alias("variance"), sd.alias("std_deviation"),
        (avg + float(sigma) * sd).alias("std_deviation_bound_upper"),
        (avg - float(sigma) * sd).alias("std_deviation_bound_lower"))


def top_hits_agg(df: DataFrame, group_col: str, sort_col: str,
                 size: int = 3, ascending: bool = False,
                 tiebreak_col: str | None = None) -> DataFrame:
    """ES ``top_hits`` sub-aggregation under a terms bucketing: the
    top ``size`` rows per bucket by ``sort_col`` (desc by default),
    ties broken by ``tiebreak_col`` asc (required for determinism —
    ES breaks ties by internal doc id; callers must name a real
    column).

    Returns the full input rows + (bucket = group value, hit_rank
    1..size), ordered by (bucket, hit_rank).  Scale shape: ONE
    shuffle on the group key, per-partition TOP-K via row_number over
    the window — Spark's WindowExec sorts within partitions only, no
    global sort; with AQE a skewed bucket splits at the shuffle.
    Reference: ES search-aggregations-metrics-top-hits."""
    from pyspark.sql import Window
    if tiebreak_col is None:
        raise ValueError("top_hits_agg needs tiebreak_col for a "
                         "deterministic contract")
    s = (F.asc(sort_col) if ascending else F.desc(sort_col))
    w = (Window.partitionBy(group_col)
         .orderBy(s, F.asc(tiebreak_col)))
    return (df.withColumn("hit_rank", F.row_number().over(w))
            .filter(F.col("hit_rank") <= int(size))
            .withColumnRenamed(group_col, "bucket")
            .orderBy("bucket", "hit_rank"))


def percentile_ranks_agg(df: DataFrame, col: str,
                         values: list[float]) -> DataFrame:
    """ES ``percentile_ranks`` aggregation: for each given value, the
    percentage of observed values that are <= it (the empirical CDF
    ×100 — ES computes the same quantity through its TDigest sketch;
    exact here, documented divergence like boxplot_agg).

    Returns (value, percentile_rank) one row per requested value,
    value order.  ONE scan: total + one conditional sum per value,
    all partial-aggregated; unpivot on the 1-row output."""
    vs = [float(v) for v in values]
    aggs = [F.count(F.when(F.col(col).isNotNull(), 1)).alias("_n")]
    for i, v in enumerate(vs):
        aggs.append(F.sum(F.when(F.col(col) <= v, 1).otherwise(0))
                    .cast("long").alias(f"_c{i}"))
    one = df.agg(*aggs)
    stack = ", ".join(
        f"CAST({v!r} AS DOUBLE), "
        f"CAST(100.0 * _c{i} / _n AS DOUBLE)"
        for i, v in enumerate(vs))
    return (one.selectExpr(
        f"stack({len(vs)}, {stack}) AS (value, percentile_rank)")
        .orderBy("value"))


def boxplot_agg(df: DataFrame, col: str) -> DataFrame:
    """ES ``boxplot`` aggregation: one row (min, q1, q2, q3, max,
    iqr) — EXACT linear-interpolated quartiles (ANSI PERCENTILE_CONT;
    ES computes them through TDigest, documented divergence, same
    statistic in the exact limit).  One scan, quartiles and extremes
    in a single sort-based aggregate."""
    q = F.percentile(F.col(col), F.array(F.lit(0.25), F.lit(0.5),
                                         F.lit(0.75)))
    one = (df.filter(F.col(col).isNotNull())
           .agg(F.min(col).cast("double").alias("min"),
                F.max(col).cast("double").alias("max"),
                q.alias("_q")))
    return one.select(
        "min", F.col("_q")[0].alias("q1"), F.col("_q")[1].alias("q2"),
        F.col("_q")[2].alias("q3"), "max",
        (F.col("_q")[2] - F.col("_q")[0]).alias("iqr"))


def weighted_avg_agg(df: DataFrame, value_col: str,
                     weight_col: str) -> DataFrame:
    """ES ``weighted_avg`` aggregation: sum(value*weight)/sum(weight)
    over rows where BOTH are non-null (ES skips docs missing the
    value and errors without a weight; the missing-value defaults are
    config this engine does not carry).  One row, one scan."""
    ok = F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    return (df.filter(ok)
            .agg((F.sum(F.col(value_col) * F.col(weight_col))
                  / F.sum(F.col(weight_col)))
                 .cast("double").alias("weighted_avg")))


def multi_terms_agg(df: DataFrame, cols: list[str],
                    size: int = 10) -> DataFrame:
    """ES ``multi_terms`` aggregation: compound-key terms buckets
    ordered by doc_count desc (ties -> key columns asc, the
    deterministic contract ES leaves to shard order).  Null keys drop
    like ES terms.  One groupBy on the compound key (partial agg,
    single shuffle), TakeOrdered for the size cut."""
    pred = None
    for c in cols:
        p = F.col(c).isNotNull()
        pred = p if pred is None else (pred & p)
    return (df.filter(pred)
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"),
                     *[F.asc(c) for c in cols])
            .limit(size))


def stats_bucket(buckets: DataFrame, value_col: str = "doc_count"
                 ) -> DataFrame:
    """ES ``stats_bucket`` pipeline aggregation: count / min / max /
    avg / sum over a sibling aggregation's bucket metric (pair with
    date_histogram / histogram_agg / terms outputs).  The bucket
    table is already tiny (one row per bucket), so this is a 1-row
    final aggregate — no extra scan of the base data."""
    v = F.col(value_col)
    return buckets.agg(
        F.count(v).alias("count"),
        F.min(v).cast("double").alias("min"),
        F.max(v).cast("double").alias("max"),
        F.avg(v).cast("double").alias("avg"),
        F.sum(v).cast("double").alias("sum"))


_AUTO_DH_LADDER = ["hour", "day", "week", "month", "quarter", "year"]


def auto_date_histogram(df: DataFrame, col: str, buckets: int = 10
                        ) -> DataFrame:
    """ES ``auto_date_histogram``: pick the smallest calendar
    interval from the ladder hour < day < week < month < quarter <
    year whose bucket count stays <= ``buckets``, then bucket like
    date_histogram (sparse form).  Interval choice is the documented
    deterministic contract: the count for an interval is the number
    of calendar steps from trunc(min) to trunc(max) INCLUSIVE (ES
    estimates the same quantity from the extremes, then rounds to
    its own ms-ladder — simplified ladder, documented divergence).
    Falls back to the coarsest interval when even 'year' overflows.

    Two jobs: a min/max aggregate (tiny) picks the interval on the
    driver, then ONE scan + partial-agg groupBy buckets — the same
    shape as date_histogram.  Returns (interval, bucket_start,
    count) ordered by bucket."""
    from datetime import datetime
    mm = (df.filter(F.col(col).isNotNull())
          .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
          .collect()[0])
    if mm["lo"] is None:
        return no_rows(df.sparkSession,
                       "interval string, bucket_start timestamp, count long")
    lo, hi = mm["lo"], mm["hi"]

    def steps(unit: str) -> int:
        if unit == "hour":
            a = datetime(lo.year, lo.month, lo.day, lo.hour)
            b = datetime(hi.year, hi.month, hi.day, hi.hour)
            return int((b - a).total_seconds() // 3600) + 1
        if unit == "day":
            a = datetime(lo.year, lo.month, lo.day)
            b = datetime(hi.year, hi.month, hi.day)
            return (b - a).days + 1
        if unit == "week":  # weeks start Monday (ES default);
            # ordinal 1 = 0001-01-01, a Monday -> Monday-aligned
            # week index is (ordinal - 1) // 7
            a = datetime(lo.year, lo.month, lo.day).toordinal()
            b = datetime(hi.year, hi.month, hi.day).toordinal()
            return (b - 1) // 7 - (a - 1) // 7 + 1
        if unit == "month":
            return (hi.year * 12 + hi.month) \
                - (lo.year * 12 + lo.month) + 1
        if unit == "quarter":
            return (hi.year * 4 + (hi.month - 1) // 3) \
                - (lo.year * 4 + (lo.month - 1) // 3) + 1
        return hi.year - lo.year + 1

    chosen = _AUTO_DH_LADDER[-1]
    for unit in _AUTO_DH_LADDER:
        if steps(unit) <= buckets:
            chosen = unit
            break
    out = date_histogram(df, col, interval=chosen, min_doc_count=1)
    return out.select(F.lit(chosen).alias("interval"),
                      "bucket_start", "count")


def bucket_pipeline2(buckets: DataFrame, value_col: str = "count",
                     order_col: str = "bucket_start",
                     lag: int = 2, sort_size: int = 5) -> DataFrame:
    """Second ES pipeline-aggregation family over a bucket table:
    ``serial_diff`` (value - value lag buckets back; ES: null while
    the lag window is incomplete) and two ``normalize`` methods —
    ``percent_of_sum`` (value / axis total) and ``z-score``
    ((value - mean) / population stddev).  The axis statistics come
    from unbounded window frames over the same tiny aggregated
    table — one pass, no rescan of raw data (the pipeline-agg
    contract shared with :func:`bucket_pipeline`)."""
    from pyspark.sql import Window
    w = Window.orderBy(F.asc(order_col))
    wa = w.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
    v = F.col(value_col).cast("double")
    mean = F.avg(v).over(wa)
    sd = F.stddev_pop(v).over(wa)
    return buckets.select(
        order_col, value_col,
        (v - F.lag(v, lag).over(w)).alias(f"serial_diff_{lag}"),
        (v / F.sum(v).over(wa)).alias("percent_of_sum"),
        F.when(sd == 0.0, F.lit(0.0)).otherwise((v - mean) / sd)
        .alias("z_score"))


def bucket_sort(buckets: DataFrame, sort_col: str = "count",
                ascending: bool = False, size: int = 5,
                gap_policy_skip_nulls: bool = True) -> DataFrame:
    """ES ``bucket_sort`` pipeline aggregation: re-sort the sibling
    aggregation's buckets by a metric and truncate to ``size`` (the
    agg-paging tool).  Ties break by every remaining column in name
    order — ES leaves ties to insertion order; deterministic here.
    Null metrics drop first under the default skip gap policy.
    Sorting the aggregated table only — never the raw scan."""
    cols = [c for c in buckets.columns if c != sort_col]
    s = F.asc(sort_col) if ascending else F.desc(sort_col)
    out = buckets
    if gap_policy_skip_nulls:
        out = out.filter(F.col(sort_col).isNotNull())
    return (out.orderBy(s, *[F.asc(c) for c in sorted(cols)])
            .limit(size))


def terms_agg_ordered(df: DataFrame, key_col: str, metric_col: str,
                      metric: str = "avg", size: int = 10,
                      ascending: bool = False) -> DataFrame:
    """ES ``terms`` aggregation ordered by a SUB-AGGREGATION metric
    (``"order": {"m": "desc"}`` with ``m`` an avg/sum/min/max agg on
    another field) — the facet-by-metric form.  Null keys drop like
    ES terms; null metric values are excluded from the sub-agg like
    ES avg.  Returns (bucket, doc_count, metric_value) — metric
    order, key asc tie-break (deterministic; ES leaves ties to shard
    order).  One groupBy (partial agg + single shuffle), TakeOrdered.

    ES warns this ordering is inexact on sharded terms (bounded
    error); a full groupBy has no such error — documented
    strictly-stronger contract."""
    fns = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
    if metric not in fns:
        raise ValueError(f"unsupported order metric {metric!r}")
    m = fns[metric](F.col(metric_col)).cast("double")
    s = (F.asc("metric_value") if ascending
         else F.desc("metric_value"))
    return (df.filter(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 m.alias("metric_value"))
            .orderBy(s, F.asc("bucket"))
            .limit(size))


def string_stats_agg(df: DataFrame, col: str,
                     show_distribution: bool = False) -> DataFrame:
    """ES ``string_stats`` metric aggregation: count, min_length,
    max_length, avg_length and the Shannon entropy (log base 2) of the
    CHARACTER distribution across all values — ES computes entropy
    from the per-character probability over the concatenated field
    text (string-stats-aggregation docs).

    Two partial aggregates over one logical scan: the length stats are
    a plain agg; the entropy needs a (char -> count) groupBy first —
    characters come from a JVM-side ``split(col, '')`` explode, no
    Python.  Both sides collapse to ONE ROW, so the final cross join
    is trivially broadcast.  At 100 TB each branch is a map-side
    partial agg + one shuffle on a tiny key space (distinct chars).
    """
    base = df.filter(F.col(col).isNotNull())
    lens = base.agg(
        F.count(F.lit(1)).alias("count"),
        F.min(F.length(col)).alias("min_length"),
        F.max(F.length(col)).alias("max_length"),
        F.avg(F.length(col)).alias("avg_length"))
    chars = (base.select(F.explode(F.split(F.col(col), "")).alias("ch"))
             .filter(F.length("ch") > 0)
             .groupBy("ch").agg(F.count(F.lit(1)).alias("n")))
    tot = F.sum("n")
    ent = chars.agg(
        ((F.log2(tot) - F.sum(F.col("n") * F.log2("n")) / tot))
        .alias("entropy"))
    return lens.crossJoin(F.broadcast(ent))


def median_absolute_deviation_agg(df: DataFrame, col: str) -> DataFrame:
    """ES ``median_absolute_deviation``: median(|x - median(x)|).

    ES computes it on a TDigest sketch (approximate); this is the
    EXACT form via Spark's exact ``percentile`` — a documented
    strictly-stronger contract (same divergence note as the exact
    percentiles in :func:`percentile_profile`).  Two aggregate jobs
    (median, then MAD around the broadcast scalar); each is one scan
    + single-row reduce.  At very large scale swap ``percentile`` for
    ``approx_percentile`` to regain the one-pass sketch shape.
    """
    base = df.filter(F.col(col).isNotNull())
    med = base.agg(F.expr(f"percentile({col}, 0.5)")
                   .alias("m")).collect()[0]["m"]
    return base.agg(
        F.lit(float(med)).alias("median"),
        F.expr(f"percentile(abs({col} - {float(med)!r}), 0.5)")
        .alias("mad"))


def t_test_agg(df: DataFrame, value_col: str, group_col: str,
               group_a, group_b,
               test_type: str = "heteroscedastic") -> DataFrame:
    """ES ``t_test`` metric aggregation between two filtered
    populations of the same field (the ``a.filter``/``b.filter``
    unpaired form).  Returns the t-statistic and degrees of freedom:
    Welch (``heteroscedastic``, ES default) uses per-group sample
    variance and the Welch–Satterthwaite dof; ``homoscedastic``
    pools the variance with dof n1+n2-2.

    Divergence note: ES returns the two-sided p-value (Student CDF);
    the CDF needs the incomplete beta function, so this surfaces the
    exact (t, dof) pair instead — the sufficient statistics the
    p-value is a deterministic function of.  ONE scan: conditional
    aggregates per group (count/avg/var_samp via sum-of-squares),
    single-row output, no shuffle beyond the 1-row reduce.
    """
    if test_type not in ("heteroscedastic", "homoscedastic"):
        raise ValueError(f"unsupported t_test type {test_type!r}")
    v = F.col(value_col).cast("double")
    a = F.when(F.col(group_col) == group_a, v)
    b = F.when(F.col(group_col) == group_b, v)
    stats = df.agg(
        F.count(a).alias("n1"), F.avg(a).alias("m1"),
        F.var_samp(a).alias("v1"),
        F.count(b).alias("n2"), F.avg(b).alias("m2"),
        F.var_samp(b).alias("v2"))
    n1, m1, v1 = F.col("n1"), F.col("m1"), F.col("v1")
    n2, m2, v2 = F.col("n2"), F.col("m2"), F.col("v2")
    if test_type == "heteroscedastic":
        se2 = v1 / n1 + v2 / n2
        dof = (se2 * se2) / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                             + (v2 / n2) * (v2 / n2) / (n2 - 1))
    else:
        sp2 = (((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
        se2 = sp2 * (1.0 / n1 + 1.0 / n2)
        dof = (n1 + n2 - 2).cast("double")
    return stats.select(
        ((m1 - m2) / F.sqrt(se2)).alias("t_stat"),
        dof.alias("dof"),
        n1.alias("n_a"), n2.alias("n_b"))


def top_metrics_agg(df: DataFrame, group_col: str, sort_col: str,
                    metric_cols: list[str], tiebreak_col: str,
                    descending: bool = True) -> DataFrame:
    """ES ``top_metrics`` (size=1) under a terms aggregation: for
    each bucket, the metric values of the single row that sorts
    first on ``sort_col``.  ES breaks sort ties arbitrarily; here
    ``tiebreak_col`` ascending makes the winner deterministic (the
    same strictly-stronger contract as top_hits_agg).

    One groupBy with ``max_by``/``min_by`` over a (sort, tiebreak)
    struct — partial-agg friendly (each partition keeps one champion
    struct per key), single shuffle, no window."""
    key = F.struct(
        F.col(sort_col).alias("s"),
        (-F.col(tiebreak_col) if descending
         else F.col(tiebreak_col)).alias("t"))
    pick = F.max_by if descending else F.min_by
    aggs = [pick(F.col(sort_col), key).alias(f"top_{sort_col}")]
    aggs += [pick(F.col(c), key).alias(f"top_{c}")
             for c in metric_cols]
    return (df.filter(F.col(sort_col).isNotNull())
            .groupBy(group_col).agg(*aggs))


def value_count_missing_agg(df: DataFrame, cols: list[str]) -> DataFrame:
    """ES ``value_count`` + ``missing`` aggregations for a set of
    fields, one row per field: (field, value_count, missing).  ONE
    scan, conditional counts, 1-row partial agg unpivoted via stack —
    no shuffle of row data at all."""
    aggs = []
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"vc_{c}"))
        aggs.append(F.count(F.when(F.col(c).isNull(), F.lit(1)))
                    .alias(f"miss_{c}"))
    one = df.agg(*aggs)
    pairs = ", ".join(f"'{c}', vc_{c}, miss_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {pairs}) "
        f"AS (field, value_count, missing)")


def date_range_agg(df: DataFrame, col: str,
                   ranges: list[tuple],
                   ) -> DataFrame:
    """ES ``date_range`` aggregation: per range [from, to) — from
    inclusive, to exclusive, either side open — the doc count.
    Ranges MAY overlap (a doc counts in every range containing it),
    so this is NOT a width_bucket: each range is its own conditional
    count in a single aggregate over ONE scan, unpivoted with stack.
    Bucket key follows ES's "<from>-<to>" naming with '*' for open
    ends.  Ranges are a query-literal list (tiny), never a join.
    """
    t = F.col(col)
    aggs, names = [], []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (t >= F.lit(lo))
        if hi is not None:
            cond = cond & (t < F.lit(hi))
        aggs.append(F.count(F.when(t.isNotNull() & cond, F.lit(1)))
                    .alias(f"r{i}"))
        names.append(f"{lo or '*'}-{hi or '*'}")
    one = df.agg(*aggs)
    pairs = ", ".join(f"'{n}', r{i}" for i, n in enumerate(names))
    return one.selectExpr(
        f"stack({len(ranges)}, {pairs}) AS (bucket, doc_count)")


def rate_agg(df: DataFrame, ts_col: str, value_col: str | None = None,
             interval: str = "month", rate_unit: str = "day"
             ) -> DataFrame:
    """ES ``rate`` aggregation inside a date_histogram: per calendar
    bucket, sum(value) (or doc count when ``value_col`` is None)
    divided by the number of ``rate_unit``s the bucket spans —
    calendar-aware (a February month bucket divides by 28/29, ES
    rate-aggregation semantics).  Only month/day histograms with a
    day rate unit are supported (the forms whose unit count is
    data-independent per bucket).

    Same plan as date_histogram: ONE scan, partial-agg groupBy on
    the truncated bucket; the divisor is a JVM date expression on
    the bucket key, no second pass."""
    if interval not in ("month", "day") or rate_unit != "day":
        raise ValueError("supported: month/day histogram, day unit")
    b = F.date_trunc(interval, F.col(ts_col))
    val = (F.sum(F.col(value_col).cast("double")) if value_col
           else F.count(F.lit(1)).cast("double"))
    out = (df.filter(F.col(ts_col).isNotNull())
           .groupBy(b.alias("bucket_start"))
           .agg(val.alias("bucket_value"),
                F.count(F.lit(1)).alias("doc_count")))
    if interval == "month":
        days = F.dayofmonth(F.last_day(F.col("bucket_start")))
    else:
        days = F.lit(1)
    return (out.select("bucket_start", "doc_count", "bucket_value",
                       (F.col("bucket_value") / days.cast("double"))
                       .alias("rate_per_day"))
            .orderBy("bucket_start"))


def moving_fn(buckets: DataFrame, value_col: str = "count",
              order_col: str = "bucket_start", window: int = 3,
              fn: str = "avg", out_col: str | None = None
              ) -> DataFrame:
    """ES ``moving_fn`` pipeline aggregation: a sliding-window
    function over the sibling histogram's ordered buckets.  ES's
    default ``shift=0`` window covers the ``window`` buckets strictly
    BEFORE the current one (the current bucket is excluded); buckets
    with an empty window emit null.  Supported fns: avg / min / max /
    sum / stddev (population, matching MovingFunctions.stdDev).

    One pass over the tiny aggregated bucket table (window frame
    [-window, -1]) — never a rescan of raw data."""
    from pyspark.sql import Window
    fns = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
           "stddev": F.stddev_pop}
    if fn not in fns:
        raise ValueError(f"unsupported moving_fn {fn!r}")
    w = (Window.orderBy(F.asc(order_col))
         .rowsBetween(-window, -1))
    out = out_col or f"moving_{fn}"
    return buckets.withColumn(
        out, fns[fn](F.col(value_col).cast("double")).over(w))


def bucket_script(buckets: DataFrame, script: str,
                  out_col: str = "bucket_script") -> DataFrame:
    """ES ``bucket_script`` pipeline aggregation: per-bucket
    arithmetic over sibling metrics.  The painless script maps to a
    Spark SQL expression over the bucket table's columns (same
    per-row evaluation contract); runs on the aggregated table
    only."""
    return buckets.withColumn(out_col, F.expr(script))


def moving_percentiles(buckets: DataFrame, value_col: str = "count",
                       order_col: str = "bucket_start",
                       window: int = 7,
                       percents: tuple[float, ...] = (50.0,)
                       ) -> DataFrame:
    """ES ``moving_percentiles`` pipeline aggregation: sliding-window
    percentiles over the sibling histogram's ordered buckets, ES
    ``shift=0`` frame (the ``window`` buckets strictly BEFORE the
    current one; empty window → null).

    Divergence documented: ES merges TDigest sketches across the
    window (approximate); here the window is a handful of
    already-aggregated bucket values, so the EXACT percentile (linear
    interpolation, same as DuckDB ``quantile_cont``) is both cheaper
    and better.  One pass over the bucket table."""
    from pyspark.sql import Window
    w = (Window.orderBy(F.asc(order_col))
         .rowsBetween(-window, -1))
    out = buckets
    for p in percents:
        out = out.withColumn(
            f"p{p:g}".replace(".", "_"),
            F.expr(f"percentile({value_col}, {p / 100.0})").over(w))
    return out


def bucket_correlation(buckets: DataFrame, value_col: str,
                       metric_col: str) -> DataFrame:
    """ES ``bucket_correlation`` pipeline aggregation: Pearson
    correlation between the per-bucket doc counts and a sibling
    metric series (ES's ``count_correlation`` with the indicator
    taken from a sibling metric rather than a caller-supplied
    array — same algebra, self-contained).  One reduce over the
    bucket table → one row."""
    return buckets.agg(
        F.round(F.corr(F.col(value_col).cast("double"),
                       F.col(metric_col).cast("double")), 6)
        .alias("correlation"))


def bucket_count_ks_test(buckets: DataFrame,
                         value_col: str = "count",
                         order_col: str = "bucket_start") -> DataFrame:
    """ES ``bucket_count_ks_test`` pipeline aggregation against the
    uniform alternative: the Kolmogorov-Smirnov statistic
    ``D = max |ecdf(counts) - uniform_cdf|`` where ecdf is the
    cumulative count fraction over the ordered buckets and the
    uniform CDF is ``i/n``.  Emits the deterministic D statistic
    (ES's sampled p-values are stochastic — divergence documented);
    two window passes over the tiny bucket table, one reduce."""
    from pyspark.sql import Window
    w = Window.orderBy(F.asc(order_col)) \
        .rowsBetween(Window.unboundedPreceding, 0)
    total = F.sum(F.col(value_col).cast("double")) \
        .over(Window.partitionBy())
    ecdf = (F.sum(F.col(value_col).cast("double")).over(w) / total)
    n = F.count(F.lit(1)).over(Window.partitionBy())
    unif = (F.row_number().over(Window.orderBy(F.asc(order_col)))
            .cast("double") / n)
    return (buckets
            .select(F.abs(ecdf - unif).alias("_d"))
            .agg(F.round(F.max("_d"), 6).alias("d_statistic")))


def bucket_selector(buckets: DataFrame, predicate: str) -> DataFrame:
    """ES ``bucket_selector`` pipeline aggregation: keep buckets whose
    metrics satisfy the script predicate (a Spark SQL boolean
    expression here).  ES drops buckets where the script is false OR
    null-gapped — filter semantics match (null predicate drops)."""
    return buckets.filter(F.expr(predicate))


def cumulative_cardinality(df: DataFrame, ts_col: str, key_col: str,
                           interval: str = "day") -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline aggregation: per
    calendar bucket the number of DISTINCT keys seen up to and
    including that bucket (the "total unique users so far" curve).
    ES stacks approximate HLL sketches; this is the EXACT form via
    the first-seen decomposition — documented stronger contract:

        first_seen(key) = min(bucket(ts))        (one groupBy on key)
        cumulative(b)   = Σ_{b' <= b} |{k: first_seen(k) = b'}|

    Scale shape: one groupBy(key) (the only corpus-sized shuffle,
    partial-agg friendly), one tiny groupBy(bucket), one running-sum
    window over the bucket table.  Also emits the per-bucket
    plain doc_count for context."""
    b = F.date_trunc(interval, F.col(ts_col))
    base = df.filter(F.col(ts_col).isNotNull()
                     & F.col(key_col).isNotNull())
    first = (base.groupBy(key_col)
             .agg(F.min(b).alias("first_bucket")))
    new_per = (first.groupBy(F.col("first_bucket")
                             .alias("bucket_start"))
               .agg(F.count(F.lit(1)).alias("new_keys")))
    counts = (base.groupBy(b.alias("bucket_start"))
              .agg(F.count(F.lit(1)).alias("doc_count")))
    from pyspark.sql import Window
    w = (Window.orderBy(F.asc("bucket_start"))
         .rowsBetween(Window.unboundedPreceding, 0))
    return (counts.join(new_per, "bucket_start", "left")
            .withColumn("new_keys",
                        F.coalesce("new_keys", F.lit(0)))
            .withColumn("cumulative_cardinality",
                        F.sum("new_keys").over(w))
            .orderBy("bucket_start"))


def matrix_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """ES ``matrix_stats`` aggregation: per ordered field pair the
    population covariance and Pearson correlation (plus each field's
    mean/variance on the diagonal rows).  ES streams a running
    Welford update per shard and merges; one Spark aggregate
    computes the same moments exactly — ONE scan, a single 1-row
    reduce with count/avg/var_pop/covar_pop/corr built-ins, then a
    literal unpivot.  Rows with a null in ANY field drop entirely
    (ES matrix_stats listwise deletion)."""
    if len(cols) < 2:
        raise ValueError("matrix_stats needs at least 2 fields")
    ok = None
    for c in cols:
        p = F.col(c).isNotNull()
        ok = p if ok is None else ok & p
    base = df.filter(ok)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.avg(F.col(c).cast("double")).alias(f"_m_{c}"))
        aggs.append(F.var_pop(F.col(c).cast("double"))
                    .alias(f"_v_{c}"))
    for i, a in enumerate(cols):
        for bcol in cols[i + 1:]:
            aggs.append(F.covar_pop(F.col(a).cast("double"),
                                    F.col(bcol).cast("double"))
                        .alias(f"_cv_{a}_{bcol}"))
            aggs.append(F.corr(F.col(a).cast("double"),
                               F.col(bcol).cast("double"))
                        .alias(f"_cr_{a}_{bcol}"))
    one = base.agg(*aggs)
    parts = []
    for c in cols:  # diagonal: covariance = variance, correlation 1
        parts.append(f"'{c}', '{c}', _m_{c}, _v_{c}, "
                     f"CAST(1.0 AS DOUBLE)")
    for i, a in enumerate(cols):
        for bcol in cols[i + 1:]:
            parts.append(f"'{a}', '{bcol}', CAST(NULL AS DOUBLE), "
                         f"_cv_{a}_{bcol}, _cr_{a}_{bcol}")
    n_rows = len(parts)
    return one.selectExpr(
        f"stack({n_rows}, {', '.join(parts)}) "
        "AS (field_a, field_b, mean_a, covariance, correlation)")


def significant_text(df: DataFrame, fg_filter,
                     text_col: str = "text",
                     id_col: str = "doc_id", k: int = 10,
                     min_doc_count: int = 3,
                     filter_duplicate_text: bool = True) -> DataFrame:
    """ES ``significant_text`` aggregation: :func:`significant_terms`
    over the analyzed free-text field, with ES's
    ``filter_duplicate_text`` — exact-duplicate documents are counted
    ONCE (first doc_id wins) so copy-paste boilerplate can't fake
    significance.  (ES also strips near-duplicate sequences via a
    rolling hash; exact-text dedup is the documented subset.)

    The dedup is one md5-groupBy (min doc_id) + semi-join back —
    partial-agg friendly — before the same one-scan JLH pipeline."""
    base = df
    if filter_duplicate_text:
        keep = (df.groupBy(F.md5(F.col(text_col)).alias("_h"))
                .agg(F.min(id_col).alias(id_col)))
        base = df.join(keep.select(id_col), id_col, "semi")
    return significant_terms(base, fg_filter, text_col=text_col,
                             id_col=id_col, k=k,
                             min_doc_count=min_doc_count)


def variable_width_histogram(df: DataFrame, col: str,
                             buckets: int = 4,
                             sample_cap: int = 100_000,
                             seed: int = 89) -> DataFrame:
    """ES ``variable_width_histogram``: cluster-based buckets whose
    widths adapt to the data (dense regions get narrow buckets).  ES
    runs an online one-pass agglomerative clusterer per shard; this
    uses the repo's seeded deterministic 1-D k-means (the range-
    sketch quantizer, k-means++ init, fixed seed) on a sample-capped
    collect to pick centroids, then ONE JVM scan assigns every row to
    its nearest centroid (literal-folded centers — a chain of
    when/least comparisons, no UDF) and aggregates per bucket.

    Returns (key, min, max, doc_count) ordered by key, where key is
    the bucket's value centroid (avg of members, recomputed exactly
    in the final aggregate — ES's bucket key).  Deterministic but
    clusterer-dependent, so the driver gate is rows-only (like
    range_sketch); the pytest pins values against numpy."""
    vals = (df.select(F.col(col).cast("double").alias("v"))
            .filter(F.col("v").isNotNull()))
    n = vals.count()
    if n == 0:
        return no_rows(df.sparkSession,
                       "key double, min double, max double, doc_count long")
    frac = min(1.0, sample_cap / max(n, 1))
    s = vals.sample(fraction=frac, seed=seed) if frac < 1.0 else vals
    arr = np.array([r["v"] for r in s.collect()], dtype=np.float64)
    k = min(buckets, len(np.unique(arr)))
    centers, _ = _kmeans_1d(arr, k, seed=0)
    centers = np.sort(centers)
    # nearest-centroid assignment via sorted midpoint thresholds —
    # sargable comparisons, whole-stage codegen
    mids = (centers[:-1] + centers[1:]) / 2.0
    b = F.lit(0)
    for m in mids:
        b = b + F.when(F.col("v") > float(m), 1).otherwise(0)
    return (vals.withColumn("_b", b)
            .groupBy("_b")
            .agg(F.avg("v").alias("key"),
                 F.min("v").alias("min"), F.max("v").alias("max"),
                 F.count(F.lit(1)).alias("doc_count"))
            .select("key", "min", "max", "doc_count")
            .orderBy("key"))


def categorize_text(df: DataFrame, text_col: str = "text",
                    k: int | None = None) -> DataFrame:
    """ES ``categorize_text`` aggregation, deterministic variant:
    group semi-structured text (log lines) into categories by token
    template.  ES runs a proprietary drain-like incremental
    clusterer; this uses the published normalization core all such
    categorizers share — lowercase ``\\W+`` tokens, any token
    containing a digit masked to ``<num>`` — and the category key
    is the full masked token sequence (exact-template grouping:
    strictly finer than ES's fuzzy merge, documented).

    Returns (category, doc_count) ordered (doc_count desc,
    category asc), top-k if given.  Plan: ONE scan — the mask is a
    ``transform`` over the token array inside whole-stage codegen,
    then a partial-agg groupBy on the template string."""
    toks = spark_token_runs(F.lower(F.col(text_col)))
    masked = F.transform(
        toks, lambda t: F.when(t.rlike("[0-9]"),
                               F.lit("<num>")).otherwise(t))
    out = (df.select(F.array_join(masked, " ").alias("category"))
           .groupBy("category")
           .agg(F.count(F.lit(1)).alias("doc_count"))
           .orderBy(F.desc("doc_count"), F.asc("category")))
    return out.limit(k) if k is not None else out


def change_point(df: DataFrame, key_col: str, value_col: str,
                 threshold: float = 0.0) -> DataFrame:
    """ES ``change_point`` aggregation, deterministic spike/dip
    core: the bucket whose value deviates most from the series
    median, scored in MAD units (robust z-score — the published
    spike statistic; ES additionally fits step/trend models, out of
    scope and documented).  Emits the single best bucket as
    (key, value, type, score) — type 'spike' above the median,
    'dip' below — when score > threshold; empty otherwise (or when
    MAD is 0: a flat series has no change point).  Ties break on
    key ascending.

    Plan: two tiny aggregates (median, then MAD over the deviation
    column) folded into driver literals + ONE TakeOrdered(1) scan —
    the series is already an aggregated bucket table, never the raw
    corpus."""
    vals = df.select(F.col(key_col).alias("key"),
                     F.col(value_col).cast("double").alias("v"))
    med_row = vals.agg(F.median("v").alias("m")).collect()[0]
    out_schema = "key " + dict(df.dtypes)[key_col] + \
        ", value double, type string, score double"
    if med_row["m"] is None:
        return no_rows(df.sparkSession, out_schema)
    med = float(med_row["m"])
    dev = vals.select("key", "v",
                      F.abs(F.col("v") - F.lit(med)).alias("d"))
    mad = float(dev.agg(F.median("d").alias("m")).collect()[0]["m"])
    if mad == 0.0:
        return no_rows(df.sparkSession, out_schema)
    return (dev.select(
        "key", F.col("v").alias("value"),
        F.when(F.col("v") > med, "spike").otherwise("dip")
        .alias("type"),
        (F.col("d") / F.lit(mad)).alias("score"))
        .filter(F.col("score") > threshold)
        .orderBy(F.desc("score"), F.asc("key"))
        .limit(1))


def _ipv4_to_long(col):
    """Dotted-quad IPv4 → 32-bit integer, pure JVM expressions (the
    same arithmetic the SQL oracles rerun)."""
    p = F.split(col, r"\.")
    return (p[0].cast("long") * 16777216 + p[1].cast("long") * 65536
            + p[2].cast("long") * 256 + p[3].cast("long"))


def ip_range_agg(df: DataFrame, ip_col: str,
                 ranges: list[tuple[str | None, str | None]]
                 ) -> DataFrame:
    """ES ``ip_range`` aggregation (IPv4): one bucket per (from, to)
    range — ``from`` inclusive, ``to`` exclusive, ES's convention;
    an open end is unbounded.  Buckets with zero docs are still
    emitted (ES keyed-response behavior).

    ONE scan: every range folds to a conditional partial-agg column,
    then the single agg row unpivots to (key, doc_count) rows via
    stack — no per-range rescan, no shuffle beyond the one reduce."""
    ip = _ipv4_to_long(F.col(ip_col))

    def _long(s):
        a, b, c, d = (int(x) for x in s.split("."))
        return a * 16777216 + b * 65536 + c * 256 + d

    aggs, keys = [], []
    for i, (frm, to) in enumerate(ranges):
        cond = F.lit(True)
        if frm is not None:
            cond = cond & (ip >= F.lit(_long(frm)))
        if to is not None:
            cond = cond & (ip < F.lit(_long(to)))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0))
                    .alias(f"_c{i}"))
        keys.append(f"{frm or '*'}-{to or '*'}")
    one = df.agg(*aggs)
    pairs = ", ".join(f"'{k}', _c{i}" for i, k in enumerate(keys))
    return one.selectExpr(
        f"stack({len(keys)}, {pairs}) AS (key, doc_count)")


def ip_prefix_agg(df: DataFrame, ip_col: str,
                  prefix_length: int = 16) -> DataFrame:
    """ES ``ip_prefix`` aggregation (IPv4): bucket by the network
    prefix of ``prefix_length`` bits; key is the masked address in
    CIDR form.  One scan + one partial-aggregated shuffle on the
    (≤2^prefix_length-cardinality) prefix key."""
    if not 0 < prefix_length <= 32:
        raise ValueError("prefix_length must be in 1..32")
    ip = _ipv4_to_long(F.col(ip_col))
    mask = (0xFFFFFFFF << (32 - prefix_length)) & 0xFFFFFFFF
    m = ip.bitwiseAND(F.lit(mask))
    key = F.concat_ws(
        ".",
        F.shiftright(m, 24) % 256, F.shiftright(m, 16) % 256,
        F.shiftright(m, 8) % 256, m % 256)
    return (df.groupBy(F.concat(key, F.lit(f"/{prefix_length}"))
                       .alias("prefix"))
            .agg(F.count(F.lit(1)).alias("doc_count")))


def downsample_agg(df: DataFrame, ts_col: str = "ts",
                   dim_cols: tuple[str, ...] = ("event_type",),
                   value_col: str = "value",
                   id_col: str = "event_id",
                   unit: str = "hour") -> DataFrame:
    """ES TSDB downsampling (the hypertable-rollup analog): roll raw
    metric rows into fixed ``unit`` time buckets per dimension tuple,
    keeping the gauge summary min/max/sum/value_count plus
    ``last_value`` — the value at the latest timestamp in the bucket
    (ES keeps last-value for counter metrics), tie-broken by
    ``id_col`` desc so the rollup is a pure function of the table.

    One scan + ONE partial-aggregated shuffle on the (dims, bucket)
    key: min/max/sum/count combine map-side, and last_value is a
    ``max_by(value, struct(ts, id))`` — also partial-aggregatable, so
    no per-group sort and no window.  At 100 TB the rollup output is
    smaller than the input by the bucket width × dimension
    cardinality factor, exactly like an ES downsampled index.
    Reference: ES downsampling (rollup v2) semantics."""
    b = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    last = F.expr(
        f"max_by({value_col}, struct({ts_col}, {id_col}))")
    return (df.groupBy(*[F.col(c) for c in dim_cols], b)
            .agg(F.min(value_col).alias("v_min"),
                 F.max(value_col).alias("v_max"),
                 F.round(F.sum(value_col), 6).alias("v_sum"),
                 F.count(value_col).alias("v_count"),
                 last.alias("v_last")))


def terms_agg_sharded(df: DataFrame, key_col: str,
                      shard_col: str, n_shards: int = 4,
                      shard_size: int = 20, size: int = 10
                      ) -> DataFrame:
    """The ES terms aggregation's DISTRIBUTED contract, surfaced: each
    shard (deterministic ``shard_col % n_shards``) returns its local
    top ``shard_size`` terms by (count desc, term asc); the
    coordinator sums the collected counts per term and reports
    ``doc_count_error_upper_bound`` = Σ over shards that did NOT
    return the term of that shard's LAST (smallest) returned count —
    the maximum count the term could have had on a shard that cut it.
    Final top ``size`` by (merged count desc, term asc).

    This is the agg most users never realize is approximate; shipping
    the error bound as a first-class column is the honest version.
    Plan: one partial-agg shuffle to (shard, term) counts (the only
    corpus-scale exchange), then window cuts over the tiny per-shard
    top lists; the per-shard last-count table (``n_shards`` rows)
    broadcasts.  Reference: ES search-aggregations-bucket-terms
    doc_count_error_upper_bound."""
    from pyspark.sql import Window
    shard = (F.col(shard_col) % n_shards).alias("_shard")
    counts = (df.groupBy(shard, F.col(key_col))
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("_shard").orderBy(
        F.desc("cnt"), F.asc(key_col))
    collected = (counts.withColumn("_r", F.row_number().over(w))
                 .filter(F.col("_r") <= shard_size).drop("_r"))
    shard_last = (collected.groupBy("_shard")
                  .agg(F.min("cnt").alias("last_cnt")))
    # sum over an empty shard table is NULL — guard, or the empty-
    # input case dies with int(None)
    total_last = (shard_last.agg(F.sum("last_cnt").alias("tl"))
                  .collect()[0]["tl"]) or 0
    j = collected.join(F.broadcast(shard_last), "_shard")
    merged = (j.groupBy(key_col)
              .agg(F.sum("cnt").alias("doc_count"),
                   F.sum("last_cnt").alias("_present_last")))
    err = (F.lit(int(total_last)) - F.col("_present_last"))
    return (merged.select(
        key_col, "doc_count",
        err.alias("doc_count_error_upper_bound"))
        .orderBy(F.desc("doc_count"), F.asc(key_col)).limit(size))


def random_sampler_agg(df: DataFrame, id_col: str, key_col: str,
                       probability: float = 0.25) -> DataFrame:
    """ES ``random_sampler`` aggregation (8.2+): run sub-aggregations
    on a probabilistic sample and scale counts by 1/p.  ES samples
    per shard with a seeded RNG; here the sample is a DETERMINISTIC
    Knuth multiplicative hash of the doc id mapped to [0, 1) —
    partition-invariant, so the estimate is a pure function of the
    table (documented divergence, same estimator).

    At 100 TB this is the cheap-profiling primitive: the filter
    evaluates at the scan (no shuffle grows), and everything
    downstream touches p of the corpus.  Sub-agg here: terms counts
    by ``key_col`` with the 1/p-scaled estimate beside the raw
    sampled count."""
    if not 0.0 < probability <= 1.0:
        raise ValueError("probability must be in (0, 1]")
    # overflow-safe Knuth hash: id * 2654435761 overflows int64 for
    # ids above ~3.47e9 (silent wrap, or an error under ANSI mode /
    # in a replaying SQL oracle).  Split the 32-bit modular multiply
    # so every intermediate stays below 2^49: for a = id mod 2^32 =
    # a1*2^16 + a0,  a*K mod 2^32 =
    # (a0*K + ((a1*K mod 2^16) << 16)) mod 2^32.  Identical values to
    # the plain product for all ids < 2^32 (every gate/test id).
    _k = F.lit(2654435761)
    _a = F.pmod(F.col(id_col), F.lit(1 << 32))
    _a0 = F.pmod(_a, F.lit(1 << 16))
    _a1 = F.expr(f"pmod({id_col}, {1 << 32}) div {1 << 16}")
    h = F.pmod(_a0 * _k
               + F.pmod(_a1 * _k, F.lit(1 << 16)) * F.lit(1 << 16),
               F.lit(1 << 32))
    keep = (h / F.lit(float(1 << 32))) < probability
    samp = df.filter(keep)
    return (samp.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("sampled_count"),
                 F.round(F.count(F.lit(1)) / F.lit(probability), 6)
                 .alias("est_doc_count")))
