"""Dataset profiling: assemble the full metadata document for a table.

Reference: ``datamart_profiler.process_dataset``
(``lib_profiler/datamart_profiler/core.py:524-990``) builds one JSON
document per dataset — column profiles (structural/semantic types,
mean/stddev, coverage ranges), dataset-type counts, attribute
keywords, temporal/spatial coverage, row counts, sample — which the
indexer writes to ES (``common.py:451-467``).

Here: one Spark job per column batch (a single pass computes the
regex-voting ratios, numeric stats and distinct counts for ALL columns
at once via conditional aggregation), plus the coverage sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analysis import expand_identifier
from . import profiling
from .geo import bounding_box_merge, pair_latlong_columns, valid_latlong


def profile_dataset(df: DataFrame, sample_rows: int = 20,
                    max_range_rows: int = 100_000) -> dict:
    """→ metadata document (dict) mirroring the reference's shape:
    {nb_rows, nb_columns, nb_*_columns, types, attribute_keywords,
    columns: [{name, structural_type, semantic_types, ...}],
    spatial_coverage, sample}.

    Job shape (round-8): the old serial chain (count, one big agg,
    per-column range sketches, per-datetime resolution + min/max,
    spatial coverage, sample fetch) is restructured into overlapped
    independent jobs (guide §2.6) with the aggregate pass split in
    two:

    - EXACT aggregates (regex-vote counts, distinct counts, row count,
      temporal min/max spans) run over the small-scan fan-out —
      partition-order independent by construction, so fanning the
      single-row-group scan onto all cores is result-identical and
      removes the single-task regex battery (the dominant cost).
    - FLOAT moments (mean / stddev_pop) stay on the UNFANNED input:
      float partial-aggregation merge order is partition-dependent, so
      these keep the exact scan/accumulation order they always had —
      bit-identical values.

    Both agg jobs, the per-datetime temporal_resolution probes, the
    spatial probes and the sample fetch are submitted together on a
    driver thread pool; the per-numeric-column range sketches follow
    once the aggregates classify the columns.  Each job's own plan and
    collect order are unchanged — threading only overlaps their
    scheduling — so every value (including the seeded sketches) is
    identical to the serial run's."""
    cols = df.columns
    dtypes = dict(df.dtypes)

    exact_aggs = [F.count(F.lit(1)).alias("__nb_rows")]
    float_aggs = []
    for c in cols:
        col = F.col(c)
        s = col.cast("string")
        nonempty = F.count(F.when(s.isNotNull() & (s != ""), 1))
        exact_aggs += [
            nonempty.alias(f"{c}__n"),
            F.count_distinct(col).alias(f"{c}__distinct"),
            (F.count(F.when(s.rlike(r"^[+-]?[0-9]+$"), 1)))
            .alias(f"{c}__int"),
            (F.count(F.when(s.rlike(
                r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
                1))).alias(f"{c}__float"),
            (F.count(F.when(F.size(F.split(s, r"\s+")) >=
                            profiling.FREE_TEXT_MIN_WORDS, 1)))
            .alias(f"{c}__freetext"),
        ]
        float_aggs += [
            # cast the STRING form: always a legal cast (timestamp →
            # double is not), null for non-numeric text, identical
            # values for numeric columns
            F.avg(F.when(s.rlike(
                r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
                s.cast("double"))).alias(f"{c}__mean"),
            F.stddev_pop(F.when(s.rlike(
                r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
                s.cast("double"))).alias(f"{c}__std"),
        ]
    ts_all = [c for c in cols
              if dtypes[c].startswith("timestamp") or dtypes[c] == "date"]
    for c in ts_all:
        exact_aggs += [F.min(c).alias(f"{c}__tlo"),
                       F.max(c).alias(f"{c}__thi")]

    latlong_pairs = pair_latlong_columns(cols)

    # All of these are mutually independent jobs; overlap them
    # (guide §2.6).  Each callable is byte-identical to the old serial
    # call, so each job's collect order — and therefore every
    # seeded-sketch / float value — is unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def _spatial_probe(lat_c, lon_c):
        if df.filter(valid_latlong(F.col(lat_c), F.col(lon_c))).head(1):
            from .geo import spatial_ranges
            return {"lat": lat_c, "lon": lon_c,
                    # per-cluster KMeans boxes (reference
                    # spatial.py:49-106), plus the merged bbox the
                    # search-side overlap scorer consumes
                    "ranges": spatial_ranges(df, lat_c, lon_c),
                    "bounding_box": bounding_box_merge(df, lat_c, lon_c)}
        return None

    with ThreadPoolExecutor(max_workers=8) as pool:
        try:
            fanned = profiling.fan_out_small_scan(df)
            f_exact = pool.submit(
                lambda: fanned.agg(*exact_aggs).collect()[0])
            f_float = pool.submit(lambda: df.agg(*float_aggs).collect()[0])
            f_sample = pool.submit(
                lambda: df.limit(sample_rows).toPandas().to_csv(index=False))
            # temporal_resolution's aggregates are all exact
            # (count_distinct / min) — safe on the fanned input
            res_futs = {c: pool.submit(profiling.temporal_resolution,
                                       fanned, c)
                        for c in ts_all}
            spat_futs = [pool.submit(_spatial_probe, lat_c, lon_c)
                         for lat_c, lon_c in latlong_pairs]
            row = {**f_exact.result().asDict(), **f_float.result().asDict()}
            nb_rows = int(row["__nb_rows"])
            columns_meta, kinds = _classify_columns(
                cols, dtypes, row, latlong_pairs)

            sketch_futs = {
                m["name"]: pool.submit(
                    profiling.range_sketch, df, m["name"],
                    sample_cap=max_range_rows,
                    # nb_rows already counted this df: same n, same sample
                    # fraction, identical sketch, one job saved per column
                    n_rows=nb_rows)
                for m in columns_meta if m.pop("__sketch", False)}
            for m in columns_meta:
                if m["name"] in sketch_futs:
                    m["coverage"] = sketch_futs[m["name"]].result()

            # temporal coverage + resolution per datetime column (spans
            # were folded into the exact-aggregate pass above)
            temporal_coverage = []
            for c in ts_all:
                lo, hi = row[f"{c}__tlo"], row[f"{c}__thi"]
                temporal_coverage.append({
                    "column": c,
                    "temporal_resolution": res_futs[c].result(),
                    "ranges": [{"gte": str(lo), "lte": str(hi)}]})

            spatial_coverage = [r for r in (f.result() for f in spat_futs)
                                if r is not None]
            sample = f_sample.result()
        except BaseException:
            # drop the queued jobs; leaving the with-block then waits
            # only for the running ones
            pool.shutdown(wait=False, cancel_futures=True)
            raise

    # attribute keywords: expanded column names (reference
    # core.py:965-972)
    keywords = []
    for c in cols:
        keywords.append(c)
        keywords.extend(k for k in expand_identifier(c) if k != c.lower())

    counts = {f"nb_{k}_columns": kinds.count(k)
              for k in ("numerical", "categorical", "spatial", "temporal")}
    types = sorted({k for k in kinds if counts[f"nb_{k}_columns"] > 0})
    return {
        "nb_rows": int(nb_rows),
        "nb_columns": len(cols),
        **counts,
        "types": types,
        "attribute_keywords": keywords,
        "columns": columns_meta,
        "temporal_coverage": temporal_coverage,
        "spatial_coverage": spatial_coverage,
        "sample": sample,
    }


def _classify_columns(cols, dtypes, row, latlong_pairs):
    """Structural/semantic type of every column from the aggregate
    row → (column metadata list, dataset kind per column).  Numeric
    columns with a mean carry ``__sketch`` until their coverage sketch
    is attached."""
    latlong_cols = {c for p in latlong_pairs for c in p}
    columns_meta = []
    kinds = []
    for c in cols:
        n = row[f"{c}__n"] or 0
        tol = (1.0 - profiling.MAX_UNCLEAN) * n
        dtype = dtypes[c]
        if n == 0:
            structural = "MISSING_DATA"
        elif dtype in ("int", "bigint", "smallint", "tinyint") \
                or row[f"{c}__int"] >= tol:
            structural = "INTEGER"
        elif dtype in ("double", "float") or dtype.startswith("decimal") \
                or row[f"{c}__float"] >= tol:
            structural = "FLOAT"
        else:
            structural = "TEXT"
        semantic = []
        if c in latlong_cols and structural == "FLOAT":
            is_lat = any(c == p[0] for p in latlong_pairs)
            semantic.append("LATITUDE" if is_lat else "LONGITUDE")
            kinds.append("spatial")
        elif dtype.startswith("timestamp") or dtype == "date":
            structural = "TEXT"
            semantic.append("DATE_TIME")
            kinds.append("temporal")
        elif structural in ("INTEGER", "FLOAT"):
            kinds.append("numerical")
        elif n and row[f"{c}__freetext"] / n >= 0.5:
            # free text (>=4 words on >=50% rows) wins over the
            # categorical ratio — reference profile_types.py:84-92
            semantic.append("TEXT")
            kinds.append("categorical")
        elif n and (row[f"{c}__distinct"] / n
                    <= profiling.CATEGORICAL_RATIO):
            semantic.append("CATEGORICAL")
            kinds.append("categorical")
        else:
            kinds.append("categorical")
        meta = {
            "name": c,
            "structural_type": structural,
            "semantic_types": semantic,
            "num_distinct_values": int(row[f"{c}__distinct"] or 0),
        }
        if structural in ("INTEGER", "FLOAT") \
                and row[f"{c}__mean"] is not None:
            meta["mean"] = float(row[f"{c}__mean"])
            meta["stddev"] = float(row[f"{c}__std"] or 0.0)
            # coverage sketch deferred to the overlapped-jobs pool
            # below (identical per-column job, just not serialized)
            meta["__sketch"] = True
        columns_meta.append(meta)

    return columns_meta, kinds
