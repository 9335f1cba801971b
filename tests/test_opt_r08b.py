"""Round-8 optimization regression tests, part 2 (profile family).

Pins the equivalences the profile/e2e overlap restructure relies on:

- ``profile_dataset``'s split aggregate (exact counts on the fanned
  scan, float moments on the unfanned scan) + overlapped probe jobs
  produce a profile dict IDENTICAL to a serial single-agg reference
  computed here from first principles.
- ``fan_out_small_scan`` is a no-op for non-file inputs and
  preserves rows/values for file inputs; with and without keys it
  honours the ``AUCTUS_SMALL_SCAN_BYTES`` cap.
- ``temporal_resolution`` yields the same resolution string on fanned
  and unfanned input (its aggregates are exact count_distincts).
- the catalog's concurrent ``add_dataset`` equals the serial loop.
"""

import pytest
from pyspark.sql import functions as F

from auctus_spark.operators import profiling
from auctus_spark.operators.profile_dataset import profile_dataset


def test_fan_out_exact_agg_noop_on_local_relation(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    out = profiling.fan_out_small_scan(df)
    # local relations have no input files: returned unchanged
    assert out is df


def test_fan_out_exact_agg_preserves_exact_aggregates(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fanned = profiling.fan_out_small_scan(raw)
    cols = ["o_orderkey", "o_custkey", "o_orderdate"]
    aggs = ([F.count(F.lit(1)).alias("n")]
            + [F.count_distinct(c).alias(f"d_{c}") for c in cols]
            + [F.min(c).alias(f"lo_{c}") for c in cols]
            + [F.max(c).alias(f"hi_{c}") for c in cols])
    assert raw.agg(*aggs).collect() == fanned.agg(*aggs).collect()


def test_fan_out_gates_honour_small_scan_override(spark, sf_dir,
                                                   monkeypatch):
    """Both small-scan fan-out gates read AUCTUS_SMALL_SCAN_BYTES: a
    one-file scan is fanned under the default cap and left as it is
    once the cap is below its size."""
    import __spark_entry__ as entry
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    gates = [profiling.fan_out_small_scan, entry.fan_out_small_scan,
             lambda df: entry.fan_out_small_scan(df, "o_orderkey")]
    monkeypatch.delenv("AUCTUS_SMALL_SCAN_BYTES", raising=False)
    assert all(gate(raw) is not raw for gate in gates)
    monkeypatch.setenv("AUCTUS_SMALL_SCAN_BYTES", "1")
    assert all(gate(raw) is raw for gate in gates)


def test_temporal_resolution_fanned_matches_unfanned(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fanned = profiling.fan_out_small_scan(raw)
    assert (profiling.temporal_resolution(raw, "o_orderdate")
            == profiling.temporal_resolution(fanned, "o_orderdate"))


def _serial_reference_profile(df, sample_rows=20, max_range_rows=100_000):
    """The pre-round-8 serial shape, reconstructed: one count job, ONE
    combined aggregate on the raw df, serial sketches/resolution/spans/
    sample.  Values must match profile_dataset exactly."""
    from auctus_spark.analysis import expand_identifier
    from auctus_spark.operators.geo import (bounding_box_merge,
                                            pair_latlong_columns,
                                            valid_latlong)
    nb_rows = df.count()
    cols = df.columns
    dtypes = dict(df.dtypes)
    aggs = []
    for c in cols:
        col = F.col(c)
        s = col.cast("string")
        nonempty = F.count(F.when(s.isNotNull() & (s != ""), 1))
        aggs += [
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
            F.avg(F.when(s.rlike(
                r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
                s.cast("double"))).alias(f"{c}__mean"),
            F.stddev_pop(F.when(s.rlike(
                r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
                s.cast("double"))).alias(f"{c}__std"),
        ]
    row = df.agg(*aggs).collect()[0]
    latlong_pairs = pair_latlong_columns(cols)
    latlong_cols = {c for p in latlong_pairs for c in p}
    columns_meta, kinds = [], []
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
            meta["coverage"] = profiling.range_sketch(
                df, c, sample_cap=max_range_rows, n_rows=nb_rows)
        columns_meta.append(meta)
    temporal_coverage = []
    for c in cols:
        if dtypes[c].startswith("timestamp") or dtypes[c] == "date":
            res = profiling.temporal_resolution(df, c)
            mm = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")) \
                .collect()[0]
            temporal_coverage.append({
                "column": c, "temporal_resolution": res,
                "ranges": [{"gte": str(mm["lo"]), "lte": str(mm["hi"])}]})
    spatial_coverage = []
    for lat_c, lon_c in latlong_pairs:
        if df.filter(valid_latlong(F.col(lat_c), F.col(lon_c))).head(1):
            from auctus_spark.operators.geo import spatial_ranges
            spatial_coverage.append(
                {"lat": lat_c, "lon": lon_c,
                 "ranges": spatial_ranges(df, lat_c, lon_c),
                 "bounding_box": bounding_box_merge(df, lat_c, lon_c)})
    keywords = []
    for c in cols:
        keywords.append(c)
        keywords.extend(k for k in expand_identifier(c) if k != c.lower())
    counts = {f"nb_{k}_columns": kinds.count(k)
              for k in ("numerical", "categorical", "spatial", "temporal")}
    types = sorted({k for k in kinds if counts[f"nb_{k}_columns"] > 0})
    sample = df.limit(sample_rows).toPandas().to_csv(index=False)
    return {
        "nb_rows": int(nb_rows), "nb_columns": len(cols), **counts,
        "types": types, "attribute_keywords": keywords,
        "columns": columns_meta, "temporal_coverage": temporal_coverage,
        "spatial_coverage": spatial_coverage, "sample": sample,
    }


@pytest.mark.parametrize("table", ["orders", "customer", "nation"])
def test_profile_dataset_matches_serial_reference(spark, sf_dir, table):
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    assert profile_dataset(df) == _serial_reference_profile(df)


def test_catalog_concurrent_add_matches_serial(spark, sf_dir):
    from auctus_spark.query.catalog import MetadataCatalog
    from concurrent.futures import ThreadPoolExecutor
    tables = ["nation", "customer"]
    serial = MetadataCatalog(spark)
    for t in tables:
        serial.add_dataset(t, spark.read.parquet(f"{sf_dir}/{t}.parquet"))
    conc = MetadataCatalog(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(
            conc.add_dataset, t,
            spark.read.parquet(f"{sf_dir}/{t}.parquet")) for t in tables]
        for f in futs:
            f.result()
    a = serial.columns_table().collect()
    b = conc.columns_table().collect()
    assert a == b
    assert (serial.coverage_table().collect()
            == conc.coverage_table().collect())
    assert (serial.datasets_table().collect()
            == conc.datasets_table().collect())


def test_embedding_near_pairs_duplicate_collapse_matches_bruteforce(
        spark, sf_dir):
    """The round-8 exact-duplicate collapse must reproduce the
    member-level algorithm bit-exactly.  Reference: an independent
    numpy reimplementation of the banding + member-count bucket cap +
    left-associative cosine on a fixture where every vector has 4
    exact copies (the regime the collapse exists for)."""
    import numpy as np

    from auctus_spark.operators.dedup import embedding_near_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb
    for k in range(1, 4):
        dup = dup.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * 10**6)))
    dup = dup.localCheckpoint()

    rows = dup.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    vecs = np.array([[float(x) for x in r["embedding"]] for r in rows],
                    dtype=np.float64)
    n, dim = vecs.shape

    for threshold, bands, rpb, max_bucket in [
            (0.45, 32, 2, 10_000),
            (0.45, 32, 2, max(10, n // 3)),   # cap actually fires
            (0.95, 24, 8, 10_000)]:
        got = sorted(
            (r["id_a"], r["id_b"], r["cosine"])
            for r in embedding_near_pairs(
                dup, "embedding", "vec_id", threshold=threshold,
                bands=bands, rows_per_band=rpb,
                max_bucket=max_bucket).collect())

        # ---- numpy reference (independent reimplementation) --------
        rng = np.random.Generator(np.random.PCG64(89))
        planes = rng.normal(size=(dim, bands * rpb))
        pack = 1 << np.arange(rpb, dtype=np.int64)
        bits = (vecs @ planes) > 0
        keys = bits.reshape(n, bands, rpb) @ pack
        buckets = {}
        for i in range(n):
            for b in range(bands):
                buckets.setdefault((b, int(keys[i, b])), []).append(i)
        cand = set()
        for members in buckets.values():
            if len(members) > max_bucket:
                continue                      # member-count bucket cap
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    if ids[i] != ids[j]:
                        cand.add((min(i, j, key=lambda t: ids[t]),
                                  max(i, j, key=lambda t: ids[t])))
        # left-associative dot / norm, matching the engine arithmetic
        nrm = np.sqrt(np.cumsum(vecs * vecs, axis=1)[:, -1])
        want = []
        for i, j in cand:
            cos = (np.cumsum(vecs[i] * vecs[j])[-1]) / (nrm[i] * nrm[j])
            if cos >= threshold:
                a, b = int(ids[i]), int(ids[j])
                want.append((min(a, b), max(a, b), float(cos)))
        assert got == sorted(want), (threshold, bands, rpb, max_bucket)
