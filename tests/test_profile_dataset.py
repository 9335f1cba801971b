"""Dataset-profile document assembly (reference process_dataset,
core.py:524-990): column typing, stats, coverage, keywords, counts."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from auctus_spark.operators.profile_dataset import profile_dataset


@pytest.fixture(scope="module")
def doc(spark):
    rows = [
        (i, f"name_{i % 5}", float(i), 40.0 + i * 0.01, -74.0 + i * 0.01,
         dt.datetime(2019, 4, 23) + dt.timedelta(days=i),
         "some long free text value here definitely")
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "id long, category string, amount double, lat double, "
              "lon double, when timestamp, description string")
    return profile_dataset(df)


def test_shape(doc):
    assert doc["nb_rows"] == 60
    assert doc["nb_columns"] == 7
    assert doc["types"]  # non-empty type vote
    assert len(doc["columns"]) == 7


def test_column_types(doc):
    by_name = {c["name"]: c for c in doc["columns"]}
    assert by_name["id"]["structural_type"] == "INTEGER"
    assert by_name["amount"]["structural_type"] == "FLOAT"
    assert by_name["category"]["structural_type"] == "TEXT"
    assert "CATEGORICAL" in by_name["category"]["semantic_types"]
    assert "DATE_TIME" in by_name["when"]["semantic_types"]
    assert "LATITUDE" in by_name["lat"]["semantic_types"]
    assert "LONGITUDE" in by_name["lon"]["semantic_types"]
    assert "TEXT" in by_name["description"]["semantic_types"]


def test_numeric_stats_and_coverage(doc):
    amount = next(c for c in doc["columns"] if c["name"] == "amount")
    assert amount["mean"] == pytest.approx(29.5)
    assert amount["num_distinct_values"] == 60
    assert amount["coverage"]  # range sketch present
    assert amount["coverage"][0]["gte"] <= amount["coverage"][-1]["lte"]


def test_temporal_and_spatial_coverage(doc):
    t = doc["temporal_coverage"]
    assert len(t) == 1 and t[0]["temporal_resolution"] == "day"
    s = doc["spatial_coverage"]
    assert len(s) == 1
    box = s[0]["bounding_box"]
    assert box["min_lat"] == pytest.approx(40.0)
    assert box["max_lon"] == pytest.approx(-74.0 + 0.59)
    # per-cluster KMeans envelopes (reference spatial.py:49-106)
    rngs = s[0]["ranges"]
    assert rngs and all(r["range"]["type"] == "envelope" for r in rngs)
    for r in rngs:
        (min_lon, max_lat), (max_lon, min_lat) = r["range"]["coordinates"]
        assert min_lon <= max_lon and min_lat <= max_lat
        assert box["min_lat"] - 1e-4 <= min_lat
        assert max_lat <= box["max_lat"] + 1e-4


def test_counts_and_keywords(doc):
    assert doc["nb_numerical_columns"] >= 2
    assert doc["nb_spatial_columns"] == 2
    assert doc["nb_temporal_columns"] == 1
    assert "description" in doc["attribute_keywords"]
    assert doc["sample"].startswith("id,")


def test_profile_dataset_timestamp_ntz(spark):
    """TIMESTAMP(_NTZ) columns must profile as temporal, not crash the
    one-pass aggregate (Spark 4 forbids timestamp→double casts —
    regression found by the driver gate on the orders table)."""
    df = spark.createDataFrame(
        [(1, 2.5, "2024-01-01 10:00:00")],
        "k long, v double, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz"))
    prof = profile_dataset(df)
    by_name = {c["name"]: c for c in prof["columns"]}
    assert "DATE_TIME" in by_name["ts"]["semantic_types"]
    assert by_name["v"]["structural_type"] == "FLOAT"
    assert by_name["v"]["mean"] == 2.5


def test_pool_shut_down_when_classification_fails(spark, monkeypatch):
    """A failure while the columns are classified, between the two
    rounds of pool jobs, still shuts the thread pool down."""
    import concurrent.futures

    from auctus_spark.operators import profiling

    pools = []

    class RecordingPool(concurrent.futures.ThreadPoolExecutor):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            pools.append(self)

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor",
                        RecordingPool)
    monkeypatch.setattr(profiling, "MAX_UNCLEAN", "not a ratio")
    df = spark.createDataFrame([(1, "a")], "k long, name string")
    with pytest.raises(TypeError):
        profile_dataset(df)
    [pool] = pools
    with pytest.raises(RuntimeError, match="shutdown"):
        pool.submit(int)
