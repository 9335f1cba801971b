"""SparkSession factory with the configs this engine assumes.

Local-mode defaults for the sandbox (local[32], single JVM); on a real
cluster the same settings apply except memory sizing, and AQE handles
skew/coalescing at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def no_rows(spark: SparkSession, schema) -> DataFrame:
    """An empty frame of ``schema`` (a StructType or a DDL string)
    whose collect runs no Spark job: an always-false filter over one
    row folds to an empty local relation, while an empty
    ``createDataFrame`` is an RDD scan, one job per collect."""
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string
        schema = _parse_datatype_string(schema)
    cols = ", ".join(f"CAST(NULL AS {f.dataType.simpleString()}) "
                     f"AS `{f.name}`" for f in schema)
    return spark.sql(f"SELECT {cols} WHERE false")


def _export_package_path() -> None:
    """Make ``auctus_spark`` importable in Python workers regardless of
    the driver's cwd.  In local mode workers inherit the driver env, so
    PYTHONPATH is enough; on a real cluster ship the package with
    ``spark-submit --py-files auctus_spark.zip`` instead."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else ""))


# Object-store wiring (reference objectstore.py:1-201 — S3/GCS/minio
# buckets): with Spark this is pure Hadoop-FS configuration, not code.
# Every path argument in this engine (corpus, index_dir, snapshots,
# ANN partition tables) passes straight through to the Hadoop
# filesystem layer, so ``s3a://bucket/index`` works wherever a local
# path does once the cluster has hadoop-aws on the classpath and
# credentials configured.  Pass the standard configs via
# ``extra_confs``, e.g.::
#
#     get_spark(extra_confs={
#         "spark.hadoop.fs.s3a.endpoint": "http://minio:9000",
#         "spark.hadoop.fs.s3a.access.key": "...",
#         "spark.hadoop.fs.s3a.secret.key": "...",
#         "spark.hadoop.fs.s3a.path.style.access": "true",
#     })
#
# (This sandbox has no object store or hadoop-aws jar, so the option
# is config plumbing, exercised by test_session_extra_confs.)
def get_spark(app: str = "auctus_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              submit_mode: bool = False,
              iceberg_catalog: str | None = None,
              iceberg_warehouse: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """``submit_mode=True`` is the spark-submit path: the master (and
    the package, via ``--py-files auctus_spark.zip``) come from the
    spark-submit invocation — only the engine's tuning configs are
    applied here (see ``scripts/submit_build.py``).

    ``iceberg_catalog``/``iceberg_warehouse`` wire the standard
    Iceberg Spark-runtime configs (SparkCatalog + session extensions)
    so ``sources.read_corpus_table`` can resolve
    ``<catalog>.db.table`` names; the iceberg-spark-runtime jar must
    be on the cluster classpath (``spark-submit --packages
    org.apache.iceberg:iceberg-spark-runtime-<ver>``) — this sandbox
    has no such jar, so the option is config-plumbing only here and
    exercised with catalog/temp tables in tests."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    if not submit_mode:
        _export_package_path()
    # numpy madvises MADV_HUGEPAGE on large allocations; on VMs with
    # THP=madvise that turns every first touch of a fresh buffer into
    # a huge-page fault + compaction stall.  Measured here: 20x slower
    # np.unique on first touch, and with 32 concurrent python workers
    # the whole tokenize stage serializes behind compaction (178s ->
    # ~25s at local[32]).  Disable for the driver AND python workers.
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    builder = SparkSession.builder
    if not submit_mode:
        # the worker daemon in ``pyworker`` skips pyspark.zip's per-task
        # directory re-reads; under spark-submit the package reaches the
        # executors only after their daemon has started, so it stays off
        builder = (builder.master(f"local[{cores}]")
                   .config("spark.python.daemon.module",
                           "auctus_spark.pyworker"))
    if iceberg_catalog:
        builder = (builder
                   .config("spark.sql.extensions",
                           "org.apache.iceberg.spark.extensions."
                           "IcebergSparkSessionExtensions")
                   .config(f"spark.sql.catalog.{iceberg_catalog}",
                           "org.apache.iceberg.spark.SparkCatalog")
                   .config(f"spark.sql.catalog.{iceberg_catalog}.type",
                           "hadoop"))
        if iceberg_warehouse:
            builder = builder.config(
                f"spark.sql.catalog.{iceberg_catalog}.warehouse",
                iceberg_warehouse)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return (
        builder
        .appName(app)
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # thin posting rows: big Arrow batches, or per-batch socket
        # round-trips dominate mapInPandas (measured 6s for 7.5M rows
        # at the 10k default); byte-heavy ops re-chunk internally
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
        # smaller input splits: a 1 GB corpus must yield >= cores
        # tasks, or the tokenize stage caps below full parallelism
        # (on a big cluster the 128 MB default is fine — this knob
        # matters for local[32] with small benchmark corpora)
        .config("spark.sql.files.maxPartitionBytes", str(32 << 20))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
