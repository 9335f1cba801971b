"""Session factory config plumbing and the worker daemon's importer."""

import importlib.util
import os
import zipfile
import zipimport

from pyspark.sql import SparkSession

from auctus_spark.pyworker import StatCheckedZipImporter
from auctus_spark.session import get_spark

DAEMON_KEY = "spark.python.daemon.module"


def test_session_extra_confs(spark):
    """extra_confs entries land in the session config (the
    object-store recipe path — s3a/gs endpoints and credentials ride
    this into the Hadoop FS layer on a real cluster)."""
    s = get_spark("auctus_spark_tests", cores=8, shuffle_partitions=8,
                  extra_confs={"spark.auctus.objectstore.probe": "yes"})
    assert s.conf.get("spark.auctus.objectstore.probe") == "yes"


def test_daemon_module_conf(monkeypatch):
    """Local sessions start workers from ``auctus_spark.pyworker``; a
    caller's extra_confs value wins, and spark-submit leaves it unset."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    assert get_spark(cores=2)[DAEMON_KEY] == "auctus_spark.pyworker"
    own = get_spark(cores=2, extra_confs={DAEMON_KEY: "pyspark.daemon"})
    assert own[DAEMON_KEY] == "pyspark.daemon"
    assert DAEMON_KEY not in get_spark(submit_mode=True)


def test_workers_skip_zip_directory_rereads(spark):
    """A warm worker's per-task cache invalidation re-reads no zip
    archive; it must still import from at least one zip, or the zero
    would prove nothing."""
    def count_directory_reads(_):
        # defined here so that it is pickled by value for the worker
        import importlib
        import sys
        import zipimport

        calls = [0]
        read = zipimport._read_directory

        def counting(archive):
            calls[0] += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield calls[0], zips

    rdd = spark.sparkContext.parallelize([0], 1)
    for _ in range(2):  # the second task may run in a reused worker
        [(reads, zips)] = rdd.mapPartitions(count_directory_reads).collect()
        assert reads == 0
        assert zips >= 1


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_stat_checked_importer_rereads_only_changed_archives(
        tmp_path, monkeypatch):
    """An unchanged archive is not re-read; a rewritten one is, and its
    new module imports.  The test process's path hooks stay as they
    are: the importer is built directly."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"first": "X = 1\n"})
    importer = StatCheckedZipImporter(archive)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read(a))

    importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("second") is None

    _write_zip(archive, {"first": "X = 1\n", "second": "Y = 2\n"})
    os.utime(archive, ns=(0, 0))  # a new stamp even on coarse clocks
    importer.invalidate_caches()
    assert reads == [archive]
    spec = importer.find_spec("second")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    importer.invalidate_caches()
    assert reads == [archive]
