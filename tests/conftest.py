import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auctus_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("auctus_spark_tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


class _Crash(Exception):
    """A simulated process crash at one file-system mutation."""


@pytest.fixture
def fs_mutations(monkeypatch):
    """Counts the file-system mutations made under ``.root`` —
    ``os.rename``, ``os.replace``, ``os.remove``, ``shutil.rmtree``,
    ``open`` for writing, ``pq.write_table`` and
    ``DataFrameWriter.parquet`` — and raises ``.Crash`` instead of
    making the one numbered ``.crash_at`` (0-based).  A crash sweep
    runs an operation once to count its mutations, then once per
    mutation on a fresh copy of the index with ``.crash_at`` set."""
    import builtins
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    class Mutations:
        Crash = _Crash
        root = None
        crash_at = None
        count = 0

        def hit(self, path):
            if self.root is None or not (os.path.abspath(
                    os.fspath(path)) + os.sep).startswith(
                        self.root + os.sep):
                return
            if self.count == self.crash_at:
                raise _Crash(path)
            self.count += 1

    mut = Mutations()

    def wrap(owner, name, path_arg, writes=None):
        real = getattr(owner, name)

        def fake(*a, **kw):
            if writes is None or writes(*a, **kw):
                mut.hit(a[path_arg])
            return real(*a, **kw)
        monkeypatch.setattr(owner, name, fake)

    for name in ("rename", "replace", "remove"):
        wrap(os, name, 0)
    wrap(shutil, "rmtree", 0)
    wrap(pq, "write_table", 1)
    wrap(DataFrameWriter, "parquet", 1)
    wrap(builtins, "open", 0, lambda f, mode="r", *a, **kw: (
        isinstance(f, (str, os.PathLike)) and any(c in mode for c in "wax+")))
    return mut
