"""Self-tests of the benchmark's own machinery.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import stats  # noqa: E402
from perfbench.reference import check_ranked, check_write  # noqa: E402


@pytest.mark.parametrize("n", range(1, 130))
def test_tail_percentile_has_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    value, label = stats.tail(values, 90)
    q = stats.supported_percentile(n, 90)
    if q is None:
        assert label.startswith("p50") and "no supported tail" in label
        return
    assert label.startswith(f"p{q}")
    assert sum(1 for v in values if v > value) >= stats.MIN_BEYOND
    if q == 90:
        assert n >= 100


def test_tail_never_claims_p90_below_100_samples():
    for n in range(1, 100):
        assert stats.supported_percentile(n, 90) != 90


def test_checker_flags_perturbed_score():
    want = [(3, 2.5), (1, 1.25), (7, 1.25)]
    assert check_ranked(list(want), want)
    bumped = [(3, 2.5), (1, 1.25 + 2 ** -50), (7, 1.25)]
    assert not check_ranked(bumped, want)
    assert not check_ranked([(3, 2.5), (7, 1.25), (1, 1.25)], want)
    assert not check_ranked(want[:2], want)


def test_write_check_rejects_empty_reference():
    want = [(3, 2.5)]
    assert check_write(list(want), want)
    assert not check_write([], want)
    # an engine that missed the write would also answer []
    assert not check_write([], [])


def test_rss_sampler_leaves_out_driver_growth_while_paused():
    from perfbench import tracing

    mb = 1 << 20
    with tracing.RssSampler(interval=0.01) as mem:
        time.sleep(0.1)
        with mem.paused():
            kept = b"\1" * (96 * mb)
        time.sleep(0.1)
        assert mem.peak_parts["driver"] < 48
        grown = b"\2" * (96 * mb)
        time.sleep(0.1)
    assert mem.peak_parts["driver"] >= 80
    del kept, grown


def test_tree_cpu_counts_a_finished_child():
    import subprocess

    from perfbench import tracing

    before = tracing.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"],
                   check=True)
    assert tracing.tree_cpu_s(os.getpid()) - before >= 0.4


def test_event_log_parser_finds_span_work(tmp_path):
    from auctus_spark.session import get_spark
    from perfbench import tracing

    log_dir = str(tmp_path / "eventlog")
    spark = get_spark("perfbench_selftest", cores=2, shuffle_partitions=4,
                      extra_confs={
                          **tracing.event_log_confs(log_dir),
                          "spark.ui.showConsoleProgress": "false"})
    try:
        tr = tracing.Tracer(spark.sparkContext)
        with tr.span("tiny_groupby") as sp:
            rows = (spark.range(0, 2_000_000, 1, 4)
                    .selectExpr("id % 7 AS k", "id")
                    .groupBy("k").count().collect())
        assert len(rows) == 7
        with tr.span("other"):
            spark.range(10).count()
    finally:
        spark.stop()
    folded = tracing.fold_event_log(tracing.find_event_log(log_dir))
    row = tracing.span_row(tr, folded, sp)
    assert row.jobs >= 1
    assert row.task_s > 0
    assert row.total("shuffle_write_bytes") > 0
    other = tracing.span_row(tr, folded, tr.named("other")[0])
    assert set(other.stages).isdisjoint(row.stages)
