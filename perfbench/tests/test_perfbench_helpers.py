"""Unit tests for the benchmark's own helpers: the percentile rule, the
``/proc`` process-tree sampler and the event-log parser.

Run:  python3 -m pytest perfbench/tests/test_perfbench_helpers.py
"""

import os
import subprocess
import sys
import time

import pytest

import eventlog
import procstat
import stats

TINY_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.jsonl")


def test_p90_needs_ten_samples_beyond_it():
    assert not stats.supports_percentile(99, 90)
    assert stats.supports_percentile(100, 90)
    assert not stats.supports_percentile(999, 99)
    assert stats.supports_percentile(1000, 99)


def test_highest_supported_percentile_never_reports_a_thinner_tail():
    assert stats.highest_supported_percentile(10) is None
    assert stats.highest_supported_percentile(99) is None
    assert stats.highest_supported_percentile(100) == 90
    assert stats.highest_supported_percentile(999) == 90
    assert stats.highest_supported_percentile(1000) == 99


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(list(range(101)), 90) == 90
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.fixture
def busy_child():
    """A child that burns CPU for a while, holding ~32 MB, then sleeps."""
    code = "import time\nb = bytearray(32 << 20)\nt = time.time()\nwhile time.time() - t < 0.6: pass\ntime.sleep(30)\n"
    proc = subprocess.Popen([sys.executable, "-c", code])
    yield proc
    proc.kill()
    proc.wait()


def test_tree_includes_children_and_counts_their_cpu(busy_child):
    tree = procstat.TreeStats()
    cpu0 = tree.cpu()
    time.sleep(1.0)
    assert busy_child.pid in procstat.tree_pids(os.getpid())
    assert tree.cpu() - cpu0 >= 0.3
    # the child is neither the root nor a JVM: it counts as a worker
    assert tree.worker_cpu() >= 0.3
    assert not procstat.is_jvm(busy_child.pid)


def test_peak_rss_sampler_sees_the_child(busy_child):
    time.sleep(0.3)
    tree = procstat.TreeStats(period_s=0.02).start()
    time.sleep(0.2)
    tree.stop()
    assert tree.peak_rss >= procstat.rss_bytes(os.getpid()) + (32 << 20)


def test_cpu_of_exited_process_is_zero():
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    assert procstat.cpu_seconds(proc.pid) == 0.0
    assert procstat.rss_bytes(proc.pid) == 0


def test_event_log_work_per_job_group():
    work = eventlog.parse(TINY_LOG)
    # the ungrouped job is skipped
    assert set(work) == {"perfbench:ledger:q1:1", "perfbench:ledger:q1:2"}
    agg = work["perfbench:ledger:q1:1"]
    assert (agg.jobs, agg.stages, agg.tasks) == (2, 2, 3)
    assert agg.shuffle_write_bytes > 0 and agg.shuffle_read_bytes > 0
    assert agg.run_s > 0 and agg.cpu_s > 0
    assert agg.py_bytes_sent == 0
    py = work["perfbench:ledger:q1:2"]
    assert (py.jobs, py.stages, py.tasks) == (1, 1, 2)
    assert py.py_bytes_sent > 0 and py.py_bytes_returned > 0
    assert py.shuffle_write_bytes == 0


def test_event_log_directory_holds_one_log(tmp_path):
    (tmp_path / "local-1").write_text(open(TINY_LOG).read())
    (tmp_path / ".local-1.crc").write_text("")
    assert eventlog.parse(str(tmp_path)) == eventlog.parse(TINY_LOG)
    (tmp_path / "local-2").write_text("")
    with pytest.raises(ValueError):
        eventlog.parse(str(tmp_path))


def test_steal_ticks_are_a_share_of_all_ticks():
    steal, total = procstat.steal_ticks()
    assert 0 <= steal <= total and total > 0
