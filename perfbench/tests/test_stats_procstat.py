"""Self-tests: summary statistics and the /proc sampler."""

import os
import statistics
import subprocess
import sys
import time

import pytest

from perfbench import procstat, stats


def test_median_and_geomean():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    assert stats.geomean([1, 100]) == pytest.approx(10.0)
    assert stats.geomean([2, 8, 4]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 12.0, 10.5, 10.2, 9.9, 11.4, 10.8, 10.1]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert stats.spread([5.0]) == 0.0


def _fake_stat(pid, ppid, utime, stime, cutime, cstime, rss_pages, comm="x"):
    # fields after "(comm) ": state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime cutime cstime priority
    # nice threads itrealvalue starttime vsize rss ...
    f = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
         20, 0, 1, 0, 0, 0, rss_pages]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in f) + "\n"


def test_tree_cpu_and_rss_from_fake_proc(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    rows = {
        10: _fake_stat(10, 1, tick, tick, tick, 0, 100, comm="py thon)"),
        11: _fake_stat(11, 10, 2 * tick, 0, 0, 0, 50),
        12: _fake_stat(12, 11, 0, tick, 0, 0, 25),
        20: _fake_stat(20, 1, 9 * tick, 0, 0, 0, 999),  # not in the tree
    }
    for pid, text in rows.items():
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(text)
    (tmp_path / "self").mkdir()
    proc = str(tmp_path)
    assert sorted(procstat.tree_pids(10, proc)) == [10, 11, 12]
    # 3 s (self incl. reaped children) + 2 s + 1 s
    assert procstat.tree_cpu_s(10, proc) == pytest.approx(6.0)
    assert procstat.tree_rss_bytes(10, proc) == 175 * os.sysconf("SC_PAGE_SIZE")


def test_tree_cpu_counts_a_child_process():
    code = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\ntime.sleep(5)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 20
        while procstat.tree_cpu_s(child.pid) < 0.3 and time.monotonic() < deadline:
            time.sleep(0.05)
        me = os.getpid()
        assert child.pid in procstat.tree_pids(me)
        assert procstat.tree_cpu_s(me) >= procstat.tree_cpu_s(child.pid) >= 0.3
        with procstat.PeakRss(me, interval_s=0.01) as rss:
            time.sleep(0.05)
        assert rss.peak >= procstat.tree_rss_bytes(child.pid) > 0
    finally:
        child.kill()
        child.wait()
