"""Tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import statistics

import pytest

from perfbench import host, stats
from perfbench.trace import Tracer, parse_sql_metric


# --------------------------------------------------------- tail selection
def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(100)]  # 0..99
    t = stats.tail(xs)
    assert t.value == 89.0 and t.beyond == 10 and t.n == 100
    assert t.q == pytest.approx(89 / 99)


def test_tail_never_below_median_when_samples_are_few():
    for n in (1, 2, 5, 20, 21):
        xs = [float(i) for i in range(n)]
        t = stats.tail(xs)
        assert t.q == 0.5 and t.value == statistics.median(xs)
    # 22 samples: rank 11 has exactly ten beyond it and lies above the median
    t = stats.tail([float(i) for i in range(22)])
    assert t.q > 0.5 and t.value == 11.0 and t.beyond == 10


# ------------------------------------------------------------------- lag
def test_lag_counts_from_due_time_not_from_publish():
    due = [0.0, 5.0, 10.0]
    # a stall: item 1 was published late but its lag still starts at 5.0
    done = {0: 4.0, 1: 13.0, 2: 13.0}
    assert stats.lags(due, done) == [4.0, 8.0, 3.0]


def test_lag_rejects_missing_and_impossible_items():
    with pytest.raises(ValueError):
        stats.lags([0.0, 1.0], {0: 2.0})
    with pytest.raises(ValueError):
        stats.lags([5.0], {0: 4.0})


# ------------------------------------------------------------- self time
def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),   # overlaps child 3 (concurrent batches)
        _span(3, 1, 3.0, 6.0),
        _span(4, 2, 1.5, 2.0),   # grandchild: counts against 2 only
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_pool_threads_under_the_phase():
    import threading

    tr = Tracer("r", enabled=True)
    with tr.phase("bulk"):
        with tr.span("main.child"):
            pass

        def work():
            with tr.span("pool.work"):
                pass

        th = threading.Thread(target=work)
        th.start()
        th.join(timeout=5)
        assert not th.is_alive()
    by_name = {s["name"]: s for s in tr.spans}
    phase_id = by_name["bulk"]["id"]
    assert by_name["main.child"]["parent"] == phase_id
    assert by_name["pool.work"]["parent"] == phase_id
    assert tr.total("pool.work", "bulk") >= 0.0
    assert tr.select("pool.work", "tail") == []
    assert len(tr.select("pool.work", "tail", "bulk")) == 1


def test_tracer_wrap_and_restore():
    class Thing:
        def f(self, x):
            return x + 1

    tr = Tracer("r", enabled=True)
    seen = []
    tr.wrap(Thing, "f", "thing.f", on_result=lambda rec, out, a, k: seen.append(out))
    assert Thing().f(1) == 2 and seen == [2]
    assert [s["name"] for s in tr.spans] == ["thing.f"]
    tr.restore()
    assert Thing.f.__name__ == "f" and not hasattr(Thing.f, "__wrapped__")


def test_tracer_wrap_marks_failed_calls():
    class Thing:
        def f(self):
            raise FileExistsError("lost the race")

    tr = Tracer("r", enabled=True)
    tr.wrap(Thing, "f", "thing.f")
    with pytest.raises(FileExistsError):
        Thing().f()
    tr.restore()
    assert tr.spans[0]["error"] == "FileExistsError"


# ---------------------------------------------------- job-id attribution
def test_jobs_attributed_by_id_range():
    phases = [("bulk", 3, 10), ("tail", 11, 40), ("serve", 45, 60)]
    jobs = stats.attribute_jobs(phases, list(range(0, 70)))
    assert jobs["bulk"] == list(range(3, 11))
    assert jobs["tail"] == list(range(11, 41))
    assert jobs["serve"] == list(range(45, 61))   # 41..44: between phases


def test_empty_phase_and_overlap():
    # a phase that ran no job has the empty range (last + 1, last)
    jobs = stats.attribute_jobs([("b", 5, 7), ("a", 5, 4)], [4, 5, 6, 7, 8])
    assert jobs == {"b": [5, 6, 7], "a": []}
    with pytest.raises(ValueError):
        stats.attribute_jobs([("a", 0, 5), ("b", 5, 9)], [5])


# ------------------------------------------------------------ odds, ends
def test_sql_metric_parsing():
    txt = "total (min, med, max (stageId: taskId))\n9.9 s (163 ms, 313 ms, 479 ms (stage 11.0: task 66))"
    assert parse_sql_metric(txt) == pytest.approx(9.9)
    assert parse_sql_metric("total (min, med, max)\n1109.2 KiB (31.2 KiB)") == pytest.approx(1109.2 * 1024)
    assert parse_sql_metric("total\n125 ms (6 ms)") == pytest.approx(0.125)
    assert parse_sql_metric(None) == 0.0


def test_cpu_shares():
    before = [100, 0, 50, 800, 50, 0, 0, 0, 0, 0]
    after = [400, 0, 150, 1100, 50, 0, 0, 100, 0, 0]
    s = host.cpu_shares(before, after)
    # deltas: user 300, system 100, idle 300, steal 100 -> total 800
    assert s["cpu_busy_frac"] == pytest.approx(400 / 800)
    assert s["steal_frac"] == pytest.approx(100 / 800)


def test_tree_rss_counts_pages_a_fork_shares_once():
    import os
    import time

    ballast = bytearray(os.urandom(1 << 20)) * 64   # 64 MiB, resident
    alone = sum(host.tree_rss(os.getpid()).values())
    pid = os.fork()
    if pid == 0:
        time.sleep(30)
        os._exit(0)
    try:
        time.sleep(0.2)
        procs = host.tree_rss(os.getpid())
        assert len(procs) == 2
        assert sum(procs.values()) < alone + (16 << 20)
    finally:
        os.kill(pid, 9)
        os.waitpid(pid, 0)
    assert len(ballast) == 64 << 20


def test_tree_rss_skips_a_child_in_its_parents_address_space():
    import os
    import subprocess
    import sys

    # a forked child has its own address space; kcmp tells them apart
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert not host.same_address_space(os.getpid(), child.pid)
        assert host.same_address_space(os.getpid(), os.getpid())
    finally:
        child.kill()
        child.wait()
