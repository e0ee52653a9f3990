"""The /proc sampler on a recorded process tree.

``fixtures/proc`` holds ``stat`` and the ``Name``/``Pid``/``PPid``/``VmHWM``/
``VmRSS`` lines of ``status`` for every process of a benchmark driver's tree
(the driver, its JVM, the Python worker daemon and its workers), recorded
while a Spark job with Python UDFs had just run, plus the host's ``loadavg``
and the first line of ``stat``.
"""
from __future__ import annotations

import os

import pytest

import procstat

PROC = os.path.join(os.path.dirname(__file__), "fixtures", "proc")


def _pids() -> list[int]:
    return sorted(int(p) for p in os.listdir(PROC) if p.isdigit())


def test_tree_from_root_covers_every_recorded_process():
    root = EXPECTED["root"]
    assert sorted(p.pid for p in procstat.tree(root, PROC)) == _pids()
    # a subtree root sees only its own descendants
    jvm = EXPECTED["jvm"]
    assert root not in {p.pid for p in procstat.tree(jvm, PROC)}


def test_read_proc_parses_stat_and_status():
    p = procstat.read_proc(EXPECTED["jvm"], PROC)
    assert p.comm == "java"
    assert p.ppid == EXPECTED["root"]
    assert p.cpu_s == pytest.approx(EXPECTED["jvm_cpu_s"])
    assert procstat.read_proc(999_999_999, PROC) is None


def test_sample_splits_driver_jvm_and_python_workers():
    s = procstat.sample(EXPECTED["root"], PROC)
    assert s.driver_cpu_s == pytest.approx(EXPECTED["driver_cpu_s"])
    assert s.jvm_cpu_s == pytest.approx(EXPECTED["jvm_cpu_s"])
    assert s.python_cpu_s == pytest.approx(EXPECTED["python_cpu_s"])
    assert s.peak_rss_mb == pytest.approx(EXPECTED["peak_rss_mb"])
    assert s.cpu_s == pytest.approx(EXPECTED["driver_cpu_s"] + EXPECTED["jvm_cpu_s"]
                                    + EXPECTED["python_cpu_s"])


def test_minus_keeps_the_later_peak():
    a = procstat.TreeSample(1.0, 2.0, 3.0, 100.0)
    b = procstat.TreeSample(1.5, 4.0, 3.5, 120.0)
    d = b.minus(a)
    assert (d.driver_cpu_s, d.jvm_cpu_s, d.python_cpu_s, d.peak_rss_mb) == (0.5, 2.0, 0.5, 120.0)


def test_host():
    h = procstat.host(PROC)
    assert h == pytest.approx(EXPECTED["host"])


# from the recorded files by hand: (utime+stime+cutime+cstime) / 100 ticks,
# VmHWM kB / 1024, and the 8th value of the cpu line / 100
EXPECTED = {
    "root": 25928, "jvm": 25973,
    "driver_cpu_s": (150 + 45 + 4 + 3) / 100,
    "jvm_cpu_s": (3249 + 133 + 18 + 4) / 100,
    "python_cpu_s": (141 + 7 + 82 + 13 + 77 + 10) / 100,
    "peak_rss_mb": (148380 + 586200 + 63596 + 124224 + 124252) / 1024,
    "host": {"loadavg_1m": 1.60, "steal_s": 47003 / 100},
}
