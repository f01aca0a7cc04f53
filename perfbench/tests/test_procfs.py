import os
import subprocess
import sys
import time

import procfs


def _stat(pid, comm, ppid, utime, stime, cutime, cstime, rss_pages, start=100):
    # fields 3.. : state ppid pgrp session tty tpgid flags minflt cminflt majflt
    # cmajflt utime stime cutime cstime priority nice threads itrealvalue
    # starttime vsize rss
    rest = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 1, 0, start, 0, rss_pages]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


def _fake_proc(tmp_path, procs):
    for pid, args in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, *args))
    (tmp_path / "uptime").write_text("1000.00 3000.00\n")
    (tmp_path / "meminfo").write_text("MemTotal:       16000 kB\nMemFree: 1 kB\n")
    (tmp_path / "loadavg").write_text("0.50 1.00 1.50 2/100 999\n")
    (tmp_path / "stat").write_text("cpu  100 0 50 900 5 0 7 300 0 0\ncpu0 1 0 1 1 0 0 0 3 0 0\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


TREE = {
    # pid: (comm, ppid, utime, stime, cutime, cstime, rss_pages)
    10: ("python3", 1, 100, 20, 7, 3, 1000),
    11: ("java", 10, 500, 50, 40, 10, 5000),
    12: ("python3 -m pyspark.daemon", 11, 10, 0, 30, 5, 300),
    13: ("weird) name (", 12, 1, 1, 0, 0, 100),
    20: ("unrelated", 1, 999, 999, 999, 999, 9999),
}


def test_process_tree_follows_parents(tmp_path):
    proc = _fake_proc(tmp_path, TREE)
    assert sorted(procfs.process_tree(10, proc)) == [10, 11, 12, 13]
    assert sorted(procfs.process_tree(12, proc)) == [12, 13]


def test_command_names_with_parentheses_and_spaces(tmp_path):
    proc = _fake_proc(tmp_path, TREE)
    assert procfs.read_stat(13, proc)[1] == "12"


def test_tree_cpu_counts_reaped_children(tmp_path):
    proc = _fake_proc(tmp_path, TREE)
    ticks = (100 + 20 + 7 + 3) + (500 + 50 + 40 + 10) + (10 + 0 + 30 + 5) + (1 + 1)
    assert procfs.tree_cpu_seconds(10, proc) == ticks / procfs.CLK_TCK


def test_tree_rss_sums_live_processes(tmp_path):
    proc = _fake_proc(tmp_path, TREE)
    assert procfs.tree_rss_bytes(10, proc) == (1000 + 5000 + 300 + 100) * procfs.PAGE_SIZE


def test_host_readers(tmp_path):
    proc = _fake_proc(tmp_path, TREE)
    assert procfs.mem_total_bytes(proc) == 16000 * 1024
    assert procfs.loadavg(proc) == [0.5, 1.0, 1.5]
    assert procfs.cpu_steal_seconds(proc) == 300 / procfs.CLK_TCK
    assert procfs.seconds_since_start(10, proc) == 1000.0 - 100 / procfs.CLK_TCK


def test_live_tree_includes_a_reaped_child():
    me = os.getpid()
    before = procfs.tree_cpu_seconds(me)
    subprocess.run([sys.executable, "-c", "s = 0\nfor i in range(3 * 10**6): s += i"], check=True)
    assert procfs.tree_cpu_seconds(me) - before > 0.05


def test_live_tree_sees_a_running_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procfs.process_tree(os.getpid())
        assert procfs.tree_rss_bytes(os.getpid()) > procfs.tree_rss_bytes(child.pid) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_wait_for_descendants_kills_what_outlives_the_timeout():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    killed = procfs.wait_for_descendants(os.getpid(), timeout_s=0.5)
    assert killed == [child.pid]
    assert child.wait(timeout=10) is not None


def test_sampler_reports_its_own_thread_cpu():
    me = os.getpid()
    with procfs.RssSampler(me, interval_s=0.0) as sampler:
        before = sampler.cpu_seconds()
        time.sleep(1.0)  # the sampler spins with no wait between samples
        used = sampler.cpu_seconds() - before
        tree = procfs.tree_cpu_seconds(me)
    assert sampler.peak_bytes > 0
    assert 0 < used < tree
