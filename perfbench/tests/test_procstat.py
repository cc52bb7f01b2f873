"""Process-tree CPU and RSS sums from a fake ``/proc``."""

import os

import pytest

import procstat

TCK = procstat.CLK_TCK


def _proc(root, pid, ppid, comm, utime, stime, cutime, cstime, hwm_kb):
    d = root / str(pid)
    d.mkdir()
    # the command name holds a space and a parenthesis, as real ones can
    fields = ["S", str(ppid)] + ["0"] * 9 + [
        str(utime), str(stime), str(cutime), str(cstime)] + ["0"] * 30
    (d / "stat").write_text(f"{pid} ({comm} x)) " + " ".join(fields) + "\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\n"
                              f"VmRSS:\t1 kB\n")
    (d / "comm").write_text(comm + "\n")


@pytest.fixture
def fake_proc(tmp_path):
    # 100 = the benchmark's main Python process; 200 its JVM, 300 a Python
    # worker the JVM started; 400 the load generator with its own child
    # 401; 900 an unrelated process
    _proc(tmp_path, 100, 1, "python3", 2 * TCK, 1 * TCK, 7 * TCK, 0, 102400)
    _proc(tmp_path, 200, 100, "java", 10 * TCK, 2 * TCK, 3 * TCK, TCK,
          1048576)
    _proc(tmp_path, 300, 200, "python3", TCK, 0, 0, 0, 51200)
    _proc(tmp_path, 400, 100, "python3", 50 * TCK, 0, 0, 0, 204800)
    _proc(tmp_path, 401, 400, "python3", 60 * TCK, 0, 0, 0, 204800)
    _proc(tmp_path, 900, 1, "java", 99 * TCK, 0, 0, 0, 999999)
    (tmp_path / "self").mkdir()   # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_excludes_the_generator_and_its_children(fake_proc):
    assert sorted(procstat.tree(100, proc=fake_proc)) == \
        [100, 200, 300, 400, 401]
    assert sorted(procstat.tree(100, {400}, proc=fake_proc)) == \
        [100, 200, 300]


def test_cpu_seconds_reads_utime_stime_and_waited_children(fake_proc):
    assert procstat.cpu_seconds(200, fake_proc) == pytest.approx(16.0)
    assert procstat.cpu_seconds(200, fake_proc, children_waited=False) == \
        pytest.approx(12.0)
    assert procstat.cpu_seconds(12345, fake_proc) == 0.0   # gone


def test_tree_usage_sums_jvm_and_python_without_the_generator(fake_proc):
    u = procstat.TreeUsage(root=100, proc=fake_proc)
    u.exclude.add(400)
    s = u.sample()
    # the JVM with its waited-for children; the main process without its own
    # (the reaped generator is the only child it waits for); the worker
    assert s["jvm_cpu_s"] == pytest.approx(16.0)
    assert s["py_cpu_s"] == pytest.approx(3.0 + 1.0)
    assert s["peak_rss_mb"] == pytest.approx((102400 + 1048576 + 51200)
                                             / 1024)


def test_host_regime_reads_the_real_proc():
    if not os.path.exists("/proc/loadavg"):
        pytest.skip("no /proc")
    h = procstat.host_regime()
    assert h["total_ticks"] >= h["steal_ticks"] >= 0
    assert h["calibration_s"] > 0
