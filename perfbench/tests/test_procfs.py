import os
import time

import procfs


def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0, rss=0,
               start=0):
    # fields 3..24 of /proc/<pid>/stat; unused ones are 0
    f = (["S", str(ppid)] + ["0"] * 9
         + [str(utime), str(stime), str(cutime), str(cstime)] + ["0"] * 4
         + [str(start), "0", str(rss)])
    return f"{pid} ({comm}) " + " ".join(f) + " 0 0 0\n"


def _fake_proc(tmp_path, procs):
    for p in procs:
        d = tmp_path / str(p[0])
        d.mkdir()
        (d / "stat").write_text(_stat_line(*p))
    (tmp_path / "meminfo").write_text(
        "MemTotal:       16456384 kB\nMemFree:  1 kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_parse_stat_with_spaces_and_parens_in_comm():
    st = procfs.parse_stat(_stat_line(42, "python3 (a) b", 7, 150, 50,
                                      cutime=20, cstime=5, rss=10,
                                      start=12345))
    assert (st.pid, st.comm, st.ppid) == (42, "python3 (a) b", 7)
    assert st.start_ticks == 12345
    assert st.own_cpu_s == 200 / procfs.CLK_TCK
    assert st.cpu_s == 225 / procfs.CLK_TCK
    assert st.rss_bytes == 10 * procfs.PAGE_SIZE


def test_tree_workers_and_cpu_snapshot(tmp_path):
    proc = _fake_proc(tmp_path, [
        (1, "init", 0, 0, 0),
        (100, "python3", 1, 10, 10),           # the driver
        (200, "java", 100, 400, 100),          # the JVM
        (300, "python", 200, 20, 0, 80, 20),   # pyspark daemon (reaped 100)
        (301, "python", 300, 30, 10, 0, 0, 5),  # a forked worker
        (400, "bash", 1, 999, 999),            # unrelated
    ])
    table = procfs.process_table(proc)
    assert sorted(table) == [1, 100, 200, 300, 301, 400]
    assert sorted(procfs.descendants(100, table)) == [200, 300, 301]
    assert [w.pid for w in procfs.python_workers(200, table)] in (
        [300, 301], [301, 300])
    snap = procfs.cpu_snapshot(200, proc)
    assert snap.jvm_s == 500 / procfs.CLK_TCK
    # daemon's own + reaped-children time, plus the live worker
    assert snap.pyworker_s == (120 + 40) / procfs.CLK_TCK
    assert procfs.mem_total_bytes(proc) == 16456384 * 1024


def test_missing_pid_reads_as_none(tmp_path):
    assert procfs.read_stat(12345, str(tmp_path)) is None


def test_real_self_stat_counts_cpu_and_rss():
    before = procfs.read_stat(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    after = procfs.read_stat(os.getpid())
    assert after.own_cpu_s - before.own_cpu_s >= 0.2
    assert after.rss_bytes > 1 << 20
    assert procfs.mem_total_bytes() > 0
    assert 0 < procfs.age_s(os.getpid()) < 24 * 3600


def test_dir_bytes(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b").write_bytes(b"y" * 5)
    assert procfs.dir_bytes(str(tmp_path)) == 15
    assert procfs.dir_bytes(str(tmp_path / "missing")) == 0


def test_memory_sampler_tracks_peaks(tmp_path):
    (tmp_path / "proc").mkdir()
    proc = _fake_proc(tmp_path / "proc", [
        (200, "java", 1, 0, 0, 0, 0, 100),
        (300, "python", 200, 0, 0, 0, 0, 50),
    ])
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    (scratch / "f").write_bytes(b"z" * 1000)
    s = procfs.MemorySampler(200, [str(scratch)], interval_s=0.01, proc=proc)
    s.start()
    time.sleep(0.05)
    s.stop()
    assert s.samples >= 2
    assert s.peak["jvm"] == 100 * procfs.PAGE_SIZE
    assert s.peak["pyworker"] == 50 * procfs.PAGE_SIZE
    assert s.peak["scratch"] == 1000
    assert s.peak["total"] == 150 * procfs.PAGE_SIZE + 1000
