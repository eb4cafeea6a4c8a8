"""Readers for process CPU time and resident memory from ``/proc``, and a
sampler that tracks the run's memory peak.

Spark's stage metrics count only JVM executor threads; the pandas-UDF
Python workers are separate processes below the JVM. Their CPU and
memory are read here, per process, from ``/proc/<pid>/stat``."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class ProcStat:
    pid: int
    comm: str
    ppid: int
    utime: int  # clock ticks
    stime: int
    cutime: int  # reaped children, clock ticks
    cstime: int
    start_ticks: int  # clock ticks after boot
    rss_pages: int

    @property
    def cpu_s(self) -> float:
        """Own CPU plus that of children it has reaped, in seconds."""
        return (self.utime + self.stime + self.cutime + self.cstime) / CLK_TCK

    @property
    def own_cpu_s(self) -> float:
        return (self.utime + self.stime) / CLK_TCK

    @property
    def rss_bytes(self) -> int:
        return self.rss_pages * PAGE_SIZE


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and
    parentheses, so the fields are split after the LAST ``)``."""
    lpar = text.index("(")
    rpar = text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1:rpar]
    f = text[rpar + 2:].split()
    # f[0] is field 3 (state); field n is f[n - 3]
    return ProcStat(
        pid=pid, comm=comm, ppid=int(f[1]),
        utime=int(f[11]), stime=int(f[12]),
        cutime=int(f[13]), cstime=int(f[14]),
        start_ticks=int(f[19]), rss_pages=int(f[21]),
    )


def read_stat(pid: int, proc: str = "/proc") -> ProcStat | None:
    """Stat of ``pid``, or None if it has exited."""
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            return parse_stat(fh.read())
    except (FileNotFoundError, ProcessLookupError):
        return None


def age_s(pid: int, proc: str = "/proc") -> float:
    """Seconds since ``pid`` started."""
    with open(f"{proc}/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - read_stat(pid, proc).start_ticks / CLK_TCK


def process_table(proc: str = "/proc") -> dict[int, ProcStat]:
    table = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                table[st.pid] = st
    return table


def descendants(root: int, table: dict[int, ProcStat]) -> list[int]:
    """All processes below ``root`` in ``table`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for st in table.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def python_workers(jvm_pid: int, table: dict[int, ProcStat]) -> list[ProcStat]:
    """The Python worker processes (daemon and forked workers) below the
    JVM."""
    return [table[p] for p in descendants(jvm_pid, table)
            if table[p].comm.startswith("python")]


def mem_total_bytes(proc: str = "/proc") -> int:
    with open(f"{proc}/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise ValueError("no MemTotal in meminfo")


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (0 if it is missing).
    Files may vanish while the tree is walked."""
    total = 0
    stack = [path]
    while stack:
        d = stack.pop()
        try:
            it = os.scandir(d)
        except (FileNotFoundError, NotADirectoryError):
            continue
        with it:
            for e in it:
                try:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif e.is_file(follow_symlinks=False):
                        total += e.stat(follow_symlinks=False).st_size
                except FileNotFoundError:
                    pass
    return total


@dataclass
class CpuSnapshot:
    jvm_s: float
    pyworker_s: float


def cpu_snapshot(jvm_pid: int, proc: str = "/proc") -> CpuSnapshot:
    """JVM CPU (its own threads) and the summed CPU of its Python workers.

    A worker that exits is reaped by the pyspark daemon, so its time moves
    into the daemon's ``cutime`` and a difference of two snapshots still
    counts it."""
    table = process_table(proc)
    jvm = table.get(jvm_pid)
    workers = python_workers(jvm_pid, table)
    return CpuSnapshot(
        jvm_s=jvm.own_cpu_s if jvm else 0.0,
        pyworker_s=sum(w.cpu_s for w in workers),
    )


class MemorySampler:
    """Background thread that samples JVM RSS, Python-worker RSS and the
    bytes under the run's scratch directories (Spark local dir, CSR spill,
    checkpoints), and keeps each peak and the peak of their sum."""

    def __init__(self, jvm_pid: int, scratch_dirs: list[str],
                 interval_s: float = 0.5, proc: str = "/proc"):
        self.jvm_pid = jvm_pid
        self.scratch_dirs = scratch_dirs
        self.interval_s = interval_s
        self.proc = proc
        self.peak = {"jvm": 0, "pyworker": 0, "scratch": 0, "total": 0}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-mem")

    def sample(self) -> None:
        table = process_table(self.proc)
        jvm = table.get(self.jvm_pid)
        cur = {
            "jvm": jvm.rss_bytes if jvm else 0,
            "pyworker": sum(w.rss_bytes
                            for w in python_workers(self.jvm_pid, table)),
            "scratch": sum(dir_bytes(d) for d in self.scratch_dirs),
        }
        cur["total"] = cur["jvm"] + cur["pyworker"] + cur["scratch"]
        for k, v in cur.items():
            if v > self.peak[k]:
                self.peak[k] = v
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("memory sampler thread did not stop")
        self.sample()


def wait_gone(pid: int, timeout_s: float) -> bool:
    """Poll until ``pid`` no longer exists (or is a zombie)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        st = None
        try:
            with open(f"/proc/{pid}/stat") as fh:
                st = fh.read()
        except FileNotFoundError:
            return True
        if st and st[st.rindex(")") + 2] == "Z":
            return True
        time.sleep(0.1)
    return False
