"""Box sizing and provenance: cores and driver heap come from the machine
the benchmark runs on, and every result records what it ran on."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
from dataclasses import asdict, dataclass

import procfs

#: share of MemTotal given to the driver JVM heap; the rest is left to the
#: Python workers, the page cache and the run's scratch files
HEAP_SHARE = 0.25
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 16 * 1024


@dataclass
class Box:
    nproc: int
    mem_total_bytes: int
    heap_mb: int

    @classmethod
    def detect(cls) -> "Box":
        nproc = len(os.sched_getaffinity(0))
        mem = procfs.mem_total_bytes()
        heap = int(mem * HEAP_SHARE / 2**20)
        return cls(nproc=nproc, mem_total_bytes=mem,
                   heap_mb=max(HEAP_MIN_MB, min(HEAP_MAX_MB, heap)))


@dataclass
class RunDirs:
    """Everything a run writes lives under one directory in the checkout."""
    root: str

    @property
    def inputs(self) -> str:
        return os.path.join(self.root, "inputs")

    @property
    def spark_local(self) -> str:
        return os.path.join(self.root, "spark-local")

    @property
    def spill(self) -> str:
        return os.path.join(self.root, "spill")

    @property
    def checkpoints(self) -> str:
        return os.path.join(self.root, "checkpoints")

    @property
    def tmp(self) -> str:
        return os.path.join(self.root, "tmp")

    def create(self) -> None:
        for d in (self.inputs, self.spark_local, self.spill,
                  self.checkpoints, self.tmp):
            os.makedirs(d, exist_ok=True)


def prepare_env(repo_root: str, dirs: RunDirs) -> None:
    """Environment inherited by the JVM and, through it, by the Python
    workers. Workers import ``graphscope_spark`` by module path, so the
    repo root must be on their PYTHONPATH when the benchmark is started
    from anywhere else."""
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != repo_root]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = dirs.tmp


def spark_conf(box: Box, dirs: RunDirs) -> dict[str, str]:
    """The benchmark's own session settings on top of ``get_spark``."""
    return {
        "spark.driver.memory": f"{box.heap_mb}m",
        "spark.local.dir": dirs.spark_local,
        # java.io.tmpdir inside the run dir; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData",
        # per-call job/stage metrics are read by job group after the call;
        # the default retention (1000) evicts jobs of earlier calls
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


def source_digest(repo_root: str) -> str:
    """sha256 over the program's Python sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(repo_root, "graphscope_spark")
    for base, dnames, fnames in os.walk(pkg):
        dnames.sort()
        for f in sorted(fnames):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, repo_root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha(repo_root: str) -> str | None:
    if not os.path.exists(os.path.join(repo_root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo_root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(box: Box, repo_root: str) -> dict:
    import numpy
    import pyspark

    return {
        **asdict(box),
        "git_sha": git_sha(repo_root),
        "source_sha256": source_digest(repo_root),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
    }
