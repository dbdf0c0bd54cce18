"""Run isolation, host record, memory sampling and statistics."""

from __future__ import annotations

import json
import math
import os
import select
import shutil
import subprocess
import sys
import time
from pathlib import Path


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg() -> list[float]:
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return []


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs so far."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(f), (f[7] if len(f) > 7 else 0)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: host noise the run could not control."""
    d = t1[0] - t0[0]
    return (t1[1] - t0[1]) / d if d > 0 else None


def isolate(root: Path, work: Path, cpus: int) -> None:
    """Environment for one run: the engine sees ``cpus`` cores (its
    driver heap stays the engine's default), Spark, the JVM and Python
    keep their scratch files in the run's own dir, and the Python
    workers can import the engine from the checkout."""
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine's default driver option, plus a JVM temp dir inside the
    # run and no /tmp/hsperfdata file
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+ExplicitGCInvokesConcurrent -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + pp if pp else "")


def dataset(work: Path, tables: Path, name: str) -> Path:
    """A dataset dir under a fresh name, linking the generated tables.
    The engine keys its stores by the dataset dir's name, so every run
    builds its stores from empty."""
    d = work / name
    d.mkdir(parents=True)
    for f in tables.glob("*.parquet"):
        os.symlink(f.resolve(), d / f.name)
    return d


def drop_stores(store_root: Path, names) -> None:
    for n in names:
        shutil.rmtree(store_root / n, ignore_errors=True)


#: processes of the benchmark's own (the RSS sampler) left out of
#: ``tree_cpu_s``
_SKIP: set[int] = set()


def tree_rss_mb(pid: int, skip: int | None = None) -> float:
    """RSS of ``pid`` and all its descendants (the JVM and the Python
    workers run as children of this process), ``skip`` left out."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = vm = None
            for line in (p / "status").read_text().splitlines():
                if line.startswith("PPid:"):
                    ppid = int(line.split()[1])
                elif line.startswith("VmRSS:"):
                    vm = int(line.split()[1])
            if ppid is not None:
                kids.setdefault(ppid, []).append(int(p.name))
                rss[int(p.name)] = vm or 0
        except (OSError, ValueError):
            continue
    total, todo = 0, [pid]
    while todo:
        q = todo.pop()
        if q != skip:
            total += rss.get(q, 0)
            todo.extend(kids.get(q, []))
    return total / 1024.0


_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by ``pid`` (default: this process) and all its descendants,
    the RSS sampler's subtree left out. Time the hypervisor gave to
    other guests is not in it."""
    pid = os.getpid() if pid is None else pid
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            f = (p / "stat").read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        kids.setdefault(int(f[1]), []).append(int(p.name))
        cpu[int(p.name)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [pid]
    while todo:
        q = todo.pop()
        if q not in _SKIP:
            total += cpu.get(q, 0)
            todo.extend(kids.get(q, []))
    return total / _TCK


class RssSampler:
    """Samples the peak RSS of this process's tree from a separate
    process while the block runs. Every ``every_s`` seconds the sampler
    walks ``/proc`` (about 4 ms a sample); running it outside the
    measured process, and out of ``tree_cpu_s``, keeps that cost out
    of the CPU metrics."""

    def __init__(self, every_s: float = 0.25):
        self.every_s = every_s
        self.peak = 0.0

    def __enter__(self):
        self._p = subprocess.Popen(
            [sys.executable, __file__, "sample", str(os.getpid()), str(self.every_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        _SKIP.add(self._p.pid)
        return self

    def __exit__(self, *exc):
        # closing its stdin stops the sampler, which prints the peak
        out, _ = self._p.communicate("", timeout=30)
        _SKIP.discard(self._p.pid)
        self.peak = json.loads(out)


def _sample(pid: int, every_s: float) -> None:
    """The sampler process: peak RSS of ``pid``'s tree (this process
    left out), until stdin closes."""
    peak = 0.0
    while True:
        peak = max(peak, tree_rss_mb(pid, skip=os.getpid()))
        if select.select([sys.stdin], [], [], every_s)[0]:
            break
    print(json.dumps(max(peak, tree_rss_mb(pid, skip=os.getpid()))))


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def quantile(xs, q: float):
    """Linear-interpolated quantile of ``xs`` (q in [0, 1])."""
    s = sorted(xs)
    if not s:
        return None
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs, beyond: int = 10):
    """The highest of p99/p95/p90/p75 with at least ``beyond`` samples
    above it: (percentile, value, samples). When none has, the median
    stands in, named p50."""
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100.0 >= beyond:
            return p, quantile(xs, p / 100.0), n
    return 50, quantile(xs, 0.5), n


class Deadline:
    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.end = self.t0 + seconds

    def near(self, last_op_s: float) -> bool:
        """True when the time is up, or when the next operation, if it
        takes as long as the last one, would end past the deadline by
        more than half its length: a closed loop that stops here runs
        for the requested time to within half an operation."""
        return time.perf_counter() + 0.5 * last_op_s >= self.end

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0


if __name__ == "__main__" and sys.argv[1:2] == ["sample"]:
    _sample(int(sys.argv[2]), float(sys.argv[3]))
