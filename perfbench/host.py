"""Host and configuration record, the pure-CPU scaling control, and the
resident-memory sampler."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import threading
import time

_BURN_ITERS = 3_000_000


def record(root: str, seed: int, sizes: dict, spark_conf: dict) -> dict:
    import pyspark

    # without JAVA_TOOL_OPTIONS, which makes the JVM print a
    # "Picked up ..." line ahead of its version
    env = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              env=env, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    with open(os.path.join(root, "bench.py"), "rb") as f:
        bench_sha = hashlib.sha256(f.read()).hexdigest()
    return {
        "nproc": os.cpu_count(),
        "seed": seed,
        "sizes": sizes,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "bench_py_sha256": bench_sha,
        "spark_conf": spark_conf,
    }


_BURN = ("import time\nt0 = time.perf_counter()\nx = 0\n"
         "for i in range({n}):\n    x += i * i\nprint(time.perf_counter() - t0)")


def _burn_concurrently(procs: int) -> list[float]:
    code = _BURN.format(n=_BURN_ITERS)
    children = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE,
                                 text=True) for _ in range(procs)]
    return [float(c.communicate(timeout=120)[0]) for c in children]


def substrate_control(nproc: int) -> float:
    """Pure-CPU 1→nproc efficiency: the time one process needs for a
    fixed loop over the median time each of nproc concurrent processes
    needs for the same loop (1.0 = the host scales perfectly)."""
    one = _burn_concurrently(1)[0]
    many = sorted(_burn_concurrently(nproc))
    return one / many[len(many) // 2]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat; the
    steal share over a run shows how much the hypervisor took away."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _tree(root: int) -> list[int]:
    children, todo, seen = _children(), [root], []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo += children.get(pid, [])
    return seen


def _tree_rss_kb(root: int) -> int:
    """VmRSS summed over root and all its descendants (/proc)."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped children included, so the sum only grows."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in v[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and process-tree CPU seconds since construction."""

    def __init__(self):
        self.wall0, self.cpu0 = time.perf_counter(), tree_cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, tree_cpu_s() - self.cpu0


class RssSampler:
    """Peak of the summed resident memory of this Python driver and its
    descendants: the driver JVM and the JVM's Python workers. Sampled
    every INTERVAL seconds on a background thread."""

    INTERVAL = 0.25

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
