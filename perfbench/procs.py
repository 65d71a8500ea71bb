"""Process-tree CPU accounting and shutdown, read from ``/proc``.

Spark in local mode runs three kinds of process under the benchmark: the
Python driver (this process), the JVM it launches, and the JVM's Python
workers. CPU per operation is the whole tree's CPU, so work that moves
between them still shows.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 is "(comm)" and comm may hold spaces: split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    including the children each has already reaped."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            # after the comm split: utime, stime, cutime, cstime = 11..14
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: the share
    of time a virtual machine's CPUs were runnable but not running."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def yardstick_ms() -> float:
    """Median of three timings of a fixed single-core kernel (a numpy sort
    and a Python loop): how fast this machine is at the moment, printed
    beside a run's figures so that a slow stretch of a shared host shows."""
    import numpy as np

    a = np.random.Generator(np.random.PCG64(0)).random(1_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(a)
        x = 0
        for i in range(300_000):
            x += i * i
        times.append(time.perf_counter() - t0)
    return sorted(times)[1] * 1e3


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the deadline
    and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = [p for p in pids if _alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_gone(pids, timeout_s=30)
