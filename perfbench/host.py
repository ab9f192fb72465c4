"""Host-side readings: process-tree CPU and peak memory from /proc, and the
benchmark's own memory-streaming probe.

The probe is recorded only, as context for a reader comparing runs; no
run is ever dropped or adjusted by it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, utime+stime+cutime+cstime seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17.
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15]) / _TICK


def _table() -> dict[int, tuple[int, str, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, table: dict[int, tuple[int, str, float]] | None = None) -> list[int]:
    """`root` and every live process below it."""
    table = _table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of `root`'s process tree. A child that has exited and
    been reaped is already folded into its parent's cutime/cstime, so the
    sum over live processes never counts a second twice."""
    table = _table()
    return sum(table[p][2] for p in descendants(root, table) if p in table)


def python_children_cpu_s(root: int) -> float:
    """CPU seconds of the Python processes below `root` (the JVM's
    PySpark daemon and its UDF / state workers)."""
    table = _table()
    return sum(
        table[p][2]
        for p in descendants(root, table)
        if p != root and p in table and table[p][1].startswith("python")
    )


def java_child(root: int) -> int | None:
    """The JVM launched below `root` (the PySpark gateway), if any."""
    table = _table()
    for p in descendants(root, table):
        if p in table and table[p][1] == "java":
            return p
    return None


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _kernel() -> float:
    import numpy as np

    x = (np.arange(2_000_000, dtype=np.float64) % 97.0) - 48.0
    t0 = time.perf_counter()
    y = np.tanh(x)
    y += np.sqrt(np.abs(x))
    float(y.sum())
    return time.perf_counter() - t0


def probe_ratio(threads: int) -> float:
    """Median per-thread time of the memory-streaming kernel on `threads`
    concurrent threads, over its best single-thread time. About 1 on a
    quiet host; far above 1 when memory bandwidth is contended."""
    serial = min(_kernel() for _ in range(3))
    results: list[float] = []
    lock = threading.Lock()

    def work() -> None:
        t = _kernel()
        with lock:
            results.append(t)

    pool = [threading.Thread(target=work) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    results.sort()
    return results[len(results) // 2] / serial


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of `pids` is alive (an engine process's JVM and
    Python workers outlive it by a moment); kill what remains at the
    timeout and wait for that too."""
    deadline = time.time() + timeout
    killed = False
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline and not killed:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.time() + 10.0
        elif time.time() > deadline:
            raise RuntimeError(f"processes {alive} did not exit")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")
