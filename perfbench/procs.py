"""CPU time and resident memory of this process and its descendants,
read from /proc (Linux only).

The Spark driver JVM is a child of the benchmark process and the Python
workers are children of the JVM's daemon, so the tree rooted at this
process covers every process a run starts.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on; None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return s[s.rindex(")") + 2 :].split()


def _all_stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                out[int(name)] = fields
    return out


def tree(root: int) -> dict[int, list[str]]:
    """stat fields of ``root`` and every live descendant."""
    stats = _all_stats()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    # utime, stime, cutime, cstime are stat fields 14-17
    return sum(sum(int(x) for x in f[11:15]) for f in tree(root).values()) / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (Python workers forked from
    one daemon share most of theirs) count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def seconds_since_start() -> float:
    """Wall seconds since this process was started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs (the
    8th value of the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class PeakMemory:
    """Samples the tree's memory (sum of PSS) on a thread; ``peak`` is the
    largest sum seen and ``at_peak`` the per-process MB at that moment."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            per = {pid: _pss_bytes(pid) for pid in tree(self.root)}
            if sum(per.values()) > self.peak:
                self.peak = sum(per.values())
                self.at_peak = {f"{_comm(p)}:{p}": b / 2**20 for p, b in per.items()}
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until every pid has exited; SIGKILL stragglers at the
    deadline and wait for those too.  Returns the pids that were killed."""
    deadline = time.monotonic() + timeout_s
    pids = [p for p in pids if p != os.getpid()]
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in killed):
        time.sleep(0.05)
    return killed


def stale_processes(root_dir: str) -> list[int]:
    """Processes other than this one whose working directory is
    ``root_dir``: a previous run's JVM or Python workers still exiting."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            cwd = os.readlink(f"/proc/{name}/cwd")
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if cwd == root_dir and (b"java" in cmd or b"pyspark" in cmd):
            out.append(int(name))
    return out
