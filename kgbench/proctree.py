"""CPU and memory of this process and everything it started, from /proc.

The benchmark's driver is one Python process; Spark starts the driver JVM
as its child, and the JVM forks the Python UDF workers.  CPU and RSS are
summed over that whole tree, so work moved between the JVM and the Python
workers still shows.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of the tree, including children it has reaped."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory of the tree in MB, by command name.

    Each process counts its proportional set size: a page shared by n
    processes counts 1/n in each.  A plain RSS sum would count the JVM
    twice whenever it forks a child, and the Python workers' pages shared
    with their forking daemon once per worker.
    """
    out: dict[str, float] = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            kb = _pss_kb(pid)
        except OSError:
            continue
        out[comm] = out.get(comm, 0.0) + kb / 1024
    return out


class RssSampler:
    """Samples the tree's RSS on a background thread; keeps the peak and
    its split by command name."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_comm: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            by_comm = tree_rss_mb(self.root)
            if sum(by_comm.values()) > self.peak_mb:
                self.peak_mb = sum(by_comm.values())
                self.peak_by_comm = by_comm
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def other_spark_jvms(root: int) -> list[str]:
    """Command lines of Spark JVMs outside this benchmark's tree."""
    mine = set(descendants(root))
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(b"spark" in a for a in argv):
            out.append(b" ".join(argv)[:200].decode(errors="replace"))
    return out
