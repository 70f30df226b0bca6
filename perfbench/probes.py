"""Measurements taken from outside the program: process-tree memory from
/proc and file/byte counts of directories the program wrote."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between memory samples
_INTERVAL = 0.1


def _procs() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        # comm may hold spaces and parentheses: split after the last ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int, procs: dict | None = None) -> list[int]:
    """Every process below ``root`` (not ``root`` itself): here the JVM
    this process launched and the Python workers it forked."""
    procs = _procs() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, ppid in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss(root: int) -> int:
    """Summed resident set of the descendants of ``root``. A child whose
    resident set equals its parent's (to 1%) shares its parent's pages:
    a vfork child that has not exec'd yet (the JVM spawns every
    subprocess this way) or a fork child that has not written yet. It is
    counted once, with the parent."""
    procs = _procs()
    total = 0
    for pid in descendants(root, procs):
        rss = _rss(pid)
        if abs(rss - _rss(procs[pid])) > rss / 100:
            total += rss
    return total


class PeakMemory:
    """Background sampler of ``tree_rss(os.getpid())``; ``peak`` is the
    largest sample in bytes. Used as a context manager it always joins
    its thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me))
            self._stop.wait(_INTERVAL)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``,
    skipping Spark's ``.crc`` side files; (0, 0) when absent."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or not n.endswith(suffix):
                continue
            try:
                size += os.path.getsize(os.path.join(base, n))
            except OSError:
                continue
            files += 1
    return files, size
