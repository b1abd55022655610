"""Resident memory of the Spark driver JVM and its Python workers, and the
end of that process tree, read from /proc (psutil is not a dependency). Only
anonymous memory counts (heap, native buffers, Python objects): file pages
the JVM maps to read shuffle blocks are page cache, not memory the stage
holds."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited while we walked /proc
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _stat(pid: int) -> tuple[str, int]:
    """(state, start time in clock ticks) of ``pid``; OSError once it is gone."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        fields = f.read().rsplit(b")", 1)[1].split()
    return fields[0].decode(), int(fields[19])


def descendants(root: int) -> list[tuple[int, int]]:
    """``root`` and every process below it, as (pid, start time) pairs."""
    kids = _children()
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            found.append((pid, _stat(pid)[1]))
        except OSError:
            continue
    return found


def _alive(pid: int, start: int) -> bool:
    try:
        state, started = _stat(pid)
    except OSError:
        return False
    if started != start:  # the pid was reused
        return False
    if state == "Z":
        try:  # reaps it if it is our own child
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def wait_gone(procs: list[tuple[int, int]], timeout: float = 30.0) -> None:
    """Wait until every (pid, start time) in ``procs`` has ended; what is
    still running after ``timeout`` seconds is killed and waited for."""
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid, start in procs:
                if _alive(pid, start):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + timeout
        while True:
            procs = [p for p in procs if _alive(*p)]
            if not procs:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes {[p for p, _ in procs]} did not end")


def _rss_anon(pid: int) -> int:
    with open(f"/proc/{pid}/status", "rb") as f:
        for line in f:
            if line.startswith(b"RssAnon:"):
                return int(line.split()[1]) * 1024
    return 0


def _is_python(pid: int) -> bool:
    with open(f"/proc/{pid}/comm", "rb") as f:
        return f.read().startswith(b"python")


def tree_rss_bytes(root: int) -> int:
    """Anonymous RSS of ``root`` and its Python descendants. Other children
    are skipped: a child the JVM has forked but not yet exec'd still reports
    the JVM's whole memory as its own."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            if pid == root or _is_python(pid):
                total += _rss_anon(pid)
        except OSError:  # exited since the walk
            continue
    return total


class PeakRss:
    """Samples the RSS of a process tree on a background thread; ``peak()``
    returns the largest sample since the last ``reset()``."""

    def __init__(self, root: int, interval: float = 0.05):
        self._root, self._interval = root, interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self._interval):
            rss = tree_rss_bytes(self._root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def reset(self):
        with self._lock:
            self._peak = tree_rss_bytes(self._root)

    def peak(self) -> int:
        with self._lock:
            return max(self._peak, tree_rss_bytes(self._root))
