"""The benchmark's process tree: summed PSS sampling and clean shutdown.

The tree is this Python driver, the JVM it launches, and the JVM's Python
daemon and workers. PSS (proportional set size) splits shared pages between
the processes that map them, so the sum does not count the workers' shared
interpreter pages once per worker.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PssSampler:
    """Samples the summed PSS of a process tree every ``interval`` seconds
    from a daemon thread; ``stop()`` returns the peak in MB, and
    ``peak_parts_mb()`` splits that peak into the root process, the JVM
    and the rest (the Python workers)."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root = root
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            parts = {"driver": pss_kb(self.root), "jvm": 0, "workers": 0}
            for p in descendants(self.root):
                parts["jvm" if _comm(p) == "java" else "workers"] += \
                    pss_kb(p)
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self._stop.wait(self.interval)

    def peak_parts_mb(self) -> dict[str, float]:
        return {k: v / 1024.0 for k, v in self.peak_parts.items()}

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def reap_children(timeout: float = 30.0) -> None:
    """Terminate every descendant (the JVM and its Python workers) and wait
    until each has ended; escalates to SIGKILL after ``timeout``."""
    try:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    except Exception:  # noqa: BLE001 — shutdown continues below regardless
        pass
    pids = descendants(os.getpid())
    for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, 5.0)):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if pids:
                time.sleep(0.1)
        if not pids:
            return


def _alive(pid: int) -> bool:
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done:
            return False
    except ChildProcessError:
        pass  # not our direct child: fall back to /proc
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
