"""Launching a job CLI as a subprocess and watching its process tree.

Every job runs in its own session (process group), so the JVM and the
Python workers it forks can be stopped together, and its memory is
the summed RSS of that tree, read from ``/proc``.

Not every process a job leaves stays in that group: PySpark's worker
daemon moves itself to a group of its own, and a JVM outlives the
Python process that started it for as long as its shutdown takes. So
the benchmark makes itself the child subreaper of everything it starts
(orphans are re-parented to it, not to init) and ``stop_descendants``
kills and reaps whatever is left below it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SAMPLE_EVERY_S = 0.2


def _parents():
    """(pid, ppid) of every process, from /proc/<pid>/stat (the second
    field after the parenthesised command name)."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        yield int(name), int(stat[stat.rindex(b")") + 2 :].split()[1])


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process
    (``prctl(PR_SET_CHILD_SUBREAPER)``), so they can be found and
    waited for after their parent has exited."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def descendants() -> set[int]:
    return set(_tree(os.getpid())[1:])


def stop_descendants(spare: set[int] = frozenset(),
                     timeout: float = 30.0) -> bool:
    """SIGKILL every process below this one but those in ``spare`` and
    wait until each has ended and been reaped; returns False if some
    were still there at ``timeout``."""
    deadline = time.time() + timeout
    while True:
        _reap()
        below = descendants() - spare
        if not below:
            return True
        if time.time() > deadline:
            return False
        for pid in below:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.02)


def _tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_read_bytes(root_pid: int) -> int:
    """Bytes the processes below ``root_pid`` (not itself) have read
    through read() calls, from ``/proc/<pid>/io`` (``rchar``)."""
    total = 0
    for pid in _tree(root_pid)[1:]:
        try:
            with open(f"/proc/{pid}/io", encoding="ascii") as f:
                total += int(f.readline().split()[1])
        except OSError:
            continue
    return total


class Job:
    """One CLI process, launched through ``launch.py``. ``ready_at`` is
    when its SparkSession came up; ``peak_rss_mb`` the largest summed
    RSS of its process tree while it ran."""

    def __init__(self, script: str, args: list[str], work: str, env: dict):
        self.ready_file = os.path.join(work, f".ready-{time.time_ns()}")
        self.log_path = os.path.join(work, "job.log")
        self.peak_rss_mb = 0.0
        self._log = open(self.log_path, "ab")
        self._before = descendants()
        self.started = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "launch.py"),
             self.ready_file, os.path.join(ROOT, script), *args],
            cwd=ROOT, env=env, stdout=self._log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(
                self.peak_rss_mb, tree_rss_mb(self.proc.pid)
            )
            self._stop.wait(SAMPLE_EVERY_S)

    @property
    def ready_at(self) -> float | None:
        try:
            with open(self.ready_file, encoding="utf-8") as f:
                return float(f.read())
        except (OSError, ValueError):
            return None

    def interrupt(self) -> None:
        """Ctrl-C, as a user stops a continuous stream."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)

    def wait(self, timeout: float) -> int:
        """Wait for the CLI, then stop whatever is left of its tree;
        returns the exit code (a timeout kills it and returns -9).
        Jobs run one at a time, so every process below the benchmark
        that was not there when the job started is the job's."""
        try:
            rc = self.proc.wait(timeout=max(timeout, 0.1))
        except subprocess.TimeoutExpired:
            rc = None
        self.ended = time.time()
        self._stop.set()
        self._sampler.join()
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if rc is None:
            rc = -9
        self.proc.wait()
        if not stop_descendants(spare=self._before):
            raise RuntimeError("processes of the job outlived SIGKILL")
        self._log.close()
        return rc

    def log_tail(self, n: int = 20) -> str:
        with open(self.log_path, encoding="utf-8", errors="replace") as f:
            lines = [ln for ln in f if "WARN" not in ln]
        return "".join(lines[-n:])
