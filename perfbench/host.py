"""Host-side evidence for a run: peak memory of the engine's processes
and how contended the machine was while the run measured."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces: fields restart after ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status_kb(pid: int, field: str) -> int:
    """A ``/proc/<pid>/status`` size field such as ``VmRSS``, in kB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every process below ``root``."""
    kids = _children()
    todo, out = list(kids.get(root, [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Background sampler of the processes below this one: the JVM and
    the Python workers it forks. ``peak_mb`` is the largest summed RSS of
    a sample between ``start`` and ``stop``, ``peak_jvm_mb`` the JVM's own
    largest sample. ``py_peak_mb`` sums each Python worker's own peak RSS
    (``VmHWM``): the workers peak at different moments, so a summed
    sample catches a varying share of their peaks.

    Other processes are left out: the JVM starts short-lived helpers
    (Hadoop's shell commands), and until such a child calls ``exec`` it
    shares the JVM's memory and shows the JVM's RSS under a thread's
    name."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = self.peak_jvm_mb = 0.0
        self._py_hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            jvm = py = 0
            for p in descendants(me):
                comm = _comm(p)
                if comm == "java":
                    jvm += _status_kb(p, "VmRSS")
                elif comm.startswith("python"):
                    py += _status_kb(p, "VmRSS")
                    self._py_hwm_kb[p] = max(self._py_hwm_kb.get(p, 0),
                                             _status_kb(p, "VmHWM"))
            self.peak_mb = max(self.peak_mb, (jvm + py) / 1024.0)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm / 1024.0)
            self._stop.wait(self.interval_s)

    @property
    def py_peak_mb(self) -> float:
        return sum(self._py_hwm_kb.values()) / 1024.0

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]) - idle, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Steal as a share of busy jiffies between two samples."""
    busy = after[0] - before[0]
    return (after[1] - before[1]) / busy if busy > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def harness_commit(root: str) -> str:
    """The checkout's git commit, or, outside a git checkout, a digest
    of the package and benchmark sources."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0 and out.stdout.strip():
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for top in ("pdf_extract_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    return "src-" + h.hexdigest()[:16]
