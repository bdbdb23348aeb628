"""CPU time and memory of this process and all its descendants, read from
/proc (the Spark JVM and its Python workers are descendants of the benchmark
process).

Memory is the summed proportional set size (Pss), so pages that forked
Python workers share copy-on-write with their parent count once in total,
not once per process."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.25


def _stat(pid: int):
    """Fields after the command name of /proc/<pid>/stat (field 3 first)."""
    with open("/proc/%d/stat" % pid) as f:
        return f.read().rsplit(")", 1)[1].split()


def tree():
    """Pids of this process and its descendants."""
    kids = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                kids.setdefault(int(_stat(int(name))[1]), []).append(int(name))
            except OSError:
                continue
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree():
        try:
            fields = _stat(pid)
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def host_ticks() -> tuple:
    """(steal, total) CPU ticks of the whole box since boot, /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def pss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open("/proc/%d/smaps_rollup" % pid) as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3


def wait_for_children(timeout_s: float) -> None:
    """Wait until this process has no descendants left; kill any that remain
    after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while len(tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


class PeakPss:
    """Samples the tree's summed Pss every SAMPLE_S on a background thread;
    ``peak_mb`` is the highest sample seen inside the ``with`` block, or
    since the last ``reset()``.  Each sample walks /proc once.  The
    sampler's own CPU time is counted in ``cpu_seconds()``;
    ``sampler_cpu_s()`` reads it so that it can be subtracted."""

    def __init__(self):
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = None
        self._clock = None

    def _sample(self):
        mb = pss_mb(tree())
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(SAMPLE_S)

    def reset(self):
        mb = pss_mb(tree())
        with self._lock:
            self.peak_mb = mb

    def sampler_cpu_s(self) -> float:
        return time.clock_gettime(self._clock)

    def __enter__(self):
        self.peak_mb = pss_mb(tree())
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        self._clock = time.pthread_getcpuclockid(self._thread.ident)
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
