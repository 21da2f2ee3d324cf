"""Process-tree CPU, memory and host steal, read from /proc (Linux).

The benchmark's Python process launches the Spark JVM, and the JVM forks
the Python UDF workers, so "the program" is the whole tree under this
process. CPU is what a cluster bills; steal is the time the hypervisor
took the vCPUs away, recorded as a diagnostic only.

The JVM's JIT compiler threads are also sampled apart: in a run of about
a minute the engine is still being compiled (whole-tree CPU per 10k-doc
suite call on 4 cores kept falling through the 9th call, from 52 s to
~15 s), and their share shows how much of a call's CPU is compilation.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # fields after "(comm)"; comm may contain spaces and parentheses
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(entry)
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, including reaped children
    (the UDF daemon reaps its forked workers, so their time lands in its
    cutime/cstime)."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def host_steal_s() -> float:
    """Cumulative steal seconds over all CPUs of the host (/proc/stat)."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                return int(line.split()[8]) / _TICK
    return 0.0


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
SAMPLE_INTERVAL_S = 0.2


class TreeSampler:
    """Samples the tree on a background thread: ``peak_mb`` is the largest
    resident memory seen, ``jit_cpu_s()`` the CPU of the JIT compiler
    threads so far (each thread's last reading is kept, so a compiler
    thread that exits still counts). Use as a context manager so the
    thread is always joined."""

    def __init__(self):
        self.peak_mb = 0.0
        self._jit_ticks: dict[tuple[int, str], int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = 0.0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss += int(fh.read().split()[1]) * _PAGE_MB
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() != "java":
                        continue
                tids = os.listdir(f"/proc/{pid}/task")
            except (OSError, IndexError, ValueError):
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        raw = fh.read()
                except OSError:
                    continue
                if raw[raw.index("(") + 1:].startswith(_JIT_THREADS):
                    f = raw[raw.rindex(")") + 2:].split()
                    self._jit_ticks[(pid, tid)] = int(f[11]) + int(f[12])
        self.peak_mb = max(self.peak_mb, rss)

    def jit_cpu_s(self) -> float:
        self._sample()
        return sum(self._jit_ticks.values()) / _TICK

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> TreeSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
