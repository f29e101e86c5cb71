"""Measurement helpers: in-memory spans, a memory sampler, host state and
child-process reaping. Everything reads ``/proc``; nothing here starts a
process."""

from __future__ import annotations

import contextlib
import os
import threading
import time


class Tracer:
    """Spans (name, start, end, parent) kept in memory until ``dump``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec["end"] - rec["start"]
        raise KeyError(name)

    def self_times(self) -> list[dict]:
        """Each span with its self time: its duration minus the part of
        its interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        out = []
        for i, rec in enumerate(self.spans):
            covered, last_end = 0.0, rec["start"]
            for c in sorted(children.get(i, ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last_end), min(c["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            dur = rec["end"] - rec["start"]
            out.append({**rec, "duration_s": dur, "self_s": dur - covered})
        return out


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        out[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    """PIDs of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by N processes count 1/N in
    each, so the sum over the Python workers forked from one daemon does
    not count their shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak of the summed PSS of this process's descendants (the Spark
    JVM and its Python workers), sampled on a thread while active."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in descendants()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def host_state() -> dict:
    """Context recorded with each run; not a metric."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": load, "nproc": cpu_count(),
            "mem_available_mb": mem_kb("MemAvailable") // 1024}


def stop_processes(pids: list[int]) -> None:
    """Wait briefly for ``pids`` to exit; SIGTERM, then SIGKILL, the
    stragglers, and wait for them too."""
    import signal

    def alive() -> list[int]:
        return [p for p in pids if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]

    for sig, wait_s in ((None, 1.0), (signal.SIGTERM, 3.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for p in alive():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        deadline = time.monotonic() + wait_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        return stat[stat.rindex(")") + 2]
    except OSError:
        return "X"
