"""Fitting the benchmark to the host it runs on.

* ``spark_sizing`` derives the master from the CPU count and the driver heap
  from ``/proc/meminfo``.
* ``fingerprint`` stamps a record with what makes two records comparable.
* ``RssSampler`` samples the resident memory of this process and all its
  descendants (the driver JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading

HEAP_SHARE = 0.125
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 8192
COMPARABLE_KEYS = ("nproc", "mem_total_kb", "java", "spark", "python")


def meminfo_kb(key: str = "MemTotal") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def spark_sizing() -> dict:
    """``local[nproc]`` and a driver heap of an eighth of MemTotal, clamped to
    1..8 GiB: the inputs are tens of MB, and the rest of the host stays
    free for Python workers and whatever else shares the machine."""
    nproc = len(os.sched_getaffinity(0))
    heap_mb = int(min(HEAP_MAX_MB, max(HEAP_MIN_MB, HEAP_SHARE * meminfo_kb() / 1024)))
    return {"nproc": nproc, "master": f"local[{nproc}]", "driver_memory": f"{heap_mb}m"}


def _java_version() -> str:
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (r.stderr or r.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def git_commit(root: str) -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (r.stdout.strip() or None) if r.returncode == 0 else None


def fingerprint(root: str, spark_version: str) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": meminfo_kb(),
        "java": _java_version(),
        "spark": spark_version,
        "python": platform.python_version(),
        "git_commit": git_commit(root),
    }


def not_comparable(a: dict, b: dict) -> list:
    """Host keys on which two fingerprints differ (empty: comparable)."""
    return [k for k in COMPARABLE_KEYS if a.get(k) != b.get(k)]


# ---------------------------------------------------------------------------
# resident memory
# ---------------------------------------------------------------------------


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and every descendant, from
    ``/proc/<pid>/statm`` (cheap to read: ``smaps_rollup`` would walk the
    JVM's page tables under its memory-map lock on every sample).

    A child the JVM is spawning shares the JVM's address space until it
    execs, and its ``statm`` repeats the JVM's resident size; a child that
    still runs the ``java`` executable of its parent is skipped, so the
    JVM's memory is counted once."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root_pid, None)]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if parent_exe is not None and exe == parent_exe and os.path.basename(exe) == "java":
            continue
        todo.extend((k, exe) for k in kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes(getpid())``,
    over the whole run (``peak``) and since the last ``start_window()``
    (``window_peak``)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = self.window_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self):
        rss = tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, rss)
        self.window_peak = max(self.window_peak, rss)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start_window(self):
        self.window_peak = 0

    def end_window(self) -> int:
        self._sample()
        return self.window_peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
