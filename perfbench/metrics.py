"""Measurement helpers with no Spark dependency: metric-name rules,
span self time, Spark SQL-metric string parsing, the in-memory
span recorder and the process-tree RSS sampler."""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not NAME_RE.fullmatch(name):
        raise ValueError("bad metric name %r" % name)
    return name


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it covered by its
    children (overlapping children are counted once)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach, s["start"]), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
            reach = max(reach, hi)
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """A Spark SQL-metric display string -> number in base units (bytes,
    seconds or a plain count).  Task-level metrics read
    ``"total (min, med, max (stageId: taskId))\\n49.2 MiB (...)"``; the
    total is the first value on the last line.  Sum metrics are a bare
    number such as ``"20,000"``."""
    m = _VALUE_RE.match(text.rsplit("\n", 1)[-1])
    if not m:
        raise ValueError("unparsable SQL metric %r" % text)
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    if unit:
        raise ValueError("unknown unit in SQL metric %r" % text)
    return value


class Tracer:
    """In-memory spans ``{id, name, start, end, parent}``; disabled, it
    records nothing and ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time_by_name(self) -> dict[str, float]:
        own = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
        return out


def _ppid_and_name(stat: str) -> tuple[int, str]:
    """Parent pid and command name from the text of ``/proc/<pid>/stat``."""
    name = stat[stat.index("(") + 1 : stat.rindex(")")]
    return int(stat[stat.rindex(")") + 2 :].split()[1]), name


def _exe(pid: int) -> str | None:
    try:
        return os.readlink("/proc/%d/exe" % pid)
    except OSError:
        return None  # the process ended


def descendants(root: int) -> list[int]:
    """Pids of ``root``'s process tree, ``root`` included, leaving out a
    JVM's children that have not yet run ``exec``: a JVM starts commands
    (``chmod``, the Python daemon) with ``vfork``, and until the ``exec``
    the child, named after the forking thread, shows the JVM's RSS, which is
    the same memory counted twice."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry) as f:
                ppid, names[int(entry)] = _ppid_and_name(f.read())
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        kids = children.get(pid, [])
        if names.get(pid) == "java":
            exe = _exe(pid)
            kids = [c for c in kids if _exe(c) != exe]
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s process tree (from ``statm``, which is cheap
    to read; ``smaps_rollup`` takes ~30 ms per read on a 1 GB JVM and holds
    its memory-map lock meanwhile)."""
    total = 0
    for pid in descendants(root):
        try:
            with open("/proc/%d/statm" % pid) as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass  # the process ended
    return total


class RssSampler:
    """Samples the RSS of this process's tree every ``period`` seconds on a
    background thread; ``peak`` is the largest sum seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
