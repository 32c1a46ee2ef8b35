"""Spans around calls into the engine's layers, and /proc probes.

Tracing happens only in a traced run, from the benchmark's side: a
``Tracer`` replaces a layer's public function in every loaded module of
the package with a wrapper that records a span (name, start, end,
parent) and calls through. Nothing in the package itself changes.
Spans stay in memory until the run writes them out at its end.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
from dataclasses import dataclass

PACKAGE = "mapreducewordcount_spark"

#: (module, function, span name) of every layer entry point wrapped in a
#: traced run. ``get_spark``, ``spark_fn`` and the actions are called by
#: the benchmark itself and get their spans at the call site.
LAYER_FUNCTIONS = (
    (f"{PACKAGE}.sources.tables", "load_table", "sources.load_table"),
    (f"{PACKAGE}.sources.text", "read_corpus", "sources.read_corpus"),
    (f"{PACKAGE}.sources.sig_artifacts", "materialize_frame",
     "sig_artifacts.materialize_frame"),
    (f"{PACKAGE}.sources.sig_artifacts", "materialize_signatures",
     "sig_artifacts.materialize_signatures"),
)


@dataclass
class Span:
    name: str
    start: float        # epoch seconds, comparable with Spark's clock
    end: float
    parent: int | None  # index into Tracer.spans
    attrs: dict

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, attrs))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        """Route every loaded reference to a layer function through a
        span. Modules bind these names at import (``from ... import
        load_table``), so each module attribute holding the original
        object is replaced, not just the defining one."""
        import importlib

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self.wrap(original, span_name)
            for name, mod in list(sys.modules.items()):
                if not name.startswith(PACKAGE) or mod is None:
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapper)

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            cur = todo.pop()
            kids = [i for i, s in enumerate(self.spans) if s.parent == cur]
            out.extend(kids)
            todo.extend(kids)
        return out

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, **s.attrs} for s in self.spans]


# --------------------------------------------------------------------------
# /proc probes (Linux)
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after it start past the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def process_tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields of every live descendant of ``root``."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                stats[int(entry)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[2]), []).append(pid)  # ppid
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[1] != "Z"


def jvm_pid() -> int | None:
    for pid, fields in process_tree(os.getpid()).items():
        if fields[0] == "java":
            return pid
    return None


def python_worker_cpu_s() -> float:
    """CPU (user + system, own + reaped children) of the PySpark Python
    worker processes: every python descendant of this process."""
    ticks = 0
    for fields in process_tree(os.getpid()).values():
        if fields[0].startswith("python"):
            # utime stime cutime cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[12:16])
    return ticks / _TICK


def peak_rss_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS."""
    with contextlib.suppress(OSError):
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return sum(vals[:8]), steal


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_probe_s() -> float:
    """Seconds a fixed single-threaded Python loop takes (median of 3).

    On a shared host the speed of a core can halve while the steal
    counter reads zero; this shows it from the run's own record."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]
