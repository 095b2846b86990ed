"""Spans, process-tree sampling and summary statistics.

A span is (name, start, end, parent, run_id, cpu_s).  The layer of a
span is the part of its name before the first dot.  Spans are kept in
memory and written out once, when the run ends.

CPU and memory come from /proc and cover this process (the PySpark
driver) and every descendant: the driver JVM, the PySpark daemon and
its Python workers.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# ------------------------------------------------------------ /proc

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """utime+stime of this process and every descendant, plus what
    they reaped."""
    total = 0
    for p in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def machine_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Meter:
    """Wall time, process-tree CPU and machine steal over one or more
    `with` blocks (they add up).

    Steal is CPU time the hypervisor gave to other guests while this
    VM's CPUs wanted to run.  The benchmark's process tree is the only
    busy one on the VM, so `share` = cpu / (cpu + steal) is the part of
    its runnable time it actually ran, and `wall * share` is the wall
    time without the hypervisor's interruptions.  On a dedicated host
    steal is 0 and `share` is 1."""

    def __init__(self):
        self.wall = self.cpu = self.steal = 0.0

    def __enter__(self) -> "Meter":
        self._t0, self._c0, self._s0 = time.perf_counter(), tree_cpu_s(), machine_steal_s()
        return self

    def __exit__(self, *exc) -> None:
        self.wall += time.perf_counter() - self._t0
        self.cpu += tree_cpu_s() - self._c0
        self.steal += machine_steal_s() - self._s0

    @property
    def share(self) -> float:
        busy = self.cpu + self.steal
        return self.cpu / busy if busy > 0 else 1.0


def tree_rss_mb() -> float:
    """Resident memory of every descendant, as proportional set size:
    pages shared between processes (the PySpark daemon and the workers
    it forks) count once in total, where summed RSS counts them once
    per process and jumps with the number of live workers."""
    total_kb = 0
    for p in descendants():
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


class RssSampler:
    """Peak process-tree memory (`tree_rss_mb`) while running, polled
    on a thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# ------------------------------------------------------------ spans

class Tracer:
    """Records nested spans.  `span()` is a context manager; the
    innermost open span is the parent of a new one."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.rec = dict(
            id=len(t.spans), name=self.name,
            parent=t._open[-1] if t._open else None, run_id=t.run_id,
            start=time.perf_counter(), end=None, cpu_s=None,
        )
        t.spans.append(self.rec)
        t._open.append(self.rec["id"])
        self._cpu0 = tree_cpu_s()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.rec["cpu_s"] = tree_cpu_s() - self._cpu0
        self.tracer._open.pop()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_metrics(spans: list[dict], layers: list[str], nproc: int) -> dict[str, float]:
    """`<layer>.s`, `<layer>.self_s`, `<layer>.cpu_util` for each layer.

    `.s` sums the layer's outermost spans (a span nested in a span of
    the same layer is not counted twice); `.self_s` sums every span's
    self time; `cpu_util` is the process-tree CPU of the outermost
    spans ÷ (their wall × nproc)."""
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def layer(s):
        return s["name"].split(".", 1)[0]

    out = {}
    for lay in layers:
        mine = [s for s in spans if layer(s) == lay]
        outer = [
            s for s in mine
            if s["parent"] is None or layer(by_id[s["parent"]]) != lay
        ]
        wall = sum(s["end"] - s["start"] for s in outer)
        cpu = sum(s["cpu_s"] for s in outer)
        out[f"{lay}.s"] = wall
        out[f"{lay}.self_s"] = sum(selfs[s["id"]] for s in mine)
        out[f"{lay}.cpu_util"] = cpu / (wall * nproc) if wall > 0 else 0.0
    return out


# ------------------------------------------------------------ stats

def summary(samples: list[float]) -> dict:
    """Median, quartiles and count — every sample is kept by callers."""
    if len(samples) == 1:
        q1 = med = q3 = samples[0]
    else:
        q1, med, q3 = statistics.quantiles(samples, n=4)
        med = statistics.median(samples)
    return dict(median=med, q1=q1, q3=q3, n=len(samples))
