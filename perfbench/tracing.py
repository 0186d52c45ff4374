"""In-memory spans with Spark job counts, and a /proc RSS sampler.

Spans are recorded from the benchmark's side of each layer boundary:
around calls into the package's public functions. Each span runs under its
own Spark job group, so the status tracker gives the number of Spark jobs
it started; a span's count includes its children's.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.iteration: int | None = None
        # wall seconds spent in the tracer's own bookkeeping (the JVM
        # round trips that set job groups and count their jobs): the time
        # tracing adds to a traced run
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "iteration": self.iteration, "spark_jobs": 0}
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        self._sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["spark_jobs"] += len(
                self._sc.statusTracker().getJobIdsForGroup(group))
            if self._stack:
                parent = self._stack[-1]
                parent["spark_jobs"] += rec["spark_jobs"]
                self._sc.setJobGroup(f"perfbench-span-{parent['id']}",
                                     parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a spanned wrapper; returns an undo
        callable. Call sites that look the function up on the module at
        call time (as ``pipeline.job`` does) see the wrapper."""
        fn = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, fn)

    def named(self, name: str, iteration: int | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (iteration is None or s["iteration"] == iteration)]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"])
        covered, edge = 0.0, rec["start"]
        for start, end in kids:
            start = max(start, edge)
            if end > start:
                covered += end - start
                edge = end
        return rec["end"] - rec["start"] - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


CLK_TCK = os.sysconf("SC_CLK_TCK")


def stolen_jiffies() -> int:
    """CPU time the hypervisor gave to other guests, summed over this
    box's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendant_pids() -> list[int]:
    """Every live process started (transitively) by this one."""
    me = os.getpid()
    return [p for p in _descendants(me) if p != me]


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in _descendants(os.getpid()))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
