"""Measurement helpers for the benchmark: in-memory spans, Spark
event-log attribution, a streaming progress listener, a peak-RSS sampler,
a split of a process's resident memory by address range and readers for
the JVM's GC log. Nothing here touches the engine's code; spans wrap the
benchmark's own calls into each layer.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    kind: str = "layer"  # "layer" spans carry metrics; "stage" spans are detail

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory (name, start, end, parent), written out once
    with ``write``, followed by one summary record."""

    spans: list[Span] = field(default_factory=list)
    # run-level figures written after the spans, as {"summary": ...}
    summary: dict = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, kind: str = "layer"):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, kind=kind))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Per layer name: its spans' durations minus the part their
        child layer spans cover (stage spans are not subtracted)."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.kind != "layer":
                continue
            kids = sum(
                c.dur
                for c in self.spans
                if c.kind == "layer" and self._layer_parent(c) == i
            )
            out[s.name] = out.get(s.name, 0.0) + s.dur - kids
        return out

    def _layer_parent(self, s: Span) -> int | None:
        p = s.parent
        while p is not None and self.spans[p].kind != "layer":
            p = self.spans[p].parent
        return p

    def layer_at(self, t: float) -> str | None:
        """Innermost layer span open at epoch time ``t``."""
        best = None
        for s in self.spans:
            if s.kind == "layer" and s.start <= t <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        return best.name if best else None

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "kind": s.kind,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                        }
                    )
                    + "\n"
                )
            f.write(json.dumps({"summary": self.summary}) + "\n")


JOB_FIELDS = ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes", "gc_s")


def event_log_totals(log_dir: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Read the Spark event log(s) under ``log_dir`` and sum job/task
    counters per layer span, attributing each job to the innermost layer
    span open at its submission time."""
    stage_layer: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}

    def bucket(layer: str) -> dict[str, float]:
        return totals.setdefault(layer, dict.fromkeys(JOB_FIELDS, 0.0))

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    layer = tracer.layer_at(ev["Submission Time"] / 1000.0)
                    if layer is None:
                        continue
                    bucket(layer)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer[sid] = layer
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev.get("Stage ID"))
                    if layer is None:
                        continue
                    b = bucket(layer)
                    b["tasks"] += 1
                    if ev.get("Task Info", {}).get("Failed"):
                        b["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return totals


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class PeakRss:
    """Sample the resident memory of process ``pid`` every ``interval``
    seconds on a thread while the ``with`` block runs; ``peak_mb`` holds
    the highest reading."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.pid = pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, _rss_bytes(self.pid) / (1024 * 1024))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# lines of the JVM's "-Xlog:gc,gc+heap=debug" output, e.g.
# "GC(13) Pause Full (System.gc()) 540M->312M(1164M) 236.550ms"
# "GC(12)  garbage-first heap   total 260096K, used 115636K [0x0000000080000000, 0x0000000100000000)"
_GC_FULL = re.compile(r"Pause Full .* \d+M->(\d+)M\(\d+M\)")
_GC_HEAP_RANGE = re.compile(r"garbage-first heap .*\[0x([0-9a-f]+), 0x([0-9a-f]+)\)")


def gc_full_after_mb(log_path: str, offset: int) -> float | None:
    """From the GC log past byte ``offset``: the heap occupancy after the
    last full collection, in MB; None when there was none."""
    with open(log_path, encoding="utf-8") as f:
        f.seek(offset)
        after = _GC_FULL.findall(f.read())
    return float(after[-1]) if after else None


def gc_heap_range(log_path: str) -> tuple[int, int] | None:
    """The address range the JVM reserved for its heap, from the GC log."""
    with open(log_path, encoding="utf-8") as f:
        m = _GC_HEAP_RANGE.search(f.read())
    return (int(m.group(1), 16), int(m.group(2), 16)) if m else None


def resident_split_mb(pid: int, lo: int, hi: int) -> tuple[float, float]:
    """Resident MB of process ``pid`` inside the address range [lo, hi)
    and outside it, from /proc/<pid>/smaps."""
    inside = outside = 0
    in_range = False
    with open(f"/proc/{pid}/smaps", encoding="utf-8") as f:
        for line in f:
            if line.startswith("Rss:"):
                kb = int(line.split()[1])
                if in_range:
                    inside += kb
                else:
                    outside += kb
            elif line[0] in "0123456789abcdef" and "-" in line.split(" ", 1)[0]:
                start, end = (int(x, 16) for x in line.split(" ", 1)[0].split("-"))
                in_range = lo <= start and end <= hi
    return inside / 1024, outside / 1024


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def progress_listener(sink: list[dict]):
    """A StreamingQueryListener that appends each progress event's
    ``durationMs`` map to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({"batchId": p.batchId, "durationMs": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
