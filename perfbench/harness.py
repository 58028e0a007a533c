"""Measurement helpers shared by the benchmark workloads.

Nothing here imports Spark: the helpers work on plain numbers, rows and
the JSON lines of a Spark event log, so they are unit-tested without a
session (``perfbench/tests``).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else float("nan")


def trimmed_mean(samples: list[float]) -> float:
    """Mean of the samples left after dropping the lowest and the highest
    quarter (rounded down, but at least one each from three samples on):
    robust to a slow outlier like a median, but it does not jump between
    the modes of a two-mode sample as a median of a few samples does."""
    xs = sorted(samples)
    k = max(1, len(xs) // 4) if len(xs) >= 3 else 0
    xs = xs[k:len(xs) - k]
    return sum(xs) / len(xs) if xs else float("nan")


def script_seconds(groups: dict, n_cycles: int) -> float:
    """Robust time of one cycle's script of calls: for each group of alike
    calls, its trimmed mean wall time times its calls per cycle, summed.
    One slow call moves that little, where it moves a total, or a median
    of a few cycle totals, a lot."""
    return sum(trimmed_mean(ws) * len(ws) / n_cycles for ws in groups.values())


def interval_union(intervals: list[tuple[float, float]], lo: float | None = None,
                   hi: float | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to
    ``[lo, hi]``; overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, -math.inf
    for a, b in sorted(clipped):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _canon(v) -> str:
    if isinstance(v, float):
        return repr(round(v, 9))
    if hasattr(v, "asDict"):  # nested Row
        return _canon(v.asDict(recursive=True))
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def fingerprint(rows) -> tuple[int, int]:
    """Order-independent fingerprint of a result: ``(row count, sum of
    per-row 64-bit digests mod 2**64)``.  Rows are sequences or dicts of
    plain values; dict rows are keyed by column name, so column order does
    not matter either."""
    acc, n = 0, 0
    for r in rows:
        if hasattr(r, "asDict"):
            r = r.asDict(recursive=True)
        d = hashlib.blake2b(_canon(r).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(d, "little")) % (1 << 64)
        n += 1
    return n, acc


def combine(a: tuple[int, int], b: tuple[int, int]) -> tuple[int, int]:
    """Fingerprint of the multiset union of two fingerprinted results."""
    return a[0] + b[0], (a[1] + b[1]) % (1 << 64)


# --- spans and the event-log fold --------------------------------------------


@dataclass
class Span:
    """One call into a layer, timed from the benchmark's side."""

    name: str
    kind: str
    cycle: int
    start_ms: float
    end_ms: float
    ok: bool = True
    stats: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Recorder:
    """Keeps spans in memory; ``span`` times one call."""

    def __init__(self):
        self.spans: list[Span] = []

    def span(self, name: str, kind: str, cycle: int):
        return _SpanCtx(self, name, kind, cycle)

    def of_kind(self, kind: str, cycles=None) -> list[Span]:
        return [s for s in self.spans
                if s.kind == kind and (cycles is None or s.cycle in cycles)]


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str, kind: str, cycle: int):
        self.rec, self.name, self.kind, self.cycle = rec, name, kind, cycle

    def __enter__(self) -> Span:
        self.span = Span(self.name, self.kind, self.cycle, time.time() * 1000.0, 0.0)
        return self.span

    def __exit__(self, exc_type, exc, tb):
        self.span.end_ms = time.time() * 1000.0
        self.span.ok = self.span.ok and exc_type is None
        self.rec.spans.append(self.span)
        return False


TASK_FIELDS = {
    "executor.run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor.cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "executor.gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle.read_bytes": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ),
    "shuffle.write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0),
    "spill.bytes": lambda m: m.get("Memory Bytes Spilled", 0)
    + m.get("Disk Bytes Spilled", 0),
    "scan.input_bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
}


def read_event_log(path: str) -> list[dict]:
    events = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


def fold_events(events: list[dict], spans: list[Span]) -> dict[int, dict]:
    """Attribute Spark jobs, stages and tasks to the spans that issued them.

    A job belongs to the innermost span whose wall-clock window holds its
    submission time.  Attribution is by time, not by job group, because
    jobs that Structured Streaming runs inside ``ingest_stream`` carry the
    stream's own group; with one client thread issuing one call at a time
    the windows do not overlap.  Tasks follow their stage's job.  Returns
    ``{id(span): stats}`` with job/stage/task counts, the union of job
    intervals (``spark.job_s``), the rest of the span's wall time
    (``spark.driver_gap_s``) and the summed TaskEnd metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"start": e["Submission Time"], "end": None}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]

    ordered = sorted(spans, key=lambda s: (s.start_ms, -s.end_ms))
    job_span: dict[int, Span] = {}
    for jid, j in jobs.items():
        best = None
        for s in ordered:
            if s.start_ms <= j["start"] <= s.end_ms and (
                best is None or s.wall_s <= best.wall_s
            ):
                best = s
        if best is not None:
            job_span[jid] = best

    out: dict[int, dict] = {}
    for s in spans:
        out[id(s)] = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
                      **{k: 0.0 for k in TASK_FIELDS}, "_stages": set(),
                      "_intervals": []}
    for jid, s in job_span.items():
        j = jobs[jid]
        st = out[id(s)]
        st["spark.jobs"] += 1
        st["_intervals"].append((j["start"], j["end"] or s.end_ms))
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        s = job_span.get(stage_job.get(e.get("Stage ID"), -1))
        if s is None:
            continue
        st = out[id(s)]
        st["spark.tasks"] += 1
        st["_stages"].add(e["Stage ID"])
        m = e.get("Task Metrics") or {}
        for k, f in TASK_FIELDS.items():
            st[k] += f(m)
    for s in spans:
        st = out[id(s)]
        st["spark.stages"] = len(st.pop("_stages"))
        job_ms = interval_union(st.pop("_intervals"), s.start_ms, s.end_ms)
        st["spark.job_s"] = job_ms / 1000.0
        st["spark.driver_gap_s"] = max(0.0, s.wall_s - job_ms / 1000.0)
    return out


# --- process memory ----------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Samples the RSS of this process plus all its descendants (the JVM
    that PySpark launches) on a background thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kb(me) + sum(_rss_kb(p) for p in _descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of the regular files under ``path``; with ``since`` (epoch
    seconds) only files modified at or after it, i.e. written since then."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.lstat(os.path.join(root, f))
            except OSError:
                continue
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total
