"""Workload-independent pieces of the benchmark harness.

Nothing here imports pyspark, so the unit tests in ``test_bench_helpers.py``
run without a Spark session:

- order statistics (median, geometric mean, the tail percentile that
  still leaves ten samples beyond it);
- the span tracer: spans kept in memory, self time, monkeypatch
  wrappers for calls the program makes internally;
- Spark event-log parsing and time-window job attribution;
- the seeded request-key stream of the serve workload;
- ``/proc`` readers for peak RSS and disk usage.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import re
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Iterable, Sequence

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


# ------------------------------------------------------------- statistics ---


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def geomean(xs: Sequence[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(
    samples: Sequence[float],
    ladder: Sequence[int] = (99, 95, 90, 75),
    min_beyond: int = 10,
) -> tuple[int, float] | None:
    """The highest percentile of ``ladder`` whose nearest-rank sample
    leaves at least ``min_beyond`` samples above it, as (p, value);
    None when even the lowest rung has fewer samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    for p in sorted(ladder, reverse=True):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


def check_metric_names(names: Iterable[str]) -> None:
    bad = [n for n in names if not METRIC_NAME_RE.match(n) or len(n) > 64]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")


# ------------------------------------------------------------------ spans ---


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans from the benchmark's own code around calls into the program.

    ``span`` is a context manager; a span opened while another is open
    becomes its child and inherits its request id. ``wrap`` replaces a
    module or class attribute with a span-recording wrapper so calls the
    program makes internally (e.g. ``MedallionPipeline.sync`` calling
    ``run_sync``) are traced too; ``unwrap_all`` restores the originals.
    A disabled tracer records nothing and costs one attribute check."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._wrapped: list[tuple[object, str, object]] = []
        self._next_req = 0

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if root:
            self._next_req += 1
            req = self._next_req
        else:
            req = parent.req if parent else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            req=req,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._wrapped.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._wrapped):
            setattr(owner, attr, original)
        self._wrapped.clear()

    def to_json(self) -> list[dict]:
        return [
            dict(id=s.id, name=s.name, start=s.start, end=s.end,
                 parent=s.parent, req=s.req, **s.attrs)
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by its
    direct children (clipped to the parent, overlaps counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return {s.id: s.dur - _union_length(children.get(s.id, [])) for s in spans}


# -------------------------------------------------------- Spark event log ---


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    input_rows: int = 0
    output_bytes: int = 0


def _event_lines(path: str) -> Iterable[str]:
    """Lines of an event log: one file, or the numbered ``events_N_*``
    parts of a rolling log directory in order."""
    if os.path.isfile(path):
        parts = [path]
    else:
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]))
        parts = [os.path.join(path, n) for n in names]
    for p in parts:
        with open(p) as f:
            yield from f


def read_event_log(path: str) -> list[Job]:
    """Jobs with their task metrics summed, from one Spark event log.
    A stage listed by several jobs belongs to the first one (later jobs
    list it only as a skipped parent)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages_run: dict[int, set[int]] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = Job(id=jid, submit=ev["Submission Time"] / 1000.0)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            stages_run.setdefault(jid, set()).add(ev["Stage ID"])
            job.tasks += 1
            m = ev.get("Task Metrics") or {}
            job.gc_ms += m.get("JVM GC Time", 0)
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
            job.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
    for jid, sids in stages_run.items():
        jobs[jid].stages = len(sids)
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute_jobs(jobs: Sequence[Job], spans: Sequence[Span]) -> dict[int, list[Job]]:
    """Map span id -> jobs submitted while it was the innermost open
    span. Only one call runs at a time, so submission time identifies
    the caller exactly, including jobs launched from helper threads.
    Jobs submitted outside every span are dropped."""
    depth: dict[int, int] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.id] = d
    out: dict[int, list[Job]] = {}
    for job in jobs:
        inner = None
        for s in spans:
            if s.start <= job.submit <= s.end and (
                inner is None or depth[s.id] > depth[inner.id]
            ):
                inner = s
        if inner is not None:
            out.setdefault(inner.id, []).append(job)
    return out


def jobs_under(span_id: int, spans: Sequence[Span], owned: dict[int, list[Job]]) -> list[Job]:
    """Jobs attributed to a span or any of its descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = [], [span_id]
    while todo:
        sid = todo.pop()
        out.extend(owned.get(sid, []))
        todo.extend(kids.get(sid, []))
    return out


class TraceView:
    """Per-layer aggregates over the traced spans. Each timed op (one
    request or query) is a root span named ``op`` with its layer spans
    nested inside; other roots (the traced sync cycle) are read by name."""

    def __init__(self, spans: Sequence[Span], jobs: Sequence[Job]) -> None:
        self.spans = list(spans)
        self.owned = attribute_jobs(jobs, self.spans)
        self.self_s = self_times(self.spans)
        self.ops = [s for s in self.spans if s.name == "op"]

    def named(self, name: str) -> list[Span]:
        """Spans called ``name``; a layer a workload declares must have
        recorded at least one, or its metric would silently read 0."""
        xs = [s for s in self.spans if s.name == name]
        if not xs:
            raise LookupError(f"no span named {name!r}: its wrapper did not fire")
        return xs

    def jobs(self, s: Span) -> list[Job]:
        return jobs_under(s.id, self.spans, self.owned)

    def mean_ms(self, name: str) -> float:
        xs = self.named(name)
        return 1000 * sum(s.dur for s in xs) / len(xs)

    def self_ms(self, name: str) -> float:
        xs = self.named(name)
        return 1000 * sum(self.self_s[s.id] for s in xs) / len(xs)

    def mean_jobs(self, name: str) -> float:
        xs = self.named(name)
        return sum(len(self.jobs(s)) for s in xs) / len(xs)

    def total_s(self, name: str, self_time: bool = False) -> float:
        """Seconds spent in spans called ``name`` (their self time if asked)."""
        return sum(self.self_s[s.id] if self_time else s.dur for s in self.named(name))

    def op_jobs(self) -> list[Job]:
        return [j for s in self.ops for j in self.jobs(s)]

    def spark_per_op(self) -> dict[str, float]:
        jobs, n = self.op_jobs(), max(1, len(self.ops))
        return {
            "spark.jobs_per_op": len(jobs) / n,
            "spark.stages_per_op": sum(j.stages for j in jobs) / n,
            "spark.tasks_per_op": sum(j.tasks for j in jobs) / n,
            "spark.shuffle_write_bytes_per_op": sum(j.shuffle_write_bytes for j in jobs) / n,
            "spark.spill_bytes_per_op": sum(j.spill_bytes for j in jobs) / n,
            "spark.gc_ms_per_op": sum(j.gc_ms for j in jobs) / n,
            "spark.input_rows_per_op": sum(j.input_rows for j in jobs) / n,
        }


# ------------------------------------------------------------- key stream ---


def key_stream(
    catalogs: dict[str, list],
    route_weights: dict[str, int],
    n: int,
    seed: int,
    s: float = 1.0,
) -> list[tuple[str, object]]:
    """``n`` (route, key) requests. The route mix is fixed: every block
    of ``sum(route_weights)`` requests holds each route exactly its
    weight times, in a seeded order. Within a route, keys follow a Zipf
    law of exponent ``s`` over a seeded ranking of that route's catalog,
    so popular keys repeat the way page traffic does."""
    rng = random.Random(seed)
    ranked = {}
    for route, keys in catalogs.items():
        order = list(keys)
        rng.shuffle(order)
        ranked[route] = (order, [1.0 / r**s for r in range(1, len(order) + 1)])
    block = [r for r, w in route_weights.items() for _ in range(w)]
    out: list[tuple[str, object]] = []
    while len(out) < n:
        rng.shuffle(block)
        for route in block:
            order, weights = ranked[route]
            out.append((route, rng.choices(order, weights)[0]))
    return out[:n]


def repeat_share(keys: Sequence) -> float:
    """Share of requests whose key already appeared earlier."""
    return 1.0 - len(set(keys)) / len(keys) if keys else 0.0


# ---------------------------------------------------------------- /proc ---


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """VmHWM of this process plus every JVM it started, in MB."""
    me = os.getpid()
    pids = [me] + [p for p in descendants(me) if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and every live descendant: the JVM and its Python
    workers. Time the host steals from this VM is not counted."""
    total = 0
    me = os.getpid()
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _dirs, files in os.walk(p):
            for n in files:
                total += os.path.getsize(os.path.join(root, n))
    return total


# ----------------------------------------------------------------- window ---


@dataclass
class Op:
    key: object
    seconds: float
    cold: bool
    ok: bool


def run_window(
    run_op: Callable[[int], tuple[object, bool]],
    n: int,
    start: int = 0,
    seen: set | None = None,
) -> list[Op]:
    """Closed loop, one client: ops ``start .. start+n-1`` back to back.
    An op is cold when its key is not in ``seen`` (keys of earlier ops
    of the same window), which this updates."""
    seen = set() if seen is None else seen
    ops: list[Op] = []
    for i in range(start, start + n):
        t0 = time.perf_counter()
        key, ok = run_op(i)
        ops.append(Op(key=key, seconds=time.perf_counter() - t0, cold=key not in seen, ok=ok))
        seen.add(key)
    return ops
