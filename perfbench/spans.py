"""Out-of-program tracing for the benchmark's traced run.

Spans are recorded around calls into the engine's public functions by
patching the names where callers look them up (the defining module and every
loaded ``cartography_spark`` module that imported the same object).  Spans
live in memory and are written as JSONL when the run ends.

Spark's own counters come from the event log: every job is attributed to the
innermost span open at its submission time, whichever thread submitted it
(the store launches jobs from its own thread pools).  A lazily built frame
bills its compute to the span of the action that consumes it, not to the
function that built it.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float | None = None
    parent: int | None = None
    thread: str = ""


@dataclass
class Job:
    """One Spark job with the task counters of its stages."""

    jid: int
    submit: float
    end: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stacks: dict[int, list[int]] = {}  # thread id -> its open spans
        self._client = threading.get_ident()  # the thread that runs the workload
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        with self._lock:
            stack = self._stacks.setdefault(threading.get_ident(), [])
            # a span opened on a pool thread with nothing open there hangs
            # under the innermost span of the client thread, which submitted
            # the work; concurrent pool spans are siblings, not nested
            home = stack or self._stacks.get(self._client, [])
            sp = Span(len(self.spans), name, layer, time.time(), None, home[-1] if home else None,
                      threading.current_thread().name)
            self.spans.append(sp)
            stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self._lock:
                stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def patch(self, module, attr: str, layer: str, name: str | None = None) -> None:
        """Wrap ``module.attr`` everywhere it has been imported by name."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name or f"{module.__name__.split('.')[-1]}.{attr}", layer)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith("cartography_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._patched.append((mod, k, orig))
                    setattr(mod, k, wrapped)

    def patch_method(self, cls, attr: str, layer: str, name: str | None = None, wrapper=None) -> None:
        orig = cls.__dict__[attr]
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        w = (wrapper or self.wrap)(fn, name or f"{cls.__name__}.{attr}", layer)
        self._patched.append((cls, attr, orig))
        setattr(cls, attr, staticmethod(w) if isinstance(orig, staticmethod) else w)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# ----- interval arithmetic --------------------------------------------------


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            out.setdefault(sp.parent, []).append(sp)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span wall minus the part of its interval its child spans cover."""
    kids = children(spans)
    return {
        sp.sid: (sp.end - sp.start)
        - covered([(c.start, c.end) for c in kids.get(sp.sid, [])], sp.start, sp.end)
        for sp in spans
    }


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, int | None]:
    """job id -> sid of the innermost span open at the job's submission.

    Innermost means the latest-started span whose interval contains the
    submission time.  The event log does not name the submitting thread, so
    while spans on pool threads overlap, a job lands in the latest-started of
    them -- a sibling in the same layer, not necessarily its own.
    """
    out: dict[int, int | None] = {}
    for j in jobs:
        best = None
        for sp in spans:
            if sp.start <= j.submit <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        out[j.jid] = best.sid if best else None
    return out


# ----- event log ------------------------------------------------------------


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with per-stage task counters from a Spark event log directory."""
    # Spark 4 writes a directory of rolled event files per application
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if f.startswith("events_") or f.startswith("local-"))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    stages_run: set[int] = set()
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    t = ev["Submission Time"] / 1000.0
                    jobs[jid] = Job(jid, t, t)
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid in stages_run:
        j = jobs.get(stage_job.get(sid))
        if j is not None:
            j.stages += 1
    mb = 1024.0 * 1024.0
    for sid, m in tasks:
        j = jobs.get(stage_job.get(sid))
        if j is None:
            continue
        j.tasks += 1
        j.run_s += m.get("Executor Run Time", 0) / 1000.0
        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        j.gc_s += m.get("JVM GC Time", 0) / 1000.0
        j.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / mb
        j.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
    return sorted(jobs.values(), key=lambda j: j.submit)


# ----- per-layer report -----------------------------------------------------

SPARK_COLS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def layer_table(spans: list[Span], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """Per layer: calls, wall (outermost calls only), self time, the part of
    the wall with no Spark job running, and the counters of attributed jobs."""
    by_sid = {sp.sid: sp for sp in spans}
    selfs = self_times(spans)
    owner = attribute_jobs(spans, jobs)
    job_iv = [(j.submit, j.end) for j in jobs]
    rows: dict[str, dict[str, float]] = {}

    def row(layer):
        return rows.setdefault(layer, {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                       "driver_only_s": 0.0, **{c: 0 for c in SPARK_COLS}})

    for sp in spans:
        r = row(sp.layer)
        r["calls"] += 1
        r["self_s"] += selfs[sp.sid]
        anc = by_sid.get(sp.parent)
        while anc is not None and anc.layer != sp.layer:
            anc = by_sid.get(anc.parent)
        if anc is None:  # outermost call of this layer
            r["wall_s"] += sp.end - sp.start
            r["driver_only_s"] += (sp.end - sp.start) - covered(job_iv, sp.start, sp.end)
    for j in jobs:
        sid = owner[j.jid]
        r = row(by_sid[sid].layer if sid is not None else "(unattributed)")
        r["jobs"] += 1
        for c in SPARK_COLS[1:]:
            r[c] += getattr(j, c)
    return rows


def format_table(rows: dict[str, dict[str, float]]) -> str:
    cols = ["calls", "wall_s", "self_s", "driver_only_s", *SPARK_COLS]
    head = f"{'layer':16s}" + "".join(f"{c:>17s}" for c in cols)
    lines = [head]
    for layer in sorted(rows, key=lambda k: -rows[k]["self_s"]):
        r = rows[layer]
        lines.append(f"{layer:16s}" + "".join(
            f"{r[c]:17d}" if isinstance(r[c], int) else f"{r[c]:17.3f}" for c in cols))
    return "\n".join(lines)
