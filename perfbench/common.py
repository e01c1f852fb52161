"""Shared pieces of the benchmark: run hygiene, statistics, spans, host noise.

Nothing here imports Spark or ``kdb_spark`` at module load, so the unit tests
in ``perfbench/tests`` run without a JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ------------------------------------------------------------------ statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))  # ceil(n*q/100), at least 1
    return s[int(rank) - 1]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3-q1)/median) as ``statistics.quantiles`` gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


# ----------------------------------------------------------------------- spans


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int  # op id shared by a verb call / operator key and its children
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it costs one ``if`` per span.

    Each span tags the Spark jobs it starts with ``setJobGroup("pb<sid>")``
    (the innermost open span owns the jobs), so the event log can attach
    jobs, stages and task metrics to it after the run.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0
        self.sc = None  # SparkContext, set once a session exists

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = parent.op if parent else self.new_op()
        sp = Span(len(self.spans), name, layer, op,
                  parent.sid if parent else None, time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sp: Span | None) -> None:
        if self.sc is None or self.sc._jsc is None:  # none yet, or stopped
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{sp.sid}", sp.name)


def children(spans: list[Span]) -> dict[int, list[Span]]:
    """Parent span id -> its child spans, in start order."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids = children(spans)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.dur - covered
    return out


def subtree_attrs(s: Span, kids: dict[int, list[Span]], acc: dict | None = None) -> dict:
    """Numeric attrs of a span and all its descendants, summed into ``acc``."""
    acc = {} if acc is None else acc
    for k, v in s.attrs.items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            acc[k] = acc.get(k, 0) + v
    for c in kids.get(s.sid, []):
        subtree_attrs(c, kids, acc)
    return acc


# ------------------------------------------------------------- event-log join


_ACC = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def read_event_logs(log_dir: str) -> list[list[dict]]:
    """Events of each application (one Spark context each) in the log dir."""
    apps = []
    for name in sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []:
        with open(os.path.join(log_dir, name)) as fh:
            apps.append([json.loads(line) for line in fh if line.strip()])
    return apps


def attach_spark_work(spans: list[Span], events: list[dict]) -> None:
    """Attach one application's jobs, stages, task metrics and stream
    progress to spans (stage ids restart with every Spark context).

    A job belongs to the span named by its job group; jobs started under a
    foreign group (a streaming query tags its own jobs with its run id) go
    to the innermost span open at their submission time. Stream progress
    events go to the innermost span open at their timestamp."""
    by_sid = {s.sid: s for s in spans}

    def innermost(t: float) -> Span | None:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    stage_owner: dict[int, Span] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            sp = None
            if group.startswith("pb") and group[2:].isdigit():
                sp = by_sid.get(int(group[2:]))
            if sp is None:
                sp = innermost(ev["Submission Time"] / 1000.0)
            if sp is None:
                continue
            sp.attrs["jobs"] = sp.attrs.get("jobs", 0) + 1
            for st in ev.get("Stage IDs", []):
                stage_owner.setdefault(st, sp)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sp = stage_owner.get(info["Stage ID"])
            if sp is None:
                continue
            sp.attrs["stages"] = sp.attrs.get("stages", 0) + 1
            sp.attrs["tasks"] = sp.attrs.get("tasks", 0) + info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key:
                    sp.attrs[key] = sp.attrs.get(key, 0) + int(acc.get("Value") or 0)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            prog = ev.get("progress", {})
            t = _iso_to_epoch(prog.get("timestamp"))
            sp = innermost(t) if t is not None else None
            if sp is None:
                continue
            sp.attrs["batches"] = sp.attrs.get("batches", 0) + 1
            for ph, ms in (prog.get("durationMs") or {}).items():
                k = f"{ph}_ms"
                sp.attrs[k] = sp.attrs.get(k, 0) + int(ms)
            rows = sum(int(o.get("numRowsTotal", 0)) for o in prog.get("stateOperators") or [])
            sp.attrs["state_rows"] = max(sp.attrs.get("state_rows", 0), rows)


def _iso_to_epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def rollup(spans: list[Span], pick) -> dict[str, float]:
    """Sum span attrs (and span time) over the spans ``pick`` selects,
    counting each op's work once: children's attrs fold into the picked
    span. Returns summed attrs plus ``n`` and ``ms`` (total duration)."""
    kids = children(spans)
    out: dict[str, float] = {"n": 0, "ms": 0.0}
    for s in spans:
        if pick(s):
            out["n"] += 1
            out["ms"] += s.dur * 1000.0
            subtree_attrs(s, kids, out)
    return out


# --------------------------------------------------------------- host noise


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    busy = f[0] + f[1] + f[2] + f[5] + f[6] + f[7]
    return busy, f[7]


def _psi_some_total() -> int | None:
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except OSError:
        return None
    return None


class HostNoise:
    """Steal share of busy CPU time and CPU-pressure stall share over a run."""

    def __init__(self):
        self.t0 = time.time()
        self.busy0, self.steal0 = _cpu_times()
        self.psi0 = _psi_some_total()

    def read(self) -> dict[str, float]:
        busy, steal = _cpu_times()
        wall = max(time.time() - self.t0, 1e-9)
        psi = _psi_some_total()
        d_busy = busy - self.busy0
        return {
            "steal_frac": (steal - self.steal0) / d_busy if d_busy else 0.0,
            "cpu_psi_some": (psi - self.psi0) / 1e6 / wall
            if psi is not None and self.psi0 is not None
            else 0.0,
        }


def calibrate(reps: int = 7) -> float:
    """Median ms of a fixed CPU task (an integer loop and a sort of the same
    pseudo-random list). It does the same work on every call, so it reads the
    host's speed at that moment: a run whose calibration is slow ran on a
    slow host, not a slow program."""
    data = [(i * 2654435761) % 1000003 for i in range(100_000)]
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        sorted(data)
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given live processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


# ------------------------------------------------------------------- hygiene


def scratch_root(checkout: str) -> str:
    """A fresh per-run scratch dir inside the checkout, exported through every
    variable the program and Spark read for temporary files. Must run before
    ``kdb_spark`` is imported and before the JVM starts."""
    base = os.path.join(checkout, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=base)
    for sub in ("tmp", "shm", "local", "eventlog", "warehouse", "data"):
        os.makedirs(os.path.join(root, sub))
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(root, "shm")
    os.environ["SPARK_GRAFT_SINK_SCRATCH"] = os.path.join(root, "shm")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    # Python workers import kdb_spark by module path (cloudpickle)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = checkout + (os.pathsep + pp if pp else "")
    return root


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    parent = os.path.dirname(path)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass
