"""The traced run's layer ledger, built from outside the program.

Spans come from three sources, all public:

- the benchmark's own timers around calls into each module (``auth``,
  the operator build, ``io.read_table``, the collect);
- Catalyst's planning tracker on the executed DataFrame (analysis,
  optimization and planning phases, as wall-clock intervals);
- Spark's event log, whose jobs carry the job group the benchmark set
  before each phase (``<request id>.<phase>``).

A layer's self time is its span's duration minus the part covered by
its children (choosing-metrics §4).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


# ------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans; a disabled tracer records nothing and costs one
    attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.overhead_s = 0.0  # time spent inside the tracer itself

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, layer: str, name: str, req, parent, t0: float, t1: float) -> int:
        with self._lock:
            self._next += 1
            sid = self._next
            self.spans.append({"id": sid, "parent": parent, "req": req,
                               "layer": layer, "name": name, "t0": t0, "t1": t1})
        return sid

    @contextlib.contextmanager
    def span(self, layer: str, name: str, req=None):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        if req is None and parent is not None:
            req = parent["req"]
        rec = {"layer": layer, "name": name, "req": req,
               "parent": parent["id"] if parent else None}
        with self._lock:
            self._next += 1
            rec["id"] = self._next
        st.append(rec)
        self.charge(time.perf_counter() - c0)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            c1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)
            self.charge(time.perf_counter() - c1)

    def charge(self, seconds: float) -> None:
        """Add instrumentation time (client threads share the tracer)."""
        with self._lock:
            self.overhead_s += seconds

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                f.write(json.dumps(s) + "\n")


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds not covered by its children (clipped to the
    span, overlapping children counted once)."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        cov = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
               for c in kids[s["id"]]]
        cov = [(a, b) for a, b in cov if b > a]
        out[s["id"]] = max(0.0, (s["t1"] - s["t0"]) - _union_len(cov))
    return out


def merge_overlaps(spans: list[dict]) -> list[dict]:
    """Jobs of one phase can run concurrently; fold overlapping siblings
    of the same layer into one span so self times stay additive."""
    groups = defaultdict(list)
    rest = []
    for s in spans:
        if s["layer"] == "exec":
            groups[(s["parent"], s["req"])].append(s)
        else:
            rest.append(s)
    for (parent, req), js in groups.items():
        js.sort(key=lambda s: s["t0"])
        cur = None
        for s in js:
            if cur is not None and s["t0"] <= cur["t1"]:
                cur["t1"] = max(cur["t1"], s["t1"])
            else:
                cur = dict(s, name="jobs")
                rest.append(cur)
    return rest


def layer_self_ms(spans: list[dict], reqs) -> dict:
    """Per layer, the mean self time per request (ms), over ``reqs``,
    plus the ratio of summed self times to request wall time."""
    reqs = set(reqs)
    mine = merge_overlaps([s for s in spans if s["req"] in reqs])
    st = self_times(mine)
    per_layer = defaultdict(float)
    wall = 0.0
    for s in mine:
        per_layer[s["layer"]] += st[s["id"]]
        if s["parent"] is None:
            wall += s["t1"] - s["t0"]
    n = max(1, len(reqs))
    out = {k: 1000.0 * v / n for k, v in per_layer.items()}
    out["_sum_ratio"] = sum(per_layer.values()) / wall if wall else 0.0
    out["_wall_ms"] = 1000.0 * wall / n
    return out


# -------------------------------------------------------- Catalyst phases


def plan_phases(df) -> dict:
    """{phase: (start_s, end_s)} from the DataFrame's planning tracker."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        out[kv._1()] = (ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0)
    return out


# ------------------------------------------------------------- event log

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "scan_bytes",
    "internal.metrics.output.bytesWritten": "write_bytes",
}


def event_log_lines(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def fold_event_log(events) -> dict:
    """Fold Spark listener events by job group:
    {group: {"jobs": [(job_id, t0_s, t1_s)], metric: total, ...}}.
    Stage metrics go to the group of the first job that lists the
    stage; task skew is max/median task duration, per stage."""
    job_group, job_t0, job_t1, stage_job = {}, {}, {}, {}
    stage_metrics, stage_tasks = {}, defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id")
            job_t0[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job_t1[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            m = defaultdict(float)
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key is not None:
                    m[key] += float(acc.get("Value", 0) or 0)
            m["tasks"] = info.get("Number of Tasks", 0)
            stage_metrics[info["Stage ID"]] = m
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            if ti.get("Finish Time") and ti.get("Launch Time"):
                stage_tasks[ev["Stage ID"]].append(ti["Finish Time"] - ti["Launch Time"])
    out: dict = defaultdict(lambda: defaultdict(float))
    for jid, g in job_group.items():
        rec = out[g]
        rec.setdefault("jobs", [])
        rec["jobs"].append((jid, job_t0[jid], job_t1.get(jid, job_t0[jid])))
    for sid, m in stage_metrics.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        rec = out[job_group[jid]]
        rec["stages"] += 1
        for k, v in m.items():
            rec[k] += v
        durs = stage_tasks.get(sid, [])
        if len(durs) >= 2:
            med = statistics.median(durs)
            rec.setdefault("skews", []).append(max(durs) / med if med else 1.0)
    return out


# ------------------------------------------------------- layer counters


class ReadTableProbe:
    """Wraps ``xboard_spark.io.read_table`` (and the name the query
    registry imported) to time calls and count handle reuse."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.calls = 0
        self.reused = 0
        self.seconds = 0.0
        self._seen: dict[int, object] = {}
        self._lock = threading.Lock()
        self._restore = []

    def install(self) -> "ReadTableProbe":
        import __spark_entry__ as entry
        from xboard_spark import io as xio

        real = xio.read_table

        def read_table(spark, sf_dir, name):
            t0 = time.perf_counter()
            with self.tracer.span("io", f"read_table:{name}"):
                df = real(spark, sf_dir, name)
            dt = time.perf_counter() - t0
            with self._lock:
                self.calls += 1
                self.seconds += dt
                if id(df) in self._seen:
                    self.reused += 1
                else:
                    self._seen[id(df)] = df  # keep alive: ids stay unique
            return df

        for mod in (xio, entry):
            self._restore.append((mod, mod.read_table))
            mod.read_table = read_table
        return self

    def uninstall(self) -> None:
        for mod, fn in self._restore:
            mod.read_table = fn
        self._restore = []


def find_frame_caches() -> list:
    """Every BoundedFrameCache held at module level by xboard_spark."""
    import importlib
    import pkgutil

    import xboard_spark
    from xboard_spark.cache import BoundedFrameCache

    found, seen = [], set()
    for info in pkgutil.walk_packages(xboard_spark.__path__, "xboard_spark."):
        try:
            mod = importlib.import_module(info.name)
        except ImportError:
            continue
        for name, obj in vars(mod).items():
            if isinstance(obj, BoundedFrameCache) and id(obj) not in seen:
                seen.add(id(obj))
                found.append((f"{info.name}.{name}", obj))
    return found


class CacheProbe:
    """Counts lookups (``key in cache``) and misses (inserts of a new
    key) on every module-level frame cache, by swapping each instance's
    class for a counting subclass while the probe is installed."""

    def __init__(self):
        from xboard_spark.cache import BoundedFrameCache

        class Counting(BoundedFrameCache):
            def __contains__(self, key):
                self._pb_lookups += 1
                return super().__contains__(key)

            def __setitem__(self, key, value):
                if not super().__contains__(key):
                    self._pb_misses += 1
                super().__setitem__(key, value)

        self._base = BoundedFrameCache
        self._cls = Counting
        self.caches = find_frame_caches()

    def install(self) -> "CacheProbe":
        for _, c in self.caches:
            c._pb_lookups = 0
            c._pb_misses = 0
            c._pb_ev0 = c.evictions
            c.__class__ = self._cls
        return self

    def snapshot(self) -> dict:
        return {
            "lookups": sum(c._pb_lookups for _, c in self.caches),
            "misses": sum(c._pb_misses for _, c in self.caches),
            "evictions": sum(c.evictions - c._pb_ev0 for _, c in self.caches),
            "entries": sum(len(c) for _, c in self.caches),
        }

    def uninstall(self) -> None:
        for _, c in self.caches:
            c.__class__ = self._base
