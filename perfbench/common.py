"""Host pinning, process-tree memory, percentiles and answer comparison.

Everything here is shared by the three workloads and imports neither
pyspark nor xboard_spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# ladder for the tail-percentile rule (choosing-metrics §1)
TAIL_LADDER = (50.0, 90.0, 99.0, 99.9)


# ------------------------------------------------------------- percentiles


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, ladder=TAIL_LADDER, beyond: int = 10):
    """The highest percentile of ``ladder`` that has at least ``beyond``
    samples above it among ``n`` samples, or None when none has."""
    best = None
    for p in ladder:
        if round(n * (100.0 - p) / 100.0, 9) >= beyond:
            best = p
    return best


def summarize(values) -> dict:
    """Median, p90 and the rule-chosen tail percentile with its count."""
    xs = list(values)
    tail = tail_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": percentile(xs, 50),
        "p90": percentile(xs, 90),
        "tail_p": tail,
        "tail": None if tail is None else percentile(xs, tail),
    }


# ----------------------------------------------------------- host and env


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_host(run_dir: str) -> dict:
    """Pin the engine to this host: every usable core, a driver heap of a
    quarter of physical memory (1-4 GiB), and every scratch path inside
    ``run_dir``. Returns the chosen settings for the report."""
    cpus = len(os.sched_getaffinity(0))
    mem = host_memory_bytes()
    heap_gb = max(1, min(4, mem // (4 << 30)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["XBOARD_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return {
        "cpus": cpus,
        "driver_heap": f"{heap_gb}g",
        "host_mem_gib": round(mem / (1 << 30), 1),
        "run_dir": run_dir,
    }


def session_conf(run_dir: str) -> dict:
    """Spark settings that keep every file the session writes inside the
    run directory; none of them changes how queries are planned or run."""
    tmp = os.path.join(run_dir, "tmp")
    return {
        # fixed JIT compiler threads, so that their CPU can be told apart
        # from the program's (see tree_cpu_s)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


# ------------------------------------------------------------ memory


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def descendants(pid: int) -> list[int]:
    seen, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return 0
    return sum(int(x) for x in fields[11:15])


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's live JIT compiler threads."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except (FileNotFoundError, ProcessLookupError):
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except (FileNotFoundError, ProcessLookupError):
            continue
        if head.split("(", 1)[1].startswith(JIT_THREADS):
            total += sum(int(x) for x in rest.split()[11:13])
    return total


def tree_cpu_s(exclude_jit: bool = False) -> float:
    """CPU seconds used so far by this process and every process it
    started: the Python driver, the JVM and the PySpark workers. With
    ``exclude_jit``, less what the JVM's JIT compiler threads used."""
    pids = [os.getpid()] + descendants(os.getpid())
    ticks = sum(_cpu_ticks(p) for p in pids)
    if exclude_jit:
        ticks -= sum(_jit_ticks(p) for p in pids)
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs so far, from /proc/stat.
    Steal is time the hypervisor ran something else on a vCPU that had
    work to do."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class CpuMeter:
    """CPU time of this process tree over an interval, less the share of
    it the hypervisor stole.

    On the VMs this benchmark runs on, a process's CPU time includes the
    time its vCPU was stolen: the same work read about 1 / (1 - s) times
    its usual CPU in runs where a share s of the busy vCPU time was
    stolen (NOTES.md). /proc/stat accounts steal apart from busy time,
    so the interval's CPU is scaled by busy / (busy + steal). Nothing but
    the benchmark runs on the VM, so the VM's steal share is its own."""

    def __init__(self, exclude_jit: bool = False):
        self.exclude_jit = exclude_jit
        self._cpu = tree_cpu_s(exclude_jit)
        self._host = host_cpu_ticks()

    def stop(self) -> float:
        cpu = tree_cpu_s(self.exclude_jit) - self._cpu
        busy, steal = (a - b for a, b in zip(host_cpu_ticks(), self._host))
        return cpu * busy / (busy + steal) if busy + steal else cpu


class RssSampler:
    """Peak resident memory of this process and every process it started:
    the kernel's high-water marks of the Python driver and of the JVM
    (any descendant named ``java``), plus the sampled peak of the
    PySpark Python workers."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self._others_peak_kb = 0
        self._jvm_hwm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        others = 0
        for p in descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmd = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            if comm == "java":
                self._jvm_hwm_kb = max(self._jvm_hwm_kb, _status_kb(p, "VmHWM"))
            elif comm.startswith("python") and b"pyspark" in cmd:
                others += _status_kb(p, "VmRSS")
            # anything else is a short-lived fork (the JVM shelling out
            # to chmod and the like) whose pages are the parent's
        self._others_peak_kb = max(self._others_peak_kb, others)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_parts_mb(self) -> dict:
        """Peaks so far in MiB, by part; call ``sample()`` first while the
        JVM is still alive."""
        return {"python": _status_kb(os.getpid(), "VmHWM") / 1024.0,
                "jvm": self._jvm_hwm_kb / 1024.0,
                "workers": self._others_peak_kb / 1024.0}


# ------------------------------------------------------- answer checking


def norm_cell(v):
    """One cell as a comparable string: floats to 6 decimals, -0 as 0,
    timestamps as naive UTC, decimals through the float path."""
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canonical(rows, cols) -> tuple:
    """Order-insensitive canonical form of a result: columns sorted by
    name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        tuple(sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)),
    )
