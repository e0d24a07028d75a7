"""Process, session and measurement plumbing shared by the workloads.

The batch tables are read from ``perfbench/data/sf0.01``. Everything the
benchmark writes lives under ``<checkout>/.perfbench_work``: the cached
oracle results (kept between runs) and one scratch directory per run
(Spark local dirs, temp files, stream inputs, sinks and checkpoints),
removed when the run ends.
"""

from __future__ import annotations

import math
import os
import re
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# A byte-for-byte copy of the seed-42 sf0.01 tables that the package's
# tests and DuckDB oracle checks read (see TESTDATA.md).
TABLES = os.path.join(HERE, "data", "sf0.01")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time a virtual machine's host took away (steal)
    between two ``cpu_ticks`` readings: a slow run under steal is the
    host's doing, not the code's."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def prepare_env(run_dir: str) -> None:
    """Point every temp path, and the Python workers' import path, inside
    the checkout. Must run before the JVM starts: Spark's Python workers
    inherit this environment, so the package imports from any working
    directory. The session runs on ``local[<cores>]`` with the package's
    own defaults for everything else, so overrides of its memory and
    shuffle-partition settings are removed from the environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    for name in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(name, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(run_dir: str):
    """A SparkSession from the package's factory on local[<cpus>]."""
    from flink_learning_practise_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # The GC log gives the heap in use after each collection.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xlog:gc:file={gc_log(run_dir)}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def gc_log(run_dir: str) -> str:
    return os.path.join(run_dir, "gc.log")


def heap_peak_mb(run_dir: str) -> float:
    """Largest heap in use right after a garbage collection, from the
    JVM's GC log (``Pause ... 812M->95M(1024M)``): the most memory the run
    kept live, independent of how far G1 let the heap grow in between."""
    peak = 0
    if not os.path.exists(gc_log(run_dir)):
        return 0.0
    with open(gc_log(run_dir)) as f:
        for line in f:
            m = re.search(r"Pause .* \d+M->(\d+)M\(\d+M\)", line)
            if m:
                peak = max(peak, int(m.group(1)))
    return float(peak)


def warm_up(spark) -> None:
    """The fixed job every set-up ends with: a small shuffle aggregate."""
    spark.range(100_000, numPartitions=4).selectExpr("id % 97 AS k") \
        .groupBy("k").count().write.mode("overwrite").format("noop").save()


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and every process it
    started (the Python worker daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=10)
    _reap(kids)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _processes() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            out[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), comm)
    return out


def descendants(pid: int, procs: dict | None = None) -> list[int]:
    procs = procs if procs is not None else _processes()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, (pp, _comm) in procs.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _hwm_kb(pid: int) -> int:
    """Peak resident set size of a process so far (kernel high-water mark)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Summed peak RSS of this process, the JVM it started and the Python
    workers below it: each process's kernel high-water mark, read every
    ``interval`` seconds so that exited workers are counted too. Short-lived
    helper processes the JVM spawns (which briefly share its memory) are
    not counted."""

    def __init__(self, interval: float = 0.5) -> None:
        self._peaks: dict[int, int] = {}
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        me = os.getpid()
        procs = _processes()
        pids = [me] + [p for p in descendants(me, procs)
                       if procs[p][1].startswith("python")
                       or (procs[p][0] == me and procs[p][1] == "java")]
        for pid in pids:
            self._peaks[pid] = max(self._peaks.get(pid, 0), _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return sum(self._peaks.values()) / 1024.0

    def describe(self) -> str:
        peaks = sorted(self._peaks.values(), reverse=True)
        return f"{len(peaks)} processes, peaks (MB) " + " ".join(f"{p / 1024:.0f}" for p in peaks)


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around the
    benchmark's calls into each layer. Disabled, ``span`` costs one
    ``perf_counter`` pair and records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs
        self.seconds = 0.0

    def __enter__(self) -> "_Span":
        t = self.t
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append({"name": self.name, "parent": t._stack[-1] if t._stack else None,
                            "start": 0.0, "end": 0.0, **self.attrs})
            t._stack.append(self.idx)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.seconds = end - self.start
        t = self.t
        if t.enabled:
            t._stack.pop()
            t.spans[self.idx].update(start=self.start, end=end)


def interquartile_mean(values: list[float]) -> float:
    """Mean of the middle half of ``values``: the lowest and highest
    quarter (``n // 4`` values each) are left out. It averages over many
    more samples than any quantile estimate, so when the samples near the
    median are few and far apart it still moves little from run to run."""
    v = sorted(values)
    k = len(v) // 4
    return sum(v[k:len(v) - k]) / (len(v) - 2 * k)


def quantile(values: list[float], q: float, steps: int = 4000) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta((n+1)q,
    (n+1)(1-q))-weighted mean of all order statistics. With a few dozen
    uneven samples it varies far less from run to run than the single
    order statistic a plain percentile picks."""
    v = sorted(values)
    n = len(v)
    if n == 1:
        return v[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    weights = [0.0] * n
    for k in range(steps):  # midpoint rule for the Beta mass of each order statistic
        x = (k + 0.5) / steps
        weights[min(int(x * n), n - 1)] += math.exp(
            log_norm + (a - 1) * math.log(x) + (b - 1) * math.log(1 - x))
    return sum(x * w for x, w in zip(v, weights)) / sum(weights)
