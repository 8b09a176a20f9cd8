"""Shared benchmark machinery: Spark session lifecycle, timing statistics,
spans, Spark event-log parsing, peak-memory sampling and host disclosure.

Nothing here imports ``mfdedup_spark`` at module level, so ``run.py`` can
fail fast (before any Spark work) when the engine sources are missing.
"""

from __future__ import annotations

import hashlib
import json
import os
import shlex
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

MASTER = "local[4]"
DRIVER_MEM = "2g"


# ----------------------------------------------------------------- statistics
def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """Highest percentile p (step 1 %) with at least ten samples above the
    p-th percentile value, as (p, value); None when there are too few
    samples for any percentile above the median to qualify."""
    xs = sorted(xs)
    n = len(xs)
    best = None
    for p in range(50, 100):
        k = int(p / 100 * n)  # index of the p-th percentile sample
        if n - k - 1 >= 10:
            best = (p, xs[k])
    return best


def timing_summary(xs: list[float]) -> dict:
    """Median plus the highest percentile that has ≥ 10 samples beyond it,
    with the sample count (choosing-metrics §1)."""
    out = {"n": len(xs), "median": median(xs)}
    tail = tail_percentile(xs)
    if tail is not None:
        out[f"p{tail[0]}"] = tail[1]
    return out


# -------------------------------------------------------------------- session
def configure_launch(out_dir: str, trace: bool) -> str:
    """Point every scratch location of the JVM and the Python workers into
    ``out_dir`` and, for a traced run, turn on Spark's event log. Must run
    before the first SparkSession is created. Returns the event-log dir."""
    tmp = os.path.join(out_dir, "tmp")
    local = os.path.join(out_dir, "spark-local")
    events = os.path.join(out_dir, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the small launcher JVM that spark-submit runs first gets no driver
    # options; without these it writes its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    args = [
        "--driver-java-options",
        # the driver heap is committed and touched up front, so peak RSS
        # does not depend on how far a short run happened to grow it
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.abspath(events)}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    return events


def start_session():
    """The engine's own session builder at local[4] (one client)."""
    from mfdedup_spark.session import get_spark

    spark = get_spark(app="perfbench", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def active_jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getActiveJobsIds())


def wait_idle(spark, timeout: float = 30.0) -> None:
    """Let jobs left running by a call (background prefetches) finish, so
    they are not charged to the next operation."""
    t_end = time.monotonic() + timeout
    while active_jobs(spark) and time.monotonic() < t_end:
        time.sleep(0.02)


# ---------------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the engine's layers. Each span also runs its Spark jobs under
    ``setJobGroup(<layer>)`` so the event log attributes task metrics to
    the layer. Only traced runs create one."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        if layer is not None:
            sc.setJobGroup(layer, name)
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if layer is not None:
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev_group, prev_group)

    def self_times(self) -> list[dict]:
        """Each span's duration minus the part covered by its children."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "dur": s["end"] - s["start"], "self": s["end"] - s["start"] - child[s["id"]]}
            for s in self.spans
        ]

    def busy_in(self, layer: str, root_prefix: str = "", probe: bool | None = None) -> float:
        """Wall time of the outermost spans of ``layer`` whose root span's
        name starts with ``root_prefix`` (and, if given, whose root has the
        ``probe`` attribute equal to ``probe``)."""
        ids = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["layer"] != layer or "end" not in s:
                continue
            p, nested, root = s["parent"], False, s
            while p is not None:
                nested = nested or ids[p]["layer"] == layer
                root = ids[p]
                p = root["parent"]
            if nested or not root["name"].startswith(root_prefix):
                continue
            if probe is not None and root.get("probe") != probe:
                continue
            total += s["end"] - s["start"]
        return total

    def last(self, name: str) -> float:
        """Duration of the most recent finished span called ``name``."""
        for s in reversed(self.spans):
            if s["name"] == name and "end" in s:
                return s["end"] - s["start"]
        raise KeyError(name)


# ------------------------------------------------------------------ event log
def _event_files(events_dir: str) -> list[tuple[str, str]]:
    """(application, file) pairs in replay order. Spark 4 writes a rolling
    log: one directory per application holding ``events_<n>_<app>``."""
    out = []
    for entry in sorted(os.listdir(events_dir)):
        path = os.path.join(events_dir, entry)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out += [(entry, os.path.join(path, f)) for f in parts]
        elif not entry.endswith(".inprogress"):
            out.append((entry, path))
    return out


def read_event_log(events_dir: str) -> dict[str, dict]:
    """Fold per-task metrics of every finished Spark application in
    ``events_dir`` into per-job-group totals: task_s, gc_s,
    shuffle_write_b, spill_b, task_skew (max/median task time of the
    group's heaviest stage) and jobs."""
    stage_group: dict[tuple, str] = {}
    job_count: dict[str, int] = {}
    stage_tasks: dict[tuple, list[float]] = {}
    acc: dict[str, dict] = {}
    for app, path in _event_files(events_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "(none)"
                    job_count[group] = job_count.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((app, sid), group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    key = (app, ev["Stage ID"])
                    group = stage_group.get(key, "(none)")
                    a = acc.setdefault(
                        group,
                        {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0, "spill_b": 0},
                    )
                    run_ms = m.get("Executor Run Time", 0)
                    a["task_s"] += run_ms / 1000.0
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    a["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    stage_tasks.setdefault(key, []).append(run_ms)
    heaviest: dict[str, tuple[float, float]] = {}
    for key, runs in stage_tasks.items():
        group = stage_group.get(key, "(none)")
        total = sum(runs)
        med = statistics.median(runs)
        skew = (max(runs) / med) if med > 0 else 1.0
        if group not in heaviest or total > heaviest[group][0]:
            heaviest[group] = (total, skew)
    for group, a in acc.items():
        a["task_skew"] = heaviest.get(group, (0.0, 1.0))[1]
        a["jobs"] = job_count.get(group, 0)
    for group, n in job_count.items():
        acc.setdefault(
            group,
            {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0, "spill_b": 0,
             "task_skew": 1.0, "jobs": n},
        )
    return acc


# ---------------------------------------------------------------- memory, host
def _pss_bytes(pid: int) -> int:
    """Proportional set size: each shared page split among its sharers."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_mem_bytes(root: int) -> int:
    """Memory of ``root`` and all its descendants (driver JVM, Python daemon
    and workers are all children of this process), as the sum of their
    PSS. Summing RSS would count shared pages once per sharer: forked
    Python workers share the daemon's pages, and a process the JVM is
    spawning briefly shares all of the JVM's, which once read as a
    1.8 GB spike."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        try:
            total += _pss_bytes(p)
        except OSError:  # exited since the scan
            pass
        todo.extend(children.get(p, []))
    return total


class MemSampler:
    """Background sampler of the process tree's peak memory."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_mem_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_times() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


class HostProbe:
    """Host disclosure for one run: cores, the busy and steal fractions of
    all CPUs while the run lasted, load average and software versions, so
    that a run taken on a noisy host is visible in its own record. Steal
    is time a virtual machine's CPUs waited for the hypervisor."""

    def __init__(self) -> None:
        self._start = _cpu_times()

    def report(self, java: str | None, root: str) -> dict:
        total, idle, steal = _cpu_times()
        dt = total - self._start[0]
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        import pyspark

        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": MASTER,
            "host_busy_frac": round(1.0 - (idle - self._start[1]) / dt, 4) if dt else None,
            "host_steal_frac": round((steal - self._start[2]) / dt, 4) if dt else None,
            "loadavg": load,
            "spark": pyspark.__version__,
            "java": java,
            "python": sys.version.split()[0],
            "commit": _commit(root),
            "source_digest": source_digest(root),
        }


def _commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def source_digest(root: str) -> str:
    """sha256 over the engine's Python sources (the checkout the benchmark
    runs in need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "mfdedup_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def dir_files(path: str) -> dict[str, int]:
    """{relative file path: size} under ``path`` (store directory diffs)."""
    out = {}
    for dirpath, _, filenames in os.walk(path):
        for fn in filenames:
            p = os.path.join(dirpath, fn)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass
    return out
