"""Session lifecycle, set-up timing, spans and host sampling for perfbench."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SETUP_RESTARTS = 2


@dataclass
class Result:
    """What one run reports: end-to-end and per-layer metrics as
    ``name -> (value, unit)``, the operation counts, and side data written
    next to the results (not printed as metrics)."""

    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    side: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


class Tracer:
    """In-memory spans: name, start, end, parent span and attributes.

    Disabled tracers record nothing, so the untraced run pays only a
    no-op context manager per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        rec = {"id": len(self.spans), "name": name, "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, within: dict | None = None) -> list[float]:
        """Durations of the finished ``name`` spans, optionally only those
        inside the interval of span ``within`` (spans from callback threads
        have no parent to follow)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"]
                and (within is None or within["start"] <= s["start"] <= within["end"])]


def cpu_steal() -> tuple[int, int]:
    """(steal jiffies, total jiffies) of the host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) spent so far
    by a process tree: the driver JVM and the Python workers it forks.
    Time the host stole from the guest is not charged to any process."""
    kids = _children()
    todo, ticks = [root_pid], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc in a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        kids = _children()
        todo, total = [self.root_pid], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._sample())


class Harness:
    """One benchmark run: its directories, seed, Spark session and tracer."""

    def __init__(self, workload: str, work: str, cache: str, out_dir: str, seed: int,
                 seconds: float, cpus: int):
        self.workload = workload
        self.work = work
        self.cache = cache
        self.out_dir = out_dir
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.spark = None
        self.tracer = Tracer(False)
        self._n_dirs = 0

    # -- directories ----------------------------------------------------------

    def fresh_dir(self, tag: str) -> str:
        self._n_dirs += 1
        path = os.path.join(self.work, f"{tag}-{self._n_dirs}")
        os.makedirs(path)
        return path

    # -- Spark session -------------------------------------------------------

    def _start_session(self):
        from dataflow_geobeam_spark import session

        spark = session.get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, warm) -> dict:
        """Launch the JVM with one cold set-up (session start plus
        ``warm(spark)``, one warm epoch), then time ``SETUP_RESTARTS`` more
        that stop and restart the Spark context inside it. The cold launch
        varies with the host far more than the engine's own start-up, so it
        is kept as a side figure; the reported times are medians of the
        restarts. ``warm`` returns a callable that stops its query; the stop
        is not set-up, and is timed apart."""
        cold, starts, warms, stops = None, [], [], []
        for _ in range(1 + SETUP_RESTARTS):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            t0 = time.perf_counter()
            self.spark = self._start_session()
            t1 = time.perf_counter()
            with self.tracer.span("session.warm"):
                stop = warm(self.spark)
            t2 = time.perf_counter()
            stop()
            stops.append(time.perf_counter() - t2)
            if cold is None:
                cold = (t1 - t0, t2 - t1)
                continue
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        totals = [s + w for s, w in zip(starts, warms)]
        return {
            "setup_s": statistics.median(totals),
            "start_s": statistics.median(starts),
            "warm_s": statistics.median(warms),
            "cold_start_s": cold[0],
            "cold_warm_s": cold[1],
            "start_samples_s": starts,
            "warm_samples_s": warms,
            "stop_samples_s": stops,
        }

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and the workers it owns) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        try:
            gw.shutdown()
        finally:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
