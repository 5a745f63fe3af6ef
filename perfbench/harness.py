"""Host-sized Spark sessions, process-tree accounting and spans.

Everything the benchmark writes goes under `.bench_build/` in the checkout:
the per-run work directory WORK (Spark local dirs, event logs, the JVM's temp
dir, the shipped package zip, the generated inputs) and, beside it, the last
results and span files.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def slots() -> int:
    """Cores this process may run on (what `env -u OMP_NUM_THREADS nproc` prints)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A quarter of MemAvailable, between 1 and 2 GiB: the machine is shared."""
    with open("/proc/meminfo") as f:
        info = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return max(1024, min(2048, info["MemAvailable"] // 4096))


def prepare_workdir() -> None:
    """Fresh work directory; TMPDIR points into it so every temp file the
    benchmark, the library and the Python workers make stays in the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "events", "warehouse", "data"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    # spark-submit's own launcher JVM: no perf-data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------- processes


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver
    JVM, Python daemon and workers), sampled every PERIOD seconds."""

    PERIOD = 0.1

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            tree = [os.getpid()] + descendants()
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in tree))
            self._stop.wait(self.PERIOD)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every descendant to exit; SIGTERM, then SIGKILL, stragglers."""
    deadline = time.monotonic() + timeout
    sent = None
    while True:
        left = descendants()
        if not left:
            return
        now = time.monotonic()
        if now > deadline and sent != signal.SIGKILL:
            sent = signal.SIGKILL
        elif now > deadline - timeout / 2 and sent is None:
            sent = signal.SIGTERM
        else:
            time.sleep(0.05)
            continue
        for p in left:
            try:
                os.kill(p, sent)
            except ProcessLookupError:
                pass
        if sent == signal.SIGKILL:
            deadline = now + 5.0


# ---------------------------------------------------------------- spark


def start_spark(cores: int, event_log: bool = False):
    """local[cores] session sized from this host, all scratch under WORK."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-{cores}")
        .config("spark.driver.memory", f"{driver_mem_mb()}m")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # one input file per scan partition: the seed decides the partitions
        .config("spark.sql.files.openCostInBytes", str(128 << 20))
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.dir", os.path.join(WORK, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.logBlockUpdates.enabled", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from ioverlay_spark.session import ship_package

    ship_package(spark)
    return spark


def stop_spark(spark) -> None:
    spark.stop()


def shutdown_jvm() -> None:
    """End the gateway JVM, if one was launched, and wait for it and every
    Python worker it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
    reap_children()


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans (name, start, end, parent, run id) recorded in memory around the
    benchmark's calls into each layer; written once at exit with self times."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """Each span's duration minus the part its direct children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - child_s.get(s["id"], 0.0)})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_times(), f, indent=1)
