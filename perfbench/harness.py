"""Shared plumbing for the benchmark workloads: the run context, session
start-up and shutdown, the streaming progress listener and the statistics
every workload reports."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import subprocess
import threading
import time
from dataclasses import dataclass, field

PKG = "spark_nifi_kafka_connected_device_stream_spark"
# the engine's sf0.1 fixture tables (seed 42), copied byte for byte
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0) if values else 0.0


@dataclass
class Metric:
    value: float
    unit: str
    samples: int = 1


@dataclass
class Outcome:
    """What a workload measured: end-to-end metrics, per-layer metrics,
    the workload-specific names printed beside them (`aliases`), and the
    operation tally behind `failed_ratio`."""

    end_to_end: dict[str, Metric] = field(default_factory=dict)
    layers: dict[str, Metric] = field(default_factory=dict)
    aliases: dict[str, Metric] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one output check as an operation; record it if wrong."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


@dataclass
class Context:
    work: str  # this run's private scratch directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    workload: str


def pin_environment(ctx: Context) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and pin the engine's parallelism to this machine's cores."""
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (spark-submit's launcher and the Spark driver):
    # temp files in the checkout and no hsperfdata file, which the JVM
    # writes under /tmp whatever its temp dir is
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"


def session_conf(ctx: Context) -> dict[str, str]:
    return {
        # the console progress bar writes \r-lines into stdout
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }


def start_session(ctx: Context, outcome: Outcome):
    """`session.get_session`: the JVM, the session and the package
    shipped to the Python workers."""
    from spark_nifi_kafka_connected_device_stream_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench", extra_conf=session_conf(ctx))
    outcome.layers["session.get_session_s"] = Metric(time.perf_counter() - t0, "s")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def parse_spark_time(s: str) -> float:
    """Epoch seconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    return (
        dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def make_progress_log(spark):
    """Register a StreamingQueryListener that keeps EVERY progress update
    (query.recentProgress keeps only the last 100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.progress: dict[str, list[dict]] = {}

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.setdefault(p["id"], []).append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def of(self, query) -> list[dict]:
            with self.lock:
                return list(self.progress.get(str(query.id), []))

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


def stop_queries(outcome: Outcome, *queries) -> None:
    """Stop each streaming query and wait for it; a query that died with
    an exception counts as a failed operation."""
    for q in queries:
        exc = q.exception()
        outcome.check(exc is None, f"query {q.name or q.id} failed: {exc}")
        q.stop()
        q.awaitTermination(60)
        outcome.check(not q.isActive, f"query {q.name or q.id} did not stop")


def batch_stats(progress: list[dict], prefix: str, layers: dict[str, Metric]) -> None:
    """Per-query micro-batch timings (medians over batches that read
    input) from the progress log."""
    live = [p for p in progress if p["numInputRows"] > 0]
    for key, name in (
        ("triggerExecution", "trigger_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
        ("addBatch", "add_batch_ms"),
    ):
        vals = [float(p["durationMs"].get(key, 0)) for p in live]
        layers[f"{prefix}.{name}"] = Metric(median(vals), "ms", len(vals))
    layers[f"{prefix}.batches"] = Metric(len(live), "count")


def dir_files(path: str, suffix: str) -> tuple[int, int]:
    """(number, total bytes) of files under `path` ending in `suffix`."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def wait_until(pred, timeout: float, poll: float = 0.05) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(poll)
    return pred()
