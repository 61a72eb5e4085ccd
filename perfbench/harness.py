"""Spark session, timing spans, host calibration and memory for the benchmark.

Everything the benchmark writes (Spark scratch space, parquet inputs, saved
indexes, the event log) lives in one work directory inside the checkout,
removed when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """Driver heap: 2 GiB, or an eighth of host RAM if that is smaller."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(2048, total_kb // 1024 // 8)


class Session:
    """One local[nproc] Spark session whose files stay in ``work``."""

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None
        self._listener = None
        for sub in ("tmp", "spark-local", "warehouse"):
            (work / sub).mkdir(parents=True, exist_ok=True)
        # inherited by the JVM and the Python workers it forks
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # both JVMs (launcher and driver): temp files here, no hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(":"))]
        os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))

    def start(self):
        from pyspark.sql import SparkSession

        cores = nproc()
        self.spark = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{driver_memory_mb()}m")
            .config("spark.local.dir", str(self.work / "spark-local"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def start_event_log(self, log_dir: Path, name: str) -> None:
        """Attach an uncompressed, non-rolling event-log listener, writing
        ``log_dir/name``, to the running context: untraced and traced calls
        share one session.  ``EventLoggingListener`` is the class Spark's
        own ``spark.eventLog.enabled`` uses; it is internal to Spark and
        reached here through py4j."""
        sc = self.spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        log_dir.mkdir(parents=True, exist_ok=True)
        self._log = log_dir / name
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        none = getattr(jvm.scala, "None$").__getattr__("MODULE$")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, none, jvm.java.net.URI(log_dir.as_uri()), conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def stop_event_log(self) -> Path:
        """Flush pending listener events, detach the listener, return the log."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        return self._log

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def tree_peak_rss_mb(root_pid: int) -> float:
    """Summed peak resident memory (VmHWM) of a process and its live
    descendants: the JVM and the Python workers it forked."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            try:
                with open(f"/proc/{entry.name}/stat", encoding="ascii") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry.name))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                total_kb += next(
                    int(line.split()[1]) for line in fh if line.startswith("VmHWM:")
                )
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def reference_seconds(spark, reps: int = 2) -> list[float]:
    """Wall times of a fixed job that runs no engine code: a range through
    an Arrow pandas pass and a shuffle.  It uses the resources the engine's
    calls use (scheduler, Python workers, shuffle), so the benchmark scales
    wall times by it to cancel the host's speed."""

    def upper(batches):
        for pdf in batches:
            pdf["s"] = pdf["s"].str.upper()
            yield pdf

    df = spark.range(0, 200_000, 1, nproc()).selectExpr("id", "cast(id % 997 as string) s")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.mapInPandas(upper, "id long, s string").groupBy("s").count().count()
        times.append(time.perf_counter() - t0)
    return times


@dataclass
class Span:
    call: str
    group: str
    start: float  # epoch seconds
    end: float
    traced: bool


@dataclass
class Recorder:
    """Times public calls.  With ``traced`` set, each call runs under its
    own Spark job group so the event log can be folded per call."""

    spark: object
    traced: bool = False
    spans: list[Span] = field(default_factory=list)
    _n: int = 0

    @contextlib.contextmanager
    def call(self, name: str):
        sc = self.spark.sparkContext
        self._n += 1
        group = f"{name}#{self._n}"
        if self.traced:
            sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, group, start, end, self.traced))

    def walls(self, name: str) -> list[float]:
        """Durations of the untraced calls named ``name``."""
        return [s.end - s.start for s in self.spans if s.call == name and not s.traced]


def median(values) -> float:
    return float(statistics.median(values))


def remove_tree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
