"""Run context shared by the workloads: the Spark session, the work
directory, timing samples and the attempted/failed tally."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_spark(work: str):
    """A local[cores] session whose scratch files all stay under ``work``.
    Mirrors ``session.get_spark`` (shuffle partitions = cores, UI off) and
    applies the engine's runtime confs the same way every loader does."""
    from pyspark.sql import SparkSession

    from change_data_capture_spark.session import ensure_runtime_confs

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # py4j/pyspark temp files
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    n = cores()
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{n}]")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        )
        .config("spark.hadoop.hadoop.tmp.dir", tmp)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM it launched to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object
    #: timing/count samples by name; workloads turn them into metrics
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def timed(self, name: str, fn, *args, **kwargs):
        """Run one operation of the closed loop: counted as attempted,
        timed into ``samples[name]`` on success, counted as failed (with
        its traceback on stderr) if it raises. Returns (ok, result)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op=True):
                out = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.problems.append(f"{name} raised")
            traceback.print_exc(file=sys.stderr)
            return False, None
        self.add(name, time.perf_counter() - t0)
        return True, out

    def check(self, label: str, problems: list[str]) -> None:
        """Count one correctness check; a non-empty problem list fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{label}: {p}" for p in problems)
