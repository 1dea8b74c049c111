"""Run context shared by the workloads: work directory inside the checkout,
Spark session lifecycle and small statistics helpers."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


@dataclass
class Ctx:
    workload: str
    seed: int
    trace: bool
    work: str = ""
    spark: object = None
    tracer: object = None
    event_dir: str = ""
    session_s: float = 0.0
    # human-readable report lines printed before the result line
    notes: list = field(default_factory=list)

    def note(self, key: str, value, unit: str = "") -> None:
        if isinstance(value, float):
            value = f"{value:.6g}"
        self.notes.append(f"{key:<44s} {value} {unit}".rstrip())


def prepare_env(ctx: Ctx) -> None:
    """Work directory and environment: everything the run writes (Spark
    scratch, temp files, warehouses, event log, generated inputs) stays
    under ``.perfbench_work/`` in the checkout."""
    ctx.work = os.path.join(ROOT, ".perfbench_work", f"{ctx.workload}-{os.getpid()}")
    shutil.rmtree(ctx.work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(ctx.work, d), exist_ok=True)
    ctx.event_dir = os.path.join(ctx.work, "events")
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    # the spark-submit launcher JVM: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the engine's verbose mode prints to stdout; the result line must be last
    os.environ.pop("HELIX_SPARK_VERBOSE", None)
    os.environ.pop("HELIX_SPARK_PLAN_LOG", None)


def start_spark(ctx: Ctx):
    """``local[nproc]`` session through the program's own factory; the
    timed part is everything up to a usable SparkSession."""
    from helix_spark.session import get_spark

    conf = {
        # 4g instead of the factory's 8g: the box is shared, and these
        # inputs are small
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "spark-warehouse"),
        # temp files in the work directory; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} -XX:-UsePerfData",
    }
    if ctx.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{ctx.event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    ctx.spark = get_spark(app_name=f"perfbench-{ctx.workload}",
                          master=f"local[{cores()}]", extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.session_s = time.time() - t0
    if ctx.tracer is not None:
        ctx.tracer.sc = ctx.spark.sparkContext
    return ctx.spark


def stop_spark(ctx: Ctx) -> None:
    """Stop the session, shut the gateway JVM down and wait for it to exit
    (this also flushes the event log)."""
    if ctx.spark is None:
        return
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    ctx.spark.stop()
    ctx.spark = None
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM already closed the connection
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
