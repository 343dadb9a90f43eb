"""Session start, set-up timing and clean shutdown for the job benchmark.

Everything the benchmark writes goes under ``<checkout>/.jobbench_work``:
Spark's local dirs, the JVM and Python temp dirs, event logs, inputs and
job outputs. ``start_session`` is the set-up a spark-submit pays: the JVM
gateway, ``session.get_spark`` and one Python worker live on every core.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent   # the checkout root
WORK = ROOT / ".jobbench_work"
NO_PERF_DATA = "-XX:-UsePerfData"
# JIT and GC settings of the benchmark's driver JVM. With the default
# tiered JIT, C2 compiles Spark's per-job paths for 14+ jobs (one warm
# scrub_text job fell from 4.8 s to 2.9 s over jobs 2-14, the JVM burning
# 13 -> 4 CPU-s a job), so a run that can afford a handful of jobs times
# a falling curve. C1 alone is flat from the second job at ~3.1 s, within
# ~10 % of C2's wall at job 14. G1 sizes its regions from the heap: at
# the 3 GB heap used here they are 1 MB, and Arrow/parquet buffers over
# half a region become humongous objects, each starting a concurrent
# mark (150 of them in 14 jobs). 16 MB is the region size job.py's
# default 32 GB heap gets, and it leaves a few concurrent marks a run.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:G1HeapRegionSize=16m"


def cores() -> int:
    """Cores this process may run on (the benchmark's local[N])."""
    return len(os.sched_getaffinity(0))


def process_start_epoch() -> float:
    """Wall-clock time at which this process was exec'd (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime_s = float(f.read().split()[0])
    hz = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime_s + start_ticks / hz


def isolate_env(tag: str) -> Path:
    """Point every temp/scratch location of this process and its children
    (JVM, Python workers) inside the checkout. Returns the tag's dir."""
    tmp = WORK / "tmp" / f"{tag}-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # JVMs write /tmp/hsperfdata_<user> unless told not to: spark-submit's
    # launcher JVM reads this variable, the Spark JVM gets the flag through
    # spark.driver.extraJavaOptions in start_session
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    # the package (and the gate's oracle functions) are imported by the
    # benchmark process AND by every Python worker
    paths = [str(ROOT), str(Path(__file__).resolve().parent)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return tmp


def start_session(tmp: Path, extra_conf: dict | None = None):
    """get_spark on local[cores] + a barrier job that holds one Python
    worker per core at the same time. Returns (spark, worker_pids,
    {"session.start_s", "session.worker_spawn_s"}). Reuses the running
    JVM gateway if an earlier session was stopped with ``spark.stop()``."""
    from pii_redaction_pipeline_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA} {JVM_OPTS}",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    }
    conf.update(extra_conf or {})
    t0 = time.perf_counter()
    spark = get_spark(app="jobbench", master=f"local[{n}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    def hold(_it):
        from pyspark import BarrierTaskContext
        BarrierTaskContext.get().barrier()   # all n workers alive at once
        yield os.getpid()

    pids = (spark.sparkContext.parallelize(range(n), n)
            .barrier().mapPartitions(hold).collect())
    if len(set(pids)) != n:
        raise RuntimeError(f"expected {n} live Python workers, saw {pids}")
    return spark, pids, {"session.start_s": t1 - t0,
                         "session.worker_spawn_s": time.perf_counter() - t1}


def jvm_pid() -> int:
    """PID of the running session's Spark JVM."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark, worker_pids=(), timeout_s: float = 30.0) -> None:
    """Stop Spark, then wait for the gateway JVM and the Python workers it
    forked to exit, so no process outlives the benchmark."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()       # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in worker_pids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
