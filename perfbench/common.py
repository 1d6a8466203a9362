"""Environment pinning, the Spark session, and the metric helpers every
workload shares."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

DRIVER_MEM = "2g"
YOUNG_GEN = "256m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str) -> str:
    """Point every scratch location of Python, the JVM and Spark at a
    run-scoped directory under ``root``, and pin the core count (the
    session factory otherwise falls back to 32 cores). Returns the
    directory; :func:`remove_run_dir` deletes it."""
    base = os.path.join(root, ".bench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{os.getpid()}-", dir=base)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
        # HotSpot writes perf data under /tmp unless it is switched off;
        # this covers spark-submit's launcher JVM.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    return run_dir


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    parent = os.path.dirname(run_dir)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def start_spark(run_dir: str, event_log: bool):
    from datagrowth_spark.core.session import get_spark

    from perfbench import eventlog

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # A fixed heap capacity, young generation and marking threshold:
        # left adaptive, the eden size and the start of old-generation
        # marking follow the run's timing, and so would the peak heap use.
        # The heap is not pre-touched.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
                                         f"-Xmn{YOUNG_GEN} -XX:-G1UseAdaptiveIHOP "
                                         "-XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(eventlog.CONF)
        conf["spark.eventLog.dir"] = log_dir
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait for the JVM to exit (the
    JVM's Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _hwm_kb() -> int:
    with open("/proc/self/status") as handle:
        for line in handle:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the peak memory use of
    the session's JVM: the sum of the peak used bytes of every JVM memory
    pool, heap and non-heap. The JVM's resident size is not used: it
    follows when the collector grows and touches the heap, not what the
    run keeps."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jvm_bytes = sum(pool.getPeakUsage().getUsed() for pool in beans.getMemoryPoolMXBeans())
    return _hwm_kb() / 1024.0 + jvm_bytes / 2**20


def dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            for name in files:
                total += os.path.getsize(os.path.join(root, name))
    return total


def cycle_metrics(setup_s: float, cycles: list[float], docs: int, timed_s: float,
                  stored_bytes: int, docs_held: int, rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metric set, and the record that qualifies it. A
    run has too few cycles for a tail percentile with ten samples beyond
    it, so the record lists every cycle instead."""
    metrics = {
        "setup_s": (setup_s, "s"),
        "cycle_p50_s": (statistics.median(cycles), "s"),
        "docs_per_s": (docs / timed_s, "1/s"),
        "stored_bytes_per_doc": (stored_bytes / max(docs_held, 1), "B"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    return metrics, {"cycle_s": cycles, "timed_s": timed_s, "docs": docs,
                     "docs_held": docs_held}


def emit(correct: bool, attempted: int, failed: int, metrics: dict, record: dict) -> None:
    """Print the run record, then the result line (the last line of output)."""
    print(json.dumps({"record": record}, sort_keys=True, default=str))
    out = {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()}
    for name, entry in out.items():
        if not isinstance(entry["value"], (int, float)) or not math.isfinite(entry["value"]):
            raise ValueError(f"metric {name} is not a finite number: {entry['value']!r}")
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}))
    sys.stdout.flush()
