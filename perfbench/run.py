#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload harvest_fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones; the last line of standard
output is the result object ``{"correct", "attempted", "failed",
"metrics"}``, the line before it the run record. ``all`` runs every
workload in its own process, one after the other. See
``perfbench/README.md`` for what each metric and workload means.
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("harvest_fresh", "curate_stream")


def parse_args(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    parser.add_argument("--seed", type=int, required=True)
    # A run times a fixed number of cycles, so that faster code measures
    # the same work; the duration is accepted and not used.
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def run_child(args, name: str, trace: int) -> tuple[dict, dict] | None:
    """Run one workload in its own process; its record and result, or
    None when it exited without a result."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2 or proc.returncode not in (0, 1):
        return None
    print(lines[-2])
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def run_all(args) -> int:
    """Each workload in its own process; the result merges their metrics
    under ``<workload>.<metric>``. With ``--trace 1`` each workload also
    runs untraced first, and ``<workload>.trace.overhead_frac`` is the
    traced run's median cycle latency over the untraced run's."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        untraced = run_child(args, name, 0) if args.trace else None
        child = run_child(args, name, args.trace)
        if child is None or (args.trace and untraced is None):
            return 1
        record, result = child
        merged["correct"] &= result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        for metric, value in result["metrics"].items():
            merged["metrics"][f"{name}.{metric}"] = value
        if untraced is not None:
            baseline = untraced[1]["metrics"]["cycle_p50_s"]["value"]
            merged["metrics"][f"{name}.trace.overhead_frac"] = {
                "value": statistics.median(record["cycle_s"]) / baseline, "unit": "ratio"}
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    try:
        import datagrowth_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library under {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import common

    # SIGTERM unwinds like an exit, so the session stops and the run
    # directory is removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = common.pin_environment(ROOT)
    try:
        return measure(args, run_dir)
    finally:
        common.remove_run_dir(run_dir)


def measure(args, run_dir: str) -> int:
    from perfbench import common, eventlog, spans
    from perfbench.curate import CurateStream
    from perfbench.harvest import HarvestFresh

    spark = common.start_spark(run_dir, event_log=bool(args.trace))
    recorder = spans.Recorder(spark.sparkContext).install() if args.trace else None
    try:
        workload = {"harvest_fresh": HarvestFresh, "curate_stream": CurateStream}[
            args.workload](spark, run_dir, args.seed, recorder)
        session_s = time.time() - PROCESS_START
        phases = workload.setup()
        setup_s = time.time() - PROCESS_START

        if recorder is not None:
            calls0, errors0 = workload.transport_counts()
            recorder.enabled = True
        latencies: list[float] = []
        docs = 0
        t0 = time.time()
        for _ in range(workload.timed_steps):
            cycle, n = workload.step()
            latencies += cycle
            docs += n
        t1 = time.time()
        if recorder is not None:
            recorder.enabled = False
            calls, errors = (a - b for a, b in
                             zip(workload.transport_counts(), (calls0, errors0)))
            requests = sum(workload.requests_sent(s) for s in
                           range(workload.timed_from, workload.timed_from + workload.timed_steps))
        timed_s = t1 - t0
        rss_mb = common.peak_rss_mb(spark)
        result = workload.check()
        stored_bytes, docs_held = workload.stored()
        versions = {"spark": spark.version, "master": spark.sparkContext.master,
                    "cores": common.cores(), "driver_memory": common.DRIVER_MEM,
                    "young_gen": common.YOUNG_GEN}
    finally:
        if recorder is not None:
            recorder.restore()
        common.stop_spark(spark)

    metrics, record = common.cycle_metrics(
        setup_s, latencies, docs, timed_s, stored_bytes, docs_held, rss_mb)
    failed_frac = result["failed_docs"] / max(result["attempted"], 1)
    record.update(versions, workload=args.workload, seed=args.seed, trace=args.trace,
                  steps=workload.timed_steps, problems=result["problems"], failed_frac=failed_frac,
                  setup_phases={"session_s": session_s, **phases})
    if args.trace:
        jobs = eventlog.read_jobs(eventlog.log_file(os.path.join(run_dir, "eventlog")))
        metrics, written = spans.layer_metrics(recorder.spans, jobs, (t0, t1))
        metrics.update({
            "transport.calls": (calls, "count"),
            "transport.errors": (errors, "count"),
            "fetch.hit_ratio": (1 - calls / requests if requests else 0.0, "ratio"),
            "fetch.useful_ratio": ((calls - errors) / calls if calls else 0.0, "ratio"),
            "cache.bytes_written": (written["cache.append"][0] + written["cache.compact"][0], "B"),
            "cache.entries": (written["cache.append"][1], "count"),
            "dataset.bytes_written": (written["dataset.save"][0], "B"),
            "sigstore.bytes_written": (
                written["sigstore.append"][0] + written["sigstore.vacuum"][0], "B"),
            "failed_frac": (failed_frac, "ratio"),
        })
    common.emit(not result["problems"], result["attempted"], result["failed"], metrics, record)
    return 0 if not result["problems"] else 1


if __name__ == "__main__":
    sys.exit(main())
