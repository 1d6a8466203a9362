"""The event-log reader against a log captured from a live two-job run."""

import operator
import time

from perfbench import eventlog


def jobs_tagged(log_dir, tags, timeout_s=60):
    """The logged jobs carrying any of ``tags``, once each has ended (the
    listener bus writes the log asynchronously)."""
    deadline = time.time() + timeout_s
    while True:
        jobs = [j for j in eventlog.read_jobs(eventlog.log_file(log_dir)) if j.tags & set(tags)]
        if len(jobs) >= len(tags) or time.time() > deadline:
            return jobs
        time.sleep(0.2)


def test_two_job_run(traced):
    spark, log_dir = traced
    sc = spark.sparkContext
    t0 = time.time()
    sc.addJobTag("el-narrow")
    assert sc.parallelize(range(100), 2).count() == 100
    sc.removeJobTag("el-narrow")
    sc.addJobTag("el-shuffle")
    pairs = sc.parallelize(range(100), 2).map(lambda x: (x % 3, 1)).reduceByKey(operator.add, 3)
    assert sorted(pairs.collect()) == [(0, 34), (1, 33), (2, 33)]
    sc.removeJobTag("el-shuffle")
    t1 = time.time()

    narrow, shuffle = jobs_tagged(log_dir, ["el-narrow", "el-shuffle"])
    assert narrow.tags == {"el-narrow"} and shuffle.tags == {"el-shuffle"}
    assert (narrow.tasks, shuffle.tasks) == (2, 5)
    assert narrow.shuffle_bytes == 0 < shuffle.shuffle_bytes
    assert narrow.exec_s >= 0 and shuffle.exec_s >= 0
    assert t0 - 1 <= narrow.start_s <= narrow.end_s <= shuffle.start_s <= shuffle.end_s <= t1 + 1

    busy = eventlog.union_length([(narrow.start_s, narrow.end_s), (shuffle.start_s, shuffle.end_s)])
    gap = eventlog.driver_gap_s([narrow, shuffle], t0 - 1, t1 + 1)
    assert abs(gap + busy - (t1 - t0 + 2)) < 1e-6


def test_union_length_merges_overlaps():
    assert eventlog.union_length([]) == 0
    assert eventlog.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert eventlog.clip([(0, 2), (3, 9)], 1, 4) == [(1, 2), (3, 4)]
