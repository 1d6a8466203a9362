"""Span wrappers attribute jobs without adding any, and restore cleanly."""

import time

from datagrowth_spark.plans import seeding
from datagrowth_spark.sources import cache as cache_mod
from datagrowth_spark.sources.http import http_request, requests_to_df

from perfbench import eventlog, spans
from perfbench.transport import EntityAPI


def run_fetch(spark, path, group):
    """Jobs a cold fetch of three requests runs, counted by the status
    tracker under ``group``."""
    sc = spark.sparkContext
    requests = requests_to_df(spark, [http_request(EntityAPI.analyze_url(i)) for i in range(3)])
    sc.setJobGroup(group, group)
    try:
        cache_mod.fetch(requests, cache_mod.ResourceCache(spark, path),
                        transport=EntityAPI(1, 50, service_s=0), return_responses=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_wrappers_add_no_jobs(traced, tmp_path):
    spark, log_dir = traced
    originals = (cache_mod.fetch, seeding.fetch, cache_mod.ResourceCache.__dict__["append"])
    plain = run_fetch(spark, str(tmp_path / "plain"), "spans-plain")

    recorder = spans.Recorder(spark.sparkContext).install()
    recorder.enabled = True
    try:
        traced_jobs = run_fetch(spark, str(tmp_path / "traced"), "spans-traced")
    finally:
        recorder.restore()

    assert traced_jobs == plain >= 1
    assert (cache_mod.fetch, seeding.fetch, cache_mod.ResourceCache.__dict__["append"]) == originals
    outer, inner = sorted(recorder.spans, key=lambda s: s.start)
    assert (outer.name, inner.name, inner.parent) == ("fetch", "cache.append", outer.span_id)
    assert not set(spark.sparkContext.getJobTags())

    deadline = time.time() + 60
    while True:
        jobs = [j for j in eventlog.read_jobs(eventlog.log_file(log_dir))
                if j.tags & {outer.tag, inner.tag}]
        if len(jobs) >= traced_jobs or time.time() > deadline:
            break
        time.sleep(0.2)
    assert len(jobs) == traced_jobs
    assert all(len(j.tags & {outer.tag, inner.tag}) == 1 for j in jobs)
    assert any(j.tags & {outer.tag, inner.tag} == {inner.tag} and j.output_records == 3
               for j in jobs)


def test_disabled_recorder_records_nothing(traced, tmp_path):
    spark, _log_dir = traced
    recorder = spans.Recorder(spark.sparkContext).install()
    try:
        run_fetch(spark, str(tmp_path / "off"), "spans-off")
    finally:
        recorder.restore()
    assert recorder.spans == []


def test_layer_metrics_attribute_jobs_to_the_innermost_span():
    outer = spans.Span(1, "seeding", None, 0.0, 10.0)
    inner = spans.Span(2, "fetch", 1, 2.0, 6.0)

    def job(start, end, *tags, shuffle=0):
        return eventlog.Job(0, start, end, frozenset(tags), (), shuffle_bytes=shuffle,
                            output_bytes=7, output_records=1)

    jobs = [job(1.0, 2.0, "pb-1"), job(3.0, 5.0, "pb-1", "pb-2", shuffle=9),
            job(7.0, 8.0, "pb-1", "spark-session-x"), job(11.0, 12.0)]
    out, written = spans.layer_metrics([outer, inner], jobs, (0.0, 10.0))
    assert out["seeding.calls"] == (1, "count") and out["fetch.calls"] == (1, "count")
    assert out["seeding.self_s"] == (6.0, "s") and out["fetch.self_s"] == (4.0, "s")
    assert out["seeding.jobs"] == (2, "count") and out["fetch.jobs"] == (1, "count")
    assert out["fetch.shuffle_bytes"] == (9, "B") and out["seeding.shuffle_bytes"] == (0, "B")
    assert out["seeding.driver_s"] == (4.0, "s") and out["fetch.driver_s"] == (2.0, "s")
    assert written["seeding"] == (14, 2) and written["growth"] == (0, 0)
    assert out["spark.jobs"] == (3, "count")
    assert out["spark.driver_gap_s"] == (6.0, "s")
