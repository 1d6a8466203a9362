"""``harvest_fresh``: a continuous crawl into a growing REVISE dataset.

Each cycle is one ``DatasetWarehouse.grow(strategy=REVISE)``: seeding
walks a paginated entity listing of a new slice and merges one detail
fetch per seed, then growth enriches every pending document through
``/analyze``. Every new request misses the one long-lived
``ResourceCache``; documents whose id the API answers 404 stay pending
and are re-sent each cycle. The cache is never compacted during a run: a
compaction's latency varies too much under host contention for a run of
two timed cycles to stay steady.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from datagrowth_spark.plans import DatasetWarehouse, GrowthStrategy
from datagrowth_spark.sources.cache import ResourceCache

from perfbench.pipeline import HarvestDataset, harvest
from perfbench.transport import FAIL_MOD, PAGE_SIZE, EntityAPI, mix

SLICE = 500
WARMUP_STEPS = 1
TIMED_STEPS = 2


class HarvestFresh:
    timed_steps = TIMED_STEPS
    #: The first timed step; set-up runs the ones before it.
    timed_from = WARMUP_STEPS + 1

    def __init__(self, spark, run_dir: str, seed: int, recorder=None) -> None:
        sc = spark.sparkContext
        self.spark = spark
        self.calls = sc.accumulator(0)
        self.errors = sc.accumulator(0)
        self.api = EntityAPI(seed, SLICE, self.calls, self.errors)
        self.first_id = 1000 + (mix(seed, 0) % 1000) * SLICE
        self.cache_dir = os.path.join(run_dir, "cache")
        self.warehouse_dir = os.path.join(run_dir, "warehouse")
        self.cache = ResourceCache(spark, self.cache_dir)
        self.warehouse = DatasetWarehouse(spark, self.warehouse_dir)
        self.dataset = HarvestDataset()
        self.steps = 0

    # -- driving ----------------------------------------------------------
    def slice_ids(self, step: int) -> range:
        start = self.first_id + (step - 1) * SLICE
        return range(start, start + SLICE)

    def requests_sent(self, step: int) -> int:
        """Requests cycle ``step`` issues: listing pages, one detail per
        seed, one analyze per pending document (the new slice plus every
        earlier 404)."""
        earlier_failures = (step - 1) * SLICE // FAIL_MOD
        return SLICE // PAGE_SIZE + SLICE + SLICE + earlier_failures

    def transport_counts(self) -> tuple[int, int]:
        return self.calls.value, self.errors.value

    def setup(self) -> dict:
        t0 = time.perf_counter()
        for _ in range(WARMUP_STEPS):
            self.step()
        return {"warmup_s": time.perf_counter() - t0}

    def step(self) -> tuple[list[float], int]:
        self.steps += 1
        t0 = time.perf_counter()
        ids = self.slice_ids(self.steps)
        self.warehouse.grow(self.dataset, harvest(self.spark, self.cache, self.api, ids.start),
                            strategy=GrowthStrategy.REVISE)
        return [time.perf_counter() - t0], SLICE

    # -- results ----------------------------------------------------------
    def stored(self) -> tuple[int, int]:
        from perfbench.common import dir_bytes

        return dir_bytes(self.cache_dir, self.warehouse_dir), self.steps * SLICE

    def check(self) -> dict:
        """Compare every stored version with the closed form. Returns the
        tallies the result line and the record need."""
        versions = [v["version"] for v in self.warehouse.read_meta(self.dataset)["versions"]]
        problems: list[str] = []
        if versions != list(range(1, self.steps + 1)):
            problems.append(f"versions {versions} after {self.steps} cycles")
        frames = [self.warehouse.load_collection(self.dataset, v).df
                  .select(F.lit(v).alias("version"), "identity") for v in versions]
        union = frames[0]
        for frame in frames[1:]:
            union = union.unionByName(frame)
        counts = {r["version"]: r["n"] for r in
                  union.groupBy("version").agg(F.count(F.lit(1)).alias("n")).collect()}
        for v in versions:
            if counts.get(v) != v * SLICE:
                problems.append(f"version {v} holds {counts.get(v)} documents, expected {v * SLICE}")

        analysis = F.col("derivatives")["analyze"]
        final = self.warehouse.load_collection(self.dataset, versions[-1]).df.select(
            F.col("identity").cast("long").alias("id"),
            F.get_json_object(F.col("task_results")["analyze"], "$.success").alias("ok"),
            analysis["score"].cast("double").alias("score"),
            F.get_json_object(analysis["flag"], "$").alias("flag"),
            F.get_json_object(F.col("properties")["detail"], "$").alias("detail"),
        ).collect()
        seen = {r["id"]: r for r in final}
        expected_ids = {i for s in range(1, self.steps + 1) for i in self.slice_ids(s)}
        if set(seen) != expected_ids:
            problems.append(f"{len(set(seen) ^ expected_ids)} ids differ from the slices grown")
        failed_ids = {i for i, row in seen.items() if row["ok"] != "true"}
        wrong = {i for i, row in seen.items() if row["ok"] == "true" and (
            row["score"] != self.api.score(i) or row["flag"] != self.api.flag(i)
            or not (row["detail"] or "").startswith(f"detail {i} "))}
        injected = {i for i in expected_ids if self.api.missing(i)}
        if failed_ids != injected:
            problems.append(f"failed ids differ from the injected 404 set: "
                            f"{len(failed_ids - injected)} unexpected, "
                            f"{len(injected - failed_ids)} missing")
        if wrong:
            problems.append(f"{len(wrong)} documents disagree with the closed form")
        timed = {i for s in range(self.timed_from, self.steps + 1) for i in self.slice_ids(s)}
        # Injected 404s are the expected outcome; a document fails when
        # it is lost, fails without a 404, or disagrees with the closed form.
        unexpected = (failed_ids - injected) | (injected - failed_ids) | wrong | (timed - set(seen))
        return {"problems": problems, "attempted": len(timed),
                "failed": len(unexpected & timed), "failed_docs": len(failed_ids & timed)}
