#!/usr/bin/env python
"""Isolated-repeat verdict for scale-smoke swings (house rule: before
calling an in-smoke number a regression, isolate the op and repeat
>= 3 times warm on a quiet box).

Reproduces scale_smoke.py's synthetic docs frame at the given scale,
then runs ONLY the named ops: one discarded warmup + N timed warm
repeats each. Prints one JSON line per op with all repeats + median.

Run: SPARK_GRAFT_DRIVER_MEM=48g python scripts/isolate_repeat.py \
         [rows_millions] [repeats] [op ...]
Ops: token_budget_select budget_threshold_rank_free

Self-timing ops build their own state once and print their own lines:
``sigstore_probe_pair``; ``cache_lookup_pair`` (an N-row response cache
in 40 batch dirs: a 500-request all-hit fetch and a growth-style
join-back, before and after ``ResourceCache.compact()``, with the cache
bytes); ``harvest_history`` (the perfbench ``harvest_fresh`` driver for
14 cycles with ``compact()`` after cycle 10: per-cycle seconds and
Spark jobs; rows and repeats are ignored).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datagrowth_spark.core.session import get_spark


def main() -> None:
    scale_m = float(sys.argv[1]) if len(sys.argv) > 1 else 100.0
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    ops = sys.argv[3:] or ["token_budget_select", "budget_threshold_rank_free"]
    n = int(scale_m * 1_000_000)
    spark = get_spark(app_name="isolate-repeat")
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc text "),
                     (F.col("id") % (n // 20)).cast("string")).alias("text"),
            (F.xxhash64("id") % 20).cast("int").alias("stratum"),
            (F.xxhash64("id", F.lit(1)) % 997).cast("double").alias("score"),
            (F.abs(F.xxhash64("id", F.lit(2))) % 900 + 100)
            .cast("long").alias("n_tokens"),
        )
    )

    def _timed(fn):
        fn()  # warmup, discarded
        times = []
        for _ in range(repeats):
            t0 = time.time()
            fn()
            times.append(round(time.time() - t0, 2))
        return times

    def run_exact_dedup_groupby():
        from datagrowth_spark.operators.dedup import exact_dedup
        exact_dedup(docs, "text", "doc_id") \
            .write.format("noop").mode("overwrite").save()

    def run_pack_layout():
        from datagrowth_spark.operators.packing import pack_layout
        pack_layout(docs, "doc_id", "n_tokens", ctx=2048) \
            .write.format("noop").mode("overwrite").save()

    def run_token_budget_select():
        from datagrowth_spark.operators.selection import select_by_token_budget
        select_by_token_budget(docs, ["stratum"], "score", "n_tokens",
                               budget=10_000_000, tiebreak_col="doc_id",
                               num_shards=32) \
            .write.format("noop").mode("overwrite").save()

    def run_budget_threshold_rank_free():
        from datagrowth_spark.operators.selection import budget_threshold
        budget_threshold(
            docs.withColumn("score01", (F.col("score") % 1000) / 1000.0),
            ["stratum"], "score01", "n_tokens", budget=10_000_000) \
            .write.format("noop").mode("overwrite").save()

    def run_weighted_sample_topk():
        from datagrowth_spark.operators.sampling import weighted_sample
        weighted_sample(docs, "n_tokens", "doc_id", k=1000) \
            .write.format("noop").mode("overwrite").save()

    def run_span_rewrite():
        from datagrowth_spark.operators.dedup import drop_duplicated_spans
        small = docs.where(F.col("doc_id") < n // 10).withColumn(
            "text", F.concat(F.lit("a b c d e f g h i j k l m n o p q r s t u "),
                             (F.col("doc_id") % (n // 200)).cast("string")))
        drop_duplicated_spans(small, "text", "doc_id", n=8) \
            .select(F.sum("n_removed")).write.format("noop").mode("overwrite").save()

    def _unigram(k):
        from datagrowth_spark.operators.unigram import unigram_train
        wf = (docs.select(F.explode(F.split("text", " ")).alias("w"))
              .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
        unigram_train(wf, k=k).cleanup()

    def run_sigstore_probe_pair():
        """Isolated verdict on the r9 100M smoke's probe inversion
        (after-vacuum 34.4 s vs pre-vacuum 28.9 s, opposite of 10M):
        build the TTL'd store ONCE exactly as the smoke does, then
        interleave warm repeats of both probes around one vacuum.
        Emits its own two JSON lines (pre/post)."""
        import shutil as _shutil
        import tempfile as _tempfile

        from datagrowth_spark.operators.dedup import incremental_minhash_dedup
        from datagrowth_spark.operators.sigstore import SignatureStore

        sig_dir = _tempfile.mkdtemp(prefix="sigstore-isolate-")
        clock = {"t": 1000.0}
        store = SignatureStore(
            spark, os.path.join(sig_dir, "s"), num_hashes=16,
            ttl_seconds=250.0, now_fn=lambda: clock["t"])
        chunk = n // 10
        for b in range(10):
            clock["t"] = 1000.0 + b * 100.0
            sigs = spark.range(b * chunk, (b + 1) * chunk).select(
                F.col("id"),
                *[(F.abs(F.xxhash64("id", F.lit(i))) % 4294967311)
                  .alias(f"mh_{i}") for i in range(16)])
            store.append(sigs)
        probe_batch = docs.where(F.col("doc_id") < 100_000)

        def probe():
            result = incremental_minhash_dedup(
                probe_batch, store.signatures(), "text", "doc_id",
                num_hashes=16, bands=4, n=3)
            result.verdicts.write.format("noop").mode("overwrite").save()
            result.cleanup()

        for phase in ("pre_vacuum", "post_vacuum"):
            if phase == "post_vacuum":
                store.vacuum()
            times = _timed(probe)
            print(json.dumps({"op": f"sigstore_probe_{phase}", "rows": n,
                              "unit": "sec", "repeats": times,
                              "median": statistics.median(times)}),
                  flush=True)
        _shutil.rmtree(sig_dir, ignore_errors=True)

    def run_cache_lookup_pair():
        """Lookups against an N-row cache: the flat 40-batch-dir crawl
        layout, then the same cache after one compact()."""
        import shutil as _shutil
        import tempfile as _tempfile

        from datagrowth_spark.sources.cache import ResourceCache, fetch
        from perfbench.common import dir_bytes

        def never_called(method, url, headers, data):
            raise AssertionError(f"all-hit fetch sent {url}")

        cache_dir = _tempfile.mkdtemp(prefix="cache-isolate-")
        cache = ResourceCache(spark, os.path.join(cache_dir, "c"))

        def rows(ids):
            sig = F.sha2(F.col("id").cast("string"), 256)
            return ids.select(
                sig.alias("signature"), F.lit("GET").alias("method"),
                F.concat(F.lit("http://api.bench/entities/"), F.col("id").cast("string"))
                .alias("url"),
                F.lit(None).cast("string").alias("headers"),
                F.lit(None).cast("string").alias("data"),
                F.lit(200).alias("status"), F.lit("{}").alias("head"),
                F.concat(F.lit('{"id": '), F.col("id").cast("string"),
                         F.lit(', "name": "entity '), F.col("id").cast("string"),
                         F.lit('", "detail": "'), F.repeat(F.lit("x"), 120),
                         F.lit('"}')).alias("body"),
                (F.current_timestamp() - F.make_interval(secs=F.col("id"))).alias("fetched_at"),
                F.lit(None).cast("timestamp").alias("purge_at"),
                sig.alias("chain"))

        chunk = -(-n // 40)
        for b in range(40):
            cache.append(rows(spark.range(b * chunk, min((b + 1) * chunk, n))))
        picked = spark.range(0, n, max(1, n // 500)).limit(500)
        reqs = rows(picked).select("signature", "method", "url", "headers", "data") \
            .localCheckpoint(eager=True)
        id_sig = reqs.select(F.col("url").alias("identity"), "signature") \
            .localCheckpoint(eager=True)

        def fetch_all_hit():
            fetch(reqs, cache, transport=never_called, backoff_delays=[]) \
                .write.format("noop").mode("overwrite").save()

        def join_back():
            id_sig.join(cache.latest(signatures=id_sig), "signature", "left") \
                .write.format("noop").mode("overwrite").save()

        for phase in ("flat", "compacted"):
            extra = {}
            if phase == "compacted":
                t0 = time.time()
                extra["entries_folded"] = cache.compact()
                extra["compact_s"] = round(time.time() - t0, 2)
            extra["cache_bytes"] = dir_bytes(cache.path)
            for name, fn in (("fetch_all_hit", fetch_all_hit), ("join_back", join_back)):
                times = _timed(fn)
                print(json.dumps({"op": f"cache_lookup_{name}_{phase}", "rows": n,
                                  "unit": "sec", "repeats": times,
                                  "median": statistics.median(times), **extra}),
                      flush=True)
        _shutil.rmtree(cache_dir, ignore_errors=True)

    def run_harvest_history(cycles=14, compact_after=10, seed=5):
        """Grow cost against cache history: the perfbench harvest driver
        with one compact() of its cache after cycle ``compact_after``."""
        import shutil as _shutil
        import tempfile as _tempfile

        from perfbench.common import dir_bytes
        from perfbench.harvest import HarvestFresh

        run_dir = _tempfile.mkdtemp(prefix="harvest-history-")
        harvest = HarvestFresh(spark, run_dir, seed)
        sc = spark.sparkContext
        per_cycle = []
        for cycle in range(1, cycles + 1):
            group = f"harvest-history-{cycle}"
            sc.setJobGroup(group, group)
            try:
                [sec], _docs = harvest.step()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            per_cycle.append(sec)
            print(json.dumps({"op": "harvest_history", "cycle": cycle, "sec": round(sec, 2),
                              "jobs": jobs, "cache_bytes": dir_bytes(harvest.cache_dir)}),
                  flush=True)
            if cycle == compact_after:
                t0 = time.time()
                folded = harvest.cache.compact()
                print(json.dumps({"op": "harvest_history_compact", "after_cycle": cycle,
                                  "entries_folded": folded,
                                  "sec": round(time.time() - t0, 2),
                                  "cache_bytes": dir_bytes(harvest.cache_dir)}), flush=True)
        before = statistics.median(per_cycle[compact_after - 4:compact_after])
        after = statistics.median(per_cycle[compact_after:compact_after + 4])
        print(json.dumps({"op": "harvest_history_summary", "seed": seed,
                          "median_before": round(before, 2), "median_after": round(after, 2),
                          "ratio": round(after / before, 3)}), flush=True)
        _shutil.rmtree(run_dir, ignore_errors=True)

    _clf_cache: list = []

    def _clf_carrier(n_buckets, use_broadcast):
        # crossover-grid point, exactly as scripts/carrier_crossover.py
        # runs it (k=2, persisted labeled docs) — for re-measuring
        # contaminated grid readings under the quiet-box rule
        from datagrowth_spark.operators.classifier import logreg_train
        if not _clf_cache:
            clf = docs.select("doc_id", "text",
                              (F.col("stratum") < 10).alias("y")).persist()
            clf.count()
            _clf_cache.append(clf)
        logreg_train(_clf_cache[0], F.col("y"), k=2, n_buckets=n_buckets,
                     use_broadcast=use_broadcast).cleanup()

    runners = {
        "sigstore_probe_pair": run_sigstore_probe_pair,
        "cache_lookup_pair": run_cache_lookup_pair,
        "harvest_history": run_harvest_history,
        "clf_join_1024": lambda: _clf_carrier(1024, True),
        "clf_join_8192": lambda: _clf_carrier(8192, True),
        "clf_map_4096": lambda: _clf_carrier(4096, False),
        "exact_dedup_groupby": run_exact_dedup_groupby,
        "pack_layout_sharded_prefix_sum": run_pack_layout,
        "token_budget_select": run_token_budget_select,
        "budget_threshold_rank_free": run_budget_threshold_rank_free,
        "weighted_sample_topk": run_weighted_sample_topk,
        "span_rewrite_1m_docs": run_span_rewrite,
        # warm-repeat halves of the unigram per-round marginal: the
        # in-smoke k1/k2 deltas are confounded by whichever variant
        # pays the big DP expression's codegen compile first; warm
        # medians of each isolate the true per-round cost.
        "unigram_train_k1": lambda: _unigram(1),
        "unigram_train_k2": lambda: _unigram(2),
    }
    self_timing = {"sigstore_probe_pair", "cache_lookup_pair", "harvest_history"}
    for op in ops:
        fn = runners[op]
        if op in self_timing:
            fn()  # builds its state once, prints its own lines
            continue
        times = _timed(fn)
        print(json.dumps({"op": op, "rows": n, "unit": "sec",
                          "repeats": times,
                          "median": statistics.median(times)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
