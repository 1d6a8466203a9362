"""SignatureStore lifecycle (operators/sigstore.py): atomic appends,
TTL eviction with an injectable clock, crash-safe compaction, probe
equivalence, the persisted streaming-index mode, a brute-force
reference for the store probe and its Spark job budget."""

import os
import random

import pytest
from pyspark.sql import functions as F

from datagrowth_spark.operators.dedup import (
    _banded_keys, incremental_minhash_dedup, incremental_verdicts,
    minhash_signature)
from datagrowth_spark.operators.sigstore import SignatureStore

NH = 8


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sigs(spark, docs):
    return minhash_signature(docs, "text", "doc_id", num_hashes=NH, n=3)


class FakeClock:
    def __init__(self, t=1000.0):
        self.t = t

    def __call__(self):
        return self.t


class TestAppendRead:
    def test_append_is_atomic_and_readable(self, spark, tmp_path):
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        assert store.is_empty()
        docs = _docs(spark, [(1, "the quick brown fox jumps"),
                             (2, "lazy dogs sleep all day long")])
        store.append(_sigs(spark, docs))
        assert not store.is_empty()
        assert store.read().count() == 2
        assert sorted(store.signatures().columns) == sorted(
            ["id"] + [f"mh_{i}" for i in range(NH)])

    def test_crashed_append_staging_invisible(self, spark, tmp_path):
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        docs = _docs(spark, [(1, "some text here for hashing now")])
        store.append(_sigs(spark, docs))
        # simulate a crashed appender: hidden staging dir with data
        staging = tmp_path / "s" / ".staging-deadbeef"
        _sigs(spark, _docs(spark, [(9, "crashed batch never published at all")])) \
            .withColumn("ingested_at", F.lit(0.0)) \
            .write.mode("overwrite").parquet(str(staging))
        assert store.read().count() == 1  # staging never read
        assert store.vacuum() >= 1
        assert not staging.exists()       # vacuum swept it
        assert store.read().count() == 1

    def test_ttl_evicts_on_read(self, spark, tmp_path):
        clock = FakeClock(1000.0)
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH,
                               ttl_seconds=100.0, now_fn=clock)
        store.append(_sigs(spark, _docs(spark, [(1, "old signature row with more words")])))
        clock.t = 1050.0
        store.append(_sigs(spark, _docs(spark, [(2, "newer signature row with more words")])))
        assert store.read().count() == 2
        clock.t = 1120.0  # row 1 (t=1000) expired, row 2 (t=1050) live
        assert [r["id"] for r in store.read().collect()] == [2]
        clock.t = 1200.0  # everything expired
        assert store.read().count() == 0


class TestCompactVacuum:
    def test_compact_folds_entries_and_preserves_rows(self, spark, tmp_path):
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        for i in range(4):
            store.append(_sigs(spark, _docs(
                spark, [(i, f"document number {i} has a text body")])))
        before = {r["id"] for r in store.read().collect()}
        assert store.compact() == 4
        entries = os.listdir(tmp_path / "s")
        assert sum(n.startswith("compact-") for n in entries) == 1
        assert sum(n.startswith("batch-") for n in entries) == 0
        assert {r["id"] for r in store.read().collect()} == before

    def test_compact_drops_expired_rows_permanently(self, spark, tmp_path):
        clock = FakeClock(1000.0)
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH,
                               ttl_seconds=50.0, now_fn=clock)
        store.append(_sigs(spark, _docs(spark, [(1, "this row will expire soon enough")])))
        clock.t = 1100.0
        store.append(_sigs(spark, _docs(spark, [(2, "this row is still very fresh")])))
        store.compact()
        # raw scan of the compacted layout: the expired row is GONE
        raw = spark.read.parquet(
            *[str(tmp_path / "s" / n) for n in os.listdir(tmp_path / "s")])
        assert [r["id"] for r in raw.collect()] == [2]

    def test_compact_all_expired_leaves_empty_store(self, spark, tmp_path):
        clock = FakeClock(1000.0)
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH,
                               ttl_seconds=10.0, now_fn=clock)
        store.append(_sigs(spark, _docs(spark, [(1, "this doomed row text will vanish")])))
        clock.t = 2000.0
        assert store.compact() == 1
        assert store.is_empty()
        assert store.read().count() == 0

    def test_crash_window_overlap_harmless_then_healed(self, spark, tmp_path):
        """A compact that published but crashed before deleting the
        folded entries leaves DOUBLE coverage. read() deliberately does
        NOT pay a per-probe dedup shuffle for this rare window —
        duplicate signature rows leave probe VERDICTS unchanged, and
        the next compact heals the layout back to one row per id."""
        import shutil

        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        store.append(_sigs(spark, _docs(spark, [
            (1, "row one has plenty of tokens"),
            (2, "row two also has many tokens")])))
        batch = _docs(spark, [(10, "row one has plenty of tokens")])
        clean = incremental_minhash_dedup(
            batch, store.signatures(), "text", "doc_id",
            num_hashes=NH, bands=4, n=3, threshold=0.2)
        want = sorted(tuple(r) for r in clean.verdicts.collect())
        clean.cleanup()
        store.compact()
        # resurrect the folded batch dir (as if deletion never ran)
        compacted = store._entries()[0]
        ghost = str(tmp_path / "s" / "batch-ghost")
        shutil.copytree(compacted, ghost)
        assert len(store._entries()) == 2
        assert store.read().count() == 4  # double coverage, by design
        dup = incremental_minhash_dedup(
            batch, store.signatures(), "text", "doc_id",
            num_hashes=NH, bands=4, n=3, threshold=0.2)
        got = sorted(tuple(r) for r in dup.verdicts.collect())
        dup.cleanup()
        assert got == want                 # verdicts unchanged
        assert store.compact() == 2        # next compact heals
        assert len(store._entries()) == 1
        assert store.read().count() == 2   # one row per id again

    def test_compact_bounds_file_count(self, spark, tmp_path):
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH,
                               target_records_per_file=100)
        for i in range(6):
            store.append(_sigs(spark, _docs(
                spark, [(i * 2, f"text alpha number {i} body"), (i * 2 + 1, f"text beta number {i} body")])))
        store.compact()
        files = [f for f in os.listdir(store._entries()[0])
                 if f.endswith(".parquet")]
        assert len(files) == 1  # 12 rows, 100/file target


class TestProbeEquivalence:
    def test_ingest_matches_one_shot_dedup(self, spark, tmp_path):
        """Verdicts from store-probe ingest equal the direct
        incremental_minhash_dedup against the same signatures —
        lifecycle plumbing changes nothing semantically."""
        corpus = _docs(spark, [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "sphinx of black quartz judge my vow today"),
        ])
        batch = _docs(spark, [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "a completely novel document unlike any other"),
        ])
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        store.append(_sigs(spark, corpus))
        got = {r["id"]: (r["is_dup"], r["dup_of"]) for r in
               store.ingest(batch, bands=4, n=3, threshold=0.2).collect()}
        direct = incremental_minhash_dedup(
            batch, _sigs(spark, corpus), "text", "doc_id",
            num_hashes=NH, bands=4, n=3, threshold=0.2)
        want = {r["id"]: (r["is_dup"], r["dup_of"])
                for r in direct.verdicts.collect()}
        direct.cleanup()
        assert got == want
        # and the batch signatures were appended
        assert store.read().count() == 5

    def test_probe_unaffected_by_vacuum(self, spark, tmp_path):
        """Verdicts against a vacuumed store equal verdicts against the
        fragmented one — compaction is invisible to semantics."""
        corpus = _docs(spark, [(i, f"shared boilerplate prefix doc {i}")
                               for i in range(6)])
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        for row in corpus.collect():  # one append per doc: max fragmentation
            store.append(_sigs(spark, _docs(spark, [(row["doc_id"],
                                                     row["text"])])))
        batch = _docs(spark, [(100, "shared boilerplate prefix doc 3")])
        before = incremental_minhash_dedup(
            batch, store.signatures(), "text", "doc_id",
            num_hashes=NH, bands=4, n=3, threshold=0.2)
        want = [tuple(r) for r in before.verdicts.collect()]
        before.cleanup()
        store.vacuum()
        after = incremental_minhash_dedup(
            batch, store.signatures(), "text", "doc_id",
            num_hashes=NH, bands=4, n=3, threshold=0.2)
        got = [tuple(r) for r in after.verdicts.collect()]
        after.cleanup()
        assert got == want


class TestStreamingPersistedMode:
    def test_requires_exactly_one_state_source(self, spark, tmp_path):
        from datagrowth_spark.streaming.dedup import StreamingNearDupIndex

        with pytest.raises(ValueError):
            StreamingNearDupIndex()
        with pytest.raises(ValueError):
            StreamingNearDupIndex(
                store_sigs=_sigs(spark, _docs(spark, [(1, "x y z w v u")])),
                sig_store=SignatureStore(spark, str(tmp_path / "s")))

    def test_persisted_index_matches_inmemory(self, spark, tmp_path):
        """Batch-by-batch verdicts through the persisted store equal
        the in-memory index's — and the store holds every signature."""
        from datagrowth_spark.streaming.dedup import StreamingNearDupIndex

        seed = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
        batches = [
            _docs(spark, [(10, "alpha beta gamma delta epsilon zeta"),
                          (11, "one totally fresh document body here")]),
            _docs(spark, [(20, "one totally fresh document body here")]),
        ]
        seed_sigs = _sigs(spark, seed)
        mem = StreamingNearDupIndex(
            store_sigs=seed_sigs.localCheckpoint(eager=True),
            num_hashes=NH, bands=4, threshold=0.2, state_partitions=4)
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        store.append(seed_sigs)
        per = StreamingNearDupIndex(
            sig_store=store, num_hashes=NH, bands=4, threshold=0.2,
            state_partitions=4, vacuum_every=1)
        for b in batches:
            mem.process_batch(b, 0)
            per.process_batch(b, 0)
        key = lambda df: sorted(
            (r["id"], r["is_dup"], r["dup_of"]) for r in df.collect())
        assert key(per.verdicts) == key(mem.verdicts)
        assert store.read().count() == 4  # seed + 3 batch docs
        # vacuum_every=1 ran after each batch: folded layout only
        assert all(os.path.basename(e).startswith("compact-")
                   for e in store._entries())


BANDS = 4
THRESHOLD = 0.5
#: Spark jobs one SignatureStore.ingest of a small batch into a small
#: store fires (local[4], 4 shuffle partitions), measured with the
#: one-pass probe. Per-band re-scans of the signatures raise it to 20.
INGEST_JOB_BUDGET = 11


def _sig_frame(spark, rows):
    schema = ", ".join(["id long"] + [f"mh_{i} long" for i in range(NH)])
    return spark.createDataFrame([(i, *sig) for i, sig in rows], schema)


def _reference(batch, store):
    """Brute-force verdicts {id: (is_dup, dup_of, est_jaccard)}: a pair
    is a candidate when it agrees on every row of at least one band,
    verified when round(agree / k, 6) >= THRESHOLD; dup_of is the
    smallest verified id, with the estimate of that id's pair (the
    larger one when that id has a store and a batch signature)."""
    rows = NH // BANDS

    def candidate(a, b):
        return any(a[k * rows:(k + 1) * rows] == b[k * rows:(k + 1) * rows]
                   for k in range(BANDS))

    def est(a, b):
        return round(sum(x == y for x, y in zip(a, b)) / NH, 6)

    out = {}
    for i, a in batch:
        partners = store + [(j, b) for j, b in batch if j < i]
        verified = [(j, est(a, b)) for j, b in partners
                    if candidate(a, b) and est(a, b) >= THRESHOLD]
        if verified:
            j = min(j for j, _ in verified)
            out[i] = (True, j, max(e for o, e in verified if o == j))
        else:
            out[i] = (False, None, None)
    return out


def _random_tables(seed):
    """Random signatures over a 3-value alphabet (frequent band hits).
    Hot bucket: store ids 100..139 and batch ids 150..152 share band 0
    and draw the rest from another alphabet, so they only meet each
    other. New batch ids 0..29 are the smallest, so their batch-internal
    matches decide ``dup_of``; batch ids 200..256 (step 4) are also
    stored ids."""
    rng = random.Random(seed)
    sig = lambda: [rng.randrange(3) for _ in range(NH)]  # noqa: E731
    hot = lambda: [9, 9] + [rng.randrange(3, 6) for _ in range(NH - 2)]  # noqa: E731
    store = [(i, hot()) for i in range(100, 140)] + [(i, sig()) for i in range(200, 400, 2)]
    batch = ([(i, sig()) for i in range(30)] + [(i, hot()) for i in range(150, 153)]
             + [(i, sig()) for i in range(200, 260, 4)])
    return batch, store


class TestProbeReference:
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_random_tables_match_brute_force(self, spark, seed):
        batch, store = _random_tables(seed)
        want = _reference(batch, store)
        store_ids = {i for i, _ in store}
        dups = [v for v in want.values() if v[0]]
        # the cases the reference must exercise on every seed
        assert any(j not in store_ids for _, j, _ in dups)      # batch-internal
        assert any(100 <= j < 140 for _, j, _ in dups)          # hot bucket
        assert any(e == THRESHOLD for _, _, e in dups)          # exactly at threshold
        assert any(i in store_ids for i, _ in batch)            # id in both
        got = incremental_verdicts(_sig_frame(spark, batch), _sig_frame(spark, store),
                                   num_hashes=NH, bands=BANDS, threshold=THRESHOLD)
        assert {r["id"]: (r["is_dup"], r["dup_of"], r["est_jaccard"])
                for r in got.collect()} == want

    def test_batch_id_in_store_verifies_against_stored_signature(self, spark):
        """A batch document whose id is already stored is compared with
        the STORED signature of that id (5 of 8 agree → 0.625), not with
        its own batch signature (which would give 1.0). When the smallest
        match has both signatures, the larger estimate is reported: batch
        doc 9 copies batch doc 5 (1.0) and matches stored 5 at 0.625."""
        old = [1, 1, 2, 2, 3, 3, 4, 4]
        new = [1, 1, 2, 2, 3, 0, 0, 0]
        got = incremental_verdicts(
            _sig_frame(spark, [(5, new), (9, new)]), _sig_frame(spark, [(5, old)]),
            num_hashes=NH, bands=BANDS, threshold=THRESHOLD)
        assert sorted(tuple(r) for r in got.collect()) == [
            (5, True, 5, 0.625), (9, True, 5, 1.0)]

    def test_banded_keys_match_per_band_union(self, spark):
        """One exploded projection yields the same (id, band_key)
        multiset as one md5 projection per band, unioned."""
        rng = random.Random(7)
        sigs = _sig_frame(spark, [(i % 20, [rng.randrange(3) for _ in range(NH)])
                                  for i in range(30)])
        rows = NH // BANDS
        union = None
        for b in range(BANDS):
            cols = [F.col(f"mh_{i}").cast("string") for i in range(b * rows, (b + 1) * rows)]
            frame = sigs.select("id", F.md5(F.concat_ws(",", F.lit(str(b)), *cols))
                                .alias("band_key"))
            union = frame if union is None else union.unionByName(frame)
        got = _banded_keys(sigs, NH, BANDS).select("id", "band_key")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, union.collect()))


class TestProbeJobs:
    @staticmethod
    def _jobs_in_group(spark, group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    def test_probe_construction_fires_no_jobs(self, spark):
        docs = _docs(spark, [(1, "the quick brown fox jumps over")])
        store_sigs = _sigs(spark, docs).localCheckpoint(eager=True)
        result, jobs = self._jobs_in_group(
            spark, "probe-construction", lambda: incremental_minhash_dedup(
                _docs(spark, [(10, "the quick brown fox jumps over")]), store_sigs,
                num_hashes=NH, bands=BANDS, threshold=0.2))
        assert jobs == []
        assert [tuple(r) for r in result.verdicts.collect()] == [(10, True, 1, 1.0)]
        result.cleanup()

    def test_ingest_within_job_budget(self, spark, tmp_path):
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        store.append(_sigs(spark, _docs(spark, [
            (i, f"document {i % 5} body with shared words w{i % 3}") for i in range(20)])))
        batch = _docs(spark, [
            (100 + i, f"document {i % 5} body with shared words w{i % 2}") for i in range(6)])
        verdicts, jobs = self._jobs_in_group(
            spark, "ingest-budget",
            lambda: store.ingest(batch, bands=BANDS, n=3, threshold=0.2))
        assert len(jobs) <= INGEST_JOB_BUDGET, jobs
        assert verdicts.where("is_dup").count() == 6
