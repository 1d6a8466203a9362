"""SignatureStore lifecycle (operators/sigstore.py): atomic appends,
TTL eviction with an injectable clock, crash-safe compaction, probe
equivalence, the persisted streaming-index mode and its micro-batch
width rule, brute-force references for the MinHash signature and the
store probe, and the probe's Spark job and driver round-trip budgets."""

import hashlib
import os
import random
import re

import pytest
from pyspark.sql import functions as F

from datagrowth_spark.operators.dedup import (
    MINHASH_P, _banded_keys, incremental_minhash_dedup, incremental_verdicts,
    minhash_params, minhash_signature)
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

    def test_compact_partly_expired_compact_entry(self, spark, tmp_path):
        """A compact entry mixes ingest times, so its footer statistics
        only bound the live rows: the rewrite keeps exactly the live
        ones, and an entry whose footers show every row expired is
        dropped without a write."""
        clock = FakeClock(1000.0)
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH,
                               ttl_seconds=150.0, now_fn=clock)
        store.append(_sigs(spark, _docs(spark, [(1, "first row of the mixed entry")])))
        clock.t = 1100.0
        store.append(_sigs(spark, _docs(spark, [(2, "second row of the mixed entry")])))
        assert store.compact() == 2       # one compact entry, t=1000 and t=1100
        clock.t = 1200.0                  # row 1 expired, row 2 live
        store.append(_sigs(spark, _docs(spark, [(3, "a fresh row in its own batch")])))
        assert store.compact() == 2
        assert len(store._entries()) == 1
        raw = spark.read.parquet(*store._entries())
        assert sorted(r["id"] for r in raw.collect()) == [2, 3]
        clock.t = 5000.0                  # footers: every row group expired
        assert store.compact() == 1
        assert store.is_empty()
        assert not [n for n in os.listdir(tmp_path / "s") if n.startswith(".staging-")]

    def test_compact_detects_all_expired_from_staged_write(self, spark, tmp_path,
                                                           monkeypatch):
        """Footers whose statistics cannot rule the expired rows out
        (here: statistics ignored) only bound the live rows; the staged
        write then holds no row, so nothing is published and the
        entries go."""
        from datagrowth_spark.operators import sigstore

        footer_rows = sigstore._footer_rows
        monkeypatch.setattr(sigstore, "_footer_rows",
                            lambda dirs, cutoff: footer_rows(dirs, None))
        clock = FakeClock(1000.0)
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH,
                               ttl_seconds=10.0, now_fn=clock)
        store.append(_sigs(spark, _docs(spark, [(1, "this doomed row text will vanish")])))
        clock.t = 2000.0
        assert store.compact() == 1
        assert store.is_empty()
        assert not os.listdir(tmp_path / "s")

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


WIDTH_ROWS = [(10 + i, f"document {i % 4} shares its words with w{i % 3}") for i in range(12)]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


class TestMicroBatchWidth:
    """StreamingNearDupIndex hash-partitions a micro-batch narrower than
    ``defaultParallelism`` by id before shingling, in both modes."""

    @staticmethod
    def _drain(spark, tmp_path, monkeypatch, persisted, spy_batch):
        """Stream one single-file micro-batch through an index over a
        one-document store; ``spy_batch`` sees the frame the probe gets."""
        import datagrowth_spark.operators.dedup as dedup_ops
        from datagrowth_spark.streaming.dedup import StreamingNearDupIndex

        src = str(tmp_path / "src")
        _docs(spark, WIDTH_ROWS).coalesce(1).write.parquet(src)
        seed = _sigs(spark, _docs(spark, [(1, WIDTH_ROWS[0][1])])).localCheckpoint(eager=True)
        if persisted:
            store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
            store.append(seed)
            index = StreamingNearDupIndex(sig_store=store, bands=4, threshold=0.2)
            owner, name = store, "ingest"
        else:
            index = StreamingNearDupIndex(store_sigs=seed, num_hashes=NH, bands=4,
                                          threshold=0.2)
            owner, name = dedup_ops, "incremental_minhash_dedup"
        probe = getattr(owner, name)

        def spied(batch_df, *args, **kwargs):
            spy_batch(batch_df)
            return probe(batch_df, *args, **kwargs)

        monkeypatch.setattr(owner, name, spied)
        index.start(spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1).parquet(src)).stop()
        assert index.batches_processed == 1
        return sorted(tuple(r) for r in index.verdicts.collect())

    @pytest.mark.parametrize("persisted", [True, False])
    def test_one_file_batch_widened_to_parallelism(self, spark, tmp_path, monkeypatch,
                                                   persisted):
        width = spark.sparkContext.defaultParallelism
        seen = []

        def spy(batch_df):
            seen.append((batch_df.rdd.getNumPartitions(),
                         batch_df._jdf.queryExecution().executedPlan().toString()))

        got = self._drain(spark, tmp_path, monkeypatch, persisted, spy)
        [(parts, plan)] = seen
        assert width > 1 and parts == width
        assert "hashpartitioning(doc_id" in plan, plan
        assert [r[:3] for r in got if r[0] == 10] == [(10, True, 1)]

    @pytest.mark.parametrize("persisted", [True, False])
    def test_verdicts_equal_unwidened_run(self, spark, tmp_path, persisted, monkeypatch):
        from datagrowth_spark.streaming.dedup import StreamingNearDupIndex

        widened = self._drain(spark, tmp_path / "w", monkeypatch, persisted, lambda df: None)
        monkeypatch.setattr(StreamingNearDupIndex, "_widened", lambda self, df: df)
        seen = []
        plain = self._drain(spark, tmp_path / "p", monkeypatch, persisted,
                            lambda df: seen.append(df.rdd.getNumPartitions()))
        assert seen == [1]
        assert widened == plain

    def test_width_check_fires_no_job_and_keeps_wide_batches(self, spark, tmp_path):
        from datagrowth_spark.streaming.dedup import StreamingNearDupIndex

        width = spark.sparkContext.defaultParallelism
        src = str(tmp_path / "one-file")
        _docs(spark, WIDTH_ROWS).coalesce(1).write.parquet(src)
        index = StreamingNearDupIndex(store_sigs=_sigs(spark, _docs(spark, [(1, "a b c")])),
                                      num_hashes=NH)
        narrow = spark.read.parquet(src)
        widened, jobs = _jobs_in_group(spark, "width-check", lambda: index._widened(narrow))
        assert jobs == []
        assert widened.rdd.getNumPartitions() == width
        wide = _docs(spark, WIDTH_ROWS).repartition(width)
        assert index._widened(wide) is wide


BANDS = 4
THRESHOLD = 0.5
#: Spark jobs one SignatureStore.ingest of a small batch into a small
#: store fires (local[4], 4 shuffle partitions), measured with the
#: one-pass probe. Per-band re-scans of the signatures raise it to 20.
INGEST_JOB_BUDGET = 11
#: Spark jobs one SignatureStore.vacuum of a few small entries fires:
#: the latest-wins rewrite runs once. Counting its rows first made 6.
VACUUM_JOB_BUDGET = 3
#: Driver round trips (py4j commands other than the garbage-collection
#: deletes, whose timing varies) that building incremental_minhash_dedup
#: costs, measured with the probe plans built from SQL expression
#: strings. One Column node per operator made it 3,365.
PROBE_PY4J_BUDGET = 499


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
    def test_probe_construction_fires_no_jobs(self, spark):
        docs = _docs(spark, [(1, "the quick brown fox jumps over")])
        store_sigs = _sigs(spark, docs).localCheckpoint(eager=True)
        result, jobs = _jobs_in_group(
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
        verdicts, jobs = _jobs_in_group(
            spark, "ingest-budget",
            lambda: store.ingest(batch, bands=BANDS, n=3, threshold=0.2))
        assert len(jobs) <= INGEST_JOB_BUDGET, jobs
        assert verdicts.where("is_dup").count() == 6

    def test_vacuum_within_job_budget(self, spark, tmp_path):
        store = SignatureStore(spark, str(tmp_path / "s"), num_hashes=NH)
        for b in range(3):
            store.append(_sigs(spark, _docs(spark, [
                (b * 10 + i, f"entry {b} document {i} body text") for i in range(5)])))
        removed, jobs = _jobs_in_group(spark, "vacuum-budget", store.vacuum)
        assert removed == 3
        assert len(jobs) <= VACUUM_JOB_BUDGET, jobs
        assert store.read().count() == 15

    def test_probe_construction_py4j_budget(self, spark):
        from py4j import protocol
        from py4j.clientserver import ClientServerConnection

        docs = _docs(spark, [(i, f"the quick brown fox {i} jumps over") for i in range(6)])
        store_sigs = _sigs(spark, docs).localCheckpoint(eager=True)
        calls = []
        send = ClientServerConnection.send_command

        def counting(conn, command):
            if not command.startswith(protocol.MEMORY_COMMAND_NAME
                                      + protocol.MEMORY_DEL_SUBCOMMAND_NAME):
                calls.append(command)
            return send(conn, command)

        ClientServerConnection.send_command = counting
        try:
            result = incremental_minhash_dedup(docs, store_sigs, num_hashes=NH,
                                               bands=BANDS, threshold=0.2)
        finally:
            ClientServerConnection.send_command = send
        assert 0 < len(calls) <= PROBE_PY4J_BUDGET, len(calls)
        assert result.verdicts.where("is_dup").count() == 6
        result.cleanup()


def _py_minhash(text, num_hashes, n):
    """Pure-Python MinHash: min over the distinct lowercased word
    n-shingles s of (a_i * h(s) + b_i) mod P, where h(s) is the first 8
    hex digits of md5(s). Tokens split on the whitespace class of
    Java's regex ``\\s``. None when the text has fewer than n tokens."""
    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text.lower()) if t]
    shingles = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    if not shingles:
        return None
    hs = [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) for s in shingles]
    return [min((a * h + b) % MINHASH_P for h in hs)
            for a, b in map(minhash_params, range(num_hashes))]


class TestMinhashReference:
    def test_signatures_match_pure_python(self, spark):
        rng = random.Random(11)
        words = ["Alpha", "beta", "GAMMA", "delta", "eps", "zeta", "Eta", "theta"]
        seps = [" ", "  ", "\t", "\n", " \r\n "]
        rows = []
        for i in range(40):
            toks = [rng.choice(words) for _ in range(rng.randint(3, 25))]
            rows.append((i, "".join(t + rng.choice(seps) for t in toks)))
        rows += [(100, "only two"), (101, "")]   # fewer than n tokens: no row
        want = {i: _py_minhash(t, 16, 3) for i, t in rows}
        got = minhash_signature(_docs(spark, rows), "text", "doc_id", num_hashes=16, n=3)
        assert {r["id"]: [r[f"mh_{k}"] for k in range(16)] for r in got.collect()} == {
            i: sig for i, sig in want.items() if sig is not None}
        assert want[100] is None and want[101] is None
