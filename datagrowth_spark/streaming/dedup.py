"""Streaming deduplication over a document stream: exact and near-dup.

:func:`exact_dedup_stream` is the streaming twin of
``operators/dedup.exact_dedup``: as document files land, each row is
keyed by a content hash and only first occurrences pass through. State
is one 16-byte hash per distinct key, hash-partitioned across
executors; on an unbounded ingest feed you bound it with
``dropDuplicatesWithinWatermark`` on the ingest timestamp — exposed via
the ``watermark``/``ts_col`` arguments. For backlog drains
(availableNow) the un-watermarked form is the right tool: state lives
for the drain only. Oracle-checked via the `streaming_dedup_exact`
query: the streamed dedup must reproduce the batch COUNT(DISTINCT text)
per language.

:class:`StreamingNearDupIndex` is the streaming twin of
``operators/dedup.incremental_minhash_dedup``: each micro-batch is
probed against a MinHash signature store (in memory, or a persisted
``operators/sigstore.SignatureStore``) whose signatures grow batch by
batch. Oracle-checked via the `streaming_dedup_incremental` query: the
streamed verdicts must equal the one-shot batch verdicts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over documents parquet (directory or file)."""
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        path = path + "*"  # file source wants a dir/glob
    return reader.parquet(path)


class StreamingNearDupIndex:
    """Streaming incremental near-dup detection against a persisted
    MinHash signature store — the streaming twin of
    ``operators/dedup.incremental_minhash_dedup``.

    Each micro-batch of new documents is checked against the CURRENT
    store (historical signatures plus every earlier micro-batch's
    appended signatures) and against smaller-id members of the same
    micro-batch; its signatures are then appended to the store. When
    micro-batches arrive in ascending id order this converges to
    exactly the one-shot batch verdicts (``dup_of`` = smallest matching
    id anywhere), which is what the ``streaming_dedup_incremental``
    oracle pins.

    Scale shape: the historical corpus is never re-shingled — only its
    (id, mh_*) signature table participates, scanned once per
    micro-batch by the one-pass probe. Store and verdict state are
    materialized per batch, so plan depth stays bounded across
    arbitrarily many micro-batches: in-memory mode checkpoints the
    batch verdicts and the grown store here (localCheckpoint); the
    persisted mode appends to the signature store, whose ``ingest``
    already returns materialized verdicts, and checkpoints only the
    accumulated verdicts. ``state_partitions`` bounds the PARTITION
    count too: without it each union-append stacks the batch's shuffle
    partitions onto the checkpointed state, growing tasks-per-scan
    linearly in batch count — size it to the expected store, like a
    stream's state-store partitioning, whenever the drain is long.

    Width rule: a micro-batch with fewer partitions than the session's
    ``defaultParallelism`` is hash-partitioned by ``id_col`` to that
    width before shingling, in both modes. A file-source micro-batch
    of one small file is a single input split, so its shingle + minhash
    stage would otherwise run as one task. When the width equals
    ``spark.sql.shuffle.partitions``, the per-id minhash aggregate
    reuses this partitioning instead of shuffling again. A batch that
    is already as wide is left alone.
    """

    def __init__(
        self,
        store_sigs: DataFrame | None = None,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 16,
        bands: int = 4,
        n: int = 3,
        threshold: float = 0.5,
        state_partitions: int | None = None,
        sig_store=None,
        vacuum_every: int | None = None,
    ) -> None:
        """Exactly one of ``store_sigs`` (in-memory state, drained-
        backlog mode) or ``sig_store`` (an
        ``operators.sigstore.SignatureStore`` — the persisted,
        TTL/compaction-managed mode a long-lived ingest daemon needs)
        must be given. With ``sig_store``, every processed batch's
        signatures are APPENDED to the store and ``vacuum_every``
        triggers store maintenance after that many batches — keeping
        probe cost flat as evicted rows pile up."""
        if (store_sigs is None) == (sig_store is None):
            raise ValueError("pass exactly one of store_sigs / sig_store")
        self.store = store_sigs
        self.sig_store = sig_store
        self.vacuum_every = vacuum_every
        if sig_store is not None:
            num_hashes = sig_store.num_hashes  # the store owns the layout
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.threshold = threshold
        self.state_partitions = state_partitions
        self.verdicts: DataFrame | None = None
        self.batches_processed = 0

    def _bounded(self, df: DataFrame) -> DataFrame:
        if self.state_partitions is not None:
            df = df.repartition(self.state_partitions)
        return df.localCheckpoint(eager=True)

    def _widened(self, batch_df: DataFrame) -> DataFrame:
        """``batch_df`` hash-partitioned by ``id_col`` to the session's
        ``defaultParallelism`` when it has fewer partitions, else
        unchanged. The partition count comes from the planned RDD,
        which costs no job for a frame without a shuffle, such as a
        file-source micro-batch (a bare scan). Under AQE a frame that
        does shuffle would run its shuffle stages to answer."""
        width = batch_df.sparkSession.sparkContext.defaultParallelism
        if batch_df.rdd.getNumPartitions() >= width:
            return batch_df
        return batch_df.repartition(width, self.id_col)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from datagrowth_spark.operators.dedup import incremental_minhash_dedup

        batch_df = self._widened(batch_df)
        if self.sig_store is not None:
            # Persisted mode: the store owns signature state (atomic
            # batch append + TTL/compaction); verdicts materialize via
            # the store's one-call ingest, so they are checkpointed
            # again only to repartition them.
            verdicts = self.sig_store.ingest(
                batch_df, self.text_col, self.id_col,
                bands=self.bands, n=self.n, threshold=self.threshold)
            if self.state_partitions is not None:
                verdicts = self._bounded(verdicts)
            if (self.vacuum_every
                    and (self.batches_processed + 1) % self.vacuum_every == 0):
                self.sig_store.vacuum()
        else:
            result = incremental_minhash_dedup(
                batch_df, self.store, self.text_col, self.id_col,
                num_hashes=self.num_hashes, bands=self.bands, n=self.n,
                threshold=self.threshold)
            # Materialize (localCheckpoint) BEFORE cleanup() drops the
            # operator's caches both frames still reference.
            verdicts = self._bounded(result.verdicts)
            self.store = self._bounded(
                self.store.unionByName(
                    result.new_sigs.select(self.store.columns)))
            result.cleanup()
        self.verdicts = (
            verdicts if self.verdicts is None
            else self._bounded(self.verdicts.unionByName(verdicts))
        )
        self.batches_processed += 1

    def start(self, stream_df: DataFrame, available_now: bool = True,
              timeout_s: int = 300, **trigger_kwargs):
        """Attach to a stream of new documents and (by default) drain
        the backlog micro-batch by micro-batch; raises
        :class:`~datagrowth_spark.streaming.base.DrainTimeout` on an
        incomplete drain rather than returning truncated verdicts."""
        from datagrowth_spark.streaming.base import start_foreach_batch

        return start_foreach_batch(stream_df, self.process_batch,
                                   available_now, timeout_s, **trigger_kwargs)


def exact_dedup_stream(
    docs: DataFrame,
    key_cols: list[str] | None = None,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """First-occurrence-wins streaming dedup on a content hash.

    ``key_cols`` scopes the dedup (e.g. ``["lang"]`` dedupes within each
    language — deterministic output partitioning, since cross-scope
    first-arrival races can't change which scope keeps the row). With
    ``ts_col`` + ``watermark`` set, uses dropDuplicatesWithinWatermark
    so state is evicted as event time advances (the unbounded-feed
    mode).
    """
    key_cols = key_cols or []
    hashed = docs.withColumn("content_hash", F.md5(F.encode(F.col(text_col), "utf-8")))
    keys = [*key_cols, "content_hash"]
    if ts_col is not None and watermark is not None:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return hashed.dropDuplicates(keys)
