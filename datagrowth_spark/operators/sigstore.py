"""Persisted MinHash signature store with a lifecycle — the missing
maintenance layer for incremental/streaming near-dup detection
(``operators/dedup.incremental_minhash_dedup``,
``streaming/dedup.StreamingNearDupIndex``).

Without maintenance the store grows forever: every ingest batch
appends its signatures, so at 100 TB the probe side scans an
unbounded, ever-more-fragmented pile of tiny parquet files. This
module gives the store the same lifecycle ``ResourceCache``
(``sources/cache.py``) gives the fetch cache:

* **append** — one atomic ``batch-<uuid>`` dir per ingest batch,
  published by stage-then-rename (crash mid-append leaves only a
  hidden ``.staging-*`` dir that readers never see); safe under
  concurrent appenders.
* **TTL eviction** — every appended row is stamped ``ingested_at``
  (injectable clock, the r8 purge-TTL lesson); ``read()`` filters
  expired rows out, so eviction is visible immediately, not only
  after a rewrite.
* **compact / vacuum** — fold all committed entries into one
  ``compact-<uuid>`` dir with expired rows dropped and file count
  bounded (``target_records_per_file``), published by the same
  stage-then-rename protocol, and only then delete the folded
  entries. Crash anywhere mid-compact never loses data — worst case
  both old entries and the new compact dir coexist, which ``read()``
  tolerates by deduping on id (latest ``ingested_at`` wins) and the
  next compact removes. ``vacuum()`` additionally sweeps crashed
  staging dirs (single-writer maintenance, like
  ``ResourceCache.vacuum``).

Probe cost stays FLAT as the store is vacuumed: the probe reads only
live signature rows (k longs per doc) from a bounded file count, and
the batch-vs-store join shape of ``incremental_minhash_dedup`` never
shuffles the store — so a store kept at N live rows by TTL costs the
same per ingest whether it has seen 10·N or 1000·N lifetime rows.
(Measured with ISOLATED 3-repeat pairs at BOTH decades —
``scripts/isolate_repeat.py <M> 3 sigstore_probe_pair``, store built
once, warmup discarded. 10M (r11): pre-vacuum median 6.15 s,
post-vacuum 6.36 s — flat within noise, as expected when the dead
weight is only ~10 small fragments. 100M (r10): pre-vacuum median
57.6 s, post-vacuum 19.6 s — vacuum pays ~3x once the expired
fraction dominates the scan; the r9 in-smoke inversion (34.4 vs
28.9 s) was transient file churn, visible as the post-vacuum first
repeat's 68 s outlier.)

Reference behavior anchor: TTL semantics mirror ``purge_at``
(``/root/reference/datagrowth/resources/base.py:47-53``); the
stage-then-rename publish mirrors the engine's ``ResourceCache``.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _signature_schema(num_hashes: int) -> T.StructType:
    fields = [T.StructField("id", T.LongType())]
    fields += [T.StructField(f"mh_{i}", T.LongType())
               for i in range(num_hashes)]
    fields.append(T.StructField("ingested_at", T.DoubleType()))
    return T.StructType(fields)


def _footer_rows(dirs: list[str], cutoff: float | None) -> int:
    """Rows in the parquet files of ``dirs``, read from their footers
    on the driver (no Spark job). With a TTL ``cutoff``, a row group
    whose ``ingested_at`` maximum is below it holds only expired rows
    and is not counted. An append stamps one ``ingested_at`` per batch,
    so this is exact for ``batch-*`` entries and an upper bound on the
    live rows of a ``compact-*`` one (and for duplicate ids)."""
    import pyarrow.parquet as pq

    rows = 0
    for d in dirs:
        for name in os.listdir(d):
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            meta = pq.read_metadata(os.path.join(d, name))
            col = meta.schema.names.index("ingested_at")
            for g in range(meta.num_row_groups):
                group = meta.row_group(g)
                stats = group.column(col).statistics
                if (cutoff is not None and stats is not None and stats.has_min_max
                        and stats.max < cutoff):
                    continue
                rows += group.num_rows
    return rows


class SignatureStore:
    """On-disk MinHash signature store: ``batch-*``/``compact-*``
    parquet dirs under ``path``, appended atomically, TTL-evicted on
    read, folded by :meth:`compact`/:meth:`vacuum`.

    ``ttl_seconds=None`` keeps signatures forever (pure compaction
    store); ``now_fn`` injects the clock for deterministic tests.
    """

    def __init__(self, spark: SparkSession, path: str,
                 num_hashes: int = 16,
                 ttl_seconds: float | None = None,
                 now_fn: Callable[[], float] | None = None,
                 target_records_per_file: int = 2_000_000) -> None:
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.ttl_seconds = ttl_seconds
        self.now_fn = now_fn or time.time
        self.target_records_per_file = target_records_per_file

    # -- layout ------------------------------------------------------

    def _entries(self) -> list[str]:
        """Committed entry dirs (a crashed append's hidden staging dir
        doesn't count until its atomic publish)."""
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return sorted(
            os.path.join(self.path, n) for n in names
            if (n.startswith("batch-") or n.startswith("compact-"))
            and os.path.isdir(os.path.join(self.path, n)))

    def is_empty(self) -> bool:
        return not self._entries()

    # -- read / append -----------------------------------------------

    def read(self) -> DataFrame:
        """All LIVE signatures (expired rows filtered by the TTL
        cutoff — a pushdown-able scan predicate, NO shuffle). Schema:
        (id, mh_0..mh_{k-1}, ingested_at).

        Duplicate ids can exist only in the crash window of a compact
        that published but died before deleting the entries it folded.
        They are deliberately NOT deduplicated here: a per-read
        latest-wins window would shuffle the whole store on every
        probe, while duplicate signature rows are semantically
        harmless to the probe (a duplicated row only repeats its
        verified matches, and the per-id best-match aggregate is
        idempotent in repeats) and the next :meth:`compact` heals
        them."""
        entries = self._entries()
        schema = _signature_schema(self.num_hashes)
        if not entries:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(*entries)
        if self.ttl_seconds is not None:
            cutoff = float(self.now_fn()) - self.ttl_seconds
            df = df.where(F.col("ingested_at") >= F.lit(cutoff))
        return df

    def signatures(self) -> DataFrame:
        """Live signatures WITHOUT the ``ingested_at`` column — the
        exact frame ``incremental_minhash_dedup`` takes as its
        ``signature_store`` argument."""
        return self.read().drop("ingested_at")

    def append(self, sigs: DataFrame) -> None:
        """Stamp ``ingested_at`` and commit one batch atomically
        (stage hidden, rename to publish)."""
        os.makedirs(self.path, exist_ok=True)
        token = uuid.uuid4().hex
        staging = os.path.join(self.path, f".staging-{token}")
        stamped = sigs.selectExpr(
            "CAST(id AS BIGINT) AS id",
            *[f"CAST(mh_{i} AS BIGINT) AS mh_{i}" for i in range(self.num_hashes)],
            f"CAST({float(self.now_fn())!r} AS DOUBLE) AS ingested_at")
        stamped.write.mode("overwrite").parquet(staging)
        os.replace(staging, os.path.join(self.path, f"batch-{token}"))

    # -- maintenance -------------------------------------------------

    def compact(self) -> int:
        """Fold every committed entry into one bounded-file-count
        ``compact-<uuid>`` dir with expired rows dropped, publish
        atomically, THEN delete the folded entries. Returns the number
        of entries removed. Crash-safe at every point: before the
        rename nothing changed; after it, duplicate coverage (harmless
        to probes, see :meth:`read`) persists only until the leftover
        old entries are deleted (here or by the next compact). The
        rewrite resolves duplicates latest-wins — the one place the
        store pays a by-id shuffle, amortized over the maintenance
        cadence instead of every probe.

        The latest-wins window runs once, in the write: nothing counts
        its rows. The output file count comes from the parquet footers
        of the folded entries (:func:`_footer_rows`, an upper bound on
        the live rows), and "everything expired" from the footers of
        the staged write, which then holds no row. Both are driver-side
        footer reads, no Spark job."""
        import math

        from pyspark.sql.window import Window

        entries = self._entries()  # snapshot BEFORE reading
        if not entries:
            return 0
        cutoff = (None if self.ttl_seconds is None
                  else float(self.now_fn()) - self.ttl_seconds)
        bound = _footer_rows(entries, cutoff)
        token = uuid.uuid4().hex
        staging = os.path.join(self.path, f".staging-compact-{token}")
        written = 0
        if bound:
            w = Window.partitionBy("id").orderBy(F.desc("ingested_at"))
            live = (self.read().withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1).drop("__rn"))
            live.repartition(math.ceil(bound / self.target_records_per_file)) \
                .write.mode("overwrite") \
                .option("maxRecordsPerFile", self.target_records_per_file) \
                .parquet(staging)
            written = _footer_rows([staging], None)
        if written:
            os.replace(staging, os.path.join(self.path, f"compact-{token}"))
        else:
            # everything expired: nothing to publish
            shutil.rmtree(staging, ignore_errors=True)
        for entry in entries:
            shutil.rmtree(entry, ignore_errors=True)
        return len(entries)

    def vacuum(self) -> int:
        """Compact + sweep crashed-append/compact staging dirs.
        Single-writer maintenance (a hidden staging dir could be a
        concurrent appender's in-flight stage — do not race them);
        returns the number of folded entries."""
        if not os.path.exists(self.path):
            return 0
        removed = self.compact()
        for name in os.listdir(self.path):
            if name.startswith(".staging-"):
                shutil.rmtree(os.path.join(self.path, name),
                              ignore_errors=True)
        return removed

    # -- ingest convenience ------------------------------------------

    def ingest(self, new_docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", bands: int = 4, n: int = 3,
               threshold: float = 0.5, **dedup_kwargs):
        """Probe ``new_docs`` against the live store and append the
        batch's signatures: the one-call per-batch ingest step.
        Returns the batch verdicts DataFrame, MATERIALIZED (the append
        already paid for computing the signatures; materializing
        verdicts lets this method own the operator's cache cleanup)."""
        from datagrowth_spark.operators.dedup import incremental_minhash_dedup

        result = incremental_minhash_dedup(
            new_docs, self.signatures(), text_col, id_col,
            num_hashes=self.num_hashes, bands=bands, n=n,
            threshold=threshold, **dedup_kwargs)
        verdicts = result.verdicts.localCheckpoint(eager=True)
        self.append(result.new_sigs.select(
            "id", *[f"mh_{i}" for i in range(self.num_hashes)]))
        result.cleanup()
        return verdicts
