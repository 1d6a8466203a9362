"""Persisted MinHash signature store with a lifecycle — the missing
maintenance layer for incremental/streaming near-dup detection
(``operators/dedup.incremental_minhash_dedup``,
``streaming/dedup.StreamingNearDupIndex``).

Without maintenance the store grows forever: every ingest batch
appends its signatures, so at 100 TB the probe side scans an
unbounded, ever-more-fragmented pile of tiny parquet files. The store
shares its entry lifecycle with ``ResourceCache`` (``sources/cache.py``):
both are directories of ``batch-*``/``compact-*`` entries published by
stage-then-rename and folded by the one compactor in
``core/entries.py``, which spells the protocol out. What is the
store's own:

* **append** — stamps every row ``ingested_at`` (injectable clock, the
  r8 purge-TTL lesson) and commits one ``batch-*`` entry.
* **TTL eviction** — ``read()`` filters rows older than the TTL
  cutoff, so eviction is visible immediately, not only after a fold.
* **compact / vacuum** — the shared fold, latest-wins by ``id`` on
  ``ingested_at``, sized by the footer rows of the folded entries with
  row groups entirely past the cutoff not counted
  (``target_records_per_file``). ``vacuum()`` also sweeps crashed
  staging dirs.

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
(``/root/reference/datagrowth/resources/base.py:47-53``).
"""

from __future__ import annotations

import functools
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagrowth_spark.core import entries


def _signature_schema(num_hashes: int) -> T.StructType:
    fields = [T.StructField("id", T.LongType())]
    fields += [T.StructField(f"mh_{i}", T.LongType())
               for i in range(num_hashes)]
    fields.append(T.StructField("ingested_at", T.DoubleType()))
    return T.StructType(fields)


#: ``(dirs, cutoff)``: footer rows with row groups wholly ingested
#: before the TTL cutoff not counted (exact for ``batch-*`` entries,
#: one ``ingested_at`` per append; an upper bound for ``compact-*``).
_footer_rows = functools.partial(entries.footer_rows, column="ingested_at")


class SignatureStore:
    """On-disk MinHash signature store: ``batch-*``/``compact-*``
    parquet entries under ``path`` (``core/entries.py``), appended
    atomically, TTL-evicted on read, folded by :meth:`compact`/:meth:`vacuum`.

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

    def _entries(self) -> list[str]:
        return entries.list_entries(self.path)

    def is_empty(self) -> bool:
        return not self._entries()

    # -- read / append -----------------------------------------------

    def _cutoff(self) -> float | None:
        return (None if self.ttl_seconds is None
                else float(self.now_fn()) - self.ttl_seconds)

    def _live(self, snapshot: list[str]) -> DataFrame:
        df = entries.read(self.spark, snapshot, _signature_schema(self.num_hashes))
        cutoff = self._cutoff()
        return df if cutoff is None else df.where(F.col("ingested_at") >= F.lit(cutoff))

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
        return self._live(self._entries())

    def signatures(self) -> DataFrame:
        """Live signatures WITHOUT the ``ingested_at`` column — the
        exact frame ``incremental_minhash_dedup`` takes as its
        ``signature_store`` argument."""
        return self.read().drop("ingested_at")

    def append(self, sigs: DataFrame) -> None:
        """Stamp ``ingested_at`` and commit one ``batch-*`` entry."""
        entries.append(self.path, sigs.selectExpr(
            "CAST(id AS BIGINT) AS id",
            *[f"CAST(mh_{i} AS BIGINT) AS mh_{i}" for i in range(self.num_hashes)],
            f"CAST({float(self.now_fn())!r} AS DOUBLE) AS ingested_at"))

    # -- maintenance -------------------------------------------------

    def compact(self) -> int:
        """Fold every committed entry into one ``compact-*`` entry of
        live rows, latest ``ingested_at`` per id (``entries.fold``);
        returns the number of entries removed. The rewrite is the one
        place the store pays a by-id shuffle, amortized over the
        maintenance cadence instead of every probe; it runs once, and
        nothing counts its rows first."""
        snapshot = self._entries()
        if not snapshot:
            return 0
        live = entries.latest_wins(self._live(snapshot), "id", "ingested_at")
        return entries.fold(self.path, snapshot, live,
                            _footer_rows(snapshot, self._cutoff()),
                            self.target_records_per_file)

    def vacuum(self) -> int:
        """Compact + sweep crashed-append/compact staging dirs.
        Single-writer maintenance (a hidden staging dir could be a
        concurrent appender's in-flight stage — do not race them);
        returns the number of folded entries."""
        return entries.vacuum(self.path, self.compact)

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
