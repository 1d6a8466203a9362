"""File-download sink: content-addressed, hash-sharded blob store (R6).

The Spark form of ``HttpFileResource`` (reference
``datagrowth/resources/http/files.py:18-120``): response bodies stream
to ``MEDIA_ROOT/.../x/yz/`` hash-sharded directories and the row keeps
the relative path. Here the store is content-addressed outright (sha256
of the bytes — the hashing convention of the reference's binary
signatures, ``datagrowth/signatures.py:69-82``), which makes writes
idempotent: a re-fetch of identical content lands on the same path and
is skipped, so replayed jobs never duplicate blobs.

Scale design: the writer is a ``mapInPandas`` stage — each executor
writes its own partition's blobs directly to the (shared/object) store,
no driver involvement, no shuffle; two-level hex sharding (16 × 256
directories) keeps any single directory listing small at billions of
objects. Collisionless naming means concurrent writers are safe without
coordination (same content → same bytes at the same path).
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def shard_path(root: str, content_hash: str, ext: str = "") -> str:
    """``<root>/<h[0]>/<h[1:3]>/<hash><ext>`` — the reference's sharding
    shape (files.py default_image_upload_to), content-addressed."""
    return os.path.join(root, content_hash[0], content_hash[1:3], content_hash + ext)


def download_files(
    df: DataFrame,
    root: str,
    content_col: str = "body",
    id_col: str = "signature",
    ext: str = "",
) -> DataFrame:
    """Write each row's content into the blob store; return the manifest.

    Input: any DataFrame with an id column and a string/binary content
    column. Output: (id, path, content_hash, size_bytes, written) — one
    row per input row; ``written`` is False when the blob already
    existed (idempotent replay / cross-row dedup).
    """
    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("path", T.StringType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("written", T.BooleanType()),
    ])

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import hashlib

        import pandas as pd

        for batch in batches:
            rows = []
            for rec in batch.to_dict("records"):
                content = rec[content_col]
                if content is None:
                    rows.append({id_col: rec[id_col], "path": None, "content_hash": None,
                                 "size_bytes": None, "written": False})
                    continue
                blob = content.encode() if isinstance(content, str) else bytes(content)
                digest = hashlib.sha256(blob).hexdigest()
                path = shard_path(root, digest, ext)
                written = not os.path.exists(path)
                if written:
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    tmp = f"{path}.tmp.{os.getpid()}"
                    with open(tmp, "wb") as handle:
                        handle.write(blob)
                    os.replace(tmp, path)  # atomic publish
                rows.append({id_col: rec[id_col], "path": path, "content_hash": digest,
                             "size_bytes": len(blob), "written": written})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def read_jsonl_collection(spark, path: str, name: str = "collection",
                          identifier: str | None = None, referee: str | None = None,
                          columns: list[str] | None = None,
                          quarantine: bool = False):
    """Ingest a JSONL corpus file/directory as a document Collection.

    Training corpora ship as JSON-lines; Spark's native json reader
    (schema inference, predicate/column pushdown on the inferred
    schema) parses it, and every top-level field lifts into the encoded
    ``properties`` map JVM-side via ``properties_from_columns`` — no
    Python per-row work. ``columns`` restricts which fields survive
    (column pruning reaches the reader). Arbitrary nesting is preserved
    because map values are JSON-encoded.

    ``quarantine=True`` returns ``(collection, bad_lines_df)`` instead:
    PERMISSIVE-mode corrupt lines (truncated writes, mid-file
    corruption — routine at crawl scale) are split into a one-column
    frame of raw offending lines for inspection/replay rather than
    silently becoming all-null documents.
    """
    from datagrowth_spark.datatypes.collection import Collection
    from datagrowth_spark.datatypes.document import properties_from_columns

    CORRUPT = "_corrupt_record"
    reader = spark.read
    if quarantine:
        reader = reader.option("mode", "PERMISSIVE") \
                       .option("columnNameOfCorruptRecord", CORRUPT)
    df = reader.json(path)
    bad = None
    if quarantine and CORRUPT in df.columns:
        # Spark requires caching/materializing before referencing only
        # the corrupt column (SPARK-21610 contract).
        df = df.cache()
        bad = df.where(F.col(CORRUPT).isNotNull()).select(F.col(CORRUPT).alias("raw_line"))
        df = df.where(F.col(CORRUPT).isNull()).drop(CORRUPT)
    elif quarantine:
        bad = spark.createDataFrame([], "raw_line string")
    cols = columns or [c for c in df.columns if c != CORRUPT]
    lifted = df.select(properties_from_columns(*cols).alias("properties"))
    coll = Collection(spark, name=name, identifier=identifier, referee=referee)
    coll.add(lifted)
    if quarantine:
        return coll, bad
    return coll


def write_corpus(df: DataFrame, path: str, partition_by: list[str] | None = None,
                 target_records_per_file: int | None = None,
                 mode: str = "overwrite") -> None:
    """Write a corpus with a deliberate file layout (the 100 TB
    small-files defense).

    With ``partition_by`` the frame is first repartitioned on those
    columns, so each hive partition directory is written by one task —
    one file per partition value instead of one file per (task ×
    partition) combination (the accidental layout that produces
    task-count × cardinality tiny files). ``target_records_per_file``
    re-splits oversized partitions via ``maxRecordsPerFile`` so no
    single file becomes unsplittable-scan-sized either.
    """
    out = df
    writer_df = out.repartition(*partition_by) if partition_by else out
    writer = writer_df.write.mode(mode)
    if target_records_per_file:
        writer = writer.option("maxRecordsPerFile", target_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(df: DataFrame, table: str, bucket_cols: list[str],
                         num_buckets: int = 32, sort_cols: list[str] | None = None,
                         mode: str = "overwrite") -> None:
    """Persist a table bucketed (and optionally sorted) on its join key —
    the co-located-join layout.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle: each task reads matching bucket files from both
    sides (SortMergeJoin with zero Exchange — see
    tests/test_bucketing.py for the plan assertion). At 100 TB this is
    the difference between re-shuffling the fact table on every join
    and paying the shuffle ONCE at write time; ``sort_cols`` additionally
    pre-sorts bucket files so the merge join skips its sort too.

    Spark bucketing requires the table catalog (``saveAsTable``) — the
    bucket spec lives in the metastore, not the parquet footer.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_range_sorted(df: DataFrame, path: str, sort_cols: list[str],
                       num_ranges: int | None = None, mode: str = "overwrite") -> None:
    """Globally-sorted parquet output WITHOUT a single-partition sort.

    ``repartitionByRange`` samples range boundaries (one pass), then each
    task sorts only its slice — files are internally sorted AND file N's
    keys all precede file N+1's, so downstream consumers get a global
    order while the cluster never funnels through one task. This is the
    export layout for binary-searchable corpora (token-offset lookup
    tables, id-sorted shards).
    """
    if num_ranges:
        ranged = df.repartitionByRange(num_ranges, *sort_cols)
    else:
        ranged = df.repartitionByRange(*sort_cols)
    ranged.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def add_zorder_key(
    df: DataFrame,
    cols: list[str],
    tiebreaks: tuple[str, ...] = (),
    bits: int = 4,
    out: str = "zkey",
    num_shards: int | None = None,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Z-order (Morton) key over ``cols``: each column is rank-
    normalized to an exact ``NTILE(2^bits)`` index — quantile tiles,
    so skewed/arbitrary-typed dimensions spread uniformly — and the
    tile indices are bit-interleaved, most-significant bits first with
    ``cols[0]`` outermost within each bit group.

    Rows near each other in z-value are near each other in EVERY
    dimension, so files written in z-order carry tight parquet min/max
    stats on all of ``cols`` at once: a range predicate on any single
    dimension prunes ~(1 - 1/2^bits) of the files, where a plain sort
    only serves its leading column. This is the multi-dimension
    counterpart of :func:`write_range_sorted`.

    Scale shape: construction is the batched sharded-rank machinery —
    one combined quantile-sketch job, at most one combined tie
    refinement, one combined offsets-count job — regardless of how
    many dimensions interleave; the data pass itself is one projection
    per dimension plus integer arithmetic, no global window anywhere.
    Tiles are exact NTILE semantics, so the key is bit-reproducible in
    any engine (the ``docs_zorder_layout`` oracle pins this).
    """
    from datagrowth_spark.operators.ranking import (
        _default_num_shards, add_ntile, multi_offset_counts,
        multi_rank_plans, raw_cut_expr)

    assert cols, "need at least one z-order column"
    n_tiles = 1 << bits
    shards = num_shards or _default_num_shards(df.sparkSession)
    base = stats_df if stats_df is not None else df
    types = dict(base.dtypes)
    sketch = base.select(*[
        raw_cut_expr(c, types[c], False, shards).alias(f"c_{i}")
        for i, c in enumerate(cols)
    ]).collect()[0]
    plans = multi_rank_plans(df, {
        c: {"key": c, "tiebreaks": tiebreaks, "num_shards": shards,
            "raw_cuts": list(sketch[f"c_{i}"] or [])}
        for i, c in enumerate(cols)
    }, stats_df=base)
    counts = multi_offset_counts(base, plans)

    cur, k = df, len(cols)
    tile_cols = []
    for c in cols:
        tcol = f"__ztile_{c}"
        cur = add_ntile(cur, n_tiles, c, tiebreaks, out=tcol,
                        num_shards=shards, plan=plans[c],
                        offset_counts=counts[c])
        tile_cols.append(tcol)
    # Interleave: bit j of dimension i lands at position j*k + (k-1-i).
    # div/mod arithmetic (not shifts) keeps the expression portable and
    # integer-exact in any engine.
    terms = []
    for i, tcol in enumerate(tile_cols):
        for j in range(bits):
            weight = 1 << (j * k + (k - 1 - i))
            terms.append(f"((({tcol} - 1) div {1 << j}) % 2) * {weight}")
    z = F.expr(" + ".join(terms)).cast("long")
    return cur.withColumn(out, z).drop(*tile_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    tiebreaks: tuple[str, ...] = (),
    bits: int = 4,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensionally clustered parquet export: z-order the rows
    (:func:`add_zorder_key`), range-partition on the z-value so file N's
    keys all precede file N+1's, and sort within each file — every file
    then covers a small hyper-rectangle of the ``cols`` space and
    min/max row-group stats prune scans filtered on ANY dimension."""
    zdf = add_zorder_key(df, cols, tiebreaks, bits=bits)
    ranged = (zdf.repartitionByRange(num_files, "zkey") if num_files
              else zdf.repartitionByRange("zkey"))
    ranged.sortWithinPartitions("zkey").drop("zkey") \
        .write.mode(mode).parquet(path)
