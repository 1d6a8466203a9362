"""The on-disk entry lifecycle shared by ``ResourceCache``
(``sources/cache.py``) and ``SignatureStore`` (``operators/sigstore.py``).

A store is one directory of committed *entries*, read together as one
parquet dataset:

* ``batch-<token>`` — one append;
* ``compact-<token>`` — a fold of the entries committed before it;
* ``.staging-batch-<token>`` / ``.staging-compact-<token>`` — a write
  in flight, or one that crashed. Hidden names, so no reader lists them.

Any other visible name is an entry too and is read file by file: the
cache's legacy loose parquet files, and compact dirs of the older
layout partitioned into one subdir per signature prefix (the prefix
only ever lived in the directory names, so the files hold every
column).

* **Publish** (:func:`append`, :func:`fold`) — every write goes to a
  hidden staging dir and becomes visible by ONE atomic ``os.replace``
  to its final name. Concurrent appenders therefore never share a
  ``_temporary`` dir (the same-path parquet-append hazard where one
  job's commit cleanup deletes the other's staged task files), and a
  crash leaves only a hidden dir.
* **Fold** (:func:`fold`) — the caller snapshots the entry list, then
  the latest-wins live rows of exactly that snapshot are written to
  staging in ``ceil(rows / records_per_file)`` files, the row count
  read from parquet footers (:func:`footer_rows`, no Spark job). The
  files are the window's own partitions coalesced, with no second
  shuffle, so each file is sorted by key. The
  staged write is published unless its footers show no row (everything
  expired), and only THEN are the snapshot's entries deleted. A crash
  before the publish changes nothing; after it, leftover entries only
  duplicate rows that a latest-wins read resolves and the next fold
  removes. Entries published after the snapshot are neither folded nor
  deleted, so a fold may race appenders.
* **Vacuum** (:func:`vacuum`) — a fold, then a sweep of the hidden
  staging dirs. A staging dir could be a concurrent writer's in-flight
  stage, so a vacuum is single-writer maintenance.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def list_entries(path: str) -> list[str]:
    """Committed entries under ``path``, sorted (hidden names skipped)."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(os.path.join(path, n) for n in names
                  if not n.startswith((".", "_")))


def read(spark: SparkSession, entries: list[str], schema: T.StructType) -> DataFrame:
    """Every row of ``entries`` under ``schema`` (an explicit schema: no
    inference job; a column a file lacks reads as NULL)."""
    if not entries:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema).option("recursiveFileLookup", "true")
            .parquet(*entries))


def latest_wins(df: DataFrame, key: str, order: str) -> DataFrame:
    """One row per ``key``, the one with the largest ``order``."""
    w = Window.partitionBy(key).orderBy(F.desc(order))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def _staged(path: str, kind: str) -> tuple[str, str]:
    name = f"{kind}-{uuid.uuid4().hex}"
    return os.path.join(path, f".staging-{name}"), os.path.join(path, name)


def append(path: str, df: DataFrame) -> None:
    """Commit ``df`` as one ``batch-*`` entry: stage hidden, rename to
    publish."""
    os.makedirs(path, exist_ok=True)
    staging, final = _staged(path, "batch")
    df.write.mode("overwrite").parquet(staging)
    os.replace(staging, final)


def footer_rows(paths: list[str], cutoff: float | None = None,
                column: str | None = None) -> int:
    """Rows in the parquet files under ``paths`` (dirs, walked
    recursively, or loose files), read from their footers on the
    driver (no Spark job). With a ``cutoff``, a row group whose
    ``column`` maximum is below it holds only expired rows and is not
    counted, so the result is an upper bound on the live rows."""
    import pyarrow.parquet as pq

    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for root, dirs, names in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            files += [os.path.join(root, n) for n in names
                      if not n.startswith((".", "_"))]
    rows = 0
    for f in files:
        meta = pq.read_metadata(f)
        col = None if cutoff is None else meta.schema.names.index(column)
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            stats = None if col is None else group.column(col).statistics
            if stats is not None and stats.has_min_max and stats.max < cutoff:
                continue
            rows += group.num_rows
    return rows


def fold(path: str, entries: list[str], live: DataFrame, bound: int,
         records_per_file: int) -> int:
    """Replace ``entries`` by one ``compact-*`` entry holding ``live``
    (their latest-wins live rows, at most ``bound`` of them); returns
    the number of entries removed. See the module docstring for the
    crash and race story."""
    staging, final = _staged(path, "compact")
    if bound:
        live.coalesce(math.ceil(bound / records_per_file)) \
            .write.mode("overwrite") \
            .option("maxRecordsPerFile", records_per_file) \
            .parquet(staging)
    if bound and footer_rows([staging]):
        os.replace(staging, final)
    else:
        # everything expired: nothing to publish
        shutil.rmtree(staging, ignore_errors=True)
    for entry in entries:
        if os.path.isdir(entry):
            shutil.rmtree(entry, ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(entry)
    return len(entries)


def vacuum(path: str, compact: Callable[[], int]) -> int:
    """Run ``compact`` (a fold), then sweep every hidden staging dir
    under ``path``; returns the number of entries folded."""
    if not os.path.exists(path):
        return 0
    removed = compact()
    for name in os.listdir(path):
        if name.startswith(".staging-"):
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    return removed
