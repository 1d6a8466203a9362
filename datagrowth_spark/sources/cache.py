"""The resource cache + fetch operator — the engine's custom "scan".

Shape (SURVEY §2.3 R1-R5, §4 "result caching"): a DataFrame of requests
goes in; a DataFrame of responses comes out; every response is memoized
in a persistent cache table keyed by content-addressed signature, so
replays, retries and overlapping pipelines never refetch.

    requests_df ──┬─ join cache (hits) ───────────────┬─ responses_df
                  └─ left-anti (misses) → mapInPandas ─┘
                         fetch worker: backoff, throttle, cache_only
                         (misses appended to the cache table BEFORE the
                          result is returned — side-effect idempotence,
                          the reference's close-before-yield rule)

Scale design: the cache table is a directory of flat parquet entries
(``core/entries.py``); every lookup semi-joins the request signatures
into the scan BELOW the latest-wins window (:meth:`ResourceCache.latest`),
so the window only sorts the requested signatures' rows; the fetch
worker is Arrow-batched with per-partition rate limiting, so N
executors give N-way polite parallelism against the source.

Nothing in Catalyst memoizes across runs — this operator is the piece
the reference got right and Spark lacks; everything else in the engine
is plain DataFrame algebra.
"""

from __future__ import annotations

import json
import time
from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagrowth_spark.core import entries

REQUEST_SCHEMA = T.StructType([
    T.StructField("signature", T.StringType(), False),
    T.StructField("method", T.StringType(), True),       # GET/POST/... or "shell"
    T.StructField("url", T.StringType(), True),           # url or command line
    T.StructField("headers", T.StringType(), True),       # JSON
    T.StructField("data", T.StringType(), True),          # JSON payload / stdin
])

RESPONSE_SCHEMA = T.StructType(REQUEST_SCHEMA.fields + [
    T.StructField("status", T.IntegerType(), True),
    T.StructField("head", T.StringType(), True),          # JSON response headers
    T.StructField("body", T.StringType(), True),
    T.StructField("fetched_at", T.TimestampType(), True),
    T.StructField("purge_at", T.TimestampType(), True),
    # Signature of the continuation-chain head this row was fetched
    # under (== own signature outside a chain walk). Lets a warm replay
    # recover a whole cached chain with ONE relational lookup instead of
    # one driver round per page.
    T.StructField("chain", T.StringType(), True),
])

# Optional per-row page-budget column on a request frame (continuation
# chains resumed mid-way carry their remaining budget so the worker
# never fetches past the chain's continuation_limit).
BUDGET_COL = "__budget"

# Error statuses mirroring the reference's conventions
# (http/generic.py: 496 SSL, 502 connection, 504 timeout, 600 unicode).
STATUS_TIMEOUT = 504
STATUS_CONNECTION = 502
RETRY_STATUSES = (420, 429, 502, 503, 504)

Transport = Callable[[str, str, dict, Any], tuple[int, dict, str]]
"""(method, url, headers, data) -> (status, response_headers, body)"""

#: Rows per compacted cache file (about 0.5 GB at a 2 KB body).
COMPACT_RECORDS_PER_FILE = 250_000


def success_predicate(status: Column | str = "status") -> Column:
    """Success per the reference's Resource.success (2xx HTTP, 0 shell)."""
    col = F.col(status) if isinstance(status, str) else status
    return ((col >= 200) & (col < 300)) | (col == 0)


def requests_transport(method: str, url: str, headers: dict, data: Any) -> tuple[int, dict, str]:
    """Default HTTP transport (the only side-effecting code path)."""
    import requests as _rq

    try:
        response = _rq.request(method, url, headers=headers or None,
                               json=data if data is not None else None, timeout=30)
        return response.status_code, dict(response.headers), response.text
    except _rq.exceptions.Timeout:
        return STATUS_TIMEOUT, {}, ""
    except _rq.exceptions.ConnectionError:
        return STATUS_CONNECTION, {}, ""


def shell_transport(method: str, url: str, headers: dict, data: Any) -> tuple[int, dict, str]:
    """Shell transport: ``url`` is the command line, ``data`` the stdin.

    Status mirrors the reference's ShellResource: the process return
    code, 0 → 200-equivalent success (stored as 0; success predicate is
    status == 0 for shell rows).
    """
    import subprocess

    cmd = json.loads(url) if url.startswith("[") else url.split()
    try:
        proc = subprocess.run(cmd, input=data, capture_output=True, text=True, timeout=300)
        return proc.returncode, {"stderr": proc.stderr}, proc.stdout
    except subprocess.TimeoutExpired:
        return STATUS_TIMEOUT, {}, ""


class ResourceCache:
    """Persistent response cache over a parquet directory.

    Layout and lifecycle are the shared entry protocol of
    ``core/entries.py``: each append commits as its own ``batch-<uuid>``
    entry, published by an ATOMIC rename of a hidden staging dir, so
    concurrent appenders (two fetch jobs in one session, or two crawler
    drivers on a shared cache) never share a ``_temporary`` dir, and a
    crashed append leaves only a hidden ``.staging-*`` dir that
    :meth:`vacuum` sweeps.

    A month-long crawl accumulates thousands of small batch dirs, and
    every read re-lists and re-scans all of them; :meth:`compact`
    periodically folds all committed entries into ONE flat
    ``compact-<uuid>`` entry of latest-wins live rows, sized from the
    parquet footers. Crash anywhere mid-compact never loses data, and
    compaction is safe to race APPENDERS (see ``core/entries.py``); a
    READER holding a pre-compaction DataFrame should re-plan via a
    fresh :meth:`read` after compaction, like any parquet dataset whose
    files were rewritten underneath a cached listing. ``vacuum`` is
    single-writer maintenance — do not run it concurrently with
    appenders or another compactor.

    Lookups take a signature FRAME, not a driver list:
    ``latest(signatures=frame)`` semi-joins it into the scan below the
    latest-wins window, which is exact because the window partitions
    by signature. The cost is the requested rows' window, with no
    driver probe and no layout or size gate.
    """

    def __init__(self, spark: SparkSession, path: str,
                 now_fn: Callable[[], "object"] | None = None) -> None:
        self.spark = spark
        self.path = path
        # Injectable clock for deterministic TTL tests (r7 verdict item
        # 1): when set, expiry compares purge_at against this callable's
        # value (a datetime, re-evaluated at every plan build) instead
        # of the cluster wall clock. Production leaves it None.
        self.now_fn = now_fn

    def _now_expr(self):
        """Column used as "now" in TTL-expiry predicates."""
        if self.now_fn is None:
            return F.current_timestamp()
        return F.lit(self.now_fn()).cast("timestamp")

    def is_empty(self) -> bool:
        """True when no parquet has ever been committed — a pure driver
        filesystem check (no job), used to skip the hit-lookup join on
        the cold path. Staging dirs are hidden, so a mid-flight append
        doesn't count until its atomic publish."""
        return not entries.list_entries(self.path)

    def _live(self, snapshot: list[str]) -> DataFrame:
        df = entries.read(self.spark, snapshot, RESPONSE_SCHEMA)
        # Forward-compat: rows written before the chain column existed
        # read back with chain = own signature.
        df = df.withColumn("chain", F.coalesce("chain", "signature"))
        # TTL purge predicate (reference: purge_at checked on every
        # validate_request, resources/base.py:47-53).
        return df.where(F.col("purge_at").isNull() | (F.col("purge_at") > self._now_expr()))

    def read(self) -> DataFrame:
        """All live (non-expired) cached responses."""
        return self._live(entries.list_entries(self.path))

    def append(self, responses: DataFrame) -> None:
        """Commit one response batch atomically (stage hidden, rename to
        publish) — safe under concurrent appenders, see class docstring."""
        entries.append(self.path, responses.select(
            [F.col(f.name).cast(f.dataType) for f in RESPONSE_SCHEMA.fields]))

    def latest(self, signatures: DataFrame | None = None) -> DataFrame:
        """One row per signature (most recent live fetch wins). With a
        ``signatures`` frame (a ``signature`` column), only those
        signatures, semi-joined into the scan below the window."""
        df = self.read()
        if signatures is not None:
            df = df.join(signatures.select("signature"), "signature", "left_semi")
        return entries.latest_wins(df, "signature", "fetched_at")

    def compact(self) -> int:
        """Fold every committed entry into one flat ``compact-*`` entry
        of live rows, one per signature (most recent fetch wins), and
        return the number of entries removed (``entries.fold``). A
        superseded fetch is gone after the fold, so an expiring newest
        row no longer uncovers an older one: a folded signature is
        re-fetched, as in the reference, which keeps one resource per
        request."""
        snapshot = entries.list_entries(self.path)
        if not snapshot:
            return 0
        live = entries.latest_wins(self._live(snapshot), "signature", "fetched_at")
        return entries.fold(self.path, snapshot, live, entries.footer_rows(snapshot),
                            COMPACT_RECORDS_PER_FILE)

    def vacuum(self) -> int:
        """Compact (dropping expired rows) and sweep crashed-append/
        crashed-compact staging dirs; returns the number of folded
        entries. Single-writer maintenance: unlike bare :meth:`compact`
        this also deletes hidden staging dirs, which could be another
        writer's in-flight stage — do not run concurrently with
        appenders or compactors."""
        return entries.vacuum(self.path, self.compact)


def _fetch_worker(
    transport: Transport,
    backoff_delays: list[int],
    interval_duration: float,
    purge_after_seconds: float | None,
    follow: tuple[Callable[[dict], dict | None], int] | None = None,
    now_fn: Callable[[], "object"] | None = None,
):
    """Build the mapInPandas worker for cache misses.

    With ``follow=(next_request, limit)`` each miss is treated as the
    head of a continuation chain and the worker walks the chain in
    place, emitting one response row per page up to ``limit`` pages —
    the reference's ``send_iterator`` shape (http/iterators.py:29-52):
    pages of one link are inherently serial, so looping them inside the
    worker costs nothing in parallelism, while distinct links still fan
    out across partitions.
    """
    import pandas as pd

    follow_fn, follow_limit = follow if follow is not None else (None, 1)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            rows = []
            for rec in batch.to_dict("records"):
                req = {k: rec.get(k) for k in ("signature", "method", "url", "headers", "data")}
                head_sig = req["signature"]
                # A resumed chain carries its remaining page budget so the
                # walk never overshoots the caller's continuation_limit.
                budget = rec.get(BUDGET_COL)
                page_cap = follow_limit if budget is None or pd.isna(budget) \
                    else min(follow_limit, int(budget))
                pages = 0
                while req is not None:
                    headers = json.loads(req["headers"]) if req.get("headers") else {}
                    data = json.loads(req["data"]) if req.get("data") else None
                    status, head, body = transport(req["method"], req["url"], headers, data)
                    # Backoff retry on throttle/transient statuses
                    # (reference schedule: [2,4,8,16]s on 420/429/5xx).
                    for delay in backoff_delays:
                        if status not in RETRY_STATUSES:
                            break
                        time.sleep(delay)
                        status, head, body = transport(req["method"], req["url"], headers, data)
                    now = (pd.Timestamp(now_fn()) if now_fn is not None
                           else pd.Timestamp.utcnow().tz_localize(None))
                    row = {
                        **req,
                        "status": status,
                        "head": json.dumps(head),
                        "body": body,
                        "fetched_at": now,
                        "purge_at": (now + pd.Timedelta(seconds=purge_after_seconds))
                        if purge_after_seconds else None,
                        "chain": head_sig,
                    }
                    rows.append(row)
                    if interval_duration:
                        time.sleep(interval_duration / 1000.0)
                    pages += 1
                    if follow_fn is None or pages >= page_cap:
                        break
                    req = follow_fn(row)
            yield pd.DataFrame(rows, columns=[f.name for f in RESPONSE_SCHEMA.fields])

    return run


def fetch(
    requests_df: DataFrame,
    cache: ResourceCache,
    transport: Transport = requests_transport,
    cache_only: bool = False,
    backoff_delays: list[int] | None = None,
    interval_duration: float = 0,
    purge_after_seconds: float | None = None,
    fetch_partitions: int | None = None,
    follow: tuple[Callable[[dict], dict | None], int] | None = None,
    return_responses: bool = True,
    now_fn: Callable[[], "object"] | None = None,
    unique_signatures: bool = False,
    n_requests: int | None = None,
) -> DataFrame | None:
    """The cached fetch operator: requests in, responses out.

    * cache hits come from the cache table join (no network);
    * misses are fetched partition-parallel and appended to the cache
      BEFORE the combined result is returned (crash-safe idempotence);
    * ``cache_only=True`` raises if any request misses (the reference's
      fixture-replay mode, used for hermetic tests).

    The returned DataFrame is read back from the cache table, so
    downstream stages re-read parquet instead of re-firing transports.

    ``return_responses=False`` returns ``None`` after the cache append:
    callers that read the cache relationally afterwards (the pagination
    drivers) skip the followed-page signature collect entirely, so no
    driver structure scales with the page count.

    ``unique_signatures=True`` promises the caller already deduplicated
    signatures (e.g. a driver-walker frontier keyed by signature) — the
    per-call dedup exchange is skipped (r13: the pipeline family's
    per-run cost is driver-round/job count, and every removed exchange
    is one fewer AQE materialization job). The promise is not checked.
    Broken, every duplicate row is a miss of its own: it is sent and
    appended once per copy, and with a page-budget column each copy
    walks its chain with its own budget, instead of one walk with the
    largest. ``n_requests`` is the driver-known request count; it is
    honoured only together with ``unique_signatures`` (without the
    promise, the count before dedup overstates the misses), and then
    only on the cold path (empty cache → every request is a miss),
    where it replaces the miss-count job.
    """
    spark = requests_df.sparkSession
    req_fields = [f.name for f in REQUEST_SCHEMA.fields]
    # Persist: the request frame is consumed by the hit-join, the miss
    # anti-join, the fetch worker and the final semi-join — without a
    # persist each consumer re-runs the (often Python) request-building
    # lineage. Small frame by construction (requests, not payloads).
    if BUDGET_COL in requests_df.columns:
        if unique_signatures:
            requests_df = requests_df.select(req_fields + [BUDGET_COL]).persist()
        else:
            # Converging chains may reach one signature with different
            # remaining budgets — the generous one wins (never
            # undershoots; the walk still caps at follow's limit).
            requests_df = requests_df.select(req_fields + [BUDGET_COL]).groupBy("signature").agg(
                *[F.first(f).alias(f) for f in req_fields if f != "signature"],
                F.max(BUDGET_COL).alias(BUDGET_COL),
            ).persist()
    elif unique_signatures:
        requests_df = requests_df.select(req_fields).persist()
    else:
        requests_df = requests_df.select(req_fields) \
            .dropDuplicates(["signature"]).persist()
    try:
        # Only SUCCESSFUL cached responses count as hits (reference
        # generic.py:133-135: a cached resource is returned only when
        # resource.success; failures are re-sent). Otherwise a transient
        # 5xx cached with purge_after_seconds=None would shadow the
        # signature forever and the document could never be enriched.
        # cache_only replay is the exception: nothing can be re-sent, so
        # serve whatever is cached (hermetic fixture mode).
        cold = cache.is_empty()
        if cold:
            # Cold path: nothing committed yet, every request is a miss —
            # skip the hit-lookup join (and its latest() window) entirely.
            misses = requests_df.persist()
        else:
            hits = cache.latest(signatures=requests_df)
            if not cache_only:
                hits = hits.where(success_predicate())
            # Persisted: consumed by the count below AND the fetch job —
            # without it the cache anti-join (and any Python request lineage
            # above the persist boundary) runs twice per fetch call.
            misses = requests_df.join(hits.select("signature"), "signature",
                                      "left_anti").persist()
        extra_sigs: list = []
        try:
            # Cold path with a driver-known count of unique requests:
            # every request IS a miss, so the count job is pure overhead
            # (r13). A raw count without the uniqueness promise is not
            # the miss count — duplicates collapse above.
            n_misses = (n_requests
                        if cold and unique_signatures and n_requests is not None
                        else misses.count())
            if n_misses:
                if cache_only:
                    raise LookupError(
                        f"cache_only fetch: {n_misses} request(s) not in cache at {cache.path}")
                # The transport is latency-bound, so parallelism is set by the
                # MISS COUNT, not by upstream partitioning (which AQE may have
                # coalesced to 1): one partition per ~8 requests up to the
                # cluster width. Callers with rate limits or slow endpoints
                # override via fetch_partitions.
                parts = fetch_partitions or min(
                    spark.sparkContext.defaultParallelism, -(-n_misses // 8)
                )
                misses_parts = misses.repartition(parts)
                fetched = misses_parts.mapInPandas(
                    _fetch_worker(transport,
                                  backoff_delays if backoff_delays is not None else [2, 4, 8, 16],
                                  interval_duration, purge_after_seconds, follow,
                                  now_fn=now_fn if now_fn is not None else cache.now_fn),
                    schema=RESPONSE_SCHEMA,
                )
                if follow is not None and return_responses:
                    # Persist BEFORE append: the followed-page signatures are
                    # collected afterwards (bounded by the batch's page
                    # count; pagination drivers that don't need the
                    # responses frame pass return_responses=False and this
                    # collect never happens), and an unpersisted
                    # mapInPandas lineage would re-fire every transport on
                    # that collect.
                    fetched = fetched.persist()
                    try:
                        cache.append(fetched)
                        extra_sigs = [r["signature"] for r in fetched.select("signature").collect()]
                    finally:
                        fetched.unpersist()
                else:
                    cache.append(fetched)
        finally:
            misses.unpersist()  # append() consumed it eagerly
        if not return_responses:
            return None
        sigs = requests_df.select("signature")
        if extra_sigs:
            sigs = sigs.unionByName(spark.createDataFrame(
                [(s,) for s in set(extra_sigs)], "signature string"))
        # Eager snapshot of the (tiny: signatures only) frame so the
        # request-building lineage and its persisted RDD can be released
        # now instead of leaking until executor storage evicts them. A
        # semi-join needs no distinct right side.
        return cache.latest(signatures=sigs.localCheckpoint(eager=True))
    finally:
        requests_df.unpersist()
