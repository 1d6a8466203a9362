"""HTTP/shell request construction and paginated fetching.

Mirrors the reference's resource surface (SURVEY §2.3): templated
requests (``URI_TEMPLATE``/``PARAMETERS``), signature-keyed caching,
source-defined pagination (``next_parameters``) and request coalescing
(``send_mass`` concat batching) — re-expressed as request-row builders +
driver-side page loops around the set-oriented :func:`fetch` operator.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterable
from urllib.parse import urlencode

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagrowth_spark.sources.cache import BUDGET_COL, REQUEST_SCHEMA, ResourceCache, fetch
from datagrowth_spark.sources.signatures import http_signature, shell_signature


def http_request(url: str, method: str = "GET", params: dict | None = None,
                 headers: dict | None = None, data: Any = None) -> dict:
    """Build one request row (dict matching REQUEST_SCHEMA)."""
    if params:
        sep = "&" if "?" in url else "?"
        url = f"{url}{sep}{urlencode(sorted(params.items()))}"
    return {
        "signature": http_signature(method, url, headers, data),
        "method": method.upper(),
        "url": url,
        "headers": json.dumps(headers) if headers else None,
        "data": json.dumps(data) if data is not None else None,
    }


def shell_request(cmd: list[str], stdin: str | None = None) -> dict:
    return {
        "signature": shell_signature(cmd, stdin),
        "method": "shell",
        "url": json.dumps(cmd),
        "headers": None,
        "data": stdin,
    }


def templated_requests(uri_template: str, args_list: Iterable[tuple],
                       method: str = "GET", params: dict | None = None,
                       headers: dict | None = None) -> list[dict]:
    """``URI_TEMPLATE.format(*args)`` for a series of arg tuples (R3)."""
    return [
        http_request(uri_template.format(*args), method=method, params=params, headers=headers)
        for args in args_list
    ]


def coalesced_requests(uri_template: str, values: list[str], concat_size: int,
                       concat_symbol: str = "|", **kwargs) -> list[dict]:
    """send_mass-style request coalescing (R4): pack N key values into one
    request separated by ``concat_symbol`` — fewer round trips against
    batchable APIs."""
    groups = [values[i:i + concat_size] for i in range(0, len(values), concat_size)]
    return templated_requests(uri_template, [(concat_symbol.join(g),) for g in groups], **kwargs)


def requests_to_df(spark: SparkSession, requests: list[dict]) -> DataFrame:
    rows = [tuple(r.get(f.name) for f in REQUEST_SCHEMA.fields) for r in requests]
    return spark.createDataFrame(rows, REQUEST_SCHEMA)


_EDGE_SCHEMA = T.StructType([
    T.StructField("signature", T.StringType()),
    T.StructField("next", T.StringType()),  # JSON request dict or null
])


def _edges_of(responses: DataFrame,
              next_request: Callable[[dict], dict | None]) -> list[tuple[str, dict | None]]:
    """Apply the pagination contract to response rows EXECUTOR-side and
    collect only the (signature → next request) edges — page bodies never
    cross the driver."""

    def run(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for rec in batch.to_dict("records"):
                nxt = next_request(rec)
                rows.append({"signature": rec["signature"],
                             "next": None if nxt is None else json.dumps(nxt)})
            yield pd.DataFrame(rows, columns=["signature", "next"])

    return [
        (r["signature"], json.loads(r["next"]) if r["next"] else None)
        for r in responses.mapInPandas(run, schema=_EDGE_SCHEMA).collect()
    ]


#: Above this many distinct chain heads the driver-side edge walk is
#: replaced by the relational walker — no driver structure may scale
#: with the crawl size.
PAGINATION_RELATIONAL_THRESHOLD = 20_000


def paginated_fetch(
    spark: SparkSession,
    cache: ResourceCache,
    requests: "list[dict] | DataFrame",
    next_request: Callable[[dict], dict | None] | None = None,
    continuation_limit: int = 1,
    relational: bool | None = None,
    **fetch_kwargs,
) -> DataFrame:
    """Fetch a batch of requests plus their continuation pages.

    ``next_request(response_row) -> request | None`` implements the
    source's pagination contract (the reference's ``next_parameters``,
    http/generic.py:471-506). NOTE: above ``PAGINATION_RELATIONAL_
    THRESHOLD`` chain heads (or for a DataFrame ``requests``) the
    relational scale path is auto-selected, where ``next_request``
    receives JSON-round-tripped rows (timestamps as ISO strings, not
    pandas Timestamps); callbacks reading only string fields (url,
    body, headers — the overwhelmingly common shape) see no
    difference. Pass ``relational=False`` to pin the driver walker.

    Execution shape — O(1) driver rounds for both the cold and the
    fully-cached path:

    * cache-MISS chains are walked entirely inside the fetch worker
      (``fetch(follow=...)``): pages of one link are serial anyway,
      links fan out across partitions, and every page row is stamped
      with its chain-head signature;
    * the driver then GATHERS all cached rows whose ``chain`` (or own
      signature) matches the frontier in one relational pass, applies
      ``next_request`` executor-side, and collects only the tiny
      (signature → next) edge list — never page bodies;
    * chains are re-walked over the edge dict; only genuinely missing
      pages (mid-chain misses, chain segments cached under another
      head) seed another round, each carrying its REMAINING page budget
      so resumed walks never overshoot ``continuation_limit``.

    Returns the responses for every page reached within the limit, as
    ONE semi-join of the final cache state against the full signature
    set (never a union of per-page plans: unions of many small
    same-schema local relations through broadcast joins tickle incorrect
    exchange reuse, and each per-page plan would also pin a stale
    parquet file listing).
    """
    limit = max(continuation_limit, 1)
    if isinstance(requests, DataFrame) and relational is False:
        # The driver walker would call list() on the frame, which yields
        # its Column objects (DataFrame supports integer __getitem__) and
        # fails far from the cause — reject the combination loudly.
        raise TypeError(
            "paginated_fetch: a DataFrame `requests` requires the "
            "relational walker; drop relational=False or pass a list of "
            "request dicts for the driver walker")
    if relational is None:
        relational = isinstance(requests, DataFrame) or (
            len(requests) > PAGINATION_RELATIONAL_THRESHOLD)
    if relational:
        reqs_df = (requests if isinstance(requests, DataFrame)
                   else requests_to_df(spark, list(requests)))
        return _paginated_fetch_relational(
            spark, cache, reqs_df, next_request, limit, fetch_kwargs)
    requests = list(requests)
    if not requests:
        return cache.latest().limit(0)

    edges: dict[str, dict | None] = {}   # sig -> next request (None = chain end)
    known: set[str] = set()              # sigs with a resolved cache row
    result_sigs: set[str] = set()
    # One cursor per chain: (current request dict, pages consumed incl. cursor)
    cursors: list[tuple[dict, int]] = [(dict(r), 1) for r in requests]

    def gather(frontier_sigs: list[str]) -> None:
        """Resolve every cached row reachable by chain-head or signature
        and fold its pagination edge into the driver dict.

        The frontier is a driver-side list by construction (one entry
        per unresolved chain cursor, bounded by the caller's request
        batch), so membership is an IN predicate pushed into the cache
        scan — one filtered parquet read, no join, no shuffle — instead
        of two broadcast semi-joins over separate scans.
        """
        latest = cache.latest()
        if len(frontier_sigs) <= 10_000:
            rows = latest.where(
                F.col("chain").isin(frontier_sigs) | F.col("signature").isin(frontier_sigs)
            )
        else:
            # Huge request batches: an IN-list this size bloats the plan;
            # fall back to a broadcast semi-join per key column.
            sig_frame = spark.createDataFrame([(s,) for s in frontier_sigs], "s string")
            rows = (
                latest.join(F.broadcast(sig_frame), latest["chain"] == sig_frame["s"],
                            "left_semi")
                .unionByName(latest.join(F.broadcast(sig_frame),
                                         latest["signature"] == sig_frame["s"], "left_semi"))
                .dropDuplicates(["signature"])
            )
        if next_request is None:
            resolved = [(r["signature"], None) for r in rows.select("signature").collect()]
        else:
            resolved = _edges_of(rows, next_request)
        for sig, nxt in resolved:
            known.add(sig)
            edges[sig] = nxt

    for _round in range(limit + 1):
        frontier = {req["signature"]: (req, limit - pages + 1) for req, pages in cursors
                    if req["signature"] not in known}
        if frontier:
            follow = (next_request, limit) if next_request is not None else None
            # Requests AND budgets are driver lists here, so the budget
            # column is attached driver-side — the old two-frame join
            # cost an exchange + two AQE materialization jobs per
            # pagination round to match rows the driver already had
            # paired (r13, guide §2.4). The frontier dict is keyed by
            # signature, so the batch is unique by construction and the
            # driver knows its size — both passed through so fetch()
            # skips its dedup exchange and, on a cold cache, the
            # miss-count job.
            rows = [tuple(req.get(f.name) for f in REQUEST_SCHEMA.fields)
                    + (budget,) for req, budget in frontier.values()]
            reqs_df = spark.createDataFrame(
                rows, T.StructType(
                    list(REQUEST_SCHEMA.fields)
                    + [T.StructField(BUDGET_COL, T.IntegerType())]))
            # No materializing action needed on the returned frame:
            # fetch() appends misses to the cache eagerly inside the
            # call, so the pages are on disk when it returns — a
            # .count() here would only re-read the cache for nothing
            # (one extra job per pagination round).
            fetch(reqs_df, cache, follow=follow,
                  return_responses=False, unique_signatures=True,
                  n_requests=len(frontier), **fetch_kwargs)
            gather(list(frontier))
        # Walk every chain as far as the edge dict reaches.
        advanced: list[tuple[dict, int]] = []
        progress = False
        for req, pages in cursors:
            while True:
                sig = req["signature"]
                if sig not in known:
                    break  # still missing (e.g. transport yielded no row)
                if sig not in result_sigs:
                    result_sigs.add(sig)
                    progress = True
                nxt = edges.get(sig)
                if nxt is None or pages >= limit:
                    req = None
                    break
                req, pages = nxt, pages + 1
            if req is not None:
                advanced.append((req, pages))
        cursors = advanced
        if not cursors or (frontier and not progress):
            break  # done, or the source stopped yielding rows (defensive)

    if len(result_sigs) <= 10_000:
        # Driver-known page set of sane size: IN predicate on the scan
        # beats materializing a join side (no shuffle, no broadcast).
        return cache.latest().where(F.col("signature").isin(list(result_sigs)))
    sigs = spark.createDataFrame([(s,) for s in result_sigs], "signature string")
    return cache.latest(signatures=sigs)


def _paginated_fetch_relational(
    spark: SparkSession,
    cache: ResourceCache,
    requests_df: DataFrame,
    next_request: Callable[[dict], dict | None] | None,
    limit: int,
    fetch_kwargs: dict,
) -> DataFrame:
    """Scale-path pagination: cursors, edges and page sets live in
    DataFrames end-to-end — NO driver structure grows with the crawl
    (r4 verdict item 5; the driver walker above keeps per-chain dicts,
    bounded but batch-sized).

    Round shape: anti-join the cursor frame against the cache to find
    misses, fetch them (chains walked worker-side, ``follow=``; the
    responses frame is never materialized — ``return_responses=False``),
    then advance every cursor through the cached pages with ONE
    ``applyInPandas`` walk grouped by chain head. Page signatures append
    to a scratch parquet; surviving cursors (mid-chain misses, segments
    cached under a foreign head) seed the next round with their
    remaining budget. Cursor frames are checkpointed per round so no
    lineage pins a stale cache file listing.

    Caveat vs the driver walker: a chain stitching INTO a segment cached
    under a foreign head advances one round per... fetched segment (the
    walk joins pages by own head, by current-cursor chain AND by
    current-cursor signature), so pathological all-foreign chains cost
    up to ``limit`` rounds; the round guard caps at ``2 * limit + 2``.
    ``next_request`` receives response rows JSON-decoded (timestamps as
    ISO strings, not pandas Timestamps).
    """
    import shutil
    import uuid

    req_cols = [f.name for f in REQUEST_SCHEMA.fields]

    if next_request is None:
        # No pagination: one fetch, then a relational semi-join on the
        # request signatures (no distinct needed on a semi-join side).
        sigs = requests_df.select("signature")
        fetch(requests_df, cache, return_responses=False, **fetch_kwargs)
        return cache.latest(signatures=sigs)

    cursors = (
        requests_df.select(req_cols).dropDuplicates(["signature"])
        .select(F.col("signature").alias("_chain_head"),
                F.to_json(F.struct(*req_cols)).alias("req"),
                F.lit(1).alias("pages"))
        .localCheckpoint(eager=True)
    )
    scratch = cache.path.rstrip("/") + f"_pages_{uuid.uuid4().hex}"
    walk_cols = ["kind", "_chain_head", "signature", "req", "pages"]
    walk_schema = ("kind string, _chain_head string, signature string, "
                   "req string, pages int")

    def walk(pdf):
        import json as _json

        import pandas as _pd

        pages_rows = {}
        for rec in pdf[pdf["kind"] == "page"].to_dict("records"):
            pages_rows[rec["signature"]] = _json.loads(rec["row"])
        out = []
        for cur in pdf[pdf["kind"] == "cursor"].to_dict("records"):
            req = _json.loads(cur["req"])
            pages = int(cur["pages"])
            head = cur["_chain_head"]
            while True:
                sig = req.get("signature")
                row = pages_rows.get(sig)
                if row is None:
                    out.append(("cursor", head, None, _json.dumps(req), pages))
                    break
                out.append(("page", head, sig, None, None))
                nxt = next_request(row)
                if nxt is None or pages >= limit:
                    break
                req, pages = nxt, pages + 1
        return _pd.DataFrame(out, columns=walk_cols)

    wrote_pages = False
    for _round in range(2 * limit + 2):
        n_cursors = cursors.count()
        if n_cursors == 0:
            break
        cur = cursors.withColumn(
            "_sig", F.get_json_object(F.col("req"), "$.signature"))
        latest = cache.latest()
        # Only SUCCESSFUL cached responses count as hits — mirroring
        # fetch()'s own hit rule (a cached transient 5xx must be
        # re-sent, not shadow the signature forever). The driver walker
        # gets this for free by routing its frontier through fetch().
        from datagrowth_spark.sources.cache import success_predicate
        misses = cur.join(
            latest.where(success_predicate())
            .select(F.col("signature").alias("_sig")),
            "_sig", "left_anti")
        parsed = misses.select(
            F.from_json("req", REQUEST_SCHEMA).alias("r"),
            (F.lit(limit) - F.col("pages") + 1).cast("int").alias(BUDGET_COL),
        ).select("r.*", BUDGET_COL)
        fetch(parsed, cache, follow=(next_request, limit),
              return_responses=False, **fetch_kwargs)

        # Candidate pages per chain head: own-head chains, the segment
        # just fetched under the cursor's current signature, and a
        # foreign row the cursor stitched onto.
        latest = cache.latest()
        heads = cur.select("_chain_head", "_sig")
        row_json = F.to_json(F.struct(*[F.col(f.name)
                                        for f in latest.schema.fields]))
        cands = None
        for key_col in ("chain", "signature"):
            for head_col in ("_chain_head", "_sig"):
                part = (latest.join(heads,
                                    latest[key_col] == heads[head_col])
                        .select("_chain_head",
                                latest["signature"].alias("signature"),
                                row_json.alias("row")))
                cands = part if cands is None else cands.unionByName(part)
        cands = cands.dropDuplicates(["_chain_head", "signature"])

        walk_in = (
            cur.select(F.lit("cursor").alias("kind"), "_chain_head",
                       F.lit(None).cast("string").alias("signature"),
                       "req", "pages",
                       F.lit(None).cast("string").alias("row"))
            .unionByName(
                cands.select(F.lit("page").alias("kind"), "_chain_head",
                             "signature",
                             F.lit(None).cast("string").alias("req"),
                             F.lit(None).cast("int").alias("pages"),
                             "row"))
        )
        walked = (walk_in.groupBy("_chain_head")
                  .applyInPandas(walk, schema=walk_schema).persist())
        try:
            pages_n = walked.where(F.col("kind") == "page").count()
            if pages_n:
                (walked.where(F.col("kind") == "page")
                 .select("signature").dropDuplicates(["signature"])
                 .write.mode("append").parquet(scratch))
                wrote_pages = True
            new_cursors = (walked.where(F.col("kind") == "cursor")
                           .select("_chain_head", "req", "pages")
                           .localCheckpoint(eager=True))
        finally:
            walked.unpersist()
        if pages_n == 0 and new_cursors.count() >= n_cursors:
            break  # source stopped yielding rows (defensive)
        cursors = new_cursors

    if not wrote_pages:
        return cache.latest().limit(0)
    sigs = (spark.read.parquet(scratch)
            .dropDuplicates(["signature"]).localCheckpoint(eager=True))
    shutil.rmtree(scratch, ignore_errors=True)
    return cache.latest(signatures=sigs)
