"""Resource cache + fetch operator tests.

Follows the reference's test strategy (SURVEY §5): a deterministic mock
entity API (pure function, no network) drives end-to-end fetch →
extract flows; cache behavior is asserted via the cache table itself.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from datagrowth_spark.sources.cache import ResourceCache, fetch
from datagrowth_spark.sources.http import (
    coalesced_requests,
    http_request,
    paginated_fetch,
    requests_to_df,
    shell_request,
    templated_requests,
)
from datagrowth_spark.sources.signatures import (
    http_signature,
    make_signature,
    normalize_cmd,
    normalize_url,
)

from mock_transports import PAGE_SIZE, TOTAL, mock_api_transport  # noqa: E402
from test_sigstore import _jobs_in_group  # noqa: E402


class TestSignatures:
    def test_normalize_url_sorts_params_strips_protocol(self):
        a = normalize_url("https://api.example.com/x?b=2&a=1")
        b = normalize_url("http://api.example.com/x?a=1&b=2")
        assert a == b == "api.example.com/x?a=1&b=2"

    def test_signature_deterministic_and_data_sensitive(self):
        s1 = http_signature("get", "http://h/x?a=1", data={"k": 1})
        s2 = http_signature("GET", "http://h/x?a=1", data={"k": 1})
        s3 = http_signature("GET", "http://h/x?a=1", data={"k": 2})
        assert s1 == s2 and s1 != s3 and len(s1) == 64

    def test_data_hash_key_order_insensitive(self):
        assert make_signature("u", {"a": 1, "b": 2}) == make_signature("u", {"b": 2, "a": 1})

    def test_normalize_cmd_sorts_flags(self):
        assert normalize_cmd(["tool", "--b", "--a", "arg"]) == normalize_cmd(["tool", "--a", "--b", "arg"])


class TestFetch:
    def test_fetch_caches_and_memoizes(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, templated_requests("http://mockapi/entities/{}", [(1,), (2,)]))
        out1 = fetch(reqs, cache, transport=mock_api_transport)
        rows1 = {r["url"]: r for r in out1.collect()}
        assert len(rows1) == 2
        assert json.loads(rows1["http://mockapi/entities/1"]["body"])["detail"] == "detail 1"

        # Second fetch: all hits — cache table must not grow, timestamps unchanged.
        out2 = fetch(reqs, cache, transport=mock_api_transport)
        rows2 = {r["url"]: r for r in out2.collect()}
        assert cache.read().count() == 2
        assert rows1["http://mockapi/entities/1"]["fetched_at"] == rows2["http://mockapi/entities/1"]["fetched_at"]

    def test_cache_only_raises_on_miss(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, [http_request("http://mockapi/entities/7")])
        with pytest.raises(LookupError):
            fetch(reqs, cache, transport=mock_api_transport, cache_only=True)

    def test_n_requests_without_unique_promise_counts_true_misses(self, spark, tmp_path):
        """``n_requests`` stands in for the miss count only with the
        ``unique_signatures`` promise: without it the frame is
        deduplicated first, so its raw row count overstates the misses."""
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        req = http_request("http://mockapi/entities/7")
        reqs = requests_to_df(spark, [req, req, http_request("http://mockapi/entities/8")])
        with pytest.raises(LookupError, match=r"cache_only fetch: 2 request\(s\)"):
            fetch(reqs, cache, transport=mock_api_transport, cache_only=True, n_requests=3)

    def test_cache_only_serves_hits(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, [http_request("http://mockapi/entities/7")])
        fetch(reqs, cache, transport=mock_api_transport)
        out = fetch(reqs, cache, transport=mock_api_transport, cache_only=True)
        assert out.count() == 1

    def test_error_status_recorded(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, [http_request("http://mockapi/nope")])
        out = fetch(reqs, cache, transport=mock_api_transport)
        assert out.collect()[0]["status"] == 404

    def test_cached_failure_is_refetched(self, spark, tmp_path):
        """A cached failure row is NOT a hit: the signature falls into the
        miss anti-join and is re-sent (reference generic.py:133-135 only
        returns a cached resource when resource.success). Without this a
        transient 504 with purge_after=None shadows the url forever."""
        recover_log = str(tmp_path / "recover.log")

        def recovering_transport(method, url, headers, data, _log=recover_log):
            with open(_log, "a") as fh:
                fh.write("x\n")
            with open(_log) as fh:
                n = len(fh.readlines())
            if n == 1:
                return 504, {}, ""  # transient timeout on first contact
            return 200, {}, '{"ok": true}'

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, [http_request("http://mockapi/transient")])
        first = fetch(reqs, cache, transport=recovering_transport,
                      backoff_delays=[], fetch_partitions=1).collect()
        assert first[0]["status"] == 504  # failure recorded (and cached)
        second = fetch(reqs, cache, transport=recovering_transport,
                       backoff_delays=[], fetch_partitions=1).collect()
        assert second[0]["status"] == 200  # refetched, not served stale
        # and the recovery is itself memoized: third call fires no transport
        with open(recover_log) as fh:
            n_before = len(fh.readlines())
        third = fetch(reqs, cache, transport=recovering_transport,
                      backoff_delays=[], fetch_partitions=1).collect()
        assert third[0]["status"] == 200
        with open(recover_log) as fh:
            assert len(fh.readlines()) == n_before

    def test_cache_only_serves_cached_failures(self, spark, tmp_path):
        """cache_only replay cannot re-send, so failure rows still serve
        (hermetic fixture mode must not raise on recorded errors)."""
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, [http_request("http://mockapi/nope")])
        fetch(reqs, cache, transport=mock_api_transport)  # caches the 404
        out = fetch(reqs, cache, transport=mock_api_transport, cache_only=True)
        assert out.collect()[0]["status"] == 404

    def test_shell_transport_roundtrip(self, spark, tmp_path):
        from datagrowth_spark.sources.cache import shell_transport

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, [shell_request(["echo", "hello world"])])
        out = fetch(reqs, cache, transport=shell_transport)
        row = out.collect()[0]
        assert row["status"] == 0
        assert row["body"].strip() == "hello world"


class TestPagination:
    def test_paginated_fetch_walks_all_pages(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))

        def next_request(response):
            body = json.loads(response["body"])
            if body.get("next_page") is not None:
                return http_request("http://mockapi/entities", params={"page": body["next_page"]})
            return None

        first = [http_request("http://mockapi/entities", params={"page": 0})]
        out = paginated_fetch(spark, cache, first, next_request,
                              continuation_limit=10, transport=mock_api_transport)
        pages = out.collect()
        assert len(pages) == 4  # 35 entities / 10 per page
        seen = {e["id"] for p in pages for e in json.loads(p["body"])["results"]}
        assert seen == set(range(TOTAL))

    def test_continuation_limit_bounds_pages(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))

        def next_request(response):
            body = json.loads(response["body"])
            if body.get("next_page") is not None:
                return http_request("http://mockapi/entities", params={"page": body["next_page"]})
            return None

        first = [http_request("http://mockapi/entities", params={"page": 0})]
        out = paginated_fetch(spark, cache, first, next_request,
                              continuation_limit=2, transport=mock_api_transport)
        assert out.count() == 2

    def test_cold_chain_costs_one_fetch_round(self, spark, tmp_path, monkeypatch):
        """Cache-miss chains are walked inside the fetch worker
        (fetch(follow=...)), so a cold N-page chain costs ONE
        distributed fetch round, not N driver-side rounds."""
        import datagrowth_spark.sources.http as http_mod

        rounds = []
        real_fetch = http_mod.fetch

        def counting_fetch(*a, **k):
            rounds.append(1)
            return real_fetch(*a, **k)

        monkeypatch.setattr(http_mod, "fetch", counting_fetch)

        def next_request(response):
            body = json.loads(response["body"])
            if body.get("next_page") is not None:
                return http_request("http://mockapi/entities", params={"page": body["next_page"]})
            return None

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        first = [http_request("http://mockapi/entities", params={"page": 0})]
        out = paginated_fetch(spark, cache, first, next_request,
                              continuation_limit=10, transport=mock_api_transport)
        assert out.count() == 4
        assert len(rounds) == 1  # all 4 pages in a single distributed round

    def test_warm_chain_costs_one_round_and_no_transport(self, spark, tmp_path, monkeypatch):
        """Fully-cached chains replay as ONE relational round: page rows
        are stamped with their chain-head signature, so the gather pass
        recovers the whole chain without per-page driver rounds — and
        without firing a single transport."""
        import datagrowth_spark.sources.http as http_mod

        def next_request(response):
            body = json.loads(response["body"])
            if body.get("next_page") is not None:
                return http_request("http://mockapi/entities", params={"page": body["next_page"]})
            return None

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        first = [http_request("http://mockapi/entities", params={"page": 0})]
        paginated_fetch(spark, cache, first, next_request,
                        continuation_limit=10, transport=mock_api_transport).count()

        rounds = []
        real_fetch = http_mod.fetch

        def counting_fetch(*a, **k):
            rounds.append(1)
            return real_fetch(*a, **k)

        monkeypatch.setattr(http_mod, "fetch", counting_fetch)
        transport_log = str(tmp_path / "transports.log")

        def logging_transport(method, url, headers, data, _log=transport_log):
            with open(_log, "a") as fh:
                fh.write(url + "\n")
            return mock_api_transport(method, url, headers, data)

        out = paginated_fetch(spark, cache, first, next_request,
                              continuation_limit=10, transport=logging_transport)
        assert out.count() == 4
        assert len(rounds) == 1  # one hit-only fetch + one gather, no page loop
        assert not os.path.exists(transport_log)  # zero live requests

    def test_resumed_chain_respects_remaining_budget(self, spark, tmp_path):
        """A chain resumed mid-way carries its REMAINING page budget into
        the worker: head pages warm, page 3 cold, continuation_limit=3
        must fetch exactly one live page — not walk `limit` more pages
        past the cap (politeness/cost contract)."""

        def next_request(response):
            body = json.loads(response["body"])
            if body.get("next_page") is not None:
                return http_request("http://mockapi/entities", params={"page": body["next_page"]})
            return None

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        first = [http_request("http://mockapi/entities", params={"page": 0})]
        # Prime pages 0-1 only.
        paginated_fetch(spark, cache, first, next_request,
                        continuation_limit=2, transport=mock_api_transport).count()

        transport_log = str(tmp_path / "transports.log")

        def logging_transport(method, url, headers, data, _log=transport_log):
            with open(_log, "a") as fh:
                fh.write(url + "\n")
            return mock_api_transport(method, url, headers, data)

        out = paginated_fetch(spark, cache, first, next_request,
                              continuation_limit=3, transport=logging_transport)
        assert out.count() == 3  # pages 0, 1, 2 — capped at the limit
        with open(transport_log) as fh:
            lines = fh.readlines()
        assert len(lines) == 1 and "page=2" in lines[0]  # page 3 never requested

    def test_coalesced_requests(self):
        reqs = coalesced_requests("http://mockapi/bulk/{}", ["a", "b", "c", "d", "e"],
                                  concat_size=2, concat_symbol="|")
        assert [r["url"] for r in reqs] == [
            "http://mockapi/bulk/a|b", "http://mockapi/bulk/c|d", "http://mockapi/bulk/e",
        ]


class TestFileStore:
    def test_download_files_sharded_and_idempotent(self, spark, tmp_path):
        from datagrowth_spark.sources.files import download_files, shard_path

        root = str(tmp_path / "blobs")
        df = spark.createDataFrame(
            [("sig-a", "alpha content"), ("sig-b", "beta content"),
             ("sig-c", "alpha content"),  # duplicate content, distinct id
             ("sig-d", None)],
            ["signature", "body"],
        )
        manifest = {r.signature: r for r in download_files(df, root).collect()}

        import hashlib
        h_alpha = hashlib.sha256(b"alpha content").hexdigest()
        assert manifest["sig-a"].path == shard_path(root, h_alpha)
        assert manifest["sig-a"].size_bytes == 13
        with open(manifest["sig-a"].path, "rb") as fh:
            assert fh.read() == b"alpha content"
        # content-addressed: duplicate content -> same path, one blob
        assert manifest["sig-c"].path == manifest["sig-a"].path
        assert manifest["sig-d"].path is None and manifest["sig-d"].written is False
        # two-level hex sharding
        rel = os.path.relpath(manifest["sig-b"].path, root)
        parts = rel.split(os.sep)
        assert parts[0] == manifest["sig-b"].content_hash[0]
        assert parts[1] == manifest["sig-b"].content_hash[1:3]
        # idempotent replay: nothing rewritten
        again = {r.signature: r for r in download_files(df, root).collect()}
        assert not any(r.written for r in again.values() if r.path)


class TestBucketing:
    def test_bucketed_join_has_no_shuffle(self, spark):
        from datagrowth_spark.sources.bucketing import bucketed_join, save_bucketed

        left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
        right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
        save_bucketed(left, "bkt_left", "k", buckets=4)
        save_bucketed(right, "bkt_right", "k", buckets=4)
        # force the sort-merge path so the bucketing (not a broadcast)
        # is what eliminates the exchanges
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bucketed_join(spark, "bkt_left", "bkt_right", "k")
            assert joined.count() == 1000
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # contrast: the same join on plain frames DOES shuffle
            shuffled = left.join(right, "k")
            shuffled.count()
            plan2 = shuffled._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plan2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS bkt_left")
            spark.sql("DROP TABLE IF EXISTS bkt_right")


class TestRetryBackoff:
    def test_fetch_retries_throttled_then_caches(self, spark, tmp_path):
        """Reference backoff semantics (http/generic.py:541-563): retry
        on 429 through the delay schedule, cache the final result."""
        attempts_log = str(tmp_path / "attempts.log")

        def flaky_transport(method, url, headers, data,
                            _log=attempts_log):
            # executors run in separate python workers: count via file
            with open(_log, "a") as fh:
                fh.write("x\n")
            with open(_log) as fh:
                n = len(fh.readlines())
            if n < 3:
                return 429, {}, "slow down"
            return 200, {"ok": "yes"}, '{"fine": true}'

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        reqs = requests_to_df(spark, [http_request("http://mockapi/flaky")])
        out = fetch(reqs, cache, transport=flaky_transport,
                    backoff_delays=[0, 0, 0], fetch_partitions=1).collect()
        assert len(out) == 1 and out[0].status == 200
        with open(attempts_log) as fh:
            assert len(fh.readlines()) == 3  # 2 throttled + 1 success
        # replay: served from cache, no new attempts
        again = fetch(reqs, cache, transport=flaky_transport).collect()
        assert again[0].status == 200
        with open(attempts_log) as fh:
            assert len(fh.readlines()) == 3


class TestTika:
    """R8: Tika-style binary-document text extraction
    (datagrowth/resources/shell/apache/tika.py:35-60 and
    datagrowth/vendors/apache/tika/resources.py:36-120) — content-hash
    signatures, cached fetch, text joined back by signature."""

    @staticmethod
    def _docs(spark, tmp_path):
        blobs = {"a": b"PDFISH alpha body", "b": b"PDFISH beta body"}
        rows = []
        for name, content in blobs.items():
            p = str(tmp_path / f"{name}.bin")
            with open(p, "wb") as fh:
                fh.write(content)
            rows.append((name, bytearray(content), p))
        return spark.createDataFrame(rows, "doc_id string, content binary, path string")

    def test_binary_signature_col_matches_driver(self, spark, tmp_path):
        from datagrowth_spark.sources.tika import binary_signature, binary_signature_col

        df = self._docs(spark, tmp_path)
        got = {r.doc_id: r.sig for r in
               df.select("doc_id", binary_signature_col("content").alias("sig")).collect()}
        assert got["a"] == binary_signature(b"PDFISH alpha body")
        assert got["a"].endswith(":17") and len(got["a"]) == 64 + 1 + 2

    def test_extract_text_server_mode_cached(self, spark, tmp_path):
        from datagrowth_spark.sources.tika import extract_text

        calls_log = str(tmp_path / "tika_calls.log")

        def fake_tika(method, url, headers, data, _log=calls_log):
            # data carries the reference's bin://file:// indirection
            assert method == "PUT" and url.endswith("/tika")
            ref = data["file"]
            assert ref.startswith("bin://file://")
            with open(_log, "a") as fh:
                fh.write(ref + "\n")
            with open(ref[len("bin://file://"):], "rb") as fh:
                body = fh.read()
            return 200, {"Content-Type": "text/plain"}, body.decode().replace("PDFISH ", "")

        cache = ResourceCache(spark, str(tmp_path / "tika_cache"))
        out = extract_text(self._docs(spark, tmp_path), cache, transport=fake_tika)
        rows = {r.doc_id: r for r in out.collect()}
        assert rows["a"].text == "alpha body" and rows["b"].text == "beta body"
        assert rows["a"].text_status == 200
        with open(calls_log) as fh:
            assert len(fh.readlines()) == 2

        # Replay (even via a moved path column) hits the cache: the
        # signature is the content hash, not the path.
        moved = self._docs(spark, tmp_path).withColumn(
            "path", F.concat(F.col("path"), F.lit(".moved")))
        again = extract_text(moved, cache, transport=fake_tika)
        assert {r.text for r in again.collect()} == {"alpha body", "beta body"}
        with open(calls_log) as fh:
            assert len(fh.readlines()) == 2  # no new transport calls

    def test_shell_mode_requests_and_stub(self, spark, tmp_path):
        from datagrowth_spark.sources.cache import shell_transport
        from datagrowth_spark.sources.tika import (
            extract_text, stub_tika_transport, tika_shell_requests)

        df = self._docs(spark, tmp_path)
        reqs = tika_shell_requests(df, tika_jar="/opt/tika.jar").collect()
        cmd = json.loads(reqs[0].url)
        assert cmd[:4] == ["java", "-jar", "/opt/tika.jar", "--text"]
        assert reqs[0].method == "shell"

        # Default transport is an explicit stub (Tika not in container).
        with pytest.raises(NotImplementedError):
            stub_tika_transport("PUT", "http://localhost:9998/tika", {}, "bin://file:///x")

        # The shell path still works end-to-end with a real subprocess
        # transport standing in for the jar (cat == identity "extract").
        def cat_transport(method, url, headers, data):
            cmd = json.loads(url)
            return shell_transport(method, json.dumps(["cat", cmd[-1]]), headers, data)

        cache = ResourceCache(spark, str(tmp_path / "shell_cache"))
        out = extract_text(df, cache, mode="shell", transport=cat_transport)
        rows = {r.doc_id: r for r in out.collect()}
        assert rows["b"].text == "PDFISH beta body" and rows["b"].text_status == 0

    def test_tika_shell_transport_runs_argv(self):
        import sys

        from datagrowth_spark.sources.tika import tika_shell_transport

        status, _, body = tika_shell_transport(
            "shell", json.dumps([sys.executable, "-c", "print('extracted text')"]),
            None, None)
        assert status == 0 and body.strip() == "extracted text"
        status, _, _ = tika_shell_transport(
            "shell", json.dumps([sys.executable, "-c", "raise SystemExit(3)"]),
            None, None)
        assert status == 3

    def test_tika_server_transport_puts_file_bytes(self, spark, tmp_path):
        # A local stand-in tika-server: accepts PUT, returns the body
        # lowercased — proves the bin://file:// indirection resolves to
        # the file bytes and the HTTP round-trip works end-to-end.
        import http.server
        import threading

        from datagrowth_spark.sources.tika import extract_text, tika_server_transport

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_PUT(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                out = body.decode().replace("PDFISH ", "").encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            def log_message(self, *args):
                pass

        server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
        thread = threading.Thread(target=server.serve_forever, daemon=True)
        thread.start()
        try:
            url = f"http://127.0.0.1:{server.server_port}"
            cache = ResourceCache(spark, str(tmp_path / "tika_srv_cache"))
            docs = self._docs(spark, tmp_path)
            out = extract_text(docs, cache, transport=tika_server_transport,
                               server_url=url)
            rows = {r.doc_id: r for r in out.collect()}
            assert rows["a"].text == "alpha body" and rows["a"].text_status == 200
        finally:
            server.shutdown()
            server.server_close()


class TestCorpusFiles:
    def test_read_jsonl_collection(self, spark, tmp_path):
        from datagrowth_spark.sources.files import read_jsonl_collection

        src = tmp_path / "corpus.jsonl"
        src.write_text(
            '{"id": 1, "text": "alpha", "meta": {"lang": "en"}}\n'
            '{"id": 2, "text": "beta", "meta": {"lang": "de"}}\n'
        )
        coll = read_jsonl_collection(spark, str(src), identifier="id")
        rows = sorted(coll.content(), key=lambda r: r["id"])
        assert len(rows) == 2
        assert rows[0]["text"] == "alpha"
        assert rows[0]["meta"] == {"lang": "en"}  # nesting survives
        assert rows[0]["_id"] == "1"

    def test_read_jsonl_column_pruning(self, spark, tmp_path):
        from datagrowth_spark.sources.files import read_jsonl_collection

        src = tmp_path / "c.jsonl"
        src.write_text('{"id": 1, "text": "x", "junk": "drop me"}\n')
        coll = read_jsonl_collection(spark, str(src), identifier="id",
                                     columns=["id", "text"])
        assert coll.content() == [{"id": 1, "text": "x", "_id": "1"}]

    def test_write_corpus_layout(self, spark, tmp_path):
        import glob

        from datagrowth_spark.sources.files import write_corpus

        df = spark.range(100).selectExpr("id", "id % 2 AS part")
        out = str(tmp_path / "corpus")
        write_corpus(df, out, partition_by=["part"])
        # one task per partition value -> one data file per directory
        for p in (0, 1):
            files = glob.glob(f"{out}/part={p}/*.parquet")
            assert len(files) == 1, files
        # re-splitting oversized partitions
        out2 = str(tmp_path / "corpus2")
        write_corpus(df, out2, partition_by=["part"], target_records_per_file=20)
        files = glob.glob(f"{out2}/part=0/*.parquet")
        assert len(files) == 3  # 50 rows / 20 per file
        total = spark.read.parquet(out2).count()
        assert total == 100

    def test_read_jsonl_quarantine_splits_corrupt_lines(self, spark, tmp_path):
        from datagrowth_spark.sources.files import read_jsonl_collection

        src = tmp_path / "dirty.jsonl"
        src.write_text(
            '{"id": 1, "text": "good"}\n'
            '{"id": 2, "text": "truncated...\n'
            'not json at all\n'
            '{"id": 3, "text": "also good"}\n'
        )
        coll, bad = read_jsonl_collection(spark, str(src), identifier="id",
                                          quarantine=True)
        rows = sorted(coll.content(), key=lambda r: r["id"])
        assert [r["id"] for r in rows] == [1, 3]
        bad_lines = sorted(r["raw_line"] for r in bad.collect())
        assert len(bad_lines) == 2
        assert "not json at all" in bad_lines
        assert any(line.startswith('{"id": 2') for line in bad_lines)

    def test_read_jsonl_quarantine_clean_file_empty_bad(self, spark, tmp_path):
        from datagrowth_spark.sources.files import read_jsonl_collection

        src = tmp_path / "clean.jsonl"
        src.write_text('{"id": 1, "text": "x"}\n')
        coll, bad = read_jsonl_collection(spark, str(src), identifier="id",
                                          quarantine=True)
        assert bad.count() == 0
        assert len(coll.content()) == 1

    def test_write_range_sorted_global_order(self, spark, tmp_path):
        import glob

        from datagrowth_spark.sources.files import write_range_sorted

        df = spark.range(10_000).selectExpr("CAST(pmod(id * 2654435761, 10000) AS BIGINT) AS k")
        out = str(tmp_path / "sorted")
        write_range_sorted(df, out, ["k"], num_ranges=8)
        files = sorted(glob.glob(f"{out}/part-*.parquet"))
        assert len(files) == 8
        # file-internal sort AND cross-file range order = global order
        prev_max = None
        import pyarrow.parquet as pq
        for f in files:
            ks = pq.read_table(f).column("k").to_pylist()
            assert ks == sorted(ks)
            if prev_max is not None and ks:
                assert ks[0] >= prev_max
            if ks:
                prev_max = ks[-1]

    def test_zorder_key_interleaves_exact_tiles(self, spark):
        """bits=1, two dims: z = 2*(tile_a - 1) + (tile_b - 1), so the
        four quadrants of the (a, b) plane map to z 0-3 — checked
        against exact medians on an adversarial (anti-correlated)
        layout."""
        from datagrowth_spark.sources.files import add_zorder_key

        df = spark.range(1_000).selectExpr(
            "id", "CAST(id AS DOUBLE) AS a", "CAST(999 - id AS DOUBLE) AS b")
        z = {r["id"]: r["zkey"]
             for r in add_zorder_key(df, ["a", "b"], ("id",), bits=1).collect()}
        for i in range(1_000):
            quad = 2 * (1 if i >= 500 else 0) + (1 if (999 - i) >= 500 else 0)
            assert z[i] == quad, (i, z[i], quad)

    def test_write_zordered_clusters_every_dimension(self, spark, tmp_path):
        """Files from a z-ordered export must each cover a small slice
        of BOTH dimensions — the property that makes parquet min/max
        stats prune on either predicate, where a plain sort only serves
        its leading column."""
        import glob

        import pyarrow.parquet as pq

        from datagrowth_spark.sources.files import write_zordered

        n, files = 32_768, 16
        # Decorrelated dims: a is sequential, b is a multiplicative
        # permutation — every (a, b) region is populated.
        df = spark.range(n).selectExpr(
            "id", "CAST(id AS BIGINT) AS a",
            f"CAST(pmod(id * 2654435761, {n}) AS BIGINT) AS b")
        out = str(tmp_path / "zorder")
        write_zordered(df, out, ["a", "b"], ("id",), bits=4, num_files=files)

        got = sorted(glob.glob(f"{out}/part-*.parquet"))
        assert len(got) == files
        for col in ("a", "b"):
            spans = []
            for f in got:
                vals = pq.read_table(f, columns=[col]).column(col).to_pylist()
                spans.append((max(vals) - min(vals)) / n)
            # 16 files over a 16x16 Morton grid: an aligned 16-cell run
            # is a 4x4 block (span 0.25/dim); range-boundary sampling
            # shifts runs so some files straddle bit flips (up to the
            # one full-span file crossing the top-order flip — inherent
            # to z-curves). A plain a-sort leaves EVERY file's b-span
            # at ~1.0; assert the distribution stays clustered under
            # any boundary alignment.
            spans.sort()
            assert spans[len(spans) // 2] < 0.40, (col, spans)   # median
            assert sum(spans) / len(spans) < 0.50, (col, spans)  # mean
        assert spark.read.parquet(out).count() == n


class TestFetchFaultInjection:
    """Crash-consistency of the one stateful component every pipeline
    trusts (r4 verdict item 4): the cache must never serve half-written
    rows, replays must be idempotent, and a signature must never fire
    the transport once a committed success exists."""

    def _reqs(self, spark, urls):
        return requests_to_df(spark, [http_request(u) for u in urls])

    def test_midbatch_crash_commits_nothing_and_replay_heals(self, spark, tmp_path):
        from mock_transports import counting_transport, transport_calls

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        log1 = str(tmp_path / "calls1")
        urls = [f"http://mockapi/item/{i}" for i in range(6)] + [
            "http://mockapi/boom"]

        # Seed the cache with one good batch first so the crash case
        # exercises "append onto a live cache", not the cold path.
        fetch(self._reqs(spark, urls[:2]), cache,
              transport=counting_transport(log1))
        assert cache.read().count() == 2

        # Mid-batch transport exception after some partition rows were
        # already produced: the append job aborts, the parquet commit
        # protocol publishes NOTHING, and the cache stays readable with
        # exactly the previously committed rows.
        with pytest.raises(Exception):
            fetch(self._reqs(spark, urls), cache,
                  transport=counting_transport(
                      str(tmp_path / "calls2"), fail_urls=("boom",)))
        assert cache.read().count() == 2
        assert cache.read().where(F.col("body").isNull()).count() == 0

        # Replay with a healthy transport: only the 5 uncommitted
        # requests fire (the 2 committed ones are hits), everything
        # lands in the cache exactly once.
        log3 = str(tmp_path / "calls3")
        out = fetch(self._reqs(spark, urls), cache,
                    transport=counting_transport(log3))
        assert out.count() == 7
        fired = transport_calls(log3)
        assert sorted(fired) == sorted(urls[2:])
        per_sig = (cache.read().groupBy("signature").count()
                   .where(F.col("count") > 1).count())
        assert per_sig == 0

        # Third pass: pure replay, zero transport invocations.
        log4 = str(tmp_path / "calls4")
        out2 = fetch(self._reqs(spark, urls), cache,
                     transport=counting_transport(log4))
        assert out2.count() == 7
        assert transport_calls(log4) == []

    def test_duplicate_signature_rows_served_once_never_refetched(self, spark, tmp_path):
        """A retried/zombie partition can double-append the same
        signature (at-least-once append). latest() must serve exactly
        one row (newest fetch wins) and the signature must never hit
        the transport again."""
        import datetime

        from mock_transports import counting_transport, transport_calls

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        url = "http://mockapi/item/7"
        req = http_request(url)
        t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
        rows = [
            {**req, "status": 200, "head": "{}", "body": "old",
             "fetched_at": t0, "purge_at": None, "chain": req["signature"]},
            {**req, "status": 200, "head": "{}", "body": "new",
             "fetched_at": t0 + datetime.timedelta(seconds=5),
             "purge_at": None, "chain": req["signature"]},
        ]
        from datagrowth_spark.sources.cache import RESPONSE_SCHEMA
        cache.append(spark.createDataFrame(rows, RESPONSE_SCHEMA))
        assert cache.read().count() == 2

        log = str(tmp_path / "calls")
        out = fetch(self._reqs(spark, [url]), cache,
                    transport=counting_transport(log))
        got = out.collect()
        assert len(got) == 1 and got[0]["body"] == "new"
        assert transport_calls(log) == []

    def test_purge_expiry_races_read_then_refetch(self, spark, tmp_path):
        """A row whose purge_at passes between two reads must drop out
        of the served set and be refetched — never served stale, never
        half-removed. Deterministic (r7 verdict item 1): the TTL clock
        is INJECTED, so expiry is advanced explicitly instead of racing
        wall-clock Spark job latency against a 1 s TTL (the r5-era
        version failed reliably on a loaded box)."""
        import datetime

        from mock_transports import counting_transport, transport_calls

        class _Clock:
            """Mutable frozen clock; the cache re-reads it per plan."""

            def __init__(self, t):
                self.t = t

            def __call__(self):
                return self.t

        clock = _Clock(datetime.datetime(2026, 1, 1, 12, 0, 0))
        cache = ResourceCache(spark, str(tmp_path / "cache"), now_fn=clock)
        url = "http://mockapi/item/9"
        log1 = str(tmp_path / "calls1")
        fetch(self._reqs(spark, [url]), cache,
              transport=counting_transport(log1), purge_after_seconds=1.0)
        assert len(transport_calls(log1)) == 1
        assert cache.read().count() == 1  # still live

        # Replay inside the TTL: served from cache, no transport —
        # however slow the box is, the clock has not moved.
        log2 = str(tmp_path / "calls2")
        fetch(self._reqs(spark, [url]), cache,
              transport=counting_transport(log2)).collect()
        assert transport_calls(log2) == []

        clock.t += datetime.timedelta(seconds=2)  # TTL passes
        assert cache.read().count() == 0  # expired row filtered at read

        log3 = str(tmp_path / "calls3")
        out = fetch(self._reqs(spark, [url]), cache,
                    transport=counting_transport(log3))
        assert len(transport_calls(log3)) == 1  # refetched exactly once
        assert out.count() == 1
        # Raw table holds both generations; vacuum drops the corpse.
        raw = spark.read.option("recursiveFileLookup", "true").parquet(cache.path)
        assert raw.count() == 2
        cache.vacuum()
        assert spark.read.option("recursiveFileLookup", "true") \
            .parquet(cache.path).count() == 1
        assert cache.read().count() == 1


class TestPaginationRelational:
    """The scale-path pagination driver (no driver-sized structures):
    same semantics as the driver walker on every pagination shape, plus
    a 100k-chain run with flat driver memory (r4 verdict item 5)."""

    @staticmethod
    def _next_request(response):
        body = json.loads(response["body"])
        if body.get("next_page") is not None:
            return http_request("http://mockapi/entities",
                                params={"page": body["next_page"]})
        return None

    def test_walks_all_pages(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        first = [http_request("http://mockapi/entities", params={"page": 0})]
        out = paginated_fetch(spark, cache, first, self._next_request,
                              continuation_limit=10, relational=True,
                              transport=mock_api_transport)
        pages = out.collect()
        assert len(pages) == 4
        seen = {e["id"] for p in pages for e in json.loads(p["body"])["results"]}
        assert seen == set(range(TOTAL))

    def test_continuation_limit_bounds_pages(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        first = [http_request("http://mockapi/entities", params={"page": 0})]
        out = paginated_fetch(spark, cache, first, self._next_request,
                              continuation_limit=2, relational=True,
                              transport=mock_api_transport)
        assert out.count() == 2

    def test_warm_replay_fires_no_transport(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        first = [http_request("http://mockapi/entities", params={"page": 0})]
        paginated_fetch(spark, cache, first, self._next_request,
                        continuation_limit=10, relational=True,
                        transport=mock_api_transport).count()

        from mock_transports import counting_transport, transport_calls
        log = str(tmp_path / "calls")
        out = paginated_fetch(spark, cache, first, self._next_request,
                              continuation_limit=10, relational=True,
                              transport=counting_transport(log))
        assert out.count() == 4
        assert transport_calls(log) == []

    def test_resumed_chain_respects_remaining_budget(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        first = [http_request("http://mockapi/entities", params={"page": 0})]
        paginated_fetch(spark, cache, first, self._next_request,
                        continuation_limit=2, relational=True,
                        transport=mock_api_transport).count()

        from mock_transports import counting_transport, transport_calls
        log = str(tmp_path / "calls")
        out = paginated_fetch(spark, cache, first, self._next_request,
                              continuation_limit=3, relational=True,
                              transport=counting_transport(log))
        assert out.count() == 3
        calls = transport_calls(log)
        assert len(calls) == 1 and "page=2" in calls[0]

    def test_matches_driver_walker(self, spark, tmp_path):
        """Same mock crawl through both drivers → identical page sets."""
        first = [http_request("http://mockapi/entities", params={"page": 0}),
                 http_request("http://mockapi/entities",
                              params={"page": 0, "deletes": 5})]
        c1 = ResourceCache(spark, str(tmp_path / "c1"))
        c2 = ResourceCache(spark, str(tmp_path / "c2"))
        a = paginated_fetch(spark, c1, first, self._next_request,
                            continuation_limit=10, relational=False,
                            transport=mock_api_transport)
        b = paginated_fetch(spark, c2, first, self._next_request,
                            continuation_limit=10, relational=True,
                            transport=mock_api_transport)
        sa = {r["signature"] for r in a.select("signature").collect()}
        sb = {r["signature"] for r in b.select("signature").collect()}
        # The deletes=5 chain converges onto the plain chain after its
        # head page (next_request drops the param): 4 shared + 1 head.
        assert sa == sb and len(sa) == 5

    @pytest.mark.slow
    def test_100k_chains_flat_driver_memory(self, spark, tmp_path):
        """100k distinct chains x 2 pages, request frame built
        EXECUTOR-side: the driver never holds a request list, an edge
        dict, or a page-signature list — peak Python allocation during
        the crawl stays bounded (a driver-dict walker would hold
        ~200k signatures + edges, tens of MB)."""
        import tracemalloc

        from mock_transports import chain_next_request, mock_chain_transport

        n = 100_000
        cache = ResourceCache(spark, str(tmp_path / "cache"))

        def build(batches):
            import pandas as pd

            for batch in batches:
                rows = [http_request(f"http://mockchain/{int(i)}/0")
                        for i in batch["id"]]
                yield pd.DataFrame(rows)

        from datagrowth_spark.sources.cache import REQUEST_SCHEMA
        reqs_df = spark.range(n).mapInPandas(build, schema=REQUEST_SCHEMA)

        tracemalloc.start()
        base, _ = tracemalloc.get_traced_memory()
        out = paginated_fetch(spark, cache, reqs_df, chain_next_request,
                              continuation_limit=5,
                              transport=mock_chain_transport,
                              backoff_delays=[])
        total = out.count()
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert total == 2 * n
        assert (peak - base) < 20 * 1024 * 1024, f"driver peak {peak - base}"


class TestTikaRuntimeGate:
    """r4 verdict item 6: detect java / tika at runtime; run the real
    extraction when present, a java-executed stand-in jar e2e where only
    the JDK is present, and skip cleanly otherwise."""

    def test_detect_shell_mode_via_env(self, tmp_path, monkeypatch):
        from datagrowth_spark.sources.tika import detect_tika

        jar = tmp_path / "tika-app.jar"
        jar.write_bytes(b"not really a jar")
        monkeypatch.setenv("TIKA_APP_JAR", str(jar))
        assert detect_tika(server_url="http://localhost:1") == ("shell", str(jar))

    def test_detect_none_when_absent(self, monkeypatch):
        from datagrowth_spark.sources.tika import detect_tika

        monkeypatch.delenv("TIKA_APP_JAR", raising=False)
        monkeypatch.delenv("TIKA_SERVER_URL", raising=False)
        # Port 1 refuses instantly — no tika-server, no jar.
        assert detect_tika(server_url="http://localhost:1") is None

    @staticmethod
    def _build_echo_jar(tmp_path) -> str:
        """Compile a stand-in 'tika-app' jar: reads the file named by
        its LAST argv element and prints FAKETIKA:<content> — same argv
        contract as `java -jar tika-app.jar --text <path>`."""
        import subprocess

        src = tmp_path / "FakeTika.java"
        src.write_text(
            "public class FakeTika {\n"
            "  public static void main(String[] args) throws Exception {\n"
            "    String path = args[args.length - 1];\n"
            "    byte[] b = java.nio.file.Files.readAllBytes("
            "java.nio.file.Path.of(path));\n"
            "    System.out.write((\"FAKETIKA:\" + new String(b, \"UTF-8\"))"
            ".getBytes(\"UTF-8\"));\n"
            "  }\n}\n")
        subprocess.run(["javac", str(src)], cwd=tmp_path, check=True)
        jar = tmp_path / "faketika.jar"
        subprocess.run(["jar", "cfe", str(jar), "FakeTika", "FakeTika.class"],
                       cwd=tmp_path, check=True)
        return str(jar)

    @pytest.mark.skipif(
        __import__("shutil").which("javac") is None
        or __import__("shutil").which("java") is None,
        reason="JDK not available")
    def test_shell_pipeline_executes_real_java(self, spark, tmp_path):
        """Full shell-mode pipeline with a REAL java subprocess: request
        templating -> cached fetch -> argv execution -> text joined back
        by content-hash signature; replay serves from cache without
        re-running java."""
        from datagrowth_spark.sources.tika import extract_text, tika_shell_transport

        jar = self._build_echo_jar(tmp_path)
        docs = TestTika._docs(spark, tmp_path)
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        out = extract_text(docs, cache, mode="shell",
                           transport=tika_shell_transport, tika_jar=jar)
        got = {r["doc_id"]: (r["text"], r["text_status"]) for r in out.collect()}
        assert got["a"] == ("FAKETIKA:PDFISH alpha body", 0)
        assert got["b"] == ("FAKETIKA:PDFISH beta body", 0)

        # Replay: same signatures hit the cache; java never re-runs
        # (prove it by replaying with the guaranteed-failing stub).
        from datagrowth_spark.sources.tika import stub_tika_transport
        out2 = extract_text(docs, cache, mode="shell",
                            transport=stub_tika_transport, tika_jar=jar)
        got2 = {r["doc_id"]: r["text"] for r in out2.collect()}
        assert got2 == {"a": "FAKETIKA:PDFISH alpha body",
                        "b": "FAKETIKA:PDFISH beta body"}

    @pytest.mark.skipif(
        __import__("datagrowth_spark.sources.tika", fromlist=["detect_tika"])
        .detect_tika() is None,
        reason="no real tika-app.jar ($TIKA_APP_JAR) or tika-server found")
    def test_real_tika_extraction(self, spark, tmp_path):
        """Live end-to-end against a REAL Apache Tika (jar or server).
        Skips wherever neither is installed; in a Tika-equipped
        environment this extracts text from a real document through the
        full cached pipeline."""
        from datagrowth_spark.sources.tika import (
            detect_tika,
            extract_text,
            tika_server_transport,
            tika_shell_transport,
        )

        mode, loc = detect_tika()
        body = b"Real Tika gate test: the quick brown fox."
        p = str(tmp_path / "doc.txt")
        with open(p, "wb") as fh:
            fh.write(body)
        docs = spark.createDataFrame(
            [("d", bytearray(body), p)], "doc_id string, content binary, path string")
        cache = ResourceCache(spark, str(tmp_path / "cache"))
        if mode == "shell":
            out = extract_text(docs, cache, mode="shell",
                               transport=tika_shell_transport, tika_jar=loc)
        else:
            out = extract_text(docs, cache, mode="server",
                               transport=tika_server_transport, server_url=loc)
        row = out.collect()[0]
        assert row["text"] is not None and "quick brown fox" in row["text"]


class TestConcurrentAppend:
    def test_parallel_fetches_share_one_cache(self, spark, tmp_path):
        """Four threads fetch disjoint url sets into ONE cache
        concurrently (the same-path parquet-append hazard: concurrent
        jobs sharing _temporary can delete each other's staged files).
        With atomic batch-dir publishes every row must land exactly
        once and the cache must stay readable throughout."""
        import threading

        from mock_transports import counting_transport, transport_calls

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        log = str(tmp_path / "calls")
        errors = []
        barrier = threading.Barrier(4, timeout=60)

        def work(k):
            try:
                urls = [f"http://mockapi/item/{k}-{i}" for i in range(10)]
                reqs = requests_to_df(spark, [http_request(u) for u in urls])
                barrier.wait()
                out = fetch(reqs, cache, transport=counting_transport(log))
                assert out.count() == 10
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)

        threads = [threading.Thread(target=work, args=(k,)) for k in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
        assert not errors, errors
        assert cache.read().count() == 40
        assert len(transport_calls(log)) == 40  # each url fetched once
        dup = (cache.read().groupBy("signature").count()
               .where(F.col("count") > 1).count())
        assert dup == 0
        # No staging debris left behind; vacuum keeps all live rows.
        cache.vacuum()
        assert cache.read().count() == 40


def test_cache_mixed_flat_and_batch_layouts(spark, tmp_path):
    """A cache written by the pre-r5 flat layout (parquet files directly
    in the cache dir) must keep serving after batch-dir appends land
    beside it — recursive reads see both generations."""
    import datetime

    from datagrowth_spark.sources.cache import RESPONSE_SCHEMA

    path = str(tmp_path / "cache")
    old_req = http_request("http://mockapi/item/old")
    t0 = datetime.datetime(2026, 1, 1)
    old_row = {**old_req, "status": 200, "head": "{}", "body": "legacy",
               "fetched_at": t0, "purge_at": None, "chain": old_req["signature"]}
    # Simulate the pre-r5 layout: flat files in the cache root.
    spark.createDataFrame([old_row], RESPONSE_SCHEMA) \
        .write.mode("append").parquet(path)

    cache = ResourceCache(spark, path)
    assert cache.read().count() == 1
    new_url = "http://mockapi/entities/3"
    out = fetch(requests_to_df(spark, [http_request(new_url)]), cache,
                transport=mock_api_transport)
    assert out.count() == 1
    rows = {r["body"] for r in cache.read().collect()}
    assert "legacy" in rows and len(rows) == 2
    # Old row still a hit: no transport fires for it.
    from mock_transports import counting_transport, transport_calls
    log = str(tmp_path / "calls")
    fetch(requests_to_df(spark, [old_req, http_request(new_url)]), cache,
          transport=counting_transport(log)).collect()
    assert transport_calls(log) == []


class TestRelationalStitching:
    """The documented corner of the relational walker: a chain that
    converges INTO a segment cached under a foreign chain head must
    recover the shared tail from cache (no refetch) within the round
    guard."""

    @staticmethod
    def _next(response):
        body = json.loads(response["body"])
        if body.get("next_page") is not None:
            return http_request("http://mockapi/entities",
                                params={"page": body["next_page"]})
        return None

    def test_converging_chain_reuses_foreign_cached_tail(self, spark, tmp_path):
        from mock_transports import counting_transport, transport_calls

        cache = ResourceCache(spark, str(tmp_path / "cache"))
        # Crawl A: full chain from page 0 (pages 0-3 cached, chained
        # under page 0's signature).
        a = [http_request("http://mockapi/entities", params={"page": 0})]
        paginated_fetch(spark, cache, a, self._next, continuation_limit=10,
                        relational=True, transport=mock_api_transport).count()

        # Crawl B starts at page 1 — a MID-CHAIN entry whose every page
        # is cached under A's head. Only relational-walk lookups may
        # run; zero transports.
        log = str(tmp_path / "calls")
        b = [http_request("http://mockapi/entities", params={"page": 1})]
        out = paginated_fetch(spark, cache, b, self._next,
                              continuation_limit=10, relational=True,
                              transport=counting_transport(log))
        assert out.count() == 3  # pages 1, 2, 3
        assert transport_calls(log) == []
        # (A chain whose MISS head leads into cached territory walks
        # live by design — the worker cannot consult the cache
        # mid-walk; budget bounds the politeness cost and latest()
        # dedupes the re-appended rows. Stitching applies to cursors
        # that reach cached pages BEFORE a miss, as crawl B does.)


def test_relational_pagination_refetches_cached_failures(spark, tmp_path):
    """The relational walker's miss detection must mirror fetch()'s hit
    rule: a cached transient failure is NOT a hit — the signature is
    re-sent and recovers (code-review finding: the anti-join previously
    matched failure rows, shadowing the chain end forever)."""
    fail_log = str(tmp_path / "fail.log")

    def flaky(method, url, headers, data, _log=fail_log):
        with open(_log, "a") as fh:
            fh.write(url + "\n")
        with open(_log) as fh:
            n = len(fh.readlines())
        if n == 1:
            return 503, {}, ""  # first contact: transient failure
        return mock_api_transport(method, url, headers, data)

    def next_request(response):
        body = json.loads(response["body"] or "{}")
        if body.get("next_page") is not None:
            return http_request("http://mockapi/entities",
                                params={"page": body["next_page"]})
        return None

    cache = ResourceCache(spark, str(tmp_path / "cache"))
    first = [http_request("http://mockapi/entities", params={"page": 0})]
    out1 = paginated_fetch(spark, cache, first, next_request,
                           continuation_limit=10, relational=True,
                           transport=flaky, backoff_delays=[],
                           fetch_partitions=1)
    assert out1.count() == 1  # the 503 head; chain cannot continue

    out2 = paginated_fetch(spark, cache, first, next_request,
                           continuation_limit=10, relational=True,
                           transport=flaky, backoff_delays=[],
                           fetch_partitions=1)
    pages = out2.collect()
    assert len(pages) == 4  # recovered: full chain
    assert all(p["status"] == 200 for p in pages)


def test_paginated_fetch_rejects_dataframe_with_driver_walker(spark, tmp_path):
    """ADVICE r5: a DataFrame `requests` with an explicit
    relational=False used to fall into `list(requests)`, which yields
    the frame's Column objects — fail loudly at the boundary instead."""
    cache = ResourceCache(spark, str(tmp_path / "cache"))
    reqs_df = requests_to_df(
        spark, [http_request("http://mockapi/entities", params={"page": 0})])
    with pytest.raises(TypeError, match="relational walker"):
        paginated_fetch(spark, cache, reqs_df, None,
                        continuation_limit=2, relational=False,
                        transport=mock_api_transport)


class TestCacheCompaction:
    """compact(): fold every entry into one flat latest-wins entry;
    signature lookups (latest(signatures=)) on every layout; crash and
    race behavior (r5 verdict item 2 + ADVICE r5 vacuum crash-safety)."""

    @staticmethod
    def _rows(spark, sigs, purge_at=None):
        import datetime as dt

        from datagrowth_spark.sources.cache import RESPONSE_SCHEMA

        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        return spark.createDataFrame(
            [(s, "GET", "u", None, None, 200, "{}", f"body {s[:4]}",
              now, purge_at, s) for s in sigs],
            RESPONSE_SCHEMA)

    @staticmethod
    def _sigs(n, tag="f"):
        return [f"{i:02x}{tag * 62}" for i in range(n)]

    def test_compact_reduces_entries_and_preserves_rows(self, spark, tmp_path):
        import glob

        cache = ResourceCache(spark, str(tmp_path / "c"))
        sigs = self._sigs(12)
        for i in range(6):
            cache.append(self._rows(spark, sigs[i * 2:(i + 1) * 2]))
        before = sorted(r["signature"] for r in cache.latest().collect())
        n_entries_before = sum(
            1 for n in os.listdir(cache.path) if n.startswith("batch-"))
        assert n_entries_before == 6
        removed = cache.compact()
        assert removed == 6
        names = [n for n in os.listdir(cache.path)
                 if not n.startswith((".", "_"))]
        assert len(names) == 1 and names[0].startswith("compact-")
        # flat layout: parquet files only, no partition subdirs
        compacted = os.path.join(cache.path, names[0])
        files = [f for f in os.listdir(compacted) if not f.startswith((".", "_"))]
        assert files and all(f.endswith(".parquet") for f in files)
        assert not any(os.path.isdir(os.path.join(compacted, f)) for f in files)
        after = sorted(r["signature"] for r in cache.latest().collect())
        assert after == before
        # a second compact folds the single entry into a fresh one
        assert cache.compact() == 1
        assert sorted(r["signature"] for r in cache.latest().collect()) == before
        assert glob.glob(cache.path + "/.staging-*") == []

    def test_compact_drops_expired_rows(self, spark, tmp_path):
        import datetime as dt

        cache = ResourceCache(spark, str(tmp_path / "c"))
        live = self._sigs(3, "a")
        dead = self._sigs(3, "b")
        past = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) \
            - dt.timedelta(days=1)
        cache.append(self._rows(spark, live))
        cache.append(self._rows(spark, dead, purge_at=past))
        cache.compact()
        got = sorted(r["signature"] for r in cache.latest().collect())
        assert got == sorted(live)

    @staticmethod
    def _sig_frame(spark, sigs):
        return spark.createDataFrame([(s,) for s in sigs], "signature string")

    def test_signature_lookup_same_on_every_layout(self, spark, tmp_path):
        """latest(signatures=) takes one path whatever the layout: an
        empty cache, one batch dir, a long crawl's worth of batch dirs
        holding duplicate rows, and a compacted cache all answer the
        same rows as the full-window reference."""
        import shutil

        cache = ResourceCache(spark, str(tmp_path / "c"))
        sigs = self._sigs(4, "a")
        want = sigs[1:3]
        lookup = self._sig_frame(spark, want + self._sigs(1, "0"))

        def check(expected):
            got = sorted(r["signature"] for r in cache.latest(signatures=lookup).collect())
            ref = sorted(r["signature"] for r in
                         cache.latest().join(lookup, "signature", "left_semi").collect())
            assert got == ref == sorted(expected)

        check([])
        cache.append(self._rows(spark, sigs))
        check(want)
        src = next(p for p in os.listdir(cache.path) if p.startswith("batch-"))
        for i in range(40):
            shutil.copytree(os.path.join(cache.path, src),
                            os.path.join(cache.path, f"batch-clone{i:04d}"))
        check(want)
        assert cache.compact() == 41
        check(want)

    def test_signature_lookup_on_compacted_cache(self, spark, tmp_path):
        """A lookup frame may repeat signatures and name unknown ones:
        the result holds each requested cached signature exactly once."""
        cache = ResourceCache(spark, str(tmp_path / "c"))
        sigs = self._sigs(16)
        cache.append(self._rows(spark, sigs))
        cache.compact()
        lookup = self._sig_frame(spark, sigs[:3] + sigs[:2] + self._sigs(2, "0"))
        got = sorted(r["signature"] for r in cache.latest(signatures=lookup).collect())
        assert got == sorted(sigs[:3])

    def test_pruned_lookup_spans_compacted_and_fresh_batches(self, spark, tmp_path):
        cache = ResourceCache(spark, str(tmp_path / "c"))
        old = self._sigs(4, "c")
        cache.append(self._rows(spark, old))
        cache.compact()
        fresh = self._sigs(4, "d")
        cache.append(self._rows(spark, fresh))  # post-compaction append
        want = [old[0], fresh[0]]
        got = sorted(r["signature"] for r in
                     cache.latest(signatures=self._sig_frame(spark, want)).collect())
        assert got == sorted(want)

    def test_signature_semi_join_planned_below_window(self, spark, tmp_path):
        """The signature frame is semi-joined into the scan BELOW the
        latest-wins window (Spark does not push a left_semi join through
        a Window), so the window sorts only the requested rows."""
        cache = ResourceCache(spark, str(tmp_path / "c"))
        sigs = self._sigs(6)
        cache.append(self._rows(spark, sigs))
        plan = cache.latest(signatures=self._sig_frame(spark, sigs[:2])) \
            ._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()
        window = next(i for i, line in enumerate(lines) if "Window [" in line)
        semi = next(i for i, line in enumerate(lines) if "Join LeftSemi" in line)
        assert window < semi, plan
        assert lines[semi].index("Join") > lines[window].index("Window"), plan

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_signature_lookup_matches_brute_force(self, spark, tmp_path, seed):
        """Random fetch histories — re-fetches, failures newer than
        successes, expired purge_at rows — spread over a legacy loose
        file without the chain column, batch dirs and a compact dir:
        latest(signatures=S) equals the full-window semi-join and a
        pure-Python latest-live-row reference."""
        import datetime as dt
        import random

        from datagrowth_spark.sources.cache import RESPONSE_SCHEMA

        rng = random.Random(seed)
        now = dt.datetime(2026, 1, 1)
        past, future = now - dt.timedelta(hours=1), now + dt.timedelta(hours=1)
        cache = ResourceCache(spark, str(tmp_path / "c"), now_fn=lambda: now)
        pool = self._sigs(10, "5")
        history = []

        def batch(n, forced=()):
            picks = [(rng.choice(pool), rng.choice([200, 200, 503]),
                      rng.choice([None, None, past, future])) for _ in range(n)]
            rows = []
            for sig, status, purge in picks + list(forced):
                tick = len(history) + len(rows) + 1
                rows.append((sig, "GET", "u", None, None, status, "{}", f"body {tick}",
                             now - dt.timedelta(minutes=1000 - tick), purge, sig))
            history.extend(rows)
            return spark.createDataFrame(rows, RESPONSE_SCHEMA)

        cache.append(batch(8, [(pool[0], 200, None), (pool[1], 200, None)]))
        for _ in range(2):
            cache.append(batch(8))
        cache.compact()
        legacy = str(tmp_path / "legacy")
        batch(6).drop("chain").coalesce(1).write.parquet(legacy)
        [part] = [f for f in os.listdir(legacy) if f.endswith(".parquet")]
        os.replace(os.path.join(legacy, part), os.path.join(cache.path, part))
        for _ in range(2):
            cache.append(batch(8))
        # newest rows: a failure over a success, an expired re-fetch
        cache.append(batch(8, [(pool[0], 503, None), (pool[1], 200, past)]))
        kinds = sorted(n.split("-")[0] for n in os.listdir(cache.path)
                       if not n.startswith((".", "_")))
        assert kinds == ["batch"] * 3 + ["compact", "part"]

        want_sigs = pool[:6]
        lookup = self._sig_frame(spark, want_sigs + want_sigs[:2] + self._sigs(1, "0"))
        ref = {}
        for r in history:
            live = r[9] is None or r[9] > now
            if live and r[0] in want_sigs and (r[0] not in ref or r[8] > ref[r[0]][8]):
                ref[r[0]] = r
        want = sorted((s, r[5], r[7]) for s, r in ref.items())
        assert ref[pool[0]][5] == 503 and ref[pool[1]][7] != history[-1][7]

        def key(df):
            return sorted((r["signature"], r["status"], r["body"]) for r in df.collect())

        assert key(cache.latest(signatures=lookup)) == want
        assert key(cache.latest().join(lookup, "signature", "left_semi")) == want
        assert {r["chain"] for r in cache.latest(signatures=lookup).collect()} <= set(pool)

    def test_legacy_sig_prefix_compact_dir_reads_and_folds(self, spark, tmp_path):
        """A compact dir written in the older sig_prefix=pXX partitioned
        layout reads back with the response columns only, serves
        signature lookups, and folds into the flat layout."""
        from datagrowth_spark.sources.cache import RESPONSE_SCHEMA

        cache = ResourceCache(spark, str(tmp_path / "c"))
        old = self._sigs(6, "b")
        self._rows(spark, old) \
            .withColumn("sig_prefix", F.concat(F.lit("p"), F.substring("signature", 1, 2))) \
            .write.partitionBy("sig_prefix").parquet(os.path.join(cache.path, "compact-legacy"))
        fresh = self._sigs(2, "c")
        cache.append(self._rows(spark, fresh))
        assert cache.latest().columns == [f.name for f in RESPONSE_SCHEMA.fields]
        assert sorted(r["signature"] for r in cache.latest().collect()) == sorted(old + fresh)
        got = cache.latest(signatures=self._sig_frame(spark, [old[1], fresh[0]]))
        assert sorted(r["signature"] for r in got.collect()) == sorted([old[1], fresh[0]])
        assert cache.compact() == 2
        [entry] = [n for n in os.listdir(cache.path) if not n.startswith((".", "_"))]
        assert entry.startswith("compact-") and entry != "compact-legacy"
        assert not any(n.startswith("sig_prefix=")
                       for n in os.listdir(os.path.join(cache.path, entry)))
        assert sorted(r["signature"] for r in cache.latest().collect()) == sorted(old + fresh)

    def test_crash_mid_compact_loses_nothing(self, spark, tmp_path, monkeypatch):
        """Crash at the publish rename: the old entries are untouched
        and only a hidden staging dir is left; vacuum() sweeps it.
        (ADVICE r5: the old vacuum overwrote the live directory in
        place and a crash lost the whole cache.)"""
        cache = ResourceCache(spark, str(tmp_path / "c"))
        sigs = self._sigs(8)
        for i in range(4):
            cache.append(self._rows(spark, sigs[i * 2:(i + 1) * 2]))
        real_replace = os.replace

        def boom(src, dst):
            if "/compact-" in str(dst):
                raise RuntimeError("simulated crash at publish")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            cache.compact()
        monkeypatch.undo()
        assert cache.latest().count() == 8  # nothing lost
        assert any(n.startswith(".staging-") for n in os.listdir(cache.path))
        cache.vacuum()
        assert cache.latest().count() == 8
        assert not any(n.startswith(".staging-") for n in os.listdir(cache.path))

    def test_compact_races_concurrent_appender(self, spark, tmp_path):
        """Compaction snapshots the entry list up front, so batches an
        appender publishes mid-compaction are neither folded nor
        deleted — every row survives."""
        import threading

        cache = ResourceCache(spark, str(tmp_path / "c"))
        base = self._sigs(9, "e")
        for i in range(3):
            cache.append(self._rows(spark, base[i * 3:(i + 1) * 3]))
        racing = self._sigs(4, "9")
        errors = []

        def appender():
            try:
                for s in racing:
                    cache.append(self._rows(spark, [s]))
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)

        t = threading.Thread(target=appender)
        t.start()
        cache.compact()
        t.join(timeout=120)
        assert not errors, errors
        got = sorted(r["signature"] for r in cache.latest().collect())
        assert got == sorted(base + racing)

    def test_fetch_pruned_path_matches_join_path(self, spark, tmp_path):
        """fetch's result goes through latest(signatures=); it must equal
        the full-window semi-join on the same signatures, on the flat
        cache and again after compaction."""
        cache = ResourceCache(spark, str(tmp_path / "c"))
        reqs = [http_request("http://mockapi/entities", params={"page": p})
                for p in range(3)]

        def rows(df):
            return sorted((r["signature"], r["body"]) for r in df.collect())

        for compacted in (False, True):
            if compacted:
                cache.compact()
            reqs_df = requests_to_df(spark, reqs)
            out = fetch(reqs_df, cache, transport=mock_api_transport,
                        backoff_delays=[], fetch_partitions=1,
                        cache_only=compacted)
            ref = cache.latest().join(reqs_df.select("signature"), "signature", "left_semi")
            assert len(rows(out)) == 3 and rows(out) == rows(ref)


#: Spark jobs of one warm fetch — 3 requests, all hits, on the mock
#: transport against a 3-batch cache (local[4], 4 shuffle partitions) —
#: and of collecting its result. The signature semi-joins below the
#: window take 2 AQE stage jobs; the cache is read with an explicit
#: schema, so no read pays a schema-inference job.
FETCH_JOB_BUDGET = 13
#: Spark jobs of ResourceCache.compact over a few small entries: the
#: latest-wins window's shuffle and the write it feeds, coalesced to the
#: footer-sized file count with no second shuffle; nothing counts rows.
CACHE_COMPACT_JOB_BUDGET = 2


class TestCacheJobs:
    @staticmethod
    def _three_batch_cache(spark, path):
        cache = ResourceCache(spark, path)
        reqs = [http_request("http://mockapi/entities", params={"page": p})
                for p in range(3)]
        for req in reqs:
            fetch(requests_to_df(spark, [req]), cache,
                  transport=mock_api_transport, backoff_delays=[])
        return cache, reqs

    def test_warm_fetch_within_job_budget(self, spark, tmp_path):
        cache, reqs = self._three_batch_cache(spark, str(tmp_path / "c"))
        reqs_df = requests_to_df(spark, reqs)
        rows, jobs = _jobs_in_group(spark, "warm-fetch", lambda: fetch(
            reqs_df, cache, transport=mock_api_transport, backoff_delays=[]).collect())
        assert len(jobs) <= FETCH_JOB_BUDGET, jobs
        assert sorted(r["signature"] for r in rows) == sorted(r["signature"] for r in reqs)

    def test_compact_within_job_budget(self, spark, tmp_path):
        cache, reqs = self._three_batch_cache(spark, str(tmp_path / "c"))
        removed, jobs = _jobs_in_group(spark, "cache-compact", cache.compact)
        assert removed == 3
        assert len(jobs) <= CACHE_COMPACT_JOB_BUDGET, jobs
        assert cache.latest().count() == 3
