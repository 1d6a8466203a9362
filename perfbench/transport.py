"""Seeded synthetic entity API, served as a fetch transport.

Endpoints (all deterministic functions of the URL and the seed):

* ``/entities?off=<first id>&page=<k>`` -- page ``k`` of a listing that
  starts at entity ``off`` and holds ``slice_size`` entities, ``PAGE_SIZE``
  per page; ``next_page`` is set while more remain.
* ``/entities/<id>`` -- the detail record, whose padding length spreads
  with a seeded hash of the id.
* ``/analyze/<id>`` -- the enrichment ``{"score", "flag"}``.

One id in ``FAIL_MOD`` answers 404 on both per-id endpoints: the ids whose
residue ``(id + seed) % FAIL_MOD`` is zero. 404 is not a retry status, so
the fetch layer never sleeps on it, and any ``FAIL_MOD``-aligned run of
ids holds exactly one failing id. Each request costs a fixed service time,
so the fetch layer's fan-out is what hides it.

The closed forms the output checks compare against are methods of the same
object. Calls and errors are counted through Spark accumulators, which the
fetch workers update from the executors at no extra job.
"""

from __future__ import annotations

import json
import time
from typing import Any
from urllib.parse import parse_qs, urlparse

BASE = "http://api.bench"
KNUTH = 2654435761
FAIL_MOD = 50
PAGE_SIZE = 50
SERVICE_S = 0.001


def mix(i: int, seed: int) -> int:
    """64-bit integer hash of ``(i, seed)`` (splitmix64 finaliser)."""
    z = (i * 0x9E3779B97F4A7C15 + seed * 0xBF58476D1CE4E5B9 + 1) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


class EntityAPI:
    """The transport: ``(method, url, headers, data) -> (status, head, body)``."""

    def __init__(self, seed: int, slice_size: int, calls=None, errors=None,
                 service_s: float = SERVICE_S) -> None:
        if slice_size % FAIL_MOD:
            raise ValueError("slice_size must be a multiple of FAIL_MOD")
        self.seed = seed
        self.slice_size = slice_size
        self.calls = calls
        self.errors = errors
        self.service_s = service_s

    # -- closed forms -----------------------------------------------------
    def missing(self, i: int) -> bool:
        return (i + self.seed) % FAIL_MOD == 0

    def detail_pad(self, i: int) -> int:
        return 16 + mix(i, self.seed) % 480

    def score(self, i: int) -> float:
        return ((i * KNUTH) ^ self.seed) % 1000 / 1000.0

    def flag(self, i: int) -> str:
        return "hi" if mix(i, self.seed + 1) % 3 == 0 else "lo"

    # -- requests ---------------------------------------------------------
    @staticmethod
    def page_url(off: int, page: int) -> str:
        return f"{BASE}/entities?off={off}&page={page}"

    @staticmethod
    def detail_url(i: int) -> str:
        return f"{BASE}/entities/{i}"

    @staticmethod
    def analyze_url(i: int) -> str:
        return f"{BASE}/analyze/{i}"

    # -- serving ----------------------------------------------------------
    def _serve(self, path: str, query: str) -> tuple[int, dict, str]:
        json_head = {"content-type": "application/json"}
        if path == "/entities":
            args = parse_qs(query)
            off, page = int(args["off"][0]), int(args["page"][0])
            start = off + page * PAGE_SIZE
            end = min(start + PAGE_SIZE, off + self.slice_size)
            body = {
                "results": [{"id": i, "name": f"entity {i}", "group": i % 7}
                            for i in range(start, end)],
                "next_page": page + 1 if end < off + self.slice_size else None,
            }
            return 200, json_head, json.dumps(body)
        kind, _, tail = path.rpartition("/")
        if kind not in ("/entities", "/analyze") or not tail.isdigit():
            return 404, {}, ""
        i = int(tail)
        if self.missing(i):
            return 404, {}, ""
        if kind == "/entities":
            pad = "x" * self.detail_pad(i)
            return 200, json_head, json.dumps(
                {"id": i, "detail": f"detail {i} {pad}", "size": len(pad)})
        return 200, json_head, json.dumps({"score": self.score(i), "flag": self.flag(i)})

    def __call__(self, method: str, url: str, headers: dict, data: Any) -> tuple[int, dict, str]:
        time.sleep(self.service_s)
        parsed = urlparse(url)
        status, head, body = self._serve(parsed.path, parsed.query)
        if self.calls is not None:
            self.calls.add(1)
            if status != 200:
                self.errors.add(1)
        return status, head, body
