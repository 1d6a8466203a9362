"""The pipeline ``harvest_fresh`` runs: seeding phases, the growth phase
and the dataset they grow, against :mod:`perfbench.transport`.

Functions here are shipped to executors (request templates, pagination),
so they live at module level.
"""

from __future__ import annotations

import json
import math
from urllib.parse import parse_qs, urlparse

from datagrowth_spark.plans import Dataset, GrowthProcessor, GrowthStrategy, SeedingProcessor
from datagrowth_spark.sources.http import http_request

from perfbench.transport import BASE, PAGE_SIZE, EntityAPI


class HarvestDataset(Dataset):
    NAME = "perfbench-entities"
    GROWTH_STRATEGY = GrowthStrategy.REVISE
    COLLECTION_IDENTIFIER = "id"


def page_request(off: int, page: int = 0) -> dict:
    return http_request(EntityAPI.page_url(off, page))


def next_page(response: dict) -> dict | None:
    body = json.loads(response["body"])
    if body.get("next_page") is None:
        return None
    off = int(parse_qs(urlparse(response["url"]).query)["off"][0])
    return page_request(off, body["next_page"])


def detail_request(seed: dict) -> dict:
    return http_request(EntityAPI.detail_url(seed["id"]))


GROWTH_CONFIG = {
    "growth_phase": "analyze",
    "retrieve_data": {"request_template": {
        "uri_template": f"{BASE}/analyze/{{}}", "args": ["$.id"]}},
    "contribute_data": {"objective": {"@": "$", "score": "$.score", "flag": "$.flag"}},
}


def seeding_phases(off: int, api: EntityAPI) -> list[dict]:
    return [
        {
            "phase": "entities",
            "strategy": "initial",
            "retrieve_data": {
                "requests": [page_request(off)],
                "next_request": next_page,
                "continuation_limit": math.ceil(api.slice_size / PAGE_SIZE),
            },
            "contribute_data": {"objective": {
                "@": "$.results", "id": "$.id", "name": "$.name", "group": "$.group"}},
        },
        {
            "phase": "details",
            "strategy": "merge",
            "retrieve_data": {"request_template": detail_request},
            "contribute_data": {
                "objective": {"@": "$", "id": "$.id", "detail": "$.detail", "size": "$.size"},
                "merge_on": "id",
            },
        },
    ]


def harvest(spark, cache, api: EntityAPI, off: int):
    """The ``seed_collection`` callable of one grow: seed the slice that
    starts at ``off``, then enrich every pending document."""
    def run(collection):
        SeedingProcessor(spark, cache, seeding_phases(off, api), transport=api)(collection)
        return GrowthProcessor(GROWTH_CONFIG, transport=api)(collection, cache)
    return run
