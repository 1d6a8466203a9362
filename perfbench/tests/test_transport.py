"""The synthetic entity API is a pure function of URL and seed."""

import json

import pytest

from perfbench.transport import FAIL_MOD, EntityAPI


def serve(api, url):
    return api("GET", url, {}, None)


def test_same_seed_same_responses():
    a, b = EntityAPI(7, 200, service_s=0), EntityAPI(7, 200, service_s=0)
    urls = [EntityAPI.page_url(1000, 1), EntityAPI.detail_url(1234), EntityAPI.analyze_url(1234)]
    assert [serve(a, u) for u in urls] == [serve(b, u) for u in urls]


def test_seed_changes_records():
    a, b = EntityAPI(7, 200, service_s=0), EntityAPI(8, 200, service_s=0)
    bodies = [(serve(a, EntityAPI.detail_url(i))[2], serve(b, EntityAPI.detail_url(i))[2])
              for i in range(1000, 1100)]
    assert any(x != y for x, y in bodies)


@pytest.mark.parametrize("seed", [0, 1, 49, 12345])
def test_exact_404_share_on_aligned_ranges(seed):
    api = EntityAPI(seed, 100, service_s=0)
    for start in (0, FAIL_MOD * 7, 5000):
        ids = range(start, start + 10 * FAIL_MOD)
        missing = [i for i in ids if serve(api, EntityAPI.analyze_url(i))[0] == 404]
        assert len(missing) == 10
        assert all(api.missing(i) for i in missing)
        assert [serve(api, EntityAPI.detail_url(i))[0] for i in missing] == [404] * 10


def test_pages_list_the_slice_once():
    api = EntityAPI(3, 150, service_s=0)
    seen, page = [], 0
    while page is not None:
        status, _head, body = serve(api, EntityAPI.page_url(900, page))
        assert status == 200
        body = json.loads(body)
        seen += [r["id"] for r in body["results"]]
        page = body["next_page"]
    assert seen == list(range(900, 1050))


def test_served_bodies_match_the_closed_forms():
    api = EntityAPI(5, 100, service_s=0)
    for i in range(2000, 2100):
        if api.missing(i):
            continue
        analysis = json.loads(serve(api, EntityAPI.analyze_url(i))[2])
        assert analysis == {"score": api.score(i), "flag": api.flag(i)}
        detail = json.loads(serve(api, EntityAPI.detail_url(i))[2])
        assert detail["size"] == api.detail_pad(i)
        assert detail["detail"].startswith(f"detail {i} ")


def test_record_sizes_spread():
    api = EntityAPI(5, 100, service_s=0)
    sizes = {api.detail_pad(i) for i in range(1000)}
    assert min(sizes) >= 16 and max(sizes) < 16 + 480 and len(sizes) > 300


def test_slice_must_align_with_the_failure_period():
    with pytest.raises(ValueError):
        EntityAPI(1, FAIL_MOD + 1)
