"""The generators are deterministic per seed and produce valid inputs."""

import hashlib
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402


def _h(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


@pytest.mark.parametrize("make", [
    lambda s: gen.service_requests(s, 120),
    lambda s: gen.batch_boxes(s, 20),
    lambda s: [a.tolist() for a in gen.knn_probes(s, 20)],
    lambda s: gen.corridor(s),
    lambda s: gen.ingest_changes(s, np.arange(100, 200), np.linspace(8, 9, 100),
                                 np.linspace(52.5, 53, 100), next_id=1000),
])
def test_same_seed_same_inputs(make):
    assert _h(make(3)) == _h(make(3))
    assert _h(make(3)) != _h(make(4))


def test_fixed_corpus_is_deterministic():
    a, b = gen.documents(50), gen.documents(50)
    assert a.equals(b)
    e1, e2 = gen.embeddings(30), gen.embeddings(30)
    assert np.array_equal(np.stack(e1.embedding), np.stack(e2.embedding))
    i1, i2 = gen.images(4, 3), gen.images(4, 3)
    assert list(i1.bytes) == list(i2.bytes)


def test_poi_table_is_deterministic_and_every_row_has_a_category():
    from openpoiservice_spark import captions, taxonomy

    t1, t2 = gen.poi_table(200, 5, 100), gen.poi_table(200, 5, 100)
    assert t1.equals(t2)
    for cap in t1.caption:
        _, _, tags = captions.decode_caption(cap)
        assert taxonomy.categories_of_tags(tags)


def test_request_mix_follows_the_deck_and_valid_requests_compile():
    from openpoiservice_spark import api

    reqs = gen.service_requests(9, len(gen.DECK))
    assert sorted(r["kind"] for r in reqs) == sorted(gen.DECK)
    for r in gen.service_requests(9, 400):
        if r["kind"] in ("knn", "list", "invalid"):
            continue
        api.compile_geometry(r["payload"]["geometry"])   # raises if not admitted


def test_invalid_requests_get_their_error_code():
    from openpoiservice_spark import api

    for payload, code in gen.INVALID:
        try:
            if "limit" in payload:   # checked when the plan is built
                api.apply_limit_quirk(None, payload["limit"])
            else:
                api.PoiEngine._request(None, payload)
        except api.InvalidUsage as e:
            assert e.error_code == code, payload
        else:
            raise AssertionError(f"accepted {payload}")
