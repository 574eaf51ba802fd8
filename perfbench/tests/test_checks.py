"""The output checks accept a correct result and reject corrupted ones."""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402

CENTRE = (9.99, 53.55)


@pytest.fixture(scope="module")
def snap(tmp_path_factory):
    rng = np.random.default_rng(0)
    n = 400
    lon = CENTRE[0] + rng.uniform(-0.02, 0.02, n)
    lat = CENTRE[1] + rng.uniform(-0.012, 0.012, n)
    t = pa.table({
        "osm_type": pa.array(np.ones(n, dtype=np.int32)),
        "osm_id": pa.array(np.arange(1000, 1000 + n, dtype=np.int64)),
        "lon": lon, "lat": lat,
        "w": pa.array(np.full(n, 16, dtype=np.int32)),
        "h": pa.array(np.full(n, 32, dtype=np.int32)),
        "category_ids": pa.array([[564 + i % 3] for i in range(n)], pa.list_(pa.int32())),
        "tags": pa.array([[("wheelchair", "yes")] if i % 4 == 0 else [] for i in range(n)],
                         pa.map_(pa.string(), pa.string())),
    })
    d = tmp_path_factory.mktemp("table") / "data" / "pcell=1"
    d.mkdir(parents=True)
    pq.write_table(t, d / "part-0.parquet")
    return checks.Snapshot(str(d.parent))


def _point_request(limit=2000):
    return {"kind": "point", "payload": {
        "request": "pois", "limit": limit,
        "geometry": {"geojson": {"type": "Point", "coordinates": list(CENTRE)}, "buffer": 800.0}}}


def _answer(snap, req):
    """A correct response built from exact distances."""
    d = checks.haversine(snap.lon, snap.lat, *CENTRE)
    keep = np.nonzero(d <= 800.0)[0]
    keep = keep[np.lexsort((snap.osm_id[keep], d[keep]))]
    limit = req["payload"]["limit"]
    keep = keep[:limit - 1]
    return {"type": "FeatureCollection", "features": [
        {"properties": {"osm_id": int(snap.osm_id[i]), "distance": float(d[i])}} for i in keep]}


def test_correct_pois_result_passes(snap):
    for limit in (2000, 20):
        req = _point_request(limit)
        assert checks.check_request(snap, req, _answer(snap, req), {}) is None


def test_missing_extra_or_misplaced_features_fail(snap):
    req = _point_request()
    good = _answer(snap, req)
    dropped = {"features": good["features"][1:]}
    assert checks.check_request(snap, req, dropped, {})
    far = int(np.argmax(checks.haversine(snap.lon, snap.lat, *CENTRE)))
    extra = {"features": good["features"] + [
        {"properties": {"osm_id": int(snap.osm_id[far]), "distance": 1.0}}]}
    assert checks.check_request(snap, req, extra, {})
    wrong_d = {"features": [dict(f, properties=dict(f["properties"], distance=5000.0))
                            for f in good["features"]]}
    assert checks.check_request(snap, req, wrong_d, {})


def test_limit_must_keep_the_nearest(snap):
    req = _point_request(20)
    full = _answer(snap, _point_request())
    farthest = {"features": full["features"][-19:]}
    assert checks.check_request(snap, req, farthest, {})


def test_knn_and_errors(snap):
    d = checks.haversine(snap.lon, snap.lat, *CENTRE)
    nearest = snap.osm_id[np.argsort(d)[:10]].tolist()
    req = {"kind": "knn", "lon": CENTRE[0], "lat": CENTRE[1], "k": 10}
    assert checks.check_request(snap, req, nearest, {}) is None
    assert checks.check_request(snap, req, nearest[:-1] + [int(snap.osm_id[np.argmax(d)])], {})
    assert checks.check_request(snap, req, nearest[:9], {})
    bad = {"kind": "invalid", "payload": {}, "error": 4008}
    assert checks.check_request(snap, bad, ("error", 4008), {}) is None
    assert checks.check_request(snap, bad, ("error", 4000), {})
    assert checks.check_request(snap, bad, {"features": []}, {})
    assert checks.check_request(snap, _point_request(), ("error", 4000), {})


def test_stats_total_and_digests(snap):
    req = {"kind": "stats", "payload": {
        "request": "stats",
        "geometry": {"geojson": {"type": "Point", "coordinates": list(CENTRE)}, "buffer": 800.0}}}
    n = int((checks.haversine(snap.lon, snap.lat, *CENTRE) <= 800.0).sum())
    assert checks.check_request(snap, req, {"places": {"total_count": n}}, {}) is None
    assert checks.check_request(snap, req, {"places": {"total_count": n + 5}}, {})
    rows = [(1, 2.0), (3, 4.0)]
    dig = {"job": checks.digest_rows(rows)}
    assert checks.check_digest(dig, "job", checks.digest_rows(rows[::-1])) is None
    assert checks.check_digest(dig, "job", checks.digest_rows([(1, 2.0), (3, 4.5)]))
    assert checks.check_digest({}, "job", dig["job"])
