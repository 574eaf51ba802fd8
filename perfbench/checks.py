"""Output checks, run outside the timed path.

The oracles here are independent numpy re-implementations of the
geometry semantics (membership, distance, nearest neighbours) over a
snapshot of the table read straight from its parquet files.  Different
distance formulas can disagree near a buffer's edge, so each oracle splits
rows into *definitely in*, *definitely out* and a thin *ambiguous* band
(`Region`), and a result passes when it holds every definite row, no
definitely-out row, and has the size the request implies.  Jobs without a
cheap oracle are compared with digests recorded from the seed code
(`digests.json`).  Each check returns None when the output is correct and a
one-line reason otherwise.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

M_PER_DEG = 6371008.8 * math.pi / 180.0
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


# ------------------------------------------------------------ table data

class Snapshot:
    """The light columns of a prepared table, read with pyarrow."""

    def __init__(self, data_dir: str):
        import pyarrow.dataset as ds

        t = ds.dataset(data_dir, format="parquet", partitioning="hive").to_table(
            columns=["osm_type", "osm_id", "lon", "lat", "w", "h", "category_ids", "tags"])
        self.osm_id = t.column("osm_id").to_numpy()
        self.lon = t.column("lon").to_numpy()
        self.lat = t.column("lat").to_numpy()
        self.px = (t.column("w").to_numpy().astype(np.int64)
                   * t.column("h").to_numpy().astype(np.int64))
        self.cats = t.column("category_ids").to_pylist()
        self.wheelchair_yes = np.array(
            [("wheelchair", "yes") in (tags or []) for tags in t.column("tags").to_pylist()])
        self.osm_type = t.column("osm_type").to_numpy()
        self.n = len(self.osm_id)
        self.order = np.argsort(self.osm_id)
        self.osm_id_sorted = self.osm_id[self.order]

    def digest(self) -> str:
        order = np.lexsort((self.osm_id, self.osm_type))
        h = hashlib.sha256()
        for a in (self.osm_type, self.osm_id, self.lon, self.lat):
            h.update(np.ascontiguousarray(a[order]).tobytes())
        h.update(json.dumps([self.cats[i] for i in order]).encode())
        return h.hexdigest()[:16]


# -------------------------------------------------------------- geometry

def local_xy(lon, lat, lon0: float, lat0: float):
    return ((np.asarray(lon) - lon0) * M_PER_DEG * math.cos(math.radians(lat0)),
            (np.asarray(lat) - lat0) * M_PER_DEG)


def haversine(lon, lat, lon0: float, lat0: float) -> np.ndarray:
    p1, p2 = np.radians(lat), math.radians(lat0)
    dl = np.radians(lon0 - np.asarray(lon))
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * math.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * 6371008.8 * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def seg_dist(px, py, pts: np.ndarray) -> np.ndarray:
    d = np.full(np.shape(px), np.inf)
    for (ax, ay), (bx, by) in zip(pts[:-1], pts[1:]):
        vx, vy = bx - ax, by - ay
        L = vx * vx + vy * vy
        t = np.zeros_like(px) if L == 0 else np.clip(((px - ax) * vx + (py - ay) * vy) / L, 0, 1)
        d = np.minimum(d, np.hypot(px - ax - t * vx, py - ay - t * vy))
    return d


def inside_ring(px, py, pts: np.ndarray) -> np.ndarray:
    inside = np.zeros(np.shape(px), dtype=bool)
    for (ax, ay), (bx, by) in zip(pts[:-1], pts[1:]):
        cross = (ay > py) != (by > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
        inside ^= cross & (px < xint)
    return inside


def _closed(coords) -> np.ndarray:
    a = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    return a if (a[0] == a[-1]).all() else np.vstack([a, a[:1]])


class Region:
    """Signed distance (m) from table points to one request geometry part:
    negative inside a polygon, so membership is `s <= buffer` for every
    kind.  Arrays cover the candidate rows `idx` only."""

    def __init__(self, snap: Snapshot, kind: str, coords, buffer_m: float,
                 bbox=None):
        self.kind, self.buffer = kind, float(buffer_m)
        pts = np.asarray(coords[0] if kind == "polygon" else coords, dtype=np.float64).reshape(-1, 2)
        pad = (self.buffer + 50.0) / M_PER_DEG
        lo, hi = pts.min(axis=0), pts.max(axis=0)
        padx = pad / math.cos(math.radians(float(hi[1])))
        box = ((snap.lon >= lo[0] - padx) & (snap.lon <= hi[0] + padx)
               & (snap.lat >= lo[1] - pad) & (snap.lat <= hi[1] + pad))
        self.idx = np.nonzero(box)[0]
        lon, lat = snap.lon[self.idx], snap.lat[self.idx]
        if kind == "point":
            s = haversine(lon, lat, float(pts[0, 0]), float(pts[0, 1]))
        elif kind == "linestring":
            lon0, lat0 = pts.mean(axis=0)
            x, y = local_xy(lon, lat, lon0, lat0)
            s = seg_dist(x, y, np.column_stack(local_xy(pts[:, 0], pts[:, 1], lon0, lat0)))
        else:
            rings = [_closed(r) for r in coords]
            lon0, lat0 = rings[0][:-1].mean(axis=0)
            x, y = local_xy(lon, lat, lon0, lat0)
            xy = [np.column_stack(local_xy(r[:, 0], r[:, 1], lon0, lat0)) for r in rings]
            s = np.min([seg_dist(x, y, r) for r in xy], axis=0)
            inside = inside_ring(x, y, xy[0])
            for h in xy[1:]:
                inside &= ~inside_ring(x, y, h)
            s = np.where(inside, -s, s)
        self.d = np.maximum(s, 0.0)
        tol = 0.005 * self.buffer + 1.0
        self.def_in = s <= self.buffer - tol
        self.amb = np.abs(s - self.buffer) < tol
        if bbox is not None:
            (x1, y1), (x2, y2) = bbox
            eps = 1e-7
            inb = (lon >= min(x1, x2) + eps) & (lon <= max(x1, x2) - eps) \
                & (lat >= min(y1, y2) + eps) & (lat <= max(y1, y2) - eps)
            edge = ~inb & (lon >= min(x1, x2) - eps) & (lon <= max(x1, x2) + eps) \
                & (lat >= min(y1, y2) - eps) & (lat <= max(y1, y2) + eps)
            self.amb = (self.amb & (inb | edge)) | (self.def_in & edge)
            self.def_in = self.def_in & inb


def bbox_region(snap: Snapshot, bbox, buffer_m: float = 0.0) -> Region:
    (x1, y1), (x2, y2) = bbox
    ring = [[x1, y1], [x2, y1], [x2, y2], [x1, y2], [x1, y1]]
    return Region(snap, "polygon", [ring], buffer_m)


def parts_of(snap: Snapshot, geometry: dict) -> list[Region]:
    buf = float(geometry.get("buffer", 0))
    bbox = geometry.get("bbox")
    gj = geometry.get("geojson")
    if gj is None:
        return [bbox_region(snap, bbox, buf)]
    t, c = gj["type"], gj["coordinates"]
    if t == "Point":
        return [Region(snap, "point", [c], buf, bbox)]
    if t == "LineString":
        return [Region(snap, "linestring", c, buf, bbox)]
    if t == "Polygon":
        return [Region(snap, "polygon", c, buf, bbox)]
    return [Region(snap, "polygon", p, buf, bbox) for p in c]


def _filter_mask(snap: Snapshot, idx: np.ndarray, filters: dict | None):
    """(row passes, categories a stats request counts per row)."""
    filters = filters or {}
    wanted = filters.get("category_ids")
    if filters.get("category_group_ids"):
        from openpoiservice_spark import taxonomy

        wanted = taxonomy.expand_group_ids(filters["category_group_ids"], wanted or [])
    cats = [snap.cats[i] for i in idx]
    if wanted is not None:
        w = set(int(c) for c in wanted)
        cats = [[c for c in cs if c in w] for cs in cats]
    ok = np.array([len(c) > 0 for c in cats], dtype=bool)
    if "wheelchair" in filters:
        ok &= snap.wheelchair_yes[idx]
    return ok, np.array([len(c) for c in cats])


# -------------------------------------------------------------- service

def check_pois_part(snap: Snapshot, reg: Region, payload: dict, fc: dict) -> str | None:
    feats = fc.get("features", [])
    got = np.array([f["properties"]["osm_id"] for f in feats], dtype=np.int64)
    if len(set(got.tolist())) != len(got):
        return "duplicate features"
    ok, _ = _filter_mask(snap, reg.idx, payload.get("filters"))
    def_ids = snap.osm_id[reg.idx[reg.def_in & ok]]
    may = reg.idx[(reg.def_in | reg.amb) & ok]
    may_ids = set(snap.osm_id[may].tolist())
    if not set(got.tolist()) <= may_ids:
        return f"{len(set(got.tolist()) - may_ids)} features outside the geometry or filter"
    limit = int(payload.get("limit", 2000))
    cap = len(may_ids) if limit == 1 else limit - 1
    if len(got) > cap:
        return f"{len(got)} features over the limit {cap}"
    if len(got) < min(cap, len(def_ids)):
        return f"{len(got)} features, expected at least {min(cap, len(def_ids))}"
    if len(got) < cap:
        missing = set(def_ids.tolist()) - set(got.tolist())
        if missing:
            return f"{len(missing)} matching POIs missing"
    # reported distances against the oracle
    pos = {int(o): i for i, o in enumerate(snap.osm_id[reg.idx])}
    d_or = np.array([reg.d[pos[int(o)]] for o in got])
    d_got = np.array([f["properties"]["distance"] for f in feats], dtype=np.float64)
    if reg.kind != "polygon" and len(got):
        # bbox/polygon distances are 0 inside; points and lines are metric
        bad = np.abs(d_got - d_or) > 0.005 * d_or + 1.0
        if bad.any():
            return f"{int(bad.sum())} reported distances off"
    if payload.get("sortby") != "category" and len(got) == cap and len(got):
        # nothing nearer than the farthest returned row was left out
        skipped = np.array(sorted(set(def_ids.tolist()) - set(got.tolist())), dtype=np.int64)
        if len(skipped):
            d_skip = np.array([reg.d[pos[int(o)]] for o in skipped])
            far = d_or.max()
            if (d_skip < far - (0.005 * far + 1.0)).any():
                return "a nearer POI was cut by the limit"
    return None


def check_stats(snap: Snapshot, payload: dict, out: dict) -> str | None:
    reg = parts_of(snap, payload["geometry"])[0]
    ok, ncat = _filter_mask(snap, reg.idx, payload.get("filters"))
    lo = int(ncat[reg.def_in & ok].sum())
    hi = lo + int(ncat[reg.amb & ok & ~reg.def_in].sum())
    total = out.get("places", {}).get("total_count")
    if total is None or not lo <= total <= hi:
        return f"stats total {total}, expected {lo}..{hi}"
    return None


def check_knn(snap: Snapshot, lon: float, lat: float, k: int, ids) -> str | None:
    d = haversine(snap.lon, snap.lat, lon, lat)
    want = min(k, snap.n)
    if len(ids) != want or len(set(ids)) != want:
        return f"kNN returned {len(ids)} rows, expected {want}"
    kth = np.partition(d, want - 1)[want - 1]
    pos = np.searchsorted(snap.osm_id_sorted, ids)
    dd = d[snap.order[pos]]
    if (dd > kth * (1 + 1e-6) + 1e-3).any():
        return "kNN returned a row beyond the k-th nearest"
    return None


def check_request(snap: Snapshot, req: dict, out, digests: dict) -> str | None:
    """`out` is the response, or ("error", code) for a rejected request."""
    kind = req["kind"]
    if kind == "invalid":
        if not (isinstance(out, tuple) and out[1] == req["error"]):
            return f"expected error {req['error']}, got {out if isinstance(out, tuple) else 'a result'}"
        return None
    if isinstance(out, tuple):
        return f"unexpected error {out[1]}"
    if kind == "list":
        return check_digest(digests, "list", digest_obj(out))
    if kind == "knn":
        return check_knn(snap, req["lon"], req["lat"], req["k"], out)
    payload = req["payload"]
    if kind == "stats":
        return check_stats(snap, payload, out)
    parts = parts_of(snap, payload["geometry"])
    fcs = out if isinstance(out, list) else [out]
    if len(fcs) != len(parts):
        return f"{len(fcs)} collections for {len(parts)} polygons"
    for reg, fc in zip(parts, fcs):
        err = check_pois_part(snap, reg, payload, fc)
        if err:
            return err
    return None


# ---------------------------------------------------------------- digests

def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return _canon(float(v))
    return v


def digest_obj(obj) -> str:
    return hashlib.sha256(json.dumps(_canon(obj), sort_keys=True).encode()).hexdigest()[:16]


def digest_rows(rows) -> str:
    """Order-insensitive digest of result rows (floats to 6 digits)."""
    canon = sorted(json.dumps(_canon(list(r))) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def load_digests() -> dict:
    if not os.path.exists(DIGESTS_PATH):
        return {}
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def check_digest(digests: dict, name: str, got: str) -> str | None:
    want = digests.get(name)
    if want is None:
        return f"no recorded digest for {name}"
    return None if got == want else f"{name} digest {got} != recorded {want}"
