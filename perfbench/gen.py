"""Seeded input generators for the benchmark.

Everything the program under test receives is made here, in the benchmark
process, from an explicit seed: the POI table, the curation corpus, the
request mix, the batch geometries and probes, and the ingest changes.  Each
function is a pure function of its arguments, so the same seed gives the
same inputs (checked by tests/test_gen.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

#: the region every POI and query geometry falls in (lon/lat degrees)
REGION = (7.5, 52.0, 14.0, 54.0)
#: urban cluster centres; 80% of the POIs fall around one of them
CLUSTERS = [
    (8.60, 53.30), (8.95, 53.55), (9.99, 53.55), (10.00, 53.45),
    (13.40, 52.52), (13.45, 52.48), (12.37, 52.34), (11.63, 52.13),
    (10.52, 52.26), (9.73, 52.37), (8.05, 52.27), (9.93, 53.85),
]
CLUSTER_SIGMA_M = 600.0
M_PER_DEG = 6371008.8 * math.pi / 180.0

#: OSM tags that the service taxonomy maps to a category (each row gets one,
#: plus an optional whitelisted extra tag, so no row is dropped at import)
TAG_POOL = [
    ("amenity", "cafe"), ("amenity", "restaurant"), ("amenity", "pub"),
    ("amenity", "fast_food"), ("amenity", "bar"), ("amenity", "pharmacy"),
    ("amenity", "school"), ("amenity", "kindergarten"), ("amenity", "bank"),
    ("amenity", "atm"), ("amenity", "fuel"), ("amenity", "parking"),
    ("amenity", "bench"), ("amenity", "toilets"), ("amenity", "library"),
    ("tourism", "hotel"), ("tourism", "hostel"), ("tourism", "museum"),
    ("tourism", "artwork"), ("tourism", "viewpoint"),
    ("shop", "bakery"), ("shop", "supermarket"), ("shop", "convenience"),
    ("shop", "clothes"), ("shop", "hairdresser"), ("shop", "kiosk"),
    ("shop", "books"), ("railway", "tram_stop"),
]
EXTRA_TAGS = [("wheelchair", "yes"), ("wheelchair", "no"), ("fee", "yes"),
              ("smoking", "no")]

#: fixed seeds of the inputs that do not vary per run (the cached table, the
#: curation corpus and the ingest base); the run seed varies everything else
TABLE_SEED = 20261017
CORPUS_SEED = 7
INGEST_SEED = 11


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


# ------------------------------------------------------------------ POIs

def poi_coords(n: int, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """80% gaussian around a cluster centre, 20% uniform in the region."""
    n_cl = int(n * 0.8)
    centres = np.array(CLUSTERS)[rng.integers(0, len(CLUSTERS), n_cl)]
    sig = CLUSTER_SIGMA_M / M_PER_DEG
    lon = np.empty(n)
    lat = np.empty(n)
    lon[:n_cl] = centres[:, 0] + rng.normal(0, sig / math.cos(math.radians(53.0)), n_cl)
    lat[:n_cl] = centres[:, 1] + rng.normal(0, sig, n_cl)
    lon[n_cl:] = rng.uniform(REGION[0], REGION[2], n - n_cl)
    lat[n_cl:] = rng.uniform(REGION[1], REGION[3], n - n_cl)
    return lon, lat


def poi_tags(n: int, rng: np.random.Generator) -> list[dict[str, str]]:
    tag_idx = rng.integers(0, len(TAG_POOL), n)
    extra = rng.random(n) < 0.15
    extra_idx = rng.integers(0, len(EXTRA_TAGS), n)
    out = []
    for i in range(n):
        tags = dict([TAG_POOL[tag_idx[i]]])
        if extra[i]:
            k, v = EXTRA_TAGS[extra_idx[i]]
            tags[k] = v
        out.append(tags)
    return out


def raw_poi_frame(osm_ids: np.ndarray, lon: np.ndarray, lat: np.ndarray,
                  tags: list[dict[str, str]]) -> pd.DataFrame:
    """Rows in the import's raw `poi_images` schema.  Image payloads are the
    engine's own deterministic synthetic images for each image id."""
    from openpoiservice_spark import captions, imaging

    image_ids = [f"img-1-{int(o)}" for o in osm_ids]
    payload, ws, hs, fmts = [], [], [], []
    for iid in image_ids:
        px, fmt = imaging.synth_pixels(iid)
        payload.append(imaging.encode_image(px, fmt))
        hs.append(px.shape[0])
        ws.append(px.shape[1])
        fmts.append(fmt)
    return pd.DataFrame({
        "image_id": image_ids,
        "bytes": payload,
        "w": np.array(ws, dtype=np.int32),
        "h": np.array(hs, dtype=np.int32),
        "fmt": fmts,
        "caption": [captions.encode_caption(1, int(o), t) for o, t in zip(osm_ids, tags)],
        "phash": captions.encode_phash(lon, lat),
    })


def poi_table(n: int, seed: int, id_base: int) -> pd.DataFrame:
    rng = _rng(seed, 1)
    lon, lat = poi_coords(n, rng)
    tags = poi_tags(n, rng)
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return raw_poi_frame(ids, lon, lat, tags)


# -------------------------------------------------------------- requests

def _centre(rng: np.random.Generator, near: bool) -> tuple[float, float]:
    """Near a cluster centre (where users look), or anywhere."""
    if near:
        cx, cy = CLUSTERS[int(rng.integers(0, len(CLUSTERS)))]
        off = rng.normal(0, 800.0, 2)
        return (cx + off[0] / (M_PER_DEG * math.cos(math.radians(cy))),
                cy + off[1] / M_PER_DEG)
    return (float(rng.uniform(REGION[0] + 0.2, REGION[2] - 0.2)),
            float(rng.uniform(REGION[1] + 0.2, REGION[3] - 0.2)))


def _offset(lon: float, lat: float, dx_m: float, dy_m: float) -> list[float]:
    return [lon + dx_m / (M_PER_DEG * math.cos(math.radians(lat))),
            lat + dy_m / M_PER_DEG]


def _ring(lon: float, lat: float, r_m: float, n: int, rng, jitter: float = 0.25) -> list:
    """Convex-ish counter-clockwise ring around (lon, lat), closed."""
    ang = np.sort(rng.uniform(0, 2 * math.pi, n))
    rr = r_m * (1.0 - jitter * rng.random(n))
    pts = [_offset(lon, lat, float(r * math.cos(a)), float(r * math.sin(a)))
           for r, a in zip(rr, ang)]
    return pts + [pts[0]]


def _loguniform(q: float, lo: float, hi: float) -> float:
    return math.exp(math.log(lo) + q * (math.log(hi) - math.log(lo)))


def _bbox(rng, lon: float, lat: float, q: float) -> list[list[float]]:
    # area log-uniform from 1e3 m2 up to 90% of the 50 km2 cap
    area = _loguniform(q, 1e3, 4.5e7)
    aspect = math.exp(rng.uniform(math.log(0.5), math.log(2.0)))
    w = math.sqrt(area * aspect)
    h = area / w
    return [_offset(lon, lat, -w / 2, -h / 2), _offset(lon, lat, w / 2, h / 2)]


#: filter kinds, cycled per request kind (None = no filter)
FILTER_CYCLE = [None, "category", None, "group", None, "tag", None, None]


def _filters(rng, which: str | None) -> dict:
    """Category, category-group or whitelisted-tag filters."""
    from openpoiservice_spark import taxonomy

    if which == "category":
        cats = sorted({c for k, v in TAG_POOL for c in taxonomy.categories_of_tags({k: v})})
        pick = rng.choice(cats, size=int(rng.integers(1, 4)), replace=False)
        return {"category_ids": [int(c) for c in pick]}
    if which == "group":
        groups = sorted(taxonomy.indices()[0])
        return {"category_group_ids": [int(rng.choice(groups))]}
    if which == "tag":
        return {"wheelchair": ["yes"]}
    return {}


#: the request deck: kinds in fixed proportions and a fixed order, so every
#: run sees the same mix whatever its seed; the seed draws the parameters
DECK = (["bbox"] * 10 + ["point"] * 6 + ["line"] * 4 + ["polygon"] * 4
        + ["multipolygon"] * 2 + ["stats"] * 4 + ["list"] * 1 + ["knn"] * 6
        + ["invalid"] * 3)
DECK_ORDER = [str(k) for k in np.random.default_rng(0).permutation(DECK)]

#: invalid payloads and the reference error code each must be rejected with
INVALID = [
    ({"request": "pois"}, 4002),
    ({"request": "nearby", "geometry": {"bbox": [[9.0, 53.0], [9.01, 53.01]]}}, 4000),
    ({"request": "pois", "geometry": {"bbox": [[9.0, 53.0], [9.5, 53.3]]}}, 4008),
    ({"request": "pois", "geometry": {"geojson": {"type": "Point", "coordinates": [9.9, 53.5]},
                                      "buffer": 5000}}, 4008),
    ({"request": "pois", "geometry": {"geojson": {"type": "LineString",
                                                  "coordinates": [[2.0, 50.0], [13.9, 53.9]]},
                                      "buffer": 10}}, 4005),
    ({"request": "pois", "geometry": {"geojson": {"type": "MultiPoint",
                                                  "coordinates": [[9.9, 53.5]]}}}, 4007),
    ({"request": "pois", "geometry": {"bbox": [[9.9, 53.5], [9.91, 53.51]]}, "limit": 5000}, 4000),
]


#: stratified draws: the j-th request of a kind takes the j-th point of a
#: golden-ratio sequence (with a seeded offset) for its size and its
#: centre type, so any run covers the size range evenly and runs of the
#: same length see the same spread of work whatever their seed
_PHI = (math.sqrt(5.0) - 1.0) / 2.0
_PLASTIC = 0.7548776662466927


def service_request(rng: np.random.Generator, kind: str, j: int = 0,
                    offsets: tuple[float, float] = (0.0, 0.0)) -> dict:
    """The j-th request of `kind`: {"kind", "payload"}, plus "k"/"lon"/"lat"
    for kNN and "error" (the expected error code) for invalid ones.  `q`
    sets the size, `near` whether it is centred on a city cluster (60%)."""
    q = (offsets[0] + j * _PHI) % 1.0
    near = (offsets[1] + j * _PLASTIC) % 1.0 < 0.6
    if kind == "list":
        return {"kind": kind, "payload": {"request": "list"}}
    if kind == "invalid":
        payload, code = INVALID[j % len(INVALID)]
        return {"kind": kind, "payload": payload, "error": code}
    lon, lat = _centre(rng, near)
    if kind == "knn":
        return {"kind": kind, "lon": lon, "lat": lat, "k": (1, 10, 100)[j % 3]}
    if kind == "stats":
        if j % 2 == 0:
            geom = {"bbox": _bbox(rng, lon, lat, q)}
        else:
            geom = {"geojson": {"type": "Point", "coordinates": [lon, lat]},
                    "buffer": 50.0 + 1950.0 * q}
        payload = {"request": "stats", "geometry": geom}
        f = _filters(rng, "category" if j % 4 == 1 else None)
        if f:
            payload["filters"] = f
        return {"kind": kind, "payload": payload}
    if kind == "bbox":
        geom = {"bbox": _bbox(rng, lon, lat, q)}
    elif kind == "point":
        geom = {"geojson": {"type": "Point", "coordinates": [lon, lat]},
                "buffer": _loguniform(q, 10.0, 2000.0)}
    elif kind == "line":
        n = int(rng.integers(2, 5))
        length = 500.0 + 7500.0 * q
        pts, (x, y) = [], (lon, lat)
        heading = rng.uniform(0, 2 * math.pi)
        for _ in range(n):
            pts.append([x, y])
            heading += rng.normal(0, 0.6)
            x, y = _offset(x, y, length / n * math.cos(heading), length / n * math.sin(heading))
        geom = {"geojson": {"type": "LineString", "coordinates": pts},
                "buffer": float(rng.uniform(10, 500))}
    elif kind == "polygon":
        r = 200.0 + 2300.0 * q
        rings = [_ring(lon, lat, r, int(rng.integers(5, 9)), rng)]
        if j % 3 == 1:
            hole = _ring(lon, lat, r * 0.3, 4, rng, jitter=0.0)
            rings.append(hole[::-1])
        geom = {"geojson": {"type": "Polygon", "coordinates": rings}}
        if j % 3 == 2:
            geom["bbox"] = [_offset(lon, lat, -r, -r / 2), _offset(lon, lat, r, r)]
    elif kind == "multipolygon":
        parts = []
        for i in range(2 + j % 2):
            plon, plat = _offset(lon, lat, *rng.normal(0, 3000, 2))
            parts.append([_ring(plon, plat, 150.0 + 1050.0 * ((q + i * _PHI) % 1.0), 5, rng)])
        geom = {"geojson": {"type": "MultiPolygon", "coordinates": parts}}
    else:
        raise ValueError(kind)
    payload = {"request": "pois", "geometry": geom}
    f = _filters(rng, FILTER_CYCLE[j % len(FILTER_CYCLE)])
    if f:
        payload["filters"] = f
    sortby = (None, "distance", None, "category", None)[j % 5]
    if sortby:
        payload["sortby"] = sortby
    payload["limit"] = (2000, 200, 2000, 20)[j % 4]
    return {"kind": kind, "payload": payload}


def service_requests(seed: int, n: int, stream: int = 2) -> list[dict]:
    rng = _rng(seed, stream)
    offsets = (float(rng.random()), float(rng.random()))
    seen: dict[str, int] = {}
    out = []
    for i in range(n):
        kind = DECK_ORDER[i % len(DECK_ORDER)]
        j = seen.get(kind, 0)
        seen[kind] = j + 1
        out.append(service_request(rng, kind, j, offsets))
    return out


# ------------------------------------------------------------ batch jobs

def batch_boxes(seed: int, n: int) -> list[tuple[float, float, float, float]]:
    """Region-scale query boxes for the batch spatial join."""
    rng = _rng(seed, 3)
    out = []
    for _ in range(n):
        w = float(0.05 + 0.45 * rng.random())
        h = float(0.03 + 0.25 * rng.random())
        x1 = float(REGION[0] + (REGION[2] - REGION[0] - w) * rng.random())
        y1 = float(REGION[1] + (REGION[3] - REGION[1] - h) * rng.random())
        out.append((x1, y1, x1 + w, y1 + h))
    return out


def knn_probes(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    rng = _rng(seed, 4)
    lon, lat = poi_coords(n, rng)
    return np.clip(lon, REGION[0], REGION[2]), np.clip(lat, REGION[1], REGION[3])


def corridor(seed: int) -> tuple[list[list[float]], float]:
    """A city-crossing corridor, 1 km wide: 3 vertices around a random
    cluster."""
    rng = _rng(seed, 5)
    cx, cy = CLUSTERS[int(rng.integers(0, len(CLUSTERS)))]
    pts = [_offset(cx, cy, *rng.normal(0, 4000, 2)) for _ in range(3)]
    return pts, 1000.0


# ---------------------------------------------------------- curation data

_WORDS = ("spark table scan join merge window query value key part line batch "
          "stream order group filter column data row hash agg sort fast slow big "
          "small city map tile cafe road river park bridge tower market station "
          "harbour museum garden school church castle square street").split()


def documents(n: int, seed: int = CORPUS_SEED) -> pd.DataFrame:
    """Random-word documents; 10% are light edits of an earlier document
    (near duplicates) and 5% repeat one phrase (boilerplate)."""
    rng = _rng(seed, 6)
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        elif u < 0.15:
            phrase = " ".join(rng.choice(_WORDS, 4))
            texts.append(" ".join([phrase] * int(rng.integers(5, 15))))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 90)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(n: int, dim: int = 64, seed: int = CORPUS_SEED) -> pd.DataFrame:
    """Unit vectors around 20 centroids, so top-k neighbourhoods are dense."""
    rng = _rng(seed, 7)
    cent = rng.normal(0, 1, (20, dim))
    label = rng.integers(0, 20, n)
    v = cent[label] + rng.normal(0, 0.6, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": label.astype(np.int32),
    })


def images(n_base: int, variants: int, seed: int = CORPUS_SEED) -> pd.DataFrame:
    """Smooth random images, each with near-duplicate variants (a small
    brightness shift plus pixel noise): variants of one base are the pairs
    a perceptual-hash dedup must find."""
    from openpoiservice_spark import imaging

    rng = _rng(seed, 8)
    ids, payload, fmts, base_of = [], [], [], []
    yy, xx = np.mgrid[0:32, 0:32] / 32.0
    for b in range(n_base):
        f = rng.uniform(0.5, 3.0, (3, 2))
        ph = rng.uniform(0, 2 * math.pi, 3)
        base = np.stack([
            128 + 100 * np.sin(2 * math.pi * (f[c, 0] * xx + f[c, 1] * yy) + ph[c])
            for c in range(3)], axis=2)
        for v in range(variants):
            px = base if v == 0 else base + rng.uniform(-6, 6) + rng.normal(0, 2.0, base.shape)
            px = np.clip(px, 0, 255).astype(np.uint8)
            ids.append(f"dup-{b}-{v}")
            payload.append(imaging.encode_image(px, "png"))
            fmts.append("png")
            base_of.append(b)
    return pd.DataFrame({"image_id": ids, "bytes": payload, "fmt": fmts,
                         "base": np.array(base_of, dtype=np.int64)})


# ---------------------------------------------------------------- ingest

def _near(lon: np.ndarray, lat: np.ndarray, centre, n: int, rng) -> np.ndarray:
    """Indices of the n rows nearest to `centre` (in degrees), shuffled."""
    d = (lon - centre[0]) ** 2 + ((lat - centre[1]) / math.cos(math.radians(centre[1]))) ** 2
    return rng.permutation(np.argsort(d)[:n])


def ingest_changes(seed: int, base_ids: np.ndarray, base_lon: np.ndarray,
                   base_lat: np.ndarray, next_id: int, n_files: int = 2,
                   file_rows: int = 200, n_moves: int = 40, n_new: int = 40,
                   n_deletes: int = 40) -> dict:
    """The per-run changes to the ingest table: increment files for the
    stream (spread over every city), then an edit of one city: upserts
    (moved rows, half of them to a second city, so into another partition,
    plus new rows) and deletes.  The edit touches few partitions, so the
    stream's small files elsewhere are left for compaction, as in a
    long-running table."""
    rng = _rng(seed, 9)
    increments = []
    nid = next_id
    for _ in range(n_files):
        lon, lat = poi_coords(file_rows, rng)
        ids = np.arange(nid, nid + file_rows, dtype=np.int64)
        nid += file_rows
        increments.append((ids, lon, lat, poi_tags(file_rows, rng)))
    home, away = rng.choice(len(CLUSTERS), 2, replace=False)
    pick = _near(base_lon, base_lat, CLUSTERS[home], n_moves + n_deletes, rng)
    moved, deleted = pick[:n_moves], pick[n_moves:]
    far = np.arange(n_moves) % 2 == 0
    sig = CLUSTER_SIGMA_M / M_PER_DEG
    ax, ay = CLUSTERS[away]
    mlon = ax + rng.normal(0, sig, n_moves)
    mlat = ay + rng.normal(0, sig, n_moves)
    dlon = base_lon[moved] + rng.normal(0, 100, n_moves) / M_PER_DEG
    dlat = base_lat[moved] + rng.normal(0, 100, n_moves) / M_PER_DEG
    hx, hy = CLUSTERS[home]
    nlon = hx + rng.normal(0, sig, n_new)
    nlat = hy + rng.normal(0, sig, n_new)
    up_ids = np.concatenate([base_ids[moved], np.arange(nid, nid + n_new, dtype=np.int64)])
    up_lon = np.concatenate([np.where(far, mlon, dlon), nlon])
    up_lat = np.concatenate([np.where(far, mlat, dlat), nlat])
    return {
        "increments": increments,
        "upserts": (up_ids, up_lon, up_lat, poi_tags(len(up_ids), rng)),
        "deletes": base_ids[deleted],
    }
