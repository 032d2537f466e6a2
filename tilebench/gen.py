"""Seeded inputs for the workloads, written with numpy and pyarrow.

Sizes and shapes are fixed constants: a seed changes coordinates, values
and which rows are gzipped, tagged or hot, never how many there are, so
every seed gives a set-up of the same work. Each generator returns the
parquet paths it wrote plus the in-memory truth the checks compare with.
"""

from __future__ import annotations

import gzip
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import mvtio

EXTENT = 4096
INPUT_FILES = 4        # part files per input table: one scan task per core

# tiles_overzoom_poly: one source zoom, children one and two zooms down
POLY_SRC_Z = 8
POLY_N_SRC = 16
POLY_PER_TILE = 300
POLY_OUTER_VERTS = 24
POLY_HOLE_VERTS = 8
POLY_BUFFER = 64
POLY_DZ = (1, 2)

# pages_geo: Common-Crawl-style pages
PAGES_N = 6_000
PAGES_GZIP_SHARE = 0.3
PAGES_UNTAGGED_SHARE = 0.2
PAGES_HOT_SHARE = 0.4        # half of the geotagged pages
PAGES_FAR_SHARE = 0.02       # worldwide; outside every requested tile
PAGES_REGION = ((-124.5, -119.5), (35.5, 39.5))   # (lon, lat) of the rest
PAGES_HOT_Z = 12
PAGES_CELL_Z = 12
PAGES_SRC_Z = 8
PAGES_TARGET_Z = 10
PAGES_BUFFER = 16
PAGES_N_POLYS = 32
PAGES_N_SITES = 200
PAGES_KNN_K = 3
PAGES_PIP_ZOOM = 8
PAGES_KNN_ZOOM = 10
SF_LON, SF_LAT = -122.44, 37.76
LOC_LANGUAGES = ["en", "fr"]       # the localize step on the page points
LOC_WORLDVIEWS = ["US", "CN"]

WORDS = ("map tile vector layer road river park city street north south "
         "harbour bridge hill valley market station école straße café "
         "naïve 東京 地図 Ωmega żółw fjord plaza").split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str, files: int = 1) -> str:
    """A parquet table as ``files`` part files (a directory), so a scan
    splits into as many tasks as a table written by Spark would."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
    return path


def _circle_ring(cx, cy, r, k, rng, clockwise: bool = False):
    """Closed ring of ``k`` jittered points on a circle: convex, with
    positive shoelace area (y down) unless ``clockwise``."""
    step = 2 * math.pi / k
    ang = np.arange(k) * step + rng.uniform(-0.3, 0.3, k) * step
    if clockwise:
        ang = ang[::-1]
    xs = cx + r * np.cos(ang)
    ys = cy + r * np.sin(ang)
    return np.append(xs, xs[0]), np.append(ys, ys[0])


def _int_ring(*args, **kw):
    """``_circle_ring`` on the integer tile grid."""
    return tuple(np.rint(a).astype(np.int64) for a in _circle_ring(*args, **kw))


def mercator_xy(lon, lat, z: int):
    """Fractional Web-Mercator tile coordinates at zoom ``z``."""
    n = 1 << z
    phi = np.radians(lat)
    fx = (np.asarray(lon, np.float64) + 180.0) / 360.0 * n
    fy = (1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / math.pi) / 2.0 * n
    return fx, fy


def _typed_poly_props(fid: int, rng) -> dict:
    kinds = ("park", "water", "building", "forest", "farmland", "residential")
    return {
        "kind": ("string", kinds[int(rng.integers(len(kinds)))]),
        "name": ("string", f"poly {fid}"),
        "levels": ("uint", int(rng.integers(0, 60))),
        "elev": ("sint", int(rng.integers(-500, 3000))),
        "pop": ("int", int(rng.integers(0, 1_000_000))),
        "ratio": ("float", float(np.float32(rng.random()))),
        "area_km2": ("double", float(rng.random() * 100.0)),
        "open": ("bool", bool(rng.integers(2))),
    }


_TARGETS_ARROW = pa.schema([
    ("z", pa.int32()), ("x", pa.int64()), ("y", pa.int64()),
    ("buffer_size", pa.int32()), ("keep_layers", pa.list_(pa.string())),
    ("compress", pa.bool_()),
])


def _tiles_table(tiles, blobs) -> pa.Table:
    return pa.table({"z": pa.array([t[0] for t in tiles], pa.int32()),
                     "x": pa.array([t[1] for t in tiles], pa.int64()),
                     "y": pa.array([t[2] for t in tiles], pa.int64()),
                     "tile": pa.array(blobs, pa.binary())})


def gen_poly(seed: int, root: str) -> dict:
    """A z8 tileset of MVT blobs, one ``landuse`` layer of convex
    polygons with 0-2 holes and typed properties per tile; the targets
    are every child one and two zooms down."""
    rng = _rng(seed, 1)
    srcs = [(POLY_SRC_Z, 40 + i % 4, 90 + i // 4) for i in range(POLY_N_SRC)]
    polys = []  # truth: per feature {src, id, rings: [(xs, ys)], props}
    blobs = []
    for s, (z, x, y) in enumerate(srcs):
        feats = []
        for j in range(POLY_PER_TILE):
            fid = s * 100_000 + j + 1
            r = float(rng.uniform(200, 1500))
            cx, cy = rng.uniform(-200, EXTENT + 200, 2)
            rings = [_int_ring(cx, cy, r, POLY_OUTER_VERTS, rng)]
            nh = j % 3
            for h in range(nh):
                off = 0.0 if nh == 1 else (-0.4 if h == 0 else 0.4) * r
                rings.append(_int_ring(cx + off, cy, 0.25 * r, POLY_HOLE_VERTS,
                                       rng, True))
            props = _typed_poly_props(fid, rng)
            polys.append({"src": s, "id": fid, "rings": rings, "props": props})
            feats.append({"id": fid, "type": mvtio.POLYGON, "props": props,
                          "parts": [list(zip(rx.tolist(), ry.tolist()))
                                    for rx, ry in rings]})
        blobs.append(mvtio.encode_tile([("landuse", feats)]))
    targets = []
    for (z, x, y) in srcs:
        for dz in POLY_DZ:
            k = 1 << dz
            for cy in range(k):
                for cx in range(k):
                    targets.append((z + dz, x * k + cx, y * k + cy))
    tcols = {"z": [t[0] for t in targets], "x": [t[1] for t in targets],
             "y": [t[2] for t in targets], "buffer_size": [POLY_BUFFER] * len(targets),
             "keep_layers": [None] * len(targets), "compress": [False] * len(targets)}
    return {
        "tiles": _write(_tiles_table(srcs, blobs), f"{root}/poly_tiles", INPUT_FILES),
        "targets": _write(pa.table(tcols, schema=_TARGETS_ARROW),
                          f"{root}/poly_targets"),
        "sources": srcs, "polys": polys, "targets_list": targets,
        "n_features": len(polys), "n_items": len(targets),
    }


def _loc_props(rng) -> dict:
    """Localizable string keys with seeded presence, in a fixed key order."""
    p: dict = {}

    def maybe(share, key, val):
        if rng.random() < share:
            p[key] = val
    maybe(0.9, "name", "N")
    maybe(0.5, "name_en", "EN")
    maybe(0.2, "_mbx_name_en", "XEN")
    maybe(0.3, "name_fr", "FR")
    maybe(0.3, "_mbx_name_fr", "XFR")
    maybe(0.3, "name_de", "DE")
    maybe(0.7, "class", ("primary", "secondary", "shop", "park")[int(rng.integers(4))])
    maybe(0.2, "_mbx_class", ("major", "minor")[int(rng.integers(2))])
    maybe(0.08, "worldview", ("all", "US", "CN")[int(rng.integers(3))])
    maybe(0.4, "_mbx_worldview", ("all", "US", "CN", "JP", "US,CN", "IN,JP",
                                  "CN,JP,US")[int(rng.integers(7))])
    maybe(0.5, "ref", f"R{int(rng.integers(1, 900))}")
    return p


# ---------------------------------------------------------------- pages

def _tile_bounds(z: int, x: int, y: int):
    n = 1 << z
    lon0, lon1 = x / n * 360.0 - 180.0, (x + 1) / n * 360.0 - 180.0
    lat = lambda t: math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * t / n))))  # noqa: E731
    return lon0, lon1, lat(y + 1), lat(y)


def hot_tile():
    fx, fy = mercator_xy(SF_LON, SF_LAT, PAGES_HOT_Z)
    return PAGES_HOT_Z, int(fx), int(fy)


def gen_pages(seed: int, root: str) -> dict:
    rng = _rng(seed, 3)
    n = PAGES_N
    perm = rng.permutation(n)
    n_untag = int(n * PAGES_UNTAGGED_SHARE)
    n_hot = int(n * PAGES_HOT_SHARE)
    n_far = int(n * PAGES_FAR_SHARE)
    tagged = np.ones(n, bool)
    tagged[perm[:n_untag]] = False
    hot = np.zeros(n, bool)
    hot[perm[n_untag:n_untag + n_hot]] = True
    far = np.zeros(n, bool)
    far[perm[n_untag + n_hot:n_untag + n_hot + n_far]] = True
    gz = np.zeros(n, bool)
    gz[rng.permutation(n)[: int(n * PAGES_GZIP_SHARE)]] = True

    lon0, lon1, lat0, lat1 = _tile_bounds(*hot_tile())
    (rlon0, rlon1), (rlat0, rlat1) = PAGES_REGION
    lon = rng.uniform(rlon0, rlon1, n)
    lat = rng.uniform(rlat0, rlat1, n)
    lon[hot] = rng.uniform(lon0 + 1e-4, lon1 - 1e-4, n_hot)
    lat[hot] = rng.uniform(lat0 + 1e-4, lat1 - 1e-4, n_hot)
    lon[far] = rng.uniform(-179.9, 179.9, n_far)
    lat[far] = rng.uniform(-70.0, 70.0, n_far)
    lat_s = [f"{v:.6f}" for v in lat]
    lon_s = [f"{v:.6f}" for v in lon]
    lat_p = np.array([float(s) for s in lat_s])
    lon_p = np.array([float(s) for s in lon_s])
    lat_p[~tagged] = np.nan
    lon_p[~tagged] = np.nan

    wcount = 8 + np.arange(n) % 25
    words = rng.integers(len(WORDS), size=int(wcount.sum()))
    seps = rng.choice(np.array([" ", " ", " ", "  ", "\n"]), size=int(wcount.sum()))
    texts, urls, htmls = [], [], []
    pos = 0
    hosts = rng.integers(0, 997, n)
    for i in range(n):
        w = int(wcount[i])
        parts = []
        for k in range(pos, pos + w):
            parts.append(WORDS[words[k]])
            parts.append(seps[k])
        pos += w
        text = "".join(parts[:-1])
        texts.append(text)
        url = f"https://site{hosts[i]}.example.org/p/{i:07d}"
        urls.append(url)
        meta = (f'<meta name="geo.position" content="{lat_s[i]};{lon_s[i]}">'
                if tagged[i] else "")
        html = (f"<html><head><title>page {i}</title>{meta}</head>"
                f"<body>{text}</body></html>").encode("utf-8")
        htmls.append(gzip.compress(html, compresslevel=1, mtime=0) if gz[i] else html)
    langs = np.array(["en", "de", "fr", "ja", "zh-Hant", "es"])[np.arange(n) % 6]
    ts = (np.int64(1_600_000_000) + np.arange(n, dtype=np.int64)) * 1_000_000
    pages = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
    })

    # pip polygons (lon/lat, closed rings): a few over the hot tile,
    # the rest regional; every third has a hole
    prng = _rng(seed, 4)
    polys = []
    for pid in range(PAGES_N_POLYS):
        if pid < 8:
            clon = prng.uniform(lon0, lon1)
            clat = prng.uniform(lat0, lat1)
            r = prng.uniform(0.2, 0.6) * (lon1 - lon0)
        else:
            clon = prng.uniform(*PAGES_REGION[0])
            clat = prng.uniform(*PAGES_REGION[1])
            r = prng.uniform(0.2, 0.8)
        rings = [_circle_ring(clon, clat, r, 12, prng)]
        if pid % 3 == 0:
            rings.append(_circle_ring(clon, clat, 0.3 * r, 6, prng, True))
        polys.append((pid, rings))
    offs = []
    for _pid, rings in polys:
        o, acc = [], 0
        for rx, _ in rings:
            o.append(acc)
            acc += len(rx)
        offs.append(o)
    poly_tbl = pa.table({
        "poly_id": pa.array([p for p, _ in polys], pa.int64()),
        "xs": pa.array([np.concatenate([rx for rx, _ in r]) for _, r in polys],
                       pa.list_(pa.float64())),
        "ys": pa.array([np.concatenate([ry for _, ry in r]) for _, r in polys],
                       pa.list_(pa.float64())),
        "part_offsets": pa.array(offs, pa.list_(pa.int32())),
    })
    srng = _rng(seed, 5)
    n_hot_sites = PAGES_N_SITES // 4
    s_lon = srng.uniform(*PAGES_REGION[0], PAGES_N_SITES)
    s_lat = srng.uniform(*PAGES_REGION[1], PAGES_N_SITES)
    s_lon[:n_hot_sites] = srng.uniform(lon0 - 0.05, lon1 + 0.05, n_hot_sites)
    s_lat[:n_hot_sites] = srng.uniform(lat0 - 0.05, lat1 + 0.05, n_hot_sites)
    sites_tbl = pa.table({"site_id": pa.array(np.arange(PAGES_N_SITES), pa.int64()),
                          "lat": s_lat, "lon": s_lon})

    # place names per page (string values; "url" links a tile feature back)
    nrng = _rng(seed, 6)
    names = []
    for i in range(n):
        p = {k: f"{v}{i}" if k.startswith(("name", "_mbx_name")) else v
             for k, v in _loc_props(nrng).items()}
        names.append({"url": urls[i], **p})
    names_tbl = pa.table({"url": pa.array(urls, pa.string()),
                          "properties": pa.array([list(d.items()) for d in names],
                                                 pa.map_(pa.string(), pa.string()))})

    # z10 targets: every tile holding a geotagged page of the region
    req = tagged & ~far
    fx, fy = mercator_xy(lon_p[req], lat_p[req], PAGES_TARGET_Z)
    tgt = np.unique(np.stack([np.floor(fx), np.floor(fy)], 1).astype(np.int64), axis=0)
    nt = len(tgt)
    compress = (np.arange(nt) % 2 == 1).tolist()
    tcols = {"z": [PAGES_TARGET_Z] * nt, "x": tgt[:, 0].tolist(),
             "y": tgt[:, 1].tolist(), "buffer_size": [PAGES_BUFFER] * nt,
             "keep_layers": [None] * nt, "compress": compress}
    targets = [(PAGES_TARGET_Z, int(a), int(b)) for a, b in tgt]
    return {
        "pages": _write(pages, f"{root}/pages", INPUT_FILES),
        "polys": _write(poly_tbl, f"{root}/pip_polys"),
        "sites": _write(sites_tbl, f"{root}/knn_sites"),
        "names": _write(names_tbl, f"{root}/page_names", INPUT_FILES),
        "targets": _write(pa.table(tcols, schema=_TARGETS_ARROW),
                          f"{root}/pages_targets"),
        "urls": np.array(urls, dtype=object), "texts": texts, "page_names": names,
        "lat": lat_p, "lon": lon_p, "tagged": tagged,
        "polys_list": polys, "sites_lat": s_lat, "sites_lon": s_lon,
        "targets_list": targets, "compress": dict(zip(targets, compress)),
        "n_items": n,
    }


GENERATORS = {"tiles_overzoom_poly": gen_poly, "pages_geo": gen_pages}
