"""Output checks, each against a computation made apart from the engine.

Every check returns a list of error strings (empty means the output is
right). Tiles are decoded with the benchmark's own reader
(``tilebench.mvtio``); geometry, counts and joins are recomputed from the
generator's values with numpy.
"""

from __future__ import annotations

import math

import numpy as np

from . import gen, mvtio

# A polygon whose overlap with a child box is thinner than this (target
# pixels, along the separating axis that overlaps least) may be dropped
# or kept: the engine rounds clip intersections to the integer grid.
SLIVER_PX = 2.0
# Clipped area per tile: |engine - numpy| <= AREA_REL * numpy area
# + AREA_PER_CUT px² for every polygon the box cuts (integer rounding of
# each intersection vertex moves it by at most half a pixel).
AREA_REL = 1e-3
AREA_PER_CUT = 400.0
MAX_ERRORS = 20


def shoelace(ring) -> float:
    """Signed area of a closed ring, positive for the MVT exterior
    winding (y down)."""
    return 0.5 * sum(x0 * y1 - x1 * y0 for (x0, y0), (x1, y1) in zip(ring, ring[1:]))


def _clip_half(X, Y, axis: int, bound: float, keep_ge: bool):
    """One Sutherland-Hodgman pass over many rings at once. Rows are
    rings (M, K) traversed cyclically; the output is padded by repeating
    the previous kept vertex, which adds no area."""
    V = X if axis == 0 else Y
    inside = V >= bound if keep_ge else V <= bound
    Xn, Yn, Vn = (np.roll(a, -1, 1) for a in (X, Y, V))
    inn = np.roll(inside, -1, 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(inside != inn, (bound - V) / (Vn - V), 0.0)
    IX = X + t * (Xn - X)
    IY = Y + t * (Yn - Y)
    if axis == 0:
        IX = np.where(inside != inn, bound, IX)
    else:
        IY = np.where(inside != inn, bound, IY)
    m, k = X.shape
    OX = np.stack([X, IX], 2).reshape(m, 2 * k)
    OY = np.stack([Y, IY], 2).reshape(m, 2 * k)
    valid = np.stack([inside, inside != inn], 2).reshape(m, 2 * k)
    idx = np.where(valid, np.arange(2 * k), -1)
    idx = np.maximum.accumulate(idx, 1)
    idx = np.where(idx < 0, idx[:, -1:], idx)
    empty = idx[:, -1] < 0
    idx[empty] = 0
    OX = np.take_along_axis(OX, idx, 1)
    OY = np.take_along_axis(OY, idx, 1)
    OX[empty] = 0.0
    OY[empty] = 0.0
    return OX, OY


def ring_area(X, Y) -> np.ndarray:
    """Signed area of each ring (rows of open vertex arrays)."""
    return 0.5 * (np.sum(X * np.roll(Y, -1, 1), 1) - np.sum(np.roll(X, -1, 1) * Y, 1))


def clipped_area(X, Y, lo: float, hi: float) -> np.ndarray:
    """Signed area of each convex ring (rows of open vertex arrays)
    clipped to the box [lo, hi]²."""
    for axis, bound, ge in ((0, lo, True), (0, hi, False), (1, lo, True), (1, hi, False)):
        X, Y = _clip_half(X, Y, axis, bound, ge)
    return ring_area(X, Y)


def overlap_depth(X, Y, lo: float, hi: float) -> np.ndarray:
    """Separating-axis overlap of convex rings (rows, open, positive
    orientation) with the box: the least overlap over the box axes and
    the ring's edge normals. Positive iff they share positive area."""
    d = np.minimum(np.minimum(X.max(1), hi) - np.maximum(X.min(1), lo),
                   np.minimum(Y.max(1), hi) - np.maximum(Y.min(1), lo))
    ex = np.roll(X, -1, 1) - X
    ey = np.roll(Y, -1, 1) - Y
    ln = np.hypot(ex, ey)
    nx, ny = ey / ln, -ex / ln  # outward for positive (y-down) rings
    proj = nx[:, :, None] * X[:, None, :] + ny[:, :, None] * Y[:, None, :]
    pmax, pmin = proj.max(2), proj.min(2)
    cx = np.array([lo, hi, lo, hi], np.float64)
    cy = np.array([lo, lo, hi, hi], np.float64)
    bproj = nx[:, :, None] * cx + ny[:, :, None] * cy
    ov = np.minimum(pmax, bproj.max(2)) - np.maximum(pmin, bproj.min(2))
    return np.minimum(d, ov.min(1))


def _err(errs: list, msg: str) -> None:
    if len(errs) < MAX_ERRORS:
        errs.append(msg)


# ------------------------------------------------------ tiles_overzoom_poly

def check_poly(truth: dict, outs: dict) -> list[str]:
    errs: list[str] = []
    tiles = outs["tiles"]
    want = set(truth["targets_list"])
    if set(tiles) != want:
        _err(errs, f"poly: {len(tiles)} tiles out, {len(want)} targets requested")
    src_index = {s: i for i, s in enumerate(truth["sources"])}
    by_src: dict[int, list] = {}
    for p in truth["polys"]:
        by_src.setdefault(p["src"], []).append(p)
    # per source tile: outer rings (open, one row each) and holes with owner
    rings = {}
    for s, polys in by_src.items():
        outer = np.array([p["rings"][0] for p in polys], np.float64)[:, :, :-1]
        holes = [(i, h) for i, p in enumerate(polys) for h in p["rings"][1:]]
        hole = np.array([h for _, h in holes], np.float64)[:, :, :-1]
        rings[s] = (outer, hole, np.array([i for i, _ in holes], np.int64))
    lo, hi = -gen.POLY_BUFFER, gen.EXTENT + gen.POLY_BUFFER
    for (z, x, y), buf in sorted(tiles.items()):
        dz = z - gen.POLY_SRC_Z
        sx, sy = x >> dz, y >> dz
        ox, oy = (x - (sx << dz)) * gen.EXTENT, (y - (sy << dz)) * gen.EXTENT
        s = src_index[(gen.POLY_SRC_Z, sx, sy)]
        polys = by_src[s]
        outer, hole, owner = rings[s]
        f = 1 << dz
        OX, OY = outer[:, 0] * f - ox, outer[:, 1] * f - oy
        depth = overlap_depth(OX, OY, lo, hi)
        ids = np.array([p["id"] for p in polys])
        sure = set(ids[depth >= SLIVER_PX].tolist())
        maybe = set(ids[(depth > 0) & (depth < SLIVER_PX)].tolist())
        # holes lie inside their outer ring, so the outer bbox bounds the feature
        inside = (OX.min(1) >= lo) & (OX.max(1) <= hi) & (OY.min(1) >= lo) & (OY.max(1) <= hi)
        cut = (depth > 0) & ~inside
        area = np.where(inside, ring_area(OX, OY), 0.0)
        area[cut] = clipped_area(OX[cut], OY[cut], lo, hi)
        HX, HY = hole[:, 0] * f - ox, hole[:, 1] * f - oy
        harea = np.where(inside[owner], ring_area(HX, HY), 0.0)
        hcut = cut[owner]
        harea[hcut] = clipped_area(HX[hcut], HY[hcut], lo, hi)
        np.add.at(area, owner, harea)
        by_id = {p["id"]: (i, p) for i, p in enumerate(polys)}

        layers = mvtio.decode_tile(buf)
        feats = [ft for ly in layers for ft in ly["features"]]
        if [ly["name"] for ly in layers] not in ([], ["landuse"]):
            _err(errs, f"poly {z}/{x}/{y}: layers {[ly['name'] for ly in layers]}")
        got = [ft["id"] for ft in feats]
        if len(got) != len(set(got)):
            _err(errs, f"poly {z}/{x}/{y}: duplicate feature ids")
        got_s = set(got)
        if not sure <= got_s or not got_s <= sure | maybe:
            _err(errs, f"poly {z}/{x}/{y}: ids missing {sorted(sure - got_s)[:5]} "
                       f"extra {sorted(got_s - sure - maybe)[:5]}")
        total = 0.0
        for ft in feats:
            if ft["type"] != mvtio.POLYGON or ft["id"] not in by_id:
                _err(errs, f"poly {z}/{x}/{y}: unexpected feature {ft['id']}")
                continue
            i, p = by_id[ft["id"]]
            if ft["props"] != p["props"]:
                _err(errs, f"poly {z}/{x}/{y} id {ft['id']}: properties differ")
            for k, ring in enumerate(ft["parts"]):
                vx = [q[0] for q in ring]
                vy = [q[1] for q in ring]
                if min(vx) < lo or max(vx) > hi or min(vy) < lo or max(vy) > hi:
                    _err(errs, f"poly {z}/{x}/{y} id {ft['id']}: vertex outside buffer")
                if len(ring) < 4 or ring[0] != ring[-1]:
                    _err(errs, f"poly {z}/{x}/{y} id {ft['id']}: ring not closed")
                a = shoelace(ring)
                if a == 0 or (k == 0 and a < 0):
                    _err(errs, f"poly {z}/{x}/{y} id {ft['id']}: ring {k} area {a}")
                total += a
            if inside[i]:
                want_rings = [list(zip((rx * f - ox).tolist(), (ry * f - oy).tolist()))
                              for rx, ry in p["rings"]]
                if ft["parts"] != want_rings:
                    _err(errs, f"poly {z}/{x}/{y} id {ft['id']}: inside feature "
                               "not an exact affine copy of its source")
        exp = float(area[depth > 0].sum())
        tol = AREA_REL * abs(exp) + AREA_PER_CUT * int(cut.sum())
        if abs(total - exp) > tol:
            _err(errs, f"poly {z}/{x}/{y}: area {total:.1f} vs {exp:.1f} (tol {tol:.1f})")
    return errs


# ------------------------------------------------------------- localize

def localized(props: dict) -> dict | None:
    """Localize rules L1-L4 (SURVEY.md §2.9) on string properties, with
    the benchmark's languages and worldviews and the default property
    names; None means the feature is dropped."""
    wv = props.get("worldview")
    if wv is not None and wv != "all":
        return None                                   # L1 incompatible key
    winner = None
    if "_mbx_worldview" in props:
        m = sorted(set(props["_mbx_worldview"].split(",")) & {*gen.LOC_WORLDVIEWS, "all"})
        if not m:
            return None                               # L1 no shared worldview
        winner = m[0]
    cls = props.get("_mbx_class") or props.get("class")   # L3
    name = None
    for lang in gen.LOC_LANGUAGES:                     # L4 precedence
        name = name or props.get(f"name_{lang}") or props.get(f"_mbx_name_{lang}")
    name = name or props.get("name")
    out = {k: v for k, v in props.items()
           if not k.startswith("_mbx_") and k not in ("worldview", "class")
           and not k.startswith("name")}
    for k, v in (("class", cls), ("name", name), ("name_local", props.get("name")),
                 ("worldview", winner)):
        if v is not None:
            out[k] = v
    return out


# ---------------------------------------------------------------- pages_geo

def _even_odd(px, py, rings) -> np.ndarray:
    inside = np.zeros(len(px), bool)
    for rx, ry in rings:
        for i in range(len(rx) - 1):
            x0, y0, x1, y1 = rx[i], ry[i], rx[i + 1], ry[i + 1]
            cond = (y0 > py) != (y1 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0 + (py - y0) / (y1 - y0) * (x1 - x0)
            inside ^= cond & (px < xint)
    return inside


def check_pages(truth: dict, outs: dict) -> list[str]:
    errs: list[str] = []
    urls = truth["urls"]
    n = len(urls)
    pos = {u: i for i, u in enumerate(urls)}

    def order(tbl):
        return np.array([pos[u] for u in tbl.column("url").to_pylist()], np.int64)

    text = outs["text"]
    if text.num_rows != n:
        _err(errs, f"text: {text.num_rows} rows for {n} pages")
    idx = order(text)
    for col in ("text", "extracted"):
        vals = text.column(col).to_pylist()
        bad = [urls[i] for i, v in zip(idx, vals) if v != truth["texts"][i]]
        if bad:
            _err(errs, f"text: {len(bad)} urls whose {col} differs, e.g. {bad[0]}")

    geo = outs["geo"]
    idx = order(geo)
    if geo.num_rows != n or len(set(idx.tolist())) != n:
        _err(errs, f"geo: {geo.num_rows} rows for {n} pages")
    lat = geo.column("lat").to_numpy(zero_copy_only=False).astype(np.float64)
    lon = geo.column("lon").to_numpy(zero_copy_only=False).astype(np.float64)
    tl, tn = truth["lat"][idx], truth["lon"][idx]
    tagged = truth["tagged"][idx]
    if not (np.array_equal(np.isnan(lat), ~tagged) and np.array_equal(lat[tagged], tl[tagged])
            and np.array_equal(lon[tagged], tn[tagged]) and np.isnan(lon[~tagged]).all()):
        _err(errs, "geo: lat/lon differ from the generated geotags")
    cell = geo.column("cell")
    cz = gen.PAGES_CELL_Z
    fx, fy = gen.mercator_xy(tn[tagged], tl[tagged], cz)
    cx = np.clip(np.floor(fx), 0, (1 << cz) - 1).astype(np.int64)
    cy = np.clip(np.floor(fy), 0, (1 << cz) - 1).astype(np.int64)
    want_cell = (np.int64(cz) << 58) | (cx << 29) | cy
    valid = cell.is_valid().to_numpy(zero_copy_only=False)
    got_cell = cell.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
    if not (np.array_equal(valid, tagged)
            and np.array_equal(got_cell[tagged], want_cell)):
        _err(errs, "geo: cell ids differ from numpy Web-Mercator cells")

    # PIP: brute-force even-odd over every tagged point and polygon
    t_idx = np.nonzero(truth["tagged"])[0]
    px, py = truth["lon"][t_idx], truth["lat"][t_idx]
    want_pairs = set()
    for pid, rings in truth["polys_list"]:
        ins = _even_odd(px, py, rings)
        want_pairs.update((int(i), pid) for i in t_idx[ins])
    pip = outs["pip"]
    got_pairs = set(zip(order(pip).tolist(), pip.column("poly_id").to_pylist()))
    if got_pairs != want_pairs or pip.num_rows != len(want_pairs):
        _err(errs, f"pip: {pip.num_rows} matches, brute force {len(want_pairs)} "
                   f"(missing {len(want_pairs - got_pairs)}, extra {len(got_pairs - want_pairs)})")

    # kNN: brute force under the squared equirectangular distance
    k = gen.PAGES_KNN_K
    slat, slon = truth["sites_lat"], truth["sites_lon"]
    want_knn = np.empty((len(t_idx), k), np.int64)
    for a in range(0, len(t_idx), 4096):
        la, lo_ = py[a:a + 4096, None], px[a:a + 4096, None]
        dlat = la - slat
        dlon = (lo_ - slon) * np.cos(np.radians((la + slat) / 2))
        d = dlat * dlat + dlon * dlon
        want_knn[a:a + 4096] = np.lexsort(
            (np.broadcast_to(np.arange(len(slat)), d.shape), d), axis=1)[:, :k]
    knn = outs["knn"]
    ki = order(knn)
    rank = knn.column("knn_rank").to_numpy(zero_copy_only=False).astype(np.int64)
    site = knn.column("site_id").to_numpy(zero_copy_only=False).astype(np.int64)
    row_of = np.full(n, -1, np.int64)
    row_of[t_idx] = np.arange(len(t_idx))
    got_knn = np.full((len(t_idx), k), -1, np.int64)
    ok_rows = (row_of[ki] >= 0) & (rank >= 1) & (rank <= k)
    got_knn[row_of[ki[ok_rows]], rank[ok_rows] - 1] = site[ok_rows]
    if knn.num_rows != len(t_idx) * k or not ok_rows.all() \
            or not np.array_equal(got_knn, want_knn):
        bad = int((got_knn != want_knn).any(1).sum())
        _err(errs, f"knn: {knn.num_rows} rows, {bad} points whose neighbours differ "
                   "from brute force")

    # tiles: localize L1-L4 on each point's names, and points per z10
    # tile equal to a numpy group-by over the buffered box
    kept = {}
    for j, i in enumerate(t_idx):
        lp = localized(truth["page_names"][i])
        if lp is not None:
            kept[urls[i]] = (j, lp)
    targets = set(truth["targets_list"])
    got_counts: dict = {}
    for (z, x, y), buf in outs["tiles"].items():
        gz = buf[:2] == b"\x1f\x8b"
        if gz != truth["compress"][(z, x, y)]:
            _err(errs, f"pages tile {z}/{x}/{y}: gzip {gz}, compress requested "
                       f"{truth['compress'][(z, x, y)]}")
        for ly in mvtio.decode_tile(buf):
            for ft in ly["features"]:
                props = {k: v for k, (_t, v) in ft["props"].items()}
                u = props.get("url")
                if u not in kept:
                    _err(errs, f"pages tile {z}/{x}/{y}: feature {u} should be dropped")
                    continue
                if props != kept[u][1] or any(t != "string" for t, _v in ft["props"].values()):
                    _err(errs, f"pages tile {z}/{x}/{y} {u}: properties {ft['props']} "
                               f"!= {kept[u][1]}")
                got_counts[(z, x, y)] = got_counts.get((z, x, y), 0) + 1
    rows = np.array(sorted(j for j, _ in kept.values()), np.int64)
    want_counts = _tile_counts(px[rows], py[rows], targets)
    if got_counts != want_counts:
        bad = [t for t in targets if got_counts.get(t, 0) != want_counts.get(t, 0)]
        _err(errs, f"pages tiles: {len(bad)} tiles whose point count differs from "
                   f"numpy, e.g. {bad[:1]}")
    return errs


def _tile_counts(lon, lat, targets) -> dict:
    """Points each requested z10 tile receives from its z8 source tile:
    the engine's pixel snap (round half up), then the buffered box."""
    sz, tz = gen.PAGES_SRC_Z, gen.PAGES_TARGET_Z
    fx8, fy8 = gen.mercator_xy(lon, lat, sz)
    sx = np.clip(np.floor(fx8), 0, (1 << sz) - 1).astype(np.int64)
    sy = np.clip(np.floor(fy8), 0, (1 << sz) - 1).astype(np.int64)
    ppx = np.floor((fx8 - np.floor(fx8)) * gen.EXTENT + 0.5).astype(np.int64)
    ppy = np.floor((fy8 - np.floor(fy8)) * gen.EXTENT + 0.5).astype(np.int64)
    f = 1 << (tz - sz)
    lo, hi = -gen.PAGES_BUFFER, gen.EXTENT + gen.PAGES_BUFFER
    counts: dict = {}
    for cy in range(f):
        for cx in range(f):
            X = ppx * f - cx * gen.EXTENT
            Y = ppy * f - cy * gen.EXTENT
            m = (X >= lo) & (X <= hi) & (Y >= lo) & (Y <= hi)
            keys, cnt = np.unique(np.stack([sx[m] * f + cx, sy[m] * f + cy], 1),
                                  axis=0, return_counts=True)
            for (a, b), c in zip(keys.tolist(), cnt.tolist()):
                if (tz, a, b) in targets:
                    counts[(tz, a, b)] = counts.get((tz, a, b), 0) + c
    return counts


CHECKS = {"tiles_overzoom_poly": check_poly, "pages_geo": check_pages}
