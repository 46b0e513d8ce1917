"""NumPy oracles for the benchmark, independent of the program.

- PIP: brute-force even-odd ray cast over the generated rings, with a
  uniform grid only to enumerate candidate pairs.
- Tiles: the Web-Mercator slippy-tile formula and a bit-interleaved
  quadkey.
- kNN: brute-force planar distances.

Outputs are compared through order-free checksums that the benchmark
also computes inside Spark (`pair_sums` / `tile_sums` there use the
same integer formulas), so a pass never collects its result rows.
"""

from __future__ import annotations

import numpy as np

MOD = 2147483647  # checksum modulus; every product below stays < 2**63
TILE_Z = 12
WEBMERC_MAX_LAT = 85.05112878


def pair_checksum(doc: np.ndarray, poly: np.ndarray) -> tuple[int, int, int]:
    """(count, sum h1, sum h2) over (doc, poly) integer id pairs."""
    d = np.asarray(doc, dtype=np.int64)
    p = np.asarray(poly, dtype=np.int64)
    h1 = (d * 1000003 + p * 7919 + 12345) % MOD
    h2 = (h1 * 16807 + d) % MOD
    return int(d.size), int(h1.sum()), int(h2.sum())


def tile_checksum(doc, x, y, quadkey, z: int = TILE_Z) -> tuple[int, int, int]:
    """(count, sum h1, sum h2) over tile rows (doc, z, x, y, quadkey as
    a base-4 integer)."""
    d = np.asarray(doc, dtype=np.int64)
    h1 = (d * 1000003 + np.asarray(x) * 4099 + np.asarray(y) * 17 + np.asarray(quadkey) * 3 + z * 101) % MOD
    h2 = (h1 * 16807 + np.asarray(quadkey)) % MOD
    return int(d.size), int(h1.sum()), int(h2.sum())


def ray_cast(px, py, cand_poly, offsets, xs, ys) -> np.ndarray:
    """Even-odd rule for candidate pairs: point (px[i], py[i]) against
    the closed ring cand_poly[i], rings stored flat (xs/ys, offsets)."""
    nedge = offsets[cand_poly + 1] - offsets[cand_poly] - 1
    cand = np.repeat(np.arange(px.size), nedge)
    e = offsets[cand_poly][cand] + np.arange(cand.size) - np.repeat(np.cumsum(nedge) - nedge, nedge)
    x1, y1, x2, y2 = xs[e], ys[e], xs[e + 1], ys[e + 1]
    qx, qy = px[cand], py[cand]
    with np.errstate(divide="ignore", invalid="ignore"):
        crosses = ((y1 > qy) != (y2 > qy)) & (qx < x1 + (qy - y1) * (x2 - x1) / (y2 - y1))
    return np.bincount(cand, weights=crosses, minlength=px.size).astype(np.int64) % 2 == 1


def pip_pairs(lon, lat, valid, offsets, xs, ys, grid_deg: float = 0.25):
    """All (doc index, poly index) pairs with the point strictly inside
    the polygon; docs with valid=False have no point and never match.
    A uniform grid enumerates candidate pairs; the ray cast decides."""
    pts = np.nonzero(valid)[0]
    ny = int(np.ceil(180.0 / grid_deg)) + 1
    key = np.floor((lon[pts] + 180.0) / grid_deg).astype(np.int64) * ny + np.floor(
        (lat[pts] + 90.0) / grid_deg
    ).astype(np.int64)
    order = np.argsort(key, kind="stable")
    skey, spts = key[order], pts[order]

    starts = offsets[:-1]
    minx, maxx = np.minimum.reduceat(xs, starts), np.maximum.reduceat(xs, starts)
    miny, maxy = np.minimum.reduceat(ys, starts), np.maximum.reduceat(ys, starts)
    bx0 = np.floor((minx + 180.0) / grid_deg).astype(np.int64)
    bx1 = np.floor((maxx + 180.0) / grid_deg).astype(np.int64)
    by0 = np.floor((miny + 90.0) / grid_deg).astype(np.int64)
    by1 = np.floor((maxy + 90.0) / grid_deg).astype(np.int64)
    ncy = by1 - by0 + 1
    ncell = (bx1 - bx0 + 1) * ncy
    # one row per (polygon, grid cell under its bbox)
    poly_rep = np.repeat(np.arange(starts.size), ncell)
    j = np.arange(poly_rep.size) - np.repeat(np.cumsum(ncell) - ncell, ncell)
    ckey = (bx0[poly_rep] + j // ncy[poly_rep]) * ny + by0[poly_rep] + j % ncy[poly_rep]
    lo = np.searchsorted(skey, ckey, "left")
    cnt = np.searchsorted(skey, ckey, "right") - lo
    # one row per (polygon, point in one of those cells)
    cand_poly = np.repeat(poly_rep, cnt)
    k = np.arange(cand_poly.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    cand_pt = spts[np.repeat(lo, cnt) + k]
    px, py = lon[cand_pt], lat[cand_pt]
    box = (px > minx[cand_poly]) & (px < maxx[cand_poly]) & (py > miny[cand_poly]) & (py < maxy[cand_poly])
    cand_pt, cand_poly = cand_pt[box], cand_poly[box]
    hit = ray_cast(lon[cand_pt], lat[cand_pt], cand_poly, offsets, xs, ys)
    return cand_pt[hit], cand_poly[hit]


def tiles(lon, lat, z: int = TILE_Z):
    """Slippy-map tile (x, y) and the quadkey read as a base-4 integer."""
    n = 1 << z
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    phi = np.radians(np.clip(lat, -WEBMERC_MAX_LAT, WEBMERC_MAX_LAT))
    y = np.floor((1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / np.pi) / 2.0 * n).astype(np.int64)
    x = np.clip(x, 0, n - 1)
    y = np.clip(y, 0, n - 1)
    quadkey = np.zeros_like(x)
    for bit in range(z):
        quadkey |= ((x >> bit) & 1) << (2 * bit)
        quadkey |= ((y >> bit) & 1) << (2 * bit + 1)
    return x, y, quadkey


def knn_distances(lon, lat, qlon, qlat, k: int) -> np.ndarray:
    """Brute-force planar distances of the k nearest points per query,
    ascending: shape (Q, k)."""
    d = np.sqrt((lon[None, :] - qlon[:, None]) ** 2 + (lat[None, :] - qlat[:, None]) ** 2)
    return np.sort(np.partition(d, k - 1, axis=1)[:, :k], axis=1)


def knn_mismatches(got: dict, lon, lat, qlon, qlat, dist, rel_tol: float = 1e-9) -> int:
    """Count queries whose result is not a valid k-nearest answer.

    got: query index -> list of (rank, doc index, dist). Ranks must be
    1..k, the docs distinct, each reported distance must be the doc's
    true distance, and rank by rank equal the brute-force distance
    (all within rel_tol). Which of several equidistant docs fills a
    rank is left free: engines may break exact ties differently."""
    k = dist.shape[1]
    bad = 0
    for q in range(dist.shape[0]):
        rows = sorted(got.get(q, []))
        ranks = [r[0] for r in rows]
        docs = np.array([r[1] for r in rows], dtype=np.int64)
        dd = np.array([r[2] for r in rows])
        if ranks != list(range(1, k + 1)) or len(set(docs.tolist())) != k:
            bad += 1
            continue
        true_d = np.sqrt((lon[docs] - qlon[q]) ** 2 + (lat[docs] - qlat[q]) ** 2)
        ok = np.allclose(dd, dist[q], rtol=rel_tol, atol=0) and np.allclose(true_d, dd, rtol=rel_tol, atol=0)
        bad += not ok
    return bad
