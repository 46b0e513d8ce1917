"""Seeded input generator for the benchmark workloads.

Everything is built with NumPy and Arrow: no per-row DataFrame
construction. Point coordinates sit on the 1e-6 degree lattice and
every polygon vertex sits EDGE_EPS off it (the same convention as
`geo_import_spark.corpus.EDGE_EPS`), so no point lies on a polygon
edge and containment has no ties between engines.

`generate(workload, seed)` returns an `Inputs` holding the NumPy arrays
the oracle needs; `Inputs.write(dir)` writes the parquet tables the
program reads (documents, polygons, kNN queries).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EDGE_EPS_MICRO = 0.45  # vertex offset off the point lattice, in 1e-6 degrees
TABLE_FILES = 16  # each table is several files, so scans run in parallel

# Per-workload input sizes. The clustered layer must exceed pip_join's
# 64 MiB broadcast budget (its estimate: 1 KiB per polygon + 16 B per
# vertex) so that the default "auto" plan picks the shuffle join:
# 7,900 polygons and 3.9M vertices estimate to about 70.5 MB.
SIZES = {
    "clustered_shapes": dict(
        docs=10_000, notched=6_000, combs=1_900, comb_vertices=2_000, media_every=50, centres=6, queries=64
    ),
    "checkpointed_ingest": dict(docs=6_000, polys=100, media_every=2, malformed_frac=0.01),
}
WORKLOAD_CODES = {name: i for i, name in enumerate(SIZES)}


@dataclass
class Inputs:
    """Generated inputs plus the ground truth the oracle works from.

    lon/lat: float64 per doc (the doc's single point; NaN-free even
    where the geometry span is malformed). valid: False where the
    geometry span was planted malformed. media: True where the doc
    carries a media span. Polygons are single closed rings stored flat,
    Arrow-offsets style."""

    lon: np.ndarray
    lat: np.ndarray
    valid: np.ndarray
    media: np.ndarray
    poly_offsets: np.ndarray  # (P + 1,) ring start of each polygon in poly_x/poly_y
    poly_x: np.ndarray  # flat closed rings (the last vertex repeats the first)
    poly_y: np.ndarray
    qlon: np.ndarray
    qlat: np.ndarray

    @property
    def n_docs(self) -> int:
        return self.lon.size

    @property
    def n_polys(self) -> int:
        return self.poly_offsets.size - 1

    def fingerprint(self) -> str:
        """Digest of every generated array: names the parquet cache."""
        h = hashlib.sha1()
        for a in (self.lon, self.lat, self.valid, self.media, self.poly_offsets, self.poly_x, self.poly_y, self.qlon, self.qlat):
            h.update(np.ascontiguousarray(a).tobytes())
        return h.hexdigest()[:16]

    def write(self, out_dir: str) -> None:
        """Write docs/polys/queries parquet under out_dir once; a
        `_DONE` marker makes a second call with the same inputs free."""
        marker = os.path.join(out_dir, "_DONE")
        if os.path.exists(marker):
            return
        os.makedirs(out_dir, exist_ok=True)
        for name, table in (
            ("docs", documents_table(self)),
            ("polys", polygons_table(self)),
            ("queries", queries_table(self)),
        ):
            os.makedirs(os.path.join(out_dir, name), exist_ok=True)
            bounds = np.linspace(0, table.num_rows, TABLE_FILES + 1).astype(int)
            for i in range(TABLE_FILES):
                pq.write_table(
                    table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                    os.path.join(out_dir, name, f"part-{i:03d}.parquet"),
                )
        open(marker, "w").close()


def doc_ids(n: int) -> np.ndarray:
    return np.char.add("d", np.char.zfill(np.arange(n).astype(str), 7))


def poly_ids(n: int) -> np.ndarray:
    return np.char.add("p", np.char.zfill(np.arange(n).astype(str), 6))


def query_ids(n: int) -> np.ndarray:
    return np.char.add("q", np.char.zfill(np.arange(n).astype(str), 5))


def _lattice(micro: np.ndarray) -> np.ndarray:
    return micro.astype(np.int64) / 1e6


def _off_lattice(micro: np.ndarray) -> np.ndarray:
    return (micro.astype(np.int64) + EDGE_EPS_MICRO) / 1e6


# Ingest points and rectangles stay inside lon [-90, 90) x lat [-45, 45):
# 16 of the pipeline's level-3 work units (45 x 22.5 degrees each).
REGION_MICRO = (90_000_000, 45_000_000)


def _uniform_points(rng, n):
    hx, hy = REGION_MICRO
    lon = rng.integers(-hx, hx, n)
    lat = rng.integers(-hy, hy, n)
    return _lattice(lon), _lattice(lat)


def _rectangles(rng, n):
    """n axis-aligned rectangles in the region; rectangle 0 covers 80%
    of it on each axis (the hot polygon of the BASELINE headline
    layer). Closed 5-vertex CCW rings, the form pip_join's rectangle
    fast path recognises."""
    hx, hy = REGION_MICRO
    cx = rng.integers(-hx, hx, n)
    cy = rng.integers(-hy, hy, n)
    w = rng.integers(hx // 20, hx // 4, n)
    h = rng.integers(hy // 20, hy // 4, n)
    cx[0], cy[0], w[0], h[0] = 0, 0, hx * 8 // 5, hy * 8 // 5
    x0 = _off_lattice(np.maximum(cx - w // 2, -hx))
    x1 = _off_lattice(np.minimum(cx + w // 2, hx - 1))
    y0 = _off_lattice(np.maximum(cy - h // 2, -hy))
    y1 = _off_lattice(np.minimum(cy + h // 2, hy - 1))
    xs = np.stack([x0, x1, x1, x0, x0], axis=1)
    ys = np.stack([y0, y0, y1, y1, y0], axis=1)
    return xs, ys


def notched_polygon_ring(x0, y0, w, h, c, d, m1, m2, e):
    """Closed 16-vertex rectilinear ring (17 coordinates, CCW) in
    micro-degree integers: the box [x0, x0+w] x [y0, y0+h] with its
    four corners cut c wide and d tall, plus a notch [m1, m2] wide and
    e deep cut into the top edge. Concave, so candidates in a cut
    corner or the notch pass the bbox filter and only the ray cast
    rejects them. Arguments may be NumPy arrays (one ring per
    element); returns (xs, ys) of shape (..., 17)."""
    X0, X1, Y0, Y1 = x0, x0 + w, y0, y0 + h
    xs = [X0 + c, X1 - c, X1 - c, X1, X1, X1 - c, X1 - c, x0 + m2, x0 + m2,
          x0 + m1, x0 + m1, X0 + c, X0 + c, X0, X0, X0 + c]
    ys = [Y0, Y0, Y0 + d, Y0 + d, Y1 - d, Y1 - d, Y1, Y1, Y1 - e,
          Y1 - e, Y1, Y1, Y1 - d, Y1 - d, Y0 + d, Y0 + d]
    xs.append(xs[0])
    ys.append(ys[0])
    return np.stack(xs, axis=-1), np.stack(ys, axis=-1)


def comb_polygon_ring(x0, y0, w, h, teeth: int):
    """Closed rectilinear comb rings in micro-degree integers, one per
    element of the 1-D arrays x0, y0, w, h: a base [x0, x0+w] x
    [y0, y0+h/2] with `teeth` teeth reaching y0+h. CCW, 4 * teeth
    vertices plus the closing repeat; returns (xs, ys), shape (P, 4T+1)."""
    x0, y0, w, h = (np.atleast_1d(np.asarray(v, dtype=np.int64))[:, None] for v in (x0, y0, w, h))
    b = x0 + w * np.arange(2 * teeth) // (2 * teeth - 1)  # tooth/gap boundaries
    ym, y1 = y0 + h // 2, y0 + h
    # the gaps right to left: (b[2j], y1) (b[2j], ym) (b[2j-1], ym) (b[2j-1], y1)
    j = np.arange(teeth - 1, 0, -1)
    gx = np.stack([b[:, 2 * j], b[:, 2 * j], b[:, 2 * j - 1], b[:, 2 * j - 1]], axis=-1).reshape(len(b), -1)
    gy = np.tile(np.concatenate([y1, ym, ym, y1], axis=1), (1, teeth - 1))
    xs = np.concatenate([x0, b[:, -1:], b[:, -1:], gx, x0, x0], axis=1)
    ys = np.concatenate([y0, y0, y1, gy, y1, y0], axis=1)
    return xs, ys


def _clustered_polygons(rng, size, centres):
    """The clustered layer, single closed rings:

    - 8 notched polygons about 30 x 15 degrees over the first centres.
      Their cover level (6) is the coarsest, and there the dense cluster
      fills one cell, so auto_salt_factor finds a hot cell.
    - `notched` 16-vertex notched polygons 0.03-0.25 degrees wide, half
      around the cluster centres: most candidates and hits.
    - `combs` detailed comb polygons of `comb_vertices` vertices, 0.3-1
      degree wide and uniform over the world, where points are sparse:
      they carry most of the layer's bytes, which is what puts it over
      pip_join's broadcast budget, as detailed boundaries do in real
      layers."""
    n = size["notched"]
    near = np.arange(n) % 2 == 0
    k = np.arange(n) // 2 % len(centres)
    cx = np.where(near, centres[k, 0] + rng.normal(0, 3.0e6, n), rng.uniform(-170e6, 170e6, n))
    cy = np.where(near, centres[k, 1] + rng.normal(0, 3.0e6, n), rng.uniform(-75e6, 75e6, n))
    w = rng.integers(30_000, 250_000, n)
    h = rng.integers(30_000, 250_000, n)
    cx[:8] = centres[np.arange(8) % len(centres), 0] + rng.normal(0, 1.0e6, 8)
    cy[:8] = centres[np.arange(8) % len(centres), 1] + rng.normal(0, 0.5e6, 8)
    w[:8] = rng.integers(29_000_000, 31_000_000, 8)
    h[:8] = rng.integers(14_500_000, 15_500_000, 8)
    x0 = np.clip(cx.astype(np.int64) - w // 2, -179_000_000, 179_000_000 - w)
    y0 = np.clip(cy.astype(np.int64) - h // 2, -84_000_000, 84_000_000 - h)
    nx, ny = notched_polygon_ring(x0, y0, w, h, w // 5, h // 5, w * 2 // 5, w * 3 // 5, h // 3)
    m = size["combs"]
    cw = rng.integers(300_000, 1_000_000, m)
    chh = rng.integers(300_000, 1_000_000, m)
    cx0 = rng.integers(-179_000_000, 178_000_000, m)
    cy0 = rng.integers(-84_000_000, 83_000_000, m)
    kx, ky = comb_polygon_ring(cx0, cy0, cw, chh, size["comb_vertices"] // 4)
    xs = np.concatenate([nx.ravel(), kx.ravel()])
    ys = np.concatenate([ny.ravel(), ky.ravel()])
    nverts = np.concatenate([np.full(n, nx.shape[1]), np.full(m, kx.shape[1])])
    offsets = np.concatenate([[0], np.cumsum(nverts)])
    return offsets, _off_lattice(xs), _off_lattice(ys)


L6_CELL_MICRO = (5_625_000, 2_812_500)  # lon x lat extent of a level-6 quadtree cell


def _cluster_centres(rng, k):
    """k centres about 60 degrees apart in longitude, each at the centre of
    a level-6 cell (the 30 x 15 degree polygons' cover level). The dense
    cluster then fills one cover cell at every seed, so the salt factor
    auto_salt_factor measures does not depend on the seed."""
    cw, ch = L6_CELL_MICRO
    i = (np.arange(k) * 60_000_000 + 30_000_000) // cw + rng.integers(-2, 3, k)
    j = rng.integers(8, 24, k)  # rows whose centres lie within +-45 degrees latitude
    return np.stack([-180e6 + (i + 0.5) * cw, 90e6 - (j + 0.5) * ch], axis=1)


def _clustered_points(rng, n, centres):
    """Points per doc: the first half in a dense cluster (sigma 0.7
    degrees) around centre 0, the next 40% spread over the other
    centres (sigma 1.5), the last 10% uniform. Returns (lon, lat,
    clustered) with `clustered` False for the uniform background."""
    idx = np.arange(n)
    k = np.where(idx < n // 2, 0, 1 + idx % (len(centres) - 1))
    sigma = np.where(k == 0, 0.7e6, 1.5e6)
    clustered = idx < n - n // 10
    lon_m = np.where(clustered, centres[k, 0] + rng.normal(0, 1, n) * sigma, rng.uniform(-179e6, 179e6, n))
    lat_m = np.where(clustered, centres[k, 1] + rng.normal(0, 1, n) * sigma, rng.uniform(-84e6, 84e6, n))
    return _lattice(np.clip(lon_m, -179e6, 179e6)), _lattice(np.clip(lat_m, -84e6, 84e6)), clustered


def generate(workload: str, seed: int) -> Inputs:
    size = SIZES[workload]
    rng = np.random.default_rng([WORKLOAD_CODES[workload], seed])
    n = size["docs"]
    if workload == "clustered_shapes":
        centres = _cluster_centres(rng, size["centres"])
        lon, lat, clustered = _clustered_points(rng, n, centres)
        poffs, px, py = _clustered_polygons(rng, size, centres)
        # kNN probes drawn from the clustered points, nudged off the
        # lattice so exact distance ties are measure-zero events.
        pick = rng.choice(np.nonzero(clustered)[0], size["queries"], replace=False)
        qlon = lon[pick] + (rng.integers(-50_000, 50_000, pick.size) + 0.31) / 1e6
        qlat = lat[pick] + (rng.integers(-50_000, 50_000, pick.size) + 0.17) / 1e6
    else:
        lon, lat = _uniform_points(rng, n)
        rx, ry = _rectangles(rng, size["polys"])
        poffs, px, py = np.arange(0, rx.size + 1, 5), rx.ravel(), ry.ravel()
        qlon = qlat = np.zeros(0)
    media = np.arange(n) % size["media_every"] == 0
    valid = np.ones(n, dtype=bool)
    if size.get("malformed_frac"):
        bad = rng.choice(n, int(round(n * size["malformed_frac"])), replace=False)
        valid[bad] = False
    return Inputs(lon, lat, valid, media, poffs, px, py, qlon, qlat)


# Malformed geometry spans, one of each kind in turn: truncated JSON,
# a three-coordinate Point (bad arity) and an unknown geometry type.
# All three start with "{" so they reach both decoders.
_MALFORMED = (
    '{"type":"Feature","geometry":{"type":"Point","coordinates":[{x},',
    '{"type":"Feature","geometry":{"type":"Point","coordinates":[{x},{y},7]},"properties":{}}',
    '{"type":"Feature","geometry":{"type":"Pointy","coordinates":[{x},{y}]},"properties":{}}',
)


def _geometry_texts(inp: Inputs) -> pa.Array:
    xs = pa.array(inp.lon).cast(pa.string())
    ys = pa.array(inp.lat).cast(pa.string())
    good = pc.binary_join_element_wise(
        '{"type":"Feature","geometry":{"type":"Point","coordinates":[',
        xs, ",", ys, ']},"properties":{"doc":', pa.array(np.arange(inp.n_docs)).cast(pa.string()),
        "}}", "",
    )
    if inp.valid.all():
        return good
    texts = good.to_numpy(zero_copy_only=False).astype(object)
    bad = np.nonzero(~inp.valid)[0]
    for j, i in enumerate(bad):
        texts[i] = _MALFORMED[j % len(_MALFORMED)].replace("{x}", repr(inp.lon[i])).replace(
            "{y}", repr(inp.lat[i])
        )
    return pa.array(texts, pa.string())


def documents_table(inp: Inputs) -> pa.Table:
    """documents(doc_id, spans array<struct<kind, text, media_ref,
    offset>>): a text span, the geometry span and, on media docs, a
    media span."""
    n = inp.n_docs
    ids = doc_ids(n)
    nspans = 2 + inp.media.astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(nspans)]).astype(np.int32)
    total = int(offsets[-1])
    # span slot within its doc, and the doc of each span
    doc_of = np.repeat(np.arange(n), nspans)
    slot = np.arange(total) - offsets[:-1][doc_of]
    kind = np.array(["text", "geometry", "media"])[slot]
    text_spans = pa.array(np.char.add("note for ", ids)).take(pa.array(doc_of))
    geo_spans = _geometry_texts(inp).take(pa.array(doc_of))
    slot_a = pa.array(slot)
    text = pc.if_else(pc.equal(slot_a, 0), text_spans, pc.if_else(pc.equal(slot_a, 1), geo_spans, ""))
    media_ref = pc.if_else(
        pc.equal(slot_a, 2), pa.array(np.char.add("media://", ids)).take(pa.array(doc_of)), ""
    )
    spans = pa.StructArray.from_arrays(
        [pa.array(kind), text, media_ref, pa.array(slot.astype(np.int32))],
        names=["kind", "text", "media_ref", "offset"],
    )
    return pa.table(
        {"doc_id": pa.array(ids), "spans": pa.ListArray.from_arrays(pa.array(offsets), spans)}
    )


def polygons_table(inp: Inputs) -> pa.Table:
    """polygons(poly_id, geom struct<gtype, part_offsets, ring_offsets,
    xs, ys>) — the flat geometry struct pip_join reads."""
    p = inp.n_polys
    nv = np.diff(inp.poly_offsets)
    offs = pa.array(inp.poly_offsets.astype(np.int32))
    xs = pa.ListArray.from_arrays(offs, pa.array(inp.poly_x))
    ys = pa.ListArray.from_arrays(offs, pa.array(inp.poly_y))
    two = pa.array(np.arange(p + 1, dtype=np.int32) * 2)
    part = pa.ListArray.from_arrays(two, pa.array(np.tile([0, 1], p).astype(np.int32)))
    ring = pa.ListArray.from_arrays(
        two, pa.array(np.stack([np.zeros(p, np.int64), nv], axis=1).ravel().astype(np.int32))
    )
    geom = pa.StructArray.from_arrays(
        [pa.array(np.full(p, "Polygon")), part, ring, xs, ys],
        names=["gtype", "part_offsets", "ring_offsets", "xs", "ys"],
    )
    return pa.table({"poly_id": pa.array(poly_ids(p)), "geom": geom})


def queries_table(inp: Inputs) -> pa.Table:
    return pa.table(
        {"query_id": pa.array(query_ids(inp.qlon.size)), "qlon": inp.qlon, "qlat": inp.qlat}
    )
