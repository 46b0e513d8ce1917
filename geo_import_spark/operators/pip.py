"""Cell-equi-join point-in-polygon (the engine's flagship operator).

The reference has no spatial join at all (SURVEY.md §2.4); this is the
new engine's core physical strategy (§4.2.1-2):

  1. polygons -> bbox (JVM-side array_min/max) -> adaptive quadtree cell
     covering, all JVM column expressions (per-polygon level chosen so
     |cover| <= max_cells, bounding candidate blow-up; cells.cover_cells
     sequence-explodes it) -> (cell_id, poly)
  2. points -> cell id at every level present in the polygon covering
     (usually 2-4 levels) -> explode
  3. equi-join on cell_id (hash/sort-merge; cell ids are Morton codes so
     range partitioning is spatial partitioning), AQE skew-join as the
     backstop for hot cells, optional explicit salting
  4. exact even-odd ray-cast refinement in a vectorized pandas UDF;
     polygon rings reach the Python workers via sc.broadcast (one copy
     per executor) and each Arrow batch groups candidates by poly_id,
     so Python-bridge bytes are O(candidates) + O(polygons) — never
     O(pairs x vertices)
  5. rectangle fast path (broadcast mode): polygons whose even-odd
     interior IS their bbox are flagged once at collect time; the JVM
     decides strictly-interior candidates inside whole-stage codegen
     and the Arrow UDF skips the ray cast for them (single point-side
     pass — no union re-scan). Boundary candidates and non-rectangular
     polygons keep the exact ray cast, so results are bit-identical
     to the pure-UDF plan

Scale notes (100 TB): the shuffle key is cell_id — bounded fan-out on
both sides (points x |levels|, polys x max_cells). The physical plan
is AUTO-SELECTED by one planning aggregate over the polygon side
(size estimate + cover levels):
within the broadcast budget the point side is never shuffled at all;
beyond it the shuffle join is chosen — the driver never collects an
unbounded polygon side. Hot cells (a city cell holding millions of
points) in the shuffle fallback are handled by `salt_factor`: points get
pmod(hash, s), polygons replicate x s, join key becomes
(cell_id, salt) — an s-way split of every hot cell's hash bucket.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geo_import_spark.functions import cells as cellmod

log = logging.getLogger("geo_import_spark.pip")

# Broadcast-mode byte budget for the polygon side (matches the
# session's autoBroadcastJoinThreshold default). Above it, pip_join
# auto-selects the shuffle join — never a driver collect.
BROADCAST_BUDGET_BYTES = 64 * 1024 * 1024
# Per-polygon fixed cost in the broadcast estimate: dict entry, cover
# rows (<= max_cells longs + bbox), Row overhead.
_POLY_OVERHEAD_BYTES = 1024

# Ring broadcasts created by broadcast-mode pip_join calls; a Spark
# broadcast lives on driver + executors until destroyed, so LONG-LIVED
# sessions issuing many pip_joins should call release_ring_broadcasts()
# once the returned DataFrames are no longer needed.
_RING_BROADCASTS: list = []


def release_ring_broadcasts() -> int:
    """Destroy every polygon-ring broadcast created by pip_join in this
    session. Call after the DataFrames returned by broadcast-mode
    pip_join calls are fully consumed (their plans reference the
    broadcast and would fail if executed after this). Returns the
    number destroyed."""
    n = 0
    while _RING_BROADCASTS:
        bc = _RING_BROADCASTS.pop()
        try:
            bc.destroy()
            n += 1
        except Exception:  # already destroyed / context gone
            pass
    return n

@pandas_udf(T.BooleanType())
def pip_contains(
    lon: pd.Series, lat: pd.Series, ring_offsets: pd.Series, xs: pd.Series, ys: pd.Series
) -> pd.Series:
    """Vectorized even-odd ray cast over a batch of (point, polygon)
    candidate pairs. Ragged polygon arrays are concatenated into flat
    ndarrays (Arrow-offset style) and reduced per candidate row."""
    n = len(lon)
    if n == 0:
        return pd.Series([], dtype=bool)
    ro_list = ring_offsets.values
    xs_list = xs.values
    ys_list = ys.values
    nrings_per_row = np.array([len(r) - 1 for r in ro_list], dtype=np.int64)
    ring_row = np.repeat(np.arange(n), nrings_per_row)
    # per-row coordinate lengths; shift each row's ring offsets by the
    # running coordinate base to form batch-global ring offsets
    coord_lens = np.array([len(v) for v in xs_list], dtype=np.int64)
    base = np.concatenate([[0], np.cumsum(coord_lens)[:-1]])
    ring_offsets_flat = np.concatenate(
        [np.asarray(r[1:], dtype=np.int64) + b for r, b in zip(ro_list, base)]
    ) if n else np.array([], dtype=np.int64)
    ring_offsets_flat = np.concatenate([[0], ring_offsets_flat])
    flat_xs = np.concatenate(xs_list) if n else np.array([])
    flat_ys = np.concatenate(ys_list) if n else np.array([])
    from geo_import_spark.functions.geomkern import batch_point_in_polygon

    res = batch_point_in_polygon(
        lon.values.astype(np.float64),
        lat.values.astype(np.float64),
        ring_row,
        ring_offsets_flat,
        flat_xs,
        flat_ys,
    )
    return pd.Series(res)


_BBOX = ("minx", "miny", "maxx", "maxy")


def _bbox_cols():
    return [
        F.array_min("geom.xs").alias("minx"),
        F.array_min("geom.ys").alias("miny"),
        F.array_max("geom.xs").alias("maxx"),
        F.array_max("geom.ys").alias("maxy"),
    ]


def polygon_covering(polygons: DataFrame, base_level: int = 13, max_cells: int = 64) -> DataFrame:
    """polygons(poly_id, geom) -> (poly_id, bbox, level, cell_id)
    exploded adaptive cover, all JVM column expressions (cells.cover_cells
    at _cover_level_col's per-polygon level). The bbox rides along so
    the join can prune candidates JVM-side before the exact ray cast."""
    bbox = [F.col(c) for c in _BBOX]
    boxed = polygons.select("poly_id", *_bbox_cols())
    boxed = boxed.withColumn("level", _cover_level_col(*bbox, base_level, max_cells))
    return cellmod.cover_cells(boxed, *bbox, F.col("level"))


def make_pip_bcast_udf(rings_bc):
    """pandas UDF over (lon, lat, poly_id, bbox_exact) candidates:
    polygon rings come from a Spark broadcast (one copy per executor,
    NOT one copy per candidate pair). Within an Arrow batch,
    candidates are grouped by poly_id so each polygon's edge arrays
    are built once. Rows pre-decided by the JVM rectangle fast path
    (bbox_exact=True) are accepted without touching the ray cast —
    the plan stays ONE point-side pass (no union re-scan), bridge
    bytes stay O(candidates), and ray-cast CPU drops to the
    non-rectangle / boundary remainder."""

    @pandas_udf(T.BooleanType())
    def contains(
        lon: pd.Series, lat: pd.Series, poly_id: pd.Series, bbox_exact: pd.Series
    ) -> pd.Series:
        from geo_import_spark.functions.geomkern import points_in_single_polygon

        n = len(lon)
        if n == 0:
            return pd.Series([], dtype=bool)
        res = bbox_exact.fillna(False).values.astype(bool).copy()
        todo = np.nonzero(~res)[0]
        if todo.size == 0:
            return pd.Series(res)
        px = lon.values[todo].astype(np.float64)
        py = lat.values[todo].astype(np.float64)
        codes, uniques = pd.factorize(poly_id.values[todo], sort=False)
        polys = rings_bc.value
        for j, pid in enumerate(uniques):
            geom = polys.get(pid)
            if geom is None:
                continue
            ro, xs, ys = geom
            idx = np.nonzero(codes == j)[0]
            res[todo[idx]] = points_in_single_polygon(px[idx], py[idx], ro, xs, ys)
        return pd.Series(res)

    return contains


COVER_ROW_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType()),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("cell_id", T.LongType()),
        T.StructField("is_rect", T.BooleanType()),
    ]
)


def _is_exact_bbox(ro: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> bool:
    """True iff the polygon's even-odd interior IS its bbox: a single
    closed 5-vertex ring whose 4 distinct corners are exactly the bbox
    corners with every edge axis-aligned (the edge check rules out the
    bowtie orderings, whose even-odd interior is NOT the bbox).
    Drives the rectangle fast path: for such polygons the JVM bbox
    prefilter already decides strict-interior containment exactly, so
    those candidates never need the Python ray cast."""
    if len(ro) != 2 or ro[0] != 0 or ro[1] != 5 or xs.size != 5:
        return False
    if xs[0] != xs[4] or ys[0] != ys[4]:
        return False
    minx, maxx = xs.min(), xs.max()
    miny, maxy = ys.min(), ys.max()
    if minx == maxx or miny == maxy:
        return False
    corners = set(zip(xs[:4].tolist(), ys[:4].tolist()))
    if corners != {(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)}:
        return False
    return all(xs[i] == xs[i + 1] or ys[i] == ys[i + 1] for i in range(4))


def _collect_rings_and_cover(polygons: DataFrame, base_level: int, max_cells: int):
    """ONE driver collect of the polygon side, from which BOTH the
    rings dict (for the sc.broadcast ray cast) and the exploded cell
    cover rows are derived — the cover math (cells.covering_bbox) runs
    on the driver, fine by definition: broadcast mode is only chosen
    when the polygon side fits the broadcast budget.

    Returns (rings: dict poly_id -> (ring_offsets, xs, ys),
             cover_rows: list of COVER_ROW_SCHEMA tuples,
             levels: sorted distinct cover levels)."""
    rows = polygons.select(
        "poly_id",
        F.col("geom.ring_offsets").alias("ro"),
        F.col("geom.xs").alias("xs"),
        F.col("geom.ys").alias("ys"),
    ).collect()
    rings: dict = {}
    cover_rows: list = []
    levels: set = set()
    for r in rows:
        xs = np.asarray(r["xs"], dtype=np.float64)
        ys = np.asarray(r["ys"], dtype=np.float64)
        rings[r["poly_id"]] = (np.asarray(r["ro"], dtype=np.int64), xs, ys)
        if xs.size == 0:
            continue
        minx, maxx = float(xs.min()), float(xs.max())
        miny, maxy = float(ys.min()), float(ys.max())
        cover, lv = cellmod.covering_bbox(minx, miny, maxx, maxy, base_level, max_cells)
        levels.add(int(lv))
        rect = _is_exact_bbox(np.asarray(r["ro"], dtype=np.int64), xs, ys)
        for cid in cover.tolist():
            cover_rows.append(
                (r["poly_id"], minx, miny, maxx, maxy, int(lv), cid, rect)
            )
    return rings, cover_rows, sorted(levels)


def _cover_level_col(minx, miny, maxx, maxy, base_level: int, max_cells: int):
    """JVM mirror of cells.covering_bbox's level choice: the finest
    level <= base_level whose bbox grid cover has <= max_cells cells,
    else 1 (identical double arithmetic + clipping => bit-identical to
    the NumPy path)."""

    def fits(lv):
        x0, y1 = cellmod.grid_xy_col(minx, miny, lv)
        x1, y0 = cellmod.grid_xy_col(maxx, maxy, lv)
        return (x1 - x0 + 1) * (y1 - y0 + 1) <= max_cells

    levels = F.filter(F.sequence(F.lit(base_level), F.lit(1), F.lit(-1)), fits)
    return F.coalesce(F.get(levels, 0), F.lit(1)).cast("int")


# Auto-salting knobs (shuffle mode): a cell is "hot" when it exceeds
# HOT_CELL_LOAD_FACTOR x the mean shuffle-partition load; the salt
# factor splits it back under that bound, capped so the polygon-side
# replication (cover rows x salt) stays bounded.
HOT_CELL_LOAD_FACTOR = 2.0
MAX_AUTO_SALT = 32


def auto_salt_factor(points: DataFrame, level: int) -> int:
    """Measured salt factor for the shuffle join: the hot_cells
    histogram (operators/tiling.py) reduced to one decision — how many
    ways must the HOTTEST cell split so no single join partition
    carries more than HOT_CELL_LOAD_FACTOR x the mean load?

    One map-side-combined aggregate over the point side at the
    COARSEST cover level (coarser cells are strictly hotter, so this
    bounds every level the join actually uses). Returns 1 (no salting)
    for uniform corpora — identical output either way; only the
    physical partitioning changes.
    """
    import math

    cell = cellmod.cell_col(F.col("lon"), F.col("lat"), level)
    counts = points.groupBy(cell.alias("cell_id")).agg(
        F.count("*").alias("n")
    )
    row = counts.agg(F.max("n").alias("mx"), F.sum("n").alias("total")).collect()[0]
    if not row["total"]:
        return 1
    parts = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    target = max(1.0, HOT_CELL_LOAD_FACTOR * row["total"] / max(1, parts))
    s = int(math.ceil(row["mx"] / target))
    return max(1, min(MAX_AUTO_SALT, s))


def plan_polygon_side(
    polygons: DataFrame, base_level: int = 13, max_cells: int = 64
) -> tuple[int, int, list[int]]:
    """(n_polys, estimated broadcast bytes, sorted distinct cover
    levels) from ONE column-pruned aggregate over the polygon side.
    Bytes are rows x fixed overhead + vertices x 16 (two float64 per
    vertex) — deliberately conservative (counts cover + dict + Row
    overhead per polygon); they drive the auto broadcast/shuffle
    choice. The bbox is selected before the aggregate so every level
    test reads it once."""
    boxed = polygons.select(F.size("geom.xs").alias("nv"), *_bbox_cols())
    row = boxed.agg(
        F.count("*").alias("n"),
        F.sum("nv").alias("verts"),
        F.collect_set(F.when(F.col("minx").isNotNull(), _cover_level_col(
            *[F.col(c) for c in _BBOX], base_level, max_cells
        ))).alias("levels"),
    ).collect()[0]
    n = row["n"] or 0
    verts = row["verts"] or 0
    return n, n * _POLY_OVERHEAD_BYTES + verts * 16, sorted(row["levels"])


def estimate_polygon_side_bytes(polygons: DataFrame) -> tuple[int, int]:
    """(n_polys, estimated broadcast bytes): plan_polygon_side without
    the levels."""
    return plan_polygon_side(polygons)[:2]


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    base_level: int = 13,
    max_cells: int = 64,
    salt_factor: int | None = None,
    point_cols: tuple[str, ...] = ("doc_id", "span_offset"),
    broadcast_polys: bool | str = "auto",
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """Exact PIP join: returns point_cols + poly_id for every
    (point, polygon) containment. `points` needs lon/lat; `polygons`
    needs poly_id + flat geom.

    broadcast_polys="auto" (default): ONE column-pruned aggregate
    (plan_polygon_side) estimates the polygon side (rows x overhead +
    vertices x 16 bytes) and collects its distinct cover levels; it
    picks broadcast iff the estimate fits broadcast_budget_bytes — the
    driver never collects an unbounded polygon side. The choice and
    the cover levels are logged. True/False force a path (tests /
    operator override).

    broadcast mode: the polygon side — cover cells AND ring
    coordinates — is collected ONCE and shipped per executor
    (local-relation broadcast join + sc.broadcast rings). The Python
    bridge then carries only (lon, lat, poly_id) per candidate: bytes
    are O(candidates) + O(polygons), never O(pairs x vertices).

    shuffle mode: the at-scale fallback when the polygon side exceeds
    the broadcast budget — shuffle join on cell_id (AQE skew-join /
    explicit salting) with polygon coords joined per candidate. The
    cover is built from JVM column expressions inside the join
    (polygon_covering), its levels come from the planning aggregate,
    nothing is persisted, and the refine is the only Python stage.

    salt_factor=None (default) is MEASURED in shuffle mode: one
    histogram aggregate (auto_salt_factor — the hot_cells diagnostic
    reduced to a decision) picks the factor that splits the hottest
    cell under HOT_CELL_LOAD_FACTOR x the mean partition load; uniform
    corpora get 1 (no salting, no polygon replication). Pass an int to
    force (1 disables). Broadcast mode never salts — there is no
    point-side shuffle to skew.
    """
    spark = points.sparkSession

    if broadcast_polys == "auto" or not broadcast_polys:
        n_polys, est_bytes, levels = plan_polygon_side(polygons, base_level, max_cells)
    if broadcast_polys == "auto":
        broadcast_polys = est_bytes <= broadcast_budget_bytes
        log.info(
            "pip_join auto plan: polygon side ~%d bytes (%d polys) -> %s",
            est_bytes, n_polys, "broadcast" if broadcast_polys else "shuffle",
        )

    if broadcast_polys:
        rings, cover_rows, levels = _collect_rings_and_cover(
            polygons, base_level, max_cells
        )
        cover = F.broadcast(spark.createDataFrame(cover_rows, COVER_ROW_SCHEMA))
    else:
        cover = polygon_covering(polygons, base_level, max_cells)
    log.info("pip_join cover levels: %s", levels)
    if not levels:
        return points.select(*point_cols).limit(0).withColumn("poly_id", F.lit(""))

    # Point side stays 100% JVM (cells.cell_col — whole-stage codegen):
    # one scan, explode over the distinct cover levels (usually 2-4).
    pts = points.select(*point_cols, "lon", "lat")
    pts_cells = pts.withColumn(
        "cell_id",
        F.explode(F.array(*[cellmod.cell_col(F.col("lon"), F.col("lat"), lv) for lv in levels])),
    )

    if not broadcast_polys and salt_factor is None:
        salt_factor = auto_salt_factor(pts, min(levels))
        log.info("pip_join auto salt factor: %d", salt_factor)

    if salt_factor and salt_factor > 1:
        s = salt_factor
        pts_cells = pts_cells.withColumn(
            "salt", F.pmod(F.hash(*[F.col(c) for c in point_cols]), F.lit(s))
        )
        salts = spark.range(s).select(F.col("id").cast("int").alias("salt"))
        # explicit hint: the s-row replicate must broadcast even when
        # the session disables autoBroadcastJoinThreshold (otherwise
        # Spark plans a CartesianProduct for the cross join)
        cover = cover.crossJoin(F.broadcast(salts))
        join_keys = ["cell_id", "salt"]
    else:
        join_keys = ["cell_id"]

    # JVM-side bbox pre-filter kills most false candidates inside
    # whole-stage codegen; only bbox-passing pairs reach the Python
    # ray cast (for convex/rectangular polygons that's ~the hit set).
    cand0 = pts_cells.join(cover, join_keys).filter(
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    )

    if broadcast_polys:
        # Rectangle fast path: for polygons whose even-odd interior IS
        # their bbox (_is_exact_bbox, decided once per polygon at
        # collect time), a strictly-interior candidate is contained by
        # definition — the JVM computes that verdict inside whole-stage
        # codegen and the Arrow UDF skips the ray cast for those rows.
        # Boundary candidates (lon/lat == a bbox edge) and
        # non-rectangular polygons are still ray-cast, so semantics are
        # bit-identical to the pure-UDF plan. Deliberately ONE pass —
        # a filter/union split would re-scan and re-join the point
        # side (2x IO at scale), which costs more than the
        # O(candidates) bridge bytes it saves.
        strict = (
            (F.col("lon") > F.col("minx")) & (F.col("lon") < F.col("maxx"))
            & (F.col("lat") > F.col("miny")) & (F.col("lat") < F.col("maxy"))
        )
        cand = cand0.select(
            *point_cols, "lon", "lat", "poly_id",
            (F.col("is_rect") & strict).alias("bbox_exact"),
        )
        rings_bc = spark.sparkContext.broadcast(rings)
        _RING_BROADCASTS.append(rings_bc)
        refined = cand.filter(
            make_pip_bcast_udf(rings_bc)("lon", "lat", "poly_id", "bbox_exact")
        )
        return refined.select(*point_cols, "poly_id")

    cand = cand0.select(*point_cols, "lon", "lat", "poly_id")

    polys_geom = polygons.select(
        "poly_id",
        F.col("geom.ring_offsets").alias("ring_offsets"),
        F.col("geom.xs").alias("xs"),
        F.col("geom.ys").alias("ys"),
    )
    refined = cand.join(polys_geom, "poly_id").filter(
        pip_contains("lon", "lat", "ring_offsets", "xs", "ys")
    )
    return refined.select(*point_cols, "poly_id")


def pip_join_prebucketed(
    points: DataFrame,
    polygons: DataFrame,
    level: int,
    point_cols: tuple[str, ...] = ("doc_id", "span_offset"),
) -> DataFrame:
    """PIP against a SPATIALLY CO-LOCATED point table: `points` carries
    a stored `cell_id` at a fixed `level` (cells.cell_col) and was
    written bucketed by it (plans/bucketed.write_bucketed), so the
    cell equi-join needs NO point-side Exchange — at 100 TB the point
    table never shuffles across repeated PIP queries; only the
    polygon cover (orders of magnitude smaller) repartitions to match
    the bucket layout. The pay-once spatial twin of the bucketed
    doc_id joins.

    Tradeoff vs pip_join's adaptive cover: the cover is forced to the
    layout's fixed level, so continent-sized polygons fan out to more
    cover cells (bounded by their bbox area at `level`) instead of
    climbing to a coarser level. Semantics are identical — strict bbox
    prefilter + exact even-odd ray cast (tests compare against
    pip_join's broadcast plan row-for-row).
    """
    # force every polygon's cover to the layout's level: a cover cell
    # budget of a full level-`level` grid can never bind
    cover = polygon_covering(polygons, base_level=level,
                             max_cells=(1 << level) ** 2 * 2)
    cand = points.select(*point_cols, "lon", "lat", "cell_id").join(
        cover, "cell_id"
    ).filter(
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    ).select(*point_cols, "lon", "lat", "poly_id")
    polys_geom = polygons.select(
        "poly_id",
        F.col("geom.ring_offsets").alias("ring_offsets"),
        F.col("geom.xs").alias("xs"),
        F.col("geom.ys").alias("ys"),
    )
    refined = cand.join(polys_geom, "poly_id").filter(
        pip_contains("lon", "lat", "ring_offsets", "xs", "ys")
    )
    return refined.select(*point_cols, "poly_id")
