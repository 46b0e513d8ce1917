"""The shuffle-plan polygon cover is built from JVM column expressions:
cells.cover_cells at pip._cover_level_col's adaptive level must equal
the NumPy cells.covering_bbox cell-for-cell, and pip_join's shuffle
plan must keep Python to the refine and its planning to one aggregate."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_import_spark import corpus
from geo_import_spark.functions import cells as cellmod
from geo_import_spark.operators import pip as pipmod
from geo_import_spark.sources import geojson


def _bboxes(seed: int = 11, n: int = 300) -> list[tuple[float, float, float, float]]:
    """Random bboxes over six decades of size, some spilling past the
    poles and the antimeridian (so the grid clipping binds), plus the
    degenerate and extreme cases."""
    rng = np.random.RandomState(seed)
    rows = []
    for _ in range(n):
        w = float(10 ** rng.uniform(-4, 2.6))
        h = float(10 ** rng.uniform(-4, 2.4))
        cx = float(rng.uniform(-200, 200))
        cy = float(rng.uniform(-100, 100))
        rows.append((cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2))
    rows += [
        (-180.0, -90.0, 180.0, 90.0),  # the whole world
        (-190.0, -95.0, 190.0, 95.0),  # beyond it on every side
        (170.0, 80.0, 185.0, 95.0),  # past the antimeridian and the pole
        (-185.0, -95.0, -170.0, -80.0),
        (12.5, -30.0, 12.5, 40.0),  # zero width
        (-60.0, 7.25, 60.0, 7.25),  # zero height
        (3.0, 4.0, 3.0, 4.0),  # a point
        (0.0, 0.0, 0.0, 0.0),  # a point on grid lines at every level
        (180.0, 90.0, 180.0, 90.0),  # the clipped top-right corner
        (-180.0, -90.0, -180.0, -90.0),
        (-45.0, -22.5, 45.0, 22.5),  # edges on coarse grid lines
    ]
    return rows


def _polygons(spark, boxes):
    """One rectangle polygon per bbox (poly_id = its index) plus one
    polygon with an empty geometry."""
    rows = [
        (str(i), [0, 5], [a, c, c, a, a], [b, b, d, d, b])
        for i, (a, b, c, d) in enumerate(boxes)
    ]
    rows.append(("empty", [0], [], []))
    df = spark.createDataFrame(
        rows, "poly_id string, ro array<int>, xs array<double>, ys array<double>"
    )
    return df.select(
        "poly_id",
        F.struct(
            F.col("ro").alias("ring_offsets"), F.col("xs").alias("xs"), F.col("ys").alias("ys")
        ).alias("geom"),
    )


@pytest.mark.parametrize(
    "base_level,max_cells",
    [(13, 64), (1, 64), (2, 64), (13, 1), (2, 1), (1, 1)],
)
def test_cover_cells_matches_covering_bbox(spark, base_level, max_cells):
    boxes = _bboxes()
    got: dict[str, tuple[set, set]] = {}
    cover = pipmod.polygon_covering(_polygons(spark, boxes), base_level, max_cells)
    for r in cover.select("poly_id", "level", "cell_id").collect():
        lv, ids = got.setdefault(r["poly_id"], (set(), set()))
        lv.add(r["level"])
        ids.add(r["cell_id"])
    assert "empty" not in got, "an empty geometry must produce no cover rows"
    for i, box in enumerate(boxes):
        cells, lv = cellmod.covering_bbox(*box, base_level, max_cells)
        want = ({lv}, set(cells.tolist()))
        assert got.get(str(i)) == want, (box, got.get(str(i)), want)
    n_rows = cover.count()
    assert n_rows == sum(len(got[k][1]) for k in got), "duplicate cover rows"


def test_cover_cells_fixed_level(spark):
    """The fixed-level form (overlay's cover) is covering_bbox with a
    budget that never binds."""
    boxes = _bboxes(seed=5, n=60)
    df = spark.createDataFrame(boxes, "minx double, miny double, maxx double, maxy double")
    cols = [F.col(c) for c in ("minx", "miny", "maxx", "maxy")]
    got: dict[tuple, set] = {}
    for r in cellmod.cover_cells(df, *cols, 4).collect():
        got.setdefault((r["minx"], r["miny"], r["maxx"], r["maxy"]), set()).add(r["cell_id"])
    for box in boxes:
        cells, lv = cellmod.covering_bbox(*box, 4, 1 << 20)
        assert lv == 4
        assert got[box] == set(cells.tolist()), box


@pytest.fixture(scope="module")
def pip_inputs(spark, sf_dir):
    pts = geojson.point_spans(corpus.documents(spark, sf_dir))
    return pts, corpus.polygons(spark, sf_dir)


def _python_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\w*EvalPython\w*|\w*In(?:Pandas|Arrow)\w*", plan)


def test_shuffle_plan_has_one_python_node(pip_inputs):
    pts, polys = pip_inputs
    df = pipmod.pip_join(pts, polys, broadcast_polys=False)
    assert _python_nodes(df) == ["ArrowEvalPython"]


def _sql_actions(spark, fn) -> int:
    """Number of SQL executions (driver-side actions) `fn` runs."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = store.executionsCount()
    fn()
    bus.waitUntilEmpty()
    return store.executionsCount() - before


@pytest.mark.parametrize("budget", [16, pipmod.BROADCAST_BUDGET_BYTES])
def test_auto_plan_runs_at_most_two_actions(spark, pip_inputs, budget):
    """Shuffle: the planning aggregate + the salt histogram. Broadcast:
    the planning aggregate + the ring collect."""
    pts, polys = pip_inputs
    n = _sql_actions(
        spark,
        lambda: pipmod.pip_join(pts, polys, broadcast_polys="auto", broadcast_budget_bytes=budget),
    )
    assert n <= 2


def test_cover_levels_logged(pip_inputs, caplog):
    pts, polys = pip_inputs
    _, _, levels = pipmod.plan_polygon_side(polys)
    with caplog.at_level("INFO", logger="geo_import_spark.pip"):
        pipmod.pip_join(pts, polys, broadcast_polys=False, salt_factor=1)
    assert f"pip_join cover levels: {levels}" in caplog.messages
