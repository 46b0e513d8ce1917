"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def _ring(xs, ys):
    xs, ys = np.asarray(xs, dtype=float).ravel(), np.asarray(ys, dtype=float).ravel()
    return np.array([0, xs.size]), xs, ys


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_deterministic_per_seed_and_differs_across_seeds(workload):
    a, b, c = gen.generate(workload, 7), gen.generate(workload, 7), gen.generate(workload, 8)
    assert a.fingerprint() == b.fingerprint()
    assert a.fingerprint() != c.fingerprint()
    assert gen.documents_table(a).equals(gen.documents_table(b))
    assert gen.polygons_table(a).equals(gen.polygons_table(b))
    assert not gen.documents_table(a).equals(gen.documents_table(c))


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_vertices_off_the_point_lattice(workload):
    inp = gen.generate(workload, 3)
    for v in (inp.poly_x, inp.poly_y):
        frac = np.round(v * 1e6, 4) % 1.0
        assert np.allclose(frac, gen.EDGE_EPS_MICRO, atol=1e-3)
    for v in (inp.lon, inp.lat):
        assert np.array_equal(np.round(v * 1e6) / 1e6, v)


def test_oracle_rejects_points_in_concave_notches():
    # box [0, 100] x [0, 100] (micro-degrees), corners cut 20 x 20, top notch [40, 60] x [70, 100]
    xs, ys = gen.notched_polygon_ring(np.int64(0), np.int64(0), 100, 100, 20, 20, 40, 60, 30)
    offsets, xs, ys = _ring((xs + 0.45) / 1e6, (ys + 0.45) / 1e6)
    pts = np.array([[50, 50], [10, 10], [90, 95], [50, 90], [50, 60], [30, 90]], dtype=float) / 1e6
    doc, poly = oracle.pip_pairs(pts[:, 0], pts[:, 1], np.ones(len(pts), bool), offsets, xs, ys)
    assert sorted(doc.tolist()) == [0, 4, 5]  # body, below the notch, left column; not the cuts
    assert poly.tolist() == [0, 0, 0]


def test_oracle_rejects_points_between_comb_teeth():
    xs, ys = gen.comb_polygon_ring([0], [0], [700], [100], 4)
    offsets, xs, ys = _ring((xs + 0.45) / 1e6, (ys + 0.45) / 1e6)
    pts = np.array([[50, 25], [50, 75], [150, 75], [250, 75], [650, 75]], dtype=float) / 1e6
    doc, _ = oracle.pip_pairs(pts[:, 0], pts[:, 1], np.ones(len(pts), bool), offsets, xs, ys)
    assert sorted(doc.tolist()) == [0, 1, 3, 4]  # base, teeth 0/2/3; not the gap at x=150


def test_planted_malformed_spans_are_errors_to_the_decoder_and_counted():
    from geo_import_spark.sources.geojson import DEFAULT_CRS, _parse_one

    inp = gen.generate("checkpointed_ingest", 5)
    planted = int((~inp.valid).sum())
    assert planted == round(inp.n_docs * gen.SIZES["checkpointed_ingest"]["malformed_frac"])
    texts = gen._geometry_texts(inp).to_pylist()
    errors = np.array([_parse_one(t, DEFAULT_CRS)[4] is not None for t in texts])
    assert np.array_equal(errors, ~inp.valid)
    doc, _ = oracle.pip_pairs(inp.lon, inp.lat, inp.valid, inp.poly_offsets, inp.poly_x, inp.poly_y)
    assert not np.isin(doc, np.nonzero(~inp.valid)[0]).any()


def test_geometry_text_round_trips_coordinates():
    inp = gen.generate("clustered_shapes", 2)
    texts = gen._geometry_texts(inp).to_pylist()[:2000]
    coords = np.array([json.loads(t)["geometry"]["coordinates"] for t in texts])
    assert np.array_equal(coords[:, 0], inp.lon[:2000])
    assert np.array_equal(coords[:, 1], inp.lat[:2000])


def test_clustered_layer_exceeds_the_broadcast_budget():
    from geo_import_spark.operators import pip

    inp = gen.generate("clustered_shapes", 1)
    est = inp.n_polys * pip._POLY_OVERHEAD_BYTES + inp.poly_x.size * 16
    assert est > pip.BROADCAST_BUDGET_BYTES


def test_tile_oracle_known_values():
    x, y, q = oracle.tiles(np.array([0.0, -180.0, 179.999999]), np.array([0.0, 85.1, -85.1]), z=1)
    assert x.tolist() == [1, 0, 1] and y.tolist() == [1, 0, 1]
    assert q.tolist() == [3, 0, 3]  # quadkeys "3", "0", "3"


def test_knn_mismatch_counter():
    lon = np.array([0.0, 1.0, 2.0, -1.0])
    lat = np.zeros(4)
    qlon, qlat = np.array([0.1]), np.array([0.0])
    dist = oracle.knn_distances(lon, lat, qlon, qlat, 2)
    good = {0: [(1, 0, 0.1), (2, 1, 0.9)]}
    assert oracle.knn_mismatches(good, lon, lat, qlon, qlat, dist) == 0
    wrong = {0: [(1, 0, 0.1), (2, 3, 1.1)]}
    assert oracle.knn_mismatches(wrong, lon, lat, qlon, qlat, dist) == 1
    # equidistant neighbours may fill a rank in either order
    lon2 = np.array([1.0, -1.0, 5.0])
    dist2 = oracle.knn_distances(lon2, np.zeros(3), np.array([0.0]), np.array([0.0]), 2)
    swapped = {0: [(1, 1, 1.0), (2, 0, 1.0)]}
    assert oracle.knn_mismatches(swapped, lon2, np.zeros(3), np.array([0.0]), np.array([0.0]), dist2) == 0


CANNED_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "operators.pip#3"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
     "sparkPlanInfo": {"nodeName": "Filter", "metrics": [], "children": [
         {"nodeName": "ArrowEvalPython", "metrics": [
             {"name": "number of output rows", "accumulatorId": 77, "metricType": "sum"}],
          "children": []}]}},
]


def _task(stage, ms, reason="Success", spill=0, shuffle=0, python=None):
    acc = [{"ID": 77, "Name": "number of output rows", "Update": "10"}]
    for name, v in (python or {}).items():
        acc.append({"ID": 1, "Name": name, "Update": str(v)})
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms, "Accumulables": acc},
        "Task Metrics": {
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Fetch Wait Time": 3},
        },
    }


def test_eventlog_reader_on_canned_fragment():
    py = {"time to run Python workers": 250, "data sent to Python workers": 4096,
          "data returned from Python workers": 512}
    events = CANNED_LOG + [
        _task(0, 100, python=py), _task(0, 100), _task(0, 400, shuffle=64),
        _task(1, 10, reason="ExceptionFailure", spill=8),
        _task(2, 50),
    ]
    g = eventlog.group_metrics(events)
    pip = g["operators.pip#3"]
    assert pip["jobs"] == 1 and pip["tasks"] == 4 and pip["failed_tasks"] == 1
    assert pip["python_ms"] == 250 and pip["python_bytes_out"] == 4096 and pip["python_bytes_in"] == 512
    assert pip["python_rows"] == 40 and pip["shuffle_write_bytes"] == 64 and pip["spill_bytes"] == 8
    assert pip["fetch_wait_ms"] == 12
    assert pip["task_skew"] == 4.0  # stage 0: max 400 / median 100
    assert g[None]["tasks"] == 1 and g[None]["jobs"] == 1


def test_tracer_self_time_and_coverage():
    tr = Tracer()
    with tr.span("plans.pipeline"):
        with tr.span("plans.checkpoint.points"):
            pass
        with tr.span("plans.checkpoint.pip"):
            pass
    with tr.span("operators.pip"):
        pass
    dur, self_t = tr.durations(), tr.self_times()
    assert self_t[0] == pytest.approx(dur[0] - dur[1] - dur[2])
    assert tr.covered() == pytest.approx(dur[0] + dur[3])
    assert {s["trace_id"] for s in tr.spans} == {tr.trace_id}
    assert [s["parent"] for s in tr.spans] == [None, 0, 0, None]


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(gen.SIZES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert len(spec["per_layer"]) <= 128
