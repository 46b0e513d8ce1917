"""The benchmark's workloads, their oracle checks and the traced run.

Load model: batch, closed loop. One driver process runs local[nproc]
and starts each Spark action only after the previous one finished.

clustered_shapes     fused PIP + tile passes over clustered points and a
                     concave layer too big to broadcast (pip_join's auto
                     plan picks the shuffle join), then kNN batches on
                     the same points.
checkpointed_ingest  run_pipeline over uniform points, ~100 rectangles
                     (broadcast plan) and 1% malformed geometry spans:
                     fresh, resumed after half the `pip` lineage is
                     dropped, and rerun with every unit done.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil
import statistics
import time

import numpy as np

import eventlog
import oracle
from spans import Tracer

SETUP_CYCLES = 3
MIN_PASSES = 1
KNN_K = 10
KNN_LEVEL = 6
KNN_CALLS = 2
CELL_LEVELS = (6, 13)  # cell_col levels the traced functions.cells call encodes

# End-to-end metrics (untraced runs): name -> unit. Every workload reports
# every one; what a pass or job is depends on the workload:
#                   clustered_shapes           checkpointed_ingest
#   first_pass_s    first fused PIP+tile pass  fresh run_pipeline
#   repeat_pass_s   median warmed fused pass   run_pipeline resume
#   followup_job_s  median kNN batch           run_pipeline rerun, all done
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "repeat_pass_s": "s",
    "followup_job_s": "s",
    "peak_rss_mb": "MB",
}

LAYERS = (
    "sources.geojson",
    "functions.cells",
    "operators.pip",
    "operators.tiling",
    "operators.knn",
    "plans.checkpoint.points",
    "plans.checkpoint.pip",
    "plans.checkpoint.tiles",
    "plans.pipeline",
)
LAYER_BASE = (
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("rows_out", "count", "higher"),
    ("python_s", "s", "lower"),
    ("python_bytes_out", "B", "lower"),
    ("python_bytes_in", "B", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("fetch_wait_s", "s", "lower"),
    ("spill_bytes", "B", "lower"),
    ("task_skew", "ratio", "lower"),
    ("failed_tasks", "count", "lower"),
)
STAGE_EXTRAS = (
    ("files_written", "count", "lower"),
    ("bytes_written", "B", "lower"),
    ("units_run", "count", "lower"),
    ("units_skipped", "count", "higher"),
)
PER_LAYER = (
    [(f"{layer}.{m}", u, b) for layer in LAYERS for m, u, b in LAYER_BASE]
    + [
        ("session.start_s", "s", "lower"),
        ("operators.pip.plan_s", "s", "lower"),
        ("operators.pip.plan_shuffle", "flag", "lower"),
        ("operators.pip.salt_factor", "factor", "lower"),
        ("operators.pip.bridge_rows_per_hit", "ratio", "lower"),
        ("operators.knn.jobs", "count", "lower"),
    ]
    + [
        (f"plans.checkpoint.{stage}.{m}", u, b)
        for stage in ("points", "pip", "tiles")
        for m, u, b in STAGE_EXTRAS
    ]
    + [
        ("plans.pipeline.outside_stages_s", "s", "lower"),
        ("trace.wall_s", "s", "lower"),
        ("trace.uncovered_s", "s", "lower"),
        ("trace.unit_wall_s", "s", "lower"),
    ]
)


class PlanLog(logging.Handler):
    """Collects pip_join's plan decisions (broadcast/shuffle, salt)
    from the `geo_import_spark.pip` logger."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.messages: list[str] = []

    def emit(self, record):
        self.messages.append(record.getMessage())

    @staticmethod
    def decisions(messages) -> dict:
        out = {"plan": None, "salt_factor": 1}
        for m in messages:
            if "auto plan" in m:
                out["plan"] = m.rsplit("-> ", 1)[-1]
            elif "auto salt factor" in m:
                out["salt_factor"] = int(m.rsplit(":", 1)[-1])
        return out


# ---- Spark-side checksums (the same integer formulas as oracle.py) ----


def _id(col: str, width: int):
    from pyspark.sql import functions as F

    return F.substring(col, 2, width).cast("long")


def pair_hashes(df):
    from pyspark.sql import functions as F

    d, p = _id("doc_id", 7), _id("poly_id", 6)
    h1 = F.pmod(d * 1000003 + p * 7919 + 12345, F.lit(oracle.MOD))
    return df.select(h1.alias("h1"), F.pmod(h1 * 16807 + d, F.lit(oracle.MOD)).alias("h2"))


def tile_hashes(df):
    from pyspark.sql import functions as F

    d = _id("doc_id", 7)
    q = F.conv("quadkey", 4, 10).cast("long")
    h1 = F.pmod(
        d * 1000003 + F.col("x") * 4099 + F.col("y") * 17 + q * 3 + F.col("z") * 101,
        F.lit(oracle.MOD),
    )
    return df.select(h1.alias("h1"), F.pmod(h1 * 16807 + q, F.lit(oracle.MOD)).alias("h2"))


def _sums(df, *keys):
    from pyspark.sql import functions as F

    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("h1"), F.lit(0)).alias("s1"),
        F.coalesce(F.sum("h2"), F.lit(0)).alias("s2"),
    )


def checksum(hashed) -> tuple:
    r = _sums(hashed).collect()[0]
    return (r["n"], r["s1"], r["s2"])


def _files(root: str) -> dict:
    """path -> (size, mtime_ns) of every file under root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _dir_bytes(root: str) -> int:
    return sum(size for size, _ in _files(root).values())


class Bench:
    """One benchmark run: session, inputs, oracle expectations and the
    tally of operations attempted and failed."""

    def __init__(self, workload, seed, seconds, trace, work_dir, input_dir, inputs, cpus, driver_mem, rss):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.input_dir = input_dir
        self.inp = inputs
        self.cpus = cpus
        self.driver_mem = driver_mem
        self.rss = rss
        self.tracer = Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.info: dict = {}
        self.spark = None
        self.cached: list = []
        self.plan_log = PlanLog()
        pip_logger = logging.getLogger("geo_import_spark.pip")
        pip_logger.setLevel(logging.INFO)
        pip_logger.addHandler(self.plan_log)
        self._expect()

    # -- oracle expectations ---------------------------------------------

    def _expect(self):
        from geo_import_spark.plans.pipeline import UNIT_LEVEL

        inp = self.inp
        d, p = oracle.pip_pairs(inp.lon, inp.lat, inp.valid, inp.poly_offsets, inp.poly_x, inp.poly_y)
        self.want_pip = oracle.pair_checksum(d, p)
        tiled = np.nonzero(inp.media & inp.valid)[0]
        x, y, q = oracle.tiles(inp.lon[tiled], inp.lat[tiled])
        self.want_tiles = oracle.tile_checksum(tiled, x, y, q)
        self.want_errors = int((~inp.valid).sum())
        ux = np.floor((inp.lon[inp.valid] + 180.0) / 360.0 * (1 << UNIT_LEVEL))
        uy = np.floor((90.0 - inp.lat[inp.valid]) / 180.0 * (1 << UNIT_LEVEL))
        self.want_units = len(set(zip(ux.tolist(), uy.tolist())))
        if inp.qlon.size:
            self.want_knn = oracle.knn_distances(inp.lon, inp.lat, inp.qlon, inp.qlat, KNN_K)

    def check(self, what: str, ok: bool, detail="") -> None:
        """Count one operation; a failed oracle check fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(f"{what}: {detail}")

    # -- session and set-up ----------------------------------------------

    def session(self):
        from pyspark import SparkContext

        from geo_import_spark.session import get_spark

        conf = {
            "spark.driver.memory": self.driver_mem,
            "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer:
            self.event_dir = os.path.join(self.work_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        spark = get_spark(cpus=self.cpus, app=f"perfbench-{self.workload}", extra_conf=conf)
        self.rss.watch(SparkContext._gateway.proc.pid)
        self.spark = spark
        self.info["spark_version"] = spark.version
        return spark

    def load(self, decode: bool):
        """Read the generated tables, cache them and materialize the
        caches (and the decoded points when `decode`)."""
        from geo_import_spark.sources import geojson

        for df in self.cached:
            df.unpersist(blocking=True)
        spark = self.spark
        self.docs = spark.read.parquet(os.path.join(self.input_dir, "docs")).cache()
        self.polys = spark.read.parquet(os.path.join(self.input_dir, "polys")).cache()
        self.cached = [self.docs, self.polys]
        if self.inp.qlon.size:
            self.queries = spark.read.parquet(os.path.join(self.input_dir, "queries")).cache()
            self.cached.append(self.queries)
        for df in self.cached:
            df.count()
        if decode:
            self.pts = geojson.point_spans(self.docs).cache()
            self.pts.count()
            self.cached.append(self.pts)

    def setup_cycles(self, decode: bool) -> list[float]:
        """SETUP_CYCLES set-ups: get_spark + read + cache (+ decode). The
        first launches the JVM; later ones reuse the live session and
        re-read into fresh caches."""
        walls = []
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            self.session()
            self.load(decode)
            walls.append(time.perf_counter() - t0)
        return walls

    # -- operations --------------------------------------------------------

    def fused_pass(self) -> float:
        """One fused action: pip_join + tile assignment over the cached
        points, checksummed per leg inside Spark. Returns its wall."""
        from pyspark.sql import functions as F

        from geo_import_spark.operators import pip, tiling

        t0 = time.perf_counter()
        hits = pip.pip_join(self.pts, self.polys)
        tiles = tiling.assign_tiles_from_anchors(
            tiling.media_spans(self.docs), tiling.first_geometry_anchor(self.pts), z=oracle.TILE_Z
        )
        legs = pair_hashes(hits).withColumn("leg", F.lit(0)).unionByName(
            tile_hashes(tiles).withColumn("leg", F.lit(1))
        )
        got = {r["leg"]: (r["n"], r["s1"], r["s2"]) for r in _sums(legs, "leg").collect()}
        wall = time.perf_counter() - t0
        got_pip = got.get(0, (0, 0, 0))
        got_tiles = got.get(1, (0, 0, 0))
        self.check(
            "fused pass",
            got_pip == self.want_pip and got_tiles == self.want_tiles,
            f"pip {got_pip} want {self.want_pip}; tiles {got_tiles} want {self.want_tiles}",
        )
        return wall

    def knn_batch(self) -> float:
        from geo_import_spark.operators import knn

        t0 = time.perf_counter()
        rows = knn.knn_join(self.queries, self.pts, k=KNN_K, level=KNN_LEVEL).collect()
        wall = time.perf_counter() - t0
        self._check_knn(rows)
        return wall

    def _check_knn(self, rows):
        got: dict = {}
        for r in rows:
            got.setdefault(int(r["query_id"][1:]), []).append((r["rank"], int(r["doc_id"][1:]), r["dist"]))
        inp = self.inp
        bad = oracle.knn_mismatches(got, inp.lon, inp.lat, inp.qlon, inp.qlat, self.want_knn)
        self.check("knn batch", bad == 0, f"{bad} of {inp.qlon.size} queries wrong")

    def measure_passes(self, deadline: float) -> list[float]:
        walls = []
        while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
            walls.append(self.fused_pass())
        return walls

    # -- checkpointed pipeline ----------------------------------------------

    def pipeline(self, out: str) -> dict:
        from geo_import_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.input_dir, out, docs_df=self.docs, polys_df=self.polys)

    def _check_published(self, out: str, summary: dict):
        from geo_import_spark.plans.table import Table

        got = checksum(pair_hashes(Table(os.path.join(out, "table_pip")).read(self.spark)))
        errors = summary["publish"]["error_rows"]
        ok = got == self.want_pip and errors == self.want_errors
        return ok, f"published {got} want {self.want_pip}; error_rows {errors} want {self.want_errors}"

    def pipeline_cycle(self, out: str) -> dict:
        """Fresh run, resume after half the pip lineage is dropped, rerun
        with every unit done; each run checked against the oracle."""
        shutil.rmtree(out, ignore_errors=True)
        walls = {}
        t0 = time.perf_counter()
        s = self.pipeline(out)
        walls["fresh"] = time.perf_counter() - t0
        ok, detail = self._check_published(out, s)
        tiles = checksum(tile_hashes(self.spark.read.parquet(os.path.join(out, "tiles"))))
        units = [s[st]["units_run"] for st in ("points", "pip", "tiles")]
        self.check(
            "pipeline fresh",
            ok and tiles == self.want_tiles and units == [self.want_units] * 3,
            f"{detail}; tiles {tiles} want {self.want_tiles}; units {units} want {self.want_units}",
        )
        walls["output_bytes"] = _dir_bytes(out)

        # A kill inside CheckpointedStage.run's record loop leaves the
        # first records written and the rest missing.
        lineage = os.path.join(out, "pip.lineage.jsonl")
        with open(lineage) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        keep, drop = lines[: len(lines) // 2], lines[len(lines) // 2 :]
        with open(lineage, "w") as f:
            f.write("".join(ln + "\n" for ln in keep))
        dropped = {json.loads(ln)["unit"] for ln in drop}
        before = _files(os.path.join(out, "pip"))
        t0 = time.perf_counter()
        s = self.pipeline(out)
        walls["resume"] = time.perf_counter() - t0
        after = _files(os.path.join(out, "pip"))
        ok, detail = self._check_published(out, s)
        rewritten = {p for p, v in after.items() if before.get(p) != v} | (set(before) - set(after))
        rewritten_units = {
            int(part.split("=", 1)[1])
            for p in rewritten
            for part in p.split(os.sep)
            if part.startswith("unit=")
        }
        runs = (s["points"]["units_run"], s["pip"]["units_run"], s["pip"]["units_skipped"], s["tiles"]["units_run"])
        want_runs = (0, len(dropped), len(keep), 0)
        self.check(
            "pipeline resume",
            ok and runs == want_runs and rewritten_units == dropped,
            f"{detail}; units {runs} want {want_runs}; rewrote units {sorted(rewritten_units)} want {sorted(dropped)}",
        )

        t0 = time.perf_counter()
        s = self.pipeline(out)
        walls["rerun"] = time.perf_counter() - t0
        ok, detail = self._check_published(out, s)
        runs = [s[st]["units_run"] for st in ("points", "pip", "tiles")]
        self.check("pipeline rerun", ok and runs == [0, 0, 0], f"{detail}; units_run {runs}")
        return walls

    def close(self):
        logging.getLogger("geo_import_spark.pip").removeHandler(self.plan_log)


# ---- untraced runs --------------------------------------------------------


def unit_wall(walls: dict) -> float:
    """checkpointed_ingest's measured unit: fresh + resume + rerun."""
    return walls["fresh"] + walls["resume"] + walls["rerun"]


def run_untraced(b: Bench) -> dict:
    n_docs = b.inp.n_docs
    if b.workload == "clustered_shapes":
        setup = b.setup_cycles(decode=True)
        first = b.fused_pass()
        passes = b.measure_passes(time.perf_counter() + b.seconds)
        b.knn_batch()  # warm-up: the first batch in the JVM runs cold
        knn = [b.knn_batch() for _ in range(KNN_CALLS)]
        report = {
            "pass_s_samples": passes,
            "knn_s_samples": knn,
            "repeat_pass_s": statistics.median(passes),
            "followup_job_s": statistics.median(knn),
            "pip_tile_docs_per_s": n_docs / statistics.median(passes),
            "knn_queries_per_s": b.inp.qlon.size / statistics.median(knn),
        }
        report["unit_wall_s"] = report["repeat_pass_s"] + report["followup_job_s"]
    else:
        # One pipeline cycle is longer than the measuring window.
        setup = b.setup_cycles(decode=False)
        walls = b.pipeline_cycle(os.path.join(b.work_dir, "pipeline"))
        first = walls["fresh"]
        report = {
            "repeat_pass_s": walls["resume"],
            "followup_job_s": walls["rerun"],
            "pipeline_docs_per_s": n_docs / walls["fresh"],
            "resume_s": walls["resume"],
            "rerun_s": walls["rerun"],
            "output_bytes_per_input_byte": walls["output_bytes"] / _dir_bytes(os.path.join(b.input_dir, "docs")),
            "unit_wall_s": unit_wall(walls),
        }
    report.update(
        setup_s_samples=setup,
        setup_s=statistics.median(setup),
        first_pass_s=first,
        **PlanLog.decisions(b.plan_log.messages),
    )
    return report


# ---- traced run -----------------------------------------------------------


def _layer_call(b: Bench, name: str, df_fn, hashes=None):
    """Span around one layer call; its output is materialized inside the
    span's job group (checksummed when `hashes` is given, else to the
    noop sink) and its rows counted."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    with b.tracer.span(name) as rec:
        t0 = time.perf_counter()
        df = df_fn()
        rec["plan_s"] = time.perf_counter() - t0
        if hashes is not None:
            got = checksum(hashes(df))
            rec["rows"] = got[0]
        else:
            obs = Observation(name)
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
            rec["rows"] = obs.get["rows"]
            got = None
    return rec, got


def _traced_pipeline(b: Bench, out: str) -> float:
    """The pipeline cycle with a span per run_pipeline call and, by
    wrapping CheckpointedStage.run, one per checkpoint stage. Returns
    its unit wall."""
    from geo_import_spark.plans import checkpoint, pipeline

    tr = b.tracer
    orig_run = checkpoint.CheckpointedStage.run
    orig_pipeline = b.pipeline

    def stage_run(stage, spark, df, unit_col, transform, input_fingerprint=""):
        with tr.span(f"plans.checkpoint.{stage.stage}") as rec:
            before = _files(stage.stage_dir)
            res = orig_run(stage, spark, df, unit_col, transform, input_fingerprint=input_fingerprint)
            after = _files(stage.stage_dir)
            written = [p for p, v in after.items() if before.get(p) != v and p.endswith(".parquet")]
            rec.update(
                rows=res["rows"],
                units_run=res["units_run"],
                units_skipped=res["units_skipped"],
                files_written=len(written),
                bytes_written=sum(after[p][0] for p in written),
            )
        return res

    def traced_pipeline(out_root):
        with tr.span("plans.pipeline") as rec:
            seen = {
                (r["stage"], r["unit"], r["ts"]) for r in pipeline.pipeline_metrics(out_root)
            } if os.path.exists(out_root) else set()
            t0 = time.perf_counter()
            s = orig_pipeline(out_root)
            wall = time.perf_counter() - t0
            new = [r for r in pipeline.pipeline_metrics(out_root) if (r["stage"], r["unit"], r["ts"]) not in seen]
            batches = {(r["stage"], r.get("batch_wall_s", r["wall_s"])) for r in new}
            rec["outside_stages_s"] = wall - sum(w for _, w in batches)
            rec["rows"] = s["publish"]["rows"]
        return s

    checkpoint.CheckpointedStage.run = stage_run
    b.pipeline = traced_pipeline
    try:
        return unit_wall(b.pipeline_cycle(out))
    finally:
        checkpoint.CheckpointedStage.run = orig_run
        b.pipeline = orig_pipeline


def run_traced(b: Bench) -> dict:
    """Per-layer run: session start, set-up, then each layer call in
    its own span and job group. clustered_shapes warms up with one
    untraced fused pass and kNN batch before its traced unit (pip +
    tiling + kNN);
    checkpointed_ingest traces its pipeline cycle first, while the JVM
    is as cold as in the untraced run, then the single layers."""
    tr = b.tracer
    t_start = time.perf_counter()
    with tr.span("session") as rec:
        spark = b.session()
    rec["start_s"] = rec["end"] - rec["start"]
    tr.sc = spark.sparkContext
    b.load(decode=False)
    if b.workload == "clustered_shapes":
        from geo_import_spark.operators import knn

        _traced_decode_and_cells(b)
        b.fused_pass()  # warm-ups, untraced, as in the untraced run
        b.knn_batch()
        t0 = time.perf_counter()
        _traced_pip_tiling(b)
        with tr.span("operators.knn") as rec:
            rows = knn.knn_join(b.queries, b.pts, k=KNN_K, level=KNN_LEVEL).collect()
            rec["rows"] = len(rows)
        b._check_knn(rows)
        unit_s = time.perf_counter() - t0
    else:
        unit_s = _traced_pipeline(b, os.path.join(b.work_dir, "pipeline"))
        _traced_decode_and_cells(b)
        _traced_pip_tiling(b)
    t_end = time.perf_counter()
    app_id = spark.sparkContext.applicationId
    spark.stop()  # closes the event log
    logs = glob.glob(os.path.join(b.event_dir, f"{app_id}*"))
    groups = eventlog.group_metrics(eventlog.read_events(logs[0])) if logs else {}
    b.info["event_log"] = logs[0] if logs else None
    metrics = layer_metrics(tr, groups)
    metrics["trace.wall_s"] = t_end - t_start
    metrics["trace.uncovered_s"] = (t_end - t_start) - tr.covered()
    metrics["trace.unit_wall_s"] = unit_s
    trace_dir = os.path.join(b.work_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{b.workload}-s{b.seed}-{tr.trace_id}.jsonl")
    tr.write(path, t_start)
    b.info["spans"] = path
    return metrics


def _traced_decode_and_cells(b: Bench):
    """sources.geojson (decode, cached for the later layers) and
    functions.cells, each in its own span."""
    from pyspark.sql import functions as F

    from geo_import_spark.functions import cells
    from geo_import_spark.sources import geojson

    with b.tracer.span("sources.geojson") as rec:
        b.pts = geojson.point_spans(b.docs).cache()
        rec["rows"] = b.pts.count()
    b.cached.append(b.pts)
    pts = b.pts
    _layer_call(
        b,
        "functions.cells",
        lambda: pts.select(*[cells.cell_col(F.col("lon"), F.col("lat"), lv) for lv in CELL_LEVELS]),
    )


def _traced_pip_tiling(b: Bench):
    """operators.pip then operators.tiling on the cached points, each
    checksummed against the oracle inside its own span."""
    from geo_import_spark.operators import pip, tiling

    pts = b.pts
    seen = len(b.plan_log.messages)
    rec, got = _layer_call(b, "operators.pip", lambda: pip.pip_join(pts, b.polys), pair_hashes)
    rec.update(PlanLog.decisions(b.plan_log.messages[seen:]))
    b.check("traced pip", got == b.want_pip, f"{got} want {b.want_pip}")
    rec, got = _layer_call(
        b,
        "operators.tiling",
        lambda: tiling.assign_tiles_from_anchors(
            tiling.media_spans(b.docs), tiling.first_geometry_anchor(pts), z=oracle.TILE_Z
        ),
        tile_hashes,
    )
    b.check("traced tiling", got == b.want_tiles, f"{got} want {b.want_tiles}")


def layer_metrics(tr: Tracer, groups: dict) -> dict:
    """Per-layer totals over every span of the layer, joined with the
    Spark metrics of the spans' job groups. Layers a workload bypasses
    read 0."""
    out = {name: 0 for name, _, _ in PER_LAYER}
    dur = tr.durations()
    self_t = tr.self_times()
    skew: dict = {}
    python_rows: dict = {}
    for s in tr.spans:
        layer = s["name"]
        if layer == "session":
            out["session.start_s"] += s["start_s"]
            continue
        sid = s["span_id"]
        out[f"{layer}.wall_s"] += dur[sid]
        out[f"{layer}.self_s"] += self_t[sid]
        out[f"{layer}.rows_out"] += s.get("rows", 0)
        g = groups.get(s["group"])
        if g:
            out[f"{layer}.python_s"] += g["python_ms"] / 1000.0
            out[f"{layer}.python_bytes_out"] += g["python_bytes_out"]
            out[f"{layer}.python_bytes_in"] += g["python_bytes_in"]
            out[f"{layer}.shuffle_write_bytes"] += g["shuffle_write_bytes"]
            out[f"{layer}.fetch_wait_s"] += g["fetch_wait_ms"] / 1000.0
            out[f"{layer}.spill_bytes"] += g["spill_bytes"]
            out[f"{layer}.failed_tasks"] += g["failed_tasks"]
            if g["tasks"]:
                skew[layer] = max(skew.get(layer, 0.0), g["task_skew"])
            python_rows[layer] = python_rows.get(layer, 0) + g["python_rows"]
            if layer == "operators.knn":
                out["operators.knn.jobs"] += g["jobs"]
        if layer == "operators.pip":
            out["operators.pip.plan_s"] += s.get("plan_s", 0.0)
            out["operators.pip.plan_shuffle"] = int(s.get("plan") == "shuffle")
            out["operators.pip.salt_factor"] = s.get("salt_factor", 1)
        if layer.startswith("plans.checkpoint."):
            for m, _, _ in STAGE_EXTRAS:
                out[f"{layer}.{m}"] += s.get(m, 0)
        if layer == "plans.pipeline":
            out["plans.pipeline.outside_stages_s"] += s.get("outside_stages_s", 0.0)
    for layer, v in skew.items():
        out[f"{layer}.task_skew"] = v
    if out["operators.pip.rows_out"]:
        out["operators.pip.bridge_rows_per_hit"] = python_rows.get("operators.pip", 0) / out["operators.pip.rows_out"]
    return out
