"""Benchmark entry point.

    python3 perfbench/run.py --workload clustered_shapes --seed 1 --seconds 3 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (cached under .perfbench_work/), runs the program on local[nproc]
through its public functions, checks every output against the NumPy
oracle and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before
it is a JSON report with the raw samples, the host and Spark version,
the plan decisions and every oracle mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

WORK_DIR = ".perfbench_work"
# The inputs are small. A 2 GiB heap stays well below the 60%-of-RAM
# ceiling and fills the same way every run, which keeps peak RSS steady.
DRIVER_MEM_CAP = 2 << 30


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver = min(int(mem_kb * 1024 * 0.6), DRIVER_MEM_CAP)
    return {"cpus": cpus, "mem_total_kb": mem_kb, "driver_mem": f"{driver >> 20}m"}


def _children() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the driver JVM and its descendants (the
    Python workers) from /proc and keeps the peak and every pid seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.root = None
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def watch(self, pid: int) -> None:
        self.root = pid

    def tree(self) -> set[int]:
        if self.root is None:
            return set()
        parents = _children()
        tree = {self.root}
        grew = True
        while grew:
            kids = {p for p, pp in parents.items() if pp in tree} - tree
            grew = bool(kids)
            tree |= kids
        return tree

    def _loop(self):
        while not self._stop.wait(self.interval):
            pids = self.tree()
            self.seen |= pids
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


def shutdown_spark(rss: RssSampler) -> None:
    """Stop the session and the gateway JVM, then wait until every
    process the JVM started has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    alive = {p for p in rss.seen if os.path.exists(f"/proc/{p}")}
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, WORK_DIR)
    if not os.path.isdir(os.path.join(root, "geo_import_spark")):
        print(f"run from the repository root: no geo_import_spark/ in {root}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    # Python temp files, Spark local dirs and the packaged zip stay in the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, root)

    import gen
    import workloads

    if args.workload not in gen.SIZES:
        print(f"unknown workload {args.workload!r}; one of {sorted(gen.SIZES)}", file=sys.stderr)
        return 2
    host = host_info()
    inputs = gen.generate(args.workload, args.seed)
    input_dir = os.path.join(work, "inputs", f"{args.workload}-{inputs.fingerprint()}")
    inputs.write(input_dir)

    rss = RssSampler()
    bench = workloads.Bench(
        args.workload, args.seed, args.seconds, bool(args.trace), work, input_dir, inputs,
        host["cpus"], host["driver_mem"], rss,
    )
    t0 = time.perf_counter()
    try:
        if args.trace:
            metrics = workloads.run_traced(bench)
            report = {}
        else:
            report = workloads.run_untraced(bench)
    finally:
        bench.close()
        shutdown_spark(rss)
        rss.stop()
    wall = time.perf_counter() - t0

    # Untraced runs log the wall of their measured unit; a traced run
    # reports its overhead against the median of those logged so far.
    unit_log = os.path.join(work, "unit_walls.jsonl")
    if args.trace:
        units = {name: unit for name, unit, _ in workloads.PER_LAYER}
        report["trace_overhead_s"] = None
        if os.path.exists(unit_log):
            with open(unit_log) as f:
                walls = [r["unit_wall_s"] for r in map(json.loads, f) if r["workload"] == args.workload]
            if walls:
                report["trace_overhead_s"] = metrics["trace.unit_wall_s"] - statistics.median(walls)
                report["untraced_unit_walls"] = len(walls)
    else:
        report["peak_rss_mb"] = rss.peak_kb / 1024.0
        metrics = {name: report[name] for name in workloads.END_TO_END}
        units = workloads.END_TO_END
        with open(unit_log, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed, "unit_wall_s": report["unit_wall_s"]}) + "\n")
    report.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        run_wall_s=wall,
        n_docs=inputs.n_docs,
        n_polys=inputs.n_polys,
        n_queries=int(inputs.qlon.size),
        host=host,
        failed_op_frac=bench.failed / max(bench.attempted, 1),
        mismatches=bench.mismatches,
        **bench.info,
    )
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
