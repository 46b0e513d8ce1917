"""Per-query wall-clock profile of every __spark_entry__.queries()
entry at a given SF dir. Not part of the driver protocol — a
developer tool to find throughput outliers worth optimizing.

Usage: python scripts/profile_queries.py [sf_dir] [name_filter...]
Prints one line per query: name, rows, wall seconds (single cold
pass in one warmed session — relative ranking, not absolute truth).
"""

import json
import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from geo_import_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    spark = get_spark(app="profile-queries")
    qs = entrymod.queries()
    results = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            n = qs[name](spark, sf_dir).count()
            wall = time.time() - t0
            results[name] = {"rows": n, "sec": round(wall, 2)}
            print(f"{name:24s} {n:>10d} rows  {wall:7.2f} s", flush=True)
        except Exception as e:  # keep profiling the rest
            results[name] = {"err": str(e)[:200]}
            print(f"{name:24s} ERROR {e}", flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
