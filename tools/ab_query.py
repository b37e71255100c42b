"""Controlled quiet-host A/B for individual headline queries.

Usage: python tools/ab_query.py <query> [<query> ...] [--reps N] [--sf DIR]

One warm local[$SPARK_GRAFT_CPUS] session, then N + 1 interleaved reps
of the listed queries through bench.time_queries (noop-sink action,
single-core probe at every rep boundary); rep 0 is the untimed warm pass
(plan compilation, shuffle files, page cache) and is dropped — the same
methodology as the A/B tables in BENCH/BASELINE.md. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_CONF, _warm_python_workers, time_queries  # noqa: E402
from geojson_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap = argparse.ArgumentParser(description="interleaved per-query A/B")
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", dest="sf_dir", default=sf_dir)
    args = ap.parse_intermixed_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", app_name="bench-ab",
                      shuffle_partitions=max(8, cpus), extra_conf=BENCH_CONF)
    _warm_python_workers(spark, cpus)
    walls, probes = time_queries(spark, args.sf_dir, args.names, args.reps + 1)
    spark.stop()
    walls = {n: [w[n] for w in walls[1:]] for n in args.names}
    print(json.dumps({
        "sf_dir": args.sf_dir, "cpus": cpus, "reps": args.reps,
        "walls": walls,
        "min": {n: min(v) for n, v in walls.items()},
        "host_probe_per_rep": probes[1:],
    }))


if __name__ == "__main__":
    main()
