"""Compare pipeline_build on generated tables with the same queries on driver
testdata.

pipeline_build times its queries on tables from ``gen.make_tables``. This
script runs each pipeline query fresh, in one session, on the generated
tables and on a directory of driver testdata, and prints per query and data
set the jobs fired by the build and by the collect, the result rows and
the median latency, so the two can be compared side by side::

    python3 perfbench/calibrate.py DRIVER_SF_DIR --sf 0.1 --repeats 3
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run as launcher  # noqa: E402
import workloads  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("driver_dir")
    p.add_argument("--sf", type=float, default=workloads.PIPELINE_SF)
    p.add_argument("--repeats", type=int, default=3)
    args = p.parse_args(argv)

    work = os.path.join(launcher.WORK, "calibrate")
    shutil.rmtree(work, ignore_errors=True)
    launcher.pin_environment(work)
    from pkg2_spark.catalog import load_tables

    r = workloads.Run(work, seed=1, seconds=0, traced=True)
    spark = workloads.start_session(r)
    generated = os.path.join(work, f"bench_sf{args.sf}")
    gen.make_tables(generated, sf=args.sf)
    print(f"{'query':22s} {'data':9s} {'build_jobs':>10s} {'collect_jobs':>12s} {'rows':>6s} {'median_ms':>9s}")
    try:
        for name in workloads.PIPELINE:
            for label, sf_dir in (("driver", args.driver_dir), ("generated", generated)):
                load_tables(spark, sf_dir)
                workloads.fresh_query(r, spark, sf_dir, name, probe=False)  # warm
                r.phase_stats.clear()
                secs, rows = [], set()
                for _ in range(args.repeats):
                    s, pdf = workloads.fresh_query(r, spark, sf_dir, name, probe=True)
                    secs.append(s)
                    rows.add(len(pdf))
                jobs = lambda phase: sorted({s["jobs"] for s in r.phase_stats[phase]})  # noqa: E731
                print(
                    f"{name:22s} {label:9s} {str(jobs('build')):>10s} {str(jobs('collect')):>12s} "
                    f"{'/'.join(map(str, sorted(rows))):>6s} {statistics.median(secs) * 1e3:9.0f}",
                    flush=True,
                )
    finally:
        launcher.stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
