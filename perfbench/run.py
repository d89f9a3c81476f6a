"""Benchmark entry point: fresh invocations of the engine, end to end and
layer by layer.

Run from the repository root::

    python3 perfbench/run.py --workload pipeline_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per process. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, where the
metrics are the end-to-end ones of BENCHMARK.json with ``--trace 0`` and the
per-layer ones with ``--trace 1``. The line before it is the run record:
generated input sizes, sample count and tail percentile, load average
before and after, core count, PySpark and Java versions, and in traced runs
the self time of each layer. ``--workload all`` runs every workload
untraced and traced with the same seed, prints every metric with its unit,
and reports the tracing overhead as the traced run's loss of ops/s.

The launcher pins ``SPARK_GRAFT_CPUS`` to the usable core count and the
driver heap to ``DRIVER_MEM``, and keeps Spark's local dirs, temp files and
warehouse under ``.perfbench/`` in the checkout; it clears the engine's
``tmp_io/`` scratch before set-up, so fixture builds land in set-up on every
run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A fixed driver heap keeps the JVM's footprint, and so peak RSS, from
# following whatever the host has free.
DRIVER_MEM = "2g"


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def pin_environment(work: str) -> None:
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            # no hsperfdata file under /tmp: the run writes only inside the checkout
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.path.join(ROOT, "tmp_io"), ignore_errors=True)
    pin_environment(work)
    sys.path.insert(0, ROOT)
    import pyspark

    import workloads

    load_before = os.getloadavg()
    run = workloads.Run(work, seed, seconds, traced)
    spark = workloads.start_session(run)
    try:
        workloads.WORKLOADS[workload](run, spark)
        e2e = workloads.end_to_end(run, spark)
    finally:
        stop(spark)
    record = {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        **run.info,
        "failures": run.failures,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
    }
    if traced:
        run.layer["trace.ops_per_s"] = e2e["ops_per_s"]
        record["self_s"] = run.tracer.self_times()
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.dump(os.path.join(traces, f"{workload}-{seed}.json"), {"record": record})
    s = spec()
    chosen = s["per_layer"] if traced else s["end_to_end"]
    values = run.layer if traced else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in chosen
    }
    print(json.dumps({"record": record}, default=str))
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def run_all(seed: int, seconds: float) -> dict:
    """Every workload, untraced then traced, each in its own process."""
    out: dict = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in spec()["workloads"]:
        name = w["name"]
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
            res[trace] = json.loads(proc.stdout.strip().splitlines()[-1])
        for trace, r in res.items():
            out["correct"] &= r["correct"]
            out["attempted"] += r["attempted"]
            out["failed"] += r["failed"]
            for m, v in r["metrics"].items():
                print(f"{name:16s} {m:36s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
                out["metrics"][f"{name}.{m}"] = v
        base = res[0]["metrics"]["ops_per_s"]["value"]
        traced = res[1]["metrics"]["trace.ops_per_s"]["value"]
        overhead = 1.0 - traced / base
        print(f"{name:16s} {'trace.overhead':36s} {overhead:14.4f} ratio", file=sys.stderr)
        out["metrics"][f"{name}.trace.overhead"] = {"value": overhead, "unit": "ratio"}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pkg2_spark")):
        print(f"perfbench: no pkg2_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    names = [w["name"] for w in spec()["workloads"]]
    if args.workload != "all" and args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {names} or all", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    if args.workload == "all":
        result = run_all(args.seed, args.seconds)
    else:
        result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"perfbench: {args.workload} took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
