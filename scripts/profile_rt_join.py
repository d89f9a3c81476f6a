"""Profile q_stream_rt_join's replay cost (r12 verdict #5: tier2 drift
4.2 s → 5.9 s between rounds — is it micro-batch scheduling, state-store
commit time, or growing state?).

Replays the exact bench fixture (sf0.1 interval join) through the
harness's ``replay`` with the query's StreamingQueryProgress captured:
per-batch durationMs breakdown (addBatch / commitOffsets / walCommit /
latestOffset), state-operator metrics (rows total/updated, memory, commit
time), and batch count. Run in a quiet window; compare runs.

Usage: python scripts/profile_rt_join.py [SF_DIR]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pkg2_spark.queries.relational import IO_DIR
    from pkg2_spark.session import get_session
    from pkg2_spark.streaming.harness import events_stream, replay

    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")

    def build():
        clicks = (
            events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
            .withWatermark("c_ts", "1 hour")
        )
        buys = (
            events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return clicks.join(
            buys,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
        ).select("c_user", "c_ts", "p_ts", "p_value")

    for run in range(3):
        qname = f"rtjoin_prof_{uuid.uuid4().hex[:8]}"
        ckpt = os.path.join(IO_DIR, "checkpoints", qname)
        t0 = time.monotonic()
        q = replay(
            build(),
            lambda w: w.format("memory").queryName(qname).option("checkpointLocation", ckpt),
        )
        wall = time.monotonic() - t0
        progresses = [json.loads(p.json) for p in q.recentProgress]
        n = spark.table(qname).count()
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
        print(f"\n=== run {run}: wall {wall:.2f}s, {len(progresses)} batches, "
              f"{n} pairs, loadavg {os.getloadavg()[0]:.2f}")
        for p in progresses:
            dur = p.get("durationMs", {})
            print(f"  batch {p['batchId']}: total={p.get('batchDuration')}ms "
                  + " ".join(f"{k}={v}" for k, v in sorted(dur.items())))
            for so in p.get("stateOperators", []):
                print(
                    "    state[{op}]: rowsTotal={rt} updated={ru} "
                    "commitMs={cm} memUsed={mb}".format(
                        op=so.get("operatorName"),
                        rt=so.get("numRowsTotal"),
                        ru=so.get("numRowsUpdated"),
                        cm=so.get("allUpdatesTimeMs"),
                        mb=so.get("memoryUsedBytes"),
                    )
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
