"""Single scaling-bench run: the north-star feature pipeline at one
parallelism level. Invoked as a subprocess by tools/scaling_bench.py so
each level gets its own JVM (master can't change in-process).

Prints one JSON line: {"cpus": N, "wall_s": ..., "rows": ...}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--input", required=True)
    args = ap.parse_args()

    from openmldb_spark import (
        Agg, WindowSpecFE, get_spark, last_join, sessionize, window_agg)

    spark = get_spark(
        f"scaling-{args.cpus}", master=f"local[{args.cpus}]",
        extra_conf={
            # IDENTICAL partitioning at both levels — the scaling claim
            # isolates core count. Sizing partitions to the cluster is a
            # separate (orthogonal) knob; with per-core partitioning the
            # small level gets 4x-bigger partitions and the measurement
            # conflates memory pressure with parallelism.
            "spark.sql.shuffle.partitions": "128",
            "spark.default.parallelism": "128",
        })
    ev = spark.read.parquet(args.input)
    rows = ev.count()

    def pipeline():
        sess = sessionize(ev, "user_id", "ts", gap_ms=30 * 60 * 1000,
                          tiebreak=("event_id",))
        spec = WindowSpecFE(["user_id"], "ts", frame="range",
                            start=3_600_000, end=0, peer="sql")
        feats = window_agg(sess, spec, [
            Agg("cnt_1h", "count", "value"),
            Agg("sum_1h", "sum", "value"),
            Agg("avg_1h", "avg", "value"),
            Agg("n_err_1h", "count_where", "value",
                cond="event_type = 'error'"),
            Agg("prev_value", "lag", "value", n=1),
        ])
        # kernel-path window (exercises the applyInPandas path too)
        spec_k = WindowSpecFE(["user_id"], "ts", frame="range",
                              start=3_600_000, end=0, maxsize=50,
                              tiebreak=("event_id",))
        feats_k = window_agg(sess, spec_k, [
            Agg("cnt_m", "count", "value"), Agg("sum_m", "sum", "value")])
        purchases = ev.filter(F.col("event_type") == "purchase") \
                      .select("user_id", "ts", "event_id", "value")
        out = last_join(feats, purchases, on="user_id", order_by="ts",
                        left_ts="ts", right_ts="ts", tiebreak="event_id")
        out.write.format("noop").mode("overwrite").save()
        feats_k.write.format("noop").mode("overwrite").save()

    pipeline()                      # warm-up: plan analysis + codegen JIT
    t0 = time.time()
    pipeline()
    wall = time.time() - t0
    print(json.dumps({"cpus": args.cpus, "wall_s": round(wall, 3),
                      "rows": rows,
                      "rows_per_s": round(rows / wall, 1)}))


if __name__ == "__main__":
    main()
