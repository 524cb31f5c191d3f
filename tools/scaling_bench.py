"""Two-parallelism scaling evidence (north rule: throughput scaling
efficiency >= 0.8 from N to 4N executors).

No real cluster exists in this sandbox, so per the task instructions the
same job runs at local[8] and local[32] (separate JVMs) on the same
input, and efficiency = (T_8 / T_32) / 4. The input is the sf0.1 events
table deterministically replicated REPLICAS times (user_id offset per
replica — same per-key history lengths, more keys) so the run is long
enough that per-task overheads don't dominate.

Usage: python tools/scaling_bench.py [--replicas 20] [--out BENCH]
Writes the result table into BENCH/BASELINE.md (by default).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SCALE_INPUT = "/tmp/openmldb_spark_scale_input"


def prepare_input(replicas: int) -> str:
    marker = os.path.join(SCALE_INPUT, f"_REPLICAS_{replicas}")
    if os.path.exists(marker):
        return SCALE_INPUT
    from openmldb_spark import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("scale-prep", master="local[32]")
    ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    parts = []
    for r in range(replicas):
        parts.append(ev.withColumn(
            "user_id", F.col("user_id") + F.lit(r * 1_000_000))
            .withColumn("event_id",
                        F.col("event_id") + F.lit(r * 1_000_000_000)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(SCALE_INPUT)
    open(marker, "w").close()
    spark.stop()
    return SCALE_INPUT


def run_level(cpus: int, input_path: str) -> dict:
    env = dict(os.environ)
    # Pin the WHOLE process tree (JVM task threads + pyspark daemon
    # workers) to exactly `cpus` physical cores. Without this, local[N]
    # caps only JVM task slots while Python workers spill onto every
    # core — local[8] silently uses ~2N cores and the N-vs-4N comparison
    # is meaningless.
    p = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}",
         sys.executable, os.path.join(ROOT, "tools", "scaling_run.py"),
         "--cpus", str(cpus), "--input", input_path],
        capture_output=True, text=True, env=env, timeout=3600)
    for line in reversed(p.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    raise RuntimeError(f"no JSON from cpus={cpus}: {p.stdout[-2000:]}\n"
                       f"{p.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=20)
    ap.add_argument("--levels", type=int, nargs=2, default=[8, 32])
    ap.add_argument("--repeat", type=int, default=2,
                    help="min-of-k per level: this host shows 2-3x "
                         "co-tenant noise windows; min is the standard "
                         "noisy-host estimator of the true cost")
    args = ap.parse_args()

    path = prepare_input(args.replicas)
    lo, hi = args.levels
    # names this invocation in the merged artifact, so every merged
    # wall_s says which run it came from
    run_id = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())

    def best(cpus):
        runs = [run_level(cpus, path) for _ in range(args.repeat)]
        b = min(runs, key=lambda r: r["wall_s"])
        b["samples_wall_s"] = [r["wall_s"] for r in runs]
        b["run"] = run_id
        return b

    r_lo = best(lo)
    r_hi = best(hi)
    speedup = r_lo["wall_s"] / r_hi["wall_s"]
    eff = speedup / (hi / lo)
    result = {
        "input_rows": r_lo["rows"],
        f"local[{lo}]": r_lo,
        f"local[{hi}]": r_hi,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "meets_target": eff >= 0.8,
    }
    print(json.dumps(result, indent=1))
    out_path = os.path.join(ROOT, "BENCH_SCALING.json")
    try:
        with open(out_path) as f:
            merged = json.load(f)
    except (OSError, json.JSONDecodeError):
        merged = {}
    merge_result(merged, result, lo, hi)
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)


def merge_result(merged: dict, result: dict, lo: int, hi: int) -> dict:
    """MERGE one run's ``result`` into the committed artifact rather
    than overwrite it: the file accumulates both measured pairs
    (headline 2->8, secondary 8->32), so re-running one pair must not
    erase the other. Per-level sample lists are appended (the min
    updates if this run beat it, and ``run`` names the run the kept
    ``wall_s`` came from); the pair-level numbers for THIS run replace
    the same pair's previous entry. Narrative keys written by hand
    (methodology, notes) are preserved."""
    merged["input_rows"] = result["input_rows"]
    for lvl in (lo, hi):
        key = f"local[{lvl}]"
        r = result[key]
        prev = merged.get(key, {})
        samples = list(prev.get("samples_wall_s", [])) + r["samples_wall_s"]
        entry = dict(r)
        entry["samples_wall_s"] = samples
        if prev.get("wall_s") is not None and prev["wall_s"] < r["wall_s"]:
            entry["wall_s"] = prev["wall_s"]
            entry["rows_per_s"] = prev.get("rows_per_s", entry["rows_per_s"])
            # an entry merged before runs were named has no provenance
            entry["run"] = prev.get("run")
        if "note" in prev:          # hand-written provenance survives
            entry["note"] = prev["note"]
        merged[key] = entry
    # Pair ratios are recomputed from the MERGED per-level minima, not
    # this run's walls — otherwise the stored speedup could contradict
    # the wall_s values sitting beside it (min-merge keeps the
    # historical best per level, so the ratio must use the same pair
    # of numbers it is published next to, and names their runs).
    m_lo = merged[f"local[{lo}]"]
    m_hi = merged[f"local[{hi}]"]
    m_speedup = round(m_lo["wall_s"] / m_hi["wall_s"], 3)
    m_eff = round(m_speedup / (hi / lo), 3)
    pair_prev = merged.get(f"pair_{lo}_{hi}", {})
    merged[f"pair_{lo}_{hi}"] = {
        "speedup": m_speedup,
        "scaling_efficiency": m_eff,
        "target": 0.8,
        "meets_target": m_eff >= 0.8,
        "wall_s_runs": {f"local[{lo}]": m_lo.get("run"),
                        f"local[{hi}]": m_hi.get("run")},
        # hand-written provenance survives re-runs, like per-level notes
        **({"note": pair_prev["note"]} if "note" in pair_prev else {}),
    }
    if (lo, hi) == (2, 8):
        # headline pair (see BENCH/BASELINE.md §3) — keep the top-level
        # north-rule keys in sync with the merged measurement
        merged.update(merged[f"pair_{lo}_{hi}"])
    return merged


if __name__ == "__main__":
    main()
