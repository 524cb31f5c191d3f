"""Transcript feature-engine benchmark.

    python3 perfbench/run.py --workload pit_short --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` under ``.perfbench_work/``, runs the
engine from the checkout's own ``openmldb_spark`` on ``local[nproc]``,
checks every job's output, and prints one JSON object as its last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A run record (host, settings, inputs, every sample) is
written next to the spans under ``.perfbench_work/records/``.

Load is a closed loop from one driver process: one job at a time, the
next starting when the previous one has ended, like a backfill scheduler.
See perfbench/README.md for the workloads and metrics.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pit_long", "pit_short", "curate_docs")
DRIVER_MEMORY = "2g"             # the engine's 48g default exceeds RAM
# a fixed heap and young generation: with G1 free to resize them, the JVM's
# resident set varied by a third between identical runs
JVM_OPTIONS = "-Xms2g -Xmn256m"
RUN_DEADLINE_S = 170             # the whole run, set-up included


def _versions() -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark
    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "numpy": numpy.__version__, "duckdb": duckdb.__version__}


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[3]) == pgid:
                        return True
            except OSError:
                continue
    return False


def _run_worker(spec: dict, work: str, tag: str,
                deadline: float) -> dict | None:
    """Start one worker in its own process group, wait for it, and make
    sure nothing it started (JVM, Python workers) outlives it."""
    spec_path = os.path.join(work, f"{tag}.spec.json")
    result_path = os.path.join(work, f"{tag}.result.json")
    env = spec["env"]
    spec = {**spec, "env": None, "spawned_at": time.time()}
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(os.path.join(work, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path,
             result_path], cwd=ROOT, env=env, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
    # the worker leaves its JVM running once the result is written;
    # everything in the group is done by then
    if _group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    while _group_alive(proc.pid):
        time.sleep(0.05)
    if proc.returncode != 0 or not os.path.exists(result_path):
        return None
    with open(result_path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "openmldb_spark", "__init__.py")):
        print(f"no openmldb_spark package under {ROOT}: run from the root "
              f"of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    records = os.path.join(base, "records")
    for d in ("in", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(records, exist_ok=True)

    t0 = time.perf_counter()
    inputs = gen.generate(args.workload, args.seed, os.path.join(work, "in"))
    gen_s = time.perf_counter() - t0

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    env = {**os.environ,
           # workers import the engine from this checkout, whatever their cwd
           "PYTHONPATH": os.pathsep.join(
               [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                   os.pathsep) if p]),
           "PYSPARK_PYTHON": sys.executable,
           "SPARK_GRAFT_CPUS": str(nproc),
           "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
           "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
           "TMPDIR": tmp}
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    extra_conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}",
    }
    settings = {k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
        "PYTHONPATH", "PYSPARK_PYTHON")}
    spec = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds,
            "nproc": nproc, "in_dir": os.path.join(work, "in"),
            "work_dir": work, "inputs": inputs, "env": env,
            "extra_conf": extra_conf,
            "spans_path": os.path.join(records, os.path.basename(work)
                                       + ".spans.json")}

    main_res = _run_worker({**spec, "mode": "traced" if args.trace
                            else "timed"}, work, "main", deadline)
    if main_res is None:
        print(f"the worker failed; see {work}/main.log", file=sys.stderr)
        return 1

    # -- aggregate ------------------------------------------------------------
    jobs = main_res["jobs"]
    attempted = len(jobs)
    failed = sum(1 for j in jobs if j["problems"])
    checksums = {j["checksum"] for j in jobs if j["checksum"] is not None}
    correct = failed == 0 and len(checksums) == 1

    warm = [j["wall_s"] for j in jobs if j["kind"] == "warm"]
    end_to_end = {
        "setup_s": (main_res["setup_s"], "s"),
        "first_run_s": (main_res["first_run_s"], "s"),
        "peak_rss_mb": (main_res["peak_rss_mb"], "MiB"),
    }
    if warm:
        end_to_end["rows_per_s"] = (inputs["rows"] / statistics.median(warm),
                                    "1/s")
    layers = dict(main_res.get("layers", {}))
    layers["session.start_s"] = main_res["session.start_s"]

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": attempted,
        "failed": failed, "failed_frac": failed / max(attempted, 1),
        "host": {"nproc": nproc, "load_at_start": os.getloadavg(),
                 "versions": _versions()},
        "settings": {**settings, "extra_conf": extra_conf,
                     "closed_loop_clients": 1},
        "inputs": {k: v for k, v in inputs.items() if k != "duplicate_ids"},
        "gen_s": gen_s, "jobs": jobs,
        "peak_rss_parts": main_res.get("peak_rss_parts"),
        "checksums": sorted(checksums),
        "end_to_end": {k: v[0] for k, v in end_to_end.items()},
        "per_layer": layers, "run_s": time.time() - t_start,
    }
    rec_path = os.path.join(records, os.path.basename(work) + ".json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    for d in ("in", "ckpt", "out", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    # -- report ---------------------------------------------------------------
    unit = "docs" if args.workload == "curate_docs" else "turns"
    print(f"workload {args.workload} seed {args.seed}: "
          f"{inputs['rows']} {unit}, "
          f"{inputs['conversations']} conversations (largest "
          f"{inputs['largest_conversation']}), {inputs['bytes']} bytes in "
          f"{inputs['files']} file(s); local[{nproc}], one closed-loop client")
    print(f"jobs attempted {attempted}, failed {failed}, failed_frac "
          f"{record['failed_frac']:.3f}; warm samples {len(warm)}; "
          f"record {rec_path}")
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end.items()}
        for k, m in metrics.items():
            print(f"  {k:<12} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith("_s_per_group"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "_ratio")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
