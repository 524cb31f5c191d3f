"""One Spark driver process of a benchmark run.

``python3 perfbench/worker.py <spec.json> <result.json>``, started by
``run.py`` with the environment it prepares. Modes:

- ``timed``: set up, run the cold job, then run jobs back to back (a
  closed loop, one job at a time) until ``seconds`` have passed and at
  least ``MIN_WARM`` have ended;
- ``traced``: set up, run the cold job, the ladder, untraced and traced
  jobs, and read the per-layer metrics.

Every job's output is checked; the result file holds the samples and the
checks, ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openmldb_spark import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import sparkmetrics  # noqa: E402
import workloads  # noqa: E402
from check import check, reference_checksum  # noqa: E402

# rows_per_s is a median of at least this many jobs after the cold one
MIN_WARM = 2
# one pass left steps of a few hundred ms below the run-to-run noise
LADDER_PASSES = 2


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    once at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({"name": name, "run": self.run_id,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*args):
            with self.span(name):
                return fn(*args)
        return traced


class Runner:
    def __init__(self, spec: dict, spark):
        self.spec = spec
        self.spark = spark
        self.workload = spec["workload"]
        self.in_dir = spec["in_dir"]
        self.steps = workloads.steps(self.workload, self.in_dir)
        self.is_pit = self.workload != "curate_docs"
        self.ckpt_root = os.path.join(spec["work_dir"], "ckpt")
        self.out_dir = (workloads.pit_stage_data(self.ckpt_root,
                                                 workloads.PIT_OUTPUT_STEP)
                        if self.is_pit
                        else os.path.join(spec["work_dir"], "out"))
        self.expected = reference_checksum(self.workload, spec["seed"])
        self.jobs: list[dict] = []
        self.peak_rss_mb = 0.0
        self.peak_rss_parts: dict[str, float] = {}

    def _job(self, wrap=None):
        if self.is_pit:
            job = workloads.pit_job(self.spark, self.in_dir, self.ckpt_root,
                                    wrap=wrap)
            job.run(resume=False)
        else:
            (workloads.chain(self.spark, self.steps, wrap=wrap)
             .write.mode("overwrite").parquet(self.out_dir))
            self.spark.catalog.clearCache()     # minhash persists its sigs

    def job(self, kind: str, tracer: Tracer | None = None) -> dict:
        """Run, time and check one job; never raises."""
        rec = {"kind": kind, "load_before": os.getloadavg()[0]}
        t0 = time.perf_counter()
        try:
            if tracer:
                tracer.run_id += 1
                with tracer.span("job"):
                    self._job(wrap=tracer.wrap)
            else:
                self._job()
            rec["wall_s"] = time.perf_counter() - t0
            rec["problems"], rec["checksum"] = check(
                self.workload, self.out_dir, self.in_dir, self.spec["inputs"],
                self.expected)
        except Exception as e:                  # a failed job is a sample
            rec["wall_s"] = time.perf_counter() - t0
            rec["problems"] = [f"{type(e).__name__}: {e}"[:500]]
            rec["traceback"] = traceback.format_exc()[-4000:]
            rec["checksum"] = None
        rec["load_after"] = os.getloadavg()[0]
        rec["pss_mb"], rec["hwm_mb"], parts = sparkmetrics.resident_mb(
            os.getpid())
        if rec["pss_mb"] > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_rss_parts = rec["pss_mb"], parts
        self.jobs.append(rec)
        return rec

    def force(self, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def ladder(self, tracer: Tracer) -> dict:
        """Per-step seconds, each the median over ``LADDER_PASSES``.

        ``curate_docs``: each cumulative prefix of the chain is forced, and
        a step costs its prefix's time minus the previous prefix's.
        ``pit_*``: each operator is forced on the previous stage's
        committed output, as ``CheckpointedJob`` runs it but without the
        parquet write; the first stage also scans, so the bare scan's time
        is taken off it. Either way ``ladder.full_s`` is the sum of the
        steps."""
        times: dict[str, list[float]] = {name: [] for name, _ in self.steps}
        for _ in range(LADDER_PASSES):
            for k, (name, fn) in enumerate(self.steps):
                with tracer.span(f"rung:{name}"):
                    if self.is_pit and k > 1:
                        df = fn(self.spark, self.spark.read.parquet(
                            workloads.pit_stage_data(self.ckpt_root,
                                                     self.steps[k - 1][0])))
                    else:
                        df = workloads.chain(self.spark, self.steps[:k + 1])
                    times[name].append(self.force(df))
                self.spark.catalog.clearCache()
        out, prev = {}, 0.0
        for k, (name, ts) in enumerate(times.items()):
            t = statistics.median(ts)
            if self.is_pit and k > 1:
                out[name] = t
            else:
                out[name], prev = t - prev, t
        out["ladder.full_s"] = sum(out.values())
        return out


# every per-layer metric; a workload that does not run a layer reports 0
LAYER_METRICS = (
    "plan.build_s", "plan.catalyst_s", "ladder.scan_s", "ladder.full_s",
    "operators.sessionize_s", "operators.window_agg.native_s",
    "operators.window_agg.kernel_s", "window_agg.kernel_s_per_group",
    "operators.last_join_s", "operators.backfill_s",
    "jobs.checkpoint.write_s", "jobs.checkpoint.bytes_written",
    "jobs.checkpoint.resume_s",
    "pipeline.dedup.line_dedup_s", "pipeline.text.scrub_pii_s",
    "pipeline.text.gopher_s", "pipeline.text.lang_quality_s",
    "pipeline.dedup.exact_s", "pipeline.dedup.minhash_s",
    "pipeline.dedup.lsh_useful_ratio",
    "trace.rows_per_s", "trace.untraced_rows_per_s", "trace.overhead_frac",
    *sparkmetrics.METRIC_NAMES)


def traced_run(r: Runner, tracer: Tracer) -> dict:
    spark = r.spark
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m.update(r.ladder(tracer))

    builds, catalyst = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        with tracer.span("plan.build"):
            df = workloads.chain(spark, r.steps, wrap=tracer.wrap)
        builds.append(time.perf_counter() - t0)
        with tracer.span("plan.catalyst"):
            catalyst.append(sparkmetrics.catalyst_seconds(df))
    m["plan.build_s"] = statistics.median(builds)
    m["plan.catalyst_s"] = statistics.median(catalyst)

    # alternate, so that warm-up does not favour either side
    traced, untraced = [], []
    for i in range(2):
        before = sparkmetrics.execution_ids(spark)
        traced.append(r.job("traced", tracer)["wall_s"])
        if i == 0:
            spark_metrics, python_run_s = sparkmetrics.collect(
                spark, sparkmetrics.execution_ids(spark) - before)
            m.update(spark_metrics)
        untraced.append(r.job("untraced")["wall_s"])
    if r.is_pit:
        # the manifests are the untraced job's, so every stage resumes
        job = workloads.pit_job(spark, r.in_dir, r.ckpt_root)
        manifests = [job.manifest(st) for st in job.lineage()]
        m["jobs.checkpoint.bytes_written"] = float(sum(
            p["bytes"] for mf in manifests for p in mf["partitions"]))
        # the stages' own wall time (build, compute, write) minus the same
        # operators forced without a write
        m["jobs.checkpoint.write_s"] = (sum(mf["wall_s"] for mf in manifests)
                                        - m["ladder.full_s"])
        t0 = time.perf_counter()
        with tracer.span("jobs.checkpoint.resume"):
            job.run(resume=True)
        m["jobs.checkpoint.resume_s"] = time.perf_counter() - t0

    rows = r.spec["inputs"]["rows"]
    m["trace.rows_per_s"] = rows / statistics.median(traced)
    m["trace.untraced_rows_per_s"] = rows / statistics.median(untraced)
    m["trace.overhead_frac"] = 1 - (m["trace.rows_per_s"]
                                    / m["trace.untraced_rows_per_s"])

    if r.is_pit:
        # the kernel window is the backfill's only mapInPandas
        m["window_agg.kernel_s_per_group"] = (
            python_run_s.get("MapInPandas", 0.0)
            / r.spec["inputs"]["conversations"])
    else:
        with tracer.span("pipeline.dedup.lsh_useful"):
            cand = workloads.lsh_candidates(
                workloads.chain(spark, r.steps[:-1]))
            n_cand, n_kept = cand.agg(
                F.count("*"),
                F.count(F.when(F.col("est_jaccard")
                               >= workloads.NEAR_DUP_JACCARD, 1))).first()
            spark.catalog.clearCache()
        m["pipeline.dedup.lsh_useful_ratio"] = n_kept / max(n_cand, 1)
    return m


def main(spec_path: str, result_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    t_imported = time.time()
    spark = get_spark("perfbench", master=f"local[{spec['nproc']}]",
                      extra_conf=spec["extra_conf"])
    spark.sparkContext.setLogLevel("ERROR")
    ready = time.time()
    res = {"setup_s": ready - spec["spawned_at"],
           "session.start_s": ready - t_imported}
    r = Runner(spec, spark)
    tracer = Tracer()
    res["first_run_s"] = r.job("cold")["wall_s"]
    if spec["mode"] == "timed":
        deadline = time.perf_counter() + spec["seconds"]
        while (time.perf_counter() < deadline
               or sum(j["kind"] == "warm" for j in r.jobs) < MIN_WARM):
            r.job("warm")
    else:
        res["layers"] = traced_run(r, tracer)
        with open(spec["spans_path"], "w") as f:
            json.dump(tracer.spans, f)
    res["jobs"] = r.jobs
    res["peak_rss_mb"] = r.peak_rss_mb
    res["peak_rss_parts"] = r.peak_rss_parts
    with open(result_path, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
    # skip the JVM's orderly shutdown: run.py kills the process group
    os._exit(0)
