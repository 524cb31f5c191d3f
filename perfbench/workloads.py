"""The benchmark's jobs, built only from the engine's public API.

Each workload is a list of named steps. A step takes the Spark session and
the output of the previous step (``None`` for the first) and returns a
lazy DataFrame. The first step is always the bare scan of the primary
input. A timed job chains all steps; the traced run also forces every
cumulative prefix (the "ladder"), so the difference between two
neighbouring prefixes is the cost of one step. Step names are the
per-layer metric names they produce.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmldb_spark import (
    Agg, CheckpointedJob, WindowSpecFE, ffill, last_join, sessionize,
    window_agg)
from openmldb_spark.pipeline.dedup import (
    exact_dedup, line_dedup, minhash_lsh_pairs)
from openmldb_spark.pipeline.text import (
    append_lang_quality, gopher_quality, scrub_pii)

TEN_MIN_MS = 600_000
MAXSIZE = 50
SESSION_GAP_MS = 30 * 60 * 1000
NEAR_DUP_JACCARD = 0.8


def _scan(path: str, spark: SparkSession, _=None) -> DataFrame:
    return spark.read.parquet(path)


# -- point-in-time backfill (pit_long, pit_short) -----------------------------

def _sessionize(spark: SparkSession, df: DataFrame) -> DataFrame:
    return sessionize(df.withColumn("n_chars", F.length("text")), "conv_id",
                      "ts", gap_ms=SESSION_GAP_MS, tiebreak=("turn_idx",))


def _native_window(spark: SparkSession, df: DataFrame) -> DataFrame:
    # peer="sql" keeps the 10-min ROWS_RANGE frame on Spark's own window
    # operator; the default stream peers send RANGE frames to the kernel
    spec = WindowSpecFE(["conv_id"], "ts", frame="range", start=TEN_MIN_MS,
                        end=0, tiebreak=("turn_idx",), peer="sql")
    return window_agg(df, spec, [
        Agg("n_10m", "count", "turn_idx"),
        Agg("chars_10m", "sum", "n_chars"),
        Agg("prev_role", "lag", "role", n=1),
    ])


def _kernel_window(spark: SparkSession, df: DataFrame) -> DataFrame:
    spec = WindowSpecFE(["conv_id"], "ts", frame="range", start=TEN_MIN_MS,
                        end=0, maxsize=MAXSIZE, tiebreak=("turn_idx",))
    return window_agg(df, spec, [
        Agg("n_user_10m", "count_where", "turn_idx", cond="role = 'user'"),
        Agg("n_tool_10m", "count_where", "turn_idx",
            cond="tool IS NOT NULL"),
        Agg("top_tool", "topn_frequency", "tool", n=2),
    ])


def _last_join(meta_path: str, spark: SparkSession,
               df: DataFrame) -> DataFrame:
    return last_join(df, spark.read.parquet(meta_path), on="conv_id",
                     order_by="ts", left_ts="ts", right_ts="ts",
                     tiebreak="score")


def _backfill(spark: SparkSession, df: DataFrame) -> DataFrame:
    return ffill(df, "tool", ["conv_id", "session_id"], "ts",
                 tiebreak=("turn_idx",))


# -- corpus curation (curate_docs) --------------------------------------------

def _line_dedup(spark: SparkSession, df: DataFrame) -> DataFrame:
    return line_dedup(df, "text", "doc_id", max_occurrences=2)


def _scrub_pii(spark: SparkSession, df: DataFrame) -> DataFrame:
    return df.withColumn("text", scrub_pii(F.col("text")))


def _gopher(spark: SparkSession, df: DataFrame) -> DataFrame:
    # short chat documents: the thresholds of examples/curation_pipeline.py
    return (gopher_quality(df, min_tokens=10, max_tokens=100_000,
                           min_stopword_hits=1)
            .filter("gopher_keep").drop("gopher_keep", "gopher_reasons"))


def _lang_quality(spark: SparkSession, df: DataFrame) -> DataFrame:
    return append_lang_quality(df, "text")


def _exact_dedup(spark: SparkSession, df: DataFrame) -> DataFrame:
    keep = exact_dedup(df, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id"))
    return df.join(keep, "doc_id", "left_semi")


def lsh_candidates(df: DataFrame) -> DataFrame:
    """Every LSH candidate pair with its estimated Jaccard."""
    return minhash_lsh_pairs(df, "text", "doc_id", num_hashes=64, bands=16)


def _minhash(spark: SparkSession, df: DataFrame) -> DataFrame:
    near = (lsh_candidates(df)
            .filter(F.col("est_jaccard") >= NEAR_DUP_JACCARD)
            .select(F.col("id_b").alias("doc_id")))
    return df.join(near, "doc_id", "left_anti")


# -- workload table -----------------------------------------------------------

def steps(workload: str, in_dir: str) -> list[tuple[str, object]]:
    if workload == "curate_docs":
        return [
            ("ladder.scan_s", functools.partial(
                _scan, os.path.join(in_dir, "documents.parquet"))),
            ("pipeline.dedup.line_dedup_s", _line_dedup),
            ("pipeline.text.scrub_pii_s", _scrub_pii),
            ("pipeline.text.gopher_s", _gopher),
            ("pipeline.text.lang_quality_s", _lang_quality),
            ("pipeline.dedup.exact_s", _exact_dedup),
            ("pipeline.dedup.minhash_s", _minhash),
        ]
    return [
        ("ladder.scan_s", functools.partial(
            _scan, os.path.join(in_dir, "turns.parquet"))),
        ("operators.sessionize_s", _sessionize),
        ("operators.window_agg.native_s", _native_window),
        ("operators.window_agg.kernel_s", _kernel_window),
        ("operators.last_join_s", functools.partial(
            _last_join, os.path.join(in_dir, "conv_meta.parquet"))),
        ("operators.backfill_s", _backfill),
    ]


def chain(spark: SparkSession, step_list, wrap=None) -> DataFrame:
    """Fold ``step_list`` into one lazy DataFrame. ``wrap(name, fn)`` may
    decorate each step (tracing)."""
    df = None
    for name, fn in step_list:
        df = (wrap(name, fn) if wrap else fn)(spark, df)
    return df


def pit_stage(step: str) -> str:
    """The ``CheckpointedJob`` stage an operator step runs as."""
    return step.split(".")[-1].removesuffix("_s")


def pit_stage_data(root: str, step: str) -> str:
    """Where ``pit_job(.., root)`` commits the output of ``step``."""
    return os.path.join(root, "pit", pit_stage(step), "data")


def _first_stage(scan, sess, spark: SparkSession) -> DataFrame:
    return sess(spark, scan(spark))


def pit_job(spark: SparkSession, in_dir: str, root: str,
            wrap=None) -> CheckpointedJob:
    """The backfill as a ``CheckpointedJob``: one materialised stage per
    operator; the first stage also does the scan."""
    (_, scan), *ops = steps("pit", in_dir)
    w = wrap or (lambda name, fn: fn)
    job = CheckpointedJob(spark, root, "pit")
    prev: list[str] = []
    for i, (name, fn) in enumerate(ops):
        stage = pit_stage(name)
        if i == 0:
            job.stage(stage, functools.partial(
                _first_stage, w("ladder.scan_s", scan), w(name, fn)),
                inputs=[os.path.join(in_dir, "turns.parquet")])
        else:
            job.stage(stage, w(name, fn), deps=prev,
                      inputs=([os.path.join(in_dir, "conv_meta.parquet")]
                              if name == "operators.last_join_s" else []))
        prev = [stage]
    return job


PIT_OUTPUT_STEP = "operators.backfill_s"
