"""Physical-plan shape guards — the scale properties docs/PLANS.md
audits, pinned as executable assertions so a refactor cannot silently
regress them:

- as-of sort_merge: NO join node at all (union + one hash exchange +
  forward-fill), the no-row-explosion property;
- join_rank with null-safe keys: a real equi-join (SortMergeJoin /
  *HashJoin), never BroadcastNestedLoopJoin / CartesianProduct;
- predicate pushdown + column pruning reach the parquet scan;
- the running-difference long window adds exactly one exchange.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sort_merge_asof_has_no_join_node(spark):
    from openmldb_spark import last_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    right = ev.select("user_id", "ts", F.col("value").alias("pv"))
    out = last_join(ev, right, on="user_id", order_by="ts",
                    left_ts="ts", right_ts="ts")
    p = plan_of(out)
    assert "Join" not in p, p          # union + window ffill, no join
    assert p.count("Exchange") <= 2    # one hash exchange (+AQE read)


def test_join_rank_null_safe_is_equi_join(spark):
    from openmldb_spark import last_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    right = spark.read.parquet(f"{SF}/events.parquet") \
        .select("user_id", "ts", F.col("value").alias("pv"))
    out = last_join(ev, right, on="user_id", order_by="ts",
                    left_ts="ts", right_ts="ts", strategy="join_rank")
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p or "HashJoin" in p), p


def test_parquet_scan_pushdown_and_pruning(spark):
    from openmldb_spark.operators.table_io import load_data

    df = load_data(spark, f"{SF}/events.parquet") \
        .filter(F.col("event_type") == "purchase") \
        .select("event_id", "value")
    p = plan_of(df)
    assert "PushedFilters: [" in p and "event_type" in \
        p.split("PushedFilters:")[1][:200], p
    rs = p.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in rs and "value" in rs
    assert "props" not in rs, f"column pruning lost: {rs}"


def test_long_window_running_difference_single_exchange(spark):
    from openmldb_spark.operators.long_window import long_window_agg
    from openmldb_spark.operators.window_agg import Agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = long_window_agg(ev, ["user_id"], "ts", 7 * 24 * 3_600_000,
                          [Agg("c", "count", "value"),
                           Agg("s", "sum", "value")])
    p = plan_of(out)
    assert p.count("Exchange") <= 2, p          # 1 hash (+AQE reads)
    assert "ArrowEvalPython" not in p and "FlatMapGroupsInPandas" \
        not in p, "subtractable aggs must stay native"


def test_native_window_single_exchange(spark):
    # VERDICT r3 wrong #2: the default peer="stream" routes range frames
    # to the kernel, so the old guard (no peer=, FlatMapGroupsInPandas
    # only) passed vacuously against the MapInPandas kernel plan. Pin
    # peer="sql" and assert NO pandas node of either kind.
    from openmldb_spark.operators.window_agg import (
        Agg, WindowSpecFE, window_agg)

    ev = spark.read.parquet(f"{SF}/events.parquet")
    spec = WindowSpecFE(["user_id"], "ts", frame="range",
                        start=3_600_000, end=0, peer="sql")
    assert not spec.needs_kernel()
    out = window_agg(ev, spec, [Agg("c", "count", "value"),
                                Agg("s", "sum", "value"),
                                Agg("m", "max", "value")])
    p = plan_of(out)
    assert p.count("Exchange") <= 2, p
    assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p \
        and "ArrowEvalPython" not in p, \
        "sql-peer range frame must take the native path:\n" + p


def test_stream_peer_range_window_takes_kernel(spark):
    # Inverse guard: OpenMLDB stream-peer semantics (ties enter the
    # frame one by one) are NOT expressible with Catalyst rangeBetween,
    # so the default spec MUST route to the Arrow kernel.
    from openmldb_spark.operators.window_agg import (
        Agg, SkewConfig, WindowSpecFE, window_agg)

    ev = spark.read.parquet(f"{SF}/events.parquet")
    spec = WindowSpecFE(["user_id"], "ts", frame="range",
                        start=3_600_000, end=0)   # peer="stream" default
    assert spec.needs_kernel()
    out = window_agg(ev, spec, [Agg("c", "count", "value")])
    p = plan_of(out)
    assert "MapInPandas" in p, p
    assert "FlatMapGroupsInPandas" not in p, p
    # the kernel stage's exchange carries no partition count, so AQE can
    # coalesce it (a fixed count pins one Python task per partition) —
    # and it stays the operator's only hash exchange
    assert "REPARTITION_BY_NUM" not in p, p
    assert p.count("REPARTITION_BY_COL") == 1, p
    assert p.count("hashpartitioning(") == 1, p
    # the skew-salted path partitions by (keys, salt part)
    salted = plan_of(window_agg(ev, spec, [Agg("c", "count", "value")],
                                skew=SkewConfig(parts=2, min_rows=10)))
    assert "REPARTITION_BY_NUM" not in salted, salted
    assert len(re.findall(r"hashpartitioning\(user_id#\d+L?, "
                          r"__omls_part#\d+, \d+\), REPARTITION_BY_COL",
                          salted)) == 1, salted


def test_minhash_band_join_is_equi(spark):
    # The LSH candidate join must hash-partition on (band, bh) — an
    # equi join at every scale — and never degrade to a nested-loop /
    # cartesian shape; the shuffle carries only (id, band, bh).
    from openmldb_spark.pipeline.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle=5)
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p or "HashJoin" in p), p


def test_backfill_merge_joins_stay_equi(spark):
    # long_window_agg_backfill merges full-bucket partials + two raw
    # edge buckets per probe row. All three branches must join on the
    # partition keys (equi) — a range-only join would nested-loop and
    # explode at scale.
    from openmldb_spark.operators.long_window import (
        long_window_agg_backfill, long_window_preagg)
    from openmldb_spark.operators.window_agg import Agg

    ev = spark.read.parquet(f"{SF}/events.parquet") \
        .select("user_id", "ts", F.col("value").alias("v"))
    W, B = 3_600_000, 600_000
    partials = long_window_preagg(ev, ["user_id"], "ts", B, ["v"])
    probe = ev.limit(50)
    out = long_window_agg_backfill(
        probe, partials, ev, ["user_id"], "ts", W, B,
        [Agg("s", "sum", "v"), Agg("c", "count", "v")])
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # partial aggregation (map-side combine) present in the preagg scan
    pre = plan_of(partials)
    assert pre.count("HashAggregate") >= 2, pre


def test_ivf_probe_join_broadcasts_queries(spark):
    # IVF candidate join: the exploded query probes (small side) must
    # broadcast; the corpus streams into a BroadcastHashJoin without a
    # shuffle of its own — the only Exchange is the final per-query
    # rank over |Q| x nprobe x cell-size candidate rows.
    from openmldb_spark.pipeline.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3,
                   n_cells=8, nprobe=2)
    p = plan_of(out)
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and \
        "BroadcastNestedLoopJoin" not in p, p
    # exactly one shuffle (the final rank); the other Exchange mentions
    # are the broadcast (tree + detail lines count one node twice)
    assert p.count("+- Exchange ") <= 1, p


def test_nested_udaf_decomposition_stays_native(spark):
    # sum(v + count(v)) OVER w decomposes algebraically into plain
    # windowed aggs (sql._decompose_nested_agg_arg) — the plan must be
    # JVM-native window execs, no Arrow kernel of either kind
    from openmldb_spark.sql import run_windowed_sql

    df = spark.range(6).select(
        F.lit("a").alias("k"), F.col("id").alias("ts"),
        F.col("id").alias("v"), F.col("id").alias("__case_rid"))
    out = run_windowed_sql(
        "select ts, sum(v + count(v)) over w as s from {0} "
        "window w as (partition by k order by ts rows between "
        "5 preceding and current row)", [df])
    p = plan_of(out)
    assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p, p
    assert "Window" in p, p


def test_scale_conf_defaults(spark):
    """Pin the scale-critical session defaults so a refactor cannot
    silently revert them (round 5: the sort shuffle writer removed the
    O(maps x reducers) file-create storm that throttled 32-core scaling
    — BENCH/BASELINE.md §3)."""
    conf = spark.conf
    assert conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1"
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_pack_chunks_adds_no_exchange(spark):
    """pack_chunks is pure Catalyst over the pack_offsets output
    (sequence + explode + codegen'd arithmetic): the offsets'
    localCheckpoint truncates lineage at the one range shuffle any
    global order needs, so the chunk-map plan must contain NO Exchange
    and NO extra Python node beyond the offsets' own mapInPandas."""
    from openmldb_spark.pipeline.packing import pack_chunks, pack_offsets

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    off = pack_offsets(docs, chunk_tokens=64, num_partitions=4)
    ch = pack_chunks(docs, chunk_tokens=64, offsets=off)
    p = plan_of(ch)
    assert "Exchange" not in p, p
    # formatted explain names each node once in the tree and once in
    # the detail section -> exactly one MapInPandas = two mentions
    assert p.count("MapInPandas") == 2, p      # the offsets kernel only
    assert "Generate" in p, p                  # the explode is there


def test_minhash_build_starts_no_job(spark):
    # Fan-out is read from the plan: building over an input that ends in
    # a shuffle executes nothing (counting its partitions would run every
    # upstream shuffle stage during the build); a bare one-partition scan
    # still fans out to every core.
    from openmldb_spark.pipeline.dedup import (
        line_dedup, minhash_lsh_pairs, minhash_signatures)

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1
    shuffled = line_dedup(docs)
    assert "Exchange" in plan_of(shuffled)
    group = "test_minhash_build_starts_no_job"
    sc.setJobGroup(group, "build only")
    try:
        out = minhash_lsh_pairs(shuffled, num_hashes=16, bands=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert "RoundRobinPartitioning" not in plan_of(out)
    finally:
        spark.catalog.clearCache()
    p = plan_of(minhash_signatures(docs))
    assert (f"RoundRobinPartitioning({sc.defaultParallelism})" in p), p


def _logical_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _logical_nodes(children.apply(i))


def test_line_dedup_text_stays_out_of_rebuild_join(spark):
    # the original text only decides whether the output is NULL: it is
    # projected to a flag before the rebuild join, so no join input
    # carries it
    from openmldb_spark.pipeline.dedup import line_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = line_dedup(docs)
    plan = out._jdf.queryExecution().optimizedPlan()
    joins = [n for n in _logical_nodes(plan) if n.nodeName() == "Join"]
    assert len(joins) == 2, plan.toString()      # anti join + rebuild
    for j in joins:
        for side in (j.left(), j.right()):
            names = [side.output().apply(i).name()
                     for i in range(side.output().size())]
            assert "text" not in names, (names, plan.toString())
    assert out.columns == docs.columns


def test_gopher_quality_is_scan_plus_one_arrow_pass(spark):
    # all eight rules run in one mapInPandas over the scan: no shuffle,
    # and no higher-order lambda (interpreted CodegenFallback) anywhere
    import __spark_entry__ as entrymod
    from openmldb_spark.pipeline.text import gopher_quality

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (gopher_quality(docs),
               entrymod.q_gopher_quality(spark, SF)):
        p = plan_of(df)
        assert "Exchange" not in p, p
        assert p.count("MapInPandas") == 2, p     # tree + detail entry
        assert p.count("Scan parquet") == 2, p
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in opt.lower(), opt
