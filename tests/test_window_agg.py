"""Window frame semantics — golden micro cases + differential vs oracle.

Micro table mirrors the reference's canonical window case table
(cases/function/window/test_window_row_range.yaml:18-40): keys aa/bb,
ts 1590738990000..1590738994000.
"""

import numpy as np
import pandas as pd
import pytest

from openmldb_spark.operators.window_agg import (
    Agg, SkewConfig, WindowSpecFE, window_agg)
from tests.conftest import assert_pdf_allclose
from tests.oracle import oracle_window

BASE = 1590738990000


def micro_pdf():
    # c1 key, c4 bigint value, c7 ts — 5 rows: aa×3 (1s apart), bb×2
    rows = [
        ("aa", 1, BASE + 0),
        ("aa", 2, BASE + 1000),
        ("aa", 3, BASE + 2000),
        ("bb", 10, BASE + 0),
        ("bb", 20, BASE + 1000),
    ]
    pdf = pd.DataFrame(rows, columns=["c1", "c4", "ts_ms"])
    pdf["c7"] = pd.to_datetime(pdf["ts_ms"], unit="ms")
    return pdf.drop(columns=["ts_ms"])


def run(spark, pdf, spec, aggs, union_pdf=None):
    df = spark.createDataFrame(pdf)
    if union_pdf is not None:
        spec = WindowSpecFE(**{**spec.__dict__,
                               "union_dfs": [spark.createDataFrame(union_pdf)]})
    return window_agg(df, spec, aggs).toPandas()


def test_rows_frame_golden(spark):
    # ROWS BETWEEN 1 PRECEDING AND CURRENT ROW: sum over ≤2 rows
    spec = WindowSpecFE(["c1"], "c7", frame="rows", start=1, end=0)
    got = run(spark, micro_pdf(), spec, [Agg("s", "sum", "c4")])
    exp = {("aa", 1): 1, ("aa", 2): 3, ("aa", 3): 5, ("bb", 10): 10,
           ("bb", 20): 30}
    for _, r in got.iterrows():
        assert r["s"] == exp[(r["c1"], r["c4"])]


def test_range_frame_golden(spark):
    # ROWS_RANGE BETWEEN 1s PRECEDING AND CURRENT ROW
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=1000, end=0)
    got = run(spark, micro_pdf(), spec,
              [Agg("s", "sum", "c4"), Agg("c", "count", "c4")])
    exp = {("aa", 1): (1, 1), ("aa", 2): (3, 2), ("aa", 3): (5, 2),
           ("bb", 10): (10, 1), ("bb", 20): (30, 2)}
    for _, r in got.iterrows():
        assert (r["s"], r["c"]) == exp[(r["c1"], r["c4"])]


def test_range_open_and_between_preceding(spark):
    pdf = micro_pdf()
    # OPEN 2s PRECEDING: (ts-2000, ts] — row aa@+2000 excludes aa@+0
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=2000, end=0,
                        open_start=True)
    got = run(spark, pdf, spec, [Agg("s", "sum", "c4")])
    aa3 = got[(got.c1 == "aa") & (got.c4 == 3)]["s"].iloc[0]
    assert aa3 == 5  # rows 2,3 only
    # 2s PRECEDING AND 1s PRECEDING: both bounds in the past
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=2000, end=1000)
    got = run(spark, pdf, spec, [Agg("s", "sum", "c4")])
    aa3 = got[(got.c1 == "aa") & (got.c4 == 3)]["s"].iloc[0]
    assert aa3 == 3  # rows 1,2
    aa1 = got[(got.c1 == "aa") & (got.c4 == 1)]["s"]
    assert aa1.isna().all()  # empty frame → NULL sum


def test_maxsize(spark):
    # range 10s + MAXSIZE 2 → newest 2 rows only
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=10_000, end=0,
                        maxsize=2)
    got = run(spark, micro_pdf(), spec, [Agg("s", "sum", "c4")])
    exp = {("aa", 1): 1, ("aa", 2): 3, ("aa", 3): 5, ("bb", 10): 10,
           ("bb", 20): 30}
    for _, r in got.iterrows():
        assert r["s"] == exp[(r["c1"], r["c4"])]


def test_exclude_current_time(spark):
    # duplicate-ts rows: only self visible among same-ts peers
    rows = [("aa", 1, BASE), ("aa", 2, BASE), ("aa", 3, BASE),
            ("aa", 4, BASE + 1000)]
    pdf = pd.DataFrame(rows, columns=["c1", "c4", "ts_ms"])
    pdf["c7"] = pd.to_datetime(pdf["ts_ms"], unit="ms")
    pdf = pdf.drop(columns=["ts_ms"])
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=10_000, end=0,
                        exclude_current_time=True, tiebreak=["c4"])
    got = run(spark, pdf, spec, [Agg("c", "count", "c4"),
                                 Agg("s", "sum", "c4")])
    by_c4 = {r["c4"]: (r["c"], r["s"]) for _, r in got.iterrows()}
    assert by_c4[1] == (1, 1)   # self only
    assert by_c4[2] == (1, 2)
    assert by_c4[3] == (1, 3)
    assert by_c4[4] == (4, 10)  # 1s later: sees all three + self


def test_exclude_current_row(spark):
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=10_000, end=0,
                        exclude_current_row=True, tiebreak=["c4"])
    got = run(spark, micro_pdf(), spec, [Agg("c", "count", "c4")])
    by = {(r["c1"], r["c4"]): r["c"] for _, r in got.iterrows()}
    assert by[("aa", 1)] == 0
    assert by[("aa", 2)] == 1
    assert by[("aa", 3)] == 2
    assert by[("bb", 20)] == 1


def test_stream_peer_semantics_duplicate_ts(spark):
    # OpenMLDB: a row does not see later-sorted same-ts rows
    rows = [("aa", 1, BASE), ("aa", 2, BASE), ("aa", 3, BASE)]
    pdf = pd.DataFrame(rows, columns=["c1", "c4", "ts_ms"])
    pdf["c7"] = pd.to_datetime(pdf["ts_ms"], unit="ms")
    pdf = pdf.drop(columns=["ts_ms"])
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=10_000, end=0,
                        tiebreak=["c4"], peer="stream")
    got = run(spark, pdf, spec, [Agg("c", "count", "c4")])
    assert sorted(got["c"].tolist()) == [1, 2, 3]
    # sql peers: everyone sees all three
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=10_000, end=0,
                        tiebreak=["c4"], peer="sql")
    got = run(spark, pdf, spec, [Agg("c", "count", "c4")])
    assert got["c"].tolist() == [3, 3, 3]


def test_window_union_same_ts(spark):
    # mirror TestWindowUnionWithSameTimestamp: union row at the same ts is
    # visible to the primary row (count==3: self + union@same ts + earlier)
    prim = pd.DataFrame([("aa", 1, BASE), ("aa", 9, BASE + 1000)],
                        columns=["c1", "c4", "ts_ms"])
    uni = pd.DataFrame([("aa", 5, BASE + 1000)], columns=["c1", "c4", "ts_ms"])
    for p in (prim, uni):
        p["c7"] = pd.to_datetime(p["ts_ms"], unit="ms")
    prim = prim.drop(columns=["ts_ms"])
    uni = uni.drop(columns=["ts_ms"])
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=10_000, end=0,
                        tiebreak=["c4"])
    got = run(spark, prim, spec, [Agg("c", "count", "c4")], union_pdf=uni)
    assert len(got) == 2  # only primary rows emitted
    by = {r["c4"]: r["c"] for _, r in got.iterrows()}
    assert by[9] == 3  # sees BASE row, union row @same ts, self
    assert by[1] == 1


def test_instance_not_in_window(spark):
    prim = pd.DataFrame([("aa", 1, BASE), ("aa", 2, BASE + 500),
                         ("aa", 9, BASE + 1000)],
                        columns=["c1", "c4", "ts_ms"])
    uni = pd.DataFrame([("aa", 5, BASE + 200)], columns=["c1", "c4", "ts_ms"])
    for p in (prim, uni):
        p["c7"] = pd.to_datetime(p["ts_ms"], unit="ms")
    prim = prim.drop(columns=["ts_ms"])
    uni = uni.drop(columns=["ts_ms"])
    spec = WindowSpecFE(["c1"], "c7", frame="range", start=10_000, end=0,
                        tiebreak=["c4"], instance_not_in_window=True)
    got = run(spark, prim, spec, [Agg("c", "count", "c4")], union_pdf=uni)
    by = {r["c4"]: r["c"] for _, r in got.iterrows()}
    assert by[1] == 1          # self only (union row is later)
    assert by[2] == 2          # union row + self; primary row c4=1 invisible
    assert by[9] == 2


def test_null_order_key_dropped(spark):
    pdf = micro_pdf()
    pdf.loc[len(pdf)] = ["aa", 99, pd.NaT]
    spec = WindowSpecFE(["c1"], "c7", frame="rows", start=1, end=0)
    got = run(spark, pdf, spec, [Agg("s", "sum", "c4")])
    assert 99 not in got["c4"].tolist()
    assert len(got) == 5


@pytest.mark.parametrize("frame,start,end,kw", [
    ("rows", 3, 0, {}),
    ("range", 5000, 0, {}),
    ("range", 5000, 0, {"maxsize": 3}),
    ("range", 5000, 0, {"exclude_current_time": True}),
    ("rows", 4, 1, {}),
    ("range", 8000, 2000, {}),
    ("range", 5000, 0, {"exclude_current_row": True, "maxsize": 2}),
])
def test_differential_vs_oracle(spark, frame, start, end, kw):
    """Random transcript-like data: engine == brute-force oracle."""
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame({
        "k": rng.choice(["a", "b", "c"], n),
        "tb": np.arange(n),
        "v": np.where(rng.random(n) < 0.1, np.nan,
                      rng.integers(0, 100, n).astype(float)),
        "ts": pd.to_datetime(
            BASE + rng.integers(0, 20_000, n).astype(np.int64), unit="ms"),
    })
    aggs = [Agg("cnt", "count", "v"), Agg("sm", "sum", "v"),
            Agg("mn", "min", "v"), Agg("mx", "max", "v"),
            Agg("av", "avg", "v"), Agg("dc", "distinct_count", "v"),
            Agg("fv", "first_value", "v")]
    spec = WindowSpecFE(["k"], "ts", frame=frame, start=start, end=end,
                        tiebreak=["tb"], **kw)
    got = window_agg(spark.createDataFrame(pdf), spec, aggs).toPandas()
    exp = oracle_window(
        pdf, ["k"], "ts", frame, start, end, tiebreak=["tb"],
        aggs=[("cnt", "count", "v"), ("sm", "sum", "v"), ("mn", "min", "v"),
              ("mx", "max", "v"), ("av", "avg", "v"),
              ("dc", "distinct_count", "v"), ("fv", "first_value", "v")],
        **kw)
    assert_pdf_allclose(got, exp, sort_by=["k", "tb"],
                        float_cols=["sm", "mn", "mx", "av", "fv"])


def test_skew_salting_matches_unsalted(spark):
    """skew-on == skew-off (mirrors reference TestWindowSkewOpt)."""
    rng = np.random.default_rng(11)
    n = 3000
    # one hot key (90%), several cold
    keys = np.where(rng.random(n) < 0.9, "hot",
                    rng.choice(["c1", "c2"], n))
    pdf = pd.DataFrame({
        "k": keys, "tb": np.arange(n),
        "v": rng.integers(0, 50, n).astype(float),
        "ts": pd.to_datetime(
            BASE + rng.integers(0, 500_000, n).astype(np.int64), unit="ms"),
    })
    aggs = [Agg("cnt", "count", "v"), Agg("sm", "sum", "v"),
            Agg("mx", "max", "v")]
    spec = WindowSpecFE(["k"], "ts", frame="range", start=60_000, end=0,
                        tiebreak=["tb"])
    plain = window_agg(spark.createDataFrame(pdf), spec, aggs).toPandas()
    salted = window_agg(spark.createDataFrame(pdf), spec, aggs,
                        skew=SkewConfig(parts=4, min_rows=100)).toPandas()
    assert_pdf_allclose(salted, plain, sort_by=["k", "tb"],
                        float_cols=["sm", "mx"])


def test_skew_salting_rows_frame_and_lag(spark):
    """Salted == unsalted for ROWS frames and lag (row-reach replication
    path), mirroring reference TestWindowSkewOpt."""
    rng = np.random.default_rng(13)
    n = 2000
    keys = np.where(rng.random(n) < 0.85, "hot",
                    rng.choice(["c1", "c2"], n))
    pdf = pd.DataFrame({
        "k": keys, "tb": np.arange(n),
        "v": rng.integers(0, 50, n).astype(float),
        "ts": pd.to_datetime(
            BASE + rng.integers(0, 500_000, n).astype(np.int64), unit="ms"),
    })
    aggs = [Agg("cnt", "count", "v"), Agg("sm", "sum", "v"),
            Agg("lg", "lag", "v", n=3)]
    spec = WindowSpecFE(["k"], "ts", frame="rows", start=7, end=0,
                        tiebreak=["tb"])
    plain = window_agg(spark.createDataFrame(pdf), spec, aggs).toPandas()
    salted = window_agg(spark.createDataFrame(pdf), spec, aggs,
                        skew=SkewConfig(parts=4, min_rows=100)).toPandas()
    assert_pdf_allclose(salted, plain, sort_by=["k", "tb"],
                        float_cols=["sm", "lg"])


def test_skew_salting_replication_is_frame_bounded(spark):
    """Replication volume is O(frame), not O(history) (VERDICT r1 #4):
    a 60s frame over a 500s hot-key history must replicate only rows
    near part boundaries, far fewer than the full prefix."""
    from openmldb_spark.operators.window_agg import (
        _EMIT, _ORD, _SIDE, _salt)
    from pyspark.sql import functions as F

    rng = np.random.default_rng(17)
    n = 4000
    pdf = pd.DataFrame({
        "k": ["hot"] * n, "tb": np.arange(n),
        "ts_ms": np.sort(rng.integers(0, 500_000, n).astype(np.int64)),
    })
    df = (spark.createDataFrame(pdf)
          .withColumn(_ORD, F.col("ts_ms"))
          .withColumn(_SIDE, F.lit(1))
          .withColumn(_EMIT, F.lit(1)))
    sk = SkewConfig(parts=4, min_rows=100)
    bounded = _salt(df, ["k"], sk, time_reach=60_000)
    unbounded = _salt(df, ["k"], sk)
    n_b = bounded.filter(F.col(_EMIT) == 0).count()
    n_u = unbounded.filter(F.col(_EMIT) == 0).count()
    # unbounded replicates the full prefix into every later part
    # (≈ 1.5n here); bounded only the ≈12% of each part near a boundary
    assert n_u > n
    assert n_b < 0.4 * n, (n_b, n_u)


def test_lead_native_label_construction(spark):
    """lead(n) reads the n-th FUTURE row in partition order — label
    construction (beyond the reference surface, which has lag/at only).
    Golden per-key expectations + the guard that kernel-only specs
    reject lead instead of silently changing what "next row" means."""
    import pytest

    spec = WindowSpecFE(["c1"], "c7", frame="rows", start=1, end=0)
    got = run(spark, micro_pdf(), spec,
              [Agg("nxt", "lead", "c4", n=1),
               Agg("nxt2", "lead", "c4", n=2),
               Agg("prv", "lag", "c4", n=1)])
    exp = {("aa", 1): (2.0, 3.0, None), ("aa", 2): (3.0, None, 1.0),
           ("aa", 3): (None, None, 2.0), ("bb", 10): (20.0, None, None),
           ("bb", 20): (None, None, 10.0)}
    for _, r in got.iterrows():
        e = exp[(r["c1"], r["c4"])]
        for got_v, exp_v in zip((r["nxt"], r["nxt2"], r["prv"]), e):
            if exp_v is None:
                assert pd.isna(got_v)
            else:
                assert got_v == exp_v

    with pytest.raises(ValueError, match="lead is native-only"):
        bad = WindowSpecFE(["c1"], "c7", frame="range", start=1000,
                           end=0, maxsize=2)
        run(spark, micro_pdf(), bad, [Agg("nxt", "lead", "c4", n=1)])

    # WINDOW UNION doesn't set needs_kernel() but interleaves
    # frame-only rows into the ordering — must reject too, or a union
    # row would silently become the "next row" label
    with pytest.raises(ValueError, match="lead is native-only"):
        run(spark, micro_pdf(), spec,
            [Agg("nxt", "lead", "c4", n=1)], union_pdf=micro_pdf())


@pytest.mark.parametrize("kw", [
    {"frame": "range", "start": 5000, "maxsize": 3},
    {"frame": "range", "start": 5000, "exclude_current_row": True},
    {"frame": "rows", "start": 3, "exclude_current_time": True},
])
def test_kernel_groups_straddle_arrow_batches(spark, kw):
    """7-row Arrow batches split key groups across batches, a NULL key
    forms its own group, and 16 uncoalesced shuffle partitions for 4
    keys leave some kernel partitions empty: output == oracle."""
    rng = np.random.default_rng(23)
    n = 90
    pdf = pd.DataFrame({
        "k": rng.choice(np.array(["a", "b", "c", None], dtype=object), n),
        "tb": np.arange(n),
        "v": np.where(rng.random(n) < 0.1, np.nan,
                      rng.integers(0, 5, n).astype(float)),
        "ts": pd.to_datetime(
            BASE + rng.integers(0, 20_000, n).astype(np.int64), unit="ms"),
    })
    aggs = [Agg("cnt", "count", "v"), Agg("sm", "sum", "v"),
            Agg("dc", "distinct_count", "v"), Agg("fv", "first_value", "v"),
            Agg("lg", "lag", "v", n=2)]
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "7",
            "spark.sql.shuffle.partitions": "16",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        spec = WindowSpecFE(["k"], "ts", tiebreak=["tb"], **kw)
        got = window_agg(spark.createDataFrame(pdf), spec, aggs).toPandas()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    exp = oracle_window(
        pdf, ["k"], "ts", tiebreak=["tb"],
        aggs=[("cnt", "count", "v"), ("sm", "sum", "v"),
              ("dc", "distinct_count", "v"), ("fv", "first_value", "v"),
              ("lg", "lag", "v", 2)], **kw)
    assert got["k"].isna().sum() == (pdf["k"].isna()).sum() > 0
    assert_pdf_allclose(got, exp, sort_by=["tb"],
                        float_cols=["sm", "fv", "lg"])
