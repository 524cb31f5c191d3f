"""Property-based differential test: the window kernel (a pure
pandas->pandas function over a batch of key groups) vs the brute-force
oracle, over randomized frames, data shapes, group layouts and OpenMLDB
extensions. Runs entirely in-process — no Spark jobs — so hypothesis
can explore hundreds of cases."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from openmldb_spark.operators import window_agg as wa
from openmldb_spark.operators.window_agg import (
    _EMIT, _ORD, _SIDE, Agg, WindowSpecFE, _make_kernel, _partition_runner)
from tests.oracle import oracle_window

AGGS = [
    Agg("a_cnt", "count", "v"),
    Agg("a_sum", "sum", "v"),
    Agg("a_min", "min", "v"),
    Agg("a_max", "max", "v"),
    Agg("a_avg", "avg", "v"),
    Agg("a_dc", "distinct_count", "v"),
    Agg("a_cw", "count_where", "v", cond="flag"),
    Agg("a_fv", "first_value", "v"),
    Agg("a_t1r", "top1_ratio", "v"),
    Agg("a_tnf", "topn_frequency", "v", n=2),
    Agg("a_cc", "count_cate", "v", cate="cat"),
    Agg("a_sc", "sum_cate", "v", cate="cat"),
    Agg("a_lag", "lag", "v", n=2),
]
ORACLE_AGGS = [
    ("a_cnt", "count", "v"),
    ("a_sum", "sum", "v"),
    ("a_min", "min", "v"),
    ("a_max", "max", "v"),
    ("a_avg", "avg", "v"),
    ("a_dc", "distinct_count", "v"),
    ("a_cw", "count_where", "v", lambda r: bool(r["flag"])),
    ("a_fv", "first_value", "v"),
    ("a_t1r", "top1_ratio", "v"),
    ("a_tnf", "topn_frequency", "v", 2),
    ("a_cc", "count_cate", "v", "cat"),
    ("a_sc", "sum_cate", "v", "cat"),
    ("a_lag", "lag", "v", 2),
]
STR_AGGS = {"a_tnf", "a_cc", "a_sc"}
# declared source types, as window_agg's production path supplies them:
# value column v is double, category column cat is string — this drives
# null-collapse in distinct_count and %f value rendering in sum_cate
SRC_TYPES = {**{a.name: "double" for a in AGGS if a.col == "v"},
             **{f"{a.name}/cate": "string" for a in AGGS if a.cate}}
DTYPES = {"a_cnt": "bigint", "a_sum": "double", "a_min": "double",
          "a_max": "double", "a_avg": "double", "a_dc": "bigint",
          "a_cw": "bigint", "a_fv": "double", "a_t1r": "double",
          "a_tnf": "string", "a_cc": "string", "a_sc": "string", "a_lag": "double"}


def _spec(draw):
    frame = draw(st.sampled_from(["rows", "range"]))
    start = draw(st.integers(0, 8))
    end = draw(st.integers(0, start))
    # OPEN bounds exist only for ROWS_RANGE time offsets in the dialect
    # (WINDOW_CLAUSE.md) and need a non-degenerate width
    open_start = draw(st.booleans()) and frame == "range" and start >= 1
    spec = WindowSpecFE(
        ["k"], "ts", frame=frame, start=start, end=end,
        open_start=open_start,
        maxsize=draw(st.one_of(st.none(), st.integers(1, 4))),
        exclude_current_time=draw(st.booleans()),
        exclude_current_row=draw(st.booleans()),
        instance_not_in_window=draw(st.booleans()),
        tiebreak=("tb",),
        peer="stream",  # excludes/inst_not are stream-only semantics
    )
    if not (spec.exclude_current_time or spec.exclude_current_row
            or spec.instance_not_in_window):
        spec = WindowSpecFE(**{**spec.__dict__,
                               "peer": draw(st.sampled_from(
                                   ["stream", "sql"]))})
    return spec


@st.composite
def case(draw):
    """1-6 key groups in one batch. Group ts ranges either interleave
    (an unsegmented bound would cross groups) or continue from the
    previous group's last ts (ties at group edges); single-row groups
    and lag offsets beyond a group's size come up often."""
    groups = []
    prev_max = 0
    for g in range(draw(st.integers(1, 6))):
        n = draw(st.integers(1, 8))
        ts = sorted(draw(st.lists(st.integers(0, 30), min_size=n,
                                  max_size=n)))
        if g and draw(st.booleans()):
            ts = [t - ts[0] + prev_max for t in ts]     # edge tie
        prev_max = ts[-1]
        groups.append(ts)
    n = sum(len(ts) for ts in groups)
    vals = draw(st.lists(
        st.one_of(st.none(), st.integers(-5, 5).map(float)),
        min_size=n, max_size=n))
    flags = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    sides = draw(st.lists(st.sampled_from([0, 1]), min_size=n, max_size=n))
    if 1 not in sides:
        sides[0] = 1
    spec = _spec(draw)
    has_union = 0 in sides
    if spec.instance_not_in_window and not has_union:
        spec = WindowSpecFE(**{**spec.__dict__,
                               "instance_not_in_window": False})
    lag_n = draw(st.integers(0, 9))
    return groups, vals, flags, sides, spec, has_union, lag_n


@settings(max_examples=500, deadline=None)
@given(case())
def test_kernel_matches_oracle(c):
    groups, vals, flags, sides, spec, has_union, lag_n = c
    n = len(vals)
    pdf = pd.DataFrame({
        "k": [f"g{g}" for g, ts in enumerate(groups) for _ in ts],
        "ts": [t for ts in groups for t in ts],
        "tb": range(n),
        "v": vals,
        "cat": [f"c{i % 3}" for i in range(n)],
        "flag": flags,
        _SIDE: sides,
        "__omls_cond0": flags,
    })
    pdf[_ORD] = pdf["ts"]
    pdf[_EMIT] = pdf[_SIDE]

    # kernel needs union handling only when union rows exist
    spec_k = spec
    if not has_union:
        pdf[_SIDE] = 1
        pdf[_EMIT] = 1
        spec_k = WindowSpecFE(**{**spec.__dict__,
                                 "instance_not_in_window": False})

    aggs = AGGS + [Agg("a_lagn", "lag", "v", n=lag_n)]
    oracle_aggs = ORACLE_AGGS + [("a_lagn", "lag", "v", lag_n)]
    dtypes = {**DTYPES, "a_lagn": "double"}
    kernel = _make_kernel(
        spec_k, aggs, [a.name for a in aggs],
        ["k", "ts", "tb", "v", "cat", "flag"], dtypes,
        {"flag": "__omls_cond0"}, {**SRC_TYPES, "a_lagn": "double"})
    # the partition runner's order: key groups contiguous, each sorted
    # by (ord, side, tiebreak); ONE kernel call over the whole batch
    batch = pdf.sort_values(["k", _ORD, _SIDE, "tb"]).reset_index(drop=True)
    starts = np.flatnonzero(batch["k"].ne(batch["k"].shift()).to_numpy())
    got = kernel(batch, starts).sort_values("tb").reset_index(drop=True)

    prim = pdf[pdf[_SIDE] == 1][["k", "ts", "tb", "v", "cat", "flag"]]
    uni = pdf[pdf[_SIDE] == 0][["k", "ts", "tb", "v", "cat", "flag"]]
    exp = oracle_window(
        prim, ["k"], "ts",
        frame=spec_k.frame, start=spec_k.start, end=spec_k.end,
        open_start=spec_k.open_start, maxsize=spec_k.maxsize,
        exclude_current_time=spec_k.exclude_current_time,
        exclude_current_row=spec_k.exclude_current_row,
        union_pdf=uni if len(uni) else None,
        instance_not_in_window=spec_k.instance_not_in_window,
        tiebreak=["tb"], peer=spec_k.peer,
        aggs=oracle_aggs,
    ).sort_values("tb").reset_index(drop=True)

    assert len(got) == len(exp)
    for name in dtypes:
        if name in STR_AGGS:
            gs = ["" if v in (None, "") or (isinstance(v, float)
                  and np.isnan(v)) else str(v) for v in got[name]]
            es = ["" if v in (None, "") or (isinstance(v, float)
                  and np.isnan(v)) else str(v) for v in exp[name]]
            assert gs == es, (name, spec_k, pdf.to_dict("list"), gs, es)
            continue
        g = pd.to_numeric(got[name], errors="coerce").to_numpy(float)
        e = pd.to_numeric(exp[name], errors="coerce").to_numpy(float)
        ok = (np.isnan(g) & np.isnan(e)) | np.isclose(g, e, rtol=1e-9,
                                                      equal_nan=False)
        assert ok.all(), (
            name, spec_k,
            pdf.to_dict("list"),
            got[name].tolist(), exp[name].tolist())


def _batch(n_groups, rows_per_group, seed=0, ts_gap=1):
    """n_groups sorted key groups in one frame, ready for the kernel."""
    rng = np.random.default_rng(seed)
    n = n_groups * rows_per_group
    ts = np.concatenate([np.sort(rng.integers(0, 10 * ts_gap,
                                              rows_per_group))
                         for _ in range(n_groups)])
    pdf = pd.DataFrame({
        "k": np.repeat(np.arange(n_groups), rows_per_group),
        "tb": np.arange(n),
        "v": np.where(rng.random(n) < 0.15, np.nan,
                      rng.integers(0, 4, n).astype(float)),
        "s": rng.choice(np.array(["a,b", "b", None, "c,a,a"], dtype=object),
                        n),
        "r": rng.integers(0, 4, n).astype(float),
        _ORD: ts.astype(np.int64), _SIDE: 1, _EMIT: 1,
    })
    return pdf, np.arange(0, n, rows_per_group)


def _kernel_for(spec, aggs, dtypes):
    return _make_kernel(spec, aggs, [a.name for a in aggs],
                        ["k", "tb", "v", "s", "r"],
                        {"k": "bigint", "tb": "bigint", "v": "double",
                         "s": "string", "r": "double", **dtypes}, {},
                        {a.name: "double" for a in aggs})


def test_partition_runner_calls_kernel_once_per_batch():
    """Groups straddle batches; the kernel runs once per Arrow batch (the
    trailing group of the partition flushes once more), never per group,
    and each call receives complete groups with their start offsets."""
    pdf, _ = _batch(60, 5)
    calls = []

    def kernel(batch, starts):
        calls.append((batch["k"].to_numpy(), starts))
        return batch

    batches = [pdf.iloc[i:i + 37] for i in range(0, len(pdf), 37)]
    out = pd.concat(_partition_runner(kernel, ["k"])(iter(batches)))
    assert len(calls) <= len(batches) + 1 < 60
    assert out["tb"].tolist() == pdf["tb"].tolist()
    seen = set()
    for keys, starts in calls:
        assert (np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
                == starts).all()
        assert not seen & set(keys)          # a group is never split
        seen |= set(keys)


def test_empty_frames_slide_at_most_one_add_per_row(monkeypatch):
    """EXCLUDE CURRENT_ROW leaves every group's first row with an empty
    frame; the sliding multiset must not restart from row 0 of the
    batch there (quadratic in the number of groups)."""
    adds: Counter = Counter()
    orig = wa._SlidingMultiset._add
    monkeypatch.setattr(wa._SlidingMultiset, "_add",
                        lambda self, j, ignore_mask=False:
                        (adds.update([(id(self), j)]),
                         orig(self, j, ignore_mask)))
    pdf, starts = _batch(400, 3)
    spec = WindowSpecFE(["k"], "ts", frame="range", start=5,
                        exclude_current_row=True, tiebreak=("tb",))
    aggs = [Agg("dc", "distinct_count", "v"),
            Agg("cs", "count_split", "s", split_sep=",",
                split_mode="all")]
    _kernel_for(spec, aggs, {"dc": "bigint", "cs": "bigint"})(pdf, starts)
    assert len({state for state, _ in adds}) == len(aggs)
    assert max(adds.values()) == 1       # one add per row per batch


@pytest.mark.parametrize("kw", [
    {"frame": "range", "start": 5, "exclude_current_row": True},
    {"frame": "range", "start": 8, "end": 2, "exclude_current_time": True},
    {"frame": "rows", "start": 3, "maxsize": 2},
    {"frame": "range", "start": 6, "peer": "sql"},
])
def test_loop_aggs_batched_equal_per_group(kw):
    """The per-row sliding loops (median, count_where with an
    equals-current-row condition, split tokens, top) give the same
    answer over one batch of groups as over each group alone."""
    pdf, starts = _batch(40, 6, seed=3)
    spec = WindowSpecFE(["k"], "ts", tiebreak=("tb",), **kw)
    aggs = [Agg("md", "median", "v"),
            Agg("cw", "count_where", "v", cond_l="v", cond_r="r"),
            Agg("cs", "count_split", "s", split_sep=",", split_mode="all"),
            Agg("js", "join_split", "s", split_sep=",", split_mode="all",
                join_sep="|"),
            Agg("tp", "top", "v", n=2), Agg("lg", "lag", "v", n=4)]
    kernel = _kernel_for(spec, aggs, {"md": "double", "cw": "bigint",
                                      "cs": "bigint", "js": "string",
                                      "tp": "string", "lg": "double"})
    got = kernel(pdf, starts)
    ends = np.append(starts[1:], len(pdf))
    exp = pd.concat([kernel(pdf.iloc[a:b].reset_index(drop=True),
                            np.zeros(1, dtype=np.int64))
                     for a, b in zip(starts, ends)], ignore_index=True)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp)


def test_composite_key_overflow_splits_the_batch():
    """Groups whose shifted order keys would overflow int64 are split
    into smaller kernel calls instead of wrapping around."""
    pdf, starts = _batch(4, 3)
    big = np.array([-2**62, 0, 2**62 - 1] * 4, dtype=np.int64)
    pdf[_ORD] = big
    spec = WindowSpecFE(["k"], "ts", frame="range", start=2**61,
                        tiebreak=("tb",))
    aggs = [Agg("c", "count", "tb"), Agg("lg", "lag", "v", n=1)]
    kernel = _kernel_for(spec, aggs, {"c": "bigint", "lg": "double"})
    got = kernel(pdf, starts)
    exp = pd.concat([kernel(pdf.iloc[a:a + 3].reset_index(drop=True),
                            np.zeros(1, dtype=np.int64))
                     for a in starts], ignore_index=True)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp)
    assert got["c"].tolist() == [1, 1, 1] * 4
