"""Windowed aggregation — OpenMLDB ROWS / ROWS_RANGE frames, Spark-first.

Reference semantics: per-row backward-looking sliding window over
(PARTITION BY key, ORDER BY ts) with the OpenMLDB extensions
(hybridse/include/vm/mem_catalog.h:243-560 ``HistoryWindow``;
docs/en/reference/sql/dql/WINDOW_CLAUSE.md):

- ``ROWS BETWEEN s PRECEDING AND e PRECEDING|CURRENT ROW``
- ``ROWS_RANGE BETWEEN S [OPEN] PRECEDING AND E PRECEDING|CURRENT ROW``
  (time offsets, computed on int64 milliseconds — SURVEY.md §1.2)
- ``MAXSIZE k`` — cap frame to the k newest rows after range filtering
  (mem_catalog.h:468-480)
- ``EXCLUDE CURRENT_TIME`` — drop other rows with ts == current ts, keep
  the current row itself (mem_catalog.h:487-533)
- ``EXCLUDE CURRENT_ROW`` — drop the current row from its own frame
- ``WINDOW ... UNION tables`` — frame contents include rows from union
  tables; only primary-table rows are emitted; at equal ts the primary
  row sorts *after* union rows so they are visible to it
  (WindowAggPlan.scala:78-84, TestWindowUnionWithSameTimestamp)
- ``INSTANCE_NOT_IN_WINDOW`` — primary rows are never buffered: the frame
  is the current row + union rows only
- rows with NULL order key are dropped (WindowAggPlan.isValidOrder,
  WindowAggPlan.scala:784-791)

Execution strategy (mirrors the reference's repartition→sortWithinPartitions
→stateful-iterator shape, WindowAggPlan.scala:320-341, but Spark-first):

- **native**: when the frame is expressible as a Spark ``Window`` (no
  maxsize / excludes / instance_not_in_window and SQL peer semantics),
  every agg compiles to a Catalyst expression over
  ``Window.partitionBy(keys).orderBy(ts_ms).rowsBetween/rangeBetween`` —
  whole-stage-codegen'd, zero Python.
- **kernel**: otherwise, one ``mapInPandas`` stage over a hash
  repartition by (key[, salt]) that AQE sizes. The kernel runs once per
  Arrow batch over every complete key group in it (a *segment* per
  group) and is vectorized over the whole batch: frame bounds for all
  rows come from ``np.searchsorted`` on a composite (group, ord) int64
  key, so no bound crosses a group; sum/count/avg/min/max(_where) read
  batch-wide prefix-sum / sparse-table structures (O(n log n) per batch,
  no per-row Python for the numeric aggs).

Peer visibility at duplicate ts: OpenMLDB's buffer holds only
already-iterated rows, so a row does not see later-sorted rows with the
same ts ("stream" semantics). SQL-standard RANGE frames include all ts
peers ("sql" semantics — what Spark/DuckDB windows do natively). The
kernel supports both via ``peer`` ; the native path is "sql" only.

Skew: ``SkewConfig`` enables two-level salting with history replication,
the algorithm of the reference's window skew optimization
(java/openmldb-batch/.../utils/SkewDataFrameUtils.scala:26-143, configs
OpenmldbBatchConfig.scala:50-71): per-key quantiles of the order key →
part-id tagging via broadcast join → replicate rows into later parts with
emit suppressed → repartition by (key, part).
"""

from __future__ import annotations

import datetime

from dataclasses import dataclass, field
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ORD = "__omls_ord"      # int64 order key (ms for timestamps)
_SIDE = "__omls_side"    # 1 = primary; union table i = -i (later
                         # union tables sort FIRST at equal ts and the
                         # primary row LAST — test_window_union.yaml#19
                         # golden: lag order over multi-table unions)
_EMIT = "__omls_emit"    # 1 = row is emitted (not a salt replica)
_PART = "__omls_part"    # salt part id


# ---------------------------------------------------------------------------
# spec dataclasses


@dataclass
class Agg:
    """One aggregate over the window frame.

    fn ∈ {count, sum, avg, min, max, sum_where, count_where, avg_where,
          min_where, max_where, distinct_count, first_value, lag,
          top, topn_frequency, top1_ratio,
          count_cate, sum_cate, avg_cate, min_cate, max_cate}

    ``first_value`` follows OpenMLDB: the *newest* row of the frame
    (docs udfs_8h.md), not SQL FIRST_VALUE. ``lag(n)`` is the n-th newest
    BUFFERED row — it ignores the frame bounds but respects buffer
    visibility (union rows included; EXCLUDE CURRENT_TIME and
    INSTANCE_NOT_IN_WINDOW applied), matching the reference
    (default_defs/window_functions_def.cc:96; goldens
    window_attributes.yaml#9, test_window_union.yaml#19).
    """
    name: str
    fn: str
    col: str | None = None
    cond: str | None = None      # SQL boolean expr for *_where
    n: int | None = None         # lag offset / top-k / topn
    cate: str | None = None      # category column for *_cate
    # FeatureZero window-split composition (fz_window_split* consumed by
    # an outer aggregate — default_defs/feature_zero_def.cc): each frame
    # row contributes its SPLIT TOKENS instead of one value
    split_sep: str | None = None     # element delimiter
    split_kv: str | None = None      # kv delimiter (by_key / by_value)
    split_mode: str | None = None    # None | "all" | "key" | "value"
    join_sep: str | None = None      # fz_join output separator
    # per-row top-n count: a column whose CURRENT-ROW value is the n
    # bound (the reference's top_n_* n argument is an ordinary update
    # arg, so a column/expression is accepted —
    # hybridsql_gen_cases/auto_gen_case_0.yaml passes c_2_int32);
    # NULL n -> NULL output, n < 1 -> empty map (bound keeps nothing)
    n_col: str | None = None
    # equals-current-row condition (count_where(v, L = R) where R is an
    # aggregate bound at the CURRENT output row — test_udaf_function
    # #47/#48 goldens): per-row columns; the kernel counts frame rows
    # with L[j] == R[i] via a sliding counter
    cond_l: str | None = None
    cond_r: str | None = None


@dataclass
class WindowSpecFE:
    partition_by: Sequence[str]
    order_by: str
    frame: str = "range"              # "rows" | "range"
    start: int = 0                    # s/S PRECEDING (rows or ms)
    end: int = 0                      # 0 = CURRENT ROW; >0 = e PRECEDING
    open_start: bool = False          # OPEN start bound (exclusive)
    maxsize: int | None = None
    exclude_current_time: bool = False
    exclude_current_row: bool = False
    union_dfs: Sequence[DataFrame] = field(default_factory=tuple)
    instance_not_in_window: bool = False
    tiebreak: Sequence[str] = field(default_factory=tuple)
    peer: str = "stream"              # "stream" (OpenMLDB) | "sql"

    def needs_kernel(self) -> bool:
        if self.maxsize is not None or self.exclude_current_time \
           or self.exclude_current_row or self.instance_not_in_window:
            return True
        if self.peer == "stream" and self.frame == "range":
            return True
        return False


@dataclass
class SkewConfig:
    """Salting config (reference openmldb.window.skew.opt)."""
    parts: int = 4            # salt fan-out for hot keys
    min_rows: int = 100_000   # keys with fewer rows are not salted


# ---------------------------------------------------------------------------
# helpers


from openmldb_spark.functions.timeutil import to_ms as _ord_ms_col


def _ord_ms(df: DataFrame, col: str) -> Column:
    return _ord_ms_col(df, col)


_WIDEN = {
    T.ShortType: T.LongType, T.IntegerType: T.LongType, T.LongType: T.LongType,
    T.FloatType: T.DoubleType, T.DoubleType: T.DoubleType,
}


def _agg_out_type(a: Agg, in_schema: T.StructType) -> T.DataType:
    if a.fn in ("count", "count_where", "distinct_count",
                "count_split", "distinct_count_split"):
        return T.LongType()
    if a.fn in ("avg", "avg_where", "median", "top1_ratio",
                "top1_ratio_split"):
        # median returns Nullable<double> for every numeric input
        # (reference MedianDef, default_udf_library.cc:316-378)
        return T.DoubleType()
    if a.fn in ("top", "topn_frequency", "count_cate", "sum_cate",
                "avg_cate", "min_cate", "max_cate", "join_split",
                "topn_frequency_split") or a.fn.startswith("top_n_"):
        return T.StringType()
    src = in_schema[a.col].dataType
    if a.fn in ("sum", "sum_where"):
        # sum(timestamp) keeps TIMESTAMP in the reference (epoch-ms
        # arithmetic — window_query.yaml#9 golden)
        if isinstance(src, (T.TimestampType, T.TimestampNTZType)):
            return src
        return _WIDEN.get(type(src), T.DoubleType)()
    return src  # min/max/first_value/lag keep input type


# ---------------------------------------------------------------------------
# native path


def _null_default(dtype: str):
    """Zeroed-memory default a NULL input presents to non-Nullable UDAF
    update fns (reference codegen passes the raw value slot; see
    DistinctCountDef). None = no representable zero literal."""
    if dtype == "boolean":
        return False
    if dtype in ("smallint", "int", "bigint"):
        return 0
    if dtype in ("float", "double"):
        return 0.0
    if dtype == "string":
        return ""
    return None


def _native_expr(a: Agg, w, w_unb, dtypes: dict[str, str] | None = None) -> Column:
    c = F.col(a.col) if a.col else None
    cond = F.expr(a.cond) if a.cond else None
    guarded = F.when(cond, c) if cond is not None else c
    is_ts = bool(a.col) and (dtypes or {}).get(
        a.col, "").startswith("timestamp")
    if a.fn == "count":
        e = F.count(F.lit(1)) if a.col in (None, "*") else F.count(c)
    elif a.fn == "count_where" and a.col in (None, "*"):
        # count_where(*, cond) counts ROWS satisfying cond (CountWhereDef
        # with the row as elem — never null; test_udaf_function.yaml#17 m11)
        e = F.count(F.when(cond, F.lit(1)))
    elif a.fn == "sum":
        # sum(timestamp) is epoch-ms arithmetic keeping TIMESTAMP
        # (reference SumWhereDef casts kTimestamp to int64,
        # default_udf_library.cc:398; golden test_udaf_function.yaml#7);
        # Spark's implicit cast would sum SECONDS as double
        if is_ts:
            return F.timestamp_millis(F.sum(F.unix_millis(c)).over(w))
        e = F.sum(c)
    elif a.fn == "avg":
        e = F.avg(c)
    elif a.fn == "median":
        # F.median rejects window frames; exact percentile doesn't.
        # Same semantics: nulls skipped, even count -> mean of the two
        # middle values (reference MedianDef::Output).
        e = F.percentile(c.cast("double"), F.lit(0.5))
    elif a.fn == "min":
        e = F.min(c)
    elif a.fn == "max":
        e = F.max(c)
    elif a.fn == "count_where":
        e = F.count(guarded)
    elif a.fn == "sum_where":
        e = F.sum(guarded)
    elif a.fn == "avg_where":
        e = F.avg(guarded)
    elif a.fn == "min_where":
        e = F.min(guarded)
    elif a.fn == "max_where":
        e = F.max(guarded)
    elif a.fn == "distinct_count":
        # NULL rows insert the TYPE'S ZEROED DEFAULT into the set — the
        # reference's update_set arg is not Nullable-wrapped, so a null
        # elem arrives as zero-initialized memory (DistinctCountDef,
        # default_udf_library.cc:276-312). Goldens pin this:
        # test_udaf_function.yaml#5 {4,4,null}->2 and #6 bool
        # {false,true,null}->2 (null collides with false).
        dflt = _null_default((dtypes or {}).get(a.col, ""))
        if dflt is not None:
            return F.size(
                F.collect_set(F.coalesce(c, F.lit(dflt))).over(w)
            ).cast("long")
        # no zero literal for this type (date/timestamp): NULL as its
        # own bucket — same count unless real epoch-zero values coexist
        return (F.size(F.collect_set(c).over(w))
                + F.coalesce(
                    F.max(F.when(c.isNull(), 1).otherwise(0)).over(w),
                    F.lit(0))).cast("long")
    elif a.fn == "first_value":
        # OpenMLDB first_value = newest row of the frame
        return F.last(c, ignorenulls=False).over(w)
    elif a.fn == "lag":
        # lag(c, 0) is the CURRENT row's value (golden
        # test_udaf_function.yaml#46/#59); `or 1` would coerce 0 to 1
        return F.lag(c, a.n if a.n is not None else 1).over(w_unb)
    elif a.fn == "lead":
        # FORWARD-looking by design — label construction only (the
        # next turn's value as a training target), never a feature
        # input: the engine's temporal-leakage guarantee applies to
        # feature columns, and lead is the one op that deliberately
        # reads the future. Beyond the reference surface (OpenMLDB has
        # lag/at only); positional over the partition ordering, so it
        # ignores the frame, like Spark's own lead.
        return F.lead(c, a.n if a.n is not None else 1).over(w_unb)
    elif a.fn == "top":
        # value rendering follows v1::format_string (udf.cc:1267-1274:
        # float/double %f, integrals plain) so the native and kernel
        # paths emit identical strings for the same logical query
        vals = F.slice(
            F.sort_array(F.collect_list(c).over(w), asc=False),
            1, a.n if a.n is not None else 1)
        if (dtypes or {}).get(a.col, "") in ("float", "double"):
            vals = F.transform(vals, lambda x: F.format_string("%f", x))
        return F.concat_ws(",", vals)
    else:
        raise ValueError(f"agg fn {a.fn!r} not available on the native path")
    return e.over(w)


_NATIVE_FNS = {"count", "sum", "avg", "median", "min", "max",
               "count_where", "sum_where", "avg_where", "min_where",
               "max_where", "distinct_count", "first_value", "lag",
               "lead", "top"}
_SPLIT_FNS = {"distinct_count_split", "count_split", "join_split",
              "top1_ratio_split", "topn_frequency_split"}
_CATE_BASES = ("count", "sum", "avg", "min", "max")
_TOPN_CATE_FNS = {f"top_n_{kind}_{b}_cate"
                  for kind in ("key", "value") for b in _CATE_BASES}
_ALL_FNS = _NATIVE_FNS | {"topn_frequency", "top1_ratio", "count_cate",
                          "sum_cate", "avg_cate", "min_cate",
                          "max_cate"} | _TOPN_CATE_FNS | _SPLIT_FNS


# ---------------------------------------------------------------------------
# kernel path (vectorized frame computation)


def _sparse_table(vals: np.ndarray, op) -> list[np.ndarray]:
    """O(n log n) sparse table for range-min/max with NaN-ignore ops."""
    tabs = [vals]
    k = 1
    while (1 << k) <= len(vals):
        prev = tabs[-1]
        half = 1 << (k - 1)
        tabs.append(op(prev[:-half], prev[half:]))
        k += 1
    return tabs


def _range_q(tabs, lo: np.ndarray, hi: np.ndarray, op) -> np.ndarray:
    """Query [lo, hi] inclusive; empty (hi<lo) → NaN."""
    out = np.full(len(lo), np.nan)
    n = hi - lo + 1
    ok = n > 0
    if not ok.any():
        return out
    k = np.zeros(len(lo), dtype=np.int64)
    k[ok] = np.floor(np.log2(n[ok])).astype(np.int64)
    for kk in np.unique(k[ok]):
        m = ok & (k == kk)
        t = tabs[kk]
        a = t[lo[m]]
        b = t[hi[m] - (1 << kk) + 1]
        out[m] = op(a, b)
    return out


def _tokenize(vals, sep: str, kv: str | None, mode: str):
    """Per-row FeatureZero split tokens (feature_zero_def.cc semantics,
    pinned by test_feature_zero_function.yaml#1): NULL -> no tokens;
    empty tokens kept in "all" mode; by_key/by_value keep only elements
    containing the kv delimiter (key = piece before the FIRST kv, value
    = the SECOND kv-piece)."""
    out = np.empty(len(vals), dtype=object)
    for j, v in enumerate(vals):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            out[j] = []
            continue
        parts = str(v).split(sep)
        if mode == "key":
            out[j] = [p.split(kv)[0] for p in parts if kv in p]
        elif mode == "value":
            out[j] = [p.split(kv)[1] for p in parts if kv in p]
        else:
            out[j] = parts
    return out


def _fz_fmt_for(src_type: str | None):
    """FeatureZero key/output formatting (feature_zero_def.cc, pinned by
    test_feature_zero_function.yaml#4): NULL -> "NULL", integral types
    plain, floating types %.6f, strings as-is."""
    is_float = bool(src_type) and src_type in ("float", "double")
    is_int = bool(src_type) and src_type in ("smallint", "int", "bigint")

    def fmt(v):
        if v is None or v != v:      # NaN-safe for float32/64/NaT
            return "NULL"
        if is_float:
            return f"{float(v):.6f}"
        if is_int:
            return str(int(v))
        if isinstance(v, (np.floating, float)):
            return f"{float(v):.6f}"
        if isinstance(v, (np.integer, int)):
            return str(int(v))
        return str(v)
    return fmt


def _fmt_num(v) -> str:
    if v is None:
        return "null"
    f = float(v)
    if f == int(f) and abs(f) < 1e15:
        return str(int(f))
    return format(f, "g")


def _cate_fmt_for(src_type: str | None):
    """``k:v`` piece formatting for the *_cate / top_n_*_cate families by
    DECLARED type — reference v1::format_string (containers.h:242-246;
    golden test_udaf_function.yaml#20: float/double render %f with 6
    decimals, integrals plain, timestamps as '%Y-%m-%d %H:%M:%S' at the
    hardcoded UTC+8 display offset udf.cc:108, dates ISO, bools
    true/false)."""
    t = src_type or ""
    if t in ("float", "double"):
        return lambda v: f"{float(v):.6f}"
    if t in ("smallint", "int", "bigint"):
        return lambda v: str(int(v))
    if t.startswith("timestamp"):
        return lambda v: datetime.datetime.utcfromtimestamp(
            (int(v) + 28_800_000) / 1000.0).strftime("%Y-%m-%d %H:%M:%S")
    if t == "boolean":
        return lambda v: "true" if v else "false"
    return str                     # string / date (ISO via date.__str__)


def _make_kernel(spec: WindowSpecFE, aggs: list[Agg], out_cols: list[str],
                 passthrough: list[str], dtypes: dict[str, str],
                 cond_cols: dict[str, str],
                 src_types: dict[str, str] | None = None):
    """Build the segment kernel ``kernel(pdf, starts)``. ``pdf`` holds one
    or more complete key groups, each contiguous and ordered by
    ``(_ORD, _SIDE, *tiebreak)`` (the partition runner's
    ``sortWithinPartitions`` key); ``starts`` are the groups' first-row
    offsets. One call computes every group's frames: searchsorted bounds
    run on a composite (group, ord) key, ROWS slots / maxsize / lag are
    floored at the row's group start, and the prefix sums, sparse tables
    and sliding states stay batch-wide because their bounds remain
    monotone across groups. Everything the kernel needs is captured by
    value (plain python objects) — no Spark objects."""
    frame = spec.frame
    start, end = int(spec.start), int(spec.end)
    open_start = spec.open_start
    maxsize = spec.maxsize
    ex_time = spec.exclude_current_time
    ex_row = spec.exclude_current_row
    inst_not = spec.instance_not_in_window
    peer_sql = spec.peer == "sql"
    has_union = inst_not  # mask to union rows only when instance_not_in_window
    agg_specs = [(a.name, a.fn, a.col, a.cond, a.n, a.cate, a.n_col,
                  a.cond_l, a.cond_r)
                 for a in aggs]
    split_params = {a.name: (a.split_sep, a.split_kv, a.split_mode,
                             a.join_sep)
                    for a in aggs if a.fn in _SPLIT_FNS}
    src_types = src_types or {}

    def kernel(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        m = len(pdf)
        ts = pdf[_ORD].to_numpy(np.int64)
        side = pdf[_SIDE].to_numpy(np.int64)
        emit = pdf[_EMIT].to_numpy(np.int64) == 1
        idx = np.arange(m)
        # segments: g0 = each row's group start. The search key shifts
        # every group's ords onto its own disjoint int64 range; a batch
        # whose shifted keys would overflow int64 is split, not wrapped
        cnt = np.diff(starts, append=m)
        g0 = np.repeat(starts, cnt)
        first, last = ts[starts], ts[starts + cnt - 1]
        if len(starts) > 1 and (last.astype(float) - first).sum() >= 2.0**62:
            h = starts[len(starts) // 2]
            return pd.concat([kernel(pdf.iloc[:h], starts[starts < h]),
                              kernel(pdf.iloc[h:], starts[starts >= h] - h)],
                             ignore_index=True)
        width = last - first + 1
        key = ts if len(starts) == 1 else \
            ts - ts[g0] + np.repeat(np.cumsum(width) - width, cnt)

        # ---- base frame bounds [lo, hi] (inclusive, indices into the batch)
        if frame == "rows":
            # ROWS frames count slots over the BUFFERED rows only
            # (reference: HistoryWindow buffers exclude same-current-time
            # rows under EXCLUDE CURRENT_TIME, and primary rows under
            # INSTANCE_NOT_IN_WINDOW — golden cases
            # test_window_exclude_current_time.yaml#3,
            # test_window_union.yaml#13). Slot bounds are resolved below,
            # after the visibility mask/cumsum exist; here only the hard
            # position bounds apply.
            lo = g0
            hi = idx.copy()
        else:
            lo = np.maximum(g0, np.searchsorted(
                key, key - start, side="right" if open_start else "left"))
            hi = np.searchsorted(key, key - end, side="right") - 1
        if end == 0 and not peer_sql:
            hi = np.minimum(hi, idx)          # stream peers: only seen rows
        # frame decomposition: contiguous [lo, chi] + optional self row
        first_peer = np.searchsorted(key, key, side="left") if ex_time \
            else None
        if ex_time and end == 0:
            chi = np.minimum(hi, first_peer - 1)
            self_in = not ex_row
        elif ex_row and end == 0:
            chi = np.minimum(hi, idx - 1)
            self_in = False
        else:
            chi = hi.copy()
            if ex_time:
                # end > 0: same-current-time rows never enter the buffer
                # (BufferCurrentTimeBuffer holds them out while ts equals
                # the current ts), so e PRECEDING counts over strictly
                # earlier-ts rows only — matches tests/oracle.py for any
                # end (ADVICE r1 #2)
                chi = np.minimum(chi, first_peer - 1)
            self_in = False  # self is inside [lo, chi] when end==0
        # when self is carved out separately, remove it from contiguous part
        sep_self = (ex_time or ex_row) and end == 0

        mask = (side != 1) if has_union else np.ones(m, dtype=bool)
        if has_union:
            # contiguous part counts only union rows; self handled separately
            if not sep_self:
                # carve self out anyway so primary self can be added back
                chi = np.minimum(chi, idx - 1) if not peer_sql else chi
                sep_self2 = True
                self_in2 = (end == 0) and not ex_row
            else:
                sep_self2, self_in2 = True, self_in
        else:
            sep_self2 = sep_self
            self_in2 = self_in if sep_self else False

        cmask = mask.astype(np.int64)
        cum = np.concatenate([[0], np.cumsum(cmask)])  # masked row counts

        # ---- ROWS frames: slot bounds over visible rows only
        if frame == "rows":
            n_open = 1 if open_start else 0
            c_vis = cum[np.maximum(chi + 1, 0)]
            if end == 0:
                # n_prec preceding slots; self occupies one only while it
                # sits inside the contiguous segment
                budget = (start - n_open) + (0 if sep_self2 else 1)
                target = np.maximum(c_vis - max(budget, 0), 0)
                lo = np.maximum(lo, np.searchsorted(cum, target,
                                                    side="left"))
            else:
                # BETWEEN a PRECEDING AND b PRECEDING: drop the newest
                # b-1 visible PRECEDING rows, plus self iff it is part of
                # the visible prefix (it is masked out under union
                # semantics and carved out by sep-self handling)
                self_vis = (cmask[idx] == 1) & (chi >= idx)
                drop = (end - 1) + self_vis.astype(np.int64)
                chi = np.minimum(chi, np.searchsorted(
                    cum, np.maximum(c_vis - drop, 0),
                    side="left") - 1)
                c2 = cum[np.maximum(chi + 1, 0)]
                width = start - end + 1 - n_open
                lo = np.maximum(lo, np.searchsorted(
                    cum, np.maximum(c2 - max(width, 0), 0), side="left"))

        # ---- maxsize: keep the newest k frame rows (self counts toward k)
        if maxsize is not None:
            budget = maxsize - (1 if (sep_self2 and self_in2) else 0)
            budget = max(budget, 0)
            # smallest j with masked_count(j..chi) <= budget
            target = cum[np.maximum(chi + 1, 0)] - budget
            lo = np.maximum(lo, np.searchsorted(cum, target, side="left"))

        empty = chi < lo

        # ---- prefix structures per referenced column
        cols_needed = {c for (_, fn, c, *_r) in agg_specs if c} | \
                      {s[5] for s in agg_specs if s[5]} | \
                      {s[6] for s in agg_specs if s[6]} | \
                      {s[7] for s in agg_specs if s[7]} | \
                      {s[8] for s in agg_specs if s[8]}
        tok_cache: dict = {}
        arr: dict[str, np.ndarray] = {}
        for c in cols_needed:
            s = pdf[c]
            if np.issubdtype(s.dtype, np.datetime64):
                # timestamps compute as int64 epoch-ms (SURVEY.md §1.2)
                na = s.isna().to_numpy()
                v = s.values.astype("datetime64[ms]").astype(np.int64) \
                    .astype(np.float64)
                v[na] = np.nan
                arr[c] = v
            else:
                arr[c] = s.to_numpy()

        # cond masks were evaluated Spark-side (full SQL semantics) into
        # __omls_cond* boolean columns — never pandas.eval'd
        cond_mask: dict[str, np.ndarray] = {
            cd: pdf[cn].fillna(False).to_numpy(bool)
            for cd, cn in cond_cols.items()}

        def prefix_sum(vals, extra=None):
            v = pd.to_numeric(pd.Series(vals), errors="coerce").to_numpy(np.float64)
            okn = ~np.isnan(v)               # self-eligibility (no side mask)
            if extra is not None:
                okn = okn & extra
            ok = okn & mask                  # buffer visibility
            s = np.where(ok, v, 0.0)
            return (np.concatenate([[0.0], np.cumsum(s)]),
                    np.concatenate([[0], np.cumsum(ok.astype(np.int64))]), v, okn)

        def rng_sum(ps, lo_, hi_):
            return ps[np.maximum(hi_ + 1, 0)] - ps[np.minimum(lo_, len(ps) - 1)]

        out: dict[str, np.ndarray | list] = {}
        self_add = sep_self2 and self_in2

        for (name, fn, col, cond, nn, cate, n_col,
             cond_l, cond_r) in agg_specs:
            extra = cond_mask.get(cond) if cond else None
            if fn == "count_where" and cond_l:
                # equals-current-row condition: count frame rows j with
                # L[j] == R[i] (R bound at the current output row).
                # Sliding counter over the monotone [lo, chi] bounds —
                # O(rows + slides); non-monotone steps rebuild.
                Lv = np.asarray(arr[cond_l], dtype=object)
                Rv = np.asarray(arr[cond_r], dtype=object)
                if col in (None, "*"):
                    okn = np.ones(m, dtype=bool)
                else:
                    okn = pd.Series(arr[col]).notna().to_numpy()
                if extra is not None:
                    okn = okn & extra
                ok = okn & mask & pd.Series(Lv).notna().to_numpy()
                res = np.zeros(m, dtype=np.int64)
                cnt: dict = {}
                cl, ch_ = 0, -1
                for i in range(m):
                    if not emit[i]:
                        continue
                    # empty frame -> (l, l - 1): relative to the row,
                    # so the slide never restarts at row 0 of the batch
                    l = int(lo[i])
                    h = max(int(chi[i]), l - 1)
                    if l < cl or h < ch_ or l > ch_:   # rebuild
                        cnt, cl, ch_ = {}, l, l - 1
                    while ch_ < h:
                        ch_ += 1
                        if ok[ch_]:
                            k = Lv[ch_]
                            cnt[k] = cnt.get(k, 0) + 1
                    while cl < l:
                        if ok[cl]:
                            k = Lv[cl]
                            c0 = cnt[k] - 1
                            if c0:
                                cnt[k] = c0
                            else:
                                del cnt[k]
                        cl += 1
                    r = Rv[i]
                    if r is None or (isinstance(r, float) and np.isnan(r)):
                        res[i] = 0
                        continue
                    c0 = cnt.get(r, 0)
                    if self_add and okn[i] and Lv[i] is not None \
                            and Lv[i] == r:
                        c0 += 1
                    res[i] = c0
                out[name] = res
                continue
            if fn in _SPLIT_FNS:
                sep, kv, mode, jsep = split_params[name]
                tkey = (col, sep, kv, mode)
                if tkey not in tok_cache:
                    tok_cache[tkey] = _tokenize(arr[col], sep, kv, mode)
                toks = tok_cache[tkey]
                if fn == "join_split":
                    # ordered concat, NEWEST row first, each row's tokens
                    # in order; token-less rows contribute nothing
                    # (golden: split_and_join). O(frame) per row — used
                    # for golden parity; the groupBy-level API
                    # (aggregates.window_split_agg) is the scale path.
                    row_str = [(jsep.join(t) if t else None) for t in toks]
                    res_l = [None] * m
                    for i in range(m):
                        if not emit[i]:
                            continue
                        parts = []
                        if self_add and row_str[i] is not None:
                            parts.append(row_str[i])
                        j0, j1 = int(lo[i]), int(chi[i])
                        for j in range(j1, j0 - 1, -1):
                            if has_union and not mask[j]:
                                continue
                            if row_str[j] is not None:
                                parts.append(row_str[j])
                        res_l[i] = jsep.join(parts) if parts else ""
                    out[name] = res_l
                    continue
                state = _SlidingMultiset(fn, None, None, None,
                                         mask if has_union else None, nn,
                                         tokens=toks)
                res_l = [None] * m
                for i in range(m):
                    if not emit[i]:
                        continue
                    l = int(lo[i])
                    h = max(int(chi[i]), l - 1)  # empty: (l, l - 1)
                    state.slide(l, h)
                    res_l[i] = state.result(i if self_add else None)
                out[name] = res_l
                continue
            if fn == "lag":
                # lag(n) = value of the n-th NEWEST row in the window
                # BUFFER (default_defs/window_functions_def.cc:96): union
                # rows are buffered, EXCLUDE CURRENT_TIME drops same-
                # current-ts rows, INSTANCE_NOT_IN_WINDOW drops primary
                # rows — NOT a plain partition shift (goldens
                # window_attributes.yaml#9, test_window_union.yaml#19)
                nn_ = 1 if nn is None else nn
                if nn_ == 0:      # at(col, 0) = the current row's value
                    out[name] = np.asarray(arr[col], dtype=object)
                    continue
                upper = (first_peer - 1) if ex_time else (idx - 1)
                pos = cum[upper + 1] - nn_       # buffered-row rank
                valid = pos >= cum[g0]           # ... inside the group
                src = np.zeros(m, dtype=np.int64)
                src[valid] = np.flatnonzero(mask)[pos[valid]]
                vraw = np.asarray(arr[col], dtype=object)
                out[name] = np.where(valid, vraw[src], None)
                continue
            if fn == "first_value":
                # newest frame row: self when included, else the newest
                # VISIBLE row in [lo, chi] — under INSTANCE_NOT_IN_WINDOW
                # chi can point at a masked-out primary row, so walk back
                # to the last mask-true index (ADVICE r1 #3)
                v = np.asarray(arr[col], dtype=object)
                if self_add:
                    out[name] = v
                else:
                    last_vis = np.maximum.accumulate(
                        np.where(mask, idx, -1))
                    nv = last_vis[np.clip(chi, 0, m - 1)]
                    valid = (~empty) & (nv >= lo)
                    res = np.where(valid, v[np.clip(nv, 0, m - 1)], None)
                    out[name] = np.asarray(res, dtype=object)
                continue
            if fn in ("count", "count_where"):
                ps, pc, v, ok = (None, None, None, None)
                if col in (None, "*"):
                    okn = np.ones(m, dtype=bool) if extra is None else extra.copy()
                    okm = okn & mask
                    pc = np.concatenate([[0], np.cumsum(okm.astype(np.int64))])
                    selfok = okn
                else:
                    # count() is type-agnostic: non-null check on the raw
                    # values (numeric coercion would drop non-numeric
                    # strings — udaf_query.yaml#1 golden)
                    okn = pd.Series(arr[col]).notna().to_numpy()
                    if extra is not None:
                        okn = okn & extra
                    okm = okn & mask
                    pc = np.concatenate(
                        [[0], np.cumsum(okm.astype(np.int64))])
                    selfok = okn
                res = rng_sum(pc, lo, chi).astype(np.int64)
                res[empty] = 0
                if self_add:
                    res = res + selfok.astype(np.int64)
                out[name] = res
                continue
            if fn in ("sum", "sum_where", "avg", "avg_where"):
                ps, pc, v, ok = prefix_sum(arr[col], extra)
                s = rng_sum(ps, lo, chi)
                c_ = rng_sum(pc, lo, chi).astype(np.float64)
                s[empty] = 0.0
                c_[empty] = 0.0
                if self_add:
                    s = s + np.where(ok, v, 0.0)
                    c_ = c_ + np.where(ok, 1.0, 0.0)
                if fn.startswith("sum"):
                    res = np.where(c_ > 0, s, np.nan)
                else:
                    with np.errstate(invalid="ignore", divide="ignore"):
                        res = np.where(c_ > 0, s / c_, np.nan)
                out[name] = res
                continue
            if fn == "median":
                # sliding median over the visible frame: a bisect-sorted
                # buffer slid along the monotone [lo, chi] bounds —
                # O(n·log frame) comparisons + C-level memmove per
                # insert/evict, amortized O(frame) worst case. Nulls
                # skipped; even count -> mean of the two middle values;
                # empty frame -> NULL (reference MedianDef,
                # default_udf_library.cc:316-378).
                from bisect import bisect_left, insort
                v = pd.to_numeric(pd.Series(arr[col]),
                                  errors="coerce").to_numpy(np.float64)
                okn = ~np.isnan(v)
                if extra is not None:
                    okn = okn & extra
                ok = okn & mask
                res = np.full(m, np.nan)
                buf: list = []
                cl, ch_ = 0, -1
                for i in range(m):
                    if not emit[i]:
                        continue
                    l = int(lo[i])
                    h = max(int(chi[i]), l - 1)  # empty: (l, l - 1)
                    if l < cl or h < ch_ or l > ch_:   # rebuild
                        buf, cl, ch_ = [], l, l - 1
                    while ch_ < h:
                        ch_ += 1
                        if ok[ch_]:
                            insort(buf, v[ch_])
                    while cl < l:
                        if ok[cl]:
                            buf.pop(bisect_left(buf, v[cl]))
                        cl += 1
                    use_self = self_add and okn[i]
                    if use_self:
                        insort(buf, v[i])
                    n_ = len(buf)
                    if n_:
                        res[i] = buf[n_ // 2] if n_ % 2 else \
                            (buf[n_ // 2 - 1] + buf[n_ // 2]) / 2.0
                    if use_self:
                        buf.pop(bisect_left(buf, v[i]))
                out[name] = res
                continue
            if fn in ("min", "max", "min_where", "max_where"):
                v_raw = pd.Series(arr[col])
                num = pd.to_numeric(v_raw, errors="coerce")
                decode = None
                # ordinal (lexicographic) comparison is selected by the
                # DECLARED column type, not by coercion success: a
                # STRING column whose values all parse numerically
                # ('9','10') still compares lexically in the reference
                # (min='10', type stays string) — ADVICE r2 #4
                declared = src_types.get(name, "")
                if declared in ("string", "date") \
                        or (num.isna() & v_raw.notna()).any():
                    # non-numeric orderable values (dates / strings /
                    # timestamps): ordinal-encode against the sorted
                    # distinct set, min/max on codes, decode after
                    # (window_query.yaml#10 golden: min/max of DATE)
                    uniq = sorted(v_raw.dropna().unique())
                    code = {u: float(i) for i, u in enumerate(uniq)}
                    v = v_raw.map(code).to_numpy(np.float64)
                    decode = uniq
                else:
                    v = num.to_numpy(np.float64)
                okn = ~np.isnan(v)
                if extra is not None:
                    okn = okn & extra
                ok = okn & mask
                vv = np.where(ok, v, np.nan)
                op = np.fmin if fn.startswith("min") else np.fmax
                tabs = _sparse_table(vv, op)
                res = _range_q(tabs, lo, np.where(empty, lo - 1, chi), op)
                if self_add:
                    res = op(res, np.where(okn, v, np.nan))
                if decode is not None:
                    res = np.array(
                        [decode[int(x)] if not np.isnan(x) else None
                         for x in res], dtype=object)
                out[name] = res
                continue
            # multiset family: sliding add/evict counters over the
            # monotone [lo, chi] bounds — O(rows + slides) with
            # O(distinct) per-row finalization, replacing the previous
            # O(rows x frame) per-row rebuild. Bounds are monotone for
            # emitted rows (searchsorted / cumsum of monotone inputs); a
            # non-monotone step triggers a state rebuild (correct,
            # merely slower).
            vals = arr[col] if col else None
            cvals = arr[cate] if cate else None
            vobj = pd.Series(vals) if vals is not None else None
            notna = vobj.notna().to_numpy() if vobj is not None else None
            state = _SlidingMultiset(
                fn, vals, cvals, notna,
                mask if has_union else None, nn,
                key_fmt=(_fz_fmt_for(src_types.get(name))
                         if fn == "topn_frequency" else None),
                cond=extra,
                cate_fmt=_cate_fmt_for(src_types.get(f"{name}/cate")),
                val_fmt=_cate_fmt_for(src_types.get(name)),
                null_default=_null_default(src_types.get(name, "")))
            narr = None
            if n_col:
                # per-row top-n bound: evaluated at the CURRENT output
                # row (request-mode reading of the n update-arg)
                narr = pd.to_numeric(pd.Series(arr[n_col]),
                                     errors="coerce") \
                    .to_numpy(np.float64)
            res_l: list = [None] * m
            for i in range(m):
                if not emit[i]:
                    continue
                l = int(lo[i])
                h = max(int(chi[i]), l - 1)      # empty: (l, l - 1)
                state.slide(l, h)
                if narr is not None:
                    nv = narr[i]
                    if np.isnan(nv):
                        continue               # NULL n -> NULL output
                    if nv < 1:
                        res_l[i] = ""          # bound keeps nothing
                        continue
                    state.nn = int(nv)
                res_l[i] = state.result(i if self_add else None)
            out[name] = res_l

        # assemble once: repeated res_pdf[name] = ... inserts pay a
        # BlockManager reindex per agg column, and the boolean .loc mask
        # copies the whole frame even when every row emits — both
        # dominated small-group partitions (profiled, VERDICT r2 #9)
        all_emit = bool(emit.all())
        base = (pdf[passthrough] if all_emit
                else pdf.loc[emit, passthrough].reset_index(drop=True))
        # integer passthrough columns that carry NULLs (e.g. the
        # unmatched side of a LAST JOIN) arrive as float64; Arrow's
        # safe cast back to the declared int type rejects NaN — rebox
        # as nullable Int64 so NULLs survive the return trip
        fixes = {c: pd.Series(base[c], dtype="Float64").astype("Int64")
                 for c in passthrough
                 if dtypes.get(c, "") in ("bigint", "int", "smallint")
                 and base[c].dtype.kind == "f"}
        if fixes:
            base = base.assign(**fixes)
        res_cols: dict[str, object] = {}
        for (name, fn, col, cond, nn, cate, n_col, *_cc) in agg_specs:
            v = out[name]
            v = np.asarray(v, dtype=object) if isinstance(v, list) else v
            vv = v if all_emit else v[emit]
            want = dtypes[name]
            if want in ("bigint", "int", "smallint"):
                res_cols[name] = pd.Series(vv, dtype="Float64") \
                    .astype("Int64")
            elif want.startswith("timestamp"):
                ser = pd.Series(vv)
                if not np.issubdtype(ser.dtype, np.datetime64):
                    ser = pd.to_datetime(
                        pd.to_numeric(ser, errors="coerce"), unit="ms")
                res_cols[name] = ser
            elif want in ("double", "float"):
                # nullable Float64 so empty-frame NaN crosses Arrow as NULL
                # (SQL semantics: SUM/AVG/MIN/MAX over empty frame = NULL)
                res_cols[name] = pd.Series(pd.array(
                    pd.to_numeric(pd.Series(vv), errors="coerce"),
                    dtype="Float64"))
            else:
                res_cols[name] = pd.Series(vv, dtype=object)
        agg_pdf = pd.DataFrame(res_cols)
        agg_pdf.index = base.index
        return pd.concat([base, agg_pdf], axis=1)

    return kernel


_NULL_KEY = "\x00__omls_null__"      # distinct_count's NULL bucket


class _SlidingMultiset:
    """Sliding window state for the multiset aggregate family
    (distinct_count / top / topn_frequency / top1_ratio / *_cate).

    Mirrors the reference's amortized window-buffer slide
    (HistoryWindow::Slide, mem_catalog.h:406-480) instead of rebuilding
    the frame per row: each row enters and leaves the state exactly
    once, and per-row finalization is O(distinct keys). The current row
    (self) is added transiently around finalization when the frame
    includes it.
    """

    def __init__(self, fn, vals, cvals, notna, mask, nn,
                 tokens=None, key_fmt=None, cond=None,
                 cate_fmt=None, val_fmt=None, null_default=None):
        self.fn, self.vals, self.cvals = fn, vals, cvals
        self.notna, self.mask, self.nn = notna, mask, nn
        self.tokens = tokens         # FeatureZero split mode: each row
                                     # contributes its token list
        # topn_frequency counts NULL rows under the key "NULL" and
        # formats values FeatureZero-style (goldens #4)
        self.key_fmt = key_fmt
        self.cond = cond             # *_where participation mask
        # declared-type formatters for the k:v output pieces
        # (containers.h v1::format_string; _cate_fmt_for)
        self.cate_fmt = cate_fmt or str
        self.null_default = null_default
        self.val_fmt = val_fmt or _fmt_num
        self.lo, self.hi = 0, -1
        self.cnt: dict = {}
        self.total = 0
        self.cats: dict = {}          # cat -> {value -> count}
        self.catn: dict = {}          # cat -> row count
        self.catsum: dict = {}        # cat -> running sum
        self.is_cate = fn.endswith("_cate")

    def _ok(self, j, ignore_mask=False):
        if not ignore_mask and self.mask is not None and not self.mask[j]:
            return False
        if self.cond is not None and not self.cond[j]:
            return False
        if self.tokens is not None:
            return True              # empty token lists add nothing
        if self.key_fmt is not None:
            return True              # NULL rows count under key "NULL"
        if self.fn == "distinct_count":
            return True              # NULL is its own distinct value
                                     # (golden test_udaf_function.yaml#5)
        if self.notna is not None and not self.notna[j]:
            return False
        if self.is_cate:
            k = self.cvals[j]
            if k is None or (isinstance(k, float) and np.isnan(k)):
                return False
        return True

    def _key(self, j):
        v = self.vals[j]
        if self.key_fmt is not None:
            return self.key_fmt(v)
        if self.fn == "distinct_count" and pd.isna(v):
            # NULL inserts the type's zeroed default (see _null_default);
            # sentinel bucket when the type has no zero literal
            return (_NULL_KEY if self.null_default is None
                    else self.null_default)
        return str(v) if self.fn in ("topn_frequency", "top1_ratio") else v

    def _add(self, j, ignore_mask=False):
        if not self._ok(j, ignore_mask):
            return
        if self.tokens is not None:
            for t in self.tokens[j]:
                self.cnt[t] = self.cnt.get(t, 0) + 1
                self.total += 1
            return
        if self.is_cate:
            # RAW key (typed map order, containers.h std::map<StorageK>):
            # str() would sort '10' before '9' for numeric categories
            k = self.cvals[j]
            v = self.vals[j]
            d = self.cats.setdefault(k, {})
            d[v] = d.get(v, 0) + 1
            self.catn[k] = self.catn.get(k, 0) + 1
            if self.fn.endswith(("sum_cate", "avg_cate")):
                self.catsum[k] = self.catsum.get(k, 0) + v
            return
        k = self._key(j)
        self.cnt[k] = self.cnt.get(k, 0) + 1
        self.total += 1

    def _evict(self, j, ignore_mask=False):
        if not self._ok(j, ignore_mask):
            return
        if self.tokens is not None:
            for t in self.tokens[j]:
                c = self.cnt[t] - 1
                if c:
                    self.cnt[t] = c
                else:
                    del self.cnt[t]
                self.total -= 1
            return
        if self.is_cate:
            k = self.cvals[j]
            v = self.vals[j]
            d = self.cats[k]
            d[v] -= 1
            if not d[v]:
                del d[v]
            self.catn[k] -= 1
            if not self.catn[k]:
                del self.cats[k]
                del self.catn[k]
                self.catsum.pop(k, None)
            elif self.fn.endswith(("sum_cate", "avg_cate")):
                self.catsum[k] -= v
            return
        k = self._key(j)
        c = self.cnt[k] - 1
        if c:
            self.cnt[k] = c
        else:
            del self.cnt[k]
        self.total -= 1

    def _clear(self):
        self.cnt.clear()
        self.total = 0
        self.cats.clear()
        self.catn.clear()
        self.catsum.clear()

    def slide(self, l, h):
        # rebuild on a non-monotone step, or when the new frame is
        # disjoint from the old one (a new group): clearing is cheaper
        # than evicting every row, and skipped rows are never added
        if l < self.lo or h < self.hi or l > self.hi:
            self._clear()
            self.lo, self.hi = l, l - 1
        for j in range(self.hi + 1, h + 1):
            self._add(j)
        self.hi = max(self.hi, h)
        for j in range(self.lo, l):
            self._evict(j)
        self.lo = max(self.lo, l)

    def result(self, self_i=None):
        tmp = self_i is not None and self._ok(self_i, ignore_mask=True)
        if tmp:
            self._add(self_i, ignore_mask=True)
        r = self._finalize()
        if tmp:
            self._evict(self_i, ignore_mask=True)
        return r

    def _finalize(self):
        fn = self.fn
        if fn.endswith("_split"):
            fn = fn[:-6]             # shared finalizers with row mode
        if fn == "count":            # count over split tokens
            return int(self.total)
        if fn == "distinct_count":
            return int(len(self.cnt))
        if fn == "top":
            k = self.nn or 1
            xs: list = []
            for v in sorted(self.cnt, reverse=True):
                take = min(self.cnt[v], k - len(xs))
                xs.extend([v] * take)
                if len(xs) >= k:
                    break
            # declared-type rendering (v1::format_string, udf.cc:1267):
            # float/double %f, integrals plain — matches the native path
            return ",".join(self.val_fmt(x) if isinstance(x, (int, float))
                            else str(x) for x in xs)
        if fn == "top1_ratio":
            # empty frame / all-null input -> 0, not NULL (golden
            # test_feature_zero_function.yaml#3)
            return (max(self.cnt.values()) / self.total) \
                if self.total else 0.0
        if fn == "topn_frequency":
            if not self.cnt:
                return ""
            k = self.nn or 1
            ordered = sorted(self.cnt.items(),
                             key=lambda kv: (-kv[1], kv[0]))
            keys = [key for key, _ in ordered[:k]]
            keys += ["NULL"] * (k - len(keys))     # pad to n (golden #4)
            return ",".join(keys)
        # ---- *_cate / top_n_{key,value}_*_cate families
        def agg_of(k):
            if fn.endswith("count_cate"):
                return self.catn[k]
            if fn.endswith("sum_cate"):
                return self.catsum[k]
            if fn.endswith("avg_cate"):
                return self.catsum[k] / self.catn[k]
            if fn.endswith("min_cate"):
                return min(self.cats[k])
            return max(self.cats[k])

        if fn.endswith("avg_cate"):
            vfmt = lambda v: f"{float(v):.6f}"        # noqa: E731
        elif fn.endswith("count_cate"):
            # the aggregated value is a COUNT — plain integer no matter
            # what the value column's declared type is (golden #22 '1:1'
            # for a float value column)
            vfmt = lambda v: str(int(v))              # noqa: E731
        else:
            vfmt = self.val_fmt
        if fn.startswith("top_n_key_"):
            # n LARGEST keys, DESCENDING key order (containers.h
            # BoundedGroupByDict erase-begin + reverse iteration)
            ks = sorted(self.cats)[-(self.nn or 1):][::-1]
            return ",".join(f"{self.cate_fmt(k)}:{vfmt(agg_of(k))}"
                            for k in ks)
        if fn.startswith("top_n_value_"):
            # n largest by (value, key), output descending
            # (containers.h OutputTopNByValue PairCmp + crbegin)
            items = sorted(((agg_of(k), k) for k in self.cats),
                           reverse=True)[:self.nn or 1]
            return ",".join(f"{self.cate_fmt(k)}:{vfmt(v)}"
                            for v, k in items)
        # plain *_cate: ascending key; empty map renders as the EMPTY
        # STRING, not NULL (containers.h OutputString:250-253)
        return ",".join(f"{self.cate_fmt(k)}:{vfmt(agg_of(k))}"
                        for k in sorted(self.cats))


# ---------------------------------------------------------------------------
# public API


_NUM_TYPES = {"smallint", "int", "bigint", "float", "double"}
# category key types the reference's BoundedGroupByDict admits —
# float/double/bool keys are rejected (test_udaf_function.yaml#25/#39
# error cases; containers.h)
_CATE_KEY_TYPES = {"smallint", "int", "bigint", "string", "date",
                   "timestamp", "timestamp_ntz"}


def _validate_agg_types(df: DataFrame, aggs: Sequence[Agg]) -> None:
    """Reject input types the reference's UDAF registry does not
    register — its compiler errors where Spark would happily coerce
    (test_udaf_function.yaml error cases #8-#12, #18, #25/#26, #32,
    #39/#40). Rules mirror default_udf_library.cc registrations:
    sum over numerics+timestamp, avg/median and every *_where value
    over numerics (count_where over anything), *_cate values numeric
    with non-float/bool category keys, top-n counts positive."""
    types = {f.name: f.dataType.simpleString().split("(")[0]
             for f in df.schema.fields}

    def t_of(col):
        return types.get(col, "") if col else ""

    for a in aggs:
        t = t_of(a.col)
        if not t:          # expression inputs / untyped: no check
            continue
        if a.fn == "sum" and t not in (
                _NUM_TYPES | {"timestamp", "timestamp_ntz"}):
            raise ValueError(f"{a.fn}({a.col}: {t}) is not registered "
                             f"(sum admits numerics and timestamp)")
        if a.fn == "sum_where" and t not in _NUM_TYPES:
            # unlike plain sum, sum_where does not admit timestamp
            # (test_udaf_function.yaml#18 rejects c7)
            raise ValueError(f"{a.fn}({a.col}: {t}) is not registered "
                             f"(numeric input required)")
        if a.fn in ("avg", "avg_where", "median") and t not in _NUM_TYPES:
            raise ValueError(f"{a.fn}({a.col}: {t}) is not registered "
                             f"(numeric input required)")
        if a.fn in ("min_where", "max_where") and t not in _NUM_TYPES:
            raise ValueError(f"{a.fn}({a.col}: {t}) is not registered "
                             f"(numeric input required)")
        if (a.fn.endswith("_cate") and t not in _NUM_TYPES
                and a.fn not in ("top_n_key_count_cate",
                                 "top_n_value_count_cate")):
            # *_cate values must be numeric, count_cate included
            # (test_udaf_function.yaml#26), EXCEPT the top-n count
            # variants which count rows of any value type (#40 desc:
            # "excepting top_n_key_count_cate_where"; #62 passes a
            # string value to top_n_value_count_cate_where)
            raise ValueError(f"{a.fn} value ({a.col}: {t}) must be "
                             f"numeric")
        if a.fn.endswith("_cate"):
            ct = t_of(a.cate)
            if ct and ct not in _CATE_KEY_TYPES:
                raise ValueError(f"{a.fn} category ({a.cate}: {ct}) — "
                                 f"float/double/bool keys are not "
                                 f"supported")
            if a.fn.startswith("top_n_") and a.n_col is None \
                    and (a.n is None or a.n < 1):
                raise ValueError(f"{a.fn} requires a positive top-n "
                                 f"count, got {a.n!r}")


def window_agg(df: DataFrame, spec: WindowSpecFE, aggs: Sequence[Agg],
               skew: SkewConfig | None = None) -> DataFrame:
    """Compute ``aggs`` over ``spec`` for every row of ``df`` (plus union
    tables' rows as frame-only contents). Returns df columns + agg columns.
    """
    aggs = list(aggs)
    keys = list(spec.partition_by)
    for a in aggs:
        if a.fn not in _ALL_FNS:
            raise ValueError(
                f"unknown aggregate fn {a.fn!r} (agg {a.name!r}); "
                f"supported: {sorted(_ALL_FNS)}")
        if a.fn not in ("count", "count_where") and not a.col:
            raise ValueError(f"agg {a.name!r} ({a.fn}) requires col=")
    _validate_agg_types(df, aggs)
    # the reference's window requires an int/int64/timestamp ORDER key
    # (string/date/float rejected: error_window.yaml#4/#7) and allows
    # MAXSIZE only on ROWS_RANGE frames (error_window.yaml#13)
    _ot = {f.name: f.dataType.simpleString().split("(")[0]
           for f in df.schema.fields}.get(spec.order_by)
    if _ot and _ot not in ("timestamp", "timestamp_ntz", "bigint",
                           "int", "smallint"):
        raise ValueError(f"window ORDER BY {spec.order_by!r} has type "
                         f"{_ot}; int/int64/timestamp required")
    if spec.frame == "rows" and spec.maxsize:
        raise ValueError("MAXSIZE is only supported with ROWS_RANGE "
                         "frames")
    if spec.maxsize is not None and spec.maxsize <= 0:
        raise ValueError(f"MAXSIZE must be positive, got {spec.maxsize}"
                         f" (test_maxsize.yaml#3)")
    for u in spec.union_dfs:
        # WINDOW UNION requires schema-compatible tables
        # (test_window_union.yaml#2 error case)
        a = [(f.name, f.dataType.simpleString()) for f in df.schema.fields
             if not f.name.startswith("__")]
        b = [(f.name, f.dataType.simpleString()) for f in u.schema.fields
             if not f.name.startswith("__")]
        if a != b:
            raise ValueError(
                f"WINDOW UNION table schema mismatch: {b} vs {a}")
    if spec.peer == "sql" and (spec.exclude_current_time
                               or spec.exclude_current_row
                               or spec.instance_not_in_window):
        raise ValueError(
            "EXCLUDE CURRENT_TIME/ROW and INSTANCE_NOT_IN_WINDOW are "
            "stream-peer semantics (the OpenMLDB buffer model); "
            "peer='sql' cannot combine with them")
    # reference drops NULL order keys (WindowAggPlan.scala:784-791)
    df = df.filter(F.col(spec.order_by).isNotNull())

    use_kernel = spec.needs_kernel() or skew is not None \
        or any(a.fn not in _NATIVE_FNS or a.cond_l for a in aggs)

    if (use_kernel or spec.union_dfs) \
            and any(a.fn == "lead" for a in aggs):
        # lead has no buffered-frame semantics (it reads FUTURE rows
        # for label construction); kernel-only window attributes
        # (MAXSIZE/EXCLUDE/...) and WINDOW UNION (which doesn't set
        # use_kernel but interleaves frame-only rows into the ordering)
        # would silently change what "next row" means, so reject
        # instead of guessing
        raise ValueError(
            "lead is native-only: compute it in a separate window_agg "
            "call without union tables, kernel-only spec attributes, "
            "or skew config")

    if not use_kernel and not spec.union_dfs:
        return _native(df, spec, aggs)
    if not use_kernel and spec.union_dfs:
        return _native_union(df, spec, aggs)
    return _kernel_exec(df, spec, aggs, skew)


def multi_window_agg(df: DataFrame,
                     windows: Sequence[tuple[WindowSpecFE, Sequence[Agg]]],
                     skew: SkewConfig | None = None) -> DataFrame:
    """Several windows over one table in one result row — the reference's
    multi-window SELECT.

    The reference plans each WINDOW clause as a separate WindowAgg
    subtree and stitches the outputs back with an internal concat-join on
    a row-id bound at the plans' lowest common ancestor
    (SparkPlanner.scala:100-220, nodes/ConcatJoinPlan.scala:32-81), gated
    by ``openmldb.window.parallelization``. In Spark the native case
    needs none of that: every ``f() OVER w_i`` coexists in ONE select, so
    all-native specs compile to a single projection over N Window execs
    that share scans (and shuffles, when partition keys match).

    Kernel-path specs (maxsize/excludes/union/salting) can't share a
    select; those fall back to the concat-join shape — computed
    separately and zipped back by a row-id. The row-id is
    content-derived (xxhash of all primary columns is NOT safe under
    duplicates, so we use a deterministic row_number over a total order
    the caller's tiebreak pins).
    """
    windows = [(spec, list(aggs)) for spec, aggs in windows]
    native, kernel = [], []
    for spec, aggs in windows:
        needs = spec.needs_kernel() or skew is not None \
            or any(a.fn not in _NATIVE_FNS or a.cond_l for a in aggs) \
            or spec.union_dfs
        (kernel if needs else native).append((spec, aggs))

    # kernel-path results are zipped back by an explicit row id bound
    # BEFORE the fan-out (the reference binds its concat-join row id at
    # the plans' lowest common ancestor, SparkPlanner.scala:100-220):
    # joining on (partition, order, tiebreak) silently multiplies rows
    # under duplicate key tuples (ADVICE r1 #5). The id also joins the
    # kernel tiebreak so the per-group sort is a total order.
    #
    # The id itself must be STABLE across the fan-out branches: the
    # output branch and each kernel branch evaluate `base`
    # independently, and monotonically_increasing_id over a recomputed
    # nondeterministic lineage (any shuffle ancestor) can renumber rows
    # between evaluations — a silently mispaired zip (ADVICE r2 #1). So
    # the id is pinned by MATERIALIZING base once: a reliable
    # checkpoint when the session has a checkpoint dir (survives
    # executor loss), else localCheckpoint (executor loss fails the job
    # loudly instead of corrupting it). The reference pins its
    # concat-join id the same way — at the LCA, computed exactly once.
    # reference semantics (WindowAggPlan.scala:784-791): NULL order keys
    # drop — applied ONCE over every window's order column so the
    # native branch matches both single-window window_agg (which
    # filters) and the kernel branch (whose inner window_agg would
    # otherwise drop rows the native select kept, mispairing the zip
    # and leaving NULL-ts rows occupying other rows' ROWS-frame slots)
    for oc in {spec.order_by for spec, _ in windows}:
        df = df.filter(F.col(oc).isNotNull())

    rid = "__omls_rid"
    if kernel:
        base = df.withColumn(rid, F.monotonically_increasing_id())
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is not None:
            base = base.checkpoint(eager=True)
        else:
            base = base.localCheckpoint(eager=True)
    else:
        base = df

    out = base
    if native:
        d = out
        cols = [F.col(c) for c in out.columns]
        for i, (spec, aggs) in enumerate(native):
            # one ord column PER spec: the Window objects reference their
            # order column lazily, so a shared name would make every
            # window resolve the last spec's key (ADVICE r1 #1)
            d, w, w_unb = _spark_window(d, spec, ord_name=f"{_ORD}_{i}")
            dt = dict(d.dtypes)
            cols += [_native_expr(a, w, w_unb, dt).alias(a.name)
                     for a in aggs]
        # one select: N window specs, Catalyst shares compatible exchanges
        out = d.select(*cols)
    for spec, aggs in kernel:
        spec2 = WindowSpecFE(**{
            **spec.__dict__,
            "union_dfs": tuple(
                u.withColumn(rid, F.monotonically_increasing_id())
                for u in spec.union_dfs),
            "tiebreak": list(spec.tiebreak) + [rid]})
        res = window_agg(base, spec2, aggs, skew=skew)
        res = res.select(rid, *[a.name for a in aggs])
        # NULL order keys were dropped up front, so this zip is 1:1
        out = out.join(res, on=rid, how="left")
    return out.drop(rid) if kernel else out


def _spark_window(df: DataFrame, spec: WindowSpecFE, ord_name: str = _ORD):
    ordc = _ord_ms(df, spec.order_by)
    d = df.withColumn(ord_name, ordc)
    if spec.frame == "rows":
        w = (Window.partitionBy(*spec.partition_by)
             .orderBy(F.col(ord_name).asc(), *[F.col(c).asc() for c in spec.tiebreak])
             .rowsBetween(-(spec.start - (1 if spec.open_start else 0)),
                          -spec.end))
    else:
        start = spec.start - (1 if spec.open_start else 0)
        w = (Window.partitionBy(*spec.partition_by)
             .orderBy(F.col(ord_name).asc())
             .rangeBetween(-start, -spec.end))
    w_unb = (Window.partitionBy(*spec.partition_by)
             .orderBy(F.col(ord_name).asc(), *[F.col(c).asc() for c in spec.tiebreak]))
    return d, w, w_unb


def _native(df: DataFrame, spec: WindowSpecFE, aggs: list[Agg]) -> DataFrame:
    d, w, w_unb = _spark_window(df, spec)
    dt = dict(df.dtypes)
    cols = [F.col(c) for c in df.columns]
    cols += [_native_expr(a, w, w_unb, dt).alias(a.name) for a in aggs]
    return d.select(*cols)


def _native_union(df: DataFrame, spec: WindowSpecFE,
                  aggs: list[Agg]) -> DataFrame:
    prim = df.withColumn(_SIDE, F.lit(1))
    parts = [prim]
    for ui, u in enumerate(spec.union_dfs):
        parts.append(u.filter(F.col(spec.order_by).isNotNull())
                      .select(*df.columns)
                      .withColumn(_SIDE, F.lit(-(ui + 1))))
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    spec2 = WindowSpecFE(**{**spec.__dict__, "union_dfs": (),
                            "tiebreak": [_SIDE] + list(spec.tiebreak)})
    # primary sorts after union at equal ts → _SIDE ascending tiebreak works
    # only for ROWS frames; RANGE frames include all ts peers under sql
    # semantics anyway.
    res = _native(allr, spec2, aggs)
    return res.filter(F.col(_SIDE) == 1).drop(_SIDE)


def _kernel_exec(df: DataFrame, spec: WindowSpecFE, aggs: list[Agg],
                 skew: SkewConfig | None) -> DataFrame:
    keys = list(spec.partition_by)
    prim = (df.withColumn(_ORD, _ord_ms(df, spec.order_by))
              .withColumn(_SIDE, F.lit(1)))
    parts = [prim]
    for ui, u in enumerate(spec.union_dfs):
        parts.append(u.filter(F.col(spec.order_by).isNotNull())
                      .select(*df.columns)
                      .withColumn(_ORD, _ord_ms(u, spec.order_by))
                      .withColumn(_SIDE, F.lit(-(ui + 1))))
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    allr = allr.withColumn(_EMIT,
                           (F.col(_SIDE) == 1).cast("int"))

    # evaluate *_where conditions as Catalyst expressions (full SQL
    # semantics incl. NULL handling) into boolean columns for the kernel
    cond_cols: dict[str, str] = {}
    for a in aggs:
        if a.cond and a.cond not in cond_cols:
            cn = f"__omls_cond{len(cond_cols)}"
            cond_cols[a.cond] = cn
            allr = allr.withColumn(cn, F.expr(a.cond).cast("boolean"))

    group_keys = list(keys)
    if skew is not None:
        # replication reach: how far back a later part's frames can see.
        # lag() is partition-relative (ignores the frame), so its offset
        # extends the row reach regardless of frame kind.
        lag_n = max((a.n or 1 for a in aggs if a.fn == "lag"), default=0)
        time_reach = spec.start if spec.frame == "range" else None
        row_reach = (spec.start if spec.frame == "rows" else 0)
        row_reach = max(row_reach, lag_n) or None
        allr = _salt(allr, keys, skew, time_reach=time_reach,
                     row_reach=row_reach,
                     buffer_side_only=spec.instance_not_in_window)
        group_keys = keys + [_PART]

    passthrough = [c for c in df.columns]
    in_schema = df.schema
    dtypes = {c: in_schema[c].dataType.simpleString()
              for c in passthrough}
    out_fields = [in_schema[c] for c in passthrough]
    for a in aggs:
        t = _agg_out_type(a, in_schema)
        dtypes[a.name] = t.simpleString()
        out_fields.append(T.StructField(a.name, t, True))
    out_schema = T.StructType(out_fields)

    src_types = {a.name: in_schema[a.col].dataType.simpleString()
                 for a in aggs if a.col and a.col in in_schema.names}
    src_types.update({f"{a.name}/cate":
                      in_schema[a.cate].dataType.simpleString()
                      for a in aggs
                      if a.cate and a.cate in in_schema.names})
    kernel = _make_kernel(spec, aggs, [a.name for a in aggs], passthrough,
                          dtypes, cond_cols, src_types)
    sel_cols = list(dict.fromkeys(
        passthrough + [_ORD, _SIDE, _EMIT] + group_keys +
        [c for c in spec.tiebreak] + list(cond_cols.values())))
    # partition-level iteration with group-change detection — the
    # reference's execution shape (WindowAggPlan.windowAggIter,
    # WindowAggPlan.scala:501-558): ONE Arrow stream per partition, one
    # kernel call per Arrow batch over all its key groups.
    # groupBy().applyInPandas pays a per-GROUP Arrow exchange, which
    # dominates when keys are many and small (millions of conv_ids at
    # corpus scale). The repartition carries no count, so AQE can
    # coalesce the stage (each Python task has a fixed start-up cost);
    # with AQE off it is spark.sql.shuffle.partitions wide.
    res = (allr.select(*sel_cols)
               .repartition(*group_keys)
               .sortWithinPartitions(*group_keys, _ORD, _SIDE,
                                     *spec.tiebreak)
               .mapInPandas(_partition_runner(kernel, group_keys),
                            schema=out_schema))
    return res


def _partition_runner(kernel, group_keys: list[str]):
    """Wrap the segment kernel into a per-partition Arrow iterator: ONE
    kernel call per Arrow batch, over every complete key group in it
    (rows of one key are contiguous after repartition +
    sortWithinPartitions). Group starts are found with numpy; the
    trailing group may continue in the next batch, so it is held back
    until a key change or the end of the partition closes it — memory
    is one group + one batch, the same bound applyInPandas has."""

    def run(batches):
        buf = None
        for pdf in batches:
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            # group boundaries via numpy (pandas groupby paid ~1ms of
            # frame-machinery per group — dominant with many small keys)
            m = len(pdf)
            change = np.zeros(m, dtype=bool)
            change[0] = True
            for k in group_keys:
                a = pdf[k].to_numpy()
                cur, prev = a[1:], a[:-1]
                with np.errstate(invalid="ignore"):
                    eq = cur == prev
                eq = np.asarray(eq, dtype=bool) | (pd.isna(cur)
                                                   & pd.isna(prev))
                change[1:] |= ~eq
            starts = np.flatnonzero(change)
            buf = pdf.iloc[starts[-1]:]
            if len(starts) > 1:
                yield kernel(pdf.iloc[:starts[-1]], starts[:-1])
        if buf is not None and len(buf):
            yield kernel(buf, np.zeros(1, dtype=np.int64))

    return run


def _salt(allr: DataFrame, keys: list[str], skew: SkewConfig,
          time_reach: int | None = None,
          row_reach: int | None = None,
          buffer_side_only: bool = False) -> DataFrame:
    """Two-level salting with FRAME-BOUNDED history replication
    (reference SkewDataFrameUtils.scala:26-143; genUnionDf replicates
    only the preceding blocks a part actually needs, :110-143).

    Hot keys (≥ min_rows) are split into ``parts`` time-ranges by
    percentile of the order key; each row is tagged with its part and
    *replicated* (emit-suppressed) into later parts — but only when it
    can still fall inside some frame there:

    - ``time_reach`` (RANGE frames, ms): replica goes to part q only if
      ``ord > boundary(q) - time_reach``.
    - ``row_reach`` (ROWS frames / lag offsets): only the newest
      ``row_reach`` rows of each part replicate (into every later part,
      which stays correct when intermediate parts are thinner than the
      frame).

    With both None the full history prefix replicates (pre-round-2
    behavior) — O(history) per hot key, the scale-killer VERDICT r1
    flagged; bounded replication is O(frame) per part.

    ``buffer_side_only`` (INSTANCE_NOT_IN_WINDOW): primary rows are
    never buffered into any frame, so only union rows (_SIDE != 1) can
    serve a later part — primary rows never replicate, and the
    ``row_reach`` newest-rows rank is counted over union rows only
    (counting physical rows would under-replicate a part whose newest
    physical rows are mostly primary — ADVICE r2 #2).
    """
    n = skew.parts
    qs = [i / n for i in range(1, n)]
    dist = (allr.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__cnt"),
                 F.percentile_approx(F.col(_ORD), qs, 10000).alias("__qs"))
            .filter(F.col("__cnt") >= skew.min_rows)
            .select(*keys, "__qs"))
    tagged = allr.join(F.broadcast(dist), on=keys, how="left")
    part = F.when(F.col("__qs").isNull(), F.lit(0)).otherwise(
        F.aggregate("__qs", F.lit(0),
                    lambda acc, q: acc + F.when(F.col(_ORD) > q, 1).otherwise(0)))
    tagged = tagged.withColumn(_PART, part)
    hot = tagged.filter(F.col("__qs").isNotNull())
    if buffer_side_only:
        hot = hot.filter(F.col(_SIDE) != 1)
    if row_reach is not None:
        w = Window.partitionBy(*keys, _PART).orderBy(F.col(_ORD).desc())
        hot = hot.withColumn("__rn", F.row_number().over(w))
    else:
        hot = hot.withColumn("__rn", F.lit(None).cast("int"))
    # candidate later parts, filtered by the reach criteria
    seq = F.when(F.col(_PART) < n - 1,
                 F.sequence(F.col(_PART) + 1, F.lit(n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    if time_reach is None and row_reach is None:
        need = seq
    else:
        row_ok = (F.col("__rn") <= F.lit(row_reach)) \
            if row_reach is not None else F.lit(False)
        if time_reach is not None:
            def t_ok(q):
                return F.col(_ORD) > (
                    F.element_at(F.col("__qs"), q.cast("int"))
                    - F.lit(time_reach))
        else:
            def t_ok(q):
                return F.lit(False)
        need = F.filter(seq, lambda q: row_ok | t_ok(q))
    replicas = (hot.withColumn("__rep", F.explode(need))
                   .withColumn(_PART, F.col("__rep"))
                   .drop("__rep", "__rn")
                   .withColumn(_EMIT, F.lit(0)))
    return tagged.drop("__qs").unionByName(replicas.drop("__qs"))
