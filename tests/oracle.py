"""Brute-force pandas oracle for OpenMLDB window/as-of semantics.

Deliberately written as the *obvious* per-row O(n·w) implementation of the
reference's HistoryWindow state machine (hybridse/include/vm/mem_catalog.h
:243-560) so the Spark engine can be differentially tested against an
independent second implementation. Used only in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _ord_ms(s: pd.Series) -> pd.Series:
    if np.issubdtype(s.dtype, np.datetime64):
        return s.astype("int64") // 1_000_000
    return s.astype("float64")


def _apply_aggs(aggs, g, fr, i, row, buf_js=None):
    """Evaluate agg specs over frame indices ``fr`` (sorted
    oldest->newest, self last when included) of group ``g``. ``buf_js``
    = indices of BUFFERED preceding rows (visibility rules applied) for
    buffer-relative functions like lag."""
    for spec in (aggs or []):
        name, fn, col = spec[0], spec[1], spec[2]
        extra = spec[3] if len(spec) > 3 else None
        vals = [g[col].iloc[j] for j in fr] if col not in (None, "*") \
            else [1] * len(fr)
        nn = [v for v in vals if v is not None and not (
            isinstance(v, float) and np.isnan(v))]
        if fn == "count":
            row[name] = len(nn) if col not in (None, "*") else len(fr)
        elif fn == "sum":
            row[name] = sum(nn) if nn else None
        elif fn == "avg":
            row[name] = (sum(nn) / len(nn)) if nn else None
        elif fn == "min":
            row[name] = min(nn) if nn else None
        elif fn == "max":
            row[name] = max(nn) if nn else None
        elif fn == "distinct_count":
            # NULL inserts the type's zeroed default into the set
            # (reference update_set arg is not Nullable-wrapped; goldens
            # test_udaf_function.yaml#5/#6) — the test column is numeric,
            # so NULL collapses onto 0.0
            has_null = len(nn) != len(vals)
            row[name] = len(set(nn) | ({0.0} if has_null else set()))
        elif fn == "first_value":
            row[name] = g[col].iloc[fr[-1]] if fr else None
        elif fn == "lag":
            # lag(n) = n-th newest BUFFERED row (union rows included,
            # EXCLUDE CURRENT_TIME / INSTANCE_NOT_IN_WINDOW applied);
            # lag(0) = the current row (test_udaf_function.yaml#46/#59)
            k = 1 if extra is None else extra
            js = buf_js if buf_js is not None else list(range(i))
            if k == 0:
                row[name] = g[col].iloc[i]
            else:
                row[name] = g[col].iloc[js[-k]] if len(js) >= k else None
        elif fn in ("sum_where", "count_where", "avg_where",
                    "min_where", "max_where"):
            sel = [g[col].iloc[j] for j in fr if extra(g.iloc[j])]
            sel = [v for v in sel if v is not None and not (
                isinstance(v, float) and np.isnan(v))]
            base = fn.split("_")[0]
            if base == "count":
                row[name] = len(sel)
            elif base == "sum":
                row[name] = sum(sel) if sel else None
            elif base == "avg":
                row[name] = sum(sel) / len(sel) if sel else None
            elif base == "min":
                row[name] = min(sel) if sel else None
            else:
                row[name] = max(sel) if sel else None
        elif fn == "top":
            k = extra or 1
            xs = sorted(nn, reverse=True)[:k]
            # v1::format_string: float/double render %f (6 decimals)
            row[name] = ",".join(
                f"{x:.6f}" if isinstance(x, float) else str(x)
                for x in xs)
        elif fn == "topn_frequency":
            # FeatureZero semantics (goldens #4): NULL rows count under
            # "NULL", floats %.6f, pad to n with "NULL"; empty -> ""
            from collections import Counter

            def fzf(v):
                if v is None or (isinstance(v, float) and np.isnan(v)):
                    return "NULL"
                if isinstance(v, float):
                    return f"{v:.6f}"
                return str(v)
            cnt = Counter(fzf(v) for v in vals)
            if not cnt:
                row[name] = ""
            else:
                ks = [k2 for k2, _ in sorted(
                    cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:extra]]
                ks += ["NULL"] * (extra - len(ks))
                row[name] = ",".join(ks)
        elif fn == "top1_ratio":
            from collections import Counter
            cnt = Counter(str(v) for v in nn)
            row[name] = (max(cnt.values()) / sum(cnt.values())) \
                if cnt else 0.0
        elif fn in ("count_cate", "sum_cate", "avg_cate",
                    "min_cate", "max_cate"):
            acc = {}
            for j in fr:
                kk = g[extra].iloc[j]
                vv = g[col].iloc[j]
                if kk is None or (isinstance(kk, float) and np.isnan(kk)):
                    continue
                if vv is None or (isinstance(vv, float) and np.isnan(vv)):
                    continue
                acc.setdefault(str(kk), []).append(vv)
            base = fn.split("_")[0]
            parts = []
            for kk in sorted(acc):
                xs = acc[kk]
                v = {"count": len(xs), "sum": sum(xs),
                     "avg": sum(xs) / len(xs), "min": min(xs),
                     "max": max(xs)}[base]
                # declared-type value rendering (containers.h
                # v1::format_string): counts plain int, float/double
                # values %.6f
                if base == "count":
                    parts.append(f"{kk}:{int(v)}")
                elif isinstance(v, float):
                    parts.append(f"{kk}:{v:.6f}")
                else:
                    parts.append(f"{kk}:{_fmt(v)}")
            row[name] = ",".join(parts) if parts else None
        else:
            raise ValueError(fn)


def oracle_window(
    pdf: pd.DataFrame,
    keys: list[str],
    order_by: str,
    frame: str,
    start: int,
    end: int = 0,
    *,
    open_start: bool = False,
    maxsize: int | None = None,
    exclude_current_time: bool = False,
    exclude_current_row: bool = False,
    union_pdf: pd.DataFrame | None = None,
    instance_not_in_window: bool = False,
    tiebreak: list[str] | None = None,
    peer: str = "stream",
    aggs: list[tuple] | None = None,
) -> pd.DataFrame:
    """aggs: list of (name, fn, col[, extra]) where extra is the lag n /
    top k / cond-callable / cate col depending on fn."""
    tiebreak = tiebreak or []
    pdf = pdf[pdf[order_by].notna()].copy()
    pdf["__side"] = 1
    if union_pdf is not None:
        u = union_pdf[union_pdf[order_by].notna()].copy()
        u["__side"] = 0
        pdf = pd.concat([pdf[list(pdf.columns)], u[list(pdf.columns)]],
                        ignore_index=True)
    pdf["__ord"] = _ord_ms(pdf[order_by])

    results = []
    for _, grp in pdf.groupby(keys, sort=False, dropna=False):
        g = grp.sort_values(["__ord", "__side"] + tiebreak,
                            kind="mergesort").reset_index(drop=True)
        ts = g["__ord"].to_numpy()
        side = g["__side"].to_numpy()
        m = len(g)
        for i in range(m):
            if side[i] == 0:
                continue
            # candidate indices: visible history
            if frame == "rows":
                # ROWS slots count only BUFFERED rows (reference
                # HistoryWindow: same-current-time rows under EXCLUDE
                # CURRENT_TIME and primary rows under
                # INSTANCE_NOT_IN_WINDOW never enter the buffer, so they
                # consume no slots — golden cases
                # test_window_exclude_current_time.yaml#3 and
                # test_window_union.yaml#13)
                vis = [j for j in range(0, i)
                       if not (exclude_current_time and ts[j] == ts[i])
                       and not (instance_not_in_window and side[j] == 1)]
                n_open = 1 if open_start else 0
                if end == 0:
                    n_prec = max(start - n_open, 0)
                    fr = vis[max(len(vis) - n_prec, 0):] if n_prec else []
                    if not exclude_current_row:
                        fr = fr + [i]
                else:
                    upto = len(vis) - (end - 1)
                    width = start - end + 1 - n_open
                    fr = vis[max(0, upto - width):max(upto, 0)]
                if maxsize is not None and len(fr) > maxsize:
                    fr = fr[-maxsize:]
                row = {"__i": i}
                _apply_aggs(aggs, g, fr, i, row, buf_js=vis)
                rec = g.iloc[i].to_dict()
                rec.update(row)
                results.append(rec)
                continue
            else:
                lo_t = ts[i] - start
                hi_t = ts[i] - end
                cand = []
                for j in range(m):
                    if open_start:
                        in_rng = lo_t < ts[j] <= hi_t
                    else:
                        in_rng = lo_t <= ts[j] <= hi_t
                    if not in_rng:
                        continue
                    if end == 0 and peer == "stream" and j > i:
                        continue
                    if end == 0 and peer == "sql":
                        pass
                    cand.append(j)
            vis = [j for j in range(0, i)
                   if not (exclude_current_time and ts[j] == ts[i])
                   and not (instance_not_in_window and side[j] == 1)]
            fr = []
            for j in cand:
                if j == i:
                    if exclude_current_row:
                        continue
                    fr.append(j)
                    continue
                if exclude_current_time and ts[j] == ts[i]:
                    continue
                if instance_not_in_window and side[j] == 1:
                    continue
                fr.append(j)
            if maxsize is not None and len(fr) > maxsize:
                fr = fr[-maxsize:]
            row = {"__i": i}
            _apply_aggs(aggs, g, fr, i, row, buf_js=vis)
            rec = g.iloc[i].to_dict()
            rec.update(row)
            results.append(rec)
    out = pd.DataFrame(results)
    return out.drop(columns=["__side", "__ord", "__i"], errors="ignore")


def _fmt(v):
    if v is None:
        return "null"
    f = float(v)
    if f == int(f) and abs(f) < 1e15:
        return str(int(f))
    return format(f, "g")


def oracle_last_join(left: pd.DataFrame, right: pd.DataFrame,
                     on: list[str], order_by: str,
                     left_ts: str | None = None,
                     right_ts: str | None = None,
                     tiebreak: str | None = None) -> pd.DataFrame:
    """Per-left-row scan for the last matching right row."""
    rows = []
    rcols = {c: (c + "_r" if c in left.columns else c)
             for c in right.columns if c not in on}
    for _, lrow in left.iterrows():
        cand = right
        for k in on:
            cand = cand[cand[k] == lrow[k]]
        if left_ts and right_ts:
            cand = cand[cand[right_ts] <= lrow[left_ts]]
        rec = lrow.to_dict()
        if len(cand):
            sort_cols = [order_by] + ([tiebreak] if tiebreak else [])
            # max-wins ties with NULL losing (engine semantics: NULLs
            # sort first ascending, so the non-NULL max is kept)
            best = cand.sort_values(sort_cols, kind="mergesort",
                                    na_position="first").iloc[-1]
            for c, oc in rcols.items():
                rec[oc] = best[c]
        else:
            for c, oc in rcols.items():
                rec[oc] = None
        rows.append(rec)
    return pd.DataFrame(rows)
