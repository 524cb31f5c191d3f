"""Output checks, read back without Spark (DuckDB).

Every job's output goes through one of these. A check returns the
problems it found (empty when the output is right) and an
order-independent content checksum. The checksum must equal the one the
unchanged engine produced for the same workload and seed
(``baseline/checksums.json``) when that seed has one; the caller also
compares the checksums of all jobs of one run, which must be identical.
"""

from __future__ import annotations

import json
import os

import duckdb

from workloads import MAXSIZE, SESSION_GAP_MS, TEN_MIN_MS

CHECKSUMS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "baseline", "checksums.json")

PIT_HASH_COLS = ("conv_id, turn_idx, session_id, n_10m, chars_10m, "
                 "prev_role, n_user_10m, n_tool_10m, top_tool, ts_r, "
                 "segment, score, tool")


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 2})
    con.execute("SET TimeZone = 'UTC'")
    return con


def _parquet(out_dir: str) -> str:
    return os.path.join(out_dir, "*.parquet").replace("'", "''")


# The backfill's feature columns recomputed from the input turns: sessions
# split on gaps over 30 min, the native 10-min RANGE window (later ts peers
# included), the kernel window (later ts peers excluded, at most MAXSIZE
# rows: [start, rn] in (ts, turn_idx) order, counted as differences of
# running counts) and ``tool`` filled forward within the session.
PIT_REFERENCE = f"""
WITH t AS (
  SELECT conv_id, turn_idx, role, text, tool, epoch_ms(ts) AS t_ms,
         row_number() OVER c AS rn,
         coalesce(epoch_ms(ts) - lag(epoch_ms(ts)) OVER c > {SESSION_GAP_MS},
                  false)::INT AS brk
  FROM read_parquet('{{turns}}') WHERE ts IS NOT NULL
  WINDOW c AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
w AS (
  SELECT *, sum(brk) OVER c AS session_id,
         count(turn_idx) OVER r AS n_10m,
         sum(length(text)) OVER r AS chars_10m,
         lag(role) OVER c AS prev_role,
         greatest(min(rn) OVER r, rn - {MAXSIZE - 1}) AS start_rn,
         sum((role = 'user')::INT) OVER c AS cum_user,
         sum((tool IS NOT NULL)::INT) OVER c AS cum_tool
  FROM t
  WINDOW c AS (PARTITION BY conv_id ORDER BY rn),
         r AS (PARTITION BY conv_id ORDER BY t_ms
               RANGE BETWEEN {TEN_MIN_MS} PRECEDING AND CURRENT ROW))
SELECT w.conv_id, w.turn_idx, w.session_id, w.n_10m, w.chars_10m,
       w.prev_role,
       w.cum_user - coalesce(p.cum_user, 0) AS n_user_10m,
       w.cum_tool - coalesce(p.cum_tool, 0) AS n_tool_10m,
       last_value(w.tool IGNORE NULLS) OVER (
           PARTITION BY w.conv_id, w.session_id ORDER BY w.rn
           ROWS UNBOUNDED PRECEDING) AS tool
FROM w LEFT JOIN w p ON p.conv_id = w.conv_id AND p.rn = w.start_rn - 1
"""
PIT_REFERENCE_COLS = ("session_id", "n_10m", "chars_10m", "prev_role",
                      "n_user_10m", "n_tool_10m", "tool")


def reference_checksum(workload: str, seed: int) -> str | None:
    """The unchanged engine's checksum for this workload and seed."""
    with open(CHECKSUMS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def check_pit(out_dir: str, in_dir: str, inputs: dict) -> tuple[list, str]:
    """Row count, zero temporal leakage, that the as-of match is the
    latest ``conv_meta`` version at or before each turn, and that every
    window, session and fill column equals DuckDB's recomputation."""
    meta = os.path.join(in_dir, "conv_meta.parquet").replace("'", "''")
    turns = os.path.join(in_dir, "turns.parquet").replace("'", "''")
    with _con() as con:
        n, leaks, checksum = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE ts_r > ts), "
            f"sum(hash({PIT_HASH_COLS}))::VARCHAR "
            f"FROM read_parquet('{_parquet(out_dir)}')").fetchone()
        wrong_asof = con.execute(
            f"SELECT count(*) FROM read_parquet('{_parquet(out_dir)}') o "
            f"ASOF LEFT JOIN read_parquet('{meta}') m "
            f"ON o.conv_id = m.conv_id AND o.ts >= m.ts "
            f"WHERE o.ts_r IS DISTINCT FROM m.ts").fetchone()[0]
        differs = con.execute(
            "SELECT " + ", ".join(
                f"count(*) FILTER (WHERE o.{c} IS DISTINCT FROM r.{c})"
                for c in PIT_REFERENCE_COLS)
            + f" FROM read_parquet('{_parquet(out_dir)}') o "
            f"JOIN ({PIT_REFERENCE.format(turns=turns)}) r "
            f"USING (conv_id, turn_idx)").fetchone()
    problems = []
    if n != inputs["rows_valid_ts"]:
        problems.append(f"rows {n} != {inputs['rows_valid_ts']} turns "
                        f"with a timestamp")
    if leaks:
        problems.append(f"{leaks} rows joined a meta version after the turn")
    if wrong_asof:
        problems.append(f"{wrong_asof} rows joined the wrong meta version")
    for col, n_bad in zip(PIT_REFERENCE_COLS, differs):
        if n_bad:
            problems.append(f"{n_bad} rows differ from the recomputed {col}")
    return problems, checksum


def check_docs(out_dir: str, in_dir: str, inputs: dict) -> tuple[list, str]:
    """Row count, no planted exact duplicate survives, no two surviving
    documents share a text."""
    with _con() as con:
        n, n_texts, dups, checksum = con.execute(
            f"SELECT count(*), count(DISTINCT text), "
            f"count(*) FILTER (WHERE list_contains(?, doc_id)), "
            f"sum(hash(doc_id, text, lang_guess, quality_score))::VARCHAR "
            f"FROM read_parquet('{_parquet(out_dir)}')",
            [inputs["duplicate_ids"]]).fetchone()
    problems = []
    limit = inputs["rows"] - inputs["planted_duplicates"]
    if not 0 < n <= limit:
        problems.append(f"rows {n} outside (0, {limit}]")
    if dups:
        problems.append(f"{dups} planted exact duplicates survived")
    if n_texts != n:
        problems.append(f"{n - n_texts} surviving documents repeat a text")
    return problems, checksum


def check(workload: str, out_dir: str, in_dir: str, inputs: dict,
          expected: str | None) -> tuple[list, str]:
    fn = check_docs if workload == "curate_docs" else check_pit
    problems, checksum = fn(out_dir, in_dir, inputs)
    if expected is not None and checksum != expected:
        problems.append(f"content checksum {checksum} != {expected} of the "
                        f"unchanged engine on this seed")
    return problems, checksum
