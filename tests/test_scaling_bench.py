"""``tools/scaling_bench.py`` merges each level's best wall time across
runs; the pair ratio beside them names the run each wall came from."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "scaling_bench.py")


def _tool():
    spec = importlib.util.spec_from_file_location("scaling_bench", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _level(cpus, wall, run=None):
    r = {"cpus": cpus, "wall_s": wall, "rows": 100,
         "rows_per_s": 100 / wall, "samples_wall_s": [wall]}
    if run is not None:
        r["run"] = run
    return r


def test_merged_pair_names_the_run_of_each_wall():
    merge = _tool().merge_result
    merged = {"local[2]": _level(2, 10.0, "run-a"),
              "local[8]": {**_level(8, 4.0, "run-a"), "note": "by hand"}}
    result = {"input_rows": 100, "local[2]": _level(2, 9.0, "run-b"),
              "local[8]": _level(8, 5.0, "run-b")}
    merge(merged, result, 2, 8)
    # local[2]: this run is faster; local[8]: the earlier best stays
    assert merged["local[2]"]["wall_s"] == 9.0
    assert merged["local[2]"]["run"] == "run-b"
    assert merged["local[8]"]["wall_s"] == 4.0
    assert merged["local[8]"]["run"] == "run-a"
    assert merged["local[8]"]["note"] == "by hand"
    assert merged["local[8]"]["samples_wall_s"] == [4.0, 5.0]
    pair = merged["pair_2_8"]
    assert pair["speedup"] == round(9.0 / 4.0, 3)
    assert pair["wall_s_runs"] == {"local[2]": "run-b", "local[8]": "run-a"}
    assert merged["wall_s_runs"] == pair["wall_s_runs"]   # headline pair


def test_wall_merged_before_runs_were_named_has_no_run():
    merge = _tool().merge_result
    merged = {"local[8]": _level(8, 20.0), "local[32]": _level(32, 9.0)}
    result = {"input_rows": 100, "local[8]": _level(8, 25.0, "run-c"),
              "local[32]": _level(32, 8.0, "run-c")}
    merge(merged, result, 8, 32)
    assert merged["pair_8_32"]["wall_s_runs"] == {
        "local[8]": None, "local[32]": "run-c"}
    assert "wall_s_runs" not in merged       # not the headline pair
