"""Dry-run reference golden-case files through the front-end without
pytest: prints per-case pass/skip/fail so new files can be calibrated.

Usage: python tools/golden_dryrun.py <file-rel-path> [...]
"""

from __future__ import annotations

import os
import sys

import yaml

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from openmldb_spark.session import get_spark  # noqa: E402


def main():
    spark = get_spark("golden_dryrun", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4",
                                  "spark.sql.ansi.enabled": "false"})
    import test_reference_cases as trc
    for fname in sys.argv[1:]:
        with open(os.path.join(trc.CASE_DIR, fname)) as f:
            doc = yaml.safe_load(f)
        n_pass, fails, skips = 0, [], []
        for case in doc["cases"]:
            cid = f"{case.get('id')}:{str(case.get('desc'))[:40]}"
            try:
                res = trc._run_case(spark, case, fname)
            except AssertionError as e:
                fails.append(f"{cid}: {str(e)[:300]}")
                continue
            except Exception as e:
                fails.append(f"{cid}: ERROR {type(e).__name__} "
                             f"{str(e)[:300]}")
                continue
            if res == "pass":
                n_pass += 1
            else:
                skips.append(f"{cid}: {res[:160]}")
        print(f"\n===== {fname}: {n_pass} pass, {len(fails)} fail, "
              f"{len(skips)} skip")
        for s in fails:
            print("  FAIL", s)
        for s in skips:
            print("  skip", s)


if __name__ == "__main__":
    main()
