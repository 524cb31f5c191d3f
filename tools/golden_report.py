"""Run golden case files through the engine and report pass/skip/fail
counts per file — calibration tool for test_reference_cases.FILES.

Usage: python tools/golden_report.py [file ...]   (paths rel. to cases/)
"""
import os, sys, yaml
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

from openmldb_spark.session import get_spark
import test_reference_cases as trc

def main():
    spark = get_spark("golden-report", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4"})
    spark.conf.set("spark.sql.ansi.enabled", "false")
    files = sys.argv[1:] or sorted(trc.FILES)
    verbose = os.environ.get("GOLDEN_VERBOSE", "")
    for fname in files:
        path = os.path.join(trc.CASE_DIR, fname)
        with open(path) as f:
            doc = yaml.safe_load(f)
        n_pass, fails, skips = 0, [], []
        for case in doc["cases"]:
            cid = f"{case.get('id')}"
            try:
                res = trc._run_case(spark, case)
            except AssertionError as e:
                fails.append(f"{cid}: {str(e)[:200]}")
                continue
            except Exception as e:
                fails.append(f"{cid}: ERROR {type(e).__name__} {str(e)[:200]}")
                continue
            if res == "pass":
                n_pass += 1
            else:
                skips.append(f"{cid}: {res}")
        print(f"{fname}: pass={n_pass} skip={len(skips)} fail={len(fails)}")
        for s in fails[:int(os.environ.get('GOLDEN_MAXSHOW', 6))]:
            print(f"    FAIL {s}")
        if verbose:
            for s in skips[:20]:
                print(f"    skip {s}")

if __name__ == "__main__":
    main()
