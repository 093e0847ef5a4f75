"""Dump `.explain("formatted")` for named bench cases into files — the
optimization evidence trail (plans/$PVS_PLAN_ROUND/<case>_<suffix>.txt,
round default r13, e.g. a ``before`` and an ``after`` dump around a change).

Reads frames from the case registry (`bench._build_cases`), so the dumped
plan is EXACTLY the frame the bench times. Cases whose builder performs
driver-side work before the final frame (store builds, collects) execute
that work; fit/write cases return no frame and are skipped.

Run: python tools/plan_dump.py <suffix> <case> [<case> ...]
  -> plans/$PVS_PLAN_ROUND/<case>_<suffix>.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from photo_vector_search_spark.session import get_spark
from tools.plan_report import formatted_plan

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("PVS_PLAN_ROUND", "r13"),
)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("pvs-plan-dump")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        cases = bench._build_cases(spark, sf_dir)
        for name in names:
            df = cases[name]()
            if df is None:
                print(f"{name}: fit/write case, no frame — skipped")
                continue
            path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(formatted_plan(df))
            print(f"wrote {path}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
