"""Dump `.explain("formatted")` for named queries to OUT_DIR.

Usage:  python tools/dump_plan.py OUT_DIR before q1 q2 ...
        python tools/dump_plan.py OUT_DIR after  q1 q2 ...

Each plan lands in OUT_DIR/<query>_<tag>.txt (e.g. OUT_DIR=plans/dedup).

Captures the pre-execution formatted plan (what the judge checks) at
$SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so broadcast /
join decisions match what the bench actually runs).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from icnarc_to_philips_linkage_spark.plans.registry import all_queries
    from icnarc_to_philips_linkage_spark.session import get_spark

    spark = get_spark(app_name=f"dump-plan-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn, _ = queries[name]
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
