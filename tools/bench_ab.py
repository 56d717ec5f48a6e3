"""A/B a set of queries under optional extra Spark confs.

Usage:
  python tools/bench_ab.py q1,q2,... [k=v ...]

Runs each query (noop sink, clearCache between) twice and prints the
per-query minimum — one line per query plus a total. Confs are applied
at session build (so codegen/planning confs take effect).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1].split(",")
    extra = dict(kv.split("=", 1) for kv in sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("AB_REPEAT", "2"))
    from icnarc_to_philips_linkage_spark.plans.registry import all_queries
    from icnarc_to_philips_linkage_spark.session import get_spark

    spark = get_spark(app_name="bench-ab", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in extra.items():
        spark.conf.set(k, v)
    queries = all_queries()
    # warmup mirrors bench.py
    warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warm.limit(1000).groupBy("l_returnflag").count().write.format(
        "noop"
    ).mode("overwrite").save()
    from icnarc_to_philips_linkage_spark.plans.tables import clear_trained
    from icnarc_to_philips_linkage_spark.plans.tables import load as _load

    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "events", "embeddings", "documents"]:
        _load(spark, sf_dir, t).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()
    total = 0.0
    for name in names:
        fn, _ = queries[name]
        best = None
        for i in range(repeat):
            if i:
                # keep-min honesty: every timed pass pays the training
                clear_trained(spark)
            t = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            el = time.time() - t
            spark.catalog.clearCache()
            best = el if best is None or el < best else best
        total += best
        print(f"{best:8.2f}  {name}", flush=True)
    print(f"{total:8.2f}  TOTAL ({len(names)} queries, keep-min of {repeat})")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
