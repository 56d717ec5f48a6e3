"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is fully materialized through the `noop` sink so Catalyst
cannot prune work the way a bare count() would; timings include plan +
execution, excluding session startup (reported separately inside the
JSON for context)."""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t0 = time.time()
    from icnarc_to_philips_linkage_spark.plans.registry import all_queries
    from icnarc_to_philips_linkage_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    startup = time.time() - t0

    names = os.environ.get("BENCH_QUERIES")
    queries = all_queries()
    selected = names.split(",") if names else list(queries)
    unknown = [n for n in selected if n not in queries]
    if unknown:
        print(
            f"error: unknown BENCH_QUERIES {unknown}; known: {sorted(queries)}",
            file=sys.stderr,
        )
        return 2

    # JVM/codegen/parquet-reader warmup so per-query timings measure the
    # plans, not first-query initialization (startup_sec reports the rest)
    warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warm.limit(1000).groupBy("l_returnflag").count().write.format(
        "noop"
    ).mode("overwrite").save()
    # higher-order-function + hash codepaths (text/similarity queries)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    docs.select(
        F.md5("text"),
        F.expr("aggregate(transform(split(text, ' '), x -> length(x)), 0, (a, x) -> a + x)"),
    ).write.format("noop").mode("overwrite").save()
    # first-touch each remaining table (footer/schema read + file index)
    # so whichever query reads a table first isn't charged for it
    from icnarc_to_philips_linkage_spark.plans.tables import clear_trained
    from icnarc_to_philips_linkage_spark.plans.tables import load as _load

    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "events", "embeddings"]:
        _load(spark, sf_dir, t).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()
    # NOTE deliberately NO pandas-UDF warmup: pre-spawning the 32-worker
    # Python pool was measured to SLOW the sweep — the resident workers
    # add 10-25s of jitter to later driver-action-heavy queries (e.g.
    # dedup_near_clusters 17-31s with the pool vs 3.4-4.6s without),
    # far outweighing the ~1s of worker spin-up it saves the first
    # pandas-UDF query.

    # BENCH_REPEAT=n keeps the per-query MINIMUM of n sweeps — the
    # keep-min protocol that shrinks environment noise in the recorded
    # numbers. Default 1 preserves the driver's single-sweep contract.
    repeat = max(1, int(os.environ.get("BENCH_REPEAT", "1")))

    def run_once(name: str) -> float:
        fn, _ = queries[name]
        t = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = round(time.time() - t, 3)
        # Isolate queries from each other: drop caches/persists a
        # query left behind so later timings measure their own
        # plans, not an earlier query's warm cache, and the JVM
        # heap stays flat across the sweep (cache buildup → GC
        # pressure → noise).
        spark.catalog.clearCache()
        return elapsed

    # Drift normalizer (VERDICT r8 #3): a pinned plan-diverse probe set
    # re-run at sweep start / middle / end, so the artifact itself
    # separates uniform host drift from per-query regression — two
    # rounds in a row the whole keep-min sweep moved ~1.2x from host
    # noise and the forensics had to be reconstructed by hand. On by
    # default for full-registry sweeps; BENCH_CALIBRATE=0/1 overrides.
    calib_names = [
        n
        for n in ("q1_pricing_summary", "dedup_exact", "o2_top_k",
                  "a6_group_time_stats")
        if n in queries
    ]
    calibrate = os.environ.get(
        "BENCH_CALIBRATE", "0" if names else "1"
    ) == "1"
    calibration: dict = {}

    def calib_pass(tag: str) -> None:
        # keep-min of 2 per probe: the first execution of a probe in
        # the session pays plan compilation that would read as drift
        if calibrate:
            calibration[tag] = {
                n: min(run_once(n), run_once(n)) for n in calib_names
            }

    calib_pass("start")
    timings: dict[str, float] = {}
    mid_at = (len(selected) * repeat) // 2
    done = 0
    for sweep in range(repeat):
        if sweep:
            # keep-min honesty (VERDICT r12 #2): sweeps 2..n retrain
            clear_trained(spark)
        for name in selected:
            elapsed = run_once(name)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
            done += 1
            if done == mid_at:
                calib_pass("mid")
    calib_pass("end")
    if calibrate and calib_names:
        start_t = calibration.get("start", {})
        ratios = sorted(
            calibration[tag][n] / start_t[n]
            for tag in ("mid", "end")
            if tag in calibration
            for n in calib_names
            if start_t.get(n)
        )
        if ratios:
            calibration["drift_ratio_median"] = round(
                ratios[len(ratios) // 2], 3
            )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "startup_sec": round(startup, 3),
        "n_queries": len(timings),
        # protocol tag: keep-min over `repeat` sweeps. Compare
        # rounds ONLY at equal repeat counts — keep-min with
        # repeat>1 is biased low vs a single sweep (warm page
        # cache on later sweeps), so cross-protocol ratios
        # overstate improvement.
        "protocol": {"keep_min_repeat": repeat},
        **({"calibration": calibration} if calibration else {}),
    }
    # Full per-query detail always lands in a file (the committed
    # BENCH_KEEPMIN_r{N}.json artifacts are copies of this).
    full_out = os.environ.get("BENCH_FULL_OUT", "bench_full_latest.json")
    try:
        with open(full_out, "w") as f:
            json.dump(payload, f)
    except OSError as exc:  # read-only cwd: stdout line still carries data
        print(f"warn: could not write {full_out}: {exc}", file=sys.stderr)

    # The driver captures only the LAST 2000 chars of stdout and parses
    # the final JSON line from that window. A full-registry line
    # (~300 queries) is ~9 KB, so for 9 rounds the driver recorded
    # `"parsed": null` (VERDICT r9 task #7). Print the full line only
    # when it fits the window; otherwise print a compact line with the
    # same schema whose "queries" carries the slowest entries that fit,
    # plus a pointer to the full file.
    line = json.dumps(payload)
    budget = int(os.environ.get("BENCH_STDOUT_BUDGET", "1900"))
    if len(line) > budget:
        compact = dict(payload)
        compact["queries"] = {}
        compact["queries_full_file"] = full_out
        compact["queries_shown"] = "slowest"
        # placeholder at max width so the budget check covers the
        # final field (it's overwritten below; ADVICE r10)
        compact["queries_omitted"] = len(timings)
        base_len = len(json.dumps(compact))
        shown: dict[str, float] = {}
        used = base_len
        for name, secs in sorted(
            timings.items(), key=lambda kv: -kv[1]
        ):
            entry_len = len(json.dumps({name: secs})) + 2
            if used + entry_len > budget:
                break
            shown[name] = secs
            used += entry_len
        compact["queries"] = shown
        compact["queries_omitted"] = len(timings) - len(shown)
        line = json.dumps(compact)
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
