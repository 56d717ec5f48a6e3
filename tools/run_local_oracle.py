"""Full-registry local oracle runner: the auditable twin of the
sampled CORRECTNESS check, which covers only part of the registered
queries each run; this runner executes EVERY
``queries()`` entry against its ``oracle_sql()`` on the same parquet
tables and writes a per-query JSON record (rows / schema / value
match booleans, row counts, errors) so the never-driver-sampled
queries carry a committed hash record each round.

Usage:
    python tools/run_local_oracle.py \
        --sf /root/testdata/sf0.001 --sf /root/testdata/sf0.01 \
        --out CORRECTNESS_LOCAL_r7.json [--only q1,q2,...] [--jobs 6]

    # round-N institutionalized new-query re-run (VERDICT r11 #4):
    # diff the registry against the PRIOR round's committed artifact
    # and oracle-check exactly the new queries at sf0.01
    python tools/run_local_oracle.py \
        --new-since CORRECTNESS_LOCAL_r11.json --out ORACLE_NEW_r12.json

``--jobs N`` runs N queries concurrently from driver threads (py4j
and DuckDB both release work off the Python thread; each query uses
<= shuffle_partitions tasks, so a few jobs fill the local[32] cores).
Records are built per query and merged, so the artifact is byte-
identical to a serial run (sort_keys dump).

Output shape (mirrors the driver's CORRECTNESS_r{N}.json rows):
    {"<query>": {"<sf>": {"rows": true, "schema": true, "hash": true,
                          "n_rows": 123, "mode": "oracle"}}}
Rows-only queries (no oracle_sql entry) record mode "rows_only" with
the row count only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def check_artifact(path: str) -> int:
    """VERDICT r8 #1 enforcement: a committed full-sweep artifact must
    cover the CURRENT registry exactly — a registry query missing from
    the artifact means the committed evidence lags the code (the r8
    failure mode: three queries shipped with no correctness record).
    Exit 1 with the symmetric difference if the key sets diverge."""
    import __spark_entry__ as entry

    with open(path) as f:
        artifact = json.load(f)
    have = set(artifact.get("results", artifact))
    want = set(entry.queries())
    missing, extra = sorted(want - have), sorted(have - want)
    if missing or extra:
        print(
            f"ARTIFACT STALE vs registry: missing={missing} extra={extra}"
        )
        return 1
    bad = [
        (n, sf)
        for n, sfs in artifact.get("results", {}).items()
        for sf, r in sfs.items()
        if not r.get("hash", r.get("rows", False))
    ]
    if bad:
        print(f"ARTIFACT HAS FAILED CHECKS: {bad[:10]}")
        return 1
    print(f"artifact covers all {len(want)} registry queries, all green")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", action="append", default=[])
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--check-artifact",
        default=None,
        help="verify an existing artifact's key set equals the current "
        "registry (and every check is green), then exit",
    )
    ap.add_argument(
        "--new-since",
        default=None,
        help="path to a prior round's artifact; run ONLY registry "
        "queries absent from it (default SF sf0.01 unless --sf given)",
    )
    ap.add_argument("--jobs", type=int, default=1)
    args = ap.parse_args()
    if args.check_artifact:
        return check_artifact(args.check_artifact)
    if args.new_since and not args.sf:
        args.sf = ["/root/testdata/sf0.01"]
    # default = ALL THREE scale factors (VERDICT r7 #1: the sf0.1
    # sweep is a standing per-round gate — it caught a real
    # cross-engine rounding divergence the smaller SFs could not)
    sf_dirs = args.sf or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]

    import __spark_entry__ as entry
    from oracle_harness import canonicalize, run_oracle

    from icnarc_to_philips_linkage_spark.session import get_spark

    spark = get_spark(app_name="local-oracle", shuffle_partitions=8)
    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = sorted(queries)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    if args.new_since:
        with open(args.new_since) as f:
            prior = json.load(f)
        prior_keys = set(prior.get("results", prior))
        names = [n for n in names if n not in prior_keys]
        print(f"new since {args.new_since}: {len(names)} queries")
    stray = set(oracles) - set(queries)
    assert not stray, f"oracle_sql entries without queries(): {stray}"

    def run_one(name: str) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for sf_dir in sf_dirs:
            sf_key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
            rec: dict = {"mode": "oracle" if name in oracles else "rows_only"}
            try:
                sp = queries[name](spark, sf_dir).toPandas()
                rec["n_rows"] = int(len(sp))
                if name in oracles:
                    ora = run_oracle(oracles[name], sf_dir)
                    rec["rows"] = len(sp) == len(ora)
                    rec["schema"] = sorted(sp.columns) == sorted(ora.columns)
                    if rec["rows"] and rec["schema"]:
                        a, b = canonicalize(sp), canonicalize(ora)
                        rec["hash"] = a == b
                        if not rec["hash"]:
                            bad = [
                                (i, x, y)
                                for i, (x, y) in enumerate(zip(a, b))
                                if x != y
                            ][:2]
                            rec["err"] = f"value mismatch, first: {bad}"[:500]
                    else:
                        rec["hash"] = False
                        rec["err"] = (
                            f"rows {len(sp)} vs {len(ora)}; cols "
                            f"{sorted(sp.columns)} vs {sorted(ora.columns)}"
                        )[:500]
                else:
                    rec["rows"] = rec["n_rows"] >= 0
            except Exception as e:  # noqa: BLE001 - record, keep sweeping
                rec["err"] = f"{type(e).__name__}: {e}"[:500]
                rec["rows"] = rec["schema"] = rec["hash"] = False
            out[sf_key] = rec
        return out

    results: dict[str, dict] = {}
    t0 = time.time()

    def record(name: str, res: dict[str, dict], clear: bool = True) -> None:
        results[name] = res
        # cache hygiene between SERIAL queries only: clearCache()
        # removes blocks outright (memory AND disk), which kills any
        # in-flight query that localCheckpoint'd — checkpoints truncate
        # lineage, so an evicted block has nothing to recompute from
        # (this failed 13 queries in the first threaded sweep).
        if clear:
            spark.catalog.clearCache()
        status = all(
            r.get("hash", r.get("rows", False)) for r in res.values()
        )
        print(f"{'ok ' if status else 'FAIL'} {name}", flush=True)

    from icnarc_to_philips_linkage_spark.plans.registry import (
        exclusive_queries,
    )

    exclusive = exclusive_queries()
    if args.jobs > 1:
        from concurrent.futures import ThreadPoolExecutor, as_completed

        pooled = [n for n in names if n not in exclusive]
        serial = [n for n in names if n in exclusive]
        with ThreadPoolExecutor(max_workers=args.jobs) as ex:
            futs = {ex.submit(run_one, n): n for n in pooled}
            for fut in as_completed(futs):
                record(futs[fut], fut.result(), clear=False)
        spark.catalog.clearCache()
        # queries touching process-global named state (temp views,
        # warehouse index tables) run alone, after the pool drains
        for name in serial:
            record(name, run_one(name))
    else:
        for name in names:
            record(name, run_one(name))

    n_fail = sum(
        1
        for n in results
        for r in results[n].values()
        if not r.get("hash", r.get("rows", False))
    )
    summary = {
        "n_queries": len(names),
        "n_with_oracle": sum(1 for n in names if n in oracles),
        "n_checks_failed": n_fail,
        "sf_dirs": sf_dirs,
        "wall_sec": round(time.time() - t0, 1),
    }
    out = {"summary": summary, "results": results}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
