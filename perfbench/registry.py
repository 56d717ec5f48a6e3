"""The ``registry-mix`` workload: one operation builds one registered
query and collects its result to the driver.

The sample is stratified by family prefix and always holds the queries
the roadmap names as optimisation targets. Every operation starts with
the module training memos and the cache cleared, so each one pays its
full cost whatever ran before it.

The tables are copies of the reference test data (``data/sf0.01``, the
scale the registry's oracle tests use; ``data/sf0.001`` for the warm-up),
so the seed draws only the sample. The DuckDB oracle answers are cached
in the checkout's build directory, keyed by the oracle SQL and the
tables' bytes, and each is computed once.
"""

from __future__ import annotations

import hashlib
import os
import random
import re

import pandas as pd

from icnarc_to_philips_linkage_spark.plans.registry import all_queries

TARGETS = (
    "ml_quantile_reg", "ml_gd_classifier", "cluster_kmeans", "text_bpe_encode",
    "sim_ann_rh_lsh", "dedup_containment_exact", "sim_pq_index_probe",
    "retrieval_mmr_rerank", "retrieval_rocchio_prf",
)
# module-level training memos (plans.relational / plans.llm); absent
# names are skipped, so the benchmark survives their removal
MEMOS = {
    "relational": ("_GD_WEIGHTS_CACHE", "_QR_CACHE"),
    "llm": ("_PQ_BOOKS_CACHE", "_PQ_INDEX_CACHE", "_BPE_MERGE_CACHE", "_PCA_CACHE"),
}


def family(name: str) -> str:
    """Stratum of a query: its prefix before the first ``_``, with the
    numbered survey codes (``a19b``, ``w7``, ``ud3``) folded into their
    letters."""
    head = name.split("_", 1)[0]
    return re.sub(r"\d+[a-z]?$", "", head) or head


def sample(seed: int, n_picks: int) -> list[str]:
    """The targets, then ``n_picks`` seeded picks allocated to families in
    proportion to their size (largest remainder). The allocation and the
    order (targets as listed, then picks by name) do not depend on the
    seed, so every seed runs the same mix of families in the same JIT
    state; the seed draws only the picked members."""
    rng = random.Random(seed)
    by_family: dict[str, list[str]] = {}
    for n in sorted(all_queries()):
        if n not in TARGETS:
            by_family.setdefault(family(n), []).append(n)
    n_all = sum(len(v) for v in by_family.values())
    quota = {f: n_picks * len(v) / n_all for f, v in by_family.items()}
    alloc = {f: int(q) for f, q in quota.items()}
    by_remainder = sorted(quota, key=lambda f: (alloc[f] - quota[f], f))
    for f in by_remainder[: n_picks - sum(alloc.values())]:
        alloc[f] += 1
    picks = []
    for f in sorted(by_family):
        picks += rng.sample(by_family[f], alloc[f])
    return [*TARGETS, *sorted(picks)]


def reset(spark) -> None:
    """Clear the training memos (where they still exist) and the cache."""
    from icnarc_to_philips_linkage_spark import plans

    for mod_name, attrs in MEMOS.items():
        mod = getattr(plans, mod_name, None)
        for attr in attrs:
            memo = getattr(mod, attr, None)
            if memo is not None:
                memo.clear()
    spark.catalog.clearCache()


class Workload:
    """``registry-mix``: the targets plus a stratified sample, one pass."""

    DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
    PICKS = 1  # stratified picks on top of the targets

    def __init__(self, work: str, cache: str, seed: int):
        self.seed = seed
        self.sf_dir = os.path.join(self.DATA, "sf0.01")
        self.warm_dir = os.path.join(self.DATA, "sf0.001")
        self.oracle_dir = os.path.join(cache, "oracle")
        self.checked: dict[str, list[str]] = {}

    def warm_inputs(self, spark) -> None:
        pass  # the warm-up tables are committed

    def warm(self, spark, tracer) -> None:
        # first touches in the style of bench.py, on tables never timed
        from pyspark.sql import functions as F

        from icnarc_to_philips_linkage_spark.plans import tables

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        noop(tables.load(spark, self.warm_dir, "lineitem").limit(1000)
             .groupBy("l_returnflag").count())
        noop(tables.load(spark, self.warm_dir, "documents").limit(50).select(
            F.md5("text"),
            F.expr("aggregate(transform(split(text, ' '), x -> length(x)), 0, (a, x) -> a + x)")))
        for t in tables.TABLES:
            noop(tables.load(spark, self.warm_dir, t).limit(1))

    def prepare(self, spark) -> None:
        from icnarc_to_philips_linkage_spark.plans import tables

        digest = hashlib.sha256()
        for t in tables.TABLES:
            with open(os.path.join(self.sf_dir, f"{t}.parquet"), "rb") as f:
                digest.update(f.read())
        self.tables_key = digest.hexdigest()[:16]
        self.sample = sample(self.seed, self.PICKS)
        self.queries = all_queries()

    def passes(self):
        while True:
            yield self.sample

    def op(self, spark, name: str, tracer) -> pd.DataFrame:
        with tracer.span("plans.reset"):
            reset(spark)
        fn, _ = self.queries[name]
        with tracer.span("plans.build"):
            df = fn(spark, self.sf_dir)
        # the traced run plans here, so ``plans.exec`` excludes planning;
        # ``toPandas`` reuses this QueryExecution, so no work is added
        with tracer.span("plans.plan") as plan:
            if plan is not None:
                plan.update(tracer.catalyst_ms(df))
        with tracer.span("plans.exec"):
            return df.toPandas()

    def _oracle(self, name: str, sql: str) -> pd.DataFrame:
        from tests import oracle_harness

        key = hashlib.sha256(f"{self.tables_key}:{sql}".encode()).hexdigest()[:16]
        path = os.path.join(self.oracle_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = oracle_harness.run_oracle(sql, self.sf_dir)
        os.makedirs(self.oracle_dir, exist_ok=True)
        want.to_pickle(f"{path}.tmp{os.getpid()}")
        os.replace(f"{path}.tmp{os.getpid()}", path)
        return want

    def check(self, spark, name: str, got: pd.DataFrame) -> list[str]:
        """Compare the collected result with the DuckDB oracle, the way
        ``tests/oracle_harness.compare`` does; once per query per run."""
        from tests import oracle_harness

        if name not in self.checked:
            _, sql = self.queries[name]
            fails = []
            # without oracle SQL, collecting the rows is the whole check (rows-only)
            if sql is not None:
                want = self._oracle(name, sql)
                a, b = oracle_harness.canonicalize(got), oracle_harness.canonicalize(want)
                if sorted(got.columns) != sorted(want.columns):
                    fails.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
                elif len(a) != len(b):
                    fails.append(f"{name}: {len(a)} rows, oracle {len(b)}")
                elif a != b:
                    fails.append(f"{name}: {sum(x != y for x, y in zip(a, b))} rows differ")
            self.checked[name] = fails
        return self.checked[name]
