"""Trained-artifact memo (``plans.tables.trained``): consumers share one
artifact while its source tables are unchanged, and a table rewritten
at the same path retrains instead of serving stale weights or merges."""

from __future__ import annotations

import shutil

from icnarc_to_philips_linkage_spark.plans import llm, relational
from icnarc_to_philips_linkage_spark.plans.registry import all_queries
from icnarc_to_philips_linkage_spark.plans.tables import TABLES
from tests.conftest import SF_T2
from tests.oracle_harness import compare, run_oracle

SF_SMALL = "/root/testdata/sf0.001"
QUERIES = ("ml_quantile_reg", "text_bpe_encode")


def test_rewritten_table_retrains(spark, tmp_path):
    sf = str(tmp_path)
    for t in TABLES:
        shutil.copyfile(f"{SF_SMALL}/{t}.parquet", f"{sf}/{t}.parquet")
    registry = all_queries()

    def check_against_oracle():
        for name in QUERIES:
            fn, sql = registry[name]
            spark.catalog.clearCache()
            compare(fn(spark, sf), run_oracle(sql, sf), name)

    check_against_oracle()
    # unchanged files: every consumer gets the one trained artifact
    qr = relational._qr_trajectory(spark, sf)
    merges = llm._bpe_merge_rows(spark, sf)
    assert relational._qr_trajectory(spark, sf) is qr
    assert llm._bpe_merge_rows(spark, sf) is merges

    for t in ("lineitem", "documents"):
        shutil.copyfile(f"{SF_T2}/{t}.parquet", f"{sf}/{t}.parquet")
    check_against_oracle()
    assert relational._qr_trajectory(spark, sf) != qr
    assert llm._bpe_merge_rows(spark, sf) != merges
