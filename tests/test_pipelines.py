"""EP1/EP2/EP3 composite pipelines through the public API, reusing the
golden fixtures (EP2's derivations are covered by test_sources +
test_reference_pipeline derive tests), and the stage persists: each
stage output with several consumers is cached, and the caller's
``spark.catalog.clearCache()`` releases it."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark import pipelines
from icnarc_to_philips_linkage_spark.sources import readers
from tests.test_reference_pipeline import (  # noqa: F401 (fixtures)
    chartevents,
    enc_errors,
    icnarc,
    interventions_key,
    philips,
    ww_errors,
)


@pytest.fixture(autouse=True)
def release_caches(spark):
    """The pipelines' returned frames read persisted stages; release
    them the way every runner does, before and after each test."""
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def reads_cache(df) -> bool:
    return "InMemoryRelation" in df._jdf.queryExecution().optimizedPlan().toString()


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_linkage_pipeline_end_to_end(spark, icnarc, philips, ww_errors, enc_errors):
    before = persistent_rdd_ids(spark)
    out = pipelines.run_linkage_pipeline(icnarc, philips, ww_errors, enc_errors)
    # philips_merged and linked are persisted: the sinks and reports
    # of one run read them instead of replaying EP1
    assert reads_cache(out["icustays"])
    assert reads_cache(out["validation"])
    assert out["icustays"].count() == 3
    v = out["validation"].collect()[0]
    assert v["linked_rows"] == 4
    stays = {r["CIS Patient ID Original"] for r in out["icustays"].collect()}
    assert stays == {101, 9001, 105}
    assert persistent_rdd_ids(spark) - before, "EP1 cached nothing"
    spark.catalog.clearCache()
    assert not persistent_rdd_ids(spark) - before, "clearCache left a stage cache"


def test_chartevents_pipeline_end_to_end(
    spark, chartevents, interventions_key, philips, enc_errors, ww_errors, icnarc
):
    linkage = pipelines.run_linkage_pipeline(
        icnarc, philips, ww_errors, enc_errors
    )
    cohort = linkage["philips_merged"].select("encounterId")
    assessments = chartevents.filter(F.col("attributeId") != 16240)
    labs = chartevents.filter(F.col("attributeId") == 16240)
    out = pipelines.run_chartevents_pipeline(
        assessments, labs, cohort, interventions_key
    )
    assert reads_cache(out)
    rows = out.collect()
    assert {r.encounterId for r in rows} == {101, 102}
    by_var = {r.Variable for r in rows}
    assert by_var == {"Heart Rate", "Airway"}
    airway = [r for r in rows if r.Variable == "Airway"][0]
    assert airway.value == "Intubated"


CMP_CODES = [
    ("ICNARCNO", "ICNARC Number"), ("CMPNO", "ICNARC CMP Number"),
    ("SEX", "Sex"), ("DOB", "Date of Birth"),
    ("HT", "Height in cm"), ("WT", "Weight in kg"),
    ("DAU", "Date of admission to your unit"),
    ("TAU", "Time of admission to your unit"),
    ("DDU", "Date of discharge from your unit"),
    ("TDU", "Time of discharge from your unit"),
    ("SDU", "Status at discharge from your unit"),
]


def write_export(path, icnarc_numbers) -> None:
    body = "".join(
        f"<patient><ICNARCNO>{n}</ICNARCNO><CMPNO>H91</CMPNO><SEX>F</SEX>"
        "<DOB>1966-01-01</DOB><HT>170</HT><WT>68</WT>"
        "<DAU>2016-01-01</DAU><TAU>08:00:00</TAU>"
        "<DDU>2016-01-05</DDU><TDU>10:00:00</TDU><SDU>A</SDU></patient>"
        for n in icnarc_numbers
    )
    path.write_text(f'<?xml version="1.0"?>\n<export>{body}</export>')


def test_icnarc_ingest_fills_xml_cache(spark, tmp_path):
    """The parsed records are persisted before the presence scan, so
    the scan inside run_icnarc_ingest fills the cache: the frame it
    returns reads cached partitions before the caller runs an action."""
    dim = spark.createDataFrame([Row(CODE=c, Description=d) for c, d in CMP_CODES])
    p = tmp_path / "export.xml"
    write_export(p, [2015001, 2015002])
    before = persistent_rdd_ids(spark)
    sc = spark.sparkContext._jsc.sc()

    out = pipelines.run_icnarc_ingest(spark, str(p), dim)

    assert reads_cache(out)
    filled = [
        info for info in sc.getRDDStorageInfo()
        if info.id() not in before and info.numCachedPartitions() > 0
    ]
    assert filled, "the presence scan did not fill the XML cache"
    assert all(i.numCachedPartitions() == i.numPartitions() for i in filled)
    assert sorted(r["ICNARC number"] for r in out.collect()) == [2015001, 2015002]
    spark.catalog.clearCache()
    assert not persistent_rdd_ids(spark) - before, "clearCache left the XML cache"


def test_icnarc_ingest_rereads_rewritten_export(spark, tmp_path):
    """The XML records are a cached file scan, matched by path: an
    export rewritten in place is read afresh by the next EP2 call, and
    the replaced cache does not pile up."""
    dim = spark.createDataFrame([Row(CODE=c, Description=d) for c, d in CMP_CODES])
    p = tmp_path / "export.xml"
    before = persistent_rdd_ids(spark)

    def icnarc_numbers() -> list[int]:
        out = pipelines.run_icnarc_ingest(spark, str(p), dim)
        return sorted(r["ICNARC number"] for r in out.collect())

    write_export(p, [2015001, 2015002])
    assert icnarc_numbers() == [2015001, 2015002]
    cached = persistent_rdd_ids(spark) - before
    assert cached, "EP2 cached nothing"

    write_export(p, [2015003])
    assert icnarc_numbers() == [2015003], "stale rows from an earlier call's cache"
    assert len(persistent_rdd_ids(spark) - before) == len(cached)
    spark.catalog.clearCache()
    assert not persistent_rdd_ids(spark) - before, "clearCache left the XML cache"


def test_icnarc_ingest_fails_on_malformed_export(spark, tmp_path):
    """A mismatched tag fails the ingest instead of dropping or folding
    patients into a corrupt record."""
    dim = spark.createDataFrame([Row(CODE=c, Description=d) for c, d in CMP_CODES])
    p = tmp_path / "export.xml"
    write_export(p, [2015001, 2015002, 2015003])
    p.write_text(p.read_text().replace("<CMPNO>H91</CMPNO>", "<CMPNO>H91</SEX>", 1))
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        pipelines.run_icnarc_ingest(spark, str(p), dim)


PHILIPS_SCHEMA = (
    "encounterId long, ptCensusId long, age int, inTime string, outTime string, "
    "tNumber string, `lengthOfStay (mins)` double, gender string"
)


def write_philips_rpt(path, rows) -> None:
    header = "encounterId\tptCensusId\tage\tinTime\toutTime\ttNumber\tlengthOfStay (mins)\tgender"
    lines = [header, *("\t".join(map(str, r)) for r in rows)]
    path.write_text("\n".join(lines) + f"\n\n({len(rows)} rows affected)\n")


def test_linkage_rereads_rewritten_input(
    spark, tmp_path, icnarc, ww_errors, enc_errors
):
    """Spark matches a cached file scan by its path, not by the file's
    contents. Each EP1 call drops the stage caches an earlier call left
    on the same path, so an input rewritten in place is read afresh and
    the replaced caches do not pile up; ``clearCache()`` releases the
    rest, and the next call still reads the file as it is."""
    rpt = tmp_path / "encounter_summary.rpt"
    before = persistent_rdd_ids(spark)

    def icustays() -> set[int]:
        philips = readers.read_tsv_report(
            spark, str(rpt), "encounterId", schema=PHILIPS_SCHEMA,
            date_cols=["inTime", "outTime"])
        out = pipelines.run_linkage_pipeline(icnarc, philips, ww_errors, enc_errors)
        return {r["CIS Patient ID Original"] for r in out["icustays"].collect()}

    stay_101 = (101, 1, 50, "2016-01-01 10:00:00", "2016-01-05 10:00:00", "T1", 5760.0, "Male")
    stay_105 = (105, 4, 44, "2016-03-10 12:00:00", "2016-03-12 12:00:00", "T4", 2880.0, "Female")
    write_philips_rpt(rpt, [stay_101, stay_105])
    assert icustays() == {101, 105}
    cached = persistent_rdd_ids(spark) - before
    assert cached, "EP1 cached nothing"

    write_philips_rpt(rpt, [stay_101])
    assert icustays() == {101}, "stale rows from an earlier call's cache"
    assert len(persistent_rdd_ids(spark) - before) == len(cached)
    spark.catalog.clearCache()
    assert not persistent_rdd_ids(spark) - before, "clearCache left a stage cache"
    assert icustays() == {101}
