"""The curation workloads: one operation is the paper's full curation run,
EP1 linkage → EP2 ICNARC XML ingest → EP3 chartevents → sinks → cohort
reports, through the engine's public functions only.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark import pipelines
from icnarc_to_philips_linkage_spark.operators import link, profile, reports
from icnarc_to_philips_linkage_spark.sources import readers, writers

IDS_SCHEMA = (
    "`ICNARC number` long, `Unit ID` int, `CIS Patient ID` long, `CIS Episode ID` long, "
    "`Readmission during this hospital stay` string, `Key` long"
)
WW_SCHEMA = "`ICNARC Number` long, `Unit ID` int, `Corrected encID` long"
ENC_ERR_SCHEMA = (
    "encounterId_CIS long, encounterId_Adjusted long, clinicalUnitId double, Explanation string"
)
CMP_SCHEMA = "CODE string, Description string"
INTERVENTIONS_SCHEMA = (
    "Variable string, `Intervention name (longLabel)` string, interventionId long, "
    "`Attribute name (shortLabel)` string, attributeId long, "
    "`Back end location (ICCA table)` string, `Frontend Source` string"
)
PHILIPS_SCHEMA = (
    "encounterId long, ptCensusId long, age int, inTime string, outTime string, "
    "tNumber string, `lengthOfStay (mins)` double, gender string"
)
EVENTS_SCHEMA = (
    "encounterId long, chartTime string, storeTime string, interventionId long, "
    "attributeId long, valueNumber double, valueString string"
)
SINKS = ("icustays", "philips_merged", "icnarc_cohort", "chartevents")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_curation(spark, inp: str, out: str, tracer) -> dict:
    """One curation run over the export in ``inp``; parquet sinks go to
    ``out``. Returns the collected report rows. In the traced run each
    stage's output is also materialized on its own, in order, so that
    EP1, EP2 and EP3 (one lazy DAG) get an execution time each."""
    p = lambda name: os.path.join(inp, name)  # noqa: E731
    with tracer.span("sources.readers"):
        ids = readers.read_csv(spark, p("icnarc_ids.csv"), schema=IDS_SCHEMA)
        ww = readers.read_csv(spark, p("issue_ww.csv"), schema=WW_SCHEMA)
        enc_err = readers.read_csv(spark, p("issue_encounterid.csv"), schema=ENC_ERR_SCHEMA)
        cmp = readers.read_csv(spark, p("cmp_properties.csv"), schema=CMP_SCHEMA)
        key = readers.read_csv(spark, p("interventions_key.csv"), schema=INTERVENTIONS_SCHEMA)
        philips = readers.read_tsv_report(
            spark, p("encounter_summary.rpt"), "encounterId",
            schema=PHILIPS_SCHEMA, date_cols=["inTime", "outTime"])
        assess, labs = (
            readers.read_tsv_report(spark, p(name), "encounterId", schema=EVENTS_SCHEMA,
                                    date_cols=["chartTime", "storeTime"])
            for name in ("ptassess.rpt", "labresults.rpt"))
    with tracer.span("pipelines.ep1.build"):
        ep1 = pipelines.run_linkage_pipeline(ids, philips, ww, enc_err)
    with tracer.span("pipelines.ep2.build"):
        wide = pipelines.run_icnarc_ingest(spark, p("icnarc_xml"), cmp)
        icnarc = link.link_wide_cmp(ep1["linked"], wide)
    with tracer.span("pipelines.ep3.build"):
        events = pipelines.run_chartevents_pipeline(
            assess, labs, ep1["linked"].select("encounterId"), key)
    frames = {
        "icustays": ep1["icustays"],
        "philips_merged": ep1["philips_merged"],
        "icnarc_cohort": icnarc,
        "chartevents": events,
    }
    report_frames = {
        "philips": reports.philips_summary(ep1["philips_merged"]),
        "icnarc": reports.icnarc_summary(icnarc),
        "validation": ep1["validation"],
        "variables": profile.frequency_table(events, "Variable"),
    }
    if tracer.enabled:
        # Catalyst phases are read before any action touches the frames
        catalyst = sum(sum(tracer.catalyst_ms(df).values())
                       for df in (*frames.values(), *report_frames.values()))
        tracer.spans.append({"name": "pipelines.catalyst", "catalyst_ms": catalyst})
        for stage, df in (("ep1", ep1["icustays"]), ("ep2", wide), ("ep3", events)):
            with tracer.span(f"pipelines.{stage}.exec"):
                _noop(df)
    with tracer.span("sources.writers"):
        for name in SINKS:
            writers.write_parquet(frames[name], os.path.join(out, name))
    with tracer.span("operators.reports"):
        got = {name: [r.asDict() for r in df.collect()] for name, df in report_frames.items()}
    return got


def _close(a, b, rel: float = 1e-9) -> bool:
    return a is not None and b is not None and math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


def check_curation(spark, out: str, got: dict, truth: dict,
                   observed: dict | None = None) -> list[str]:
    """Compare one run's sinks and reports with the planted truth.
    Returns the failed checks (empty when the run is correct); the
    chartevents rows written land in ``observed["rows_out"]``."""
    fails: list[str] = []

    def expect(name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            fails.append(f"{name} {detail}".strip())

    t1, t3, rep = truth["ep1"], truth["ep3"], truth["reports"]
    stays = spark.read.parquet(os.path.join(out, "icustays"))
    row = stays.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("`CIS Patient ID Original`").alias("keys"),
        F.sum("`lengthOfStay (mins)`").alias("los"),
    ).first()
    expect("icustays.rows", row.n == t1["icustays"], f"{row.n} != {t1['icustays']}")
    expect("icustays.unique_keys", row.keys == row.n, f"{row.keys} keys for {row.n} rows")
    expect("icustays.los", _close(row.los, t1["icustays_los_total"]),
           f"{row.los} != {t1['icustays_los_total']}")

    merged = spark.read.parquet(os.path.join(out, "philips_merged"))
    row = merged.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("`lengthOfStay (mins)`").alias("los")).first()
    expect("philips_merged.rows", row.n == t1["philips_rows"], f"{row.n} != {t1['philips_rows']}")
    expect("philips_merged.los_conserved", _close(row.los, t1["philips_los_total"]),
           f"{row.los} != {t1['philips_los_total']}")

    cohort = spark.read.parquet(os.path.join(out, "icnarc_cohort"))
    row = cohort.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("mortality_status") == "D", 1)).alias("dead"),
        F.count(F.when(F.col("mortality_status").isNull(), 1)).alias("status_null"),
        F.count(F.when(F.col("icnarc_outTime").isNull(), 1)).alias("out_null"),
    ).first()
    t2 = truth["ep2"]
    expect("icnarc_cohort.rows", row.n == t2["linked_records"], f"{row.n} != {t2['linked_records']}")
    expect("icnarc_cohort.dead", row.dead == t2["mortality_dead_linked"],
           f"{row.dead} != {t2['mortality_dead_linked']}")
    expect("icnarc_cohort.status_null", row.status_null == t2["mortality_null_linked"],
           f"{row.status_null} != {t2['mortality_null_linked']}")
    expect("icnarc_cohort.outtime_residual", row.out_null == 0, f"{row.out_null} null out-times")

    events = spark.read.parquet(os.path.join(out, "chartevents"))
    row = events.agg(F.count(F.lit(1)).alias("n"),
                     F.countDistinct("encounterId").alias("stays")).first()
    if observed is not None:
        observed["rows_out"] = row.n
    expect("chartevents.rows_out", row.n == t3["rows_out"], f"{row.n} != {t3['rows_out']}")
    expect("chartevents.rows_conserved", row.n + t3["rows_filtered"] == t3["rows_in"],
           f"{row.n} + {t3['rows_filtered']} != {t3['rows_in']}")
    expect("chartevents.stays", row.stays == t3["cohort_stays_with_events"],
           f"{row.stays} != {t3['cohort_stays_with_events']}")

    v = got["validation"][0]
    expect("validation", (v["icnarc_rows"], v["icnarc_null_keys"], v["philips_rows"],
                          v["linked_rows"]) == (t1["icnarc_rows"], t1["icnarc_null_keys"],
                                                t1["philips_rows"], t1["linked_rows"]), str(v))
    ph, want = got["philips"][0], rep["philips"]
    expect("report.philips.counts", (ph["n_stays"], ph["n_male"], ph["n_gender_missing"])
           == (want["n_stays"], want["n_male"], want["n_gender_missing"]), str(ph))
    expect("report.philips.age", all(_close(ph[f"age_{q}"], w) for q, w in
                                     zip(("p25", "median", "p75"), want["age"])), str(ph))
    expect("report.philips.los", all(_close(ph[f"los_days_{q}"], w) for q, w in
                                     zip(("p25", "median", "p75"), want["los_days"])), str(ph))
    ic, want = got["icnarc"][0], rep["icnarc"]
    expect("report.icnarc.counts", (ic["n_stays"], ic["n_readm_missing"])
           == (want["n_stays"], want["n_readm_missing"]), str(ic))
    expect("report.icnarc.rates", _close(ic["male_rate"], want["male_rate"])
           and _close(ic["readmission_rate"], want["readmission_rate"]), str(ic))
    expect("report.icnarc.age", all(_close(ic[f"age_{q}"], w) for q, w in
                                    zip(("p25", "median", "p75"), want["age"])), str(ic))
    expect("report.icnarc.los", all(_close(ic[f"los_days_{q}"], w) for q, w in
                                    zip(("p25", "median", "p75"), want["los_days"])), str(ic))
    var = {(r["Variable"] or "<null>"): r["n"] for r in got["variables"]}
    expect("report.variables", var == t3["variable_counts"], "per-Variable counts differ")
    return fails


class Workload:
    """``curate-small``: one operation is one curation run over a 2k-stay,
    100k-row export; every run's outputs are checked against the truth.
    The warm-up export is fixed, so it is generated once per checkout."""

    SIZE = (2_000, 100_000)  # stays, chartevents rows
    WARM_SIZE, WARM_SEED = (60, 3_000), 1_000_003

    def __init__(self, work: str, cache: str, seed: int):
        self.work, self.seed = work, seed
        self.warm_dir = os.path.join(cache, "curation-warm-v1")
        self.inp = os.path.join(work, "inputs")
        self.out = os.path.join(work, "outputs")
        self.rows_out = 0

    def warm_inputs(self, spark) -> None:
        from perfbench import gen_curation
        from perfbench.cache import build_once

        build_once(self.warm_dir, lambda tmp: gen_curation.generate(
            spark, tmp, self.WARM_SEED, *self.WARM_SIZE))

    def warm(self, spark, tracer) -> None:
        run_curation(spark, self.warm_dir, os.path.join(self.work, "warm-out"), tracer)

    def prepare(self, spark) -> None:
        from perfbench import gen_curation

        self.truth = gen_curation.generate(spark, self.inp, self.seed, *self.SIZE)

    def passes(self):
        while True:
            yield [None]  # one operation per pass

    def op(self, spark, _, tracer) -> dict:
        return run_curation(spark, self.inp, self.out, tracer)

    def check(self, spark, _, result: dict) -> list[str]:
        observed: dict = {}
        fails = check_curation(spark, self.out, result, self.truth, observed)
        self.rows_out = observed.get("rows_out", 0)
        return fails
