"""End-to-end pipeline entry points (SURVEY.md §3 EP1/EP2/EP3) — the
user-facing API a reference user switches to. Each pipeline is a lazy
DataFrame DAG whose stage outputs with more than one consumer are
persisted: one curation run asks for several sinks and reports, and
without the persists every action replays EP1, the XML parse and the
chartevents scan from the raw files. The persists are:

- EP1: ``philips_merged`` and ``linked`` (read by the icustays,
  philips_merged and cohort sinks, EP3's cohort keys and the
  validation and cohort reports);
- EP2: the patient records, read by Spark's XML source and folded to
  one ``map<code,text>`` column; the build-time presence scan fills the
  cache, so neither the sink nor the report reads the XML again;
- EP3: the decorated events (the chartevents sink and the frequency
  report).

Between the persists Catalyst still sees the whole chain. The first
action fills a cache and later actions read it. The returned frames
read the caches, so whoever runs the actions releases them with
``spark.catalog.clearCache()`` (the lifecycle in ``plans/tables.py``).
Each call owns its caches: Spark matches a cached file scan by its
path, not by the file's contents, so a call first drops any cache an
earlier call left on the same plan, and a rewritten input is read
afresh (``persist_fresh``).

Reference drivers re-expressed:
- EP1 linkage  <- clean_encounterids.py:293-303 + notebook cells 6-16
- EP2 ingest   <- parse_ICNARC_xml.py:77-83 + cells 14-27
- EP3 events   <- notebook cells 46-68
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from icnarc_to_philips_linkage_spark.functions.expressions import typed_value
from icnarc_to_philips_linkage_spark.operators import clean, dedup, derive, link
from icnarc_to_philips_linkage_spark.plans.tables import persist_fresh

# cell 51 (.ipynb:808): attributeIds whose value lives in valueString
STRING_VALUED_ATTRIBUTE_IDS = (
    16240, 6847, 6849, 6851, 8590, 34870, 34873, 8584, 3566, 25545,
)


def run_linkage_pipeline(
    icnarc_ids: DataFrame,
    philips: DataFrame,
    ww_errors: DataFrame,
    enc_errors: DataFrame,
    dedup_mode: str = "concat",
    strict_parity: bool = False,
) -> dict[str, DataFrame]:
    """EP1: clean both sides → merge Philips stay fragments → link →
    merge multi-episode stays. Returns every intermediate plus the
    validation report, keyed like the reference's variables; the two
    shared intermediates are persisted (module docstring)."""
    icnarc_clean = clean.clean_icnarc_cis_ids(
        icnarc_ids, ww_errors, strict_parity=strict_parity
    )
    philips_clean = clean.clean_philips_encounterids(philips, enc_errors)
    philips_merged = persist_fresh(dedup.combine_non_unique_philips_encounters(
        philips_clean, mode=dedup_mode
    ))
    linked = persist_fresh(link.join_icnarc_to_philips(icnarc_clean, philips_merged))
    icustays = dedup.combine_non_unique_encounters(linked, mode=dedup_mode)
    return {
        "icnarc_clean": icnarc_clean,
        "philips_merged": philips_merged,
        "linked": linked,
        "icustays": icustays,
        "validation": clean.validation_report(
            icnarc_clean, philips_merged, linked
        ),
    }


def run_icnarc_ingest(
    spark: SparkSession,
    xml_path: str,
    cmp_properties: DataFrame,
    datetime_pairs: Sequence[str] = derive.DATETIME_PAIRS,
) -> DataFrame:
    """EP2: XML → wide CMP table → unit decode → datetime combine →
    derived outcomes (out-time, mortality, age/LOS/BMI/sex). The parse
    persists the XML records and fills that cache before this returns."""
    from icnarc_to_philips_linkage_spark.sources.xml import parse_icnarc_xml

    wide = parse_icnarc_xml(spark, xml_path, cmp_properties)
    wide = derive.convert_unit_numbers(wide)
    wide = derive.combine_date_time_columns(wide, datetime_pairs)
    wide = derive.derive_icnarc_outtime(wide)
    wide = derive.derive_mortality(wide)
    return derive.derive_outcomes(wide)


def run_chartevents_pipeline(
    assessments: DataFrame,
    labs: DataFrame,
    cohort: DataFrame,
    interventions: DataFrame,
    cohort_mode: str = "semi",
    string_valued_ids: Sequence[int] = STRING_VALUED_ATTRIBUTE_IDS,
) -> DataFrame:
    """EP3: union the two EAV extracts → cohort restriction → typed-value
    resolution → harmonised-variable decoration. Returns the decorated
    long table, persisted, ready for the sinks and the profile/report
    operators."""
    events = assessments.unionByName(labs, allowMissingColumns=True)
    events = link.cohort_restrict(events, cohort, mode=cohort_mode)
    events = events.withColumn(
        "value",
        typed_value(
            "attributeId", list(string_valued_ids), "valueString", "valueNumber"
        ),
    )
    return persist_fresh(link.decorate_events(events, interventions))
