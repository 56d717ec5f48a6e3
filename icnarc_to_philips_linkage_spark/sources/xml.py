"""ICNARC WardWatcher XML ingest (SURVEY.md §2.1 S1/S2).

The reference parses the whole export with ElementTree on one machine
(parse_ICNARC_xml.py:27-43): for each ``<patient>`` element, collect
{tag → text} with XML namespaces stripped, then widen to one column per
CMP code present, named by the CMP dimension's Description.

Spark-first design:

- S1 is Spark's built-in XML source with ``rowTag`` = patient: prefixed
  and default namespaces are ignored, uncompressed exports split by row
  tag, and the schema (the CMP dimension's codes, all strings) is given,
  so reading plans no inference pass. Text is kept as written
  (``ignoreSurroundingSpaces`` off); a malformed export fails the read
  (``FAILFAST``) rather than folding valid patients into a corrupt row.
- The per-code columns fold into one ``MapType`` column (code → text)
  holding only the non-blank values, as the reference keeps only
  children with text; a patient with none gives no row.
- The wide projection is *schema work*, not data work: the CMP
  dimension drives a select-with-aliases, and code-presence pruning
  (parse_ICNARC_xml.py:47-49) is a map_keys aggregation, not a rescan.
- ``parse_icnarc_xml`` persists the map frame before the presence
  scan, so the scan fills the cache that the EP2 sink and reports then
  read: one curation run parses the XML once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from icnarc_to_philips_linkage_spark.plans.tables import persist_fresh

XML_OPTIONS = {
    "rowTag": "patient",
    "ignoreNamespace": "true",
    "ignoreSurroundingSpaces": "false",
    "mode": "FAILFAST",
}


def read_icnarc_xml_raw(
    spark: SparkSession, path: str, codes: list[str]
) -> DataFrame:
    """S1: distributed XML scan → one row per patient with a
    ``cmp: map<string,string>`` column of its non-blank ``codes``."""
    schema = StructType([StructField(c, StringType()) for c in codes])
    scan = spark.read.format("xml").options(**XML_OPTIONS).schema(schema).load(path)
    cmp = F.map_filter(
        F.map_from_arrays(
            F.array(*map(F.lit, codes)), F.array(*(F.col(f"`{c}`") for c in codes))
        ),
        lambda _, v: v.isNotNull() & ~v.rlike(r"^\s*$"),
    )
    return scan.select(cmp.alias("cmp")).filter(F.size("cmp") > 0)


def present_codes(raw: DataFrame) -> list[str]:
    """Codes that occur in at least one record — the reference's
    presence scan (parse_ICNARC_xml.py:47-49) as one distinct-keys
    aggregation."""
    return [
        r.code
        for r in raw.select(
            F.explode(F.map_keys("cmp")).alias("code")
        )
        .distinct()
        .collect()
    ]


def widen_by_cmp(raw: DataFrame, mapping: list[tuple[str, str]]) -> DataFrame:
    """S2: wide-table construction — one column per present CMP code,
    named by its Description in the collected CMP dimension ``mapping``
    of (CODE, Description) pairs (parse_ICNARC_xml.py:45-62). Absent
    codes are pruned (schema work only)."""
    present = set(present_codes(raw))
    cols = [
        F.col("cmp")[code].alias(desc)
        for code, desc in mapping
        if code in present
    ]
    if not cols:
        raise ValueError("no CMP codes from the dimension are present")
    return raw.select(*cols)


def parse_icnarc_xml(
    spark: SparkSession, path: str, cmp_properties: DataFrame
) -> DataFrame:
    """End-to-end S1+S2: XML → wide string-typed CMP DataFrame (the
    reference's ``parse_icnarc_xml``, parse_ICNARC_xml.py:22-64). The
    CMP dimension is tiny (hundreds of rows) and is collected once: its
    codes are the read schema and its descriptions the column names.
    The returned frame reads the persisted records; the caller releases
    them with ``spark.catalog.clearCache()``. ``persist_fresh`` drops a
    cache an earlier call left on the same path, so an export rewritten
    in place is read afresh."""
    mapping = [
        (r["CODE"], r["Description"])
        for r in cmp_properties.select("CODE", "Description").collect()
    ]
    raw = persist_fresh(read_icnarc_xml_raw(spark, path, [c for c, _ in mapping]))
    return widen_by_cmp(raw, mapping)
