"""Seeded generator for the curation workloads, with planted truth.

Writes the raw files the reference pipeline reads (FIXTURES.md §1-6):

- ``icnarc_ids.csv``          ICNARC numbers and CIS link keys (§1)
- ``encounter_summary.rpt``   Philips encounter extract, TSV with footer (§2)
- ``issue_ww.csv``            issue-list sheet ``WW`` (§3; CSV because no
                              Excel engine is installed)
- ``issue_encounterid.csv``   issue-list sheet ``encounterId`` (§3)
- ``icnarc_xml/part-*.xml``   namespaced WardWatcher export over several files (§4)
- ``cmp_properties.csv``      CODE → Description dimension (§4)
- ``ptassess.rpt/``, ``labresults.rpt/``  chartevents EAV extracts, TSV with footer (§5)
- ``interventions_key.csv``   harmonisation dimension (§6)

Stay-level records come from ``random.Random(seed)``; the chartevents rows
come from ``spark.range``: each row's stay and variable are modular
arithmetic on its id (so numpy counts the truth without a Spark job), its
times and values come from ``xxhash64(seed, id, salt)``. Every
quirk is planted at a known rate and its count, together with every figure
the output checks compare against, goes to ``truth.json``. The truth is
computed here from the generator's own records, never by the engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np

SECONDS_PER_YEAR = 365.25 * 24 * 3600
STRING_VALUED_IDS = (16240, 6847, 6849, 6851, 8590, 34870, 34873, 8584, 3566, 25545)
EPOCH = dt.datetime(1970, 1, 1)
BASE = dt.datetime(2015, 1, 1)

# CMP CODE → Description; the codes the exports carry
CMP_FIELDS = [
    ("CMP0001", "ICNARC Number"),
    ("CMP0002", "ICNARC CMP Number"),
    ("CMP0010", "Sex"),
    ("CMP0011", "Date of Birth"),
    ("CMP0012", "Height in cm"),
    ("CMP0013", "Weight in kg"),
    ("CMP0020", "Date of admission to your unit"),
    ("CMP0021", "Time of admission to your unit"),
    ("CMP0022", "Date of discharge from your unit"),
    ("CMP0023", "Time of discharge from your unit"),
    ("CMP0024", "Date when fully ready to discharge"),
    ("CMP0025", "Time when fully ready to discharge"),
    ("CMP0026", "Date of death"),
    ("CMP0027", "Time of death"),
    ("CMP0028", "Date of declaration of brainstem death"),
    ("CMP0029", "Time of declaration of brainstem death"),
    ("CMP0030", "Date body removed from your unit"),
    ("CMP0031", "Time body removed from your unit"),
    ("CMP0040", "Status at discharge from your unit"),
    ("CMP0041", "Status at discharge from your hospital"),
    ("CMP0042", "Status at ultimate discharge from hospital"),
    ("CMP0050", "Primary reason for admission to your unit"),
    ("CMP0051", "Secondary reason for admission to your unit"),
    ("CMP0052", "Admission Type"),
    ("CMP0053", "Reason for discharge from your unit"),
]
FILLER_CODES = [(f"CMP{100 + i:04d}", f"Filler item {i}") for i in range(30)]
# in the dimension but never in an export: the presence-pruning path
ABSENT_CODES = [(f"CMP{900 + i:04d}", f"Retired item {i}") for i in range(5)]
REASON_CODES = [
    "1.1.4.39.1", "2.1.2.27.1", "2.2.13.26.1", "1.2.1.14.2", "2.3.3.22.1",
    "1.7.1.13.1", "2.2.1.14.1", "1.1.1.22.1", "2.7.1.13.1", "1.3.3.10.1",
    "2.1.4.27.1", "1.2.4.10.1", "2.6.1.26.1", "1.6.1.16.1",
]

VARIABLES = [
    "Heart Rate", "SpO2", "GCS", "FiO2", "Arterial BP Mean", "Arterial BP Systolic",
    "Arterial BP Diastolic", "Respiratory Rate", "Temperature", "CVP", "Urine Output",
    "Airway", "GCS Motor", "GCS Verbal", "GCS Eyes", "Pain Scale (VAS) (on movement)",
    "Pain Scale (VAS)", "Access (Arterial) Pressure", "Serum sodium", "Serum potassium",
    "Creatinine", "Urea", "Haemoglobin", "White cell count", "Platelets", "Lactate", "pH",
]
LAB_VARIABLES = set(VARIABLES[18:])
ICNARC_NS = "urn:icnarc:cmp:2015"
XML_FILES = 4  # the export is spread over this many files


def _interventions() -> list[dict]:
    """96 key rows, several id-pairs per Variable; attributeId 16240
    ('Value') recurs across interventions, so only the composite key is
    unique (FIXTURES.md §6)."""
    rows = []
    i = 0
    while len(rows) < 96:
        var = VARIABLES[i % len(VARIABLES)]
        n = i // len(VARIABLES)
        lab = var in LAB_VARIABLES
        iid = 3000 + i
        if i % 9 == 0:
            aid = 16240
        elif i % 13 == 0:
            aid = STRING_VALUED_IDS[1 + (i // 13) % 9]
        else:
            aid = 600 + i
        rows.append({
            "Variable": var,
            "Intervention name (longLabel)": f"{var} intervention {n}",
            "interventionId": iid,
            "Attribute name (shortLabel)": "Value" if aid == 16240 else f"{var} attr {n}",
            "attributeId": aid,
            "Back end location (ICCA table)": "PtLabResult" if lab else "PtAssessment",
            "Frontend Source": (["Lab", "Free Form Lab", "Arterial Blood Gas"][i % 3]
                                if lab else None),
        })
        i += 1
    return rows


def _fmt(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _percentiles(values: list[float]) -> list[float]:
    """Linear-interpolated p25/p50/p75, the semantics of Spark's exact
    ``percentile`` and ``np.percentile``."""
    return [float(x) for x in np.percentile(np.asarray(values, dtype=float), [25, 50, 75])]


def _csv_cell(v) -> str:
    return "" if v is None else str(v)


def _write_csv(path: str, header: list[str], rows: list[list], sep: str = ",") -> None:
    with open(path, "w") as f:
        f.write(sep.join(header) + "\n")
        for r in rows:
            f.write(sep.join(_csv_cell(v) for v in r) + "\n")


def _footer(n_rows: int) -> str:
    """The five non-data lines an SQL Server ``.rpt`` export ends with."""
    return f"\n({n_rows} rows affected)\n\nCompletion time: 2019-01-01T00:00:00\n\n"


def _stays(seed: int, n_stays: int) -> list[dict]:
    rng = random.Random(seed)
    out = []
    for i in range(n_stays):
        los = rng.randint(360, 20000)
        n_frag = 1 if rng.random() >= 0.06 else rng.choice((2, 3))
        status_null = rng.random() < 0.02
        out.append({
            "i": i,
            "unit": 14 if rng.random() < 0.10 else 1,
            "key": rng.choices(("ok", "wrong", "null"), (0.94, 0.04, 0.02))[0],
            "n_frag": n_frag,
            "episodes": 2 if rng.random() < 0.03 else 1,
            "dead": rng.random() < 0.12,
            "status_null": status_null,
            "gender": rng.choices(("Male", "Female", None), (0.5, 0.45, 0.05))[0],
            "age": rng.randint(18, 95),
            "in": BASE + dt.timedelta(minutes=rng.randint(0, 3 * 365 * 1440)),
            "los": los,
            # fragment cut points (minutes into the stay)
            "cuts": sorted(rng.sample(range(60, los - 60), n_frag - 1)),
            "height": rng.choices(("num", "bad", None), (0.94, 0.03, 0.03))[0],
            "height_cm": rng.randint(145, 200),
            "weight_kg": rng.randint(40, 150),
            "cl8": n_frag == 1 and rng.random() < 0.02,
            "keep_orig": n_frag == 1 and rng.random() < 0.01,
            "zero_events": rng.random() < 0.03,
            "reasons": (rng.choice(REASON_CODES), rng.choice(REASON_CODES)),
            "adm_type": rng.choice("LUPSMR"),
            "disch_reason": rng.choice("NCMRPS"),
            "fillers": [c for c, _ in FILLER_CODES if rng.random() < 0.1],
        })
    return out


def _enc_id(s: dict) -> int:
    return 5_000_000 + s["i"]


def _link_key(s: dict) -> int | None:
    return {"ok": _enc_id(s), "wrong": 9_000_000 + s["i"], "null": None}[s["key"]]


def _admit(s: dict, episode: int) -> dt.datetime:
    """Unit admission of an ICNARC record; a readmission starts mid-stay."""
    return s["in"] + dt.timedelta(minutes=s["los"] // 2 if episode == 2 else 0)


def _dob(s: dict, episode: int) -> dt.datetime:
    """Date of birth; written as a bare date, so it parses to midnight."""
    d = _admit(s, episode) - dt.timedelta(days=int(s["age"] * 365.25) + 17)
    return dt.datetime(d.year, d.month, d.day)


def _xml_record(s: dict, episode: int, rng: random.Random) -> dict[str, str]:
    """CMP code → text for one ICNARC record."""
    admit, dob = _admit(s, episode), _dob(s, episode)
    out_t = s["in"] + dt.timedelta(minutes=s["los"])
    rec = {
        "CMP0001": str(_icnarc_number(s, episode)),
        "CMP0002": "B16" if s["unit"] == 14 else "H91",
        "CMP0011": dob.strftime("%Y-%m-%d"),
        "CMP0013": str(s["weight_kg"]),
        "CMP0020": admit.strftime("%Y-%m-%d"),
        "CMP0021": admit.strftime("%H:%M"),
        "CMP0050": s["reasons"][0],
        "CMP0051": s["reasons"][1],
        "CMP0052": s["adm_type"],
        "CMP0053": s["disch_reason"],
    }
    if s["gender"] is not None:
        rec["CMP0010"] = "F" if s["gender"] == "Female" else "M"
    if s["height"] == "num":
        rec["CMP0012"] = str(s["height_cm"])
    elif s["height"] == "bad":
        rec["CMP0012"] = "not recorded"
    if s["dead"]:
        removed = out_t + dt.timedelta(minutes=30)
        rec.update({
            "CMP0026": out_t.strftime("%Y-%m-%d"), "CMP0027": out_t.strftime("%H:%M"),
            "CMP0030": removed.strftime("%Y-%m-%d"), "CMP0031": removed.strftime("%H:%M"),
        })
        if s["i"] % 10 == 0:
            rec.update({"CMP0028": out_t.strftime("%Y-%m-%d"),
                        "CMP0029": out_t.strftime("%H:%M")})
        status = "D"
    else:
        ready = out_t - dt.timedelta(minutes=60)
        rec.update({
            "CMP0022": out_t.strftime("%Y-%m-%d"), "CMP0023": out_t.strftime("%H:%M"),
            "CMP0024": ready.strftime("%Y-%m-%d"), "CMP0025": ready.strftime("%H:%M"),
        })
        status = "A"
    if not s["status_null"]:
        rec["CMP0040"] = status
        rec["CMP0041"] = status
        if rng.random() < 0.8:
            rec["CMP0042"] = status
    for c in s["fillers"]:
        rec[c] = f"v{rng.randint(0, 9)}"
    return rec


def _icnarc_number(s: dict, episode: int) -> int:
    return (1_000_000 if episode == 1 else 1_500_000) + s["i"]


def _readmission(s: dict, episode: int) -> str | None:
    return "Yes" if episode == 2 else (None if s["i"] % 17 == 0 else "No")


def _linked(s: dict) -> bool:
    """The stay links (so its encounter is in the EP3 cohort): not
    cardiac, and a link key that is right or corrected."""
    return s["unit"] == 1 and s["key"] != "null"


def _xml_outtime(s: dict) -> dt.datetime:
    """icnarc_outTime as the pipeline derives it: unit discharge, else body
    removed (minute resolution, as written)."""
    out_t = s["in"] + dt.timedelta(minutes=s["los"])
    return out_t + dt.timedelta(minutes=30) if s["dead"] else out_t


def _write_xml(path: str, stays: list[dict], seed: int, n_files: int) -> int:
    """Write the export over ``n_files`` files; half use a prefixed
    namespace, half a default namespace. Returns total bytes."""
    os.makedirs(path, exist_ok=True)
    rng = random.Random(seed ^ 0x5A17)
    records = [
        _xml_record(s, ep, rng) for s in stays for ep in range(1, s["episodes"] + 1)
    ]
    total = 0
    for f in range(n_files):
        chunk = records[f::n_files]
        if f % 2 == 0:
            open_root = f'<icnarc:export xmlns:icnarc="{ICNARC_NS}">'
            close_root, p = "</icnarc:export>", "icnarc:"
        else:
            open_root = f'<export xmlns="{ICNARC_NS}">'
            close_root, p = "</export>", ""
        parts = ['<?xml version="1.0" encoding="UTF-8"?>\n', open_root, "\n"]
        for rec in chunk:
            parts.append(f"  <{p}patient>")
            parts.extend(f"<{p}{k}>{v}</{p}{k}>" for k, v in rec.items())
            parts.append(f"</{p}patient>\n")
        parts.append(close_root + "\n")
        text = "".join(parts)
        with open(os.path.join(path, f"part-{f:03d}.xml"), "w") as fh:
            fh.write(text)
        total += len(text.encode())
    return total


def _write_events(spark, path: str, pool: list[tuple], pairs: list[tuple],
                  n_rows: int, seed: int, salt: int) -> np.ndarray:
    """One chartevents extract of ``n_rows`` EAV rows. Row ``r`` belongs to
    pool stay ``(r * 7919 + salt) % len(pool)`` and to the
    (interventionId, attributeId) pair ``(r * 104729 + seed) % len(pairs)``;
    times and values come from ``xxhash64``. Returns, per row, the pool and
    pair index (numpy), from which the truth is counted without a job."""
    from pyspark.sql import functions as F

    pool_df = F.broadcast(spark.createDataFrame(
        pool, "k long, encounterId long, in_s long, los_s long, in_cohort boolean"))
    pair_df = F.broadcast(spark.createDataFrame(
        pairs, "j long, interventionId long, attributeId long"))

    def h(tag: str):
        return F.xxhash64(F.lit(seed), F.col("id"), F.lit(f"{salt}:{tag}"))

    rows = (
        spark.range(n_rows)
        .select(
            ((F.col("id") * 7919 + salt) % len(pool)).alias("k"),
            ((F.col("id") * 104729 + seed) % len(pairs)).alias("j"),
            h("t").alias("ht"),
            h("v").alias("hv"),
        )
        .join(pool_df, "k")
        .join(pair_df, "j")
        .withColumn("chart_s", F.col("in_s") + F.pmod("ht", F.col("los_s")))
        .withColumn("is_str", F.col("attributeId").isin(list(STRING_VALUED_IDS)))
    )
    rows.select(
        F.col("encounterId"),
        F.date_format(F.timestamp_seconds("chart_s"), "yyyy-MM-dd HH:mm:ss").alias("chartTime"),
        F.date_format(
            F.timestamp_seconds(F.col("chart_s") + F.pmod(F.col("hv"), F.lit(1800))),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("storeTime"),
        F.col("interventionId"),
        F.col("attributeId"),
        F.when(~F.col("is_str"), F.round(F.pmod("hv", F.lit(2000)) / 10.0, 1)).alias("valueNumber"),
        F.when(
            F.col("is_str"),
            F.when(F.pmod("hv", F.lit(3)) == 0, F.lit("Intubated")).otherwise(
                (F.pmod("hv", F.lit(400)) / 10.0).cast("string")),
        ).alias("valueString"),
    ).coalesce(4).write.mode("overwrite").option("sep", "\t").option(
        "header", True).csv(path)
    last = sorted(p for p in os.listdir(path) if p.startswith("part-"))[-1]
    with open(os.path.join(path, last), "a") as fh:
        fh.write(_footer(n_rows))
    os.remove(os.path.join(path, f".{last}.crc"))  # stale after the append
    r = np.arange(n_rows, dtype=np.int64)
    return (r * 7919 + salt) % len(pool), (r * 104729 + seed) % len(pairs)


def generate(spark, out_dir: str, seed: int, n_stays: int, n_events: int) -> dict:
    """Write one curation export under ``out_dir`` and return its truth
    (also written to ``truth.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    stays = _stays(seed, n_stays)
    j = lambda name: os.path.join(out_dir, name)  # noqa: E731

    # §1 ICNARC ids + §3 WW corrections
    ids_rows, ww_rows = [], []
    for s in stays:
        for ep in range(1, s["episodes"] + 1):
            n = _icnarc_number(s, ep)
            ids_rows.append([n, s["unit"], _link_key(s), 10 * s["i"] + ep,
                             _readmission(s, ep), 7 * n])
            if s["key"] == "wrong":
                ww_rows.append([n, s["unit"], _enc_id(s)])
    ww_rows += [[3_000_000 + k, 1, 4_000_000 + k] for k in range(5)]  # no match
    _write_csv(j("icnarc_ids.csv"),
               ["ICNARC number", "Unit ID", "CIS Patient ID", "CIS Episode ID",
                "Readmission during this hospital stay", "Key"], ids_rows)
    _write_csv(j("issue_ww.csv"), ["ICNARC Number", "Unit ID", "Corrected encID"], ww_rows)

    # §2 Philips encounters (fragments) + §3 encounterId corrections
    enc_rows, err_rows = [], []
    for s in stays:
        bounds = [0, *s["cuts"], s["los"]]
        for k in range(s["n_frag"]):
            raw_id = _enc_id(s) if s["n_frag"] == 1 else 7_000_000 + 4 * s["i"] + k
            t0 = s["in"] + dt.timedelta(minutes=bounds[k])
            t1 = s["in"] + dt.timedelta(minutes=bounds[k + 1])
            enc_rows.append([raw_id, 3_000_000 + 4 * s["i"] + k, s["age"] + k, _fmt(t0),
                             _fmt(t1), f"T{s['i']:07d}", float(bounds[k + 1] - bounds[k]),
                             s["gender"]])
            if s["n_frag"] > 1:
                err_rows.append([raw_id, _enc_id(s), 1.0, "split stay" if k == 0 else None])
        if s["cl8"]:  # excluded unit: the correction must not fire
            err_rows.append([_enc_id(s), 6_000_000 + s["i"], 8.0, "excluded unit"])
        if s["keep_orig"]:  # null adjustment: keep the original id
            err_rows.append([_enc_id(s), None, 1.0, "keep original"])
    err_rows += [[8_800_000 + k, 8_900_000 + k, 1.0, "no such encounter"] for k in range(5)]
    enc_header = ["encounterId", "ptCensusId", "age", "inTime", "outTime", "tNumber",
                  "lengthOfStay (mins)", "gender"]
    _write_csv(j("encounter_summary.rpt"), enc_header, enc_rows, sep="\t")
    with open(j("encounter_summary.rpt"), "a") as fh:
        fh.write(_footer(len(enc_rows)))
    _write_csv(j("issue_encounterid.csv"),
               ["encounterId_CIS", "encounterId_Adjusted", "clinicalUnitId", "Explanation"],
               err_rows)

    # §4 XML + CMP dimension
    xml_bytes = _write_xml(j("icnarc_xml"), stays, seed, XML_FILES)
    _write_csv(j("cmp_properties.csv"), ["CODE", "Description"],
               [list(r) for r in CMP_FIELDS + FILLER_CODES + ABSENT_CODES])

    # §6 interventions key, plus pairs the key lacks (null Variable path)
    key = _interventions()
    key_cols = list(key[0])
    _write_csv(j("interventions_key.csv"), key_cols, [[r[c] for c in key_cols] for r in key])
    assess_pairs = [(r["interventionId"], r["attributeId"]) for r in key
                    if r["Back end location (ICCA table)"] == "PtAssessment"]
    lab_pairs = [(r["interventionId"], r["attributeId"]) for r in key
                 if r["Back end location (ICCA table)"] == "PtLabResult"]
    assess_pairs += [(9900 + k, 9950 + k) for k in range(4)]
    lab_pairs += [(9800 + k, 9850 + k) for k in range(2)]
    var_of = {(r["interventionId"], r["attributeId"]): r["Variable"] for r in key}

    # §5 chartevents: cohort stays (linked, minus planted zero-event
    # stays), stays outside the cohort, and ids unknown to Philips
    linked_stays = [s for s in stays if _linked(s)]
    pool = []
    for s in stays:
        if _linked(s) and s["zero_events"]:
            continue
        in_s = int((s["in"] - EPOCH).total_seconds())
        pool.append((len(pool), _enc_id(s), in_s, s["los"] * 60, _linked(s)))
    for k in range(max(5, n_stays // 100)):
        pool.append((len(pool), 8_000_000 + k, int((BASE - EPOCH).total_seconds()),
                     86_400, False))
    n_labs = max(1, n_events // 20)
    in_cohort = np.array([p[4] for p in pool])
    pool_enc = np.array([p[1] for p in pool])
    ev_truth = {"rows_in": 0, "rows_out": 0, "rows_filtered": 0}
    var_counts: dict[str, int] = {}
    cohort_with_events: set[int] = set()
    for salt, (name, pairs, n) in enumerate((
            ("ptassess.rpt", assess_pairs, n_events - n_labs),
            ("labresults.rpt", lab_pairs, n_labs))):
        indexed = [(k, a, b) for k, (a, b) in enumerate(pairs)]
        k, jj = _write_events(spark, j(name), pool, indexed, n, seed, salt)
        kept = in_cohort[k]
        ev_truth["rows_in"] += n
        ev_truth["rows_out"] += int(kept.sum())
        ev_truth["rows_filtered"] += int((~kept).sum())
        cohort_with_events |= set(pool_enc[np.unique(k[kept])].tolist())
        for jx, c in enumerate(np.bincount(jj[kept], minlength=len(pairs))):
            var = var_of.get(pairs[jx]) or "<null>"
            if c:
                var_counts[var] = var_counts.get(var, 0) + int(c)

    # truth for EP1 and the reports
    linked_records = [(s, ep) for s in linked_stays for ep in range(1, s["episodes"] + 1)]
    unit1_records = [(s, ep) for s in stays if s["unit"] == 1
                     for ep in range(1, s["episodes"] + 1)]
    icn_age = [(_admit(s, ep) - _dob(s, ep)).total_seconds() / SECONDS_PER_YEAR
               for s, ep in linked_records]
    icn_los_days = [(_xml_outtime(s) - _admit(s, ep)).total_seconds() / 60.0 / 1440.0
                    for s, ep in linked_records]
    n_linked = len(linked_records)
    truth = {
        "seed": seed,
        "n_stays": n_stays,
        "xml_bytes": xml_bytes,
        "xml_files": XML_FILES,
        "quirks": {
            "unit14_stays": sum(s["unit"] == 14 for s in stays),
            "wrong_keys_corrected": len([r for r in ww_rows if r[0] < 3_000_000]),
            "null_keys": sum(1 for s, _ in unit1_records if s["key"] == "null"),
            "fragmented_stays": sum(s["n_frag"] > 1 for s in stays),
            "fragment_rows": sum(s["n_frag"] for s in stays if s["n_frag"] > 1),
            "multi_episode_stays": sum(s["episodes"] > 1 for s in stays),
            "clinical_unit_8_rows": sum(s["cl8"] for s in stays),
            "keep_original_rows": sum(s["keep_orig"] for s in stays),
            "dead_records": sum(s["dead"] for s, _ in unit1_records),
            "status_all_null_records": sum(s["status_null"] for s, _ in unit1_records),
            "unparseable_heights": sum(s["height"] == "bad" for s in stays),
            "null_gender_stays": sum(s["gender"] is None for s in stays),
            "cohort_stays_without_events": sum(s["zero_events"] for s in linked_stays),
            "footer_lines": 5,
        },
        "ep1": {
            "icnarc_rows": len(unit1_records),
            "icnarc_null_keys": sum(1 for s, _ in unit1_records if s["key"] == "null"),
            "philips_raw_rows": len(enc_rows),
            "philips_rows": n_stays,
            "linked_rows": n_linked,
            "icustays": len(linked_stays),
            "philips_los_total": float(sum(r[6] for r in enc_rows)),
            "icustays_los_total": float(sum(s["los"] * s["episodes"] for s in linked_stays)),
        },
        "ep2": {
            "records": sum(s["episodes"] for s in stays),
            "linked_records": n_linked,
            "mortality_dead_linked": sum(s["dead"] and not s["status_null"]
                                         for s, _ in linked_records),
            "mortality_null_linked": sum(s["status_null"] for s, _ in linked_records),
        },
        "ep3": {
            **ev_truth,
            "cohort_stays": len(linked_stays),
            "cohort_stays_with_events": len(cohort_with_events),
            "variable_counts": dict(sorted(var_counts.items())),
        },
        "reports": {
            "philips": {
                "n_stays": n_stays,
                "n_male": sum(s["gender"] == "Male" for s in stays),
                "n_gender_missing": sum(s["gender"] is None for s in stays),
                "age": _percentiles([s["age"] for s in stays]),
                "los_days": _percentiles([s["los"] / 1440.0 for s in stays]),
            },
            "icnarc": {
                "n_stays": n_linked,
                "male_rate": sum(s["gender"] != "Female" for s, _ in linked_records) / n_linked,
                "readmission_rate": sum(_readmission(s, ep) == "Yes" for s, ep in linked_records)
                / n_linked,
                "n_readm_missing": sum(_readmission(s, ep) is None for s, ep in linked_records),
                "age": _percentiles(icn_age),
                "los_days": _percentiles(icn_los_days),
            },
        },
    }
    with open(j("truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth
