"""Deterministic synthetic HHS/CMS input CSVs (FIXTURES.md §A).

Writes two HHS weekly capacity files and one CMS Hospital General
Information snapshot with the shape the loaders see in the reference's
own extracts: the A1/A2 column sets plus a few columns the loaders do
not consume, ``NA`` nulls, per-column ``-999999`` sentinels, a few raw
negatives, ~99.98 % week-over-week ``hospital_pk`` overlap, and CMS
facility ids that are the HHS CCN pks topped up with CCNs HHS lacks.

Stdlib only: one seeded ``random.Random`` drives every draw, nothing
iterates a set or calls ``hash()`` on a string (both vary with the
process's hash seed), and no Spark job runs.  The same seed therefore
writes byte-identical files in any process.
"""

from __future__ import annotations

import csv
import random
from pathlib import Path

# Sizes (SURVEY.md §5 and §2.D): 4,995 of 4,996 hospital_pks repeat
# week-over-week (SURVEY.md:158); ~5,330 CMS rows per snapshot
# (SURVEY.md:336, measured range 5,307-5,337 at SURVEY.md:359).
N_HHS = 4996
N_CMS = 5330
# One Friday per weekly file (FIXTURES.md A1 collection_week).
WEEKS = ("2022-09-23", "2022-09-30")

# Per-column -999999 sentinel rates (FIXTURES.md A1 table, lines 27-34);
# the coverage column has no sentinel rate listed there.
SENTINEL = "-999999"
SENTINEL_RATE = {
    "all_adult_hospital_beds_7_day_avg": 0.002,
    "all_pediatric_inpatient_beds_7_day_avg": 0.09,
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage": 0.0,
    "all_pediatric_inpatient_bed_occupied_7_day_avg": 0.13,
    "total_icu_beds_7_day_avg": 0.06,
    "icu_beds_used_7_day_avg": 0.14,
    "inpatient_beds_used_covid_7_day_avg": 0.38,
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg": 0.37,
}
# "A few raw negatives (e.g. -3)" in the adult-beds column (FIXTURES.md:27).
RAW_NEGATIVE, N_RAW_NEGATIVE = "-3", 3
# Upper bound of each metric's valid draw; the coverage column counts
# reporting days, 0-7 (FIXTURES.md:29).
METRIC_MAX = {
    "all_adult_hospital_beds_7_day_avg": 900.0,
    "all_pediatric_inpatient_beds_7_day_avg": 60.0,
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage": 7,
    "all_pediatric_inpatient_bed_occupied_7_day_avg": 40.0,
    "total_icu_beds_7_day_avg": 150.0,
    "icu_beds_used_7_day_avg": 120.0,
    "inpatient_beds_used_covid_7_day_avg": 80.0,
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg": 25.0,
}

# No document gives these; they only make each case occur.  Share of
# 64-hex (non-CCN) hospital_pks; raw 'NA' rate of nullable columns,
# with fips_code marked "'NA' common" (FIXTURES.md:25).
HEX_PK_SHARE = 0.05
NA = "NA"
NA_RATE = 0.01
FIPS_NA_RATE = 0.10

# 'Not Available' rating share (FIXTURES.md:51) and the A2 domains.
NOT_AVAILABLE_RATE = 0.34
HOSPITAL_TYPES = (
    "Acute Care Hospitals",
    "Critical Access Hospitals",
    "Childrens",
    "Psychiatric",
    "Acute Care - Department of Defense",
)
OWNERSHIPS = (
    "Government - Federal",
    "Government - Hospital District or Authority",
    "Government - Local",
    "Government - State",
    "Proprietary",
    "Voluntary non-profit - Church",
    "Voluntary non-profit - Other",
    "Voluntary non-profit - Private",
    "Tribal",
    "Physician",
    "Department of Defense",
)

STATES = (
    "AK AL AR AS AZ CA CO CT DC DE FL GA GU HI IA ID IL IN KS KY LA MA MD ME MI MN MO MP MS "
    "MT NC ND NE NH NJ NM NV NY OH OK OR PA PR RI SC SD TN TX UT VA VI VT WA WI WV WY"
).split()
_NAME_WORDS = ("SAINT MARY", "MERCY", "COUNTY", "REGIONAL", "MEMORIAL", "GOOD SAMARITAN", "VALLEY", "BAPTIST")
_NAME_KINDS = ("HOSPITAL", "MEDICAL CENTER", "HEALTH SYSTEM", "COMMUNITY HOSPITAL")
_STREETS = ("MAIN ST", "HOSPITAL DR", "OAK AVE", "MEDICAL PKWY", "1ST ST")

# Columns the loaders do not read ride along, as in the 127-column
# HHS and 38-column CMS extracts, so the scan projection is exercised.
HHS_HEADER = (
    "hospital_pk", "collection_week", "state", "ccn", "hospital_name", "address", "city",
    "zip", "fips_code", *SENTINEL_RATE, "geocoded_hospital_address",
)
CMS_HEADER = (
    "Facility ID", "Hospital Type", "Hospital Ownership", "Emergency Services",
    "Hospital overall rating", "Hospital overall rating footnote",
)


def _maybe_na(rng: random.Random, value: str, rate: float = NA_RATE) -> str:
    return NA if rng.random() < rate else value


def _hospital(rng: random.Random, pk: str, state: str, is_ccn: bool) -> dict[str, str]:
    """The per-hospital attributes that repeat across weekly files."""
    return {
        "hospital_pk": pk,
        "state": state,
        "ccn": pk if is_ccn else NA,
        "hospital_name": f"{rng.choice(_NAME_WORDS)} {rng.choice(_NAME_KINDS)}",
        "address": _maybe_na(rng, f"{rng.randint(1, 9999)} {rng.choice(_STREETS)}"),
        "city": _maybe_na(rng, f"CITY {rng.randint(1, 400)}"),
        "zip": _maybe_na(rng, f"{rng.randrange(100000):05d}"),
        "fips_code": _maybe_na(rng, f"{rng.randrange(1000, 57000):05d}", FIPS_NA_RATE),
        "geocoded_hospital_address": _maybe_na(
            rng, f"POINT ({rng.uniform(-160.0, -65.0):.6f} {rng.uniform(17.0, 65.0):.6f})"
        ),
    }


def _metrics(rng: random.Random) -> dict[str, str]:
    out = {}
    for col, rate in SENTINEL_RATE.items():
        hi = METRIC_MAX[col]
        value = str(rng.randint(0, hi)) if isinstance(hi, int) else f"{rng.uniform(0.0, hi):.1f}"
        out[col] = SENTINEL if rng.random() < rate else _maybe_na(rng, value)
    return out


def _write(path: Path, header: tuple[str, ...], rows: list[dict[str, str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=header, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def _hhs_week(rng: random.Random, week: str, hospitals: list[dict[str, str]]) -> list[dict[str, str]]:
    rows = [{**h, "collection_week": week, **_metrics(rng)} for h in hospitals]
    for i in rng.sample(range(len(rows)), N_RAW_NEGATIVE):
        rows[i]["all_adult_hospital_beds_7_day_avg"] = RAW_NEGATIVE
    rng.shuffle(rows)
    return rows


def write_hospital_csvs(out_dir, seed: int = 20220923) -> tuple[str, str, str]:
    """Write ``(hhs_week1, hhs_week2, cms)`` CSVs under ``out_dir`` and
    return their paths."""
    rng = random.Random(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    serials = [0] * len(STATES)

    def new_ccn(state: int) -> str:
        # Unique 6-digit CCN: two-digit state prefix + per-state serial.
        serials[state] += 1
        return f"{state + 1:02d}{serials[state]:04d}"

    def new_hospital(is_ccn: bool) -> dict[str, str]:
        state = rng.randrange(len(STATES))
        pk = new_ccn(state) if is_ccn else f"{rng.getrandbits(256):064x}"
        return _hospital(rng, pk, STATES[state], is_ccn)

    hex_rows = set(rng.sample(range(N_HHS), round(N_HHS * HEX_PK_SHARE)))
    week1 = [new_hospital(i not in hex_rows) for i in range(N_HHS)]
    # Week 2: every week-1 hospital but one, plus one new hospital.
    week2 = list(week1)
    del week2[rng.randrange(N_HHS)]
    week2.append(new_hospital(True))

    paths = []
    for week, hospitals in zip(WEEKS, (week1, week2)):
        path = out / f"{week}-hhs-data.csv"
        _write(path, HHS_HEADER, _hhs_week(rng, week, hospitals))
        paths.append(str(path))

    # CMS ids: the HHS CCN pks (the reports' join key), topped up with
    # CCNs that no HHS file carries.
    facilities = list(dict.fromkeys(h["hospital_pk"] for h in week1 + week2 if h["ccn"] != NA))
    while len(facilities) < N_CMS:
        facilities.append(new_ccn(rng.randrange(len(STATES))))
    rng.shuffle(facilities)
    cms_rows = []
    for pk in facilities:
        not_available = rng.random() < NOT_AVAILABLE_RATE
        cms_rows.append(
            {
                "Facility ID": pk,
                "Hospital Type": rng.choice(HOSPITAL_TYPES),
                "Hospital Ownership": rng.choice(OWNERSHIPS),
                "Emergency Services": rng.choice(("Yes", "No")),
                "Hospital overall rating": "Not Available" if not_available else str(rng.randint(1, 5)),
                "Hospital overall rating footnote": "16" if not_available else "",
            }
        )
    cms = out / "Hospital_General_Information-2021-07.csv"
    _write(cms, CMS_HEADER, cms_rows)
    return paths[0], paths[1], str(cms)
