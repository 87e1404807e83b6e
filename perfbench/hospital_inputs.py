"""Seeded HHS/CMS input files for the hospital workloads, with the counts
each load and the store must show.

Stdlib only, and nothing is imported from the engine or its tests, so
the inputs move only when this file does.  One ``random.Random(seed)``
drives every draw; no set is iterated and no string is hashed, so a
seed writes byte-identical files in any process.

Make-up (FIXTURES.md §A, sizes from SURVEY.md §5 and §6):

- HHS weekly capacity files, one Friday each, 4,996 rows of 127
  columns, about 2.5 MB (SURVEY.md:336, :358).  Each week
  carries every ``hospital_pk`` of the week before but one, and adds one
  new hospital (4,995 / 4,996 = 99.98 % carry-over).  Pks are 6-digit
  CCNs, plus a 5 % share of 64-hex ids.  Nulls are the literal ``NA``.
  Metrics carry the per-column ``-999999`` sentinel rates of the A1
  table and three raw negatives (``-3``) per file.  The 108 columns the
  loader does not consume are filled from a seeded pool of short
  numeric, ``NA`` and sentinel values.
- CMS Hospital General Information snapshots, one per month, 5,330
  rows of 38 columns, about 1.4 MB (SURVEY.md:336, :359).  Facility ids
  are the HHS CCN pks topped up with CCNs that no HHS file carries; 34 %
  of ratings are ``Not Available``.  The 31 unread columns carry the
  file's address block and measure-group counts, from a seeded pool.

The expected counts are computed here in Python from the rows as
written, by the loaders' documented rules (sentinel -> NULL before the
non-negative check, first-wins dedup, insert-once keys), not by Spark.
"""

from __future__ import annotations

import csv
import datetime as dt
import random
from dataclasses import dataclass, field
from pathlib import Path

N_HHS = 4996
N_CMS = 5330
SENTINEL = "-999999"
NA = "NA"
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
METRICS = tuple(SENTINEL_RATE)
# Upper end of each metric's valid draw; the coverage column counts
# reporting days, 0-7.
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
RAW_NEGATIVE, N_RAW_NEGATIVE = "-3", 3
HEX_PK_SHARE = 0.05
NA_RATE = 0.01
FIPS_NA_RATE = 0.10
NOT_AVAILABLE_RATE = 0.34
FIRST_WEEK = dt.date(2022, 9, 2)  # a Friday
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
_NAME_WORDS = ("SAINT MARY", "MERCY", "COUNTY", "REGIONAL", "MEMORIAL", "VALLEY", "BAPTIST")
_NAME_KINDS = ("HOSPITAL", "MEDICAL CENTER", "HEALTH SYSTEM", "COMMUNITY HOSPITAL")
_STREETS = ("MAIN ST", "HOSPITAL DR", "OAK AVE", "MEDICAL PKWY", "1ST ST")

# Unconsumed columns ride along, as in the 127- and 38-column extracts
# (SURVEY.md:336); their cells come from a pool of rows drawn per seed.
HHS_COLUMNS = 127
HHS_HEADER = (
    "hospital_pk", "collection_week", "state", "ccn", "hospital_name", "address", "city",
    "zip", "fips_code", *METRICS, "geocoded_hospital_address", "is_metro_micro",
)
HHS_PAD = tuple(f"unconsumed_metric_{i:03d}" for i in range(1, HHS_COLUMNS - len(HHS_HEADER) + 1))
CMS_HEADER = (
    "Facility ID", "Facility Name", "Hospital Type", "Hospital Ownership",
    "Emergency Services", "Hospital overall rating", "Hospital overall rating footnote",
)
_CMS_GROUPS = ("MORT", "Safety", "READM")
CMS_PAD = (
    "Address", "City/Town", "State", "ZIP Code", "County/Parish", "Telephone Number",
    "Meets criteria for birthing friendly designation",
    *(
        col
        for g in _CMS_GROUPS
        for col in (
            f"{g} Group Measure Count", f"Count of Facility {g} Measures", f"Count of {g} Measures Better",
            f"Count of {g} Measures No Different", f"Count of {g} Measures Worse", f"{g} Group Footnote",
        )
    ),
    *(col for g in ("Pt Exp", "TE") for col in (f"{g} Group Measure Count", f"Count of Facility {g} Measures", f"{g} Group Footnote")),
)
PAD_POOL = 512
PAD = "__pad"  # row key of the unconsumed cells


@dataclass
class WeekFile:
    week: str
    path: str
    n_rows: int
    # pk -> metric values after sentinel/NA -> None, for valid rows only
    valid: dict[str, tuple[float | None, ...]]
    n_invalid: int


@dataclass
class Snapshot:
    data_date: str
    path: str
    # facility_id -> (rating, emergency, hospital_type, ownership)
    rows: dict[str, tuple[float, bool, str, str]]
    n_not_available: int


@dataclass
class HospitalInputs:
    weeks: list[WeekFile]
    snapshots: list[Snapshot]
    hhs_bytes: int = 0
    cms_bytes: int = 0
    states: dict[str, str] = field(default_factory=dict)  # pk -> state


def _hhs_pad_pool(rng: random.Random) -> list[list[str]]:
    """Cells of the unconsumed HHS columns: mostly small counts, some
    ``NA``, one-decimal averages and sentinels."""

    def cell() -> str:
        u = rng.random()
        if u < 0.50:
            return str(rng.randrange(10))
        if u < 0.72:
            return str(rng.randrange(10, 100))
        if u < 0.84:
            return NA
        if u < 0.92:
            return f"{rng.uniform(0.0, 99.0):.1f}"
        return SENTINEL

    return [[cell() for _ in HHS_PAD] for _ in range(PAD_POOL)]


def _cms_pad_pool(rng: random.Random) -> list[list[str]]:
    """Cells of the unconsumed CMS columns: address block, then measure
    counts (``Not Available`` at the rating's rate) and footnotes."""

    def row() -> list[str]:
        cells = [
            f"{rng.randint(1, 9999)} {rng.choice(_STREETS)}",
            f"CITY {rng.randint(1, 400)}",
            rng.choice(STATES),
            f"{rng.randrange(100000):05d}",
            f"COUNTY {rng.randint(1, 300)}",
            f"({rng.randrange(200, 1000)}) {rng.randrange(200, 1000)}-{rng.randrange(10000):04d}",
            rng.choice(("Y", "")),
        ]
        for col in CMS_PAD[len(cells):]:
            missing = rng.random() < NOT_AVAILABLE_RATE
            if col.endswith("Footnote"):
                cells.append("5" if missing else "")
            else:
                cells.append("Not Available" if missing else str(rng.randrange(20)))
        return cells

    return [row() for _ in range(PAD_POOL)]


def _maybe_na(rng: random.Random, value: str, rate: float = NA_RATE) -> str:
    return NA if rng.random() < rate else value


def _write(path: Path, header: tuple[str, ...], pad_header: tuple[str, ...], rows: list[dict]) -> int:
    """Write the named columns of each row, then its ``PAD`` cells."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header + pad_header)
        w.writerows([row[col] for col in header] + row[PAD] for row in rows)
    return path.stat().st_size


def _parse_metric(raw: str) -> float | None:
    if raw == NA:
        return None
    value = float(raw)
    return None if value == float(SENTINEL) else value


def make_inputs(out_dir: str | Path, seed: int, n_weeks: int, n_snapshots: int) -> HospitalInputs:
    """Write ``n_weeks`` HHS files and ``n_snapshots`` CMS files under
    ``out_dir`` and return their paths with what a loader must see."""
    rng = random.Random(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    serials = [0] * len(STATES)
    inputs = HospitalInputs([], [])

    def new_ccn(state: int) -> str:
        serials[state] += 1
        return f"{state + 1:02d}{serials[state]:04d}"

    def new_hospital() -> dict[str, str]:
        state = rng.randrange(len(STATES))
        is_ccn = rng.random() >= HEX_PK_SHARE
        pk = new_ccn(state) if is_ccn else f"{rng.getrandbits(256):064x}"
        inputs.states[pk] = STATES[state]
        return {
            "hospital_pk": pk,
            "state": STATES[state],
            "ccn": pk if is_ccn else NA,
            "hospital_name": f"{rng.choice(_NAME_WORDS)} {rng.choice(_NAME_KINDS)}",
            "address": _maybe_na(rng, f"{rng.randint(1, 9999)} {rng.choice(_STREETS)}"),
            "city": _maybe_na(rng, f"CITY {rng.randint(1, 400)}"),
            "zip": _maybe_na(rng, f"{rng.randrange(100000):05d}"),
            "fips_code": _maybe_na(rng, f"{rng.randrange(1000, 57000):05d}", FIPS_NA_RATE),
            "geocoded_hospital_address": _maybe_na(
                rng, f"POINT ({rng.uniform(-160.0, -65.0):.6f} {rng.uniform(17.0, 65.0):.6f})"
            ),
            "is_metro_micro": rng.choice(("true", "false")),
        }

    hhs_pad, cms_pad = _hhs_pad_pool(rng), _cms_pad_pool(rng)
    hospitals = [new_hospital() for _ in range(N_HHS)]
    seen_ccns: dict[str, None] = {}  # insertion-ordered set
    for k in range(n_weeks):
        if k:
            del hospitals[rng.randrange(len(hospitals))]
            hospitals.append(new_hospital())
        week = (FIRST_WEEK + dt.timedelta(weeks=k)).isoformat()
        rows = []
        for h in hospitals:
            row = {**h, PAD: rng.choice(hhs_pad), "collection_week": week}
            for col in METRICS:
                hi = METRIC_MAX[col]
                value = str(rng.randint(0, hi)) if isinstance(hi, int) else f"{rng.uniform(0.0, hi):.1f}"
                row[col] = SENTINEL if rng.random() < SENTINEL_RATE[col] else _maybe_na(rng, value)
            rows.append(row)
        for i in rng.sample(range(len(rows)), N_RAW_NEGATIVE):
            rows[i]["all_adult_hospital_beds_7_day_avg"] = RAW_NEGATIVE
        rng.shuffle(rows)
        path = out / f"{week}-hhs-data.csv"
        inputs.hhs_bytes += _write(path, HHS_HEADER, HHS_PAD, rows)
        valid, n_invalid = {}, 0
        for row in rows:
            values = tuple(_parse_metric(row[c]) for c in METRICS)
            if any(v is not None and v < 0 for v in values):
                n_invalid += 1
            else:
                valid[row["hospital_pk"]] = values
        inputs.weeks.append(WeekFile(week, str(path), len(rows), valid, n_invalid))
        seen_ccns.update((h["ccn"], None) for h in hospitals if h["ccn"] != NA)

    # CMS ids: the HHS CCN pks (the reports' join key), topped up with
    # CCNs that no HHS file carries.
    facilities = list(seen_ccns)[:N_CMS]
    while len(facilities) < N_CMS:
        facilities.append(new_ccn(rng.randrange(len(STATES))))
    for m in range(n_snapshots):
        year, month = divmod(FIRST_WEEK.month - 1 + m, 12)
        data_date = dt.date(FIRST_WEEK.year + year, month + 1, 1).isoformat()
        order = list(facilities)
        rng.shuffle(order)
        rows, expected, n_na = [], {}, 0
        for pk in order:
            not_available = rng.random() < NOT_AVAILABLE_RATE
            rating = "Not Available" if not_available else str(rng.randint(1, 5))
            emergency = rng.choice(("Yes", "No"))
            htype, owner = rng.choice(HOSPITAL_TYPES), rng.choice(OWNERSHIPS)
            rows.append(
                {
                    "Facility ID": pk,
                    "Facility Name": f"{rng.choice(_NAME_WORDS)} {rng.choice(_NAME_KINDS)}",
                    "Hospital Type": htype,
                    "Hospital Ownership": owner,
                    "Emergency Services": emergency,
                    "Hospital overall rating": rating,
                    "Hospital overall rating footnote": "16" if not_available else "",
                    PAD: rng.choice(cms_pad),
                }
            )
            n_na += not_available
            expected[pk] = (0.0 if not_available else float(rating), emergency == "Yes", htype, owner)
        path = out / f"Hospital_General_Information-{data_date}.csv"
        inputs.cms_bytes += _write(path, CMS_HEADER, CMS_PAD, rows)
        inputs.snapshots.append(Snapshot(data_date, str(path), expected, n_na))
    return inputs

