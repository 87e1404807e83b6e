"""Output checks, computed apart from the engine.

- ``StoreModel`` replays a load sequence over the generator's rows
  in plain Python and gives the counts each ``LoadReport`` must carry.
- ``check_store`` reads the store back with pyarrow (not Spark) and
  compares it, row for row, with the generator's rows.
- ``check_report`` runs the report's SQL in DuckDB over the store's
  parquet files and compares it with the rows the engine returned.

Each returns a list of problems; an empty list means the check passed.
"""

from __future__ import annotations

import math
from collections import Counter
from pathlib import Path

from hospital_inputs import METRICS, HospitalInputs, Snapshot, WeekFile

# ---------------------------------------------------------------------------
# Loads and store
# ---------------------------------------------------------------------------


class StoreModel:
    """The keys a store holds after a sequence of loads."""

    def __init__(self):
        self.pks: set[str] = set()
        self.beds: dict[tuple[str, str], tuple] = {}
        self.quality: dict[tuple[str, str], tuple] = {}

    def load_hhs(self, wf: WeekFile) -> dict:
        new_pks = [pk for pk in wf.valid if pk not in self.pks]
        new_beds = [pk for pk in wf.valid if (pk, wf.week) not in self.beds]
        self.pks.update(new_pks)
        for pk in new_beds:
            self.beds[(pk, wf.week)] = wf.valid[pk]
        n_valid = len(wf.valid)
        return {
            "table_rows": {"hospitals": len(new_pks), "hospital_locations": len(new_pks), "hospital_beds": len(new_beds)},
            "quarantined_invalid": wf.n_invalid,
            "quarantined_duplicate": {
                "hospitals": n_valid - len(new_pks),
                "hospital_locations": n_valid - len(new_pks),
                "hospital_beds": n_valid - len(new_beds),
            },
        }

    def load_cms(self, snap: Snapshot) -> dict:
        new = [fid for fid in snap.rows if (fid, snap.data_date) not in self.quality]
        for fid in new:
            self.quality[(fid, snap.data_date)] = snap.rows[fid]
        return {"inserted": len(new), "duplicates": len(snap.rows) - len(new)}


def report_fields(report) -> dict:
    """The counters of a LoadReport / QualityLoadReport, without timing."""
    return {k: v for k, v in vars(report).items() if k != "wall_s"}


def check_conservation(wf: WeekFile, got: dict) -> list[str]:
    """Rows in = accepted + invalid + duplicate, on the bed facts."""
    beds_in = got["table_rows"]["hospital_beds"] + got["quarantined_invalid"] + got["quarantined_duplicate"]["hospital_beds"]
    return [] if beds_in == wf.n_rows else [f"{wf.week}: {wf.n_rows} rows in, {beds_in} accounted for"]


def table_dir(root: str | Path, table: str) -> Path:
    """A store table's current directory, as the store documents it: the
    directory named in ``<table>.__current`` when that pointer exists
    (written by compaction), else ``<table>`` itself."""
    pointer = Path(root) / f"{table}.__current"
    name = pointer.read_text().strip() if pointer.is_file() else ""
    return Path(root) / (name or table)


def _read_table(root: Path, table: str):
    import pyarrow.dataset as ds

    return ds.dataset(str(table_dir(root, table)), format="parquet", partitioning="hive").to_table().to_pylist()


def _date(value) -> str:
    return value if isinstance(value, str) else value.isoformat()


def check_store(root: str, inputs: HospitalInputs, model: StoreModel) -> list[str]:
    """Compare the whole store with the model, reading it with pyarrow."""
    problems: list[str] = []
    root_p = Path(root)

    beds = _read_table(root_p, "hospital_beds")
    keys = Counter((r["hospital_fk"], _date(r["collection_week"])) for r in beds)
    dupes = [k for k, n in keys.items() if n > 1]
    if dupes:
        problems.append(f"hospital_beds: {len(dupes)} duplicate (hospital_fk, collection_week) keys, e.g. {dupes[0]}")
    per_week = Counter(week for _, week in keys.elements())
    want_week = Counter(week for _, week in model.beds)
    if per_week != want_week:
        problems.append(f"hospital_beds rows per week {dict(per_week)} != {dict(want_week)}")
    bad_values = 0
    for r in beds:
        values = tuple(r[c] for c in METRICS)
        if any(v is not None and (v < 0 or v == -999999) for v in values):
            bad_values += 1
        want = model.beds.get((r["hospital_fk"], _date(r["collection_week"])))
        if want is not None and values != want:
            bad_values += 1
    if bad_values:
        problems.append(f"hospital_beds: {bad_values} rows with a sentinel, a negative, or a value unlike the input")

    for table, key in (("hospitals", "hospital_pk"), ("hospital_locations", "hospital_fk")):
        rows = _read_table(root_p, table)
        got = Counter(r[key] for r in rows)
        if set(got) != model.pks or max(got.values()) != 1:
            problems.append(f"{table}: {len(rows)} rows for {len(got)} keys, want {len(model.pks)} unique keys")
    locs = {r["hospital_fk"]: r["state"] for r in _read_table(root_p, "hospital_locations")}
    wrong_state = sum(1 for pk, st in locs.items() if inputs.states.get(pk) != st)
    if wrong_state:
        problems.append(f"hospital_locations: {wrong_state} rows with the wrong state")

    quality = _read_table(root_p, "hospital_quality")
    got_q = {
        (r["facility_id"], _date(r["data_date"])): (
            r["hospital_overall_rating"], r["emergency_services"], r["hospital_type"], r["hospital_ownership"]
        )
        for r in quality
    }
    if len(got_q) != len(quality):
        problems.append("hospital_quality: duplicate (facility_id, data_date) keys")
    if got_q != model.quality:
        wrong = sum(1 for k, v in model.quality.items() if got_q.get(k) != v)
        problems.append(f"hospital_quality: {len(quality)} rows, {wrong} of {len(model.quality)} expected rows missing or wrong")
    loaded = {d for _, d in model.quality}
    for snap in (s for s in inputs.snapshots if s.data_date in loaded):
        zeros = sum(1 for (_, d), v in got_q.items() if d == snap.data_date and v[0] == 0.0)
        if zeros != snap.n_not_available:
            problems.append(f"{snap.data_date}: {zeros} ratings of 0.0, want {snap.n_not_available} 'Not Available'")
    return problems


# ---------------------------------------------------------------------------
# Reports
# ---------------------------------------------------------------------------

USED = "(icu_beds_used_7_day_avg + inpatient_beds_used_covid_7_day_avg)"
AVAIL = "(total_icu_beds_7_day_avg + all_adult_hospital_beds_7_day_avg)"
ALL_CASES = (
    "(all_adult_hospital_inpatient_bed_occupied_7_day_coverage"
    " + all_pediatric_inpatient_bed_occupied_7_day_avg + icu_beds_used_7_day_avg)"
)
BED_SUMS = (
    "round(sum(all_adult_hospital_beds_7_day_avg), 2), round(sum(all_pediatric_inpatient_beds_7_day_avg), 2),"
    " round(sum(total_icu_beds_7_day_avg), 2), round(sum(icu_beds_used_7_day_avg), 2),"
    " round(sum(inpatient_beds_used_covid_7_day_avg), 2)"
)

# The reference's report SQL (Reporting.py, as tabulated in SURVEY.md §2
# F2-F8, J1-J4, A1-A9, T1-T5), one entry per engine report function:
# (SQL with $week/$ownership/$data_date, decimals each column was
# rounded to, or None for exact columns).
REPORT_SQL: dict[str, tuple[str, tuple]] = {
    "records_loaded_per_week": (
        "SELECT collection_week, count(*) FROM beds WHERE collection_week <= $week"
        " GROUP BY collection_week ORDER BY collection_week",
        (None, None),
    ),
    "beds_summary_for_week": (
        f"SELECT {BED_SUMS} FROM beds WHERE collection_week = $week",
        (2, 2, 2, 2, 2),
    ),
    "beds_summary_recent_weeks": (
        f"SELECT collection_week, {BED_SUMS} FROM beds GROUP BY collection_week"
        " ORDER BY collection_week DESC LIMIT 4",
        (None, 2, 2, 2, 2, 2),
    ),
    "fraction_beds_in_use_by_rating": (
        f"SELECT q.hospital_overall_rating, round(sum({USED}) / sum({AVAIL}), 6)"
        " FROM beds b JOIN quality q ON b.hospital_fk = q.facility_id"
        " WHERE b.collection_week = $week GROUP BY q.hospital_overall_rating ORDER BY 1",
        (None, 6),
    ),
    "hospital_cases_by_week": (
        f"SELECT collection_week, round(sum({ALL_CASES}), 2), round(sum(inpatient_beds_used_covid_7_day_avg), 2)"
        " FROM beds WHERE collection_week <= $week GROUP BY collection_week ORDER BY collection_week",
        (None, 2, 2),
    ),
    "emergency_services_by_state": (
        "SELECT l.state, count(*) AS n FROM quality q"
        " JOIN hospitals h ON q.facility_id = h.hospital_pk"
        " JOIN locations l ON h.hospital_pk = l.hospital_fk"
        " WHERE q.emergency_services GROUP BY l.state ORDER BY n DESC, l.state LIMIT 20",
        (None, None),
    ),
    "beds_in_use_by_ownership": (
        f"SELECT q.hospital_ownership, b.collection_week, round(sum({USED}) / sum({AVAIL}), 6)"
        " FROM beds b JOIN quality q ON b.hospital_fk = q.facility_id"
        " WHERE q.hospital_ownership = $ownership"
        " GROUP BY q.hospital_ownership, b.collection_week ORDER BY 1, 2",
        (None, None, 6),
    ),
    "top_and_bottom_rated_states": (
        # top-10 then bottom-10 of the per-state mean rating on one date
        "WITH s AS (SELECT l.state, round(avg(q.hospital_overall_rating), 4) AS r"
        " FROM quality q JOIN locations l ON q.facility_id = l.hospital_fk"
        " WHERE q.data_date = $data_date AND q.hospital_overall_rating IS NOT NULL GROUP BY l.state)"
        " (SELECT 'top', * FROM s ORDER BY r DESC, state LIMIT 10)"
        " UNION ALL (SELECT 'bottom', * FROM s ORDER BY r ASC, state LIMIT 10)",
        (None, None, 4),
    ),
}


class ReportOracle:
    """DuckDB over the store's parquet files, read as-is."""

    def __init__(self, root: str):
        import duckdb

        self.con = duckdb.connect()
        for view, table in (
            ("beds", "hospital_beds"),
            ("quality", "hospital_quality"),
            ("hospitals", "hospitals"),
            ("locations", "hospital_locations"),
        ):
            glob = str(table_dir(root, table) / "**" / "*.parquet")
            self.con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"
            )

    def rows(self, report: str, params: dict) -> list[tuple]:
        sql, _ = REPORT_SQL[report]
        args = {k: v for k, v in params.items() if f"${k}" in sql}
        return self.con.execute(sql, args).fetchall()

    def close(self) -> None:
        self.con.close()


def _cell_ok(got, want, decimals) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if decimals is None:
        return _norm(got) == _norm(want)
    # Order-dependent double sums can land on either side of a rounding
    # boundary, so allow one unit in the last rounded digit.
    return math.isclose(float(got), float(want), rel_tol=0, abs_tol=10.0 ** -decimals * 1.000001)


def _norm(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def check_report(report: str, got: list[tuple], want: list[tuple]) -> list[str]:
    decimals = REPORT_SQL[report][1]
    if len(got) != len(want):
        return [f"{report}: {len(got)} rows, DuckDB gives {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(decimals) or not all(_cell_ok(a, b, d) for a, b, d in zip(g, w, decimals)):
            return [f"{report}: row {i} is {tuple(map(_norm, g))}, DuckDB gives {tuple(map(_norm, w))}"]
    return []
