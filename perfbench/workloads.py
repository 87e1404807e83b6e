"""The two hospital workloads: the paper's write path and its read path.

An operation is one loader call or one report.  Each workload has a
set-up (inputs, store, warm-up), a timed phase of whole rounds, and a
check made after the timed phase against ``checks``.
"""

from __future__ import annotations

import os
import random
import time
from pathlib import Path

import checks
from hospital_inputs import make_inputs

# The reference's sample: 5 weekly HHS files and 3 CMS snapshots
# (SURVEY.md:336).
N_WEEKS = 5
N_SNAPSHOTS = 3


class Workload:
    def __init__(self, spark, tracer, work: Path, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rng = random.Random(seed)
        self.ops: list[tuple[int, float]] = []  # timed ops that returned: (slot, seconds)
        self.attempted = self.failed = 0  # timed ops started / raised
        self.rounds = 0
        self.slot = 0  # position of the next timed op in its round
        self.round_s: list[float] = []  # wall time of each timed round
        self.problems: list[str] = []
        self.gen_s = self.warmup_s = 0.0

    def op(self, name: str, timed: bool, fn, *args):
        """Run one operation; return ``(ok, result)``.  An exception is
        recorded as a failed operation and a problem, not raised."""
        ok, out = True, None
        self.attempted += timed
        slot = self.slot
        self.slot += timed
        with self.tracer.op(name, timed):
            t0 = time.perf_counter()
            try:
                out = fn(*args)
            except Exception as exc:
                ok = False
                self.failed += timed
                self.problems.append(f"{name} raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
            dt = time.perf_counter() - t0
        # An operation must not leave RDDs persisted; the tracer counted
        # any left (``spark.persisted_left``) before they are dropped here.
        persisted = self.spark.sparkContext._jsc.getPersistentRDDs()
        if not persisted.isEmpty():
            for rdd in list(persisted.values()):
                rdd.unpersist(True)
        if timed and ok:
            self.ops.append((slot, dt))
        return ok, out

    def measure(self, seconds: float, after_first_round) -> float:
        """Run whole rounds until ``seconds`` have passed; return the wall
        time.  ``after_first_round`` is called once, outside the clock."""
        wall = 0.0
        while True:
            self.slot = 0
            t0 = time.perf_counter()
            self.timed_round()
            self.round_s.append(time.perf_counter() - t0)
            wall += self.round_s[-1]
            self.rounds += 1
            if self.rounds == 1:
                after_first_round()
            if wall >= seconds:
                return wall

    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        self.inputs = make_inputs(self.work / "inputs", self.seed, N_WEEKS, N_SNAPSHOTS)
        self.gen_s = time.perf_counter() - t0

    def load_sequence(self, store_dir: Path, steps, timed: bool):
        """Run loader calls in order; return (step, report fields) pairs."""
        from team_aragon_spark.pipeline.hhs_load import load_hhs_batch
        from team_aragon_spark.pipeline.quality_load import load_quality_batch
        from team_aragon_spark.pipeline.sinks import ParquetStore

        store = ParquetStore(str(store_dir))
        done = []
        for kind, item in steps:
            if kind == "hhs":
                ok, report = self.op("load_hhs_batch", timed, load_hhs_batch, self.spark, item.path, store)
            else:
                ok, report = self.op(
                    "load_quality_batch", timed, load_quality_batch, self.spark, item.data_date, item.path, store
                )
            done.append(((kind, item), checks.report_fields(report) if ok else None))
        return done

    def check_loads(self, done) -> checks.StoreModel:
        """Compare each load's report with a replay of the same sequence."""
        model = checks.StoreModel()
        for (kind, item), got in done:
            if got is None:  # the load raised; already a problem
                continue
            want = model.load_hhs(item) if kind == "hhs" else model.load_cms(item)
            label = item.week if kind == "hhs" else item.data_date
            if got != want:
                self.problems.append(f"{kind} load {label}: report {got}, want {want}")
            if kind == "hhs":
                self.problems += checks.check_conservation(item, got)
        return model

    def first_filings(self):
        """Monthly snapshot, then the weeks in date order, then the next
        month's snapshot."""
        snaps, weeks = self.inputs.snapshots, self.inputs.weeks
        return [("cms", snaps[0])] + [("hhs", w) for w in weeks] + [("cms", s) for s in snaps[1:]]


class HhsWeeklyIngest(Workload):
    """Fresh store per round: every first filing in date order, then one
    week re-filed and one snapshot re-loaded (all rows duplicates).

    No warm-up: the round starts right after the session, as the weekly
    batch job does, so code generation and compilation for both loaders
    fall in its first loads."""

    def setup(self) -> None:
        self.make_inputs()
        refile = self.rng.choice(self.inputs.weeks)
        reload = self.rng.choice(self.inputs.snapshots)
        self.sequence = self.first_filings() + [("hhs", refile), ("cms", reload)]
        self.done_rounds: list[list] = []

    def timed_round(self) -> None:
        self.store_dir = self.work / f"store-{self.rounds}"
        self.done_rounds.append(self.load_sequence(self.store_dir, self.sequence, timed=True))

    def check(self) -> None:
        for done in self.done_rounds:
            model = self.check_loads(done)
        self.problems += checks.check_store(str(self.store_dir), self.inputs, model)

    def layer(self) -> dict:
        """Row counts of one round, from its load reports."""
        rows_in = accepted = invalid = duplicate = 0
        last = self.done_rounds[-1]
        for (kind, item), got in last:
            if got is None:
                continue
            if kind == "hhs":
                rows_in += item.n_rows
                accepted += got["table_rows"]["hospital_beds"]
                invalid += got["quarantined_invalid"]
                duplicate += got["quarantined_duplicate"]["hospital_beds"]
            else:
                rows_in += len(item.rows)
                accepted += got["inserted"]
                duplicate += got["duplicates"]
        input_bytes = sum(os.path.getsize(item.path) for (_, item), _ in last)
        return {
            "pipeline.rows_in": rows_in,
            "pipeline.rows_accepted": accepted,
            "pipeline.rows_invalid": invalid,
            "pipeline.rows_duplicate": duplicate,
            "pipeline.accept_ratio": accepted / rows_in,
            **store_layout(self.store_dir, input_bytes),
        }


class ReportDashboard(Workload):
    """Store built by the loaders in set-up; timed passes of every
    report function, each result collected to the driver.

    Set-up ends with ``WARMUP_PASSES`` untimed passes.  The first carries
    the reports' code generation and runs about 1.3 times as long as the
    second, and a timed phase that began with it spread by a quarter
    between runs; with one warm-up pass the timed passes were still
    getting faster, and runs that fitted two of them in ``--seconds``
    read slower than runs that fitted three (README.md)."""

    WARMUP_PASSES = 2

    def setup(self) -> None:
        self.make_inputs()
        self.store_dir = self.work / "store"
        t0 = time.perf_counter()
        self.loads = self.load_sequence(self.store_dir, self.first_filings(), timed=False)
        from team_aragon_spark.pipeline.sinks import ParquetStore

        self.store = ParquetStore(str(self.store_dir))
        self.weeks = [w.week for w in self.inputs.weeks]
        self.dates = [s.data_date for s in self.inputs.snapshots]
        self.owners = sorted({v[3] for s in self.inputs.snapshots for v in s.rows.values()})
        self.results: list[tuple[str, dict, list[tuple]]] = []
        for _ in range(self.WARMUP_PASSES):
            self.report_pass(timed=False)
        self.warmup_s = time.perf_counter() - t0

    def timed_round(self) -> None:
        self.report_pass(timed=True)

    def report_pass(self, timed: bool) -> None:
        """One pass of every report."""
        from team_aragon_spark.plans import reports as R

        spark, store = self.spark, self.store
        p = {
            "week": self.rng.choice(self.weeks),
            "ownership": self.rng.choice(self.owners),
            "data_date": self.rng.choice(self.dates),
        }

        def rows(df):
            return [tuple(r) for r in df.collect()]

        def top_and_bottom():
            top, bottom = R.top_and_bottom_rated_states(spark, store, p["data_date"])
            return [("top", *r) for r in rows(top)] + [("bottom", *r) for r in rows(bottom)]

        calls = {
            "records_loaded_per_week": lambda: rows(R.records_loaded_per_week(spark, store, p["week"])),
            "beds_summary_for_week": lambda: rows(R.beds_summary_for_week(spark, store, p["week"])),
            "beds_summary_recent_weeks": lambda: rows(R.beds_summary_recent_weeks(spark, store)),
            "fraction_beds_in_use_by_rating": lambda: rows(R.fraction_beds_in_use_by_rating(spark, store, p["week"])),
            "hospital_cases_by_week": lambda: rows(R.hospital_cases_by_week(spark, store, p["week"])),
            "emergency_services_by_state": lambda: rows(R.emergency_services_by_state(spark, store)),
            "beds_in_use_by_ownership": lambda: rows(R.beds_in_use_by_ownership(spark, store, p["ownership"])),
            "top_and_bottom_rated_states": top_and_bottom,
        }
        for name, call in calls.items():
            ok, out = self.op(name, timed, call)
            if ok:
                self.results.append((name, p, out))

    def check(self) -> None:
        model = self.check_loads(self.loads)
        self.problems += checks.check_store(str(self.store_dir), self.inputs, model)
        oracle = checks.ReportOracle(str(self.store_dir))
        try:
            for name, params, got in self.results:
                self.problems += checks.check_report(name, got, oracle.rows(name, params))
        finally:
            oracle.close()

    def layer(self) -> dict:
        input_bytes = sum(os.path.getsize(item.path) for (_, item), _ in self.loads)
        return store_layout(self.store_dir, input_bytes)


STORE_TABLES = ("hospitals", "hospital_locations", "hospital_beds", "hospital_quality")


def store_layout(root: Path, input_bytes: int) -> dict:
    """Bytes and count of the data files in each table's current
    directory (no markers, no CRCs, no superseded versions)."""
    files = [
        p
        for table in STORE_TABLES
        for p in checks.table_dir(root, table).rglob("*.parquet")
        if not p.name.startswith((".", "_"))
    ]
    size = sum(p.stat().st_size for p in files)
    return {
        "sinks.store_bytes": size,
        "sinks.store_files": len(files),
        "sinks.bytes_per_input_byte": size / input_bytes,
    }


WORKLOADS = {"hhs_weekly_ingest": HhsWeeklyIngest, "report_dashboard": ReportDashboard}
