"""End-to-end replay of HHS/CMS inputs through the engine.

Loads two HHS weekly CSVs + one CMS snapshot into a temp ParquetStore
and asserts the reference's load semantics: cross-file dedup,
validation quarantine, first-wins, the 'Not Available'→0 rating quirk,
and that all seven report queries run over the resulting store.  The
inputs are the reference's own extracts (read-only, at the paths
below) when all three are present, and otherwise deterministic
FIXTURES.md §A inputs written by ``tests/hospital_fixtures.py``.
"""

from __future__ import annotations

import csv
import os
import subprocess
import sys
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from team_aragon_spark.pipeline.hhs_load import load_hhs_batch
from team_aragon_spark.pipeline.quality_load import load_quality_batch
from team_aragon_spark.pipeline.sinks import ParquetStore
from team_aragon_spark.plans import reports
from tests.hospital_fixtures import write_hospital_csvs

HHS_W1 = "/root/reference/hhs_data/2022-09-23-hhs-data.csv"
HHS_W2 = "/root/reference/hhs_data/2022-09-30-hhs-data.csv"
CMS_1 = "/root/reference/hospital_data/Hospital_General_Information-2021-07.csv"


@pytest.fixture(scope="module")
def hospital_csvs(tmp_path_factory):
    """``(hhs_w1, hhs_w2, cms)`` input paths: the reference extracts when
    all three exist, else generated ones."""
    reference = (HHS_W1, HHS_W2, CMS_1)
    if all(os.path.exists(p) for p in reference):
        return reference
    return write_hospital_csvs(tmp_path_factory.mktemp("hospital_csvs"))


@pytest.fixture(scope="module")
def store(spark, hospital_csvs, tmp_path_factory):
    hhs_w1, hhs_w2, cms = hospital_csvs
    root = tmp_path_factory.mktemp("store")
    s = ParquetStore(str(root))
    r1 = load_hhs_batch(spark, hhs_w1, s, quarantine_dir=str(root / "quarantine_w1"))
    r2 = load_hhs_batch(spark, hhs_w2, s, quarantine_dir=str(root / "quarantine_w2"))
    q1 = load_quality_batch(spark, "2021-07-01", cms, s)
    return s, r1, r2, q1


def _read_csv(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f))


def test_generated_inputs_contract(tmp_path):
    """The generated inputs carry every case the tests below rely on,
    so they cannot pass vacuously on synthetic data, and a fixed seed
    writes the same bytes in any process (no Spark, no hash seed)."""
    from team_aragon_spark.schemas import CMS_CONSUMED_COLS, HHS_BED_METRIC_COLS, HHS_CONSUMED_SCHEMA

    paths = write_hospital_csvs(tmp_path / "a")
    again = write_hospital_csvs(tmp_path / "b")
    script = (
        "import sys; from tests.hospital_fixtures import write_hospital_csvs; "
        f"write_hospital_csvs({str(tmp_path / 'c')!r}); assert 'pyspark' not in sys.modules"
    )
    env = {**os.environ, "PYTHONHASHSEED": "12345"}
    subprocess.run([sys.executable, "-c", script], check=True, env=env, cwd=Path(__file__).parent.parent)
    for p, q in zip(paths, again):
        name = Path(p).name
        assert Path(p).read_bytes() == Path(q).read_bytes() == (tmp_path / "c" / name).read_bytes(), name

    w1, w2, cms = (_read_csv(p) for p in paths)
    cells = [r[c] for r in w1 for c in HHS_BED_METRIC_COLS]
    assert any(r["address"] == "NA" for r in w1) and "NA" in cells
    assert "-999999" in cells
    assert any(v not in ("NA", "-999999") and float(v) < 0 for v in cells)
    pks1 = {r["hospital_pk"] for r in w1}
    assert len(pks1) == len(w1)
    assert sum(r["hospital_pk"] in pks1 for r in w2) / len(w2) >= 0.999
    assert any(r["Hospital overall rating"] == "Not Available" for r in cms)
    state_of = {r["hospital_pk"]: r["state"] for r in w1}
    assert len({state_of[r["Facility ID"]] for r in cms if r["Facility ID"] in state_of}) >= 10
    assert set(w1[0]) - set(HHS_CONSUMED_SCHEMA.fieldNames())
    assert set(cms[0]) - set(CMS_CONSUMED_COLS)


def test_week1_load_counts(spark, store):
    s, r1, _, _ = store
    # every valid row lands exactly once per table on first load
    assert r1.table_rows["hospitals"] > 4000
    assert r1.table_rows["hospitals"] == r1.table_rows["hospital_locations"]
    assert r1.table_rows["hospital_beds"] == r1.table_rows["hospitals"]
    assert r1.quarantined_duplicate["hospitals"] == 0


def test_cross_file_dedup(spark, store):
    """Week-2 file: ~99.98 % of hospital_pks repeat (SURVEY.md D1) →
    dimensions nearly no-op, beds append a full new week."""
    s, r1, r2, _ = store
    assert r2.table_rows["hospitals"] < 50  # only genuinely new pks
    assert r2.quarantined_duplicate["hospitals"] > 4000
    assert r2.table_rows["hospital_beds"] > 4000  # new composite key week
    assert r2.quarantined_duplicate["hospital_beds"] == 0


def test_no_duplicate_keys_in_store(spark, store):
    s, *_ = store
    hosp = s.read(spark, "hospitals")
    assert hosp.count() == hosp.select("hospital_pk").distinct().count()
    beds = s.read(spark, "hospital_beds")
    assert beds.count() == beds.select("hospital_fk", "collection_week").distinct().count()


def test_validation_quarantine_negative_rows(spark, store):
    """F1: rows with negative bed metrics (post-sentinel-replace) are
    quarantined, and no negative metric survives into the store."""
    s, r1, _, _ = store
    beds = s.read(spark, "hospital_beds")
    from team_aragon_spark.schemas import HHS_BED_METRIC_COLS

    for c in HHS_BED_METRIC_COLS:
        assert beds.filter(F.col(c) < 0).count() == 0, c
    # sentinel values must be NULL, not -999999
    assert beds.filter(F.col("total_icu_beds_7_day_avg") == -999999).count() == 0


def test_quality_not_available_becomes_zero(spark, store):
    s, _, _, q1 = store
    assert q1.inserted > 5000
    quality = s.read(spark, "hospital_quality")
    # the reference maps 'Not Available' → 0.0 (load_quality.py:103); the
    # rating-0 group must exist and no rating is NULL or negative
    assert quality.filter(F.col("hospital_overall_rating") == 0.0).count() > 0
    assert quality.filter(F.col("hospital_overall_rating") < 0).count() == 0
    assert quality.filter(F.col("emergency_services").isNull()).count() == 0


def test_quality_reload_is_full_duplicate(spark, store, hospital_csvs):
    s, _, _, _ = store
    r = load_quality_batch(spark, "2021-07-01", hospital_csvs[2], s)
    assert r.inserted == 0
    assert r.duplicates > 5000


def test_quality_quarantine_partial_duplicate(spark, hospital_csvs, tmp_path):
    """A snapshot whose first 2,000 rows are already stored inserts the
    rest and quarantines exactly those 2,000: duplicates are decided
    against the store as it was before the load's own write."""
    cms = hospital_csvs[2]
    rows = _read_csv(cms)
    assert len({r["Facility ID"] for r in rows}) == len(rows)
    head = tmp_path / "cms_head.csv"
    with open(head, "w", newline="", encoding="utf-8") as f:
        writer = csv.DictWriter(f, fieldnames=list(rows[0]))
        writer.writeheader()
        writer.writerows(rows[:2000])
    s = ParquetStore(str(tmp_path / "store"))
    first = load_quality_batch(spark, "2021-07-01", str(head), s)
    assert (first.inserted, first.duplicates) == (2000, 0)

    quarantine = tmp_path / "quarantine"
    full = load_quality_batch(spark, "2021-07-01", cms, s, quarantine_dir=str(quarantine))
    assert (full.inserted, full.duplicates) == (len(rows) - 2000, 2000)
    quarantined = [r for p in sorted(quarantine.glob("part-*.csv")) for r in _read_csv(p)]
    assert sorted(r["facility_id"] for r in quarantined) == sorted(r["Facility ID"] for r in rows[:2000])
    assert s.read(spark, "hospital_quality").count() == len(rows)


def _within(seconds, fn, *args):
    """``fn(*args)`` on a worker thread; fails instead of hanging when it
    has not returned after ``seconds``."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(1)
    try:
        return pool.submit(fn, *args).result(timeout=seconds)
    finally:
        pool.shutdown(wait=False)


def test_header_only_inputs_load_nothing(spark, store, hospital_csvs, tmp_path):
    """Header-only HHS and CMS files load nothing into an empty store and
    into a loaded one, without waiting forever on the counts of a write
    of zero rows, and the real loads between them count exactly as on
    the module's fresh store."""
    hhs_w1, hhs_w2, cms = hospital_csvs
    _, f1, f2, fq = store
    empty_hhs, empty_cms = tmp_path / "hhs_header.csv", tmp_path / "cms_header.csv"
    for src, dst in ((hhs_w1, empty_hhs), (cms, empty_cms)):
        with open(src, newline="", encoding="utf-8") as f:
            dst.write_text(f.readline(), encoding="utf-8")
    s = ParquetStore(str(tmp_path / "store"))

    def load_nothing():
        h = _within(120, load_hhs_batch, spark, str(empty_hhs), s)
        assert h.table_rows == h.quarantined_duplicate == dict.fromkeys(f1.table_rows, 0)
        assert h.quarantined_invalid == 0
        q = _within(120, load_quality_batch, spark, "2021-07-01", str(empty_cms), s)
        assert (q.inserted, q.duplicates) == (0, 0)

    load_nothing()
    for table in f1.table_rows:
        assert s.read(spark, table).count() == 0, table
    r1 = load_hhs_batch(spark, hhs_w1, s)
    q1 = load_quality_batch(spark, "2021-07-01", cms, s)
    load_nothing()
    r2 = load_hhs_batch(spark, hhs_w2, s)
    for got, want in ((r1, f1), (r2, f2)):
        assert got.table_rows == want.table_rows
        assert got.quarantined_invalid == want.quarantined_invalid
        assert got.quarantined_duplicate == want.quarantined_duplicate
    assert (q1.inserted, q1.duplicates) == (fq.inserted, fq.duplicates)


def test_declared_store_schemas_match_written(spark, store):
    """Each declared store schema (field names and types) is the schema
    Spark infers from the files the loaders wrote, so reading with the
    declared schemas cannot drift from what is stored."""
    from team_aragon_spark.schemas import STORE_SCHEMAS

    s, *_ = store
    for table, schema in STORE_SCHEMAS.items():
        inferred = spark.read.parquet(s.path(table)).schema
        assert {f.name: f.dataType for f in inferred} == {f.name: f.dataType for f in schema}, table
        assert s.read(spark, table).columns == schema.fieldNames(), table


def test_all_seven_reports_run(spark, store):
    s, *_ = store
    week = "2022-09-23"
    assert reports.records_loaded_per_week(spark, s, week).count() >= 1
    assert reports.beds_summary_for_week(spark, s, week).count() == 1
    assert reports.beds_summary_recent_weeks(spark, s).count() <= 4
    frac = reports.fraction_beds_in_use_by_rating(spark, s, week)
    rows = frac.collect()
    assert len(rows) > 0
    assert {r.hospital_overall_rating for r in rows} >= {0.0}  # the quirk group
    assert reports.hospital_cases_by_week(spark, s, week).count() >= 1
    top20 = reports.emergency_services_by_state(spark, s).collect()
    assert 0 < len(top20) <= 20
    own = reports.beds_in_use_by_ownership(spark, s, "Proprietary")
    assert own.count() >= 1
    top, bottom = reports.top_and_bottom_rated_states(spark, s, "2021-07-01")
    t, b = top.collect(), bottom.collect()
    assert len(t) == 10 and len(b) == 10
    assert t[0].avg_rating >= b[0].avg_rating


def test_load_timing_and_log_lines(spark, store, hospital_csvs, tmp_path):
    """O2/O3 parity: every load report carries wall-clock seconds
    (load_hhs.py:65,149-150) and the rotating-file logger emits
    start/finish + counter lines (logging_module.py:5-15)."""
    import logging

    from team_aragon_spark.pipeline.obs import setup_logging

    s, r1, r2, q1 = store
    for rep in (r1, r2, q1):
        assert rep.wall_s > 0.0

    log_file = tmp_path / "log_output.txt"
    setup_logging(str(log_file))
    r = load_quality_batch(spark, "2021-07-01", hospital_csvs[2], s)  # cheap full-dup reload
    assert r.wall_s > 0.0
    # third-party DEBUG chatter (py4j fires on every JVM call) must NOT
    # reach the file: DEBUG is scoped to the package logger, root stays
    # at WARNING (ADVICE round-2 fix)
    logging.getLogger("py4j.java_gateway").debug("py4j-noise-sentinel")
    for h in logging.getLogger().handlers:
        h.flush()
    text = log_file.read_text()
    assert "quality_load[2021-07-01]: load started" in text
    assert "load finished in" in text
    assert "inserted=0" in text
    assert "py4j-noise-sentinel" not in text


def test_jdbc_sink_roundtrip_derby(spark, store, tmp_path):
    """K1/K2: jdbc_append writes through a real JDBC driver (embedded
    Derby, already on Spark's classpath) and the rows read back intact
    — upgrading the sink from 'documented' to exercised.  batchsize
    mirrors the reference's executemany batches (load_quality.py:130)."""
    from team_aragon_spark.pipeline.sinks import jdbc_append

    s, *_ = store
    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    hosp = s.read(spark, "hospitals").limit(200)
    jdbc_append(hosp, url, "hospitals_sink", properties=props, batchsize=500)
    back = spark.read.jdbc(url, "hospitals_sink", properties=props)
    assert back.count() == hosp.count()
    assert set(c.lower() for c in back.columns) == set(c.lower() for c in hosp.columns)
    # append mode really appends (the reference INSERTs, never replaces)
    jdbc_append(hosp, url, "hospitals_sink", properties=props)
    assert spark.read.jdbc(url, "hospitals_sink", properties=props).count() == 2 * hosp.count()


def test_jsonl_roundtrip_adversarial_text(spark, tmp_path):
    """The JSONL source leg (q325) must round-trip every byte of
    ``text`` through JSON escaping: embedded quotes, backslashes,
    literal newlines/tabs, non-ASCII, and the empty string."""
    from team_aragon_spark.sources.jsonl import DOCUMENTS_SCHEMA

    rows = [
        (1, 'she said "hi"', "en", "web", 13),
        (2, "back\\slash and tab\there", "en", "web", 23),
        (3, "line\nbreak\r\nand more", "en", "books", 20),
        (4, "naïve — résumé — 日本語 — 𝕌nicode", "fr", "books", 31),
        (5, "", "en", "web", 0),
        (6, "{\"looks\": \"like json\"}", "en", "code", 22),
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    path = str(tmp_path / "docs_jsonl")
    df.write.mode("overwrite").json(path)
    back = spark.read.schema(DOCUMENTS_SCHEMA).json(path)
    got = {tuple(r) for r in back.collect()}
    assert got == {tuple(r) for r in rows}


def test_staged_jsonl_equals_parquet_rows(spark):
    """sources/jsonl.py staging: the JSONL copy of the documents table
    is row-for-row identical to the parquet original (full outer
    compare on doc_id, every column equal)."""
    from team_aragon_spark.sources.catalog import read_table
    from team_aragon_spark.sources.jsonl import staged_documents_jsonl

    sf = "/root/testdata/sf0.001"
    orig = read_table(spark, "documents", sf)
    back = staged_documents_jsonl(spark, sf)
    assert back.count() == orig.count()
    joined = orig.alias("o").join(back.alias("j"), "doc_id", "full_outer")
    from pyspark.sql import functions as F

    bad = joined.filter(
        ~(
            F.col("o.text").eqNullSafe(F.col("j.text"))
            & F.col("o.lang").eqNullSafe(F.col("j.lang"))
            & F.col("o.source").eqNullSafe(F.col("j.source"))
            & F.col("o.n_chars").eqNullSafe(F.col("j.n_chars"))
        )
    )
    assert bad.count() == 0


def test_staged_orc_events_equal_parquet_rows(spark):
    """sources/orc.py staging: the ORC copy of events is row-for-row
    identical to the parquet original — ids, epoch-microsecond
    timestamps (the zone-free interchange form; ORC's wall-clock
    TIMESTAMP cannot round-trip under a non-UTC session), values,
    and props."""
    from team_aragon_spark.session import tune
    from team_aragon_spark.sources.catalog import read_table
    from team_aragon_spark.sources.orc import staged_events_orc

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    tune(spark)
    orig = read_table(spark, "events", sf).select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    back = staged_events_orc(spark, sf)
    assert back.count() == orig.count()
    joined = orig.alias("o").join(back.alias("b"), "event_id", "full_outer")
    bad = joined.filter(
        ~(
            F.col("o.ts_us").eqNullSafe(F.col("b.ts_us"))
            & F.col("o.user_id").eqNullSafe(F.col("b.user_id"))
            & F.col("o.event_type").eqNullSafe(F.col("b.event_type"))
            & F.col("o.value").eqNullSafe(F.col("b.value"))
            & F.col("o.props").eqNullSafe(F.col("b.props"))
        )
    )
    assert bad.count() == 0
