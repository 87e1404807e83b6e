"""HHS weekly load — the reference's E1 entry point, Spark-first.

Reference shape (``load_hhs.py:35-167``): pandas scan → per-row loop
with 3 SELECT probes + ≤3 INSERTs per row (~30k DB round-trips per
weekly file) → commit → re-read CSV for quarantine.

Engine shape: one scan, then ONE plan per target table —

    scan(csv, typed) → clean (sentinel→NULL, date parse)
      → validation split (null-safe F1 predicate)
      → first-wins within-batch dedup (explicit tie-break)
      → ParquetStore.append_new: left join vs stored keys flags new /
        duplicate, the write appends the new rows and counts both
      → write quarantine CSV of the invalid rows

No per-row work, no driver-side loop, no second scan of the source.
At 100 TB the same plan holds: the probe side is a keys-only
projection of the target (broadcast when dimension-sized), and the
fact append is partitioned by ``collection_week`` so later
week-filtered queries prune partitions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from team_aragon_spark.operators.cleaning import parse_wkt_point
from team_aragon_spark.operators.dedup import first_wins_dedup
from team_aragon_spark.pipeline.obs import logger, timed_load
from team_aragon_spark.operators.validation import (
    non_negative_rules,
    validation_split,
    write_quarantine,
)
from team_aragon_spark.pipeline.sinks import ParquetStore
from team_aragon_spark.schemas import HHS_BED_METRIC_COLS, STORE_SCHEMAS
from team_aragon_spark.sources.readers import clean_hhs, read_hhs_csv


@dataclass
class LoadReport:
    """O1/O2 parity: the counters the reference prints
    (load_hhs.py:157-161) plus the batch wall-clock seconds
    (load_hhs.py:65,149-150)."""

    table_rows: dict[str, int]
    quarantined_invalid: int
    quarantined_duplicate: dict[str, int]
    wall_s: float = 0.0


# (table, keys, first-wins tie-break) in the store's column names.  The
# dimensions are insert-once per hospital (reference D1,
# load_hhs.py:75,89); weekly re-files are ~99.98 % repeats, so they
# append almost nothing after week 1.  Bed facts are keyed by
# (hospital, week) (D2).
HHS_TABLES = (
    ("hospitals", ("hospital_pk",), "hospital_name"),
    ("hospital_locations", ("hospital_fk",), "state"),
    ("hospital_beds", ("hospital_fk", "collection_week"), HHS_BED_METRIC_COLS[0]),
)


def load_hhs_batch(spark: SparkSession, csv_path: str, store: ParquetStore, quarantine_dir: str | None = None) -> LoadReport:
    """Load one weekly HHS file into the 3 HHS-side tables."""
    with timed_load(f"hhs_load[{csv_path}]") as t:
        report = _load_hhs_batch(spark, csv_path, store, quarantine_dir)
    report.wall_s = t["wall_s"]
    logger.info(
        "hhs_load[%s]: rows=%s invalid=%d duplicates=%s",
        csv_path, report.table_rows, report.quarantined_invalid, report.quarantined_duplicate,
    )
    return report


def _load_hhs_batch(spark: SparkSession, csv_path: str, store: ParquetStore, quarantine_dir: str | None) -> LoadReport:
    cleaned = clean_hhs(read_hhs_csv(spark, csv_path)).persist(StorageLevel.MEMORY_AND_DISK)
    valid, invalid = validation_split(cleaned, non_negative_rules(HHS_BED_METRIC_COLS))
    # Store-side columns: locations and beds refer to the hospital as
    # hospital_fk, and the WKT POINT becomes (longitude, latitude)
    # doubles; the raw string rides along for reference parity.
    valid = parse_wkt_point(valid.withColumn("hospital_fk", F.col("hospital_pk")))

    table_rows: dict[str, int] = {}
    dup_counts: dict[str, int] = {}
    for table, keys, tiebreak in HHS_TABLES:
        batch = first_wins_dedup(valid.select(*STORE_SCHEMAS[table].fieldNames()), keys, [tiebreak])
        table_rows[table], dup_counts[table] = store.append_new(spark, batch, table, keys)

    n_invalid = invalid.count()
    if quarantine_dir:
        write_quarantine(invalid, quarantine_dir)

    cleaned.unpersist()
    return LoadReport(table_rows, n_invalid, dup_counts)


def main(argv: list[str] | None = None) -> None:
    """CLI parity with the reference's E1: ``python -m
    team_aragon_spark.pipeline.hhs_load <csv> <store_dir> [quarantine_dir]``
    (reference: ``python load_hhs.py <csv>``, load_hhs.py:170-185)."""
    import sys

    from team_aragon_spark.session import get_spark

    args = argv if argv is not None else sys.argv[1:]
    if len(args) < 2:
        print("usage: hhs_load <csv> <store_dir> [quarantine_dir]", file=sys.stderr)
        raise SystemExit(2)
    csv_path, store_dir = args[0], args[1]
    quarantine = args[2] if len(args) > 2 else None
    from team_aragon_spark.pipeline.obs import setup_logging

    setup_logging()  # O3 parity: reference scripts log to log_output.txt
    spark = get_spark("hhs-load")
    report = load_hhs_batch(spark, csv_path, ParquetStore(store_dir), quarantine)
    print(
        f"loaded: {report.table_rows} | invalid quarantined: {report.quarantined_invalid} "
        f"| duplicates: {report.quarantined_duplicate}"
    )


if __name__ == "__main__":
    main()
