"""CMS quality load — the reference's E2 entry point, Spark-first.

Reference shape (``load_quality.py:81-150``): projected pandas scan →
remaps/casts → one IN-list dedup probe → 500-row executemany batches
with per-row retry on failure → quarantine re-read.

Engine shape: scan → clean → within-batch first-wins dedup →
``ParquetStore.append_new`` on ``(facility_id, data_date)``: one left
join vs the stored keys quarantines the duplicates and appends the
new rows, counting both on the write.  The reference's per-row retry
path (O4) is deleted by design: rows that would violate constraints
are exactly the ones pre-filtered here, so the sink cannot fail
per-row (SURVEY.md §2.I O4 — documented semantic delta).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from team_aragon_spark.operators.dedup import first_wins_dedup
from team_aragon_spark.pipeline.obs import logger, timed_load
from team_aragon_spark.pipeline.sinks import ParquetStore
from team_aragon_spark.sources.readers import clean_cms, read_cms_csv


@dataclass
class QualityLoadReport:
    inserted: int
    duplicates: int
    wall_s: float = 0.0  # O2 parity (load timing)


def load_quality_batch(
    spark: SparkSession, data_date: str, csv_path: str, store: ParquetStore, quarantine_dir: str | None = None
) -> QualityLoadReport:
    """Load one CMS snapshot (keyed by CLI-supplied ``data_date``)."""
    with timed_load(f"quality_load[{data_date}]") as t:
        report = _load_quality_batch(spark, data_date, csv_path, store, quarantine_dir)
    report.wall_s = t["wall_s"]
    logger.info(
        "quality_load[%s]: inserted=%d duplicates=%d", data_date, report.inserted, report.duplicates
    )
    return report


def _load_quality_batch(
    spark: SparkSession, data_date: str, csv_path: str, store: ParquetStore, quarantine_dir: str | None
) -> QualityLoadReport:
    batch = clean_cms(read_cms_csv(spark, csv_path), data_date)
    batch = first_wins_dedup(batch, ["facility_id", "data_date"], ["hospital_type"])
    # The reference probes only the same data_date's keys
    # (load_quality.py:27-29: WHERE facility_id IN (...) AND
    # data_date = %s); the batch's constant data_date reaches the
    # stored-key scan as a partition filter.
    inserted, duplicates = store.append_new(
        spark, batch, "hospital_quality", ("facility_id", "data_date"), quarantine_dir
    )
    return QualityLoadReport(inserted=inserted, duplicates=duplicates)


def main(argv: list[str] | None = None) -> None:
    """CLI parity with the reference's E2: ``python -m
    team_aragon_spark.pipeline.quality_load <date> <csv> <store_dir>``
    (reference: ``python load_quality.py <date> <csv>``, load_quality.py:153-166)."""
    import sys

    from team_aragon_spark.session import get_spark

    args = argv if argv is not None else sys.argv[1:]
    if len(args) < 3:
        print("usage: quality_load <yyyy-mm-dd> <csv> <store_dir> [quarantine_dir]", file=sys.stderr)
        raise SystemExit(2)
    date, csv_path, store_dir = args[0], args[1], args[2]
    quarantine = args[3] if len(args) > 3 else None
    from team_aragon_spark.pipeline.obs import setup_logging

    setup_logging()  # O3 parity: reference scripts log to log_output.txt
    spark = get_spark("quality-load")
    report = load_quality_batch(spark, date, csv_path, ParquetStore(store_dir), quarantine)
    print(f"inserted: {report.inserted} | duplicates: {report.duplicates}")


if __name__ == "__main__":
    main()
