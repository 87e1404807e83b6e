"""Storage layer: partitioned-parquet tables (primary) + JDBC (parity).

Replaces the reference's Postgres sink (K1/K2: per-row INSERTs at
``load_hhs.py:76-77``, 500-row executemany at ``load_quality.py:51-54``)
with engine-native storage:

- **ParquetStore** — one directory per table; fact tables partitioned
  by their date column so week/date-filtered queries prune partitions
  (F2-F4 become metadata-only file skips).  Appends are atomic at the
  task-commit level (Spark's commit protocol), which replaces the
  reference's txn-per-file/rollback (O4/O5): validation happens
  *before* the sink, so writes cannot fail per-row.  Both loaders append
  through :meth:`ParquetStore.append_new` (new vs stored, both counted).

- **jdbc_append** — parity with the reference's "DataFrame → RDBMS"
  path; batching is the JDBC writer's ``batchsize`` (the reference's
  500-row executemany collapses into one option).  Proven against a
  real JDBC driver by ``tests/test_pipeline.py::
  test_jdbc_sink_roundtrip_derby`` (embedded Derby round-trip,
  including the batched path with ``batchsize=500``).
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from team_aragon_spark.operators.validation import write_quarantine
from team_aragon_spark.schemas import STORE_SCHEMAS

BATCH_COL = "__batch"
_STORED = "__stored"
_PTR_SUFFIX = ".__current"
_VERSION_PAT = r"\.__v(\d+)$"


class ParquetStore:
    """Path-based table store with optional date partitioning."""

    PARTITIONED: dict[str, str] = {
        "hospital_beds": "collection_week",
        "hospital_quality": "data_date",
    }

    def __init__(self, root: str):
        self.root = root

    def path(self, table: str) -> str:
        """Resolve the table's CURRENT data directory.

        Uncompacted tables live at the bare ``<root>/<table>`` path.
        ``compact_table`` writes each rewrite to a fresh versioned
        directory (``<table>.__vN``) and swaps a pointer file
        (``<table>.__current``) with one atomic ``os.replace`` — so a
        reader resolving the pointer sees either the complete old tree
        or the complete new tree, never an absent/half-moved table.
        """
        base = os.path.join(self.root, table)
        ptr = base + _PTR_SUFFIX
        if os.path.isfile(ptr):
            with open(ptr) as f:
                name = f.read().strip()
            if name:
                return os.path.join(self.root, name)
        return base

    def exists(self, table: str) -> bool:
        """True when the table holds data: plain data files, hive
        partition dirs, or ``__batch=`` lineage partitions.  The
        underscore skip is for marker files (_SUCCESS, _temporary),
        but ``append_batch`` tables legitimately contain ONLY
        ``__batch=<id>`` dirs — without the second clause every such
        table read as nonexistent forever (r11 review finding)."""
        p = self.path(table)
        return os.path.isdir(p) and any(
            not f.startswith(("_", ".")) or f.startswith(BATCH_COL + "=")
            for f in os.listdir(p)
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Lazy scan of ``table``.  A table in ``STORE_SCHEMAS`` reads with
        its declared schema and column order (no footer-reading job) and
        as an empty frame when absent; other tables infer their schema."""
        schema = STORE_SCHEMAS.get(table)
        if schema is None:
            df = spark.read.parquet(self.path(table))
            if BATCH_COL in df.columns:  # lineage partition, not table schema
                df = df.drop(BATCH_COL)
            return df
        if not self.exists(table):
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(self.path(table)).select(*schema.fieldNames())

    def append(self, df: DataFrame, table: str) -> None:
        writer = df.write.mode("append")
        part_col = self.PARTITIONED.get(table)
        if part_col:
            writer = writer.partitionBy(part_col)
        writer.parquet(self.path(table))

    def append_new(
        self, spark: SparkSession, batch: DataFrame, table: str, keys: Sequence[str], quarantine_dir: str | None = None
    ) -> tuple[int, int]:
        """Append the ``batch`` rows whose ``keys`` are not stored yet and
        return ``(inserted, duplicates)``.

        One plan replaces the reference's per-row and IN-list probes
        (D1-D3, ``load_hhs.py:8-32``, ``load_quality.py:13-31``): a left
        join to the stored keys flags each row, an ``Observation`` on the
        write counts both flags, and only new rows are written.  ``batch``
        must be unique on ``keys``.  Duplicates go to ``quarantine_dir``
        before the append, so they are decided against the store as it
        was before this write.
        """
        on = list(keys)
        stored = self.read(spark, table).select(*on).distinct().withColumn(_STORED, F.lit(True))
        flagged = batch.join(stored, on, "left")
        is_dup = F.col(_STORED).isNotNull()
        if quarantine_dir:
            write_quarantine(flagged.filter(is_dup).select(*batch.columns), quarantine_dir)
        counts = Observation()
        observed = flagged.observe(counts, F.count_if(~is_dup).alias("new"), F.count_if(is_dup).alias("dup"))
        self.append(observed.filter(~is_dup).select(*batch.columns), table)
        got = counts.get  # waits for the write's QueryExecutionListener event
        return got["new"], got["dup"]

    def append_batch(self, df: DataFrame, table: str, batch_id: str) -> None:
        """Idempotent, replay-safe append (O5 upgrade).

        Each batch lands in its own hive partition (``__batch=<id>``)
        via DYNAMIC partition overwrite: re-running the same batch —
        after a crash mid-write, a retry, or an orchestrator replay —
        overwrites exactly its own partition and nothing else, so a
        batch can never be half-applied or double-applied.  This is
        the Spark-native equivalent of the reference's per-file
        transaction + rollback (``load_hhs.py:147-155``): commit is
        the atomic partition swap, rollback is simply re-running.

        The overwrite mode is set per-write (``.option(...)``), never
        on the shared session conf — two concurrent writers in one
        session (e.g. two foreachBatch streams) can't interleave a
        set/restore and demote each other to static mode.

        The lineage column is stripped by :meth:`read`; ``compact_table``
        preserves batch partitions on rewrite so replays stay safe
        after compaction.  One directory per batch: fine for
        file-per-week cadence, and the compactor bounds file counts.
        """
        parts = [BATCH_COL] + ([self.PARTITIONED[table]] if table in self.PARTITIONED else [])
        (
            df.withColumn(BATCH_COL, F.lit(str(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .parquet(self.path(table))
        )


def _next_version(root: str, table: str) -> int:
    pat = re.compile(re.escape(table) + _VERSION_PAT)
    vmax = 0
    for name in os.listdir(root):
        m = pat.match(name)
        if m:
            vmax = max(vmax, int(m.group(1)))
    return vmax + 1


def compact_table(
    spark: SparkSession,
    store: "ParquetStore",
    table: str,
    target_file_mb: int = 128,
) -> int:
    """Rewrite a table into ~``target_file_mb``-sized files, crash-safely.

    Weekly appends leave one small file tree per load; at 100 TB the
    accumulated small files tax every scan (driver listing, task
    scheduling, no intra-file parallelism).  Compaction reads the
    table, repartitions to ceil(bytes / target), writes the rewrite to
    a fresh versioned directory (``<table>.__vN``), then publishes it
    by atomically replacing the ``<table>.__current`` pointer file —
    a single ``os.replace``, so there is no window where the table is
    absent or half-moved.  A crash before the swap leaves readers on
    the old tree; after the swap, on the new one; stale trees from
    crashed runs are garbage-collected on the next successful compact.

    Layout is preserved on rewrite: the date partition column keeps
    pruning working, and — critically for the exactly-once contract of
    :meth:`ParquetStore.append_batch` — the ``__batch`` lineage
    partition is kept too, so a replayed epoch after compaction still
    overwrites exactly its own partition instead of deleting the
    compacted files (dynamic overwrite only replaces matching
    partitions when the table is actually partitioned by that column).

    Returns the new partition (task) count.
    """
    import math
    import pathlib
    import shutil

    cur = store.path(table)
    size = sum(f.stat().st_size for f in pathlib.Path(cur).rglob("*") if f.is_file())
    n = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(cur)

    parts = [c for c in (BATCH_COL, store.PARTITIONED.get(table)) if c and c in df.columns]
    if parts:
        # one task per partition-value combo -> exactly one output file
        # per hive partition (hash-clustered, no cross-partition spray)
        df = df.repartition(n, *[F.col(c) for c in parts])
    else:
        df = df.repartition(n)

    version = _next_version(store.root, table)
    new_name = f"{table}.__v{version}"
    new_path = os.path.join(store.root, new_name)
    writer = df.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(new_path)

    # publish: atomic pointer swap (crash-safe; readers see old or new)
    ptr = os.path.join(store.root, table) + _PTR_SUFFIX
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        f.write(new_name)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, ptr)

    # GC superseded trees (best-effort; strays are re-collected later)
    base = os.path.join(store.root, table)
    pat = re.compile(re.escape(table) + _VERSION_PAT)
    for name in os.listdir(store.root):
        p = os.path.join(store.root, name)
        if p == new_path or not os.path.isdir(p):
            continue
        if p == base or (pat.match(name) and p != new_path):
            shutil.rmtree(p, ignore_errors=True)
    return n


def jdbc_append(df: DataFrame, url: str, table: str, properties: dict | None = None, batchsize: int = 500) -> None:
    """RDBMS sink (K1/K2).  ``batchsize`` mirrors load_quality.py:130.

    Verified end-to-end against embedded Derby (row-at-a-time AND
    batched) in ``tests/test_pipeline.py::test_jdbc_sink_roundtrip_derby``.
    """
    props = {"batchsize": str(batchsize)}
    props.update(properties or {})
    df.write.jdbc(url, table, mode="append", properties=props)
