"""Dedup / key-integrity operators (SURVEY.md §2.D, D1-D3) + exact dedup.

The reference implements "first write wins; later duplicates are
quarantined" with per-row SELECT probes (``load_hhs.py:8-32`` — one
round-trip per row) or a batched IN-list probe
(``load_quality.py:13-31``).  Both collapse into distributed joins:

- within-batch first-occurrence  → row_number window with an explicit
  deterministic tie-break (Spark has no insertion order);
- against already-loaded data    → left_anti (keep) / left_semi
  (quarantine) joins on the key; the loaders use the one-join form,
  ``pipeline.sinks.ParquetStore.append_new``, which also counts both
  sides on the write.

Scale: the probe side only needs the KEY columns of the target table —
select them before the join so the shuffle carries keys only; AQE
broadcasts it when the target is dimension-sized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_wins_dedup(df: DataFrame, keys: Sequence[str], tiebreak: Sequence[str]) -> DataFrame:
    """Keep one row per key — the first by ``tiebreak`` ordering.

    Replaces the reference's insertion-order-dependent dedup (D1,
    ``load_hhs.py:23-29``) with a deterministic rule.  ``tiebreak``
    must totally order rows within a key for determinism.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in tiebreak])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def first_wins_dedup_agg(
    df: DataFrame,
    keys: Sequence[str],
    tiebreak: Sequence[str],
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """:func:`first_wins_dedup` as ONE hash aggregate — no sort.

    ``min_by`` over a struct of the tiebreak columns keeps the first
    row per key with a single map-side-combinable aggregate: partial
    state is one row per key per mapper, and no task ever sorts a
    partition — the same argument that makes q95's latest-wins
    compaction the right 100 TB shape, applied to dedup (measured ~30%
    faster than the row_number window on 60M rows, and immune to
    single-hot-key partition sort blowup).

    Caller contract: ``tiebreak`` columns must be NON-NULL — struct
    ordering treats NULL fields differently from the window version's
    ``asc_nulls_last``.  For null-able tiebreaks use
    :func:`first_wins_dedup`.  Returns ``keys`` + ``payload`` columns
    (default: every non-key column), in that order.
    """
    pay = [c for c in df.columns if c not in keys] if payload is None else list(payload)
    key = F.struct(*[F.col(c) for c in tiebreak])
    first = F.min_by(F.struct(*[F.col(c) for c in pay]), key).alias("__f")
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(first)
        .select(*keys, *[F.col(f"__f.{c}").alias(c) for c in pay])
    )


def split_new_vs_existing(batch: DataFrame, existing: DataFrame, keys: Sequence[str]) -> tuple[DataFrame, DataFrame]:
    """(new_rows, duplicate_rows) for a batch vs. an already-loaded table.

    D1/D2 (per-row probe) and D3 (IN-list probe) both become one
    distributed anti/semi join pair.  Only key columns of ``existing``
    participate — project them first so the shuffle moves keys, not
    payload.
    """
    probe = existing.select(*keys).dropDuplicates(list(keys))
    on = list(keys)
    return batch.join(probe, on=on, how="left_anti"), batch.join(probe, on=on, how="left_semi")


def exact_dedup(df: DataFrame, expr_cols: Sequence[str], tiebreak: Sequence[str]) -> DataFrame:
    """Exact content dedup: one surviving row per distinct value tuple.

    LLM-pipeline extension (BASELINE.json north star): hash-groupBy
    semantics via a window keyed on the content columns; survivors are
    deterministic via ``tiebreak``.  For 100 TB corpora prefer keying
    on a digest (e.g. ``md5(text)``) so the shuffle key is 16 bytes
    instead of the document body.
    """
    return first_wins_dedup(df, expr_cols, tiebreak)
