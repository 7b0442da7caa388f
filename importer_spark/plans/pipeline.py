"""Seed / incremental orchestration (SURVEY §2.9 I4, §3.1).

The reference's orchestrator runs sources in priority order with
--seed / --incremental / full modes (orchestrator.py:580-629) and tracks
processed files in a JSON ledger. Here: one driver function composing the
library — discovery → (seed ? full load : cursor delta) → merge-by-key →
DAG rebuild → quality gates. State lives in parquet next to the warehouse.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from importer_spark.io import merge_by_key
from importer_spark.streaming.incremental import (
    commit_cursor,
    cursor_advanced,
    cursor_incremental_batch,
    read_cursor,
)


@dataclass
class LoadResult:
    mode: str
    rows_loaded: int
    target_rows: int


def run_source_load(
    spark: SparkSession,
    source: DataFrame,
    warehouse_path: str,
    keys: list[str],
    cursor_col: str,
    mode: str = "incremental",
) -> LoadResult:
    """Load one source table with seed/incremental semantics.

    seed: full reload, cursor advanced to the batch max;
    incremental: only rows past the persisted cursor, merged by PK so
    re-delivered rows upsert (reference I3 late-data handling). The cursor
    commits AFTER the warehouse write succeeds (at-least-once: a failed run
    re-delivers, and the PK merge absorbs the duplicates).
    """
    state_path = f"{warehouse_path}__cursor"
    if mode == "seed":
        delta = source
    elif mode == "incremental":
        delta = cursor_incremental_batch(spark, source, cursor_col, state_path)
    else:
        raise ValueError(f"unknown mode {mode!r}; use 'seed' or 'incremental'")
    n = delta.count()
    if mode == "seed":
        delta.write.mode("overwrite").parquet(warehouse_path)
    else:
        merge_by_key(spark, delta, warehouse_path, keys=keys, version_col=cursor_col)
    # Durable write finished — now advance the watermark (never backwards).
    new_max = source.agg(F.max(cursor_col).alias("cursor")).first()["cursor"]
    prev = read_cursor(spark, state_path)
    if cursor_advanced(new_max, prev):
        commit_cursor(spark, state_path, new_max)
    total = spark.read.parquet(warehouse_path).count()
    return LoadResult(mode=mode, rows_loaded=n, target_rows=total)
