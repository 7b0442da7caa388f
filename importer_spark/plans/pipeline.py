"""Seed / incremental orchestration (SURVEY §2.9 I4, §3.1).

The reference's orchestrator runs sources in priority order with
--seed / --incremental / full modes (orchestrator.py:580-629) and tracks
processed files in a JSON ledger. Here: one driver function composing the
library — discovery → (seed ? full load : cursor delta) → merge-by-key →
DAG rebuild → quality gates. The cursor lives in a JSON file next to each
source table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from importer_spark.io import _write_merge_layout, merge_by_key
from importer_spark.streaming.incremental import commit_cursor, read_cursor, rows_past_cursor


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

    seed: full reload into the merge layout (io._write_merge_layout), cursor
    set to the batch max; incremental: only rows past the persisted cursor,
    merged by PK so re-delivered rows upsert (reference I3 late-data
    handling); auto: seed until a cursor has been committed, incremental
    after. The watermark is the max of the loaded delta. A seed deletes the
    old cursor first and every load commits it AFTER the warehouse write, so
    a crashed seed reruns as a seed and a crashed incremental load re-merges
    its delta, which the PK merge absorbs.
    """
    state_path = f"{warehouse_path}__cursor"
    prev = read_cursor(spark, state_path)
    if mode == "auto":
        mode = "seed" if prev is None else "incremental"
    if mode not in ("seed", "incremental"):
        raise ValueError(f"unknown mode {mode!r}; use 'seed', 'incremental' or 'auto'")
    delta = source if mode == "seed" else rows_past_cursor(source, cursor_col, prev)
    n, new_max = delta.agg(F.count(F.lit(1)), F.max(cursor_col)).first()
    if mode == "seed":
        if prev is not None:
            os.remove(state_path)
        _write_merge_layout(delta, warehouse_path, keys, version_col=cursor_col)
    else:
        merge_by_key(spark, delta, warehouse_path, keys=keys, version_col=cursor_col)
    commit_cursor(spark, state_path, new_max)
    total = spark.read.parquet(warehouse_path).count()
    return LoadResult(mode=mode, rows_loaded=n, target_rows=total)
