"""Streaming / incremental processing (SURVEY §2.9).

The reference is batch-only; its incremental machinery maps to:
  I1 cursor-based extract  → ``cursor_incremental_batch`` (rows past the
     watermark table's cursor; the caller advances it with ``commit_cursor``
     after a durable write) or ``stream_events`` (Structured Streaming file
     source, whose checkpoint gives exactly-once the reference hand-rolls
     via a JSON ledger — orchestrator.py:34-141).
  I2 snapshot append       → io.snapshot_append.
  I3 merge upsert          → io.merge_by_key.

``windowed_event_counts`` is written against a plain DataFrame so the SAME
code runs in batch (oracle-checked in the catalog) and under readStream with
a watermark (exercised in tests with availableNow) — the Spark-first way to
add the late-data semantics the reference lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from importer_spark.functions import dec, out_double


def stream_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over a parquet directory (Auto-Loader analog of the
    reference's glob-and-ledger discovery, S2/S3)."""
    return spark.readStream.schema(schema).format("parquet").load(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window counts/sums per event_type. With ``watermark`` set and
    a streaming input this is an append-mode late-data-tolerant aggregation;
    with a batch input it's a plain windowed groupBy (same plan shape)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            out_double(F.sum(dec(F.col("value")))).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def read_cursor(spark: SparkSession, state_path: str):
    """Read the persisted high-watermark (None if no state yet). Only a
    missing path counts as 'no state' — other read errors propagate."""
    from importer_spark.io import read_parquet_if_exists

    state = read_parquet_if_exists(spark, state_path)
    if state is None:
        return None
    row = state.first()
    return None if row is None else row["cursor"]


def cursor_advanced(new_value, prev) -> bool:
    """True when ``new_value`` moves the watermark forward. Compares in the
    cursor's NATIVE type (the state parquet preserves it): a string compare
    would stall numeric cursors forever at e.g. 9 → 10 ('10' < '9')."""
    if new_value is None:
        return False
    if prev is None:
        return True
    try:
        return new_value > prev
    except TypeError:  # mixed/legacy state types: fall back to strings
        return str(new_value) > str(prev)


def commit_cursor(spark: SparkSession, state_path: str, value) -> None:
    """Persist the high-watermark. Call AFTER the delta has been durably
    consumed — committing first would skip the batch on a downstream
    failure."""
    if value is None:
        return  # empty batch: keep the previous watermark
    spark.createDataFrame([(value,)], ["cursor"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(state_path)


def cursor_incremental_batch(
    spark: SparkSession,
    source: DataFrame,
    cursor_col: str,
    state_path: str,
) -> DataFrame:
    """Cursor-based incremental extract (reference I1: dlt's ``updated_at``
    high-watermark, shopify_dlt/__init__.py:69-77): rows strictly past the
    persisted cursor. State is a 1-row parquet — on a real deployment, a
    table in the catalog.

    This only filters. The caller consumes the delta durably, then advances
    the watermark with ``commit_cursor`` (at-least-once; see
    plans/pipeline.py::run_source_load)."""
    prev = read_cursor(spark, state_path)
    return source if prev is None else source.filter(F.col(cursor_col) > F.lit(prev))


def stream_dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup bounded by a watermark: duplicates arriving within
    ``watermark`` of the first occurrence are dropped, and state for keys
    older than the watermark is evicted — the at-least-once-source →
    effectively-once-sink repair step. Unbounded `dropDuplicates` state
    grows forever on an infinite stream; the watermark bound is what makes
    dedup viable at 100 TB/day ingest. Batch inputs fall back to plain
    dropDuplicates (same result on a closed dataset)."""
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_view_purchase(
    views: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    views in the preceding ``within`` window. Both sides carry watermarks —
    that is what lets the join EVICT buffered state (views older than the
    bound can never match a future purchase), so state is O(window), not
    O(stream). The interval condition keeps the join an equi-join on
    user_id with a range predicate — one shuffle per side, co-partitioned.
    Works identically on batch inputs (tested for stream≡batch)."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", within)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", within)
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}"))
    )
    return v.join(p, cond).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "purchase_ts",
        "view_ts",
        "purchase_value",
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) window counts per event_type: each event lands in
    window/slide overlapping windows (F.window's third argument). Same
    batch/stream duality as windowed_event_counts."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            out_double(F.sum(dec(F.col("value")))).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
