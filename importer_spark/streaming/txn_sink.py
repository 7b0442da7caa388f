"""Exactly-once streaming sink into the transaction-log table (txn.py).

Structured Streaming's foreachBatch gives at-least-once batch delivery: after
a crash between "sink write" and "checkpoint commit", the SAME (batchId,
rows) is replayed. Exactly-once therefore needs an idempotent sink — the
txn log provides it for free by recording the source's batchId in each
commit manifest: a replayed batch sees its batchId already in the log and
skips, so rows land exactly once no matter how many times the epoch retries.
(This is the published Delta streaming-sink design: txn appId/version in the
commit log.)

Guard cost: Structured Streaming batchIds are monotonically increasing per
query, so the guard only needs the LAST committed batchId, not the full
set. The callbacks cache it between micro-batches and, on a cache miss
(first batch after a restart), resolve it with a newest-first log scan that
stops at the first manifest carrying this query_id — O(commits since this
query last committed), typically O(1) for an active query, instead of
re-parsing every manifest in the table's history on every batch.

At 100 TB the properties compose: commit cost is O(files in the batch), a
skipped replay costs one newest-first log probe, and readers only ever see
whole batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from importer_spark.txn import TxnConflict, TxnTable


def last_committed_batch_id(table: TxnTable, query_id: str) -> int | None:
    """Newest-first scan, stopping at the FIRST manifest committed by
    ``query_id`` — batchIds are monotone per query, so the newest hit is the
    high-water mark. Cost is O(commits by other writers since this query's
    last commit), not O(total commits)."""
    for v in reversed(table._versions()):
        txn = table._manifest(v).get("txn")
        if txn and txn.get("query_id") == query_id:
            return int(txn["batch_id"])
    return None


def _make_guarded(table: TxnTable, query_id: str, commit_one):
    """Shared exactly-once wrapper: skip batchIds at or below the cached
    high-water mark; refresh the cache from the log only when unset (fresh
    process / restart). ``commit_one(batch_df, txn_meta)`` performs the
    actual commit."""
    state = {"last": None}

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if state["last"] is None:
            state["last"] = last_committed_batch_id(table, query_id)
        if state["last"] is not None and batch_id <= state["last"]:
            return  # replayed epoch — rows are already durable
        commit_one(batch_df, {"query_id": query_id, "batch_id": int(batch_id)})
        state["last"] = int(batch_id)

    return write


def exactly_once_merge(
    table: TxnTable,
    query_id: str,
    keys: list[str],
    version_col: str | None = None,
    delete_col: str | None = None,
    conflict_retries: int = 5,
):
    """foreachBatch callback factory: applies each micro-batch as a CDC
    changelog merge (version-guarded upserts + tombstones — see
    TxnTable.commit_merge) exactly once per (query_id, batchId). The
    batchId guard makes replays version-free no-ops, so a crash between
    sink write and checkpoint commit cannot double-apply or bloat the log.

    commit_merge is snapshot-conditional (raises TxnConflict when another
    writer moved the log between read and publish); the callback recomputes
    the merge against the fresh snapshot up to ``conflict_retries`` times —
    safe because the merge is re-derived, never blindly republished."""

    def commit_one(batch_df: DataFrame, txn_meta: dict) -> None:
        for attempt in range(conflict_retries):
            try:
                table.commit_merge(
                    batch_df,
                    keys=keys,
                    version_col=version_col,
                    delete_col=delete_col,
                    txn=txn_meta,
                )
                return
            except TxnConflict:
                if attempt == conflict_retries - 1:
                    raise

    return _make_guarded(table, query_id, commit_one)


def exactly_once_append(table: TxnTable, query_id: str):
    """foreachBatch callback factory: appends each micro-batch to ``table``
    exactly once, keyed by (query_id, batchId). Use:

        stream.writeStream.foreachBatch(exactly_once_append(t, "events-load"))
    """

    def commit_one(batch_df: DataFrame, txn_meta: dict) -> None:
        table.commit_append(batch_df, txn=txn_meta)

    return _make_guarded(table, query_id, commit_one)
