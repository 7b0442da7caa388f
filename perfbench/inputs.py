"""Seeded, untimed input generator for the benchmark workloads.

The base is the committed sf0.01 dir in ``data/`` (10 parquet tables, 1.9 MB).
From it and a seed:

* ``make_ingest_inputs`` writes the source snapshot for ``pipeline --mode
  seed`` and one cumulative snapshot dir per incremental batch. Each batch
  adds rows past the cursor and re-delivers a seeded sample of existing keys
  with a newer cursor value (late updates). Tables a batch does not change are
  hard-linked, not copied. It also writes the expected warehouse state of each
  source after each batch: the latest version per key over the change log.
* ``make_refine_input`` writes ``REFINE_SCALE`` copies of ``documents`` with
  ``doc_id`` offset per copy and every token of copy ``i`` suffixed ``_i``,
  so copies are not near-duplicates of each other (the derivation
  ``tools/make_scaled_data.py`` applies to this table), in seed-shuffled row
  order.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = [f.removesuffix(".parquet") for f in sorted(os.listdir(DATA_DIR))]

REFINE_SCALE = 10
DOC_ID_STRIDE = 10_000_000  # far above any sf0.01 doc_id
FILES_PER_TABLE = 4  # multi-file tables, so scans split across local[4]

# The two sources the `pipeline` front door loads: (key, cursor, updated column).
SOURCES = {
    "orders": ("o_orderkey", "o_orderdate", "o_totalprice"),
    "events": ("event_id", "ts", "value"),
}
NEW_FRAC = 0.02  # rows past the cursor per batch, as a share of the source
UPDATE_FRAC = 0.005  # re-delivered existing keys per batch
BATCHES = 2  # incremental batches after the seed load


def _write_dir(table: pa.Table, path: str, n_files: int = FILES_PER_TABLE) -> None:
    """Write ``table`` as a directory of ``n_files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _link(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:  # another filesystem: copy instead
        shutil.copy2(src, dst)


# --- ingest ---------------------------------------------------------------


def _batch_sizes(n_new: int, batches: int, rng: np.random.Generator) -> list[int]:
    """Split ``n_new`` held-back rows into ``batches`` seeded, non-empty parts
    of roughly equal size (each within ±25 % of the mean)."""
    mean = n_new / batches
    sizes = [int(mean * rng.uniform(0.75, 1.25)) for _ in range(batches - 1)]
    sizes.append(n_new - sum(sizes))
    return sizes


def plan_source_changes(
    df: pd.DataFrame, key: str, cursor: str, updated: str, seed: int, batches: int = BATCHES
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Split a source into a seed snapshot and ``batches`` change sets.

    The rows with the highest cursor values are held back and delivered in
    cursor order, ``NEW_FRAC`` of the source per batch (split points seeded),
    so every batch's new rows lie past the previous batch's cursor. A batch
    boundary never splits rows that share a cursor value. Each batch also
    re-delivers ``UPDATE_FRAC`` of the keys delivered so far with ``updated``
    incremented and a cursor value drawn from the batch's new rows, so the
    incremental extract picks them up and the merge must upsert them.
    Returns (seed snapshot, [change set per batch]), each change set holding
    new rows first, then updates."""
    rng = np.random.default_rng(seed)
    df = df.sort_values([cursor, key], kind="stable").reset_index(drop=True)
    n = len(df)
    sizes = _batch_sizes(batches * round(n * NEW_FRAC), batches, rng)
    # Cut points, counted from the end of the cursor order, moved down to
    # the start of their cursor-tie group.
    cuts = [n]
    for size in reversed(sizes):
        cut = cuts[0] - size
        while cut > 0 and df[cursor].iat[cut - 1] == df[cursor].iat[cut]:
            cut -= 1
        cuts.insert(0, cut)
    snapshot = df.iloc[: cuts[0]]
    delivered = snapshot[key].to_numpy()
    latest = snapshot.set_index(key, drop=False)
    changes = []
    for b in range(batches):
        new = df.iloc[cuts[b] : cuts[b + 1]]
        n_upd = round(n * UPDATE_FRAC)
        upd_keys = rng.choice(delivered, size=n_upd, replace=False)
        upd = latest.loc[upd_keys].reset_index(drop=True).copy()
        upd[cursor] = new[cursor].to_numpy()[rng.integers(0, len(new), size=n_upd)]
        upd[updated] = upd[updated] + 1.0
        change = pd.concat([new, upd], ignore_index=True)
        changes.append(change)
        latest = pd.concat([latest.drop(index=upd_keys), change.set_index(key, drop=False)])
        delivered = np.concatenate([delivered, new[key].to_numpy()])
    return snapshot.reset_index(drop=True), changes


def apply_changes(snapshot: pd.DataFrame, changes: list[pd.DataFrame], key: str) -> pd.DataFrame:
    """The source after the change sets: each change row replaces the row
    with its key, or appends a new key (a source system's current state)."""
    state = snapshot
    for change in changes:
        state = pd.concat([state[~state[key].isin(change[key])], change], ignore_index=True)
    return state


def latest_per_key(log: list[pd.DataFrame], key: str, cursor: str) -> pd.DataFrame:
    """Expected warehouse state: over the whole change log, the row with the
    highest cursor per key (later deliveries win ties)."""
    rows = pd.concat([d.assign(_order=i) for i, d in enumerate(log)], ignore_index=True)
    rows = rows.sort_values([key, cursor, "_order"], kind="stable")
    return rows.drop_duplicates(key, keep="last").drop(columns="_order").sort_values(key).reset_index(drop=True)


@dataclass
class IngestInputs:
    seed_dir: str
    batch_dirs: list[str]
    expected: list[dict[str, str]]  # per batch: source -> expected parquet path


def make_ingest_inputs(base_dir: str, out_dir: str, seed: int, batches: int = BATCHES) -> IngestInputs:
    """Write the seed snapshot dir, ``batches`` cumulative batch dirs and the
    expected state of each source after each batch under ``out_dir``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    seed_dir = os.path.join(out_dir, "seed")
    batch_dirs = [os.path.join(out_dir, f"batch{b + 1}") for b in range(batches)]
    expected: list[dict[str, str]] = [{} for _ in range(batches)]
    for d in [seed_dir, *batch_dirs]:
        os.makedirs(d)
        for name in TABLES:
            if name not in SOURCES:
                _link(os.path.join(base_dir, f"{name}.parquet"), os.path.join(d, f"{name}.parquet"))
    for i, (name, (key, cursor, updated)) in enumerate(sorted(SOURCES.items())):
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        df = table.to_pandas()
        snapshot, changes = plan_source_changes(df, key, cursor, updated, seed * 1000 + i, batches)
        _write_dir(pa.Table.from_pandas(snapshot, schema=table.schema, preserve_index=False),
                   os.path.join(seed_dir, f"{name}.parquet"))
        for b in range(batches):
            state = apply_changes(snapshot, changes[: b + 1], key)
            _write_dir(pa.Table.from_pandas(state, schema=table.schema, preserve_index=False),
                       os.path.join(batch_dirs[b], f"{name}.parquet"))
            exp = latest_per_key([snapshot, *changes[: b + 1]], key, cursor)
            path = os.path.join(out_dir, "expected", f"batch{b + 1}", f"{name}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.Table.from_pandas(exp, schema=table.schema, preserve_index=False), path)
            expected[b][name] = path
    return IngestInputs(seed_dir, batch_dirs, expected)


# --- refine ---------------------------------------------------------------


def make_refine_input(base_dir: str, out_dir: str, seed: int, k: int = REFINE_SCALE) -> str:
    """Write ``k`` copies of ``documents`` in seed-shuffled row order;
    returns the dir to pass as ``--sf-dir``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    copies = []
    for i in range(k):
        c = docs
        if i > 0:
            ids = c.column("doc_id").to_numpy() + i * DOC_ID_STRIDE
            text = [re.sub(r"(\S+)", rf"\1_{i}", t) for t in c.column("text").to_pylist()]
            for col, values in (
                ("doc_id", pa.array(ids, type=c.schema.field("doc_id").type)),
                ("text", pa.array(text)),
                ("n_chars", pa.array([len(t) for t in text], type=c.schema.field("n_chars").type)),
            ):
                c = c.set_column(c.schema.get_field_index(col), col, values)
        copies.append(c)
    scaled = pa.concat_tables(copies)
    perm = np.random.default_rng(seed).permutation(scaled.num_rows)
    _write_dir(scaled.take(pa.array(perm)), os.path.join(out_dir, "documents.parquet"))
    return out_dir
