"""The seeded input generator: deterministic per seed, seed-dependent split,
expected state equal to a direct dedup of everything delivered."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402

# The committed sf0.01 dir serves as a 1x base: its tables are single files.
BASE = inputs.DATA_DIR


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(dp, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dp, f), root)] = fh.read()
    return out


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest")
    runs = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        runs[name] = inputs.make_ingest_inputs(BASE, str(root / name), seed)
    return runs


def test_same_seed_gives_identical_inputs(generated):
    a, b = generated["a"], generated["b"]
    root_a = os.path.dirname(a.seed_dir)
    root_b = os.path.dirname(b.seed_dir)
    assert _files(root_a) == _files(root_b)


def test_different_seed_gives_different_split(generated):
    a, c = generated["a"], generated["c"]
    for source, (key, _, _) in inputs.SOURCES.items():
        seed_a = pq.read_table(os.path.join(a.seed_dir, f"{source}.parquet")).to_pandas()
        seed_c = pq.read_table(os.path.join(c.seed_dir, f"{source}.parquet")).to_pandas()
        b1_a = pq.read_table(os.path.join(a.batch_dirs[0], f"{source}.parquet")).to_pandas()
        b1_c = pq.read_table(os.path.join(c.batch_dirs[0], f"{source}.parquet")).to_pandas()
        new_a = set(b1_a[key]) - set(seed_a[key])
        new_c = set(b1_c[key]) - set(seed_c[key])
        assert new_a != new_c


def test_batches_only_add_rows_past_the_cursor(generated):
    run = generated["a"]
    for source, (key, cursor, _) in inputs.SOURCES.items():
        prev = pq.read_table(os.path.join(run.seed_dir, f"{source}.parquet")).to_pandas()
        for batch_dir in run.batch_dirs:
            cur = pq.read_table(os.path.join(batch_dir, f"{source}.parquet")).to_pandas()
            watermark = prev[cursor].max()
            delta = cur[cur[cursor] > watermark]
            assert len(delta) > 0
            # every row that changed or is new lies past the watermark
            merged = cur.merge(prev, how="left", indicator=True)
            assert (merged.loc[merged["_merge"] == "left_only", cursor] > watermark).all()
            # re-delivered keys exist: some delta keys were already present
            assert delta[key].isin(prev[key]).any()
            assert cur[key].is_unique
            prev = cur


def test_expected_state_matches_direct_dedup(generated):
    run = generated["a"]
    for source, (key, cursor, _) in inputs.SOURCES.items():
        delivered = [pq.read_table(os.path.join(run.seed_dir, f"{source}.parquet")).to_pandas()]
        for b, batch_dir in enumerate(run.batch_dirs):
            delivered.append(pq.read_table(os.path.join(batch_dir, f"{source}.parquet")).to_pandas())
            everything = pd.concat(delivered, ignore_index=True)
            idx = everything.groupby(key)[cursor].idxmax()
            direct = everything.loc[idx].sort_values(key).reset_index(drop=True)
            expected = pq.read_table(run.expected[b][source]).to_pandas()
            pd.testing.assert_frame_equal(expected, direct)


def test_unchanged_tables_are_linked(generated):
    run = generated["a"]
    src = os.stat(os.path.join(BASE, "lineitem.parquet"))
    if os.stat(run.seed_dir).st_dev != src.st_dev:
        pytest.skip("inputs on another filesystem are copied, not linked")
    for d in [run.seed_dir, *run.batch_dirs]:
        st = os.stat(os.path.join(d, "lineitem.parquet"))
        assert st.st_ino == src.st_ino


def test_plan_source_changes_keeps_cursor_ties_together():
    df = pd.DataFrame({
        "k": np.arange(400),
        "c": np.repeat(np.arange(100), 4),  # every cursor value shared by 4 rows
        "v": np.zeros(400),
    })
    snapshot, changes = inputs.plan_source_changes(df, "k", "c", "v", seed=3, batches=2)
    assert snapshot["c"].max() < changes[0]["c"].min()
    new0 = changes[0][~changes[0]["k"].isin(snapshot["k"])]
    new1 = changes[1][~changes[1]["k"].isin(pd.concat([snapshot["k"], new0["k"]]))]
    assert new0["c"].max() < new1["c"].min()
    assert len(snapshot) + len(new0) + len(new1) == len(df)


def test_refine_input_is_a_seeded_permutation(tmp_path):
    one = pq.read_table(inputs.make_refine_input(BASE, str(tmp_path / "one"), 5, k=1) + "/documents.parquet")
    again = pq.read_table(inputs.make_refine_input(BASE, str(tmp_path / "again"), 5, k=1) + "/documents.parquet")
    other = pq.read_table(inputs.make_refine_input(BASE, str(tmp_path / "other"), 6, k=1) + "/documents.parquet")
    src = pq.read_table(os.path.join(BASE, "documents.parquet"))
    assert one.equals(again)
    assert not one.equals(other)
    assert sorted(one.column("doc_id").to_pylist()) == sorted(src.column("doc_id").to_pylist())


def test_refine_input_scales_documents(tmp_path):
    src = pq.read_table(os.path.join(BASE, "documents.parquet")).to_pandas()
    got = pq.read_table(inputs.make_refine_input(BASE, str(tmp_path / "x3"), 1, k=3) + "/documents.parquet").to_pandas()
    assert len(got) == 3 * len(src)
    assert got["doc_id"].is_unique
    copy = got[got["doc_id"] // inputs.DOC_ID_STRIDE == 2].sort_values("doc_id").reset_index(drop=True)
    first = src.sort_values("doc_id").reset_index(drop=True)
    assert (copy["doc_id"] - 2 * inputs.DOC_ID_STRIDE).tolist() == first["doc_id"].tolist()
    assert copy["text"].tolist() == [" ".join(t + "_2" for t in s.split()) for s in first["text"]]
    assert (copy["n_chars"] == copy["text"].str.len()).all()
