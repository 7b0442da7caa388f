"""Operator-level tests: writers, streaming equivalence, ANN recall,
multimodal stubs, quality assertions, as-of edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from importer_spark.io import merge_by_key, snapshot_append
from importer_spark.operators import asof_join
from importer_spark.operators.multimodal import decode_media, to_media_table
from importer_spark.operators.similarity import cosine_topk, as_double_array
from importer_spark.quality import (
    QualityError,
    assert_suite,
)
from importer_spark.streaming.incremental import (
    commit_cursor,
    cursor_incremental_batch,
    stream_events,
    windowed_event_counts,
)
from tests.conftest import SF_DIR


def test_merge_by_key_upsert(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([Row(k=1, v="a", ver=1), Row(k=2, v="b", ver=1)])
    merge_by_key(spark, v1, path, keys=["k"], version_col="ver")
    v2 = spark.createDataFrame([Row(k=2, v="b2", ver=2), Row(k=3, v="c", ver=2)])
    merge_by_key(spark, v2, path, keys=["k"], version_col="ver")
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_merge_by_key_source_wins_without_version(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_by_key(spark, spark.createDataFrame([Row(k=1, v="old")]), path, keys=["k"])
    merge_by_key(spark, spark.createDataFrame([Row(k=1, v="new")]), path, keys=["k"])
    assert spark.read.parquet(path).first().v == "new"


def test_snapshot_append_incremental(spark, tmp_path):
    path = str(tmp_path / "snap")
    d1 = spark.createDataFrame([Row(item="x", snapshot_date="2024-01-01", qty=1)])
    snapshot_append(spark, d1, path, "snapshot_date")
    # Re-sending old rows + one new snapshot appends only the new one.
    d2 = spark.createDataFrame(
        [
            Row(item="x", snapshot_date="2024-01-01", qty=999),
            Row(item="x", snapshot_date="2024-01-02", qty=2),
        ]
    )
    snapshot_append(spark, d2, path, "snapshot_date")
    rows = sorted(
        (r.snapshot_date, r.qty) for r in spark.read.parquet(path).collect()
    )
    assert rows == [("2024-01-01", 1), ("2024-01-02", 2)]


def test_cursor_incremental_batch(spark, tmp_path):
    state = str(tmp_path / "cursor")
    src = spark.createDataFrame([Row(id=1, updated_at="2024-01-01"), Row(id=2, updated_at="2024-01-02")])
    first = cursor_incremental_batch(spark, src, "updated_at", state)
    assert first.count() == 2
    # Filtering never moves the watermark; the caller commits after its write.
    assert cursor_incremental_batch(spark, src, "updated_at", state).count() == 2
    commit_cursor(spark, state, "2024-01-02")
    src2 = spark.createDataFrame(
        [Row(id=2, updated_at="2024-01-02"), Row(id=3, updated_at="2024-01-03")]
    )
    second = cursor_incremental_batch(spark, src2, "updated_at", state)
    assert [r.id for r in second.collect()] == [3]


def test_streaming_batch_equivalence(spark, tmp_path):
    """The windowed-agg written for the catalog produces identical results
    under Structured Streaming (availableNow, watermark) and plain batch."""
    from importer_spark.io import Tables

    events = Tables(spark, SF_DIR).events
    # Streaming file source can't read nanos timestamps either; stage a
    # micros copy as the stream input.
    staged = str(tmp_path / "events_stream")
    events.write.parquet(staged)
    batch = windowed_event_counts(spark.read.parquet(staged))
    stream = windowed_event_counts(
        stream_events(spark, staged, events.schema), watermark="30 minutes"
    )
    # complete mode: emit all windows at the end (append mode would withhold
    # windows newer than the final watermark — correct streaming semantics,
    # but not comparable to batch).
    q = (
        stream.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM win_counts")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in got.collect()}
    assert b == s and len(b) > 0


def test_sliding_window_streaming_batch_equivalence(spark, tmp_path):
    """Sliding (hopping) windows: batch and availableNow-stream agree."""
    from importer_spark.io import Tables
    from importer_spark.streaming.incremental import sliding_window_counts

    events = Tables(spark, SF_DIR).events
    staged = str(tmp_path / "events_stream")
    events.write.parquet(staged)
    batch = sliding_window_counts(spark.read.parquet(staged))
    stream = sliding_window_counts(
        stream_events(spark, staged, events.schema), watermark="30 minutes"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in spark.sql("SELECT * FROM slide_counts").collect()}
    assert b == s and len(b) > 0


def test_ann_recall_vs_bruteforce(spark):
    """Multi-probe LSH recall@5 against brute force on sf0.001. These
    embeddings are near-uniform (brute-force neighbors share the probe's
    label 2.5% of the time), so expected recall equals the searched corpus
    fraction: (1+4 planes)/16 buckets ≈ 0.31. Assert above half of that —
    catching bucketing bugs without flaking on randomness."""
    from importer_spark.queries import QUERIES

    bf = QUERIES["embedding_cosine_topk"](spark, SF_DIR).toPandas()
    ann = QUERIES["embedding_ann_lsh"](spark, SF_DIR).toPandas()
    bf_sets = bf.groupby("probe_id")["neighbor_id"].apply(set)
    ann_sets = ann.groupby("probe_id")["neighbor_id"].apply(set)
    recalls = [
        len(bf_sets[p] & ann_sets.get(p, set())) / len(bf_sets[p]) for p in bf_sets.index
    ]
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_ivf_recall_vs_bruteforce(spark):
    """IVF recall@5 against brute force. At sf0.001 there are ~5 cells and
    nprobe=3, so the searched fraction is ~0.6 of the corpus; on
    near-uniform embeddings expected recall ≈ that fraction. Assert above
    half of it — structural-bug detector, not a tuning benchmark."""
    from importer_spark.queries import QUERIES

    bf = QUERIES["embedding_cosine_topk"](spark, SF_DIR).toPandas()
    ivf = QUERIES["embedding_ivf_topk"](spark, SF_DIR).toPandas()
    bf_sets = bf.groupby("probe_id")["neighbor_id"].apply(set)
    ivf_sets = ivf.groupby("probe_id")["neighbor_id"].apply(set)
    recalls = [
        len(bf_sets[p] & ivf_sets.get(p, set())) / len(bf_sets[p]) for p in bf_sets.index
    ]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_multimodal_decode_stub_raises(spark):
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "image/png")


def test_media_table_schema(spark):
    from importer_spark.io import Tables

    media = to_media_table(Tables(spark, SF_DIR).documents)
    kinds = dict(media.dtypes)
    assert kinds["media"] == "binary"
    assert kinds["metadata"].startswith("struct")


def test_asof_join_no_match_is_null(spark):
    left = spark.createDataFrame([Row(k="a", lts=1, payload="p1")])
    right = spark.createDataFrame([Row(k="a", rts=5, val="late")])
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts", right_value_cols=["val"]
    ).collect()
    assert out[0]["val_asof"] is None


def test_asof_join_equal_ts_matches(spark):
    left = spark.createDataFrame([Row(k="a", lts=5, payload="p1")])
    right = spark.createDataFrame([Row(k="a", rts=5, val="same-instant")])
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts", right_value_cols=["val"]
    ).collect()
    assert out[0]["val_asof"] == "same-instant"


def test_asof_join_forward_numeric_axis(spark):
    left = spark.createDataFrame([Row(k="a", lts=3, payload="p1")])
    right = spark.createDataFrame(
        [Row(k="a", rts=1, val="past"), Row(k="a", rts=7, val="next"), Row(k="a", rts=9, val="later")]
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_value_cols=["val"], direction="forward",
    ).collect()
    assert out[0]["val_asof"] == "next"  # earliest rts >= lts, not the later one


def test_asof_join_tolerance_masks_far_matches(spark):
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [Row(k="a", lts=10, payload="near"), Row(k="b", lts=10, payload="far")]
    )
    right = spark.createDataFrame(
        [Row(k="a", rts=8, val="ok"), Row(k="b", rts=1, val="stale")]
    )
    rows = {
        r["payload"]: r["val_asof"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_value_cols=["val"], tolerance=F.lit(3),
        ).collect()
    }
    assert rows == {"near": "ok", "far": None}  # distance 2 kept, 9 masked


def test_asof_join_bad_direction_raises(spark):
    left = spark.createDataFrame([Row(k="a", lts=1)])
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, left, on=["k"], left_ts="lts", right_ts="lts",
                  right_value_cols=[], direction="nearest")


def test_quality_assertions(spark):
    df = spark.createDataFrame(
        [Row(id=1, status="A"), Row(id=2, status="B"), Row(id=2, status="Z")]
    )
    assert_suite(df, [
        {"name": "id_not_null", "kind": "not_null", "col": "id"},
        {"name": "status_not_null", "kind": "not_null", "col": "status"},
    ])
    with pytest.raises(QualityError, match=r"id_unique \(1 violations\)"):
        assert_suite(df, [{"name": "id_unique", "kind": "unique", "col": "id"}])
    with pytest.raises(QualityError, match=r"status_values \(1 violations\)"):
        assert_suite(df, [{"name": "status_values", "kind": "accepted_values",
                           "col": "status", "values": ["A", "B"]}])
    assert_suite(df, [{"name": "id_pos", "kind": "expression", "expr": "id > 0"}])
    with pytest.raises(QualityError, match=r"id_gt1 \(1 violations\)"):
        assert_suite(df, [{"name": "id_gt1", "kind": "expression", "expr": "id > 1"}])


def test_catalog_quality_gates(spark):
    """Reference-style schema tests applied to our own mart outputs."""
    from importer_spark.queries import QUERIES

    fact = QUERIES["orders_fact"](spark, SF_DIR)
    assert_suite(fact, [
        {"name": "order_key_unique", "kind": "unique", "col": "order_key"},
        *[{"name": f"{c}_not_null", "kind": "not_null", "col": c}
          for c in ["order_key", "cust_key", "order_date", "sales_channel"]],
        {"name": "sales_channel_values", "kind": "accepted_values",
         "col": "sales_channel",
         "values": ["Express", "Priority", "Fulfilled-Std", "Standard"]},
        {"name": "order_size_values", "kind": "accepted_values",
         "col": "order_size", "values": ["small", "medium", "large"]},
        {"name": "net_le_gross", "kind": "expression",
         "expr": "net_amount <= gross_amount"},
    ])


def test_kmeans_monotone_and_deterministic(spark):
    """Lloyd SSE must be non-increasing across rounds, and two runs over the
    same data must agree exactly (deterministic seeds, tie-break by index)."""
    from pyspark.sql import functions as F

    from importer_spark.io import Tables
    from importer_spark.operators.clustering import kmeans_assignments, kmeans_fit
    from importer_spark.operators.similarity import as_double_array

    e = Tables(spark, SF_DIR).embeddings.select(
        "vec_id", as_double_array(F.col("embedding")).alias("emb")
    )
    _, sse = kmeans_fit(e, "vec_id", "emb", k=4, iters=3)
    assert len(sse) == 3
    assert all(b <= a * (1 + 1e-12) for a, b in zip(sse, sse[1:])), sse

    a = sorted(map(tuple, kmeans_assignments(e, "vec_id", "emb", k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_assignments(e, "vec_id", "emb", k=4, iters=2).collect()))
    assert a == b
    n = e.count()
    assert len(a) == n
    assert {r[1] for r in a} <= set(range(4))
    # cluster_size is consistent with the actual assignment multiset.
    from collections import Counter
    sizes = Counter(r[1] for r in a)
    assert all(r[2] == sizes[r[1]] for r in a)


def test_cosine_pairs_exact_matches_blockwise(spark):
    """The distributed triangle-block all-pairs must emit exactly the pairs
    the broadcast blockwise kernel emits (same ids, same 6dp scores) — the
    two differ only in where the matmul runs."""
    from importer_spark.operators.similarity import (
        cosine_pairs_blockwise,
        cosine_pairs_exact,
    )
    from tests.conftest import SF_DIR
    from importer_spark.io import Tables

    t = Tables(spark, SF_DIR)
    e = t.embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("emb"))
    exact = {
        tuple(r)
        for r in cosine_pairs_exact(e, "vec_id", "emb", threshold=0.3, n_blocks=5).collect()
    }
    blockwise = {
        tuple(r)
        for r in cosine_pairs_blockwise(e, "vec_id", "emb", threshold=0.3).collect()
    }
    assert exact and exact == blockwise


def test_cosine_pairs_blockwise_guard(spark):
    """The broadcast helper must refuse unbounded inputs instead of
    materializing them on the driver."""
    from importer_spark.operators.similarity import cosine_pairs_blockwise
    from tests.conftest import SF_DIR
    from importer_spark.io import Tables

    t = Tables(spark, SF_DIR)
    e = t.embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("emb"))
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        cosine_pairs_blockwise(e, "vec_id", "emb", threshold=0.9, max_broadcast_rows=3)


def test_merge_rewrites_only_matched_partitions(spark, tmp_path):
    """The scale contract of merge_by_key: a merge touching one key must
    leave every unmatched bucket partition's files BYTE-IDENTICAL (same
    names, same contents) — cost proportional to matched buckets, not the
    table."""
    import hashlib
    from importer_spark.io import merge_by_key

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([Row(k=i, v=f"v{i}", ver=1) for i in range(200)])
    merge_by_key(spark, base, path, keys=["k"], version_col="ver", n_buckets=8)

    def snapshot():
        return {
            str(f.relative_to(tmp_path)): hashlib.md5(f.read_bytes()).hexdigest()
            for f in (tmp_path / "tbl").rglob("*.parquet")
        }

    before = snapshot()
    merge_by_key(
        spark,
        spark.createDataFrame([Row(k=7, v="updated", ver=2)]),
        path,
        keys=["k"],
        version_col="ver",
    )
    after = snapshot()
    touched_dirs = {p.rsplit("/", 2)[-2] for p in set(before) ^ set(after)} | {
        p.rsplit("/", 2)[-2] for p in before if before.get(p) != after.get(p)
    }
    # exactly one bucket dir may differ; every other partition byte-identical
    assert len(touched_dirs) == 1, touched_dirs
    untouched_before = {p: h for p, h in before.items() if p.rsplit("/", 2)[-2] not in touched_dirs}
    untouched_after = {p: h for p, h in after.items() if p.rsplit("/", 2)[-2] not in touched_dirs}
    assert untouched_before and untouched_before == untouched_after
    # and the merge semantics held
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out[7] == "updated" and len(out) == 200


def test_merge_migrates_legacy_unpartitioned_target(spark, tmp_path):
    """A pre-bucketing flat parquet target is migrated into the partitioned
    layout on the next merge, preserving rows and upsert semantics."""
    from importer_spark.io import merge_by_key

    path = str(tmp_path / "legacy")
    spark.createDataFrame([Row(k=1, v="a", ver=1), Row(k=2, v="b", ver=1)]).write.parquet(path)
    merge_by_key(
        spark,
        spark.createDataFrame([Row(k=2, v="b2", ver=2), Row(k=3, v="c", ver=1)]),
        path,
        keys=["k"],
        version_col="ver",
        n_buckets=4,
    )
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}
    assert any(d.name.startswith("_kb=") for d in (tmp_path / "legacy").iterdir())


def test_ivf_trained_quantizer_recall(spark):
    """Close the k-means → IVF loop: cells TRAINED with kmeans_fit must
    search at least as well as the deterministic strided seeds at the same
    nprobe budget (these embeddings are near-uniform, so recall tracks the
    searched corpus fraction — trained, data-adaptive cells balance cell
    sizes and must not do materially worse)."""
    from importer_spark.queries import DIAGNOSTICS, QUERIES

    trained = DIAGNOSTICS["embedding_ivf_trained_topk"](spark, SF_DIR).toPandas()
    strided = QUERIES["embedding_ivf_topk"](spark, SF_DIR).toPandas()
    bf = QUERIES["embedding_cosine_topk"](spark, SF_DIR).toPandas()

    def recall(ann):
        bf_sets = bf.groupby("probe_id")["neighbor_id"].apply(set)
        ann_sets = ann.groupby("probe_id")["neighbor_id"].apply(set)
        return sum(
            len(bf_sets[p] & ann_sets.get(p, set())) / len(bf_sets[p])
            for p in bf_sets.index
        ) / len(bf_sets.index)

    r_trained, r_strided = recall(trained), recall(strided)
    # floor catches structural bugs; the comparison pins "trained is not
    # worse than seeds" with slack for tie noise on uniform data
    assert r_trained >= 0.3, (r_trained, r_strided)
    assert r_trained >= r_strided - 0.15, (r_trained, r_strided)


def test_incremental_near_dups_matches_batch_slice(spark):
    """Deterministic banding contract: processing a batch against the
    persisted band store must return EXACTLY the full-batch near-dup pairs
    restricted to pairs touching a batch doc — and chaining two batches
    (merging each batch's bands into the store) must cover every pair the
    full run finds except old-old pairs."""
    from importer_spark.io import Tables
    from importer_spark.operators.dedup import (
        band_index,
        near_dup_pairs,
        near_dup_pairs_incremental,
    )

    docs = Tables(spark, SF_DIR).documents
    full = {(r.id_a, r.id_b): r.jaccard for r in near_dup_pairs(docs, "doc_id", "text").collect()}
    assert full  # planted near-dups exist

    b1 = F.col("doc_id") % 5 == 0
    b2 = F.col("doc_id") % 5 == 1
    base = docs.filter(~b1 & ~b2)
    store = band_index(base, "doc_id", "text")

    p1, bands1 = near_dup_pairs_incremental(
        docs.filter(~b2), docs.filter(b1), store, "doc_id", "text"
    )
    got1 = {(r.id_a, r.id_b): r.jaccard for r in p1.collect()}
    new1 = {r.doc_id for r in docs.filter(b1).select("doc_id").collect()}
    old1 = {r.doc_id for r in base.select("doc_id").collect()}
    want1 = {
        k: v
        for k, v in full.items()
        if (k[0] in new1 or k[1] in new1) and {k[0], k[1]} <= new1 | old1
    }
    assert got1 == want1

    store2 = store.unionByName(bands1)
    p2, _ = near_dup_pairs_incremental(docs, docs.filter(b2), store2, "doc_id", "text")
    got2 = {(r.id_a, r.id_b): r.jaccard for r in p2.collect()}
    new2 = {r.doc_id for r in docs.filter(b2).select("doc_id").collect()}
    want2 = {k: v for k, v in full.items() if k[0] in new2 or k[1] in new2}
    assert got2 == want2
    # two chained batches + the base cover everything except base-base pairs
    covered = set(got1) | set(got2)
    uncovered = {k for k in full if k not in covered}
    assert all(k[0] in old1 and k[1] in old1 for k in uncovered)


def test_compact_merged_table(spark, tmp_path):
    """Compaction rewrites only multi-file bucket partitions down to one
    file each, preserves every row, and leaves already-compact partitions
    byte-identical."""
    import hashlib
    from importer_spark.io import compact_merged_table, merge_by_key

    from importer_spark.io import BUCKET_COL, _bucket_expr

    path = str(tmp_path / "tbl")
    rows = [Row(k=i, v=f"v{i}", ver=1) for i in range(400)]
    merge_by_key(spark, spark.createDataFrame(rows), path, keys=["k"], n_buckets=4)
    # accrete files the way an append-based ingest does
    for wave in range(2):
        extra = spark.createDataFrame(
            [Row(k=1000 + wave * 100 + i, v="x", ver=1) for i in range(100)]
        ).withColumn(BUCKET_COL, _bucket_expr(["k"], 4))
        extra.coalesce(1).write.mode("append").partitionBy(BUCKET_COL).parquet(path)

    def files():
        return {
            str(f.relative_to(tmp_path)): hashlib.md5(f.read_bytes()).hexdigest()
            for f in (tmp_path / "tbl").rglob("*.parquet")
        }

    before = files()
    before_rows = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    multi = {
        d.name
        for d in (tmp_path / "tbl").iterdir()
        if d.is_dir() and len(list(d.glob("*.parquet"))) > 1
    }
    assert multi, "fixture should produce multi-file partitions"

    result = compact_merged_table(spark, path)
    assert set(result) == {int(m.split("=")[1]) for m in multi}
    assert all(a > 1 and b == 1 for a, b in result.values()), result

    after = files()
    untouched = {p: h for p, h in before.items() if p.split("/")[1] not in multi}
    assert untouched == {p: h for p, h in after.items() if p.split("/")[1] not in multi}
    assert before_rows == sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    # idempotent: a second pass finds nothing to do
    assert compact_merged_table(spark, path) == {}


def test_global_rank_matches_window_both_directions(spark):
    """Distributed global rank == single-task window row_number, for asc and
    desc leading columns, and ntile_col == SQL NTILE including the
    uneven-bucket rule and n < k."""
    from pyspark.sql import Window
    from importer_spark.operators.ranks import (
        ntile_col,
        percent_rank_col,
        with_global_rank_stats,
    )

    for n, k in [(150, 4), (5, 4), (3, 4), (97, 8)]:
        df = spark.range(n).select(
            F.col("id").alias("key"),
            (F.pmod(F.col("id") * 37, 113)).cast("double").alias("val"),
        )
        for asc in (True, False):
            order = [
                F.col("val").asc() if asc else F.col("val").desc(),
                F.col("key").asc(),
            ]
            ranked = with_global_rank_stats(
                df, "val", order, n_buckets=7, first_col_ascending=asc
            ).select("key", "_rn", "_n", ntile_col(k).alias("nt"),
                     F.round(percent_rank_col(), 6).alias("pr"))
            w = Window.orderBy(*order)
            truth = df.select(
                "key",
                F.row_number().over(w).alias("rn"),
                F.ntile(k).over(w).alias("nt_w"),
                F.round(F.percent_rank().over(w), 6).alias("pr_w"),
            )
            joined = ranked.join(truth, "key")
            bad = joined.filter(
                (F.col("_rn") != F.col("rn"))
                | (F.col("nt") != F.col("nt_w"))
                | (F.col("pr") != F.col("pr_w"))
            ).count()
            assert bad == 0, (n, k, asc)


def test_grouped_rank_matches_partitioned_window(spark):
    """Partitioned distributed rank == Window.partitionBy row_number /
    NTILE / percent_rank, across skewed group sizes (one dominant key),
    ties on the bucketing column, NULL values, a NULL PARTITION KEY (SQL
    ranks it as its own partition — a plain equi-join would drop it), and
    both sort directions; empty part_cols falls back to the global path."""
    from pyspark.sql import Window
    from importer_spark.operators.ranks import (
        ntile_col,
        percent_rank_col,
        with_grouped_rank_stats,
    )

    # 3 groups: dominant (181 rows), small (7), singleton (1); val has ties
    # (mod 13) and a NULL stripe in the dominant group.
    df = spark.range(189).select(
        F.when(F.col("id") < 178, F.lit("big"))
        .when(F.col("id") < 185, F.lit("small"))
        .when(F.col("id") < 188, F.lit(None).cast("string"))  # NULL partition
        .otherwise(F.lit("solo"))
        .alias("grp"),
        F.col("id").alias("key"),
        F.when(F.col("id") % 19 == 3, F.lit(None))
        .otherwise((F.pmod(F.col("id") * 37, 13)).cast("double"))
        .alias("val"),
    )
    for asc in (True, False):
        order = [
            F.col("val").asc() if asc else F.col("val").desc(),
            F.col("key").asc(),
        ]
        ranked = with_grouped_rank_stats(
            df, ["grp"], "val", order, n_buckets=5, first_col_ascending=asc
        ).select(
            "key", "_rn", "_n",
            ntile_col(4).alias("nt"),
            F.round(percent_rank_col(), 6).alias("pr"),
        )
        w = Window.partitionBy("grp").orderBy(*order)
        truth = df.select(
            "key",
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("nt_w"),
            F.round(F.percent_rank().over(w), 6).alias("pr_w"),
        )
        joined = ranked.join(truth, "key")
        assert joined.count() == 189, asc
        bad = joined.filter(
            (F.col("_rn") != F.col("rn"))
            | (F.col("nt") != F.col("nt_w"))
            | (F.col("pr") != F.col("pr_w"))
        ).count()
        assert bad == 0, asc
    # empty part_cols delegates to the global form
    from importer_spark.operators.ranks import grouped_row_number

    g = grouped_row_number(
        df, [], "val", [F.col("val").asc(), F.col("key").asc()], out_col="g_rn"
    )
    wg = Window.orderBy(F.col("val").asc(), F.col("key").asc())
    truth_g = df.select("key", F.row_number().over(wg).alias("w_rn"))
    assert (
        g.join(truth_g, "key").filter(F.col("g_rn") != F.col("w_rn")).count()
        == 0
    )


def test_winnowing_guarantee_on_near_dups(spark):
    """The winnowing guarantee: documents sharing a sufficiently long
    substring share at least one selected fingerprint. Checked against an
    INDEPENDENT pure-Python winnowing of the candidate docs: every planted
    near-dup pair must share >= 1 fingerprint; identical docs (jaccard 1.0)
    have identical sets; and the Spark digests agree with the reference
    implementation for every doc."""
    import hashlib

    from importer_spark.io import Tables
    from importer_spark.operators.dedup import near_dup_pairs
    from importer_spark.queries import QUERIES
    from importer_spark.queries.llm_text import _WIN_K, _WIN_W

    def winnow(text):
        t = text.split(" ")
        if len(t) < _WIN_K:
            hs = [hashlib.md5(text.encode()).hexdigest()]
        else:
            hs = [
                hashlib.md5(" ".join(t[i : i + _WIN_K]).encode()).hexdigest()
                for i in range(len(t) - _WIN_K + 1)
            ]
        n_starts = max(len(hs) - _WIN_W + 1, 1)
        return {min(hs[i : i + _WIN_W]) for i in range(n_starts)}

    docs = Tables(spark, SF_DIR).documents
    pairs = near_dup_pairs(docs, "doc_id", "text").toPandas()
    assert len(pairs)
    texts = {r.doc_id: r.text for r in docs.collect()}
    ref_sets = {d: winnow(t) for d, t in texts.items()}

    for a, b, j in zip(pairs.id_a, pairs.id_b, pairs.jaccard):
        assert ref_sets[a] & ref_sets[b], (a, b)
        if j == 1.0:
            assert ref_sets[a] == ref_sets[b]

    fps = QUERIES["doc_winnowing_fingerprints"](spark, SF_DIR).toPandas().set_index("doc_id")
    for d, fpset in ref_sets.items():
        want = hashlib.md5(",".join(sorted(fpset)).encode()).hexdigest()
        assert fps.fp_digest[d] == want, d


def test_session_window_streaming_batch_equivalence(spark, tmp_path):
    """F.session_window sessions: batch and availableNow-stream agree (the
    docstring's 'streaming-ready' claim, proven)."""
    from pyspark.sql import functions as F

    from importer_spark.functions import dec, out_double
    from importer_spark.io import Tables

    def sessions(df, watermark=None):
        src = df.withWatermark("ts", watermark) if watermark else df
        return (
            src.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(
                F.count("*").alias("n_events"),
                out_double(F.sum(dec(F.col("value")))).alias("total_value"),
            )
            .select(
                "user_id",
                F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("s"),
                F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("e"),
                "n_events",
                "total_value",
            )
        )

    events = Tables(spark, SF_DIR).events
    staged = str(tmp_path / "events_sessions")
    events.write.parquet(staged)
    batch = sessions(spark.read.parquet(staged))
    q = (
        sessions(stream_events(spark, staged, events.schema), watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_native")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in spark.sql("SELECT * FROM sess_native").collect()}
    assert b == s and len(b) > 0


def test_incremental_substring_spans_matches_batch_slice(spark):
    """Incremental exact-substring contract: probing the persisted gram
    store returns EXACTLY the full-corpus duplicate spans restricted to
    batch docs; chaining a second batch through merge_ngram_stores keeps
    the contract; re-processing an already-indexed doc is idempotent
    (solo_id guard — a doc is never its own duplicate)."""
    from importer_spark.io import Tables
    from importer_spark.operators.dedup import (
        duplicate_ngram_spans,
        duplicate_ngram_spans_incremental,
        merge_ngram_stores,
        ngram_store,
    )

    docs = Tables(spark, SF_DIR).documents
    full = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_ngram_spans(docs, "doc_id", "text").collect()
    }
    assert full  # planted near-dups share passages

    b1 = F.col("doc_id") % 5 == 0
    b2 = F.col("doc_id") % 5 == 1
    base = docs.filter(~b1 & ~b2)
    store = ngram_store(base, "doc_id", "text")

    # Full run over base ∪ batch1, restricted to batch1 docs.
    spans1, delta1 = duplicate_ngram_spans_incremental(
        docs.filter(b1), store, "doc_id", "text"
    )
    got1 = {(r.doc_id, r.span_start, r.span_end) for r in spans1.collect()}
    want1 = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_ngram_spans(docs.filter(~b2), "doc_id", "text")
        .filter(b1)
        .collect()
    }
    assert got1 == want1

    # Chain: merged store sees base ∪ batch1; batch2 vs full answer.
    store2 = merge_ngram_stores(store, delta1)
    spans2, _ = duplicate_ngram_spans_incremental(
        docs.filter(b2), store2, "doc_id", "text"
    )
    got2 = {(r.doc_id, r.span_start, r.span_end) for r in spans2.collect()}
    want2 = {t for t in full if t[0] % 5 == 1}
    assert got2 == want2

    # Idempotence: re-processing base docs against their own store adds no
    # self-duplicates — the result equals the full-base answer (true dups
    # among base docs), not "everything is a dup of itself".
    respans, _ = duplicate_ngram_spans_incremental(base, store, "doc_id", "text")
    regot = {(r.doc_id, r.span_start, r.span_end) for r in respans.collect()}
    rewant = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_ngram_spans(base, "doc_id", "text").collect()
    }
    assert regot == rewant


def test_merge_bucket_keys_prefix_colocates_entities(spark, tmp_path):
    """bucket_keys = a PK prefix: all of an entity's rows land in ONE
    bucket, so an update batch touching E entities rewrites <= E buckets;
    resolution still dedups on the FULL key; mismatched bucket_keys on a
    later merge raises instead of silently splitting PKs."""
    import glob

    from importer_spark.io import merge_by_key

    rows = [(o, l, float(o * 10 + l)) for o in range(50) for l in range(1, 5)]
    df = spark.createDataFrame(rows, "order_key bigint, line int, qty double")
    tgt = str(tmp_path / "lines")
    merge_by_key(
        spark, df, tgt, keys=["order_key", "line"],
        n_buckets=32, bucket_keys=["order_key"],
    )
    before = set(glob.glob(tgt + "/**/*.parquet", recursive=True))

    upd = df.filter(F.col("order_key") == 7).withColumn("qty", F.col("qty") + 100)
    merge_by_key(spark, upd, tgt, keys=["order_key", "line"], bucket_keys=["order_key"])
    rewritten_dirs = {
        p.split("/_kb=")[1].split("/")[0]
        for p in set(glob.glob(tgt + "/**/*.parquet", recursive=True)) - before
    }
    assert len(rewritten_dirs) == 1  # one entity -> one bucket

    got = spark.read.parquet(tgt)
    assert got.count() == len(rows)  # full-key dedup, no duplicate PKs
    assert (
        got.filter((F.col("order_key") == 7) & (F.col("line") == 2))
        .first().qty == 72.0 + 100
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket_keys"):
        merge_by_key(spark, upd, tgt, keys=["order_key", "line"])
    with _pytest.raises(ValueError, match="prefix"):
        merge_by_key(
            spark, upd, tgt, keys=["order_key", "line"], bucket_keys=["line"]
        )


def test_semdedup_operator_matches_bruteforce(spark):
    """operators/semdedup.semantic_dedup vs a plain numpy re-derivation of
    the deterministic SemDeDup rule (argmax cells w/ lower-id ties, lower-id
    cosine>=tau dup flags) on a small random corpus — plus the tie-break
    edge: duplicate seed vectors must assign to the LOWER seed id."""
    import numpy as np
    from pyspark.sql import Row

    from importer_spark.operators.semdedup import semantic_dedup

    rng = np.random.RandomState(11)
    n, d, k, tau = 120, 16, 6, 0.9
    vecs = rng.randn(n, d)
    vecs[50] = vecs[0]  # exact twin -> same cell, 50 flagged
    vecs[1] = vecs[0]  # seed 1 duplicates seed 0: tie on every row
    df = spark.createDataFrame(
        [Row(vec_id=i, emb=[float(x) for x in vecs[i]]) for i in range(n)]
    )
    got = {
        r["vec_id"]: (r["cell"], r["is_semantic_dup"])
        for r in semantic_dedup(df, "vec_id", "emb", n_seeds=k, tau=tau).collect()
    }

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(norm @ norm[:k].T, 9)
    cells = sims.argmax(axis=1)  # np argmax keeps FIRST max = lower seed id
    for i in range(n):
        assert got[i][0] == cells[i], i
    assert cells[1] == 0 and got[1][0] == 0  # duplicate-seed tie -> seed 0
    full = norm @ norm.T
    for i in range(n):
        expect = any(
            cells[j] == cells[i] and full[i, j] >= tau for j in range(i)
        )
        assert got[i][1] == expect, i
    assert got[50][1] is True


def test_semdedup_seed_guard(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    from importer_spark.operators.semdedup import semantic_dedup

    df = spark.createDataFrame([Row(vec_id=0, emb=[1.0, 0.0])])
    with _pytest.raises(ValueError, match="n_seeds"):
        semantic_dedup(df, "vec_id", "emb", n_seeds=4, tau=0.5)


def test_merge_ngram_stores_interleaving_invariance(spark):
    """Property: folding per-batch deltas through merge_ngram_stores is
    invariant to HOW the corpus was batched — including re-ingesting the
    same doc in multiple batches (the solo_id guard path, which had one
    test route before r5). For several random interleavings with forced
    re-ingest, the folded store must equal ngram_store built from scratch
    on the union corpus, gram for gram."""
    import random

    from pyspark.sql import Row

    from importer_spark.operators.dedup import merge_ngram_stores, ngram_store

    words = ["alpha beta gamma delta", "beta gamma delta epsilon",
             "zeta eta theta iota", "gamma delta epsilon zeta",
             "alpha beta gamma delta", "unique text here only"]
    docs = [Row(doc_id=i, text=words[i % len(words)] + f" tail{i % 7}")
            for i in range(18)]

    def store_rows(df):
        return {
            (r["_k1"], r["_k2"]): (r["n_docs"], r["solo_id"])
            for r in df.collect()
        }

    full = spark.createDataFrame(docs)
    want = store_rows(ngram_store(full, "doc_id", "text", n=3))

    for seed in (1, 5, 9):
        rng = random.Random(seed)
        order = docs[:]
        rng.shuffle(order)
        cut1, cut2 = rng.randrange(1, 17), rng.randrange(1, 17)
        lo, hi = min(cut1, cut2), max(cut1, cut2) or 1
        batches = [order[:lo], order[lo:hi], order[hi:]]
        # forced re-ingest: a random earlier doc reappears in a later batch
        batches[2] = batches[2] + [rng.choice(order[:max(lo, 1)])]
        merged = None
        for batch in batches:
            if not batch:
                continue
            delta = ngram_store(
                spark.createDataFrame(batch), "doc_id", "text", n=3
            )
            merged = delta if merged is None else merge_ngram_stores(merged, delta)
        assert store_rows(merged) == want, seed


def test_margin_mining_recall_vs_exhaustive(spark):
    """Bucketed margin mining vs the EXHAUSTIVE cross-pool mutual-best
    ground truth (numpy, no buckets). These embeddings are near-uniform —
    the adversarial case for LSH: a cross-pool pair shares a bucket w.p.
    ~1/16, so recall ≈ that fraction, lifted because mutual-best pairs
    have above-average cosine (measured 0.122 ≈ 2x chance, deterministic).
    Real bitext embeddings cluster bilingually, putting true pairs in
    shared buckets far more often; the dial for recall at scale is
    multi-probe buckets or IVF cells (DEPLOY.md). This pins the structural
    bound so a bucketing bug (recall -> ~0) fails loudly."""
    import numpy as np

    from importer_spark.io import Tables
    from importer_spark.queries import QUERIES
    from importer_spark.queries.llm_similarity import MB_K, MB_THRESHOLD

    rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in Tables(spark, SF_DIR).embeddings.collect()
    ]
    ids = np.array([r[0] for r in rows])
    m = np.array([r[1] for r in rows], dtype="float64")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sid, tid = ids[ids % 2 == 0], ids[ids % 2 == 1]
    c = m[ids % 2 == 0] @ m[ids % 2 == 1].T
    ms = np.sort(c, axis=1)[:, -MB_K:].mean(axis=1)
    mt = np.sort(c, axis=0)[-MB_K:, :].mean(axis=0)
    margin = c / ((ms[:, None] + mt[None, :]) / 2)
    bs, bt = margin.argmax(axis=1), margin.argmax(axis=0)
    truth = {
        (int(sid[i]), int(tid[j]))
        for i, j in enumerate(bs)
        if bt[j] == i and margin[i, j] >= MB_THRESHOLD
    }
    got = {
        (r["src_id"], r["tgt_id"])
        for r in QUERIES["margin_bitext_mine"](spark, SF_DIR).collect()
    }
    assert truth and got
    assert len(truth & got) / len(truth) >= 0.10


def test_nonfinite_embeddings_self_exclude(spark):
    """Float-special hardening (r5 verdict #8 — the fuzz gate covers NULLs,
    not NaN/Inf): a NaN or Inf component normalizes its OWN row to NaN,
    every cosine against it is NaN, and numpy's NaN >= threshold is False —
    so non-finite vectors silently self-exclude from every block-matmul
    pair operator instead of crashing the job or polluting finite pairs."""
    from importer_spark.operators.semdedup import semdedup_flags
    from importer_spark.operators.similarity import (
        cosine_pairs_blockwise,
        cosine_pairs_exact,
    )

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [1.0, 2.0]), (2, [2.0, 4.0]),      # finite near-dup pair
        (3, [nan, 1.0]), (4, [1.0, inf]),      # poisoned rows
        (5, [-inf, nan]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, emb array<double>")
    want = {(1, 2)}
    got_block = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_blockwise(df, "vec_id", "emb", threshold=0.99).collect()
    }
    got_exact = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_exact(
            df, "vec_id", "emb", threshold=0.99, n_blocks=2
        ).collect()
    }
    assert got_block == want and got_exact == want
    cells = df.select("vec_id", "emb", (df.vec_id % 2).alias("cell"))
    flags = {
        r.vec_id: r.is_semantic_dup
        for r in semdedup_flags(cells, "vec_id", "emb", tau=0.99).collect()
    }
    # finite dup pair is in different cells here; nothing may flag
    assert flags == {1: False, 2: False, 3: False, 4: False, 5: False}
    same_cell = df.select("vec_id", "emb", F.lit(0).alias("cell"))
    flags2 = {
        r.vec_id: r.is_semantic_dup
        for r in semdedup_flags(same_cell, "vec_id", "emb", tau=0.99).collect()
    }
    assert flags2 == {1: False, 2: True, 3: False, 4: False, 5: False}


def test_training_paths_survive_nonfinite_vectors(spark):
    """FLOATSPECIAL smoke-gate regressions (r6): k-means training crashed
    (SSE None) and int8 quantization divided by zero when a vector
    carried a NaN/Inf component. finite_vectors self-excludes such
    vectors at training/scoring ingestion — the model is built from the
    finite rows only, and poisoned ids never appear in output."""
    from importer_spark.operators.clustering import kmeans_assignments
    from importer_spark.operators.similarity import (
        finite_vectors,
        max_abs,
        quantize_int8,
    )

    nan, inf = float("nan"), float("inf")
    rows = [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(1, 21)]
    rows += [(100, [nan, 1.0]), (101, [inf, 2.0]), (102, [1.0, -inf]),
             (103, [None, 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, emb array<double>")
    got = kmeans_assignments(df, "vec_id", "emb", k=4, iters=2).collect()
    assert {r.vec_id for r in got} == {i for i in range(1, 21)}
    q = finite_vectors(df, "emb").withColumn("m", max_abs(F.col("emb")))
    q = q.withColumn("qv", quantize_int8(F.col("emb"), F.col("m"))).collect()
    assert {r.vec_id for r in q} == {i for i in range(1, 21)}


def test_range_attribution_null_lead_ts_zeroes_all_metrics(spark):
    """A lead with NULL lead_ts has no position on the attribution axis:
    the definitional correlated join (fact_ts >= lead_ts is NULL → never
    true) returns 0 for every metric, including the _all totals — the
    prefix-sum formulation must not leak the per-key totals through a
    NULL probe whose start prefix is 0 (r8 advice)."""
    from importer_spark.operators import range_attribution

    leads = spark.createDataFrame(
        [("k1", "2024-01-05 00:00:00", "a"), ("k1", None, "b")],
        "k string, lt string, tag string",
    ).select("k", F.col("lt").cast("timestamp").alias("lt"), "tag")
    facts = spark.createDataFrame(
        [("k1", "2024-01-06 00:00:00", 10.0), ("k1", "2024-01-20 00:00:00", 5.0)],
        "k string, ft string, amt double",
    ).select("k", F.col("ft").cast("timestamp").alias("ft"), "amt")
    out = {
        r.tag: r
        for r in range_attribution(
            leads,
            facts,
            on=["k"],
            lead_ts="lt",
            fact_ts="ft",
            windows_days=[7],
            metrics={
                "n": ("count",),
                "rev": ("sum_dec2_double", "amt"),
                "days": ("distinct_dates",),
            },
        ).collect()
    }
    a, b = out["a"], out["b"]
    assert (a.n_7d, a.n_all, a.rev_7d, a.rev_all, a.days_7d, a.days_all) == (
        1, 2, 10.0, 15.0, 1, 2,
    )
    assert (b.n_7d, b.n_all, b.rev_7d, b.rev_all, b.days_7d, b.days_all) == (
        0, 0, 0.0, 0.0, 0, 0,
    )


def test_range_attribution_rejects_nonpositive_windows(spark):
    """The distinct_dates day-boundary correction is only exact for
    windows >= 1 day (r8 advice: N=0 would overcount day-of-lead facts
    occurring after t)."""
    from importer_spark.operators import range_attribution

    df = spark.createDataFrame([("k", "2024-01-01 00:00:00")], "k string, ts string")
    df = df.select("k", F.col("ts").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="windows_days"):
        range_attribution(
            df, df, on=["k"], lead_ts="ts", fact_ts="ts",
            windows_days=[0], metrics={"n": ("count",)},
        )


def test_range_attribution_hierarchical_matches_bruteforce(spark):
    """The r9 hierarchical prefix-sum form (level-1 in-day window +
    level-2 day-partial carry) against a brute-force per-lead Python
    derivation of the definitional correlated join, over a shape chosen
    to cross every seam: multi-day spans, same-day lead+facts on both
    sides of the lead's timestamp, a probe on a factless day, ties at
    exact window ends, and a NULL-ts fact (which the correlated join
    never matches)."""
    from datetime import datetime, timedelta

    from importer_spark.operators import range_attribution

    facts_py = [
        ("k", datetime(2024, 1, 1, 6), 10.0),
        ("k", datetime(2024, 1, 1, 12), 20.0),
        ("k", datetime(2024, 1, 3, 9), 30.0),
        ("k", datetime(2024, 1, 3, 9), 40.0),   # duplicate-ts fact
        ("k", datetime(2024, 1, 10, 0), 50.0),
        ("k", datetime(2024, 1, 12, 12), 60.0),
        ("k", None, 99.0),                       # NULL ts: never matches
        ("z", datetime(2024, 1, 2, 0), 7.0),
    ]
    leads_py = [
        ("k", datetime(2024, 1, 1, 9), "mid-day"),
        ("k", datetime(2024, 1, 3, 9), "tie-with-facts"),
        ("k", datetime(2024, 1, 5, 0), "factless-day"),
        ("k", datetime(2024, 1, 11, 12), "exact-1d-end"),  # t+1d == fact ts
        ("z", datetime(2024, 1, 1, 0), "other-key"),
        ("q", datetime(2024, 1, 1, 0), "no-facts-key"),
    ]
    leads = spark.createDataFrame(leads_py, "k string, lt timestamp, tag string")
    facts = spark.createDataFrame(facts_py, "k string, ft timestamp, amt double")
    out = {
        r.tag: r
        for r in range_attribution(
            leads, facts, on=["k"], lead_ts="lt", fact_ts="ft",
            windows_days=[1, 7],
            metrics={
                "n": ("count",),
                "rev": ("sum_dec2_double", "amt"),
                "days": ("distinct_dates",),
            },
        ).collect()
    }
    for k, lt, tag in leads_py:
        matched = [
            (ft, amt) for kk, ft, amt in facts_py
            if kk == k and ft is not None and ft >= lt
        ]
        for n_days, sfx in [(1, "_1d"), (7, "_7d"), (None, "_all")]:
            sub = (
                matched if n_days is None
                else [(ft, a) for ft, a in matched if ft <= lt + timedelta(days=n_days)]
            )
            row = out[tag]
            assert getattr(row, f"n{sfx}") == len(sub), (tag, sfx)
            assert getattr(row, f"rev{sfx}") == round(sum(a for _, a in sub), 2), (tag, sfx)
            assert getattr(row, f"days{sfx}") == len({ft.date() for ft, _ in sub}), (tag, sfx)
