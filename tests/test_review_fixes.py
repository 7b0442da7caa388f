"""Regression tests for the round-1 code-review findings: failure paths must
fail loudly, watermarks must never regress, salting must reject unsafe join
types, pagination must not spin on stuck cursors."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from importer_spark.io import merge_by_key, read_parquet_if_exists
from importer_spark.operators.skew import salted_join
from importer_spark.plans.pipeline import run_source_load
from importer_spark.sources.rest import RestCursorSource
from importer_spark.streaming.incremental import (
    commit_cursor,
    cursor_incremental_batch,
    read_cursor,
)


def test_merge_raises_on_corrupt_target_instead_of_overwriting(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_by_key(spark, spark.createDataFrame([Row(k=1, v="keep")]), path, keys=["k"])
    # Corrupt the data file of key 1's own bucket: re-merging key 1 must
    # read that partition, hit the corruption, and propagate — not wipe the
    # table. (A corrupt file in an UNMATCHED bucket is legitimately never
    # read: partition pruning leaves it byte-untouched.)
    parquet_files = list((tmp_path / "tbl").rglob("*.parquet"))
    assert parquet_files
    for f in parquet_files:
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        merge_by_key(spark, spark.createDataFrame([Row(k=1, v="new")]), path, keys=["k"])


def test_read_parquet_if_exists_missing_vs_error(spark, tmp_path):
    assert read_parquet_if_exists(spark, str(tmp_path / "nope")) is None


def test_cursor_never_regresses_and_empty_batch_keeps_watermark(spark, tmp_path):
    state = str(tmp_path / "cur")
    commit_cursor(spark, state, "2024-05-01")

    def consume(source):
        # The caller's side of the contract: commit the delta's max after
        # consuming it (None for an empty delta keeps the watermark).
        delta = cursor_incremental_batch(spark, source, "updated_at", state)
        n = delta.count()
        commit_cursor(spark, state, delta.agg(F.max("updated_at")).first()[0])
        return n

    # Empty source: watermark unchanged, delta empty.
    empty = spark.createDataFrame([], schema="id int, updated_at string")
    assert consume(empty) == 0
    assert read_cursor(spark, state) == "2024-05-01"
    # Source containing only old rows: watermark unchanged.
    old = spark.createDataFrame([Row(id=1, updated_at="2024-01-01")])
    assert consume(old) == 0
    assert read_cursor(spark, state) == "2024-05-01"
    # A newer row advances it.
    new = spark.createDataFrame([Row(id=2, updated_at="2024-06-01")])
    assert consume(new) == 1
    assert read_cursor(spark, state) == "2024-06-01"


def test_run_source_load_commits_cursor_after_write(spark, tmp_path):
    wh = str(tmp_path / "wh")
    src = spark.createDataFrame([Row(id=1, v="a", updated_at="2024-01-01")])
    run_source_load(spark, src, wh, keys=["id"], cursor_col="updated_at", mode="seed")
    # Stale re-delivery only: cursor stays at the seed max.
    run_source_load(spark, src, wh, keys=["id"], cursor_col="updated_at", mode="incremental")
    assert read_cursor(spark, wh + "__cursor") == "2024-01-01"


def test_salted_join_rejects_right_preserving_joins(spark):
    df = spark.createDataFrame([Row(k=1)])
    with pytest.raises(ValueError, match="duplicate unmatched right rows"):
        salted_join(df, df, on=["k"], how="full_outer")
    with pytest.raises(ValueError):
        salted_join(df, df, on=["k"], how="right")


def test_rest_source_stops_on_stuck_cursor(spark):
    # 5 records all sharing one updated_at, page size 2: an inclusive-cursor
    # fetcher would loop forever without the stall guard.
    data = [{"id": i, "updated_at": "2024-01-01"} for i in range(5)]

    def sticky_fetch(cursor, page_size):
        rows = [r for r in data if cursor is None or r["updated_at"] >= cursor]
        return rows[:page_size]

    src = RestCursorSource(spark, sticky_fetch, page_size=2)
    df = src.load()  # must terminate
    assert df.count() <= len(data) + 2


def test_rest_source_empty_schema(spark):
    src = RestCursorSource(spark, lambda c, p: [], page_size=2)
    df = src.load(empty_schema="id bigint, updated_at string, _cursor string")
    assert df.columns == ["id", "updated_at", "_cursor"] and df.count() == 0


def test_with_pack_id_keeps_null_lang_rows(spark):
    """NULL-lang docs must form their own stream (null-safe join), not
    silently vanish — the window form this replaced kept them."""
    from importer_spark.queries.llm_sampling import with_pack_id

    df = spark.createDataFrame(
        [Row(doc_id=i, lang=None if i % 2 else "en", n_tokens=100) for i in range(10)]
    )
    out = with_pack_id(df)
    assert out.count() == 10
    null_packs = out.filter(F.col("lang").isNull()).count()
    assert null_packs == 5


def test_percent_rank_single_row_is_zero(spark):
    """SQL PERCENT_RANK of a one-row relation is 0.0, never NULL."""
    from importer_spark.operators.ranks import percent_rank_col, with_global_rank_stats

    df = spark.createDataFrame([Row(k=1, v=42.0)])
    out = with_global_rank_stats(df, "v", [F.col("v").asc(), F.col("k").asc()]).select(
        percent_rank_col().alias("pr")
    )
    assert out.first().pr == 0.0


def test_global_rank_all_null_first_col(spark):
    """An all-NULL leading column must still rank every row (NULLs form
    their own bucket), not silently return zero rows."""
    from importer_spark.operators.ranks import with_global_rank_stats

    df = spark.createDataFrame(
        [Row(k=i, v=None) for i in range(5)], schema="k int, v double"
    )
    out = with_global_rank_stats(df, "v", [F.col("v").asc(), F.col("k").asc()])
    rows = {r.k: r._rn for r in out.collect()}
    assert rows == {0: 1, 1: 2, 2: 3, 3: 4, 4: 5}


def test_global_rank_null_values_sort_like_window(spark):
    """Mixed NULL/non-NULL leading values must match the window's NULLS
    FIRST (asc) / NULLS LAST (desc) placement."""
    from pyspark.sql import Window
    from importer_spark.operators.ranks import with_global_rank_stats

    df = spark.createDataFrame(
        [Row(k=i, v=None if i % 3 == 0 else float(i * 7 % 5)) for i in range(30)],
        schema="k int, v double",
    )
    for asc in (True, False):
        order = [F.col("v").asc() if asc else F.col("v").desc(), F.col("k").asc()]
        got = with_global_rank_stats(df, "v", order, n_buckets=4, first_col_ascending=asc)
        truth = df.select("k", F.row_number().over(Window.orderBy(*order)).alias("rn"))
        bad = got.join(truth, "k").filter(F.col("_rn") != F.col("rn")).count()
        assert bad == 0, asc


def test_graphql_stuck_cursor_with_new_items_raises(spark):
    """A cursor that stops advancing while page contents CHANGE is not
    safely paginatable — refuse loudly instead of dropping or duplicating."""
    from importer_spark.sources import GraphQLCursorSource

    calls = {"n": 0}

    def evil(query, variables):
        calls["n"] += 1
        return {
            "data": {
                "t": {
                    "edges": [
                        {"cursor": "same", "node": {"id": calls["n"]}}
                    ]
                }
            }
        }

    src = GraphQLCursorSource(
        spark, evil, query="q",
        data_items_path="data.t.edges[*].node",
        pagination_cursor_path="data.t.edges[-1].cursor",
    )
    with pytest.raises(RuntimeError, match="did not advance"):
        src.load()


def test_extract_path_rejects_wildcards_and_root():
    from importer_spark.sources import extract_path

    for bad in ["$.a.b", "a.*.c", "a..b", "a.b[x]", ""]:
        with pytest.raises(ValueError):
            extract_path({}, bad)
    # supported forms still parse
    assert extract_path({"a": [{"b": 1}]}, "a[*].b") == [1]
    assert extract_path([{"b": 2}], "[0].b") == [2]


def test_sample_frames_chunks_bytes_for_multibyte_text(spark):
    """The frame operator chunks BYTES: a multi-byte doc must produce
    ceil(byte_len/size) frames with byte-exact digests (the oracle-gated
    query scopes to ASCII; the operator itself must handle any payload)."""
    import hashlib
    from importer_spark.operators.multimodal import sample_frames, to_media_table

    text = "héllo wörld ünïcode " * 30  # 600 chars, >600 bytes
    raw = text.encode("utf-8")
    df = spark.createDataFrame(
        [Row(doc_id=1, lang="de", text=text, n_chars=len(text), source="test")]
    )
    frames = sample_frames(to_media_table(df), frame_size=256).collect()
    want = [
        (i // 256, len(raw[i : i + 256]), hashlib.md5(raw[i : i + 256]).hexdigest())
        for i in range(0, len(raw), 256)
    ]
    got = sorted((r.frame_idx, r.frame_bytes, r.frame_digest) for r in frames)
    assert got == sorted(want)


def test_cursor_advanced_numeric_and_string(spark):
    """Numeric cursors must compare numerically (lexicographic '10'<'9'
    stalled the watermark forever); strings still compare as strings."""
    from importer_spark.streaming.incremental import (
        commit_cursor,
        cursor_advanced,
        read_cursor,
    )

    assert cursor_advanced(10, 9)
    assert not cursor_advanced(9, 10)
    assert cursor_advanced("2024-02", "2024-01")
    assert not cursor_advanced(None, 5)
    assert cursor_advanced(1, None)


def test_rest_source_numeric_cursor_pagination(spark):
    """A numeric-cursor feed crossing a digit boundary (999 -> 1000) must
    paginate past it, not re-fetch or stall on string-max."""
    from importer_spark.sources import RestCursorSource

    data = [{"id": i, "seq": i} for i in range(995, 1005)]

    def fetch(cursor, page_size):
        rows = [r for r in data if cursor is None or r["seq"] > cursor]
        return rows[:page_size]

    src = RestCursorSource(spark, fetch, cursor_field="seq", page_size=3)
    out = sorted(r.id for r in src.load().collect())
    assert out == list(range(995, 1005))


def test_merge_by_key_rejects_changed_keys(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_by_key(spark, spark.createDataFrame([Row(k=1, ver=1, v="a")]), path, keys=["k"])
    with pytest.raises(ValueError, match="created with keys"):
        merge_by_key(
            spark,
            spark.createDataFrame([Row(k=1, ver=2, v="b")]),
            path,
            keys=["k", "ver"],
        )


# ---------------------------------------------------------------------------
# round-5 advice regressions (fixed round 6)
# ---------------------------------------------------------------------------


def test_tercile_buckets_keep_null_partition_keys(spark):
    """r5 advice (operators/text.py:116 + __main__.py:255): a plain
    equi-join against the cuts relation silently deleted NULL-key rows —
    the refine CLI dropped every NULL-lang document with no stage metric.
    NULL is now a rankable partition (null-safe join, the
    grouped_row_number convention)."""
    from importer_spark.operators.text import value_tercile_buckets

    df = spark.createDataFrame(
        [("a", "en", 1.0), ("b", "en", 2.0), ("c", "en", 3.0),
         ("d", None, 10.0), ("e", None, 20.0), ("f", None, 30.0)],
        "doc_id string, lang string, score double",
    )
    out = value_tercile_buckets(df, ["lang"], "score").collect()
    assert len(out) == 6  # nothing dropped
    null_rows = {r.doc_id: r.bucket for r in out if r.lang is None}
    # NULL-lang cohort tiered within itself, same rule as any lang
    assert null_rows == {"d": "tail", "e": "middle", "f": "head"}


def test_asof_join_keep_match_ts_contract(spark):
    """r5 advice (pricing.py:220): filtering on _asof_match_ts_asof only
    worked via ResolveMissingReferences because asof_join dropped it.
    keep_match_ts=True is the documented way to get the matched-version
    flag; the default output must NOT carry the internal column."""
    from importer_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10), (1, 1)], "k int, lts int")
    right = spark.createDataFrame([(1, 5, None)], "k int, rts int, v string")
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_value_cols=["v"], keep_match_ts=True,
    )
    assert "_asof_match_ts_asof" in out.columns
    rows = {r.lts: r for r in out.collect()}
    # lts=10 matched the rts=5 version (whose value is legitimately NULL):
    # the match ts distinguishes that from lts=1's true miss.
    assert rows[10]._asof_match_ts_asof == 5 and rows[10].v_asof is None
    assert rows[1]._asof_match_ts_asof is None
    default = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_value_cols=["v"],
    )
    assert "_asof_match_ts_asof" not in default.columns


def test_unimax_budget_exact_past_double_precision(spark):
    """r5 advice (llm_mixture.py:169): B must be exact BIGINT floor
    division as the oracle computes it — the old double path rounds once
    total tokens exceed 2^53."""
    from importer_spark.queries.llm_mixture import (
        _UNIMAX_BUDGET_DEN,
        _UNIMAX_BUDGET_NUM,
        unimax_budget,
    )

    n = (1 << 62) + 12345  # far past the 53-bit mantissa
    sizes = spark.createDataFrame([("en", n)], "lang string, n_tokens long")
    got = unimax_budget(sizes).collect()[0].b
    assert got == n * _UNIMAX_BUDGET_NUM // _UNIMAX_BUDGET_DEN


def test_zero_norm_embeddings_never_nan_never_dup(spark):
    """r5 advice (semdedup.py:106): an all-zero embedding divided 0/0 into
    a NaN row. Contract now: zero-norm vectors have cosine 0 with
    everything — never flagged, never flag others, no NaN in any output."""
    import math

    from importer_spark.operators.semdedup import semdedup_flags
    from importer_spark.operators.similarity import cosine_pairs_blockwise

    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),  # true dups
        (3, [0.0, 0.0], 0), (4, [0.0, 0.0], 0),  # zero-norm pair
    ]
    cells = spark.createDataFrame(rows, "vec_id bigint, emb array<double>, cell bigint")
    flags = {r.vec_id: r.is_semantic_dup
             for r in semdedup_flags(cells, "vec_id", "emb", tau=0.9).collect()}
    assert flags == {1: False, 2: True, 3: False, 4: False}
    pairs = cosine_pairs_blockwise(
        cells.select("vec_id", "emb"), "vec_id", "emb", threshold=0.9
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(not math.isnan(r.cosine) for r in pairs)


def test_lang_nb_model_trained_once_per_session_and_corpus(spark):
    """r6 verdict #1: the lang-ID trio (ngram_nb / kappa / class_f1) must
    share ONE model build per (session, corpus) — the retrain cost ~18s of
    the isolated bench and ~210s at 100x. Pins: (a) repeated invocations
    reuse the cached model-sized state, (b) a different corpus dir builds a
    fresh model, (c) cached predictions stay value-identical."""
    from importer_spark.queries import llm_text as lt

    lt._NB_MODEL_CACHE.clear()
    before = lt._NB_MODEL_BUILDS
    p1 = lt._lang_nb_pred(spark, "/root/testdata/sf0.001")
    r1 = sorted(map(tuple, p1.collect()))
    assert lt._NB_MODEL_BUILDS == before + 1
    # Whole trio over the same corpus: zero extra builds.
    lt.lang_id_ngram_nb(spark, "/root/testdata/sf0.001").count()
    lt.lang_id_kappa(spark, "/root/testdata/sf0.001").collect()
    lt.lang_id_class_f1(spark, "/root/testdata/sf0.001").count()
    assert lt._NB_MODEL_BUILDS == before + 1
    # Cached model yields byte-identical predictions.
    r2 = sorted(map(tuple, lt._lang_nb_pred(spark, "/root/testdata/sf0.001").collect()))
    assert r1 == r2
    # A different corpus dir is a different model.
    lt._lang_nb_pred(spark, "/root/testdata/sf0.01").count()
    assert lt._NB_MODEL_BUILDS == before + 2


def test_lang_nb_model_cache_bounded(spark, tmp_path):
    """The model cache is capped: sweeping many corpus dirs (scale sweep)
    must not accumulate unbounded checkpointed state."""
    from importer_spark.queries import llm_text as lt

    assert len(lt._NB_MODEL_CACHE) <= lt._NB_MODEL_CACHE_MAX
    # Synthetic keys exercise the real eviction path without Spark cost.
    lt._NB_MODEL_CACHE.clear()
    for i in range(lt._NB_MODEL_CACHE_MAX + 3):
        lt._nb_cache_put(("app", f"dir{i}"), {"i": i})
    assert len(lt._NB_MODEL_CACHE) == lt._NB_MODEL_CACHE_MAX
    # Oldest evicted first, newest retained.
    assert ("app", "dir0") not in lt._NB_MODEL_CACHE
    assert ("app", f"dir{lt._NB_MODEL_CACHE_MAX + 2}") in lt._NB_MODEL_CACHE
    lt._NB_MODEL_CACHE.clear()


def test_lang_nb_shuffle_join_fallback_same_answer(spark, monkeypatch):
    """r6 verdict #8: DEPLOY.md documents the NB model join degrading to a
    shuffle join when a CJK-scale trigram vocabulary outgrows broadcast —
    force that path (ceiling 0) and pin that (a) the broadcast hint is
    gone from the plan, (b) predictions are value-identical."""
    from importer_spark.queries import llm_text as lt

    sf = "/root/testdata/sf0.001"
    lt._NB_MODEL_CACHE.clear()
    base = sorted(map(tuple, lt._lang_nb_pred(spark, sf).collect()))

    monkeypatch.setattr(lt, "_NB_BROADCAST_MAX_VOCAB", 0)
    lt._NB_MODEL_CACHE.clear()  # model caches no plan, but force a clean build
    df = lt._lang_nb_pred(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan.split("== Photon")[0]
    assert sorted(map(tuple, df.collect())) == base
    lt._NB_MODEL_CACHE.clear()  # don't leak the fallback-built model


def test_lang_nb_cache_invalidated_when_corpus_rewritten(spark, tmp_path):
    """r7 review: the model cache keys on a stat fingerprint of the corpus
    dir, so rewriting the data under the SAME path within one session
    forces a rebuild instead of serving the stale model."""
    from pyspark.sql import Row

    from importer_spark.queries import llm_text as lt

    sf = str(tmp_path)

    def write(docs):
        spark.createDataFrame(
            [Row(doc_id=i, lang=lang, text=t) for i, (lang, t) in enumerate(docs)],
            schema="doc_id bigint, lang string, text string",
        ).write.mode("overwrite").parquet(sf + "/documents.parquet")

    write([("en", "the cat sat on the mat"), ("fr", "le chat est sur le tapis")])
    before = lt._NB_MODEL_BUILDS
    p1 = {r.doc_id: r.predicted for r in lt._lang_nb_pred(spark, sf).collect()}
    assert lt._NB_MODEL_BUILDS == before + 1
    assert len(p1) == 2
    # Same path, same session: cached.
    lt._lang_nb_pred(spark, sf).count()
    assert lt._NB_MODEL_BUILDS == before + 1
    # Rewrite the corpus under the same path: fingerprint changes, rebuild.
    write([("de", "die katze sitzt auf der matte")] * 3)
    p2 = {r.labeled for r in lt._lang_nb_pred(spark, sf).collect()}
    assert lt._NB_MODEL_BUILDS == before + 2
    assert p2 == {"de"}


def test_lang_cells_never_needs_global_model_lock(spark):
    """r7 review: _lang_cells must not take the global _NB_MODEL_LOCK.
    The old code held it across the multi-second scoring collect and
    could self-deadlock: a cache eviction between the model fetch and the
    lock made _lang_nb_pred re-enter _lang_nb_model, which blocks forever
    on the same non-reentrant lock. Pin: with the global lock HELD, a
    cells build (cells_rows cache miss) still completes — the build
    serializes on the PER-MODEL lock and hands the fetched model through
    to _lang_nb_pred."""
    import threading

    from importer_spark.queries import llm_text as lt

    sf = "/root/testdata/sf0.001"
    lt._NB_MODEL_CACHE.clear()
    m = lt._lang_nb_model(spark, sf)  # prime the model cache
    m.pop("cells_rows", None)  # force the distributed cells scoring pass
    done = threading.Event()
    out = {}

    def build():
        out["cells"] = lt._lang_cells(spark, sf).collect()
        done.set()

    t = threading.Thread(target=build, daemon=True)
    with lt._NB_MODEL_LOCK:
        t.start()
        assert done.wait(timeout=300), (
            "_lang_cells blocked on the global model lock (r7 deadlock fix)"
        )
    t.join(timeout=30)
    assert sum(r.n for r in out["cells"]) > 0


def test_widen_skips_inputs_already_as_wide_as_the_repartition(spark, tmp_path, monkeypatch):
    """An input whose estimated splits fall in [target/2, target) already
    reaches the repartition width: it must come back unchanged, not pay a
    shuffle that narrows it. A one-split input is still widened."""
    import importer_spark.io as io

    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)
    size = sum(f.stat().st_size for f in (tmp_path / "t").rglob("*") if f.is_file())
    target = spark.sparkContext.defaultParallelism
    width = max(2, target // 2)

    monkeypatch.setattr(io, "_WIDEN_SPLIT_BYTES", size // width)
    assert width <= size // io._WIDEN_SPLIT_BYTES < target
    assert io.widen_narrow_scan(df, path) is df

    monkeypatch.setattr(io, "_WIDEN_SPLIT_BYTES", size + 1)
    widened = io.widen_narrow_scan(df, path)
    assert widened is not df
    assert widened.rdd.getNumPartitions() == width
