"""Property-based tests (hypothesis) — beyond the reference's test strategy
(SURVEY §5: it has none). Driver-side pure functions get full randomized
coverage; Spark-side properties use one shared session with small example
counts (each example builds a DataFrame).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from importer_spark.io import normalize_column_name
from importer_spark.sources.files import filename_date

TEXTISH = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=40
)


@given(TEXTISH)
@example(".\r0")  # a dropped '.' used to expose whitespace the strip missed
def test_normalize_column_name_idempotent(name):
    once = normalize_column_name(name)
    assert normalize_column_name(once) == once


@given(TEXTISH)
def test_normalize_column_name_no_forbidden_chars(name):
    out = normalize_column_name(name)
    assert "/" not in out and "." not in out and " " not in out
    assert "__" not in out


@given(
    st.dates(min_value=__import__("datetime").date(1900, 1, 1),
             max_value=__import__("datetime").date(2099, 12, 31)),
    st.sampled_from(["%m-%d-%Y", "%Y-%m-%d"]),
)
def test_filename_date_parses_both_formats(d, fmt):
    assert filename_date(f"export_{d.strftime(fmt)}.xlsx") == d.isoformat()


@given(st.lists(st.one_of(st.none(), st.integers(), TEXTISH), min_size=1, max_size=5))
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_surrogate_key_formula_matches_dbt_utils(spark_session_values):
    """The md5 surrogate key must match the dbt_utils byte formula:
    md5('-'.join(coalesce(cast(v as string), ''))). Computed in pure Python
    here; Spark parity is covered by the surrogate_keys oracle query."""
    vals = spark_session_values
    joined = "-".join("" if v is None else str(v) for v in vals)
    expected = hashlib.md5(joined.encode()).hexdigest()
    assert len(expected) == 32  # the formula itself is the spec under test


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c"]), st.integers(0, 3)),
        min_size=1,
        max_size=20,
    )
)
def test_merge_by_key_idempotent(spark, tmp_path_factory, rows):
    """Applying the same merge batch twice yields the same table (I3 —
    re-delivered exports must not duplicate)."""
    from importer_spark.io import merge_by_key

    path = str(tmp_path_factory.mktemp("merge") / "tbl")
    df = spark.createDataFrame(rows, schema="k int, v string, ver int")
    merge_by_key(spark, df, path, keys=["k"], version_col="ver")
    first = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    merge_by_key(spark, df, path, keys=["k"], version_col="ver")
    second = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert first == second
    # exactly one row per key
    ks = [r[0] for r in first]
    assert len(ks) == len(set(ks))


@given(
    data=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 100)), min_size=0, max_size=40
    ),
    cuts=st.lists(st.integers(0, 40), min_size=0, max_size=6),
)
@settings(max_examples=200, deadline=None)
def test_complete_group_frames_invariants(data, cuts):
    """For ANY batch split of a key-sorted stream: (1) every yielded frame
    holds only whole groups, (2) no group appears in two frames, (3) the
    concatenation equals the input stream exactly (order preserved). This is
    the correctness core of mapInPandas-with-carry grouped processing
    (queries/sessions2.py::complete_group_frames)."""
    import pandas as pd

    from importer_spark.queries.sessions2 import complete_group_frames

    rows = sorted(data)  # key-sorted stream, like sortWithinPartitions output
    df = pd.DataFrame(rows, columns=["k", "v"])
    bounds = sorted({min(c, len(df)) for c in cuts} | {0, len(df)})
    batches = [df.iloc[a:b] for a, b in zip(bounds, bounds[1:])]

    frames = list(complete_group_frames(iter(batches), "k"))
    seen_keys: list[set] = []
    for f in frames:
        assert len(f) > 0
        seen_keys.append(set(f["k"]))
    # (2) each key confined to exactly one frame
    all_keys = [k for s in seen_keys for k in s]
    assert len(all_keys) == len(set(all_keys))
    # (1)+(3) concatenation reproduces the input exactly
    if frames:
        cat = pd.concat(frames, ignore_index=True)
        assert cat.values.tolist() == df.values.tolist()
    else:
        assert len(df) == 0


# --- asof_join vs pandas merge_asof (the canonical reference implementation)

_ASOF_TS = st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=8)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lts=_ASOF_TS,
    rts=_ASOF_TS,
    direction=st.sampled_from(["backward", "forward"]),
    tol=st.one_of(st.none(), st.integers(min_value=0, max_value=10)),
)
def test_asof_join_matches_pandas_merge_asof(spark, lts, rts, direction, tol):
    import pandas as pd
    from pyspark.sql import functions as F

    from importer_spark.operators import asof_join

    # Distinct right timestamps: at equal instants pandas keeps the last
    # input row while our operator resolves ties by value order — both
    # valid conventions; dedup isolates the as-of semantics under test.
    rts = sorted(set(rts))
    left = spark.createDataFrame([(1, i, t) for i, t in enumerate(lts)], "k long, lid long, lts long")
    right = spark.createDataFrame([(1, t, t * 10) for t in rts], "k long, rts long, val long")
    got = {
        r["lid"]: r["val_asof"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_value_cols=["val"], direction=direction,
            tolerance=F.lit(tol) if tol is not None else None,
        ).collect()
    }
    lp = pd.DataFrame({"k": 1, "lid": range(len(lts)), "lts": lts}).sort_values("lts", kind="stable")
    rp = pd.DataFrame({"k": 1, "rts": rts, "val": [t * 10 for t in rts]}).sort_values("rts")
    merged = pd.merge_asof(
        lp, rp, left_on="lts", right_on="rts", by="k",
        direction=direction, tolerance=tol,
    )
    want = {
        int(r.lid): (None if pd.isna(r.val) else int(r.val))
        for r in merged.itertuples()
    }
    assert got == want


# --- interval_join vs brute force -----------------------------------------

_IVS = st.lists(
    st.tuples(st.integers(0, 40), st.integers(-5, 20)), min_size=0, max_size=10
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(points=st.lists(st.integers(0, 45), min_size=0, max_size=15), ivs=_IVS)
def test_interval_join_matches_brute_force(spark, points, ivs):
    from importer_spark.operators.intervals import interval_join

    pts = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid long, p long"
    )
    intervals = spark.createDataFrame(
        [(j, s, s + ln) for j, (s, ln) in enumerate(ivs)], "iid long, s long, e long"
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            pts, intervals, point_col="p", start_col="s", end_col="e", bin_width=7
        ).collect()
    }
    want = {
        (i, j)
        for i, p in enumerate(points)
        for j, (s, ln) in enumerate(ivs)
        if s <= p < s + ln
    }
    assert got == want


def _brute_force_dup_spans(docs: dict[int, str], n: int) -> set[tuple[int, int, int]]:
    """Reference implementation of duplicate_ngram_spans in plain Python:
    n-gram occurrence map → positions whose gram appears in ≥2 distinct
    docs → merge hits ≤ n apart into maximal spans."""
    holders: dict[tuple[str, ...], set[int]] = {}
    positions: dict[int, list[int]] = {}
    for doc_id, text in docs.items():
        toks = text.split(" ")
        if len(toks) < n:
            continue
        for i in range(len(toks) - n + 1):
            holders.setdefault(tuple(toks[i : i + n]), set()).add(doc_id)
    for doc_id, text in docs.items():
        toks = text.split(" ")
        hits = [
            i
            for i in range(max(len(toks) - n + 1, 0))
            if len(holders[tuple(toks[i : i + n])]) >= 2
        ]
        if hits:
            positions[doc_id] = hits
    spans = set()
    for doc_id, hits in positions.items():
        start = prev = hits[0]
        for p in hits[1:]:
            if p - prev > n:
                spans.add((doc_id, start, prev + n - 1))
                start = p
            prev = p
        spans.add((doc_id, start, prev + n - 1))
    return spans


@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_duplicate_ngram_spans_matches_brute_force(spark, texts, n):
    """duplicate_ngram_spans ≡ the plain-Python reference on random tiny
    corpora over a 4-token alphabet (dense with collisions, so islands
    merge, singleton docs, short docs, and empty docs all occur)."""
    from importer_spark.operators.dedup import duplicate_ngram_spans

    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id bigint, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_ngram_spans(df, "doc_id", "text", n=n).collect()
    }
    assert got == _brute_force_dup_spans(docs, n)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=30),
        min_size=2,
        max_size=12,
    ),
    dup_len=st.integers(8, 12),
)
def test_remove_duplicate_spans_property(spark, docs, dup_len):
    """Random tiny-alphabet corpora (tiny alphabet => organic 8-gram
    collisions) plus one PLANTED duplicated run shared by the first two
    docs: the operator's cleaned text must equal the brute-force Python
    rebuild for every doc, and the planted run must be cut from both of
    its carriers."""
    from importer_spark.operators.dedup import remove_duplicate_spans

    planted = ["x"] * dup_len
    rows = []
    for i, toks in enumerate(docs):
        if i < 2:
            toks = toks + planted
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, schema="doc_id long, text string")

    # brute-force reference (same as tests/test_llm_refine.py, inline to
    # keep the property self-contained)
    gram_docs: dict[tuple, set] = {}
    toks_by = {d: t.split(" ") for d, t in rows}
    for d, t in toks_by.items():
        for i in range(len(t) - 7):
            gram_docs.setdefault(tuple(t[i : i + 8]), set()).add(d)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    want = {}
    for d, t in toks_by.items():
        hits = [i for i in range(len(t) - 7) if tuple(t[i : i + 8]) in dup]
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= 8:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        covered = set()
        for s, last in spans:
            covered.update(range(s, last + 8))
        want[d] = " ".join(t[i] for i in range(len(t)) if i not in covered)

    got = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(df, "doc_id", "text").collect()
    }
    assert got == want
    # the planted run must actually be cut from both carriers
    assert "x" not in got[0].split(" ") and "x" not in got[1].split(" ")


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.one_of(st.none(), st.integers(0, 6)),
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(2, 5),
)
def test_grouped_rank_property(spark, rows, k):
    """Random skewed groups with heavy value ties and NULLs: grouped
    distributed rank + ntile must equal the plain partitioned window on
    every row (the window is the spec; the operator is the scale path)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from importer_spark.operators.ranks import ntile_col, with_grouped_rank_stats

    data = [(g, i, float(v) if v is not None else None)
            for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, schema="grp string, key long, val double")
    order = [F.col("val").asc(), F.col("key").asc()]
    got = with_grouped_rank_stats(df, ["grp"], "val", order, n_buckets=3).select(
        "key", "_rn", ntile_col(k).alias("nt")
    )
    w = Window.partitionBy("grp").orderBy(*order)
    truth = df.select(
        "key",
        F.row_number().over(w).alias("rn"),
        F.ntile(k).over(w).alias("nt_w"),
    )
    joined = got.join(truth, "key")
    assert joined.count() == len(data)
    assert joined.filter(
        (F.col("_rn") != F.col("rn")) | (F.col("nt") != F.col("nt_w"))
    ).count() == 0


# --- segment dedup on adversarial whitespace (r6 verdict #8) ---------------
# The fuzz gate covers NULLs; this covers the whitespace pathology space:
# empty strings, runs of spaces (split(" ") yields EMPTY tokens), leading/
# trailing spaces, and documents sized exactly at / around the width
# boundary. Truth is a plain-Python third derivation of the same contract.


def _ref_segment_dedup(docs: dict[int, str], width: int):
    import hashlib as _hl

    firsts: dict[str, tuple[int, int]] = {}
    rows: dict[int, list] = {}
    for i in sorted(docs):
        toks = docs[i].split(" ")
        nseg = (len(toks) + width - 1) // width
        rows[i] = []
        for s in range(nseg):
            seg_text = " ".join(toks[s * width : (s + 1) * width])
            h = _hl.md5(seg_text.encode()).hexdigest()
            rows[i].append((s, seg_text, len(toks[s * width : (s + 1) * width]), h))
            if h not in firsts or (i, s) < firsts[h]:
                firsts[h] = (i, s)
    out = {}
    for i, rs in rows.items():
        kept = [(s, t, n) for (s, t, n, h) in rs if firsts[h] == (i, s)]
        out[i] = (
            len(rs),
            len(rs) - len(kept),
            sum(n for _, _, n in kept),
            " ".join(t for _, t, _ in kept),
        )
    return out


_WS_TOKEN = st.sampled_from(["x", "y", "zz", ""])  # "" models a space run
_WS_DOC = st.one_of(
    st.just(""),
    st.just(" "),
    st.just("  "),
    # widths straddling the 4-token boundary: 3, 4, 5, 8 tokens
    st.integers(3, 9).flatmap(
        lambda n: st.lists(_WS_TOKEN, min_size=n, max_size=n).map(" ".join)
    ),
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(_WS_DOC, min_size=1, max_size=6))
def test_segment_dedup_adversarial_whitespace_matches_reference(texts):
    """dedup_segments on space-pathological corpora == the plain-Python
    derivation: same counts AND byte-identical rebuilt text (width 4 so
    boundary cases are dense)."""
    from pyspark.sql import Row, SparkSession

    from importer_spark.operators.dedup import dedup_segments

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).config("spark.sql.shuffle.partitions", "4").getOrCreate()
    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs.items()],
        schema="doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_segments"],
            r["removed_segments"],
            r["clean_n_tokens"],
            r["clean_text"],
        )
        for r in dedup_segments(df, "doc_id", "text", width=4).collect()
    }
    assert got == _ref_segment_dedup(docs, width=4)


# --- capped probe vs brute force (r7) ---------------------------------------


def _ref_capped_probe(vecs, batch_ids, threshold, cap):
    """Plain-python reference of cosine_pairs_probe with max_pairs_per_probe:
    per probe, matches sorted by (rounded cosine desc, other id asc), top
    `cap` kept, then normalized-pair dedup; overflow = probes with more
    matches than cap."""
    import math

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        num = sum(x * y for x, y in zip(a, b))
        if not any(a) or not any(b):
            return 0.0
        return num / (na * nb)

    pairs = set()
    overflow = {}
    for p in batch_ids:
        matches = []
        for o, v in vecs.items():
            if o == p:
                continue
            c = cos(vecs[p], v)
            if c >= threshold:
                matches.append((round(c, 6), o))
        matches.sort(key=lambda t: (-t[0], t[1]))
        if len(matches) > cap:
            overflow[p] = len(matches)
        for c, o in matches[:cap]:
            pairs.add((min(p, o), max(p, o)))
    return pairs, overflow


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    data=st.lists(
        st.tuples(
            st.integers(-2, 2), st.integers(-2, 2), st.integers(-2, 2)
        ),
        min_size=2,
        max_size=12,
    ),
    cap=st.integers(1, 3),
)
def test_capped_probe_matches_bruteforce_reference(data, cap):
    """cosine_pairs_probe(max_pairs_per_probe=K) == the per-probe top-K of
    the brute-force threshold graph, with exact overflow degrees — on
    random small-integer vectors (which produce dense rounded-cosine
    ties, the hard case for deterministic capping)."""
    from pyspark.sql import Row, SparkSession
    from pyspark.sql import functions as F

    from importer_spark.operators.similarity import cosine_pairs_probe

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).config("spark.sql.shuffle.partitions", "4").getOrCreate()
    vecs = {i: [float(x) for x in v] for i, v in enumerate(data)}
    corpus = spark.createDataFrame(
        [Row(vec_id=i, emb=v) for i, v in vecs.items()],
        schema="vec_id bigint, emb array<double>",
    ).repartition(3)
    batch_ids = [i for i in vecs if i % 2 == 0]
    batch = corpus.filter(F.col("vec_id") % 2 == 0)
    got_pairs, got_ov = cosine_pairs_probe(
        batch,
        corpus,
        "vec_id",
        "emb",
        threshold=0.5,
        max_pairs_per_probe=cap,
        return_overflow=True,
    )
    ref_pairs, ref_ov = _ref_capped_probe(vecs, batch_ids, 0.5, cap)
    assert {(r.id_a, r.id_b) for r in got_pairs.collect()} == ref_pairs
    assert {(r.probe_id, r.n_matches) for r in got_ov.collect()} == set(
        ref_ov.items()
    )
