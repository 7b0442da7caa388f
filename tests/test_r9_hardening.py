"""Round-9 hardening pins: the corpus-adaptive margin-plane ladder's
Spark↔SQL parity, sorted-neighborhood chain-pair semantics, overflow
member routing, and the gate runner's fail-fast --only cert refusal."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_mb_plane_ladder_matches_sql_case_everywhere():
    """The Spark side derives the plane count in Python, the oracle bakes
    it as a DuckDB CASE — the two must agree at EVERY corpus size, or
    the engines silently bucket differently. Sweep every rung edge ±1
    plus a log sweep through 100M."""
    from importer_spark.queries.llm_similarity import (
        MB_MAX_PLANES,
        MB_MIN_PLANES,
        MB_TARGET_BUCKET,
        _mb_adaptive_planes,
        _mb_planes_case_sql,
    )

    case = _mb_planes_case_sql()
    con = duckdb.connect()
    ns = set()
    for p in range(MB_MIN_PLANES, MB_MAX_PLANES + 1):
        edge = MB_TARGET_BUCKET << p
        ns.update((edge - 1, edge, edge + 1))
    n = 1
    while n <= 100_000_000:
        ns.add(n)
        n *= 3
    for n in sorted(ns):
        sql_p = con.execute(
            f"SELECT {case} AS np FROM (SELECT {n}::BIGINT AS cnt)"
        ).fetchone()[0]
        py_p = _mb_adaptive_planes(n)
        assert sql_p == py_p, f"n={n}: SQL ladder {sql_p} != Python ladder {py_p}"
        assert MB_MIN_PLANES <= py_p <= MB_MAX_PLANES
    # monotone non-decreasing in n (a non-monotone ladder would mean a
    # growing corpus could ever get COARSER bucketing)
    sweep = sorted(ns)
    planes = [_mb_adaptive_planes(n) for n in sweep]
    assert planes == sorted(planes)


def test_snm_chain_pairs_exact_window_semantics(spark):
    """One bucket of 10 docs sorted by value, window 3 → exactly the
    {(i,i+1), (i,i+2)} chain pairs; a second bucket stays isolated; the
    same pair reachable in two buckets collapses via distinct."""
    from importer_spark.operators.dedup import snm_chain_pairs

    rows = [("b1", 0, i, i * 10) for i in range(1, 11)]
    rows += [("b2", 1, 100 + i, i) for i in range(3)]  # isolated bucket
    members = spark.createDataFrame(rows, "band string, bv int, doc_id bigint, v bigint")
    got = {
        (r["a"]["doc_id"], r["b"]["doc_id"])
        for r in snm_chain_pairs(members, ["band", "bv"], "doc_id", ["v"], 3).collect()
    }
    want = {(i, i + 1) for i in range(1, 10)} | {(i, i + 2) for i in range(1, 9)}
    want |= {(100, 101), (101, 102), (100, 102)}
    assert got == want
    # duplicate membership across buckets collapses to one pair row
    dup = members.unionByName(
        spark.createDataFrame(
            [("b3", 2, 1, 10), ("b3", 2, 2, 20)],
            "band string, bv int, doc_id bigint, v bigint",
        )
    )
    got2 = [
        (r["a"]["doc_id"], r["b"]["doc_id"])
        for r in snm_chain_pairs(dup, ["band", "bv"], "doc_id", ["v"], 3).collect()
    ]
    assert len(got2) == len(set(got2))
    with pytest.raises(ValueError, match="window"):
        snm_chain_pairs(members, ["band", "bv"], "doc_id", ["v"], 1)


def test_cap_band_buckets_return_members_routes_rows(spark):
    from importer_spark.operators.dedup import cap_band_buckets

    rows = [("k1", i) for i in range(5)] + [("k2", 10), ("k2", 11)]
    bands = spark.createDataFrame(rows, "key string, doc_id bigint")
    within, members = cap_band_buckets(bands, ["key"], 3, return_members=True)
    assert {r.key for r in within.collect()} == {"k2"}
    mem = members.collect()
    assert {r.key for r in mem} == {"k1"} and len(mem) == 5
    assert all(r.bucket_size == 5 for r in mem)
    assert set(members.columns) == {"key", "doc_id", "bucket_size"}
    # default (distinct-key) overflow unchanged
    _, overflow = cap_band_buckets(bands, ["key"], 3)
    assert [(r.key, r.bucket_size) for r in overflow.collect()] == [("k1", 5)]


def test_gate_only_merge_refuses_stale_cert_fast(tmp_path):
    """run_local_gate --only must refuse BEFORE any query runs when the
    existing artifact was certified at a different product tree — the
    merge would re-stamp rows against code they never executed. Fast by
    construction: the refusal fires pre-Spark (subprocess budget 60 s,
    where a real 1-query gate run takes much longer)."""
    art = tmp_path / "GATE.json"
    art.write_text(json.dumps({"sf_dir": "/root/testdata/sf0.001", "cert": {"tree": "stale"}}))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "run_local_gate.py"),
            "/root/testdata/sf0.001",
            str(art),
            "--only",
            "orders_fact",
        ],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=REPO,
    )
    assert proc.returncode != 0
    assert "merge refused" in (proc.stderr + proc.stdout)
