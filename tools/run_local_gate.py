"""All-catalog oracle gate at an arbitrary scale factor.

Runs every registered catalog query (132) on Spark AND its DuckDB oracle on
the same parquet dir, compares row count + column set + order-insensitive
canonical values (the driver's t2 comparison, via tests.conftest), and
writes a LOCAL_GATE_<label>.json artifact:

    {"n": 132, "passes": 132, "fails": {name: reason},
     "heap": {...driver-heap telemetry...}, "seconds": {name: [spark, duck]}}

Driver-heap telemetry (r3 verdict: the 10x experiment flagged driver-heap
growth across a long catalog run — measure it, don't guess): after each
query the script samples JVM used-heap (after a System.gc() every 10
queries so the sample tracks LIVE objects, not garbage), the count of
persistent RDDs, and the Python RSS. A leak shows as monotonic growth in
the GC'd samples; plan/state churn shows as sawtooth.

Every DuckDB oracle runs under a watchdog (SPARK_GRAFT_ORACLE_TIMEOUT
seconds, default 600): single-threaded SQL re-derivations of bucketed
similarity operators can be orders of magnitude slower than the engine at
10x scale, and one runaway oracle must not starve the rest of the
certification. A timed-out oracle is recorded in "oracle_timeouts" (with
the Spark side's rows + seconds, which DID complete) — distinct from
"fails", because it is evidence about the oracle's cost, not the engine's
correctness; those queries stay value-certified at the driver scales.

``--pit-oracle asof`` swaps point_in_time_price's oracle for the
union-and-window as-of form (queries/pricing.py ``_PIT_SQL_ASOF``) for this
run only: the registered definitional interval join is quadratic on a hot
part key, so the skew gate runs the as-of twin; the two forms are proven
identical by tests/test_pit_oracle_crosscheck.py.

Usage: python tools/run_local_gate.py [sf_dir] [out_json] [--cpus N]
       [--pit-oracle interval|asof]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def used_heap_mb(spark) -> float:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return round((rt.totalMemory() - rt.freeMemory()) / 1e6, 1)


class OracleTimeout(RuntimeError):
    pass


class OracleResourceExceeded(RuntimeError):
    """The single-node oracle hit its memory/temp-disk wall re-deriving a
    distributed operator — same evidence class as OracleTimeout (oracle
    COST, not engine correctness; the query stays value-certified at the
    driver scales). First seen on the r8 skew axis: the definitional
    as-of oracle for point_in_time_price is quadratic on a hot part key
    and spilled >77 GB of DuckDB temp storage before dying."""


_RESOURCE_MARKERS = (
    "No space left on device",
    "max_temp_directory_size",
    "Out of Memory",
    "OutOfMemory",
    "could not allocate",
)


def run_oracle_with_timeout(con, sql: str, timeout_s: float):
    """Execute a DuckDB query, interrupting it from a watchdog thread if it
    exceeds the budget (duckdb raises InterruptException, surfaced here as
    OracleTimeout). Memory/temp-disk exhaustion inside DuckDB surfaces as
    OracleResourceExceeded — bounded by the temp-size cap set in main()."""
    done = threading.Event()
    timed_out = threading.Event()

    def watchdog():
        if not done.wait(timeout_s):
            timed_out.set()
            con.interrupt()

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    try:
        return con.execute(sql).df()
    except Exception as e:
        if timed_out.is_set():
            raise OracleTimeout(f"oracle exceeded {timeout_s:.0f}s") from None
        if any(m.lower() in str(e).lower() for m in _RESOURCE_MARKERS):
            raise OracleResourceExceeded(
                f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            ) from None
        raise
    finally:
        done.set()
        t.join()


def rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS"):
                return round(int(line.split()[1]) / 1e3, 1)
    return -1.0


def main() -> None:
    argv = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in argv:  # delta-certify new queries, merge into the artifact
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    pit_oracle = "interval"
    if "--pit-oracle" in argv:
        i = argv.index("--pit-oracle")
        pit_oracle = argv[i + 1]
        if pit_oracle not in ("interval", "asof"):
            raise SystemExit(f"--pit-oracle must be interval|asof, got {pit_oracle!r}")
        del argv[i : i + 2]
    # --boundary name=[kind~[regex~]]reason (repeatable): a DOCUMENTED
    # engine-semantics boundary — the named query still runs on BOTH
    # engines and a match still counts as a pass, but a COMPARISON
    # mismatch is recorded transparently under "boundaries" (with the
    # reason AND the observed diff) instead of failing the gate. For
    # divergences that are a property of the oracle engine, not a bug
    # (e.g. DuckDB levenshtein counts BYTES, Spark/Postgres count
    # codepoints — measurable only under the Unicode fuzz axis). Never
    # use it to hide a fixable oracle. An EXCEPTION on either engine is
    # always a FAIL — a boundary explains a disagreement between two
    # completed answers, never a crash (r7 review).
    #
    # The optional SIGNATURE (r7 advice: a bare name=reason reclassified
    # ANY mismatch in the named query, so an unrelated regression would
    # exit 0): `kind` pins the mismatch class (`rows`, `columns`, or
    # `values`) and `regex` must re.search the observed diff detail. A
    # mismatch that does not match the declared signature stays a FAIL —
    # e.g. `part_name_fuzzy_matches=rows~~DuckDB levenshtein counts
    # bytes` lets only a ROW-COUNT divergence through; a value or column
    # mismatch from any future bug still fails the gate.
    boundaries: dict[str, dict] = {}
    while "--boundary" in argv:
        i = argv.index("--boundary")
        k, _, spec = argv[i + 1].partition("=")
        kind, regex = None, None
        if "~" in spec:
            kind, regex, reason = spec.split("~", 2)
            if kind not in ("rows", "columns", "values"):
                raise SystemExit(
                    f"--boundary {k}: kind must be rows|columns|values, got {kind!r}"
                )
        else:
            reason = spec
        boundaries[k] = {
            "kind": kind,
            "regex": regex or None,
            "reason": reason or "documented engine-semantics boundary",
        }
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    out_path = (
        argv[1]
        if len(argv) > 1
        else f"LOCAL_GATE_{os.path.basename(sf_dir.rstrip('/'))}.json"
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    if only is not None and os.path.exists(out_path):
        # FAIL FAST, before any query runs: a --only merge re-stamps the
        # WHOLE artifact at the current tree, so it is sound ONLY when the
        # product tree is UNCHANGED since the prior full run — otherwise
        # one re-run query would re-certify every merged row against code
        # none of them executed (r8 advice: the 'additive changes only'
        # restriction was enforced by a comment). Any product edit means a
        # full republish (tools/republish_gates.sh); to retarget a stale
        # artifact, delete it and run the gate without --only.
        from importer_spark.cert import product_tree_hash

        with open(out_path) as fh:
            _prior_cert = (json.load(fh).get("cert") or {}).get("tree")
        _cur_tree = product_tree_hash()
        if _prior_cert != _cur_tree:
            raise SystemExit(
                f"--only merge refused: {out_path} was certified at product "
                f"tree {_prior_cert}, but the working tree is {_cur_tree}. "
                "Product code changed since the prior full run — republish "
                "the whole gate (tools/republish_gates.sh) instead."
            )

    from importer_spark.queries import ORACLES, QUERIES
    from importer_spark.session import get_spark
    from tests.conftest import canonical, duck_con

    if pit_oracle == "asof":
        from importer_spark.queries.pricing import _PIT_SQL_ASOF

        ORACLES["point_in_time_price"] = _PIT_SQL_ASOF

    spark = get_spark(
        app_name="local-gate",
        master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "16")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    # Bound the oracle's spill: an oracle whose re-derivation is super-
    # linear on poisoned data (e.g. the definitional as-of join on a hot
    # key) must die FAST as OracleResourceExceeded, not fill the disk for
    # 10 minutes first and destabilize every concurrent job. The dir is
    # env-overridable so republish_gates.sh can run two gate lanes
    # concurrently without sharing one spill directory.
    con.execute(
        "SET temp_directory="
        f"'{os.environ.get('SPARK_GRAFT_DUCK_TMP', '/tmp/duckdb_gate_spill')}'"
    )
    con.execute("SET max_temp_directory_size='24GB'")

    oracle_timeout_s = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "600"))
    fails: dict[str, str] = {}
    boundaries_hit: dict[str, dict] = {}
    crashed: set[str] = set()
    oracle_timeouts: dict[str, dict] = {}
    seconds: dict[str, list[float]] = {}
    heap_samples: list[dict] = []
    names = sorted(QUERIES)
    unknown_b = set(boundaries) - set(names)
    if unknown_b:  # a typo here would silently fail the intended query
        raise SystemExit(f"--boundary names not in catalog: {sorted(unknown_b)}")
    if only is not None:
        unknown = only - set(names)
        if unknown:
            raise SystemExit(f"--only names not in catalog: {sorted(unknown)}")
        names = sorted(only)
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        try:
            sdf = QUERIES[name](spark, sf_dir).toPandas()
            t1 = time.perf_counter()
            try:
                odf = run_oracle_with_timeout(con, ORACLES[name], oracle_timeout_s)
            except (OracleTimeout, OracleResourceExceeded) as oe:
                seconds[name] = [round(t1 - t0, 3), -1.0]
                oracle_timeouts[name] = {
                    "spark_rows": len(sdf),
                    "spark_seconds": round(t1 - t0, 3),
                    "oracle_budget_s": oracle_timeout_s,
                    "kind": (
                        "timeout" if isinstance(oe, OracleTimeout) else "resource"
                    ),
                    "detail": str(oe)[:200],
                }
                print(
                    f"ORACLE_{'TIMEOUT' if isinstance(oe, OracleTimeout) else 'RESOURCE'}"
                    f" {name} (spark ok: {len(sdf)} rows in {t1 - t0:.1f}s)",
                    file=sys.stderr,
                )
                odf = None
            t2 = time.perf_counter()
            if odf is not None:
                seconds[name] = [round(t1 - t0, 3), round(t2 - t1, 3)]
            if odf is None:
                pass
            elif sorted(sdf.columns) != sorted(odf.columns):
                fails[name] = (
                    f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
                )
            elif len(sdf) != len(odf):
                fails[name] = f"rows spark={len(sdf)} oracle={len(odf)}"
            else:
                a, b = canonical(sdf), canonical(odf)
                if not a.equals(b):
                    mask = (a != b).any(axis=1)
                    # Name the differing COLUMNS up front: boundary regex
                    # signatures match on this, so a boundary scoped to
                    # one column can't absorb a future diff in another.
                    diff_cols = sorted(c for c in a.columns if (a[c] != b[c]).any())
                    fails[name] = (
                        f"values differ in {diff_cols}; first spark row "
                        f"{a[mask].head(1).to_dict('records')} vs oracle "
                        f"{b[mask].head(1).to_dict('records')}"
                    )
        except Exception as e:  # noqa: BLE001 — record, keep gating
            fails[name] = f"{type(e).__name__}: {e}"[:300]
            seconds[name] = [round(time.perf_counter() - t0, 3), -1.0]
            crashed.add(name)
        if name in fails and name in boundaries and name not in crashed:
            import re as _re

            b = boundaries[name]
            detail = fails[name]
            kind_ok = b["kind"] is None or detail.startswith(
                {"rows": "rows ", "columns": "columns ", "values": "values differ"}[
                    b["kind"]
                ]
            )
            regex_ok = b["regex"] is None or _re.search(b["regex"], detail)
            if kind_ok and regex_ok:
                boundaries_hit[name] = {
                    "reason": b["reason"],
                    "detail": fails.pop(name),
                }
                print(f"BOUNDARY {name}: {b['reason']}", file=sys.stderr)
            else:
                fails[name] = (
                    f"[boundary signature kind={b['kind']} regex={b['regex']} "
                    f"did NOT match — treating as real failure] {detail}"
                )
        if name in fails:
            print(f"FAIL {name}: {fails[name][:200]}", file=sys.stderr)
        if (i + 1) % 10 == 0 or i + 1 == len(names):
            spark._jvm.java.lang.System.gc()
            heap_samples.append(
                {
                    "after_n": i + 1,
                    "jvm_used_mb": used_heap_mb(spark),
                    "persistent_rdds": len(
                        spark.sparkContext._jsc.getPersistentRDDs()
                    ),
                    "py_rss_mb": rss_mb(),
                }
            )
            print(
                f"[{i+1}/{len(names)}] fails={len(fails)} "
                f"heap={heap_samples[-1]['jvm_used_mb']}MB "
                f"rdds={heap_samples[-1]['persistent_rdds']}",
                file=sys.stderr,
            )
    if only is not None and os.path.exists(out_path):
        # Delta run: fold the new rows into the existing artifact.
        with open(out_path) as fh:
            prior = json.load(fh)
        assert prior.get("sf_dir") == sf_dir, (
            f"artifact {out_path} is for {prior.get('sf_dir')}, not {sf_dir}"
        )
        rerun = set(names)  # a re-run name's NEW outcome replaces its old one
        fails = {
            **{k: v for k, v in prior.get("fails", {}).items() if k not in rerun},
            **fails,
        }
        oracle_timeouts = {
            **{k: v for k, v in prior.get("oracle_timeouts", {}).items()
               if k not in rerun},
            **oracle_timeouts,
        }
        boundaries_hit = {
            **{k: v for k, v in prior.get("boundaries", {}).items()
               if k not in rerun},
            **boundaries_hit,
        }
        seconds = {**prior.get("seconds", {}), **seconds}
        heap_samples = prior.get("heap", []) + heap_samples
    from importer_spark.cert import cert_stamp

    # The stamp records the product tree this run certified; a --only
    # delta-merge re-stamps the WHOLE artifact at the current tree — valid
    # only for additive changes (new query registered, untouched paths),
    # which is the sole sanctioned use of --only. tests/test_cert_sync.py
    # fails whenever any published gate's tree hash drifts from the code.
    artifact = {
        "cert": cert_stamp(),
        "sf_dir": sf_dir,
        "pit_oracle": pit_oracle,
        "n": len(seconds),
        "passes": len(seconds) - len(fails) - len(oracle_timeouts)
        - len(boundaries_hit),
        "oracle_timeouts": oracle_timeouts,
        "fails": fails,
        "boundaries": boundaries_hit,
        "seconds": seconds,
        "heap": heap_samples,
        "total_spark_s": round(sum(v[0] for v in seconds.values()), 1),
        "total_oracle_s": round(sum(v[1] for v in seconds.values() if v[1] >= 0), 1),
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(json.dumps({"n": artifact["n"], "passes": artifact["passes"],
                      "oracle_timeouts": len(oracle_timeouts),
                      "boundaries": len(boundaries_hit), "out": out_path}))
    sys.exit(0 if not fails else 1)


if __name__ == "__main__":
    main()
