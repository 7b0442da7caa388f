"""Benchmark entry point: one workload per process, on local[4].

    python3 perfbench/run.py --workload catalog|ingest|refine --seed N \
        --seconds S --trace 0|1

``ROOT``, the dir above this one, is the checkout: the program under test is
imported from it and everything the run writes goes to ``ROOT/.perfbench_cache``.
Set-up is timed from the start of this script: the engine's imports, then,
after the untimed input generation (``inputs.py``), the session start that
launches the JVM and the warm-up. The workload then runs a fixed amount of
closed-loop work; its outputs are checked after the timed window. ``--seconds``
is accepted for the benchmark interface: every run does the same work, which
takes longer than ``BENCHMARK.json``'s 10 s. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it, ``DETAIL {...}``, holds the workload's
named metrics and the failures. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
MASTER = f"local[{CORES}]"
REFINE_RUNS = 2
# The catalog query set (24 of 213), chosen from one measured run of the whole
# catalog at sf0.01 on local[4], one client (README.md lists the costs):
CATALOG_QUERIES = [
    # the two queries that set the latency tail, and one catalog caller of
    # each traced operator: dedup_keep_best calls operators.dedup
    # near_dup_pairs and operators.graph connected_components,
    # exact_substring_removal remove_duplicate_spans, ccnet_perplexity_buckets
    # operators.text unigram_avg_logprob
    "dedup_keep_best",
    "hybrid_rrf_topk",
    "exact_substring_removal",
    "ccnet_perplexity_buckets",
    # the other 209 queries sorted by cost and cut into 20 strata of equal
    # count; from each, the query nearest the stratum's median cost
    "text_token_stats",
    "pii_redaction",
    "priority_dedup",
    "nested_child_table",
    "time_weighted_value",
    "country_normalization",
    "events_interpolate",
    "case_scoring",
    "event_transition_matrix",
    "asof_next_purchase",
    "segment_dedup_removal_incremental",
    "incremental_join_view",
    "tpch_q8_market_share",
    "part_name_fuzzy_matches",
    "tpch_q20_dominant_suppliers",
    "lang_id_kappa",
    "curation_pipeline",
    "dq_curation_suite",
    "embedding_ivf_topk",
    "copurchase_pagerank",
]
ORACLE_SAMPLE = 2
FAILED_LATENCY_S = 1e9  # a failed operation's latency: above any limit
MB = 1024 * 1024

# `refine` summary of the unshuffled scaled documents at inputs.REFINE_SCALE; a
# shuffled run must reproduce it exactly (row order must not matter).
REFINE_EXPECTED = {
    "docs_in": 5000,
    "docs_out": 4540,
    "tokens_removed": 24300,
    "buckets": {"head": 1540, "middle": 1510, "tail": 1490},
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class NullTracer:
    """Stands in for ``tracing.Tracer`` in the untraced run."""

    traced = False

    def set_group(self, group):
        pass

    def span(self, name, **attrs):
        return contextlib.nullcontext()


class StageClock(io.TextIOBase):
    """Text stream that stamps each complete line with ``perf_counter``, so
    a front door's per-stage JSON lines double as stage boundaries."""

    def __init__(self):
        self.lines: list[tuple[float, str]] = []
        self._buf = ""

    def write(self, s: str) -> int:
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self.lines.append((time.perf_counter(), line))
        return len(s)

    def json_lines(self) -> list[tuple[float, dict]]:
        out = []
        for t, line in self.lines:
            try:
                out.append((t, json.loads(line)))
            except ValueError:
                pass
        return out


class Result:
    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.check_errors: list[str] = []
        self.latencies: list[float] = []  # per operation, for op_p50_s
        self.units: list[float] = []  # per unit of work, for wall_s
        self.detail: dict[str, tuple[float, str]] = {}
        self.written_mb = 0.0  # ingest: bytes the incremental batches wrote
        self.summaries: list[dict | None] = []  # ingest: per-batch summary lines

    def fail(self, what: str, exc: BaseException) -> None:
        self.failures.append(f"{what}: {type(exc).__name__}: {exc}"[:500])


# --- set-up -----------------------------------------------------------------


def session_conf(workload: str, traced: bool, tmp: str) -> dict[str, str]:
    conf = {
        "spark.local.dir": tmp,
        # JVM temp files under the checkout; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if workload == "catalog":
        # bench.py's session: concurrent queries share cores under FAIR.
        conf["spark.scheduler.mode"] = "FAIR"
    if traced:
        # Keep every job and stage for the end-of-run REST read.
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def _warm_workers(it):
    import numpy  # noqa: F401 — pre-import heavy deps in each Python worker

    yield from it


def warm(spark, sf_dir: str, tables: list[str], python_workers: bool) -> None:
    """Read every column of the inputs once and, for workloads that run
    Python UDFs, start the Python workers, so the timed window measures the
    workload, not first-touch costs."""
    from importer_spark.io import Tables

    t = Tables(spark, sf_dir)
    for name in tables:
        getattr(t, name).write.format("noop").mode("overwrite").save()
    if python_workers:
        spark.range(CORES * 4).repartition(CORES).mapInPandas(_warm_workers, "id long").write.format(
            "noop"
        ).mode("overwrite").save()


def set_up(workload: str, sf_dir: str, tables: list[str], conf: dict, shuffle: int):
    """Start the session, which launches the JVM, and warm the inputs;
    returns the session and the two timings."""
    from importer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", master=MASTER, shuffle_partitions=shuffle, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm(spark, sf_dir, tables, python_workers=workload != "ingest")  # `pipeline` runs no UDFs
    return spark, t1 - t0, time.perf_counter() - t1


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def shut_down(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- workloads --------------------------------------------------------------


def run_catalog(spark, tracer, sf_dir: str, seed: int, res: Result) -> None:
    """4 clients pull the next query from one seed-shuffled queue (closed
    loop) until the query set has run once."""
    from importer_spark.queries import DIAGNOSTICS, QUERIES

    catalog = {**QUERIES, **DIAGNOSTICS}
    names = sorted(CATALOG_QUERIES)
    lock = threading.Lock()
    seq = iter(range(10**9))

    def client(queue: list[str]) -> None:
        while True:
            with lock:
                if not queue:
                    return
                name = queue.pop()
                qid = next(seq)
            tracer.set_group(f"q{qid}")
            t0 = time.perf_counter()
            try:
                with tracer.span("query", query=name):
                    with tracer.span("queries.build"):
                        df = catalog[name](spark, sf_dir)
                    if tracer.traced:
                        with tracer.span("catalyst.plan") as sp:
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                            phases = qe.tracker().phases()
                            sp.attrs["plan_ms"] = sum(
                                phases.get(p).get().durationMs()
                                for p in ("analysis", "optimization", "planning")
                                if phases.get(p).isDefined()
                            )
                    with tracer.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
                latency = time.perf_counter() - t0
            except Exception as e:  # one failed query must not stop the run
                latency = FAILED_LATENCY_S
                with lock:
                    res.fail(f"query {name}", e)
            with lock:
                res.attempted += 1
                res.latencies.append(latency)

    queue = names[:]
    random.Random(seed).shuffle(queue)
    queue.reverse()  # clients pop from the end: serve in shuffled order
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=CORES) as pool:
        for f in [pool.submit(client, queue) for _ in range(CORES)]:
            f.result()
    res.units.append(time.perf_counter() - t0)

    lat = res.latencies
    tail = stats.tail_percentile(len(lat))
    res.detail["catalog_wall_s"] = (res.units[0], "s")
    res.detail["query_p50_s"] = (stats.percentile(lat, 50), "s")
    if tail is not None:
        res.detail[f"query_p{tail}_s"] = (stats.percentile(lat, tail), "s")
    res.detail["queries"] = (len(lat), "count")


def check_catalog(spark, sf_dir: str, seed: int, res: Result) -> None:
    """A seeded sample of the set's oracle-backed queries must match their
    DuckDB oracle (the helper tier-1 uses)."""
    import importlib.util

    from importer_spark.queries import ORACLES

    spec = importlib.util.spec_from_file_location("perfbench_oracle", os.path.join(ROOT, "tests", "conftest.py"))
    helper = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(helper)
    oracle_backed = [n for n in sorted(CATALOG_QUERIES) if n in ORACLES]
    for name in random.Random(seed).sample(oracle_backed, min(ORACLE_SAMPLE, len(oracle_backed))):
        try:
            helper.assert_query_matches(spark, name, sf_dir)
        except Exception as e:
            res.check_errors.append(f"oracle {name}: {type(e).__name__}: {e}"[:500])


def _listing(path: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(dp, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def _bytes_written(before: dict, after: dict) -> int:
    return sum(meta[0] for p, meta in after.items() if before.get(p) != meta)


def run_ingest(spark, tracer, inputs_, warehouse: str, res: Result) -> None:
    """One client: a `pipeline --mode seed` load into a fresh warehouse, then
    one `--mode incremental` run per generated batch. The unit is the whole
    cycle; operations are batches."""
    from importer_spark.__main__ import main as cli

    batches = [("seed", inputs_.seed_dir)] + [("incremental", d) for d in inputs_.batch_dirs]
    seed_s = None
    incr: list[float] = []
    incr_written = 0
    summaries = []
    for i, (mode, sf_dir) in enumerate(batches):
        before = _listing(warehouse)
        clock = StageClock()
        tracer.set_group(f"batch{i}")
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("pipeline.batch", mode=mode):
                rc = cli(["pipeline", "--sf-dir", sf_dir, "--warehouse", warehouse,
                          "--mode", mode, "--master", MASTER], out=clock)
            dt = time.perf_counter() - t0
            summary = clock.json_lines()[-1][1]
            if rc != 0 or not summary.get("ok"):
                raise RuntimeError(f"pipeline exit {rc}: {summary}")
        except Exception as e:
            dt = FAILED_LATENCY_S
            res.fail(f"{mode} batch {i}", e)
            summary = None
        summaries.append(summary)
        res.latencies.append(dt)
        if mode == "seed":
            seed_s = dt
        else:
            incr.append(dt)
            incr_written += _bytes_written(before, _listing(warehouse))
    res.units = [seed_s + sum(incr)]  # the cycle: seed load plus incremental batches
    res.detail["ingest_seed_s"] = (seed_s, "s")
    res.detail["ingest_incr_s"] = (sum(incr), "s")
    res.detail["ingest_incr_batches"] = (len(incr), "count")
    res.detail["ingest_incr_written_mb"] = (incr_written / MB, "MB")
    res.detail["ingest_warehouse_mb"] = (sum(m[0] for m in _listing(warehouse).values()) / MB, "MB")
    res.written_mb = incr_written / MB
    res.summaries = summaries


def check_ingest(spark, inputs_, warehouse: str, res: Result) -> None:
    """Each warehouse source equals the generator's expected state after the
    last batch; every batch wrote non-empty marts."""
    summaries = res.summaries
    for source, path in sorted(inputs_.expected[-1].items()):
        expected = spark.read.parquet(path)
        got = spark.read.parquet(os.path.join(warehouse, "sources", source))
        got = got.select(*expected.columns)
        # Both multiset differences empty means equal, duplicates included.
        extra = got.exceptAll(expected).count()
        missing = expected.exceptAll(got).count()
        if extra or missing:
            res.check_errors.append(
                f"source {source}: {extra} rows not expected, {missing} expected rows missing"
            )
    for i, summary in enumerate(summaries):
        if summary is not None and not all(summary.get("marts", {}).values()):
            res.check_errors.append(f"batch {i}: empty mart in {summary.get('marts')}")


def run_refine(spark, tracer, sf_dir: str, out_root: str, res: Result) -> None:
    """One client runs the `refine` front door ``REFINE_RUNS`` times, a fresh
    output dir each time. Operations are the stages the front door reports,
    timed from the stage lines it streams."""
    from importer_spark.__main__ import main as cli

    for i in range(REFINE_RUNS):
        out = os.path.join(out_root, f"run{i}")
        clock = StageClock()
        tracer.set_group(f"refine{i}")
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("refine.run"):
                rc = cli(["refine", "--sf-dir", sf_dir, "--out", out, "--master", MASTER], out=clock)
            res.units.append(time.perf_counter() - t0)
            lines = clock.json_lines()
            summary = lines[-1][1]
            if rc != 0:
                raise RuntimeError(f"refine exit {rc}: {summary}")
            prev = t0
            for t, line in lines:
                if line.get("stage") != "summary":
                    res.latencies.append(t - prev)
                    prev = t
            got = {k: summary.get(k) for k in REFINE_EXPECTED}
            if got != REFINE_EXPECTED:
                res.check_errors.append(f"run {i}: summary {got} != unshuffled {REFINE_EXPECTED}")
        except Exception as e:
            res.units.append(FAILED_LATENCY_S)
            res.latencies.append(FAILED_LATENCY_S)
            res.fail(f"refine run {i}", e)
    res.detail["refine_wall_s"] = (statistics.median(res.units), "s")
    res.detail["refine_runs"] = (len(res.units), "count")


# --- main -------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["catalog", "ingest", "refine"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    cache = os.path.join(ROOT, ".perfbench_cache")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM: no /tmp/hsperfdata file
    sys.path.insert(0, ROOT)
    import importer_spark.__main__  # noqa: F401 — the program under test; fails fast if absent
    from importer_spark.io import TABLES
    from importer_spark.session import shuffle_partitions_for_dir

    import_s = time.perf_counter() - T_START

    import inputs

    # Inputs: built from the seed, untimed.
    t_start = time.perf_counter()
    work = os.path.join(cache, args.workload)
    if args.workload == "catalog":
        sf_dir, tables, shuffle = inputs.DATA_DIR, TABLES, shuffle_partitions_for_dir(inputs.DATA_DIR)
    else:
        shuffle = 32  # the front doors' own get_spark default
        if args.workload == "ingest":
            ingest_inputs = inputs.make_ingest_inputs(inputs.DATA_DIR, os.path.join(work, "inputs"), args.seed)
            # the tables `pipeline` reads: its two sources and the mart DAG's inputs
            sf_dir, tables = ingest_inputs.seed_dir, ["orders", "events", "customer", "lineitem"]
        else:
            sf_dir = inputs.make_refine_input(inputs.DATA_DIR, os.path.join(work, "inputs"), args.seed)
            tables = ["documents"]

    traced = bool(args.trace)
    log(f"inputs ready in {time.perf_counter() - t_start:.1f} s")
    spark, get_spark_s, warm_s = set_up(args.workload, sf_dir, tables, session_conf(args.workload, traced, tmp), shuffle)
    setup_s = import_s + get_spark_s + warm_s
    log(f"set-up {setup_s:.1f} s (imports {import_s:.1f}, session {get_spark_s:.1f}, warm-up {warm_s:.1f})")
    t_phase = time.perf_counter()
    res = Result()
    try:
        if traced:
            import tracing

            tracer = tracing.Tracer(spark)
            tracing.install_layer_wrappers(tracer)
        else:
            tracer = NullTracer()
        t_window = time.perf_counter()
        try:
            if args.workload == "catalog":
                run_catalog(spark, tracer, sf_dir, args.seed, res)
            elif args.workload == "ingest":
                warehouse = os.path.join(work, "warehouse")
                shutil.rmtree(warehouse, ignore_errors=True)
                run_ingest(spark, tracer, ingest_inputs, warehouse, res)
            else:
                run_refine(spark, tracer, sf_dir, os.path.join(work, "out"), res)
        finally:
            if traced:
                tracer.restore()
        log(f"timed window {time.perf_counter() - t_window:.1f} s")
        # Output checks, untimed.
        if args.workload == "catalog":
            check_catalog(spark, sf_dir, args.seed, res)
        elif args.workload == "ingest":
            check_ingest(spark, ingest_inputs, warehouse, res)

        wall_s = statistics.median(res.units)
        op_p50_s = stats.percentile(res.latencies, 50)
        if traced:
            exec_span = {"catalog": "exec", "ingest": "pipeline.batch", "refine": "refine.run"}[args.workload]
            units = len(res.units)
            metrics = {
                "session.import_s": (import_s, "s"),
                "session.get_spark_s": (get_spark_s, "s"),
                "session.warm_s": (warm_s, "s"),
                "session.jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
                "io.written_mb": (res.written_mb, "MB"),
                "trace.wall_s": (wall_s, "s"),
                "trace.op_p50_s": (op_p50_s, "s"),
            }
            for name, value in tracing.layer_metrics(tracer, exec_span, units).items():
                unit = "s" if name.endswith(("_s", ".s")) else "MB" if name.endswith("_mb") else "count"
                metrics[name] = (value, unit)
            # The gate's line carries the per-layer metrics BENCHMARK.json
            # lists (those every gated workload exercises); DETAIL has all.
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                gated = {m["name"] for m in json.load(fh)["per_layer"]}
            res.detail.update(metrics)
            metrics = {k: v for k, v in metrics.items() if k in gated}
        else:
            # op_p50_s is not gated: on catalog the seed's query order moves
            # it by more than any bound the gate allows (README.md).
            res.detail["op_p50_s"] = (op_p50_s, "s")
            metrics = {"setup_s": (setup_s, "s"), "wall_s": (wall_s, "s")}
    except Exception as e:
        traceback.print_exc()
        res.fail("benchmark", e)
        metrics = None
    finally:
        log(f"workload and checks in {time.perf_counter() - t_phase:.1f} s")
        shut_down(spark)

    res.detail["setup_s"] = (setup_s, "s")
    res.detail["fail_frac"] = (len(res.failures) / max(res.attempted, 1), "ratio")
    for line in res.failures + res.check_errors:
        print(f"FAILED {line}", file=sys.stderr)
    print("DETAIL " + json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()},
        "failures": res.failures,
        "check_errors": res.check_errors,
    }, sort_keys=True))
    if metrics is None:
        return 1
    print(json.dumps({
        "correct": not res.failures and not res.check_errors,
        "attempted": res.attempted,
        "failed": len(res.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
