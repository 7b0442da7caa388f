"""Compare two sets of benchmark runs, or traced against untraced runs.

    python3 perfbench/compare.py diff --parent P1.out P2.out ... --change C1.out C2.out ...
    python3 perfbench/compare.py overhead --untraced U1.out ... --traced T1.out ...

Each file is the captured stdout of ``run.py`` (one or more runs). Runs are
grouped by workload; within a workload the i-th parent run and the i-th change
run form a pair, so run them interleaved (parent, change, change, parent, ...).

``diff`` prints, per workload and metric, each side's median and quartiles and
the verdict of ``stats.verdict``: "better" or "worse" needs at least 10 pairs,
a win in 9 of 10, and a median gap wider than the parent's interquartile
distance; otherwise "unresolved". For a metric gated in BENCHMARK.json it also
flags a change median worse than the parent's by more than the bound, and,
when the parent's own spread (IQR / median) is wider than the bound, reports
"no regression" as unresolved unless every change run beats every parent
run. Count metrics are listed with "exact" when every run reads the same.

``overhead`` prints traced ``trace.wall_s`` and ``trace.op_p50_s`` against
untraced ``wall_s`` and ``op_p50_s`` per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(paths: list[str]) -> dict[str, list[dict]]:
    """workload -> runs in file order; a run holds its gated metrics (the
    final JSON line) merged with its named DETAIL metrics."""
    runs: dict[str, list[dict]] = {}
    for path in paths:
        detail = None
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("DETAIL "):
                    detail = json.loads(line[len("DETAIL "):])
                elif line.startswith("{") and detail is not None:
                    final = json.loads(line)
                    metrics = {**detail["metrics"], **final["metrics"]}
                    runs.setdefault(detail["workload"], []).append(
                        {"correct": final["correct"], "metrics": metrics}
                    )
                    detail = None
    return runs


def gated_bounds() -> dict[str, tuple[str, float]]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}


def _fmt(values: list[float]) -> str:
    q1, med, q3 = stats.quartiles(values)
    return f"{med:10.4f} [{q1:.4f}, {q3:.4f}]"


def diff(parent: dict[str, list[dict]], change: dict[str, list[dict]], bounds) -> list[str]:
    out = []
    for workload in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[workload], change[workload]
        n = min(len(p_runs), len(c_runs))
        out.append(f"== {workload}: {n} pairs (parent {len(p_runs)} runs, change {len(c_runs)} runs)")
        names = sorted(set(p_runs[0]["metrics"]) & set(c_runs[0]["metrics"]))
        for name in names:
            unit = p_runs[0]["metrics"][name]["unit"]
            pv = [r["metrics"][name]["value"] for r in p_runs[:n]]
            cv = [r["metrics"][name]["value"] for r in c_runs[:n]]
            row = f"{name:32s} {unit:6s} parent {_fmt(pv)}  change {_fmt(cv)}"
            if unit == "count":
                exact = len(set(pv)) == 1 and len(set(cv)) == 1
                out.append(row + ("  exact" if exact else ""))
                continue
            better, bound = bounds.get(name, ("lower", None))
            v = stats.verdict(pv, cv, better)
            row += f"  {v['verdict']} ({v['wins']}/{n} wins)"
            if bound is not None:
                sign = 1 if better == "lower" else -1
                if sign * (v["change_median"] - v["parent_median"]) > bound * v["parent_median"]:
                    row += f"  REGRESSION beyond bound {bound:.0%}"
                elif stats.spread(pv) > bound and not all(sign * (p - c) > 0 for p in pv for c in cv):
                    # the runs cannot tell a change within the bound from none
                    row += f"  spread {stats.spread(pv):.0%} > bound: no-regression unresolved"
            out.append(row)
    return out


def overhead(untraced: dict[str, list[dict]], traced: dict[str, list[dict]]) -> list[str]:
    out = []
    for workload in sorted(set(untraced) & set(traced)):
        for plain, with_trace in (("wall_s", "trace.wall_s"), ("op_p50_s", "trace.op_p50_s")):
            u = statistics.median(r["metrics"][plain]["value"] for r in untraced[workload])
            t = statistics.median(r["metrics"][with_trace]["value"] for r in traced[workload])
            out.append(
                f"{workload:8s} {plain:9s} untraced {u:.4f} s  traced {t:.4f} s  overhead {(t - u) / u:+.1%}"
            )
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("diff")
    d.add_argument("--parent", nargs="+", required=True)
    d.add_argument("--change", nargs="+", required=True)
    o = sub.add_parser("overhead")
    o.add_argument("--untraced", nargs="+", required=True)
    o.add_argument("--traced", nargs="+", required=True)
    args = p.parse_args(argv)
    if args.cmd == "diff":
        lines = diff(load_runs(args.parent), load_runs(args.change), gated_bounds())
    else:
        lines = overhead(load_runs(args.untraced), load_runs(args.traced))
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
