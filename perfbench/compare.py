"""Compare two sets of benchmark results, one row per workload and metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the JSON records ``run.py`` writes (``--results``,
default ``.perfbench/results``). Runs are paired by seed (seeds present
on both sides, in seed order); a row shows each side's median and
quartiles, the change's wins over the pairs, and the verdict of
``stats.verdict`` against the metric's bound in ``BENCHMARK.json``:
better, same, worse or unresolved. Per-layer metrics of traced runs
have no bound. Exit code 1 when any end-to-end row is ``worse``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(path: str) -> dict[tuple[str, int], dict[int, dict]]:
    """(workload, trace) -> seed -> metrics {name: value}; the latest
    record wins when a seed ran twice."""
    out: dict[tuple[str, int], dict[int, dict]] = {}
    files = sorted(glob.glob(os.path.join(path, "*.json")), key=os.path.getmtime)
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        metrics = r["per_layer"] if r.get("trace") else r["end_to_end"]
        out.setdefault((r["workload"], r.get("trace", 0)), {})[r["seed"]] = {
            k: v["value"] for k, v in metrics.items()
        }
    return out


def metric_specs(bench_path: str) -> dict[str, tuple[str, float | None]]:
    """name -> (better, bound) for every end-to-end and per-layer metric."""
    with open(bench_path) as f:
        bench = json.load(f)
    specs = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    specs.update({m["name"]: (m["better"], None) for m in bench["per_layer"]})
    return specs


def compare(base: dict, change: dict, specs: dict) -> list[dict]:
    rows = []
    for key in sorted(set(base) & set(change)):
        seeds = sorted(set(base[key]) & set(change[key]))
        if not seeds:
            continue
        names = [n for n in specs if n in base[key][seeds[0]] and n in change[key][seeds[0]]]
        for name in names:
            better, bound = specs[name]
            a = [base[key][s][name] for s in seeds]
            b = [change[key][s][name] for s in seeds]
            verdict, wins, pairs = stats.verdict(a, b, better, bound)
            rows.append({
                "workload": key[0], "trace": key[1], "metric": name,
                "base": stats.quartiles(a), "change": stats.quartiles(b),
                "wins": wins, "pairs": pairs, "verdict": verdict, "bound": bound,
            })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args(argv)
    rows = compare(load(args.base), load(args.change), metric_specs(args.benchmark))
    if not rows:
        print("no workload has runs with the same seeds on both sides", file=sys.stderr)
        return 2
    print(f"{'workload':10} {'metric':26} {'base median [q1, q3]':>32} {'change median [q1, q3]':>32} {'wins':>7}  verdict")
    for r in rows:
        if r["trace"] and r["verdict"] == "same":
            continue  # per-layer rows only when they moved
        fa = "{1:.4g} [{0:.4g}, {2:.4g}]".format(*r["base"])
        fb = "{1:.4g} [{0:.4g}, {2:.4g}]".format(*r["change"])
        print(f"{r['workload']:10} {r['metric']:26} {fa:>32} {fb:>32} {r['wins']:>3}/{r['pairs']:<3}  {r['verdict']}")
    return 1 if any(r["verdict"] == "worse" and r["bound"] is not None for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
