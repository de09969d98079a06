"""Compare two sets of benchmark runs, per workload and per metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run records as ``run.py`` writes them to
``perfbench/_work/runs/`` (one JSON file per run; ``-spans.json`` files
are skipped).  For each workload and metric it prints each side's median
and quartiles, and the pair win-rate of the change: runs are paired by
seed (by order when seeds differ), a pair is a win when the change reads
better, and ties count for neither side.

Verdicts, for the end-to-end metrics of ``BENCHMARK.json`` (bound from
there) and the workload figures (no bound):
- ``unresolved``: either side's spread (interquartile range over median)
  exceeds the metric's bound;
- ``gain``: the change wins at least 90 % of the pairs and the medians
  differ by more than the base's interquartile range;
- ``regression``: the change's median is worse than the base's by more
  than the bound;
- ``same`` otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(d: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        if p.endswith("-spans.json"):
            continue
        with open(p) as fh:
            r = json.load(fh)
        if r.get("trace"):
            continue  # traced runs carry tracing overhead
        out.setdefault(r["workload"], []).append(r)
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def metric_specs() -> dict[str, dict]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def values(runs: list[dict], name: str) -> list[tuple[int, float]]:
    out = []
    for r in runs:
        v = r["metrics"].get(name, r["workload_metrics"].get(name))
        if v is not None:
            out.append((r["seed"], float(v)))
    return out


def compare(base: list[tuple[int, float]], change: list[tuple[int, float]], higher: bool, bound):
    a = [v for _, v in base]
    b = [v for _, v in change]
    qa, qb = quartiles(a), quartiles(b)
    by_seed = dict(change)
    if all(s in by_seed for s, _ in base):
        pairs = [(v, by_seed[s]) for s, v in base]
    else:
        pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if (y > x if higher else y < x))
    rate = wins / len(pairs) if pairs else 0.0
    spread = max((q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (qa, qb))
    worse = (qa[1] - qb[1]) if higher else (qb[1] - qa[1])
    if bound is not None and spread > bound:
        verdict = "unresolved"
    elif rate >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
        verdict = "gain"
    elif bound is not None and qa[1] and worse / abs(qa[1]) > bound:
        verdict = "regression"
    else:
        verdict = "same"
    return qa, qb, rate, len(pairs), spread, verdict


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    specs = metric_specs()
    for wl in sorted(set(base) & set(change)):
        print(f"== {wl}: {len(base[wl])} base runs, {len(change[wl])} change runs")
        names = list(specs) + sorted(base[wl][0]["workload_metrics"])
        for name in names:
            a, b = values(base[wl], name), values(change[wl], name)
            if not a or not b:
                continue
            spec = specs.get(name, {})
            higher = spec.get("better", "higher" if name.endswith("_per_s") else "lower") == "higher"
            qa, qb, rate, n, spread, verdict = compare(a, b, higher, spec.get("bound"))
            print(
                f"  {name:36s} base {qa[1]:12.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                f"  change {qb[1]:12.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
                f"  win {rate:4.0%} of {n}  spread {spread:5.1%}  {verdict}"
            )


if __name__ == "__main__":
    main()
