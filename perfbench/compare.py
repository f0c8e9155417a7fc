"""Compare two result sets of the benchmark (files written by sweep.py).

    python3 perfbench/compare.py parent.jsonl change.jsonl

One row per workload x metric: each side's median and quartiles, the
fraction of same-seed pairs the change wins (ties count for neither),
the number of runs per side whose host probes spiked, and a verdict
against the bounds in BENCHMARK.json:

  regressed   the change's median is worse than the parent's by more
              than the metric's bound;
  improved    the change wins at least 9 of 10 pairs and the medians
              differ by more than the parent's quartile distance;
  unresolved  the spread of either side is wider than the bound, and
              not every run of the change beats every run of the parent;
  unchanged   otherwise.

Per-layer metrics (traced runs) have no bound; they get no verdict.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from typing import Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPIKE = 1.5  # a probe this many times the pooled median marks a noisy run


def load(path: str) -> List[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(values: List[float]):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def _probe(rec: dict) -> float:
    probes = rec.get("detail", {}).get("probes", {})
    return max((p.get("host_ctl_par", 0.0) for p in probes.values()),
               default=0.0)


def verdict(a: List[float], b: List[float], better: str,
            bound: Optional[float], wins: float) -> str:
    if bound is None:
        return "-"
    sign = 1.0 if better == "lower" else -1.0
    qa1, ma, qa3 = quartiles(a)
    qb1, mb, qb3 = quartiles(b)
    worse = sign * (mb - ma) / ma if ma else 0.0
    if worse > bound:
        return "regressed"
    if wins >= 0.9 and abs(mb - ma) > qa3 - qa1:
        return "improved"
    spread = max((qa3 - qa1) / ma if ma else 0.0, (qb3 - qb1) / mb if mb else 0.0)
    b_beats_all = all(sign * (y - x) < 0 for x in a for y in b)
    if spread > bound and not b_beats_all:
        return "unresolved"
    return "unchanged"


def compare(parent: List[dict], change: List[dict], bench: dict) -> List[dict]:
    specs: Dict[str, dict] = {m["name"]: m for m in
                              bench["end_to_end"] + bench["per_layer"]}
    pooled = [_probe(r) for r in parent + change if _probe(r)]
    probe_med = statistics.median(pooled) if pooled else 0.0
    rows = []
    keys = sorted({(r["workload"], r["trace"]) for r in parent}
                  & {(r["workload"], r["trace"]) for r in change})
    for workload, trace in keys:
        pa = {r["seed"]: r for r in parent
              if (r["workload"], r["trace"]) == (workload, trace)}
        pb = {r["seed"]: r for r in change
              if (r["workload"], r["trace"]) == (workload, trace)}
        seeds = sorted(set(pa) & set(pb))
        spiked = [sum(1 for r in side.values()
                      if probe_med and _probe(r) > SPIKE * probe_med)
                  for side in (pa, pb)]
        names = next(iter(pa.values()))["result"]["metrics"]
        for name in names:
            spec = specs.get(name, {"better": "lower"})
            a = [r["result"]["metrics"][name]["value"] for r in pa.values()]
            b = [r["result"]["metrics"][name]["value"] for r in pb.values()]
            sign = 1.0 if spec["better"] == "lower" else -1.0
            won = sum(1 for s in seeds
                      if sign * (pb[s]["result"]["metrics"][name]["value"]
                                 - pa[s]["result"]["metrics"][name]["value"]) < 0)
            wins = won / len(seeds) if seeds else 0.0
            rows.append({
                "workload": workload, "metric": name,
                "unit": names[name]["unit"],
                "parent": quartiles(a), "change": quartiles(b),
                "wins": wins, "pairs": len(seeds), "spiked": spiked,
                "verdict": verdict(a, b, spec["better"], spec.get("bound"),
                                   wins),
            })
    return rows


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    rows = compare(load(argv[0]), load(argv[1]), bench)
    print(f"{'workload':9s} {'metric':40s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'wins':>9s} {'spiked':>7s}  verdict")
    for r in rows:
        fmt = "/".join(f"{v:.4g}" for v in r["parent"])
        fmt_b = "/".join(f"{v:.4g}" for v in r["change"])
        print(f"{r['workload']:9s} {r['metric']:40s} {fmt:>30s} {fmt_b:>30s} "
              f"{r['wins']:5.2f}/{r['pairs']:<3d} {r['spiked'][0]:>3d}/"
              f"{r['spiked'][1]:<3d}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
