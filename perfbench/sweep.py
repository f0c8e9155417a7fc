"""Run the benchmark over several seeds and keep every result.

    python3 perfbench/sweep.py --workloads extract_chunk,dedup --seeds 1-10 \\
        --out .perfbench_results/parent.jsonl [--trace 0] [--seconds N]

Each run is a separate process, with a fresh JVM. One JSON record
per run is appended to ``--out``: workload, seed, trace, the result line
and the detail line (host probes, phases, input digest). The spread of
each end-to-end metric (quartile distance over median) is printed at
the end; ``compare.py`` compares two such files.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed "
                           f"({proc.returncode}): {proc.stderr[-2000:]}")
    detail = next((json.loads(line[len("detail "):]) for line in lines
                   if line.startswith("detail ")), {})
    return {"workload": workload, "seed": seed, "trace": trace,
            "result": json.loads(lines[-1]), "detail": detail}


def spread(values) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    by_workload = {}
    for workload in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            rec = run_once(workload, seed, args.seconds, args.trace)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            by_workload.setdefault(workload, []).append(rec)
            print(f"{workload} seed {seed}: correct="
                  f"{rec['result']['correct']} total "
                  f"{rec['detail'].get('phases', {}).get('total_s', 0):.1f}s",
                  flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for workload, recs in by_workload.items():
        for name in recs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in recs]
            if len(vals) < 2:
                continue
            s = spread(vals)
            bound = bounds.get(name)
            flag = "" if bound is None or s <= bound / 3 else "  <-- wide"
            print(f"{workload:9s} {name:32s} median {statistics.median(vals):.6g}"
                  f" spread {s:.4f} bound {bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
