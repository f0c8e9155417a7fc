"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The flagship metric is end-to-end extraction throughput (docs/sec) of the
span pipeline (parse + normalize + validate + reading-order + serialize to
markdown/doctags/html/etree + span_seq), plus the relational operator suite
over the driver's parquet tables.

JVM-isolation discipline (round 3): sharing one JVM across the whole
suite couples queries through executor/python-worker memory pressure —
measured 8x inflation of `fingerprint`/`knn_bruteforce` when the
`_synth`-bearing `media_externalize` ran first in the shared JVM
(round-2 VERDICT.md "What's wrong #1"), and 3x pipeline slowdown after
the suite in round 1. So every query group runs in its own FRESH
subprocess JVM:

  * pipeline  — flagship extraction throughput + the suite queries that
                run the `_synth` Arrow stage (media, overlays)
  * text      — corpus text analysis (token/lang/quality/fingerprint/...)
  * dedup     — exact + minhash/LSH/simhash dedup family
  * sim       — embedding similarity (knn/ANN/cosine near-dup) + multimodal
  * rel       — relational/window/pages/bbox suite
  * stream    — micro-batch replays of the streaming surface

The groups, their members and their run order come from the `group`
column of `__spark_entry__.query_table()`, the one list of gate queries:
adding a gate query means adding one row there, and nothing here.

JVM startup, warmup, and corpus synthesis are excluded from the timings;
only the query execution (best-of-2) is timed, so the reported numbers
match what a quiet dedicated cluster would see.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

def _groups() -> dict[str, list[str]]:
    """Benched query names per fresh-JVM group, groups and queries in
    run order: the `group` column of __spark_entry__.query_table(), its
    `gate` rows (covered by the flagship) left out."""
    import __spark_entry__ as E

    groups: dict[str, list[str]] = {}
    for q in E.query_table():
        if q.group != "gate":
            groups.setdefault(q.group, []).append(q.name)
    return groups


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("docling-core-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _env():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return sf_dir, cpus


def _warmup(spark):
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 100_000).selectExpr(
        "sum(id)", "count(distinct id % 7)"
    ).collect()


# Host-control probe (round-3 VERDICT ask #8): a fixed pure-Python
# workload (~10 ms on a quiet core) timed adjacent to every query
# attempt. On a quiet host it is flat across the suite; when the VM's
# documented co-tenant stall window hits, the control spikes together
# with the query, so a spiked query carries its own exoneration in the
# BENCH json instead of requiring an after-the-fact re-measure.
_HOST_CTL_ITERS = 250_000


def _host_control() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(_HOST_CTL_ITERS):
        acc += i * i
    dt = time.perf_counter() - t0
    assert acc >= 0
    return dt


# Parallel-capacity probe: the single-thread loop above catches
# scheduler stalls but NOT multi-core capacity loss — measured on this
# VM: 32-worker parallel efficiency dropped to 0.50 of nominal while
# the single-thread probe rose only 28%. A threaded OpenBLAS matmul
# (~1024^2 f64, ~15 ms quiet) exercises all cores, so a query that ran
# 2-4x slow with a flat host_ctl but a spiked host_ctl_par was starved
# of parallel capacity, not regressed.
_PAR_PROBE = {"mat": None}


def _host_control_par() -> float:
    import numpy as np

    if _PAR_PROBE["mat"] is None:
        _PAR_PROBE["mat"] = np.random.default_rng(7).random((1024, 1024))
        _ = _PAR_PROBE["mat"] @ _PAR_PROBE["mat"]  # BLAS thread warmup
    a = _PAR_PROBE["mat"]
    t0 = time.perf_counter()
    b = a @ a
    dt = time.perf_counter() - t0
    assert b.shape == (1024, 1024)
    return dt


def _time_query(spark, fn, sf_dir: str) -> tuple[float, float, float]:
    """Best-of-2 query wall time plus the host-control samples
    (single-thread + parallel) paired with the chosen (best) attempt.
    The probes BRACKET each attempt (sampled before and after, worst
    kept): a stall that begins during a multi-second query is invisible
    to a pre-attempt-only probe but shows in the closing sample."""
    best = None
    best_ctl = best_par = None
    for _ in range(2):  # best-of-2: shields against host-side stalls
        ctl0 = _host_control()
        par0 = _host_control_par()
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        ctl = max(ctl0, _host_control())
        par = max(par0, _host_control_par())
        if best is None or dt < best:
            best, best_ctl, best_par = dt, ctl, par
    return round(best, 3), round(best_ctl, 4), round(best_par, 4)


def bench_pipeline(spark, n_docs: int, cpus: int) -> dict:
    """Generate corpus (cached, excluded from timing), then time the
    extraction pipeline end to end. Best-of-2 like the suite queries:
    host co-tenancy swings a single ~10 s run up to 2x minute-to-minute
    (measured 7.5k -> 3.6k docs/s on unchanged code), and the best of
    two adjacent runs is the closest observable to quiet-host
    throughput."""
    from pyspark.sql import functions as F

    from docling_core_spark.pipeline import run_pipeline, synth_docs

    parts = cpus * 2
    docs = synth_docs(spark, n_docs, partitions=parts).cache()
    total_docs = docs.count()  # materialize input outside the timed section
    best = None
    best_ctl = best_par = None
    for _ in range(2):
        ctl0 = _host_control()
        par0 = _host_control_par()
        t0 = time.time()
        out = run_pipeline(docs)
        agg = out.agg(
            F.count("*").alias("n"),
            F.sum("n_items").alias("items"),
            F.sum(F.length("markdown")).alias("md_chars"),
            F.sum("parse_anomalies").alias("anoms"),
        ).collect()[0]
        dt = time.time() - t0
        # probes bracket the attempt (see _time_query)
        ctl = max(ctl0, _host_control())
        par = max(par0, _host_control_par())
        if best is None or dt < best:
            best, best_ctl, best_par = dt, ctl, par
    docs.unpersist()
    assert agg["n"] == total_docs
    return {
        "sec": best,
        "docs": int(agg["n"]),
        "docs_per_sec": agg["n"] / best,
        "items": int(agg["items"]),
        "md_chars": int(agg["md_chars"]),
        "host_ctl": round(best_ctl, 4),
        "host_ctl_par": round(best_par, 4),
    }


def _pipeline_main():
    """Flagship pipeline timing + the `_synth`-bearing suite queries, in
    a FRESH dedicated JVM (invoked as a subprocess)."""
    sf_dir, cpus = _env()
    spark = build_spark(cpus)
    _warmup(spark)

    import __spark_entry__ as E

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    pipe = bench_pipeline(spark, n_docs * 10, cpus)
    q = E.queries()
    timed = {name: _time_query(spark, q[name], sf_dir)
             for name in _groups()["pipeline"]}
    print("PIPEJSON:" + json.dumps({
        "pipeline": pipe,
        "queries": {n: t[0] for n, t in timed.items()},
        "host_ctl": {n: t[1] for n, t in timed.items()},
        "host_ctl_par": {n: t[2] for n, t in timed.items()},
    }))
    spark.stop()


def _group_main(group: str):
    """One suite group in its own fresh JVM."""
    sf_dir, cpus = _env()
    spark = build_spark(cpus)
    _warmup(spark)

    import __spark_entry__ as E

    q = E.queries()
    timed = {name: _time_query(spark, q[name], sf_dir)
             for name in _groups()[group]}
    print("GROUPJSON:" + json.dumps({
        "queries": {n: t[0] for n, t in timed.items()},
        "host_ctl": {n: t[1] for n, t in timed.items()},
        "host_ctl_par": {n: t[2] for n, t in timed.items()},
    }))
    spark.stop()


def _run_subprocess(args: list[str], tag: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True, text=True, timeout=1200,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(tag):
            return json.loads(line[len(tag):])
    raise RuntimeError(
        f"bench subprocess {args} failed: {proc.stdout[-2000:]}"
        f" {proc.stderr[-2000:]}"
    )


def main():
    if "--pipeline-only" in sys.argv:
        _pipeline_main()
        return
    if "--group" in sys.argv:
        _group_main(sys.argv[sys.argv.index("--group") + 1])
        return

    sf_dir, cpus = _env()
    sf = sf_dir.rstrip("/").split("sf")[-1]

    groups = _groups()
    grouped = [n for names in groups.values() for n in names]

    q_times: dict[str, float] = {}
    host_ctl: dict[str, float] = {}
    host_par: dict[str, float] = {}
    # Per-group subtotals (n_queries + sec) so cross-round totals are
    # self-normalizing as the registry grows (round-4 VERDICT ask #8).
    group_totals: dict[str, dict] = {}
    pipe_res = _run_subprocess(["--pipeline-only"], "PIPEJSON:")
    pipe = pipe_res["pipeline"]
    q_times.update(pipe_res["queries"])
    host_ctl.update(pipe_res["host_ctl"])
    host_par.update(pipe_res["host_ctl_par"])
    group_totals["pipeline"] = {
        "n_queries": len(pipe_res["queries"]) + 1,  # + flagship extract
        "sec": round(sum(pipe_res["queries"].values()) + pipe["sec"], 3),
    }
    for group in groups:
        if group == "pipeline":
            continue
        res = _run_subprocess(["--group", group], "GROUPJSON:")
        q_times.update(res["queries"])
        host_ctl.update(res["host_ctl"])
        host_par.update(res["host_ctl_par"])
        group_totals[group] = {
            "n_queries": len(res["queries"]),
            "sec": round(sum(res["queries"].values()), 3),
        }

    q_times = {n: q_times[n] for n in grouped}  # stable display order
    q_times["pipeline_extract"] = round(pipe["sec"], 3)
    host_ctl = {n: host_ctl[n] for n in grouped}
    host_ctl["pipeline_extract"] = pipe["host_ctl"]
    ctl_quiet = min(host_ctl.values())
    host_par = {n: host_par[n] for n in grouped}
    host_par["pipeline_extract"] = pipe["host_ctl_par"]
    par_quiet = min(host_par.values())

    total = sum(q_times.values())
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": q_times,
                "groups": group_totals,
                "sf": sf,
                "docs_per_sec_extract": round(pipe["docs_per_sec"], 1),
                "pipeline": pipe,
                "cpus": cpus,
                # Per-query host-control samples (fixed ~10 ms pure-Python
                # probe timed adjacent to the reported attempt). A query
                # whose host_ctl is >> host_ctl_quiet was measured inside
                # a host stall window; compare before flagging regressions.
                "host_ctl": host_ctl,
                "host_ctl_quiet": ctl_quiet,
                # Parallel-capacity samples (threaded BLAS matmul): a
                # query slow with flat host_ctl but spiked host_ctl_par
                # was starved of multi-core capacity by the host.
                "host_ctl_par": host_par,
                "host_ctl_par_quiet": par_quiet,
            }
        )
    )


if __name__ == "__main__":
    main()
