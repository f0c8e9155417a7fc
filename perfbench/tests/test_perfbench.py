"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import compare, inputs  # noqa: E402
from perfbench.golden import failures, golden_rows  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, UNITS  # noqa: E402
from perfbench.trace import load_trace, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_inputs_other_seed_other_inputs():
    for make in (lambda s: inputs.corpus_rows(s, 30),
                 lambda s: inputs.documents_table(s, 200)):
        assert inputs.digest(make(7)) == inputs.digest(make(7))
        assert inputs.digest(make(7)) != inputs.digest(make(8))


def test_corpus_follows_the_span_count_strata():
    import bisect

    rows = inputs.corpus_rows(5, 400)
    counts = [0] * len(inputs.SPAN_SHARES)
    for row in rows:
        counts[bisect.bisect_left(inputs.SPAN_EDGES, len(row["spans"]))] += 1
    assert counts == inputs.stratum_quotas(400)
    assert sum(inputs.stratum_quotas(1201)) == 1201
    assert len({r["doc_id"] for r in rows}) == 400


def test_documents_table_plants_duplicates():
    rows = inputs.documents_table(3, 2000)
    texts = [r["text"] for r in rows]
    near = [t for t in texts if t.endswith(" dup")]
    assert len(near) == 100  # exactly NEAR_DUP_SHARE of the rows
    originals = [t for t in texts if not t.endswith(" dup")]
    assert min(len(t.split()) for t in originals) >= 10
    assert max(len(t.split()) for t in originals) <= 99
    # most copies still have their original in the table
    kept = set(texts)
    assert sum(t[: -len(" dup")] in kept for t in near) > 0.9 * len(near)
    assert all(r["source"] == f"src{r['doc_id'] % 20}" for r in rows)


def test_chunked_docs_matches_the_chunker():
    from docling_core_spark.pipeline import chunk_rows_doc

    rows = inputs.corpus_rows(2, 60)
    headings_only = {"doc_id": "h", "spans": [
        {"kind": k, "text": "x", "media_ref": "", "offset": i}
        for i, k in enumerate(("page_header", "title",
                               "section_header_level_1", "page_footer"))]}
    rows.append(headings_only)
    chunked = sum(bool(chunk_rows_doc(r["doc_id"], r["spans"], True, 64))
                  for r in rows)
    assert inputs.chunked_docs(rows) == chunked == len(rows) - 1


def test_metric_names_and_units():
    names = [m[0] for m in END_TO_END + PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64, name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", UNITS[name]), name


def test_benchmark_json_matches_harness():
    bench = _bench()
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == [tuple(m) for m in END_TO_END]
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == [tuple(m) for m in PER_LAYER]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    for w in bench["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


def test_golden_check_flags_a_perturbed_row():
    rows, cols = golden_rows("pipeline_exports")
    assert failures(rows, cols, rows, cols) == 0
    i = cols.index("markdown_md5")
    bad = list(rows)
    bad[5] = bad[5][:i] + ("0" * 32,) + bad[5][i + 1:]
    assert failures(bad, cols, rows, cols) == 1
    assert failures(rows[1:], cols, rows, cols) == 1  # a missing doc
    renamed = cols[:-1] + ["other"]
    assert failures(rows, renamed, rows, cols) == len(rows)  # schema


def test_self_times_subtract_direct_children():
    spans = [
        ["pipeline.doc", 0, 100, -1, "d"],
        ["parse.spans", 10, 40, 0, "d"],
        ["serialize.markdown", 50, 90, 0, "d"],
        ["model.doc.iterate_items", 60, 70, 2, "d"],
    ]
    got = self_times(spans)
    assert got["pipeline.doc"] == (30, 1)
    assert got["serialize.markdown"] == (30, 1)
    assert got["model.doc.iterate_items"] == (10, 1)


def test_load_trace_reads_the_flush_span(tmp_path):
    spans = [["pipeline.batch", 0, 50, -1, None],
             ["pipeline.doc", 10, 40, 0, "d"]]
    (tmp_path / "w.json").write_text(
        json.dumps({"task_id": 1, "spans": spans, "counts": {"c": 2}})
        + "\n" + json.dumps(["trace.flush", 60, 65, -1, None]))
    totals, counts = load_trace(str(tmp_path))
    assert totals == {"pipeline.batch": (20, 1), "pipeline.doc": (30, 1),
                      "trace.flush": (5, 1)}
    assert counts == {"c": 2}


def _rec(seed, value):
    return {"workload": "extract", "seed": seed, "trace": 0,
            "result": {"metrics": {"docs_per_s": {"value": value,
                                                   "unit": "docs/s"}}},
            "detail": {}}


def test_compare_verdicts():
    bench = _bench()
    parent = [_rec(s, 100.0 + s % 3) for s in range(10)]
    same = [_rec(s, 100.0 + (s + 1) % 3) for s in range(10)]
    slow = [_rec(s, 70.0 + s % 3) for s in range(10)]
    fast = [_rec(s, 130.0 + s % 3) for s in range(10)]
    verdict = {name: compare.compare(parent, side, bench)[0]["verdict"]
               for name, side in (("same", same), ("slow", slow),
                                  ("fast", fast))}
    assert verdict == {"same": "unchanged", "slow": "regressed",
                       "fast": "improved"}
