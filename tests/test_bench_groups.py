"""bench.py group coverage: every non-gate row of the query table must be
benched in exactly one fresh-JVM group (drift here would silently drop a
query from BENCH_r* or crash the bench mid-run)."""

import bench
import __spark_entry__ as E


def test_groups_cover_queries_exactly_once():
    grouped = [n for names in bench._groups().values() for n in names]
    benched = [q.name for q in E.query_table() if q.group != "gate"]
    assert sorted(grouped) == sorted(benched)
    assert len(grouped) == len(set(grouped))
    # the gate-only rows are the pipeline_* surfaces the flagship times
    suite = [n for n in E.queries() if not n.startswith("pipeline_")]
    assert sorted(grouped) == sorted(suite)
