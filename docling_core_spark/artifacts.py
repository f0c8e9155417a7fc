"""Session artifacts: each corpus table is built once per Spark
application and reused, the in-session analog of materializing it to
storage. `Memo` owns that policy; `clear()` frees every artifact."""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)
_MEMOS: list = []


class Memo(dict):
    """One artifact family keyed by (applicationId, *parts). Not
    id(sparkContext): CPython can reuse an id after the old context is
    garbage-collected, handing a later session a dead DataFrame. Each
    fill is logged with its seconds and size: a DataFrame's row count,
    a list's length."""

    def __init__(self, name: str):
        super().__init__()
        self.name = name
        _MEMOS.append(self)

    def fetch(self, spark, *parts, build):
        key = (spark.sparkContext.applicationId, *parts)
        if key not in self:
            t0 = time.perf_counter()
            value = build()
            if isinstance(value, DataFrame):
                # materialize EAGERLY: lazily-filled caches consumed by
                # several branches of one job race to recompute the same
                # partitions concurrently (measured 5x slowdown at 8
                # cores on a cold 16x-inflated corpus); one clean fill
                # job removes the race
                value = value.persist()
                n = value.count()
            else:
                n = len(value)
            self[key] = value
            log.info("memo %s %s filled in %.3f s, %d rows", self.name, key,
                     time.perf_counter() - t0, n)
        return self[key]


def clear() -> None:
    """Unpersist and forget every artifact; call it between sf dirs.
    Dropping entries WITHOUT unpersisting leaks cached RDDs in executor
    storage (measured 20x slowdown after two leaked 16x fills)."""
    for memo in _MEMOS:
        for value in memo.values():
            if isinstance(value, DataFrame):
                try:
                    value.unpersist()
                except Exception:
                    pass  # owning SparkContext already stopped
        memo.clear()
