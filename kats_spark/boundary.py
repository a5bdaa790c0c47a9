"""Registry hook for persist() boundaries inside reusable plans.

Several operators persist a slim frame that feeds both sides of a
self-join (LSH band buckets, winnow fingerprints, IVF scored rows):
without the boundary the expensive upstream pipeline executes once per
consumer.  When such an operator runs inside a
plan-memoized query (plans/prepared.py), an external
``spark.catalog.clearCache()`` silently drops the persist REGISTRATION,
and the memoized plan would quietly lose its boundary on reuse — the
duplicate computation returns with no error.

This module lets the memo capture those frames at build time and
re-register them (``df.persist()`` — registration only; the dropped
blocks recompute fresh on the next action) on every memo hit.  Outside
a capture scope ``register`` is a no-op, so operators stay usable
standalone.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_ACTIVE: list | None = None


def register(df: DataFrame) -> DataFrame:
    """Record a persisted boundary frame with the active capture scope
    (no-op when none is active).  Returns ``df`` for chaining."""
    if _ACTIVE is not None:
        _ACTIVE.append(df)
    return df


@contextmanager
def capture(into: list):
    """Route ``register`` calls into ``into`` for the duration of the
    block.  Nested captures stack (inner scope wins)."""
    global _ACTIVE
    prev = _ACTIVE
    _ACTIVE = into
    try:
        yield into
    finally:
        _ACTIVE = prev
