"""One session cache for every memo in the package.

An entry's key is (live SparkContext, kind, params); its value is built
once and reused until the CONTENT of its sources changes:

- **sources** are the parquet paths the build read through
  ``sources.load.read_parquet`` (recorded by :func:`source`).  Their
  :func:`fingerprint` is stored with the entry and re-checked on every
  hit; a rewrite under the same path rebuilds.  Memos whose input frame
  is read before the build (the index, model and weight memos) carry
  the input's :func:`fingerprint` in ``params`` instead of a path.
- **frames** are the persist boundaries the build registered with
  :func:`register`.  An external ``spark.catalog.clearCache()`` (the
  bench harness runs one between reps) silently drops a persist
  REGISTRATION, and a reused plan would lose its boundary with no
  error, so every hit re-registers them (``persist()`` — registration
  only; dropped blocks recompute fresh on the next action).
- A build inside another build (a ``@prepared`` query calling a
  memoized helper) hands its sources and frames on to the enclosing
  entry, so the outer hit re-checks and re-registers them too.
- **eviction**: at most ``MAX_ENTRIES`` entries, oldest build first.
  Evicting, rebuilding or :func:`clear` releases what the entry holds:
  captured frames are unpersisted and broadcasts in the value are
  destroyed (entries of a stopped context are only dropped).

``@prepared`` — the declared queries' plan memo.  A query's DataFrame is
an immutable logical plan; building it costs driver time (py4j Column
construction plus eager Catalyst analysis at every ``select`` — a
36-lag ACF detector's tree analyzes in ~1.5 s).  A function may be
decorated ONLY if its body:

- runs NO driver-side actions (no collect/count/toPandas — iterative
  models, GP loops and k-means builds are ineligible: their call does
  real work whose repetition the bench must measure).  One carve-out: a
  stored-index query whose only action is the register-or-rebuild gate
  (``pipeline_queries._ensure_stored_index``) IS eligible — the gate
  runs on every build, the catalog registration it creates survives
  ``clearCache()``, and the entry's source fingerprint sends a rewritten
  corpus back through the gate, so a hit returns exactly what a fresh
  build would.  Per-request driver work (the probed-cell collect in
  bitext_mine_stored / ivf_stored_topk) stays ineligible: that is
  serving cost the bench must keep measuring;
- creates NO materialization boundary (localCheckpoint/checkpoint) — a
  checkpointed frame would carry MATERIALIZED data across an external
  ``clearCache()`` and turn a repeat measurement into a cache read.
  ``persist()`` boundaries are allowed when registered with
  :func:`register` (see above);
- is deterministic in (spark, sf_dir) and the content of what it reads.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

MAX_ENTRIES = 256

_ENTRIES: dict = {}  # (context, kind, params) -> _Entry, oldest build first
_STATS: dict = {}  # kind -> {"hits": n, "builds": n}
_SCOPE: "_Entry | None" = None  # the build in progress


class _Entry:
    __slots__ = ("value", "frames", "sources")

    def __init__(self):
        self.value = None
        self.frames: list[DataFrame] = []
        self.sources: dict[str, str | None] = {}  # path -> fingerprint


def register(df: DataFrame) -> DataFrame:
    """Record a persisted boundary frame with the build in progress
    (no-op outside one).  Returns ``df`` for chaining."""
    if _SCOPE is not None:
        _SCOPE.frames.append(df)
    return df


def source(path: str) -> None:
    """Record a parquet path the build in progress reads (no-op outside
    one)."""
    if _SCOPE is not None:
        _SCOPE.sources.setdefault(path, None)


def _context():
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else (sc.applicationId, sc.startTime)


def fingerprint(path: str) -> str:
    """Content fingerprint of a parquet path, with no Spark job: the
    footer fingerprint (``ann_store.source_fingerprint`` — rows, bytes
    and column statistics) plus each data file's mtime.  The footers
    alone cannot tell a rewrite that keeps size and statistics, such as
    a row permutation of an incompressible float column."""
    import os

    from kats_spark.sources.ann_store import source_fingerprint
    from kats_spark.sources.load import _data_files

    mtimes = ",".join(str(os.stat(f).st_mtime_ns) for f in _data_files(path))
    return f"{source_fingerprint(path)}:{mtimes}"


def _fingerprints(paths) -> dict:
    return {p: fingerprint(p) for p in paths}


def _release(key, live) -> None:
    from pyspark import Broadcast

    entry = _ENTRIES.pop(key)
    if key[0] != live:  # the context that made it is gone
        return
    for f in entry.frames:
        f.unpersist()
    value = entry.value if isinstance(entry.value, tuple) else (entry.value,)
    for v in value:
        if isinstance(v, Broadcast):
            v.destroy()


def memo(kind: str, params: tuple, build):
    """``build()`` once per (live context, kind, params) and content of
    the sources the build reads; later calls return the same object."""
    global _SCOPE
    live = _context()
    key = (live, kind, params)
    counts = _STATS.setdefault(kind, {"hits": 0, "builds": 0})
    entry = _ENTRIES.get(key)
    if entry is not None and _fingerprints(entry.sources) == entry.sources:
        counts["hits"] += 1
        for f in entry.frames:
            f.persist()
    else:
        if entry is not None:
            _release(key, live)
        entry, outer = _Entry(), _SCOPE
        _SCOPE = entry
        try:
            entry.value = build()
        finally:
            _SCOPE = outer
        entry.sources = _fingerprints(entry.sources)
        counts["builds"] += 1
        _ENTRIES[key] = entry
        while len(_ENTRIES) > MAX_ENTRIES:
            _release(next(iter(_ENTRIES)), live)
    for f in entry.frames:
        register(f)
    for p in entry.sources:
        source(p)
    return entry.value


def prepared(fn):
    """Decorator: memoize a pure-plan (spark, sf_dir) -> DataFrame query
    (eligibility in the module doc).  ``__wrapped_query__`` is the
    undecorated build, for memo-hit == fresh comparisons."""

    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        return memo(fn.__name__, (sf_dir,), lambda: fn(spark, sf_dir))

    wrapper.__wrapped_query__ = fn
    return wrapper


def clear() -> None:
    """Drop every entry, releasing what it holds, and zero the stats."""
    live = _context()
    while _ENTRIES:
        _release(next(iter(_ENTRIES)), live)
    _STATS.clear()


def stats() -> dict:
    """kind -> {"hits": n, "builds": n} since the last :func:`clear`."""
    return {k: dict(v) for k, v in _STATS.items()}
