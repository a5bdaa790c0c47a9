"""Every declared query must match its DuckDB oracle exactly — the local
mirror of the driver's t2 correctness gate."""

import pytest

import __spark_entry__ as entrymod
from kats_spark.plans.harness import compare, duck_run

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(spark, sf_dir, name):
    q = _QUERIES[name]
    got = q(spark, sf_dir)
    exp = duck_run(_ORACLES[name], sf_dir)
    ok, msg = compare(got, exp)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() > 0, f"{name}: rows-only query returned an empty result"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


_PREPARED = sorted(
    n for n, fn in _QUERIES.items() if hasattr(fn, "__wrapped_query__")
)


@pytest.mark.parametrize("name", _PREPARED)
def test_prepared_memo_hit_equals_fresh(spark, sf_dir, name):
    """Prepared-statement queries (kats_spark/cache.py): after an external
    clearCache (the bench harness does this between reps), the memoized
    plan must produce the same rows as a freshly-constructed one — the
    memo may only skip CONSTRUCTION, never computation."""
    fn = _QUERIES[name]
    first = fn(spark, sf_dir)  # populate the memo
    spark.catalog.clearCache()
    memo_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
    fresh_rows = sorted(
        map(tuple, fn.__wrapped_query__(spark, sf_dir).collect())
    )
    assert memo_rows == fresh_rows
