"""The session cache (kats_spark/cache.py): a hit returns what a fresh
build returns, a rewrite under the same path rebuilds, and eviction
releases what an entry holds."""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kats_spark import cache

# row -> (table rewritten under its own path, column shifted by one row)
REWRITES = {
    "incremental_neardup_stored": ("documents.parquet", "text"),  # @prepared
    "allpairs_topk": ("embeddings.parquet", "embedding"),  # index entry
    "ml_ar_insample": ("events.parquet", "value"),  # model entry
}


def _rotate(path, col):
    """Rewrite ``path`` in place with ``col`` shifted up by one row."""
    t = pq.read_table(path)
    i = t.schema.get_field_index(col)
    vals = t.column(col).to_pylist()
    rotated = pa.array(vals[1:] + vals[:1], t.schema.field(i).type)
    pq.write_table(t.set_column(i, t.schema.field(i), rotated), path)


@pytest.mark.parametrize("name", sorted(REWRITES))
def test_same_path_rewrite_gives_fresh_answers(spark, sf_dir, tmp_path, name):
    """After a cached call, rewriting one input under the same path must
    give the rows a fresh build gives (and the oracle's, where the row
    has one), not the cached entry's."""
    import __spark_entry__ as entry
    from kats_spark.plans.harness import compare, duck_run

    table, col = REWRITES[name]
    sf = str(tmp_path / f"rewrite_{name}")
    shutil.copytree(sf_dir, sf)
    query = entry.queries()[name]
    query(spark, sf).collect()  # fills the cache
    _rotate(f"{sf}/{table}", col)
    spark.catalog.clearCache()  # between calls, as the bench harness does
    after = query(spark, sf)
    oracle = entry.oracle_sql().get(name)
    if oracle is not None:
        ok, msg = compare(after, duck_run(oracle, sf))
        assert ok, msg
    rows = sorted(map(tuple, after.collect()))
    cache.clear()
    assert rows == sorted(map(tuple, query(spark, sf).collect()))


def test_eviction_releases_frames_and_broadcasts(spark, monkeypatch):
    """Past MAX_ENTRIES the oldest entry goes: its registered frames are
    unpersisted and the broadcasts in its value destroyed."""
    monkeypatch.setattr(cache, "MAX_ENTRIES", 2)
    cache.clear()
    held = {}

    def build(i):
        df = cache.register(spark.range(i + 1).persist())
        held[i] = (df, spark.sparkContext.broadcast(i))
        return held[i]

    for i in range(3):
        cache.memo("evict_test", (i,), lambda i=i: build(i))
    old_df, old_b = held[0]
    assert not old_df.storageLevel.useMemory
    assert not old_b._jbroadcast.isValid()
    assert held[2][0].storageLevel.useMemory and held[2][1]._jbroadcast.isValid()
    assert cache.stats()["evict_test"] == {"hits": 0, "builds": 3}
    cache.clear()
    assert not held[2][0].storageLevel.useMemory


def test_nested_build_hands_sources_and_frames_to_the_enclosing_entry(
    spark, tmp_path
):
    """An entry built or hit inside another build passes its sources and
    frames on, so a rewrite of the inner source rebuilds the outer entry
    and an outer hit re-registers the inner frame."""
    import pandas as pd

    from kats_spark.sources.load import read_parquet

    src = str(tmp_path / "t.parquet")
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(src, index=False)
    cache.clear()

    def inner():
        return cache.register(read_parquet(spark, src).persist())

    def outer():
        return cache.memo("nest_inner", (src,), inner).selectExpr("sum(x) AS s")

    assert cache.memo("nest_outer", (), outer).first().s == 6
    frame = cache.memo("nest_inner", (src,), inner)
    spark.catalog.clearCache()
    assert cache.memo("nest_outer", (), outer).first().s == 6
    assert frame.storageLevel.useMemory  # the outer hit re-registered it
    pd.DataFrame({"x": [10, 20, 30, 40]}).to_parquet(src, index=False)
    assert cache.memo("nest_outer", (), outer).first().s == 100
    assert cache.stats() == {
        "nest_inner": {"hits": 1, "builds": 2},
        "nest_outer": {"hits": 1, "builds": 2},
    }
    cache.clear()
