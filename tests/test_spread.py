"""Focused tests for the r13 `spread` input fan-out (operators/skew.py).

The optimization repartitions narrow doc projections before per-row-heavy
stage-1 work (tokenize/hash/score) when the source scan has fewer splits
than cores.  These tests pin (1) the gate semantics, (2) result
invariance under the repartition, and (3) the plan shape claim — the
id-hash exchange added by `spread` REPLACES the post-explode exchange the
id-keyed window needed, so the total exchange count does not grow.
"""

import pytest
from pyspark.sql import functions as F

from kats_spark.operators import dedup, text
from kats_spark.operators.skew import spread


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"doc {i} " + " ".join(f"tok{j % 17} word{(i * j) % 29}" for j in range(40)))
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _require_fan_out(spark):
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip(
            "needs defaultParallelism >= 2: skew.spread is a 'No-op when the "
            "input already has enough splits', and one split is enough at 1"
        )


def test_spread_noop_when_enough_splits(spark, docs):
    n = spark.sparkContext.defaultParallelism
    wide = docs.repartition(n + 2)
    assert spread(wide, "doc_id") is wide  # gate: already parallel -> untouched


def test_spread_fans_out_single_split(spark, docs):
    one = docs.coalesce(1)
    out = spread(one, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_shingle_rows_invariant_under_spread(spark, docs):
    one = docs.coalesce(1)
    got = sorted(dedup.shingle_rows(one).collect())
    n = spark.sparkContext.defaultParallelism
    exp = sorted(dedup.shingle_rows(docs.repartition(n + 2)).collect())
    assert got == exp


def test_simhash_portable_invariant_under_spread(spark, docs):
    one = docs.coalesce(1)
    got = sorted(dedup.simhash_portable(one, bits=16).collect())
    exp = sorted(
        dedup.simhash_portable(
            docs.repartition(spark.sparkContext.defaultParallelism + 2), bits=16
        ).collect()
    )
    assert got == exp


def test_score_and_lang_invariant_under_spread(spark, docs):
    one = docs.coalesce(1)
    cols = ["doc_id", "quality_score", "lang_pred", "stop_ratio"]
    got = sorted(text.score_and_lang(one).select(*cols).collect())
    exp = sorted(
        text.score_and_lang(
            docs.repartition(spark.sparkContext.defaultParallelism + 2)
        ).select(*cols).collect()
    )
    assert got == exp


def test_shingle_rows_spread_adds_no_exchange(spark, docs):
    """The id-hash spread satisfies the (id, pos) window's required
    distribution, so the single-split plan still has exactly ONE
    shuffle exchange — it moved BEFORE the explode, it did not stack."""
    _require_fan_out(spark)
    one = docs.coalesce(1)
    plan = dedup.shingle_rows(one)._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_fan_out_false_invariant_and_no_repartition(spark, docs):
    """r14: batch-side builders skip the spread (`fan_out=False`) —
    values identical, and the REPARTITION_BY_NUM exchange is absent
    (the window's ENSURE_REQUIREMENTS exchange may remain)."""
    one = docs.coalesce(1)
    got = sorted(dedup.shingle_string_rows(one, fan_out=False).collect())
    exp = sorted(dedup.shingle_string_rows(one, fan_out=True).collect())
    assert got == exp
    plan = (
        dedup.shingle_string_rows(one, fan_out=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "REPARTITION_BY_NUM" not in plan


def test_incremental_pairs_batch_side_not_spread(spark, docs):
    """The incremental operators pass fan_out=False for the arriving
    batch only: exactly the corpus side's spread repartition remains."""
    _require_fan_out(spark)
    batch = docs.filter(F.col("doc_id") % 7 == 0).coalesce(1)
    out = dedup.incremental_neardup_pairs(batch, docs.coalesce(1))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("REPARTITION_BY_NUM") == 1
