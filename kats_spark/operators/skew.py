"""Skew mitigation utilities.

Three layers of defense at 100 TB, in preference order (SCALE.md):

1. AQE (`spark.sql.adaptive.skewJoin.enabled`, on in `session.py`):
   runtime-splits oversized shuffle-join partitions — zero code, first
   resort for moderately skewed equi-joins.
2. Window tiling (`functions/rolling.py` `segmented_score`): one giant
   SERIES (a single window partition has no AQE remedy) is cut into
   bounded tiles with carry rows.
3. Explicit salting (this module): when one JOIN key dominates so hard
   that even AQE's split partitions stay hot (a web-scale dedup bucket,
   a null-ish default key), shard the hot side's key space
   deterministically and replicate the small side across shards.

The salt here is DETERMINISTIC (hash of the fact row's content, not
``rand()``): results are reproducible, plans replayable, and retried
tasks produce identical output — a correctness requirement under
speculative execution, not a nicety.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df``'s optimized plan — a
    zero-job, zero-RDD-conversion stand-in for the ``count()`` /
    ``rdd.getNumPartitions()`` probes that scale gates used to run.
    For scans it is the file-size total; good enough for any gate that
    only picks a PHYSICAL plan (salting, caching, split fan-out) —
    every gated path pair is value-identical by construction."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


# estimates at or above this are the defaultSizeInBytes sentinel a
# non-file source (createDataFrame / LogicalRDD — test fixtures, tiny
# driver-built frames) reports when Catalyst has no real statistics
_UNKNOWN_STATS = 1 << 60

# gates that used to test ``df.count() >= 1_000_000`` documents now test
# the byte estimate against this threshold (~1M docs at the corpus'
# ~1 KB/doc); an over-estimate flips the big-corpus plan on a little
# early, which is never a correctness event (both plans are
# bit-identical, asserted in tests)
BIG_INPUT_BYTES = 1 << 30


def input_is_big(df: DataFrame, threshold: int = BIG_INPUT_BYTES) -> bool:
    est = plan_size_bytes(df)
    if est >= _UNKNOWN_STATS:
        # unknown stats = in-memory source; every 100 TB input is
        # file-backed with real statistics, so unknown means SMALL
        return False
    return est >= threshold


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_cols: list[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `fact ⋈ dim` on ``key`` with the fact side's hot keys
    sharded across ``buckets`` sub-keys.

    fact rows get ``salt = hash(salt_cols) % buckets``; the dim side is
    replicated ``buckets``× (explode over the salt range) so every
    (key, salt) shard finds its dim row.  The shuffle then distributes a
    hot key over ``buckets`` reducers instead of one.  Dim replication
    costs |dim| × buckets rows — use for genuinely small dims (they would
    broadcast anyway if tiny; salting targets the middle ground where the
    dim is too big to broadcast but the fact key histogram is spiked).

    Result is row-identical to ``fact.join(dim, key, how)`` (asserted in
    tests/test_batch3.py) for ``inner`` and ``left`` joins.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, found {how!r}")
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(buckets))
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = salted_fact.join(salted_dim, [key, "__salt"], how)
    return out.drop("__salt")


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Scale-adaptive input fan-out for per-row-HEAVY stage-1 work.

    When the upstream scan has fewer partitions than the session's core
    count (one sub-128MB parquet file; an AQE-coalesced join output),
    everything before the first exchange — tokenize/regex/hash/decode —
    serializes on those few tasks while the rest of the cluster idles.
    Repartition to ``defaultParallelism`` first: hashed on ``key`` when
    given, so downstream windows/aggregations keyed the same way reuse
    THIS exchange instead of adding their own (the exchange then carries
    the narrow pre-explode rows — fewer bytes than the post-explode
    shuffle it replaces); round-robin otherwise.  No-op when the input
    already has enough splits (any real corpus does), so cluster-scale
    plans are unchanged — the repartition only fires where the
    single-split bottleneck exists.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    # estimated split count, not ``df.rdd.getNumPartitions()``: the RDD
    # probe converts the plan to an RDD at call time (physical-planning
    # cost paid per query construction), while the byte estimate is
    # free.  Either way the decision only inserts/skips a repartition —
    # values are identical.
    est = plan_size_bytes(df)
    if est >= _UNKNOWN_STATS:
        # non-file source (test fixture / driver-built frame): no file
        # stats, fall back to the exact partition probe
        if df.rdd.getNumPartitions() >= n:
            return df
    else:
        raw = (
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728b"
            )
            .strip()
            .lower()
        )
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                       ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
            if raw.endswith(suf):
                raw, mult = raw[: -len(suf)], m
                break
        max_split = max(1, int(raw) * mult)
        if max(1, -(-est // max_split)) >= n:
            return df
    return df.repartition(n, F.col(key)) if key else df.repartition(n)
