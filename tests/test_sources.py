"""Sources: loaders, time parsing, reshapers, registries, state codec
(SURVEY.md §2.1)."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kats_spark.sources import load as load_mod
from kats_spark.sources.registry import Registry, builtin_detectors, builtin_forecasters
from kats_spark.sources.state import StateCodec


def test_parse_time_unix_units(spark):
    df = spark.createDataFrame([(1704067200, 1704067200000)], "s long, ms long")
    out = df.select(
        load_mod.parse_time(F.col("s"), use_unix_time=True, unix_time_units="s").alias("a"),
        load_mod.parse_time(F.col("ms"), use_unix_time=True, unix_time_units="ms").alias("b"),
    ).collect()[0]
    assert out.a == out.b
    assert out.a.year == 2024 and out.a.month == 1 and out.a.day == 1


def test_parse_time_format_and_tz(spark):
    df = spark.createDataFrame([("2024-06-01 12:00:00",)], "t string")
    utc = df.select(load_mod.parse_time(F.col("t")).alias("x")).collect()[0].x
    ny = (
        df.select(load_mod.parse_time(F.col("t"), tz="America/New_York").alias("x"))
        .collect()[0]
        .x
    )
    # noon New-York summer time = 16:00 UTC
    assert (ny - utc).total_seconds() == 4 * 3600


def test_load_csv_wide_melt(spark, tmp_path):
    p = tmp_path / "ts.csv"
    pd.DataFrame(
        {
            "time": ["2024-01-01", "2024-01-02"],
            "a": [1.0, 2.0],
            "b": [3.0, 4.0],
        }
    ).to_csv(p, index=False)
    out = load_mod.load_csv(spark, str(p)).toPandas().sort_values(["series_id", "time"])
    assert out.series_id.tolist() == ["a", "a", "b", "b"]
    assert out.value.tolist() == [1.0, 2.0, 3.0, 4.0]


def test_wide_roundtrip(spark):
    from kats_spark.tsframe import from_wide

    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=3, freq="D"),
            "x": [1.0, 2.0, 3.0],
            "y": [4.0, 5.0, 6.0],
        }
    )
    long = from_wide(spark.createDataFrame(pdf), "time", ["x", "y"])
    wide = load_mod.to_wide(long, series_ids=["x", "y"]).toPandas().sort_values("time")
    assert wide.x.tolist() == [1.0, 2.0, 3.0]
    assert wide.y.tolist() == [4.0, 5.0, 6.0]


def test_demo_series_shape(spark):
    out = load_mod.demo_series(spark, n=24).toPandas()
    assert len(out) == 24
    # rising trend with multiplicative 12-period seasonality
    assert out.value.iloc[-1] > out.value.iloc[0]
    assert out.value.min() > 0


def test_registry_lookup_and_error():
    r = Registry("thing")

    @r.register("f")
    def f():
        return 1

    assert r.get("f")() == 1
    with pytest.raises(KeyError, match="No thing registered under 'g'"):
        r.get("g")


def test_builtin_registries_resolve(spark):
    d = builtin_detectors()
    assert "CUSUMDetector" in d.names() and callable(d.get("StaticThresholdModel"))
    fz = builtin_forecasters()
    assert "linear" in fz.names() and "arima" in fz.names()
    # a registry entry is directly usable
    pdf = pd.DataFrame(
        {
            "series_id": "s",
            "time": pd.date_range("2024-01-01", periods=50, freq="h"),
            "value": np.arange(50.0),
        }
    )
    fc = fz.get("linear")(spark.createDataFrame(pdf), steps=5, freq_seconds=3600)
    assert fc.count() == 5


def test_state_codec_upgrade_contract():
    v1 = StateCodec(1, {"n": 0, "mean": 0.0})
    blob = v1.dumps({"version": 1, "n": 5, "mean": 2.5, "future_key": "x"})
    # v2 adds a field with a default; v1 state must load (detector.py:157-163)
    v2 = StateCodec(2, {"n": 0, "mean": 0.0, "m2": 0.0})
    state = v2.loads(blob)
    assert state["n"] == 5 and state["mean"] == 2.5
    assert state["m2"] == 0.0  # defaulted
    assert state["future_key"] == "x"  # unknown key preserved
    assert state["version"] == 1  # caller can branch on stored version
    assert v2.loads(None)["version"] == 2


def test_bucketed_store_kills_per_series_exchanges(spark, sf_dir, tmp_path):
    """SURVEY §4 scale layout: bucketBy(series_id) + sortBy(series_id, time)
    makes every per-series window/agg/join exchange-free, with results
    identical to the shuffled plan."""
    from pyspark.sql import Window, functions as F

    from kats_spark.sources import bucketing

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("series_id"), "ts", "value"
    )
    bucketing.write_bucketed(
        ev, "ev_bucketed_test", str(tmp_path / "ev_bucketed"), time_col="ts", buckets=8
    )
    try:
        t = bucketing.read_bucketed(spark, "ev_bucketed_test")
        w = Window.partitionBy("series_id").orderBy("ts")

        windowed = t.withColumn("rn", F.row_number().over(w))
        assert bucketing.exchange_count(windowed) == 0
        agg = t.groupBy("series_id").agg(F.avg("value").alias("m"))
        assert bucketing.exchange_count(agg) == 0
        joined = t.join(agg, "series_id")
        assert bucketing.exchange_count(joined) == 0

        # the shuffled plan needs an exchange for the same window
        assert bucketing.exchange_count(ev.withColumn("rn", F.row_number().over(w))) > 0

        # identical results to the unbucketed path
        got = agg.orderBy("series_id").collect()
        exp = ev.groupBy("series_id").agg(F.avg("value").alias("m")).orderBy("series_id").collect()
        assert [(r.series_id, round(r.m, 9)) for r in got] == [
            (r.series_id, round(r.m, 9)) for r in exp
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_test")


def test_coverage_references_resolve():
    """COVERAGE.md's 'Exercised by' crosswalk stays honest: every
    backticked name that looks like a declared query exists in queries(),
    and every referenced test node id exists in the test tree."""
    import os
    import re

    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    cov = open(os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")).read()
    # query-name mentions: backticked snake_case tokens in the Exercised-by
    # column that are not file paths / function refs
    refs = set()
    for row in cov.splitlines():
        cells = [c.strip() for c in row.split("|")]
        if len(cells) < 4:
            continue
        for tok in re.findall(r"`([a-z0-9_]+)`", cells[3]):
            refs.add(tok)
    non_queries = {"tests"}  # prose words that match the token pattern
    unknown = sorted(r for r in refs if r not in qs and r not in non_queries)
    assert not unknown, f"COVERAGE references unknown queries: {unknown}"
    # test-file references must exist
    for path in re.findall(r"`(test_[a-z0-9_]+\.py)::", cov):
        assert os.path.exists(
            os.path.join(os.path.dirname(__file__), path)
        ), f"COVERAGE references missing test file {path}"


def test_registry_covers_model_zoo():
    """Every model family in SURVEY §2.9 resolves by its reference module
    name — the reference's get-by-name registry surface is complete."""
    fz = builtin_forecasters()
    for name in [
        "linear", "quadratic", "arima", "sarima", "theta", "ses", "holt",
        "damped", "holtwinters", "simple_heuristic", "harmonic", "stlf",
        "prophet", "neuralprophet", "lstm", "gru", "var", "bayesian_var",
        "std_global", "ar",
    ]:
        assert callable(fz.get(name)), name


def test_metric_metadata_covers_registry():
    """Every registered metric has metadata (kats/metrics/metadata.py
    surface): a kind, an improvement direction, and bounds that contain
    the metric's actual value on a smoke evaluation."""
    from kats_spark.functions.metrics import (
        all_metrics, metric_metadata,
    )

    for name in all_metrics():
        md = metric_metadata(name)
        assert md.kind in ("score", "error", "none")
        assert md.direction in ("positive", "negative", "none")
        assert md.lower_bound <= md.upper_bound
    import pytest

    with pytest.raises(KeyError, match="No metadata"):
        metric_metadata("bogus")


def test_ivf_store_roundtrip_prunes_partitions(spark, sf_dir):
    """save_ivf/search_stored: stored-index results equal the in-memory
    IVF search, and the lists scan carries a cell_id PartitionFilter —
    unprobed cells are pruned at file-listing time, the I/O contract of
    a stored inverted index."""
    import shutil
    import tempfile

    from kats_spark.operators import ivf
    from kats_spark.sources.ann_store import save_ivf, search_stored

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    indexed, model = ivf.build_index(emb, n_cells=8, seed=7)
    queries = emb.limit(3).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    expected = (
        ivf.search(indexed, model, queries, k=5, n_probe=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    tmp = tempfile.mkdtemp()
    try:
        save_ivf(indexed, model, tmp)
        out_df = search_stored(spark, tmp, queries, k=5, n_probe=2)
        got = (
            out_df.toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert list(got.query_id) == list(expected.query_id)
        assert list(got.doc_id) == list(expected.doc_id)
        assert (got.cosine_sim - expected.cosine_sim).abs().max() < 1e-9
        # the pruning contract: the lists scan plans with a cell_id
        # partition filter (not a post-scan Filter over all files)
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        filters = [
            seg.split("]")[0]
            for seg in plan.split("PartitionFilters: [")[1:]
        ]
        assert any(
            "cell_id" in f and " IN " in f for f in filters
        ), f"no cell_id partition filter in: {filters}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_band_index_store_matches_direct_and_skips_corpus_shuffle(spark, sf_dir):
    """save_band_index/incremental_neardup_stored: identical candidate
    pairs to the direct two-sided computation, with the corpus side
    joining OUT OF THE BUCKETED SCAN — fewer shuffle exchanges than the
    direct plan (the batch still shuffles; the corpus must not)."""
    import shutil
    import tempfile

    from kats_spark.operators.dedup import incremental_neardup_pairs
    from kats_spark.sources.ann_store import (
        incremental_neardup_stored,
        save_band_index,
    )
    from kats_spark.sources.bucketing import exchange_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    batch = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, F.lit(1), F.ceil(F.size(toks) * 0.8).cast("int")), " "
        ).alias("text"),
    )
    expected = (
        incremental_neardup_pairs(batch, docs)
        .toPandas()
        .sort_values(["new_id", "corpus_id"])
        .reset_index(drop=True)
    )
    tmp = tempfile.mkdtemp()
    table = "corpus_band_index_test"
    try:
        save_band_index(docs, table, f"{tmp}/bands", buckets=8)
        out_df = incremental_neardup_stored(spark, table, batch)
        got = (
            out_df.toPandas()
            .sort_values(["new_id", "corpus_id"])
            .reset_index(drop=True)
        )
        assert got.equals(expected)
        # shuffle accounting under the AT-SCALE join regime: with a big
        # batch AQE can't broadcast, the join is sort-merge, and the
        # stored plan must shuffle ONLY the batch side — the bucketed
        # corpus scan already satisfies the join distribution.  (At
        # bench size AQE broadcasts the batch and both plans look alike,
        # so the regime is forced.)
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            stored_x = exchange_count(incremental_neardup_stored(spark, table, batch))
            direct_x = exchange_count(incremental_neardup_pairs(batch, docs))
            assert stored_x < direct_x, (stored_x, direct_x)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(tmp, ignore_errors=True)


def test_gram_index_store_matches_direct_and_skips_corpus_shuffle(spark, sf_dir):
    """save_gram_index/incremental_excise_stored: identical cleaned
    output to the direct two-sided excise_vs_corpus, with the corpus
    side joining OUT OF THE BUCKETED SCAN — fewer shuffle exchanges
    than the direct plan (the batch still shuffles; the stored corpus
    keys must not)."""
    import shutil
    import tempfile

    from kats_spark.operators.dedup import excise_vs_corpus
    from kats_spark.sources.ann_store import (
        incremental_excise_stored,
        save_gram_index,
    )
    from kats_spark.sources.bucketing import exchange_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    batch = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, F.lit(1), F.ceil(F.size(toks) * 0.8).cast("int")), " "
        ).alias("text"),
    )
    expected = (
        excise_vs_corpus(batch, docs, span_n=5)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert expected.n_removed.sum() > 0  # re-crawled prefixes excise
    tmp = tempfile.mkdtemp()
    table = "corpus_gram_index_test"
    try:
        save_gram_index(docs, table, f"{tmp}/grams", span_n=5, buckets=8)
        got = (
            incremental_excise_stored(spark, table, batch, span_n=5)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert got.equals(expected)
        # shuffle accounting under the AT-SCALE join regime (broadcast
        # forced off — at bench size AQE broadcasts the keys and both
        # plans look alike): the stored plan reads the corpus keys out
        # of the bucketed scan, the direct plan recomputes + shuffles
        # them, so the stored exchange count must be strictly lower.
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            stored_x = exchange_count(
                incremental_excise_stored(spark, table, batch, span_n=5)
            )
            direct_x = exchange_count(excise_vs_corpus(batch, docs, span_n=5))
            assert stored_x < direct_x, (stored_x, direct_x)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(tmp, ignore_errors=True)


def test_parse_time_dst_ambiguous_policies(spark):
    """VERDICT r07 #6 (kats/consts.py:197-258 tz_ambiguous): the
    fall-back overlap fixture — America/New_York 2024-11-03 01:30 occurs
    twice (EDT then EST).  'earliest' takes the DST offset (05:30 UTC),
    'latest' the standard offset (06:30 UTC), 'NaT' nulls it, 'raise'
    errors; an unambiguous time is untouched by every policy."""
    import pytest

    df = spark.createDataFrame(
        [("2024-11-03 01:30:00",), ("2024-11-03 12:00:00",)], ["t"]
    )

    def got(**kw):
        rows = df.select(
            load_mod.parse_time(F.col("t"), tz="America/New_York", **kw).alias("x")
        ).collect()
        return [None if r.x is None else r.x.strftime("%H:%M") for r in rows]

    # session tz is UTC: EDT 01:30 -> 05:30Z, EST 01:30 -> 06:30Z, noon EST -> 17:00Z
    assert got() == ["05:30", "17:00"]
    assert got(tz_ambiguous="earliest") == ["05:30", "17:00"]
    assert got(tz_ambiguous="latest") == ["06:30", "17:00"]
    assert got(tz_ambiguous="NaT") == [None, "17:00"]
    with pytest.raises(Exception, match="ambiguous local time"):
        got(tz_ambiguous="raise")
    with pytest.raises(ValueError, match="positional"):
        got(tz_ambiguous="infer")


def test_parse_time_dst_nonexistent_policies(spark):
    """tz_nonexistent on the spring-forward gap — America/New_York
    2024-03-10 02:30 does not exist.  shift_forward (JVM default) moves
    it later by the gap (03:30 EDT = 07:30Z), shift_backward earlier by
    the gap (01:30 EST = 06:30Z), NaT nulls, raise errors."""
    import pytest

    df = spark.createDataFrame(
        [("2024-03-10 02:30:00",), ("2024-03-10 12:00:00",)], ["t"]
    )

    def got(**kw):
        rows = df.select(
            load_mod.parse_time(F.col("t"), tz="America/New_York", **kw).alias("x")
        ).collect()
        return [None if r.x is None else r.x.strftime("%H:%M") for r in rows]

    assert got() == ["07:30", "16:00"]  # noon EDT -> 16:00Z
    assert got(tz_nonexistent="shift_backward") == ["06:30", "16:00"]
    assert got(tz_nonexistent="NaT") == [None, "16:00"]
    with pytest.raises(Exception, match="nonexistent local time"):
        got(tz_nonexistent="raise")


def test_localize_infer_orders_repeated_clock_times(spark):
    """pandas tz_localize(ambiguous='infer') mirror: of two rows with
    the repeated 2024-11-03 01:30 clock time, the first by order takes
    the DST offset and the second the standard offset."""
    import pytest

    pdf = pd.DataFrame(
        {
            "series_id": ["s"] * 4,
            "rn": [0, 1, 2, 3],
            "time": pd.to_datetime(
                [
                    "2024-11-03 01:00:00",
                    "2024-11-03 01:30:00",
                    "2024-11-03 01:30:00",
                    "2024-11-03 02:00:00",
                ]
            ),
        }
    )
    out = (
        load_mod.localize_infer(
            spark.createDataFrame(pdf),
            "time",
            "America/New_York",
            order_col="rn",
            by=["series_id"],
        )
        .orderBy("rn")
        .collect()
    )
    assert [r.time.strftime("%H:%M") for r in out] == [
        "05:00",  # 01:00 EDT
        "05:30",  # first 01:30 -> EDT
        "06:30",  # second 01:30 -> EST
        "07:00",  # 02:00 EST
    ]
    with pytest.raises(ValueError, match="order_col"):
        load_mod.localize_infer(spark.createDataFrame(pdf), "time", "UTC")


def test_simhash_index_store_matches_direct_and_skips_corpus_shuffle(spark, sf_dir):
    """save_simhash_index/incremental_simhash_stored (r08, completing
    the stored-index trio): identical verified pairs to the direct
    two-sided incremental_simhash_pairs, with the corpus side joining
    OUT OF THE BUCKETED SCAN — fewer shuffle exchanges than the direct
    plan under the forced sort-merge regime."""
    import shutil
    import tempfile

    from kats_spark.operators.dedup import incremental_simhash_pairs
    from kats_spark.sources.ann_store import (
        incremental_simhash_stored,
        save_simhash_index,
    )
    from kats_spark.sources.bucketing import exchange_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    batch = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, F.lit(1), F.ceil(F.size(toks) * 0.8).cast("int")), " "
        ).alias("text"),
    )
    kw = dict(max_hamming=1, bands=2, bits=24)
    expected = (
        incremental_simhash_pairs(batch, docs, **kw)
        .toPandas()
        .sort_values(["new_id", "corpus_id"])
        .reset_index(drop=True)
    )
    assert len(expected) > 0  # the 80%-prefix batch lands near its source
    tmp = tempfile.mkdtemp()
    table = "corpus_simhash_index_test"
    try:
        save_simhash_index(docs, table, f"{tmp}/chunks", bits=24, bands=2, buckets=8)
        got = (
            incremental_simhash_stored(spark, table, batch, **kw)
            .toPandas()
            .sort_values(["new_id", "corpus_id"])
            .reset_index(drop=True)
        )
        assert got.equals(expected)
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            stored_x = exchange_count(
                incremental_simhash_stored(spark, table, batch, **kw)
            )
            direct_x = exchange_count(incremental_simhash_pairs(batch, docs, **kw))
            assert stored_x < direct_x, (stored_x, direct_x)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(tmp, ignore_errors=True)


def test_register_bucketed_table_matches_rebuild_and_one_file_per_bucket(spark, sf_dir):
    """r14: (a) the bucketed writers emit exactly ONE data file per
    bucket (the r13 spread had ballooned the stored indexes to
    tasks x buckets tiny files); (b) re-REGISTERING the existing
    directory in a fresh catalog (register_bucketed_table) yields the
    identical rows and a bucketed scan, without re-running the build."""
    import os
    import shutil
    import tempfile

    from kats_spark.sources.ann_store import (
        register_bucketed_table,
        save_band_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp()
    table = "band_index_register_test"
    table2 = "band_index_register_test_reg"
    try:
        save_band_index(docs, table, f"{tmp}/bands", buckets=8)
        data_files = [
            f for f in os.listdir(f"{tmp}/bands")
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        assert len(data_files) == 8, data_files  # one file per bucket
        expected = sorted(map(tuple, spark.table(table).collect()))
        register_bucketed_table(
            spark, table2, f"{tmp}/bands", ["band_id", "key"], buckets=8
        )
        got = sorted(map(tuple, spark.table(table2).collect()))
        assert got == expected
        # the registered table carries the bucket spec: a groupBy on the
        # bucket columns needs NO exchange (a plain scan prints
        # "disabled by query planner" — only a required distribution
        # activates the bucketed read)
        from kats_spark.sources.bucketing import exchange_count

        agg = spark.table(table2).groupBy("band_id", "key").count()
        assert exchange_count(agg) == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table2}")
        shutil.rmtree(tmp, ignore_errors=True)


def _inferred_equals_loaded(spark, path):
    return load_mod.read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_read_parquet_schema_matches_inference_on_testdata(spark, sf_dir):
    import glob

    paths = sorted(glob.glob(f"{sf_dir}/*.parquet"))
    assert paths
    assert [p for p in paths if not _inferred_equals_loaded(spark, p)] == []


def test_read_parquet_nanos_as_long(spark, tmp_path):
    """A pyarrow ``timestamp[ns]`` column is ``bigint`` under nanosAsLong,
    as Spark infers it (the events.parquet layout ``load_events`` reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_500, 2_500], pa.timestamp("ns")), "v": [1.0, 2.0]}), p
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        assert _inferred_equals_loaded(spark, p)
        assert [r.ts for r in load_mod.read_parquet(spark, p).collect()] == [1_500, 2_500]
    finally:
        spark.conf.set(key, before)


def test_read_parquet_pyarrow_types_match_inference(spark, tmp_path):
    """Columns whose arrow type Spark's parquet reader sees differently:
    unsigned ints widen, a duration is its int64 storage, INT96 is an
    instant; dictionary, zoned and naive timestamps, lists, structs and
    decimals map as arrow does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({
        "u8": pa.array([1, 2], pa.uint8()),
        "u16": pa.array([1, 2], pa.uint16()),
        "u32": pa.array([1, 2], pa.uint32()),
        "u64": pa.array([1, 2], pa.uint64()),
        "d": pa.array([1, 2], pa.duration("s")),
        "c": pa.array(["a", "b"]).dictionary_encode(),
        "tz": pa.array([1, 2], pa.timestamp("ms", tz="America/New_York")),
        "ntz": pa.array([1, 2], pa.timestamp("us")),
        "l": pa.array([[1.0], [2.0]]),
        "s": pa.array([{"a": 1}, {"a": 2}]),
        "dec": pa.array([1, 2], pa.decimal128(10, 2)),
    })
    p = str(tmp_path / "types.parquet")
    pq.write_table(t, p)
    assert _inferred_equals_loaded(spark, p)
    p96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000, 2_000], pa.timestamp("ns"))}),
        p96,
        use_deprecated_int96_timestamps=True,
    )
    assert _inferred_equals_loaded(spark, p96)


def test_read_parquet_spark_dir_with_sidecars(spark, tmp_path):
    """``_SUCCESS`` / ``_SOURCE_FINGERPRINT`` / ``.crc`` files are skipped,
    as Spark skips them."""
    p = str(tmp_path / "flat")
    spark.range(20).selectExpr("id", "cast(id as double) v").write.parquet(p)
    (tmp_path / "flat" / "_SOURCE_FINGERPRINT").write_text("0:0:x")
    assert (tmp_path / "flat" / "_SUCCESS").exists()
    assert _inferred_equals_loaded(spark, p)
    assert load_mod.read_parquet(spark, p).count() == 20


def test_read_parquet_partitioned_dir(spark, tmp_path):
    """One data-file footer is enough: Spark appends the ``cell_id``
    partition column from the directory names itself."""
    p = str(tmp_path / "lists")
    spark.range(30).selectExpr("id", "id % 3 as cell_id", "id * 0.5 as v").write.partitionBy(
        "cell_id"
    ).parquet(p)
    assert _inferred_equals_loaded(spark, p)
    got = sorted(load_mod.read_parquet(spark, p).collect())
    assert got == sorted(spark.read.parquet(p).collect())


def test_read_parquet_starts_no_job(spark, sf_dir, count_jobs):
    with count_jobs() as jobs:
        df = load_mod.read_parquet(spark, f"{sf_dir}/documents.parquet")
    assert jobs == []
    assert "doc_id" in df.columns


def test_read_parquet_rereads_a_rewritten_path(spark, tmp_path):
    """No memo: a file rewritten under the same path with other columns
    is read with its new columns on the next call."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    assert load_mod.read_parquet(spark, p).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [0.5]}), p)
    df = load_mod.read_parquet(spark, p)
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]
