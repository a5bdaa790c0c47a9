"""Physical-plan hygiene guards over representative declared queries.

The scale discipline the repo documents (SCALE.md / PLANS.md) as
executable assertions: no row-at-a-time Python UDFs anywhere
(BatchEvalPython — Arrow-batched FlatMapGroupsInPandas / MapInPandas are
the sanctioned Python paths), and no cartesian product that isn't a
deliberate broadcast of tiny metadata (fold specs, stats rows, candidate
grids).  A regression that sneaks either in changes the 100 TB story,
not just a benchmark number — so it fails the suite, not a code review.
"""

import pathlib

import pytest

SF = "/root/testdata/sf0.001"

# lazy queries only: building the frame must not trigger driver-side
# actions (some query fns legitimately run scalar aggs / fits eagerly)
LAZY_QUERIES = [
    "daily_revenue_by_region",
    "tpch_q1",
    "hourly_rollup",
    "resample_linear",
    "rolling_zscore",
    "rolling_mad",
    "statsig",
    "robust_stat",
    "mk_detect",
    "acf_seasonality",
    "linear_forecast",
    "theta_forecast",
    "holtwinters_forecast",
    "ts_stat_features",
    "tsfeatures_expr",
    "ma_decompose",
    "stl_decompose",
    "outlier_detect",
    "interval_detect",
    "sessionize",
    "exact_dedup",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_neardup",
    "token_stats",
    "text_quality",
    "lang_id",
    "unigram_logppl",
    "repetition_stats",
    "decontaminate",
    "corpus_sample",
    "topk_cosine",
    "lsh_bucket_pairs",
    "kats_ensemble",
    "stlf_forecast",
    "arima_forecast",
    "sarima_forecast",
    "prophet_forecast",
    # round-3 operators
    "lang_id_ngram",
    "multimodal_decode",
    "global_rnn",
    "rnn_forecast",
    "hpt_sobol",
    "bm25_topk",
    "decontaminate_fuzzy",
    "pii_scrub",
    "damped_forecast",
    "reconcile_mint",
    "neural_prophet",
    "detector_select",
    "bigram_logppl",
    "snapshot_diff",
    "zipf_fit",
    "corpus_profile",
    # round-5 operators
    "pack_sequences",
    "chunk_docs",
    "tfidf_topk",
    "split_assign",
    "epoch_upsample",
    "incremental_neardup",
    "source_cap",
    "dup_spans",
    # round-7/8 operators
    "dup_span_excise",
    "incremental_excise",
    "incremental_simhash",
    "ks_drift",
    "bpe_encode",
    "gopher_rules",
    "prophet_detect",
    # round-9 operators
    "tsfeatures_detector",
    "metalearn_metadata",
    "detector_hpt",
    "tsfeatures_full",
    "tsfeatures_wide_expr",
    "vocab_drift",
    "diversity_sample",
    "stl_features_expr",
    "tsfeatures_time",
    "dsir_weights",
    "dsir_sample",
    "source_overlap",
    "quality_buckets",
    "unimax_alloc",
    "bitext_mine",
    "bitext_mine_ann",
    "bitext_mine_stored",
    "quantize_int8",
    "shard_assign",
]


# rows that still start Spark jobs while their frame is built, and why
EAGER_BUILDS = {
    "hpt_sobol": "scores its 12 Sobol candidates with one aggregate "
    ".first() and returns the ranked trial log as literals",
    "global_rnn": "fits its GRU on the driver from a bounded collect of "
    "the hash-ranked window sample",
    "bitext_mine_stored": "collects the probed cell ids to prune the stored "
    "lists by partition, and builds the store on its first call",
}


@pytest.fixture(scope="module")
def built(spark, count_jobs):
    """name -> (executed plan text, Spark jobs the query call started)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in LAZY_QUERIES:
        with count_jobs() as jobs:
            df = qs[name](spark, SF)
        out[name] = (df._jdf.queryExecution().executedPlan().toString(), len(jobs))
    return out


@pytest.fixture(scope="module")
def plans(built):
    return {n: plan for n, (plan, _) in built.items()}


def test_lazy_queries_start_no_job_while_built(built):
    """Building a lazy row's frame starts no Spark job: no schema
    inference, no gate count, no eager action.  EAGER_BUILDS names the
    rows that still do, with the reason."""
    offenders = {n: j for n, (_, j) in built.items() if j and n not in EAGER_BUILDS}
    assert not offenders, offenders


def test_parquet_reads_go_through_the_loader():
    """``spark.read.parquet(path)`` without a schema starts a
    schema-inference job on every call; the package reads parquet only
    through ``sources.load.read_parquet``, which pins the footer schema."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "kats_spark"
    loader = pkg / "sources" / "load.py"
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p != loader
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".read.parquet(" in line
    ]
    assert not offenders, offenders


def test_memos_go_through_the_session_cache():
    """Every memo lives in ``kats_spark/cache.py``: no other module keeps
    a module-level ``*_MEMO`` dict or builds its own (applicationId,
    startTime) context key.  (The pure byte-keyed LUT caches in
    ``operators/jpeg.py`` are not memos of Spark state.)"""
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "kats_spark"
    memo_dict = re.compile(r"^(\w*_MEMO)\s*(:[^=\n]*)?=", re.M)
    ctx_key = re.compile(r"applicationId\W[^;]{0,80}?startTime")
    offenders = [
        f"{p.relative_to(pkg)}: {m.group(0)[:60]!r}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "cache.py"
        for pat in (memo_dict, ctx_key)
        for m in pat.finditer(p.read_text())
    ]
    assert not offenders, offenders


def test_no_row_at_a_time_python_udfs(plans):
    """BatchEvalPython = per-row Python round-trips (the 10-100x slow
    path).  Every Python kernel in this repo must be Arrow-batched."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


def test_no_unbounded_cartesian_products(plans):
    """CartesianProduct without a broadcast is an O(n^2) shuffle bomb.
    The declared queries never need one: candidate generation is always
    an equi-join on buckets/chunks/keys, and the only cross joins are
    broadcast-tiny metadata (which plan as BroadcastNestedLoopJoin)."""
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_parquet_filter_pushdown_reaches_scan(spark):
    """Filters on source columns must reach the parquet scan
    (PushedFilters) — the first thing that breaks if an operator wraps
    the scan in something opaque."""
    import __spark_entry__ as entry

    qs = entry.queries()
    # decontaminate filters doc_id < 20 / >= 20 straight off the scan
    df = qs["decontaminate"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(doc_id)" in plan or "LessThan(doc_id" in plan or "GreaterThanOrEqual(doc_id" in plan


def test_dup_clusters_gate_probe_job_budget(spark, count_jobs):
    """The dup_components size gate is one limit-probe that decides and
    collects (no count() before the collect), and simhash_pairs keeps no
    chunk-row persist (no cache-fill jobs).  The call plus its action
    started 9 jobs with both; 5 without."""
    import __spark_entry__ as entry

    q = entry.queries()["dup_clusters"]
    with count_jobs() as jobs:
        q(spark, SF).toPandas()
    assert len(jobs) <= 5, jobs


def test_simhash_neardup_reuses_the_fingerprint_exchange(spark):
    """Both sides of the simhash band self-join derive from one
    fingerprint subtree.  AQE reuses its exchange, so the executed plan
    scans ``documents`` once and needs no persist: one FileScan, a
    ReusedExchange, and no InMemoryTableScan in the final plan."""
    import __spark_entry__ as entry

    df = entry.queries()["simhash_neardup"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert final.count("FileScan parquet") == 1, final
    assert "documents.parquet" in df.inputFiles()[0]
    assert "ReusedExchange" in final, final
    assert "InMemoryTableScan" not in final, final
