"""Detector-derived TsFeatures group (kats/tsfeatures/tsfeatures.py:
1444-1720): seeded-injection behavior + reference default semantics."""

import os

import numpy as np
import pandas as pd
import pytest

from kats_spark.operators.detector_features import (
    DETECTOR_FEATURE_COLUMNS,
    cusum_detector_features,
    detector_features,
    robust_stat_detector_features,
    trend_detector_features,
)

_REF_TSFEATURES = "/root/reference/kats/tsfeatures/tsfeatures.py"


def _series(spark, values, sid="s1"):
    t = pd.date_range("2024-01-01", periods=len(values), freq="h")
    pdf = pd.DataFrame(
        {"series_id": sid, "time": t, "value": np.asarray(values, dtype=float)}
    )
    return spark.createDataFrame(pdf)


def test_cusum_features_level_shift(spark):
    rng = np.random.default_rng(7)
    y = np.concatenate([rng.normal(0, 0.3, 60), rng.normal(8, 0.3, 60)])
    row = cusum_detector_features(_series(spark, y)).collect()[0]
    assert row["cusum_num"] >= 1
    assert row["cusum_regression_detected"] == 1
    # cp_index is normalized by the series length
    assert 0.3 < row["cusum_cp_index"] < 0.7
    assert row["cusum_delta"] == pytest.approx(8.0, abs=1.0)
    assert row["cusum_conf"] == pytest.approx(1.0 - row["cusum_p_value"])
    assert 0.0 <= row["cusum_p_value"] < 0.05


def test_cusum_features_flat_series_defaults(spark):
    rng = np.random.default_rng(3)
    y = rng.normal(5, 0.1, 100)
    row = cusum_detector_features(_series(spark, y)).collect()[0]
    # reference zero defaults when no changepoint survives the gates
    assert row["cusum_num"] == 0
    assert row["cusum_conf"] == 0.0
    assert row["cusum_llr"] == 0.0
    assert row["cusum_regression_detected"] == 0
    assert row["cusum_stable_changepoint"] == 0


def test_robust_metric_mean_null_when_no_changepoints(spark):
    y = np.sin(np.linspace(0, 4 * np.pi, 120))  # smooth: no robust cps
    row = robust_stat_detector_features(_series(spark, y)).collect()[0]
    assert row["robust_num"] == 0
    assert row["robust_metric_mean"] is None  # the reference's np.nan


def test_trend_features_monotonic_ramp(spark):
    # a clean ramp: every 20-point window is perfectly monotonic ->
    # Tau = 1 > 0.8 and |z| far above the 5% critical value
    y = np.arange(60, dtype=float)
    row = trend_detector_features(_series(spark, y)).collect()[0]
    assert row["trend_num"] == 40  # anchors 20..59
    assert row["trend_num_increasing"] == 40
    assert row["trend_avg_abs_tau"] == pytest.approx(1.0)
    down = trend_detector_features(_series(spark, -y)).collect()[0]
    assert down["trend_num"] == 40
    assert down["trend_num_increasing"] == 0


def test_trend_features_noise_and_short_series(spark):
    rng = np.random.default_rng(11)
    row = trend_detector_features(_series(spark, rng.normal(0, 1, 80))).collect()[0]
    # white noise: |Tau| > 0.8 over 20 points is essentially impossible
    assert row["trend_num"] == 0
    assert row["trend_avg_abs_tau"] == 0.0
    short = trend_detector_features(_series(spark, np.arange(15.0))).collect()[0]
    assert short["trend_num"] == 0


def test_detector_features_joined_row(spark):
    rng = np.random.default_rng(5)
    y = np.concatenate([rng.normal(0, 0.5, 80), rng.normal(6, 0.5, 80)])
    out = detector_features(_series(spark, y), period=24)
    assert set(DETECTOR_FEATURE_COLUMNS) <= set(out.columns)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    for c in DETECTOR_FEATURE_COLUMNS:
        if c != "robust_metric_mean":  # nullable by design
            assert r[c] is not None, c


def test_tsfeatures_unified_registry(spark):
    """The reference-name groups join into one wide row; detector groups
    are opt-in; group selection prunes columns (VERDICT r08 items 2-3)."""
    from kats_spark.operators import simulator, tsfeatures as tsf

    df = simulator.simulate(
        spark, n_series=2, n_points=200, noise_std=0.5,
        seasonal_period=24, seasonal_magnitude=3.0, seed=17,
    )
    full = tsf.tsfeatures(df, period=24, selected=list(tsf.ALL_FEATURE_GROUPS))
    cols = set(full.columns)
    for c in ("spikiness", "peak", "trough", "y_acf1", "y_pacf5", "seas_acf1",
              "nowcast_macd", "seasonal_period", "residual_std", "time_years",
              "time_freq_Monday", "cusum_num", "robust_num", "bocp_num",
              "outlier_num", "trend_num"):
        assert c in cols, c
    assert len(full.columns) == len(set(full.columns))  # no dup names
    # default excludes the detector groups, like the reference defaults
    default = tsf.tsfeatures(df, period=24)
    assert "cusum_num" not in default.columns
    assert "y_acf1" in default.columns
    pdf = full.toPandas()
    assert len(pdf) == 2
    assert pdf.seasonal_period.notna().all()
    # a clean sine recovers its injected period: the reference takes
    # int(min(FFT periods)) on the DIFFERENCED series, so the series
    # length is chosen to put 1/24 exactly on an FFT bin (diff len 240)
    n = 241
    y = 5.0 * np.sin(np.arange(n) * 2 * np.pi / 24) + \
        np.random.default_rng(2).normal(0, 0.1, n)
    clean = tsf.ref_kernel_features(
        _series(spark, y), groups=("seasonalities",)
    ).collect()[0]
    assert clean["seasonal_period"] == 24.0
    assert clean["seasonality_mag"] == pytest.approx(10.0, abs=1.0)


def test_spikiness_matches_loo_definition(spark):
    """The O(n) closed form equals the reference's explicit
    leave-one-out matrix construction (tsfeatures.py:786-792), over the
    statsmodels-exact STL split the block uses since r11."""
    from kats_spark.operators.stl import stl_statsmodels_np
    from kats_spark.operators.tsfeatures import stl_features_block

    rng = np.random.default_rng(23)
    n = 96
    y = (np.sin(np.arange(n) * 2 * np.pi / 24) * 3
         + 0.05 * np.arange(n) + rng.normal(0, 0.7, n))
    row = stl_features_block(_series(spark, y), period=24).collect()[0]
    _, seasonal, resid = stl_statsmodels_np(y, 24)
    arr = np.repeat(resid[:, np.newaxis], len(resid), axis=1)
    arr[np.diag_indices(len(arr))] = np.nan
    expected = float(np.var(np.nanvar(arr, axis=0)))
    assert row["spikiness"] == pytest.approx(expected, rel=1e-9)
    assert row["peak"] == int(np.argmax(seasonal[:24]))
    assert row["trough"] == int(np.argmin(seasonal[:24]))


def test_nowcasting_group_matches_reference_formulas(spark):
    """nowcast_* per-series means replicate the reference's numpy
    formulas exactly (tsfeatures.py:1756-1908 _get_nowcasting_np)."""
    from kats_spark.operators.tsfeatures import ref_kernel_features

    rng = np.random.default_rng(29)
    x = rng.normal(10, 2, 120).astype(float)
    row = ref_kernel_features(
        _series(spark, x), groups=("nowcasting",)
    ).collect()[0]
    w = 5
    m = x[w - 1:] - x[: -(w - 1)]
    assert row["nowcast_roc"] == pytest.approx(
        float(np.nan_to_num(m / x[: -(w - 1)], nan=0.0).mean()))
    assert row["nowcast_mom"] == pytest.approx(float((x[w:] - x[:-w]).mean()))
    assert row["nowcast_lag"] == pytest.approx(float(x[:-w].mean()))
    ema = lambda a, sp, mp: pd.Series(a).ewm(span=sp, min_periods=mp).mean().to_numpy()
    macd = ema(x, 12, 20) - ema(x, 21, 20)
    assert row["nowcast_macd"] == pytest.approx(float(np.nanmean(macd)))
    sign = ema(macd, 9, 8)
    assert row["nowcast_macdsign"] == pytest.approx(float(np.nanmean(sign)))
    assert row["nowcast_macddiff"] == pytest.approx(float(np.nanmean(macd - sign)))


def test_acfpacf_group_values(spark):
    """acfpacf group: y_acf1/y_acf5 match a direct biased-ACF
    computation; pacf sums positive; constant series yields NaNs."""
    from kats_spark.operators.tsfeatures import ref_kernel_features, _pacf_yw_adjusted

    rng = np.random.default_rng(31)
    x = np.cumsum(rng.normal(0, 1, 150))
    row = ref_kernel_features(
        _series(spark, x), period=24, groups=("acfpacf_features",)
    ).collect()[0]
    c = x - x.mean()
    acf = np.array([np.dot(c[: len(c) - k], c[k:]) / np.dot(c, c)
                    for k in range(25)])[1:]
    assert row["y_acf1"] == pytest.approx(float(acf[0]), rel=1e-9)
    assert row["y_acf5"] == pytest.approx(float(np.sum(acf[:5] ** 2)), rel=1e-9)
    assert row["seas_acf1"] == pytest.approx(float(acf[23]), rel=1e-9)
    pacf = _pacf_yw_adjusted(x, 24)[1:]
    assert row["y_pacf5"] == pytest.approx(float(np.nansum(pacf[:5] ** 2)), rel=1e-9)
    const = ref_kernel_features(
        _series(spark, np.full(60, 3.0)), period=24, groups=("acfpacf_features",)
    ).collect()[0]
    assert const["y_acf1"] is None or np.isnan(const["y_acf1"])


def test_time_group_counts(spark):
    """time group count semantics, incl. the faithful %Y-%d replication."""
    from kats_spark.operators.tsfeatures import time_group_features

    t = pd.date_range("2023-12-25", periods=21, freq="D")  # spans a year boundary
    pdf = pd.DataFrame({"series_id": "s1", "time": t, "value": 1.0})
    row = time_group_features(spark.createDataFrame(pdf)).collect()[0]
    assert row["time_years"] == 2
    assert row["time_months"] == 2          # 2023-12 and 2024-01
    assert row["time_monthsofyear"] == 2
    assert row["time_length_days"] == 20
    assert row["time_daysofyear"] == 21
    # %Y-%d: (year, day-of-month) pairs — 7 in Dec 2023 + 14 in Jan 2024
    assert row["time_days"] == 21
    freqs = sum(row[f"time_freq_{d}"] for d in
                ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
                 "Saturday", "Sunday"])
    assert freqs == pytest.approx(1.0)


def test_metalearn_metadata_feeds_consumers(spark):
    """get_metadata parity: the producer's (features, best_hpt,
    best_model) rows feed the existing metalearner consumers end to end
    (metalearner_modelselect / hpt_recommend train on exactly such
    metadata tables in the reference)."""
    from pyspark.sql import functions as F
    from kats_spark.models.metalearner import hpt_recommend, metadata_tournament
    from kats_spark.operators import simulator

    df = simulator.simulate(
        spark, n_series=6, n_points=180, noise_std=1.0,
        seasonal_period=24, seasonal_magnitude=2.0, trend_slope=0.05, seed=41,
    )
    meta = metadata_tournament(df, steps=24, freq_seconds=3600)
    rows = meta.collect()
    assert len(rows) == 6
    assert {r["best_model"] for r in rows} <= {"linear", "quadratic", "mean"}
    assert all(r["best_mean_window"] in (6, 12, 24) for r in rows)
    assert all(r["mae_mean"] <= r[f"mae_linear"] or r["best_model"] != "mean"
               for r in rows)
    # consumer: hpt_recommend trained ON the produced metadata — each
    # series gets a window recommendation from its feature neighbors
    from kats_spark.functions.stats import stats_bundle

    feats = stats_bundle(df).select("series_id", "mean", "var", "stability")
    metadata = (
        meta.join(feats, "series_id")
        .select(
            F.col("series_id").alias("meta_id"),
            "mean", "var", "stability",
            F.col("best_mean_window").cast("double").alias("hp_window"),
            F.col("best_model").alias("hp_model"),
        )
    )
    rec = hpt_recommend(
        feats, metadata, ["mean", "var", "stability"],
        numerical_hps=["hp_window"], categorical_hps=["hp_model"], k=3,
    )
    out = rec.collect()
    assert len(out) == 6
    assert all(6.0 <= r["hp_window"] <= 24.0 for r in out)
    assert all(r["hp_model"] in ("linear", "quadratic", "mean") for r in out)


def test_detector_hpt_type_keyed_bank(spark):
    """MetaDetectHptSelect parity: recommendations come only from the
    requested detector type's metadata slice (hpt_tuning.py trains one
    learner per algorithm_name)."""
    from pyspark.sql import functions as F
    from kats_spark.models.metalearner import detector_hpt

    feats = spark.createDataFrame(
        [("s1", 41.0, 810.0), ("s2", 59.0, 1480.0)],
        "series_id string, f_mean double, f_var double",
    )
    meta = spark.createDataFrame(
        [
            (1, "cusum", 40.0, 800.0, 0.01, "both"),
            (2, "cusum", 60.0, 1500.0, 0.10, "increase"),
            (3, "statsig", 41.0, 810.0, 7.0, "n_control"),
        ],
        "meta_id int, detector_type string, f_mean double, f_var double, "
        "threshold double, direction string",
    )
    rec = detector_hpt(
        feats, meta, "cusum", ["f_mean", "f_var"],
        numerical_hps=["threshold"], categorical_hps=["direction"], k=1,
    ).toPandas().set_index("series_id")
    # the statsig example (exactly matching s1's features) must NOT leak in
    assert rec.loc["s1", "threshold"] == 0.01
    assert rec.loc["s1", "direction"] == "both"
    assert rec.loc["s2", "threshold"] == 0.10
    assert rec.loc["s2", "direction"] == "increase"
    assert (rec.detector_type == "cusum").all()


def test_diversity_sample_quotas_and_ranking(spark):
    """Cluster-balanced diversity selection: largest-remainder quotas sum
    to the budget, per-cell picks are the farthest-from-centroid rows,
    and 'closest' flips to coreset selection."""
    from kats_spark.operators.ivf import diversity_sample

    rng = np.random.default_rng(13)
    # two well-separated clusters of unequal size (ids 0..7 seed cells)
    a = rng.normal(0, 0.5, (150, 8)) + np.array([10.0] * 8)
    b = rng.normal(0, 0.5, (50, 8)) - np.array([10.0] * 8)
    vecs = np.vstack([a, b])
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(vecs)),
        "embedding": [list(map(float, v)) for v in vecs],
    })
    df = spark.createDataFrame(pdf)
    out = diversity_sample(df, budget=40, n_cells=2).toPandas()
    assert len(out) == 40
    per_cell = out.groupby("cell_id").size()
    # proportional: 150/200*40=30 and 50/200*40=10 exactly
    assert sorted(per_cell.tolist()) == [10, 30]
    # farthest-first: the kept max dist per cell == global max dist per cell
    full = diversity_sample(df, budget=200, n_cells=2).toPandas()
    for cid, grp in full.groupby("cell_id"):
        kept = out[out.cell_id == cid]
        assert kept.dist.max() == grp.dist.max()
        assert kept.dist.min() >= grp.dist.quantile(0.5) - 1e-9  # top half
    closest = diversity_sample(df, budget=40, n_cells=2, keep="closest").toPandas()
    for cid, grp in full.groupby("cell_id"):
        assert closest[closest.cell_id == cid].dist.min() == grp.dist.min()
    # budget >= N keeps everything
    assert len(full) == 200


@pytest.mark.skipif(not os.path.exists(_REF_TSFEATURES), reason="reference source absent")
def test_wide_row_carries_every_reference_feature_name(spark):
    """Drop-in contract: tsfeatures(selected=ALL) emits EVERY feature
    name in the reference's _FEATURE_GROUP_MAPPING (tsfeatures.py:127) —
    a Kats user's downstream code finds every column it expects."""
    import re

    src = open(_REF_TSFEATURES).read()
    m = re.search(
        r"_FEATURE_GROUP_MAPPING: Dict\[str, List\[str\]\] = \{(.*?)\n\}", src, re.S
    )
    names = set(re.findall(r'"([a-z0-9_A-Z]+)"', m.group(1)))
    names -= set(re.findall(r'\n    "([a-z_]+)": \[', m.group(1)))
    from kats_spark.operators import simulator, tsfeatures as tsf

    df = simulator.simulate(spark, n_series=1, n_points=120, noise_std=1.0, seed=3)
    wide = tsf.tsfeatures(df, period=24, selected=list(tsf.ALL_FEATURE_GROUPS))
    missing = names - set(wide.columns)
    assert not missing, f"reference feature names missing: {sorted(missing)}"


def test_vocab_drift_smoothing_and_ranking(spark):
    """vocab_drift: one-sided tokens get eps-smoothed finite mass, the
    biggest distribution shift ranks first, identical snapshots score ~0."""
    from kats_spark.operators.text import vocab_drift

    a = spark.createDataFrame(
        [(1, "alpha alpha alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(3, "beta beta beta gamma"), (4, "beta delta")], "doc_id long, text string"
    )
    out = vocab_drift(a, b, top_k=10).toPandas().set_index("token")
    # 'delta' absent from A: p_a == eps only
    assert out.loc["delta", "p_a"] == pytest.approx(1e-6, rel=1e-3)
    assert out.loc["alpha", "p_a"] > out.loc["alpha", "p_b"]
    # vanishing/appearing tokens dominate PSI (the eps denominator):
    # alpha (4/6 -> absent) first, delta (absent -> 1/6) second, then
    # the within-vocabulary shift beta (1/6 -> 4/6)
    assert out[out["rank"] == 1].index[0] == "alpha"
    assert set(out[out["rank"] <= 2].index) == {"alpha", "delta"}
    assert out.loc["beta", "rank"] == 3
    assert (out.psi_contrib >= 0).all()  # (p-q)ln(p/q) is nonnegative
    same = vocab_drift(a, a, top_k=5).toPandas()
    assert (same.psi_contrib.abs() < 1e-9).all()


def test_short_series_stats_survive_ansi_mode(spark):
    """flat_spots / stats_bundle segment width floor(n / nbins) is 0 for
    n <= nbins; the greatest(1, ...) guard (ADVICE r10) keeps the
    division legal under ANSI mode (Spark 4 default) while the length
    gate still yields NULL flat_spots for such series."""
    from kats_spark.functions.stats import flat_spots, stats_bundle

    pdf = pd.DataFrame(
        {
            "series_id": "s",
            "time": pd.date_range("2024-01-01", periods=5, freq="h"),
            "value": [1.0, 1.0, 2.0, 2.0, 2.0],
        }
    )
    df = spark.createDataFrame(pdf)
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        fs = flat_spots(df, 10).collect()
        assert len(fs) == 1 and fs[0]["flat_spots"] is None
        sb = stats_bundle(df, n_buckets=10).collect()
        assert len(sb) == 1 and sb[0]["flat_spots"] is None
        assert sb[0]["mean"] == pytest.approx(1.6)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
