"""Seeded-simulation detector tests — the reference's own strategy
(SURVEY §5: inject a known change, assert the detector finds it)."""

from pyspark.sql import functions as F

from kats_spark.operators import cusum, interval, robust_stat, simulator, statsig
from kats_spark.operators.outlier import outlier_detect


def test_cusum_finds_level_shift(spark):
    df = simulator.simulate(
        spark, n_series=3, n_points=200, noise_std=1.0,
        level_shift_at=120, level_shift_size=8.0, seed=10,
    )
    cps = cusum.cusum_detect(df, threshold=0.01).toPandas()
    assert set(cps.series_id) == {"sim_0", "sim_1", "sim_2"}
    ups = cps[cps.direction == "increase"]
    assert len(ups) == 3
    # changepoint within a few points of the injected shift
    assert ((ups.cp_index - 119).abs() <= 3).all()
    assert (ups.delta > 6).all()


def test_cusum_no_false_positive_on_noise(spark):
    df = simulator.simulate(spark, n_series=3, n_points=200, noise_std=1.0, seed=11)
    cps = cusum.cusum_detect(df, threshold=0.01).toPandas()
    assert len(cps) == 0



def test_portable_randn_lags_uncorrelated(spark):
    """The simulator's counter-based gaussian is noise, not a sequence:
    for iid data the lag-k sample autocorrelation has SD ~ 1/sqrt(n)
    (Bartlett), so every |r_k| stays within 4/sqrt(n).  Affine-mod-p
    counters fail this by two orders of magnitude (|r_k| ~ 0.85)."""
    import numpy as np

    n = 100_000
    for seed in (11, 42):
        z = (
            simulator.portable_randn(spark.range(n), "id", seed)
            .select("__z").toPandas()["__z"].to_numpy()
        )
        z = z - z.mean()
        r = [np.dot(z[:-k], z[k:]) / np.dot(z, z) for k in range(1, 25)]
        assert max(map(abs, r)) <= 4 / np.sqrt(n), (seed, r)


def test_simulate_same_draw_at_any_partition_count(spark, monkeypatch):
    """Each value depends only on (seed, row id): the draw is identical
    whatever the partition count of spark.range.  PySpark's range takes
    that count from SparkContext.defaultParallelism (the N of local[N]),
    not from spark.sql.leafNodeDefaultParallelism, so that is what varies."""
    runs = []
    for parts in (1, 7):
        monkeypatch.setattr(
            type(spark.sparkContext), "defaultParallelism", property(lambda sc: parts)
        )
        df = simulator.simulate(
            spark, n_series=3, n_points=200, noise_std=1.0,
            seasonal_period=24, seasonal_magnitude=2.0, seed=11,
        )
        assert df.rdd.getNumPartitions() == parts
        runs.append(sorted(map(tuple, df.collect())))
    assert runs[0] == runs[1]

def test_statsig_scores_spike_at_shift(spark):
    df = simulator.simulate(
        spark, n_series=1, n_points=300, noise_std=1.0,
        level_shift_at=250, level_shift_size=5.0, seed=12,
    )
    scores = (
        statsig.statsig_scores(df, n_control=100, n_test=20)
        .toPandas()
        .sort_values("time")
        .reset_index(drop=True)
    )
    at_shift = scores.iloc[255:].dropna(subset=["stat_sig_score"])
    assert at_shift.stat_sig_score.max() > 5
    # quiet region scores stay modest
    quiet = scores.iloc[120:240].dropna(subset=["stat_sig_score"])
    assert quiet.stat_sig_score.abs().max() < 5


def test_robust_stat_flags_shift(spark):
    df = simulator.simulate(
        spark, n_series=1, n_points=300, noise_std=0.5,
        level_shift_at=150, level_shift_size=10.0, seed=13,
    )
    out = robust_stat.robust_stat_scores(df).toPandas().sort_values("time")
    flagged_idx = out.reset_index(drop=True).query("is_changepoint == 1").index
    assert len(flagged_idx) > 0
    assert any(abs(i - 150) <= 5 for i in flagged_idx)


def test_outlier_detect_flags_spike(spark):
    base = simulator.simulate(
        spark, n_series=1, n_points=480, noise_std=0.5,
        seasonal_period=24, seasonal_magnitude=3.0, seed=14,
    )
    spiked = base.withColumn(
        "value",
        F.when(
            F.row_number().over(
                __import__("pyspark").sql.Window.partitionBy("series_id").orderBy("time")
            )
            == 120,
            F.col("value") + 30.0,
        ).otherwise(F.col("value")),
    )
    out = outlier_detect(spiked, period=24, iqr_mult=3.0).toPandas().sort_values("time")
    out = out.reset_index(drop=True)
    assert out.loc[119, "is_outlier"] == 1
    assert out.is_outlier.sum() <= 3  # no mass false positives


def test_get_last_n_and_second_len(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from kats_spark.operators import postprocess as pp

    pdf = pd.DataFrame(
        {
            "series_id": ["a"] * 5 + ["b"] * 3,
            "time": list(pd.date_range("2024-01-01", periods=5, freq="h"))
            + list(pd.date_range("2024-01-01", periods=3, freq="h")),
            "value": range(8),
        }
    )
    out = pp.get_last_n(spark.createDataFrame(pdf), 2).toPandas()
    assert len(out) == 4
    assert sorted(out[out.series_id == "a"].value) == [3, 4]
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "episode_start": pd.to_datetime(["2024-01-01 00:00:00"]),
                "episode_end": pd.to_datetime(["2024-01-01 02:30:00"]),
            }
        )
    ).select(pp.interval_second_len().alias("sec"))
    assert iv.collect()[0].sec == 9000
