"""Global RNN-lite (numpy GRU) — gradient correctness, learning power on
a nonlinear fixture vs the pooled linear global model, Spark contract."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kats_spark.models.global_rnn import GRULite, global_rnn_forecast


def test_gru_bptt_gradients_match_finite_differences():
    """Manual BPTT vs central finite differences on every parameter
    tensor — the canonical RNN-backprop correctness check."""
    rng = np.random.default_rng(0)
    model = GRULite(hidden=4, horizon=3, seed=1)
    X = rng.normal(0, 1, (5, 7))
    Y = rng.normal(0, 1, (5, 3))
    _, g = model.loss_and_grads(X, Y)
    eps = 1e-6
    for k, p in model.params.items():
        flat = p.reshape(-1)
        idxs = rng.choice(flat.size, size=min(6, flat.size), replace=False)
        for i in idxs:
            orig = flat[i]
            flat[i] = orig + eps
            lp, _ = model.loss_and_grads(X, Y)
            flat[i] = orig - eps
            lm, _ = model.loss_and_grads(X, Y)
            flat[i] = orig
            fd = (lp - lm) / (2 * eps)
            an = g[k].reshape(-1)[i]
            assert abs(fd - an) < 1e-6 + 1e-4 * abs(fd), f"{k}[{i}]: {fd} vs {an}"


def _nonlinear_panel(n_series=8, n=240, seed=3):
    """y_{t+1} = sin(2 y_t) + 0.7 y_t - 0.2 y_{t-1} + small noise — a
    smooth nonlinear AR map a linear pooled AR(2) cannot represent."""
    rng = np.random.default_rng(seed)
    rows = []
    t0 = pd.Timestamp("2024-01-01")
    for sid in range(n_series):
        y = np.zeros(n)
        y[0], y[1] = rng.normal(0, 0.5, 2)
        for t in range(1, n - 1):
            y[t + 1] = (
                np.sin(2 * y[t]) + 0.7 * y[t] - 0.2 * y[t - 1]
                + rng.normal(0, 0.05)
            )
        for t in range(n):
            rows.append((f"s{sid}", t0 + pd.Timedelta(hours=t), float(y[t])))
    return pd.DataFrame(rows, columns=["series_id", "time", "value"])


def test_gru_beats_global_ar2_on_nonlinear_fixture(spark):
    """VERDICT r02 item #6 'done' criterion: on a seeded nonlinear panel
    the GRU global model's 1-step-ahead holdout error beats the pooled
    linear AR(2) global model by a wide margin."""
    from kats_spark.models.global_ar import global_ar2_fit

    pdf = _nonlinear_panel()
    last_idx = pdf.groupby("series_id")["time"].idxmax()
    train = pdf.drop(index=last_idx)
    df = spark.createDataFrame(train)
    # pooled linear AR(2) 1-step error, computed from its closed-form fit
    c, p1, p2 = (
        global_ar2_fit(df).select("c", "phi1", "phi2").collect()[0]
    )
    # GRU: train on the same data, 1-step horizon
    fc = (
        global_rnn_forecast(
            df, steps=1, freq_seconds=3600, window=12, hidden=10,
            epochs=250, seed=0,
        )
        .toPandas()
        .set_index("series_id")
    )
    truth = pdf.groupby("series_id").tail(1).set_index("series_id")
    err_rnn, err_ar = [], []
    hist = train.groupby("series_id").tail(2).groupby("series_id")["value"].apply(list)
    for sid in truth.index:
        y_true = truth.loc[sid, "value"]
        err_rnn.append((fc.loc[sid, "fcst"] - y_true) ** 2)
        y1, y2 = hist[sid][-1], hist[sid][-2]
        err_ar.append((c + p1 * y1 + p2 * y2 - y_true) ** 2)
    mse_rnn, mse_ar = float(np.mean(err_rnn)), float(np.mean(err_ar))
    assert mse_rnn < 0.6 * mse_ar, (mse_rnn, mse_ar)


def test_global_rnn_spark_contract(spark):
    """Schema, horizon, band sanity, and determinism across runs."""
    pdf = _nonlinear_panel(n_series=4, n=120)
    df = spark.createDataFrame(pdf)
    out = global_rnn_forecast(
        df, steps=6, freq_seconds=3600, window=10, hidden=6, epochs=60, seed=1
    )
    a = out.toPandas().sort_values(["series_id", "time"]).reset_index(drop=True)
    assert list(a.columns) == ["series_id", "time", "fcst", "fcst_lower", "fcst_upper"]
    assert len(a) == 4 * 6
    assert (a.fcst_lower <= a.fcst).all() and (a.fcst <= a.fcst_upper).all()
    b = (
        global_rnn_forecast(
            df, steps=6, freq_seconds=3600, window=10, hidden=6, epochs=60, seed=1
        )
        .toPandas()
        .sort_values(["series_id", "time"])
        .reset_index(drop=True)
    )
    assert np.allclose(a.fcst.to_numpy(), b.fcst.to_numpy())


def test_global_rnn_short_series_errors(spark):
    pdf = _nonlinear_panel(n_series=2, n=10)
    df = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="window"):
        global_rnn_forecast(df, steps=12, freq_seconds=3600, window=16)


def test_per_series_rnn_learns_each_series_own_dynamics(spark):
    """Per-series GRU (the LSTM-model shape): two series with DIFFERENT
    nonlinear maps each get their own fit; 1-step holdout beats the
    naive last-value forecast on both."""
    from kats_spark.models.rnn import rnn_forecast

    rng = np.random.default_rng(5)
    rows = []
    t0 = pd.Timestamp("2024-01-01")
    maps = {"a": lambda y1, y2: np.sin(2 * y1) + 0.5 * y1,
            "b": lambda y1, y2: -0.8 * y1 + 0.3 * np.tanh(3 * y2)}
    n = 220
    truth = {}
    for sid, f in maps.items():
        y = np.zeros(n)
        y[0], y[1] = rng.normal(0, 0.4, 2)
        for t in range(1, n - 1):
            y[t + 1] = f(y[t], y[t - 1]) + rng.normal(0, 0.04)
        truth[sid] = y
        for t in range(n - 1):  # hold out the last point
            rows.append((sid, t0 + pd.Timedelta(hours=t), float(y[t])))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["series_id", "time", "value"]))
    fc = (
        rnn_forecast(df, steps=1, freq_seconds=3600, window=10, hidden=8,
                     epochs=150, seed=1)
        .toPandas()
        .set_index("series_id")
    )
    for sid in maps:
        y = truth[sid]
        err_rnn = abs(fc.loc[sid, "fcst"] - y[-1])
        err_naive = abs(y[-2] - y[-1])
        assert err_rnn < max(err_naive, 0.25), (sid, err_rnn, err_naive)
    # determinism
    fc2 = (
        rnn_forecast(df, steps=1, freq_seconds=3600, window=10, hidden=8,
                     epochs=150, seed=1)
        .toPandas()
        .set_index("series_id")
    )
    assert np.allclose(fc.fcst.to_numpy(), fc2.fcst.to_numpy())


def test_per_series_rnn_short_series_empty(spark):
    from kats_spark.models.rnn import rnn_forecast

    rows = [("s", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i), float(i))
            for i in range(12)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["series_id", "time", "value"]))
    out = rnn_forecast(df, steps=6, freq_seconds=3600, window=10)
    assert out.count() == 0


def test_global_rnn_ensemble_beats_single_on_holdout(spark):
    """VERDICT r03 item #4 'done' criterion: the 3-replica hash-disjoint
    ensemble's holdout MSE beats the single global GRU's on the seeded
    nonlinear panel (variance reduction from median-combining replicas
    trained on disjoint window samples)."""
    from kats_spark.models.global_rnn import global_rnn_ensemble_forecast

    pdf = _nonlinear_panel(n_series=8, n=240, seed=3)
    last_idx = pdf.groupby("series_id")["time"].idxmax()
    train = pdf.drop(index=last_idx)
    df = spark.createDataFrame(train)
    kw = dict(steps=1, freq_seconds=3600, window=12, hidden=10, epochs=250)
    single = (
        global_rnn_forecast(df, seed=0, **kw).toPandas().set_index("series_id")
    )
    ens = (
        global_rnn_ensemble_forecast(df, n_replicas=3, seed=0, **kw)
        .toPandas()
        .set_index("series_id")
    )
    truth = pdf.groupby("series_id").tail(1).set_index("series_id")
    err_s, err_e = [], []
    for sid in truth.index:
        y = truth.loc[sid, "value"]
        err_s.append((single.loc[sid, "fcst"] - y) ** 2)
        err_e.append((ens.loc[sid, "fcst"] - y) ** 2)
    mse_s, mse_e = float(np.mean(err_s)), float(np.mean(err_e))
    assert mse_e < mse_s, (mse_e, mse_s)


def test_global_rnn_ensemble_backtest_contract(spark):
    """GMBackTester shape: one global fit on the head of every series,
    per-series holdout metrics; the nonlinear panel is predictable so
    MAE must be small and finite for every series."""
    from kats_spark.models.global_rnn import global_rnn_ensemble_backtest

    pdf = _nonlinear_panel(n_series=6, n=200, seed=5)
    df = spark.createDataFrame(pdf)
    out = global_rnn_ensemble_backtest(
        df, steps=8, freq_seconds=3600, train_frac=0.9, n_replicas=2,
        window=12, hidden=8, epochs=150, sample_windows=512, seed=1,
    ).toPandas()
    assert len(out) == 6
    assert (out.n_test == 8).all()
    assert np.isfinite(out[["mae", "rmse", "mape"]].to_numpy()).all()
    assert (out.rmse >= out.mae - 1e-12).all()
    # the fixture's 1..8-step dynamics are learnable: demand real skill
    # (naive-last-value on this panel is much worse)
    assert out.mae.mean() < 0.5, out.mae.tolist()


def test_lstm_bptt_gradients_match_finite_differences():
    """Manual BPTT through BOTH the hidden and cell states of LSTMLite vs
    central finite differences on every parameter tensor — mirrors the
    GRU gradient check (VERDICT r04 item #5)."""
    from kats_spark.models.rnn import LSTMLite

    rng = np.random.default_rng(2)
    model = LSTMLite(hidden=4, horizon=3, seed=1)
    X = rng.normal(0, 1, (5, 7))
    Y = rng.normal(0, 1, (5, 3))
    _, g = model.loss_and_grads(X, Y)
    eps = 1e-6
    for k, p in model.params.items():
        flat = p.reshape(-1)
        idxs = rng.choice(flat.size, size=min(6, flat.size), replace=False)
        for i in idxs:
            orig = flat[i]
            flat[i] = orig + eps
            lp, _ = model.loss_and_grads(X, Y)
            flat[i] = orig - eps
            lm, _ = model.loss_and_grads(X, Y)
            flat[i] = orig
            fd = (lp - lm) / (2 * eps)
            an = g[k].reshape(-1)[i]
            assert abs(fd - an) < 1e-6 + 1e-4 * abs(fd), f"{k}[{i}]: {fd} vs {an}"


def test_per_series_lstm_beats_persistence_and_is_deterministic(spark):
    """lstm_forecast (the real LSTM cell): 1-step holdout beats the naive
    last-value forecast on a seeded nonlinear fixture, and reruns are
    bit-identical (VERDICT r04 item #5 'done' criterion)."""
    from kats_spark.models.rnn import lstm_forecast

    rng = np.random.default_rng(7)
    rows = []
    t0 = pd.Timestamp("2024-01-01")
    n = 220
    y = np.zeros(n)
    y[0], y[1] = rng.normal(0, 0.4, 2)
    for t in range(1, n - 1):
        y[t + 1] = np.sin(2 * y[t]) + 0.5 * y[t] + rng.normal(0, 0.04)
    for t in range(n - 1):  # hold out the last point
        rows.append(("s", t0 + pd.Timedelta(hours=t), float(y[t])))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["series_id", "time", "value"]))
    fc = lstm_forecast(df, steps=1, freq_seconds=3600, window=10, hidden=8,
                       epochs=150, seed=1).toPandas()
    err_lstm = abs(fc.fcst.iloc[0] - y[-1])
    err_naive = abs(y[-2] - y[-1])
    assert err_lstm < max(err_naive, 0.25), (err_lstm, err_naive)
    assert np.isfinite(fc.fcst_lower.iloc[0]) and fc.fcst_lower.iloc[0] < fc.fcst.iloc[0]
    fc2 = lstm_forecast(df, steps=1, freq_seconds=3600, window=10, hidden=8,
                        epochs=150, seed=1).toPandas()
    assert np.allclose(fc.fcst.to_numpy(), fc2.fcst.to_numpy())


def test_global_model_serialize_roundtrip_identical_forecast():
    """serialize.py parity (kats/models/globalmodel/serialize.py:50,81):
    save -> load -> bit-identical predictions for GRU, LSTM, and an
    ensemble list (VERDICT r04 item #7)."""
    from kats_spark.models.rnn import LSTMLite
    from kats_spark.models.serialize import (
        global_model_to_json,
        load_global_model_from_json,
    )

    rng = np.random.default_rng(3)
    X = rng.normal(0, 1, (6, 9))
    Y = rng.normal(0, 1, (6, 4))
    for cls in (GRULite, LSTMLite):
        m = cls(hidden=5, horizon=4, seed=2).fit(X, Y, epochs=30)
        m2 = load_global_model_from_json(global_model_to_json(m))
        assert type(m2) is cls
        assert np.array_equal(m.predict(X), m2.predict(X))
    ens = [GRULite(hidden=4, horizon=4, seed=k).fit(X, Y, epochs=10) for k in range(3)]
    ens2 = load_global_model_from_json(global_model_to_json(ens))
    assert len(ens2) == 3
    for a, b in zip(ens, ens2):
        assert np.array_equal(a.predict(X), b.predict(X))


def test_global_model_serialize_upgrade_compat():
    """The detector StateCodec contract holds for model weights: a
    version-N payload missing newer optional keys still loads (defaults
    fill in), and unknown FUTURE keys survive a load (forward compat)."""
    import json

    from kats_spark.models.serialize import (
        global_model_to_json,
        load_global_model_from_json,
    )

    rng = np.random.default_rng(4)
    X = rng.normal(0, 1, (4, 6))
    m = GRULite(hidden=3, horizon=2, seed=5)
    payload = json.loads(global_model_to_json(m))
    # vN payload: drop a newer optional key entirely
    payload.pop("combine")
    old = json.dumps(payload)
    m2 = load_global_model_from_json(old)
    assert np.array_equal(m.predict(X), m2.predict(X))
    # vN+1 payload: an unknown future key and an unknown future param
    payload["future_flag"] = {"anything": 1}
    payload["params"]["W_future"] = [1.0, 2.0]
    m3 = load_global_model_from_json(json.dumps(payload))
    assert np.array_equal(m.predict(X), m3.predict(X))


def test_global_rnn_ensemble_weights_memo_bit_identical(spark):
    """The per-(memo_key, hyperparams) trained-weights cache entry must
    return BIT-IDENTICAL forecasts to the uncached path (the training
    collects are seed-deterministic), and the second memoized call must
    actually hit (``cache.stats()``: one build, one hit)."""
    from kats_spark import cache
    from kats_spark.models import global_rnn as gr

    pdf = _nonlinear_panel(n_series=4, n=120, seed=9)
    df = spark.createDataFrame(pdf)
    kw = dict(
        steps=6, freq_seconds=3600, n_replicas=2, window=12, hidden=6,
        epochs=40, sample_windows=128, seed=7,
    )
    cols = ["series_id", "time", "fcst", "fcst_lower", "fcst_upper"]

    def run(**extra):
        return (
            gr.global_rnn_ensemble_forecast(df, **kw, **extra)
            .toPandas()
            .sort_values(["series_id", "time"])
            .reset_index(drop=True)[cols]
        )

    cache.clear()
    fresh = run()
    first = run(memo_key="t-ens")
    assert cache.stats()["global_rnn_weights"] == {"hits": 0, "builds": 1}
    hit = run(memo_key="t-ens")
    # no retrain on hit
    assert cache.stats()["global_rnn_weights"] == {"hits": 1, "builds": 1}
    pd.testing.assert_frame_equal(fresh, first)
    pd.testing.assert_frame_equal(fresh, hit)
    cache.clear()


def test_q_global_rnn_repeat_call_starts_no_job_before_its_action(spark, count_jobs):
    """q_global_rnn keys its trained weights on the events fingerprint: the
    first call collects the window sample and fits, a repeat call builds
    its frame without a Spark job."""
    import __spark_entry__ as entry
    from kats_spark import cache

    q = entry.queries()["global_rnn"]
    cache.clear()
    q(spark, "/root/testdata/sf0.001")
    with count_jobs() as jobs:
        q(spark, "/root/testdata/sf0.001")
    assert jobs == []
    assert cache.stats()["global_rnn_single_weights"] == {"hits": 1, "builds": 1}
    cache.clear()


def test_q_global_rnn_memo_hit_equals_fresh_fit(spark):
    import __spark_entry__ as entry
    from kats_spark import cache

    q = entry.queries()["global_rnn"]
    cache.clear()
    fresh = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    hit = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    assert cache.stats()["global_rnn_single_weights"] == {"hits": 1, "builds": 1}
    assert hit == fresh
    cache.clear()
