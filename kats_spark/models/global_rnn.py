"""Global RNN-lite: ONE nonlinear sequence model fit across ALL series.

The reference's flagship global model (kats/models/globalmodel/model.py:35,
train :377, predict :572; batching data_processor.py:24) trains one torch
RNN over many series.  Torch is absent from this container, so this is the
same SHAPE in pure numpy:

- a small GRU encoder (scalar input, hidden state ``hidden``) + linear
  direct-multi-horizon readout — one parameter set shared by every
  series;
- per-window scale normalization (mean |x| of the input window), so one
  model serves all magnitudes — the reference's on-the-fly normalization
  idea;
- training DRIVER-SIDE on a bounded, deterministic sample of sliding
  windows drawn distributed-side (per-series window explode, hash-ranked
  limit) — the globalmodel pattern of sampled-batch training;
- inference DISTRIBUTED: the trained weights broadcast inside the
  ``applyInPandas`` closure; each series' tail window normalizes, encodes
  and predicts independently — no shuffle beyond the per-series group.

Backprop is manual BPTT through the GRU, verified against finite
differences in tests/test_global_rnn.py; training is full-batch Adam.
Iterative nonlinear fit -> rows-only query (no SQL oracle), same contract
as arima/prophet.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kats_spark.tsframe import TSSchema, DEFAULT

Z95 = 1.959963984540054


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30, 30)))


class GRULite:
    """Scalar-input GRU + linear multi-horizon head, trained with Adam on
    manual-BPTT gradients.  Shapes: windows X (B, T), targets Y (B, H)."""

    def __init__(self, hidden: int = 12, horizon: int = 12, seed: int = 0) -> None:
        rng = np.random.default_rng(seed)
        h = hidden
        s = 1.0 / np.sqrt(h)
        self.h = h
        self.horizon = horizon
        self.params = {
            "Wz": rng.normal(0, s, h), "Uz": rng.normal(0, s, (h, h)), "bz": np.zeros(h),
            "Wr": rng.normal(0, s, h), "Ur": rng.normal(0, s, (h, h)), "br": np.zeros(h),
            "Wn": rng.normal(0, s, h), "Un": rng.normal(0, s, (h, h)), "bn": np.zeros(h),
            "Wo": rng.normal(0, s, (horizon, h)), "bo": np.zeros(horizon),
        }

    # ---- forward/backward ------------------------------------------------
    def _forward(self, X: np.ndarray):
        p = self.params
        B, T = X.shape
        hprev = np.zeros((B, self.h))
        cache = []
        for t in range(T):
            x = X[:, t : t + 1]  # (B, 1)
            z = _sigmoid(x * p["Wz"] + hprev @ p["Uz"].T + p["bz"])
            r = _sigmoid(x * p["Wr"] + hprev @ p["Ur"].T + p["br"])
            rh = r * hprev
            n = np.tanh(x * p["Wn"] + rh @ p["Un"].T + p["bn"])
            hnew = (1 - z) * n + z * hprev
            cache.append((x, hprev, z, r, rh, n))
            hprev = hnew
        yhat = hprev @ p["Wo"].T + p["bo"]
        return yhat, (cache, hprev)

    def _backward(self, X: np.ndarray, dy: np.ndarray, fwd) -> dict:
        p = self.params
        cache, hT = fwd
        g = {k: np.zeros_like(v) for k, v in p.items()}
        g["Wo"] = dy.T @ hT
        g["bo"] = dy.sum(axis=0)
        dh = dy @ p["Wo"]
        for t in range(len(cache) - 1, -1, -1):
            x, hprev, z, r, rh, n = cache[t]
            dn = dh * (1 - z)
            dnp = dn * (1 - n * n)
            dz = dh * (hprev - n)
            dzp = dz * z * (1 - z)
            dh_prev = dh * z
            drh = dnp @ p["Un"]
            dr = drh * hprev
            drp = dr * r * (1 - r)
            dh_prev = dh_prev + drh * r + dzp @ p["Uz"] + drp @ p["Ur"]
            g["Wn"] += (dnp * x).sum(axis=0)
            g["Un"] += dnp.T @ rh
            g["bn"] += dnp.sum(axis=0)
            g["Wz"] += (dzp * x).sum(axis=0)
            g["Uz"] += dzp.T @ hprev
            g["bz"] += dzp.sum(axis=0)
            g["Wr"] += (drp * x).sum(axis=0)
            g["Ur"] += drp.T @ hprev
            g["br"] += drp.sum(axis=0)
            dh = dh_prev
        return g

    def loss_and_grads(self, X: np.ndarray, Y: np.ndarray):
        yhat, fwd = self._forward(X)
        err = yhat - Y
        B = len(X)
        loss = float((err * err).mean())
        dy = 2.0 * err / err.size
        return loss, self._backward(X, dy, fwd)

    def fit(
        self,
        X: np.ndarray,
        Y: np.ndarray,
        epochs: int = 200,
        lr: float = 2e-2,
    ) -> "GRULite":
        p = self.params
        m = {k: np.zeros_like(v) for k, v in p.items()}
        v = {k: np.zeros_like(v_) for k, v_ in p.items()}
        b1, b2, eps = 0.9, 0.999, 1e-8
        for it in range(1, epochs + 1):
            _, g = self.loss_and_grads(X, Y)
            for k in p:
                m[k] = b1 * m[k] + (1 - b1) * g[k]
                v[k] = b2 * v[k] + (1 - b2) * g[k] * g[k]
                mh = m[k] / (1 - b1**it)
                vh = v[k] / (1 - b2**it)
                p[k] -= lr * mh / (np.sqrt(vh) + eps)
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        return self._forward(X)[0]


def _normalize_windows(W: np.ndarray, win: int):
    """Per-window scale = mean |input part| (never 0)."""
    scale = np.abs(W[:, :win]).mean(axis=1, keepdims=True) + 1e-9
    return W / scale, scale


def global_rnn_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    window: int = 16,
    hidden: int = 12,
    epochs: int = 200,
    sample_windows: int = 2048,
    seed: int = 0,
    s: TSSchema = DEFAULT,
    memo_key: str | None = None,
) -> DataFrame:
    """(series_id, time, fcst, fcst_lower, fcst_upper): one GRU fit on a
    bounded global window sample, applied per series.

    Plan: (1) per-series sliding (window+steps)-windows via
    ``applyInPandas`` (no cross-series state), hash-ranked
    ``orderBy(xxhash64).limit(sample_windows)`` -> bounded driver
    collect — the ONLY driver-side data, capped regardless of corpus
    size; (2) numpy GRU training on the normalized sample; (3) weights
    travel in the UDF closure (Spark broadcasts the serialized task) and
    every series forecasts from its tail window distributed-side.

    ``memo_key``: as in :func:`global_rnn_ensemble_forecast` — a source
    fingerprint that lets a repeat call reuse the trained weights."""
    from kats_spark import cache

    win = window
    wsize = win + steps

    def train():
        wins = _window_frame(df, win, wsize, s).orderBy("k").limit(sample_windows)
        sample = np.array([list(r.w) for r in wins.collect()], dtype=float)
        if len(sample) == 0:
            raise ValueError(f"no series long enough for window+steps={wsize}")
        Wn, _ = _normalize_windows(sample, win)
        model = GRULite(hidden=hidden, horizon=steps, seed=seed)
        model.fit(Wn[:, :win], Wn[:, win:], epochs=epochs)
        # residual spread on the ORIGINAL scale for interval bands
        yhat_n, _ = model._forward(Wn[:, :win])
        scale = np.abs(sample[:, :win]).mean(axis=1, keepdims=True) + 1e-9
        resid = (yhat_n - Wn[:, win:]) * scale
        se = resid.std(axis=0, ddof=1)  # per-horizon spread
        return {k: v.copy() for k, v in model.params.items()}, se

    if memo_key is None:
        params, se_h = train()
    else:
        key = (memo_key, steps, window, hidden, epochs, sample_windows, seed)
        params, se_h = cache.memo("global_rnn_single_weights", key, train)
    hid, hor = hidden, steps

    schema = (
        f"{s.series_id} string, {s.time} timestamp, "
        "fcst double, fcst_lower double, fcst_upper double"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(s.time)
        y = pdf[s.value].to_numpy(dtype=float)
        if len(y) < win:
            return pd.DataFrame(
                columns=[s.series_id, s.time, "fcst", "fcst_lower", "fcst_upper"]
            )
        mdl = GRULite(hidden=hid, horizon=hor, seed=0)
        mdl.params = params
        tail = y[-win:][None, :]
        sc = np.abs(tail).mean() + 1e-9
        fc = mdl.predict(tail / sc)[0] * sc
        h = np.arange(1, hor + 1)
        times = pd.Timestamp(pdf[s.time].iloc[-1]) + pd.to_timedelta(
            h * freq_seconds, unit="s"
        )
        return pd.DataFrame(
            {
                s.series_id: str(pdf[s.series_id].iloc[0]),
                s.time: times,
                "fcst": fc,
                "fcst_lower": fc - Z95 * se_h,
                "fcst_upper": fc + Z95 * se_h,
            }
        )

    return (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(fn, schema)
    )


def _window_frame(df: DataFrame, win: int, wsize: int, s: TSSchema) -> DataFrame:
    """Per-series sliding windows as (w array<double>, k bigint) with a
    process-independent md5 rank key — the shared distributed step of
    every global-model fit (single and ensemble)."""

    def emit_windows(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        pdf = pdf.sort_values(s.time)
        y = pdf[s.value].to_numpy(dtype=float)
        if len(y) < wsize:
            return pd.DataFrame(columns=["w", "k"])
        sid = str(pdf[s.series_id].iloc[0])
        starts = range(0, len(y) - wsize + 1)
        ws = [y[i : i + wsize].tolist() for i in starts]
        keys = [
            int.from_bytes(hashlib.md5(f"{sid}:{i}".encode()).digest()[:8], "big") >> 1
            for i in starts
        ]
        return pd.DataFrame({"w": ws, "k": keys})

    return (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(emit_windows, "w array<double>, k bigint")
    )


def global_rnn_ensemble_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    n_replicas: int = 3,
    window: int = 16,
    hidden: int = 12,
    epochs: int = 200,
    sample_windows: int = 2048,
    seed: int = 0,
    s: TSSchema = DEFAULT,
    memo_key: str | None = None,
) -> DataFrame:
    """Ensemble of G GRULite replicas trained on HASH-DISJOINT window
    samples, forecasts combined by the per-horizon MEDIAN — the
    reference's globalmodel ensemble design (kats/models/globalmodel/
    ensemble.py:24 trains gm_info.gm_count replicas over data splits and
    medians their predictions) re-expressed on the numpy GRU.

    Why disjoint splits rather than G bootstrap draws: ``k % G`` over
    the md5 rank key partitions the window population uniformly and
    deterministically, so each replica sees different data (the variance
    -reduction the ensemble exists for) and the whole train set is used
    at G * sample_windows scale — the reference's multi-split batching
    idea in one line of hashing.

    Plan: the window frame is computed ONCE and persisted; each replica
    is one bounded hash-ranked collect (<= sample_windows rows) + a
    driver-side fit; inference ships all G parameter sets in a single
    ``applyInPandas`` closure, so each series normalizes its tail window
    once and runs G forward passes — still one distributed pass, no
    extra shuffle.  Interval bands use the cross-replica median of the
    per-horizon residual spreads.

    ``memo_key``: callers that declare the input's CONTENT (a source
    fingerprint) pass it to reuse the trained replica weights across
    calls through ``kats_spark.cache``, keyed with every training
    hyperparameter.  The training collects are seed-deterministic in
    (input frame, params), so a hit is bit-identical to retraining —
    asserted in tests."""
    from pyspark import StorageLevel

    from kats_spark import cache

    win = window
    wsize = win + steps

    def train():
        wins = _window_frame(df, win, wsize, s).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        replicas = []
        se_all: list[np.ndarray] = []
        try:
            for g in range(n_replicas):
                sub = (
                    wins.filter(F.col("k") % n_replicas == g)
                    .orderBy("k")
                    .limit(sample_windows)
                )
                sample = np.array([list(r.w) for r in sub.collect()], dtype=float)
                if len(sample) == 0:
                    raise ValueError(
                        f"no series long enough for window+steps={wsize}"
                    )
                Wn, _ = _normalize_windows(sample, win)
                model = GRULite(hidden=hidden, horizon=steps, seed=seed + g)
                model.fit(Wn[:, :win], Wn[:, win:], epochs=epochs)
                yhat_n, _ = model._forward(Wn[:, :win])
                scale = np.abs(sample[:, :win]).mean(axis=1, keepdims=True) + 1e-9
                resid = (yhat_n - Wn[:, win:]) * scale
                se_all.append(
                    resid.std(axis=0, ddof=1) if len(resid) > 1 else np.abs(resid[0])
                )
                replicas.append({k: v.copy() for k, v in model.params.items()})
        finally:
            wins.unpersist()
        return replicas, np.median(np.stack(se_all), axis=0)

    if memo_key is None:
        replicas, se_h = train()
    else:
        params = (memo_key, steps, n_replicas, window, hidden, epochs,
                  sample_windows, seed)
        replicas, se_h = cache.memo("global_rnn_weights", params, train)
    hid, hor = hidden, steps

    schema = (
        f"{s.series_id} string, {s.time} timestamp, "
        "fcst double, fcst_lower double, fcst_upper double"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(s.time)
        y = pdf[s.value].to_numpy(dtype=float)
        if len(y) < win:
            return pd.DataFrame(
                columns=[s.series_id, s.time, "fcst", "fcst_lower", "fcst_upper"]
            )
        tail = y[-win:][None, :]
        sc = np.abs(tail).mean() + 1e-9
        fcs = []
        for params in replicas:
            mdl = GRULite(hidden=hid, horizon=hor, seed=0)
            mdl.params = params
            fcs.append(mdl.predict(tail / sc)[0] * sc)
        fc = np.median(np.stack(fcs), axis=0)
        h = np.arange(1, hor + 1)
        times = pd.Timestamp(pdf[s.time].iloc[-1]) + pd.to_timedelta(
            h * freq_seconds, unit="s"
        )
        return pd.DataFrame(
            {
                s.series_id: str(pdf[s.series_id].iloc[0]),
                s.time: times,
                "fcst": fc,
                "fcst_lower": fc - Z95 * se_h,
                "fcst_upper": fc + Z95 * se_h,
            }
        )

    return (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(fn, schema)
    )


def global_rnn_ensemble_backtest(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    train_frac: float = 0.8,
    n_replicas: int = 3,
    window: int = 16,
    hidden: int = 12,
    epochs: int = 200,
    sample_windows: int = 2048,
    seed: int = 0,
    s: TSSchema = DEFAULT,
    memo_key: str | None = None,
) -> DataFrame:
    """Holdout backtest of the global ensemble — the reference's
    GMBackTester shape (kats/models/globalmodel/backtester.py: split by
    time, train the global model on the head, score the forecast against
    the held-out tail).  Unlike ``model_backtest`` (independent
    per-(series, fold) fits), a GLOBAL model must fit across all series
    at once, so the split happens first and ONE ensemble fit serves
    every series' evaluation.

    Plan: per-series rank/count windows cut the first ``train_frac`` of
    each series (one window pass); the ensemble trains on that
    distributed frame (bounded collects only); forecasts equi-join the
    held-out actuals on (series_id, time); per-series error metrics
    aggregate with codegen built-ins.  Output (series_id, n_test, mae,
    rmse, mape)."""
    ranked = df.withColumn("__rn", F.row_number().over(s.w()) - 1).withColumn(
        "__n", F.count("*").over(Window.partitionBy(s.series_id))
    )
    train = ranked.filter(
        F.col("__rn") < F.floor(F.col("__n") * F.lit(float(train_frac)))
    ).drop("__rn", "__n")
    fc = global_rnn_ensemble_forecast(
        train,
        steps=steps,
        freq_seconds=freq_seconds,
        n_replicas=n_replicas,
        window=window,
        hidden=hidden,
        epochs=epochs,
        sample_windows=sample_windows,
        seed=seed,
        s=s,
        memo_key=None if memo_key is None else f"{memo_key}|bt:{train_frac}",
    )
    actual = df.select(s.series_id, s.time, F.col(s.value).alias("__truth"))
    j = fc.join(actual, [s.series_id, s.time])
    err = F.col("fcst") - F.col("__truth")
    return (
        j.groupBy(s.series_id)
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.avg(F.abs(err)).alias("mae"),
            F.sqrt(F.avg(err * err)).alias("rmse"),
            F.avg(
                F.when(
                    F.col("__truth") != 0, F.abs(err / F.col("__truth"))
                )
            ).alias("mape"),
        )
    )
