"""KatsEnsemble: seasonality-aware multi-model ensemble.

Parity with kats/models/ensemble/kats_ensemble.py:78-859
(``KatsEnsemble``: per-series seasonality test -> STL decompose ->
forecast the de-seasonalized series with every base model (SMODELS
:64-68) -> re-seasonalize -> median or weighted-average aggregate; the
non-seasonal branch forecasts directly with MODELS :53-61; fan-out via
multiprocessing Pool :312-316,614-617).

Spark-first: the Pool becomes independent lazy plans unioned into ONE
aggregation; the per-series seasonal/non-seasonal branch is a broadcast
decision column (no driver loop — series take different branches inside
the same plan); seasonality is the MA-decomposition phase table
(operators/decomposition.py) applied and re-applied with broadcast
joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kats_spark.models import fcst as fcst_mod
from kats_spark.operators import ensemble as ens
from kats_spark.operators.decomposition import seasonal_table, strength_features
from kats_spark.operators.trend import linear_forecast, quadratic_forecast
from kats_spark.tsframe import TSSchema, DEFAULT

SEASONALITY_THRESHOLD = 0.64  # kats seasonality-strength convention


def _base_forecast(name: str, df: DataFrame, steps: int, freq_seconds: int, s: TSSchema) -> DataFrame:
    if name == "linear":
        return linear_forecast(df, steps, freq_seconds, s=s)
    if name == "quadratic":
        return quadratic_forecast(df, steps, freq_seconds, s=s)
    if name == "prophet":
        # ProphetLite — KatsEnsemble's SMODELS include prophet
        # (kats/models/ensemble/kats_ensemble.py:64-68)
        from kats_spark.models.prophet_lite import prophet_forecast

        return prophet_forecast(df, steps, freq_seconds, s=s)
    return fcst_mod.forecast(df, name, steps, freq_seconds, s=s)


def kats_ensemble_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    period: int,
    models: tuple[str, ...] = ("linear", "quadratic", "theta"),
    agg: str = "median",
    threshold: float = SEASONALITY_THRESHOLD,
    model_errors: DataFrame | None = None,
    s: TSSchema = DEFAULT,
    method: str = "ma",
) -> DataFrame:
    """(series_id, time, fcst, fcst_lower, fcst_upper).

    Per series: if seasonal_strength >= threshold the base models see the
    de-seasonalized series and the seasonal component is added back to
    every model's forecast (kats_ensemble.py ``deseasonalize`` /
    ``reseasonalize``); otherwise the original series flows through
    unchanged — one plan, both branches.

    ``method='stl'`` swaps the phase-mean seasonal for the loess-STL
    decomposition (the reference's actual backend): strengths come from
    the STL split, deseasonalization subtracts the time-varying STL
    seasonal, and the horizon re-seasonalizes with the last period of
    the seasonal tiled forward (same convention as STLF).
    """
    # The decomposition tables and the deseasonalized frame are each read
    # by EVERY base model; persisting them turns O(models) re-scans of the
    # source into one materialization each (seas/decision are tiny —
    # period rows resp. 1 row per series; prepared is one row per input
    # point, the price of model fan-out without recompute).  All three
    # are registered with kats_spark.cache so a plan-memoized caller
    # re-registers them after an external clearCache().
    from kats_spark import cache

    if method == "stl":
        from kats_spark.operators.decomposition import (
            decompose,
            last_period_seasonal_table,
            strengths_from_decomposition,
        )

        dec = cache.register(decompose(df, period, "additive", "stl", s).persist())
        seas = cache.register(last_period_seasonal_table(dec, period, s).persist())
        decision = cache.register(
            strengths_from_decomposition(dec, s)
            .select(
                s.series_id,
                (F.col("seasonality_strength") >= F.lit(threshold)).alias(
                    "__is_seasonal"
                ),
            )
            .persist()
        )
        prepared = (
            dec.join(F.broadcast(decision), s.series_id, "left")
            .select(
                s.series_id,
                s.time,
                F.when(
                    F.col("__is_seasonal"),
                    F.col(s.value) - F.coalesce(F.col("seasonal"), F.lit(0.0)),
                )
                .otherwise(F.col(s.value))
                .alias(s.value),
            )
            .persist()
        )
        prepared = cache.register(prepared)
    else:
        seas = cache.register(
            seasonal_table(df, period, "additive", s).persist()
        )
        decision = cache.register(
            strength_features(df, period, s)
            .select(
                s.series_id,
                (F.col("seasonality_strength") >= F.lit(threshold)).alias("__is_seasonal"),
            )
            .persist()
        )
        rn = F.row_number().over(s.w()) - 1
        prepared = (
            df.withColumn("__phase", rn % period)
            .join(F.broadcast(seas), [s.series_id, "__phase"], "left")
            .join(F.broadcast(decision), s.series_id, "left")
            .select(
                s.series_id,
                s.time,
                F.when(
                    F.col("__is_seasonal"),
                    F.col(s.value) - F.coalesce(F.col("seasonal"), F.lit(0.0)),
                )
                .otherwise(F.col(s.value))
                .alias(s.value),
            )
            .persist()
        )
        prepared = cache.register(prepared)
    n_tbl = df.groupBy(s.series_id).agg(F.count("*").alias("__n"))
    w = Window.partitionBy(s.series_id).orderBy(s.time)
    reseasoned = []
    for name in models:
        fc = _base_forecast(name, prepared, steps, freq_seconds, s)
        fc_h = (
            fc.withColumn("__h", F.row_number().over(w))
            .join(F.broadcast(n_tbl), s.series_id)
            .withColumn("__phase", (F.col("__n") - 1 + F.col("__h")) % period)
            .join(F.broadcast(seas), [s.series_id, "__phase"], "left")
            .join(F.broadcast(decision), s.series_id, "left")
        )
        sadd = F.when(
            F.col("__is_seasonal"), F.coalesce(F.col("seasonal"), F.lit(0.0))
        ).otherwise(F.lit(0.0))
        reseasoned.append(
            ens.tag(
                name,
                fc_h.select(
                    s.series_id,
                    s.time,
                    (F.col("fcst") + sadd).alias("fcst"),
                    (F.col("fcst_lower") + sadd).alias("fcst_lower"),
                    (F.col("fcst_upper") + sadd).alias("fcst_upper"),
                ),
            )
        )
    if agg == "median":
        return ens.median_ensemble([r.drop("model") for r in reseasoned], s)
    # weighted average: weights ∝ 1/backtest-error per (series, model)
    # (kats_ensemble.py weighted branch -> weighted_avg_ensemble.py:30)
    if model_errors is None:
        raise ValueError("agg='weighted' needs model_errors (series_id, model, err)")
    u = reseasoned[0]
    for r in reseasoned[1:]:
        u = u.unionByName(r)
    return ens.weighted_avg_ensemble(u, model_errors, s)
