"""Seasonal-trend-decomposed global model (STDGlobalModel).

Parity target: kats/models/globalmodel/stdmodel.py:29 — decompose each
series, fit ONE global model on the deseasonalized (or trend-only) panel,
forecast, then re-seasonalize the horizon by tiling the LAST period of
each series' seasonal component (stdmodel.py:219-222 ``tsd_model[-period:]``
tiled; ``_reseasonal`` :234 adds back for 'additive', multiplies for
'multiplicative'; ``fit_trend`` :39 fits the global model on the extracted
trend directly).

Spark composition (one lazy plan, no driver loops):
- per-series loess STL decompose distributed via ``applyInPandas``
  (operators/stl.py, the same kernel STLF uses);
- deseasonalized panel feeds the chosen GLOBAL model — ``base='dms'``
  (pooled closed-form direct multi-step, one aggregation + broadcast of
  the pooled coefficients) or ``base='gru'`` (sampled-window numpy GRU);
  the reference's 'single'/'ensemble' GMModel choice maps to these;
- re-seasonalization is a broadcast phase-keyed join of the per-series
  last-period seasonal table (period rows per series, tiny by
  construction), identical to STLF's convention.

At 100 TB the decompose is embarrassingly parallel per series, the global
fit stays one treeAggregate-shaped pass, and the seasonal add-back is a
broadcast join — nothing here shuffles the horizon frame more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kats_spark.models.global_dms import global_dms_forecast
from kats_spark.operators.decomposition import decompose, last_period_seasonal_table
from kats_spark.tsframe import TSSchema, DEFAULT


def std_global_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    period: int,
    base: str = "dms",
    decomposition: str = "additive",
    fit_trend: bool = False,
    p: int = 4,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """(series_id, time, fcst): STL-decompose -> global model on the
    deseasonalized panel -> re-seasonalize with the tiled last period.

    ``decomposition``: 'additive' (fcst + seasonal) or 'multiplicative'
    (fcst * seasonal), the stdmodel.py:91-97 pair.  ``fit_trend=True``
    fits the global model on the extracted trend instead of
    value-minus-seasonal (stdmodel.py:186-187)."""
    if decomposition not in ("additive", "multiplicative"):
        raise ValueError("decomposition must be 'additive' or 'multiplicative'")
    # materialization boundary: dec feeds BOTH the seasonal table and the
    # deseasonalized panel — without it the per-series STL applyInPandas
    # runs once per consumer (r12 plan audit: 4 python stages -> 2; the
    # self-join-recompute rule from the dedup operators applies to any
    # frame with two downstream consumers, not just join sides)
    # persist(), not a lazy localCheckpoint: the checkpoint converts the
    # plan to an RDD at call time (~1 s of physical planning, r13
    # measurement); the registered persist is the same boundary for free
    from kats_spark import cache

    dec = cache.register(
        decompose(df, period, decomposition, "stl", s).persist()
    )
    seas = last_period_seasonal_table(dec, period, s).persist()
    if fit_trend:
        deseason_val = F.col("trend")
    elif decomposition == "additive":
        deseason_val = F.col(s.value) - F.col("seasonal")
    else:
        deseason_val = F.col(s.value) / F.when(
            F.abs(F.col("seasonal")) > 1e-12, F.col("seasonal")
        ).otherwise(F.lit(1.0))
    deseason = dec.select(s.series_id, s.time, deseason_val.alias(s.value))

    if base == "dms":
        fc = global_dms_forecast(deseason, steps, freq_seconds, p=p, s=s)
    elif base == "gru":
        from kats_spark.models.global_rnn import global_rnn_forecast

        fc = global_rnn_forecast(deseason, steps, freq_seconds, s=s).select(
            s.series_id, s.time, "fcst"
        )
    else:
        raise ValueError("base must be 'dms' or 'gru'")

    n_tbl = df.groupBy(s.series_id).agg(F.count("*").alias("__n"))
    w = Window.partitionBy(s.series_id).orderBy(s.time)
    fc_h = (
        fc.withColumn("__h", F.row_number().over(w))
        .join(F.broadcast(n_tbl), s.series_id)
        .withColumn("__phase", (F.col("__n") - 1 + F.col("__h")) % period)
        .join(F.broadcast(seas), [s.series_id, "__phase"], "left")
    )
    if decomposition == "additive":
        out_fcst = F.col("fcst") + F.coalesce(F.col("seasonal"), F.lit(0.0))
    else:
        out_fcst = F.col("fcst") * F.coalesce(F.col("seasonal"), F.lit(1.0))
    return fc_h.select(s.series_id, s.time, out_fcst.alias("fcst"))
