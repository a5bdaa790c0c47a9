"""Outlier detector: seasonal-decomposition residual IQR test.

Parity with kats/detectors/outlier.py:36-126 (``OutlierDetector``):
decompose (additive or multiplicative), take residuals, flag points whose
residual is outside [Q1 - iqr_mult*IQR, Q3 + iqr_mult*IQR] (default
iqr_mult=3).  The reference runs statsmodels seasonal_decompose on one
series; here the decomposition is the pure-window MA decompose and the IQR
gate is two exact percentiles per series, taken as window aggregates over
the decomposition's own series partitioning — fully expression-based,
one shuffle, DuckDB-oracle-checkable.

Also ``outlier_remove`` — the ``remover`` interpolation path
(kats/detectors/detector.py:101): replace flagged points with NULL and
optionally linear-interpolate via the resample operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kats_spark.operators.decomposition import decompose
from kats_spark.tsframe import TSSchema, DEFAULT


def outlier_detect(
    df: DataFrame,
    period: int,
    iqr_mult: float = 3.0,
    model: str = "additive",
    s: TSSchema = DEFAULT,
    method: str = "ma",
) -> DataFrame:
    """(series_id, time, value, residual, is_outlier).  ``method='stl'``
    runs the IQR rule on loess-STL residuals (the reference
    OutlierDetector's decomposition backend)."""
    dec = decompose(df, period, model, method, s)
    # IQR bounds as whole-series window aggregates: ``dec`` is already
    # partitioned by series_id, so the window adds no exchange (the
    # groupBy + broadcast join back it replaces cost a second job).
    # percentile skips NULL residuals, like the filtered groupBy did.
    w = Window.partitionBy(s.series_id)
    res = F.col("residual")
    q1, q3 = F.col("__q1"), F.col("__q3")
    iqr = q3 - q1
    return (
        dec.select(
            s.series_id, s.time, s.value, "residual",
            F.percentile(res, F.lit(0.25)).over(w).alias("__q1"),
            F.percentile(res, F.lit(0.75)).over(w).alias("__q3"),
        )
        # a series without one residual has no bounds: dropped, as the
        # inner join against the per-series bounds did
        .filter(q1.isNotNull())
        .select(
            s.series_id, s.time, s.value, "residual",
            F.when(
                res.isNotNull(),
                ((res < q1 - iqr_mult * iqr) | (res > q3 + iqr_mult * iqr)).cast("int"),
            ).otherwise(F.lit(0)).alias("is_outlier"),
        )
    )


def outlier_remove(
    df: DataFrame,
    period: int,
    iqr_mult: float = 3.0,
    s: TSSchema = DEFAULT,
    method: str = "ma",
) -> DataFrame:
    """Null out flagged outliers (caller can resample(method='linear') to
    re-fill, mirroring remover(interpolate=True))."""
    flagged = outlier_detect(df, period, iqr_mult, s=s, method=method)
    return flagged.select(
        s.series_id,
        s.time,
        F.when(F.col("is_outlier") == 0, F.col(s.value)).alias(s.value),
    )
