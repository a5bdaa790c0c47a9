"""Series simulator — distributed, seeded, expression-based.

Parity with kats/utils/simulator.py:48-834: arima_sim(:83), trend(:187),
noise(:214), seasonality(:237), level_shift_sim(:416), trend_shift_sim
(:562).  The reference builds one numpy series; here ``spark.range``
generates (series x points) rows executor-side and every component is an
expression — ``portable_randn`` gives per-row gaussians that depend only
on (seed, row id), so the draw is the same at any partition or core
count, sin/cos give seasonality, conditional exprs inject level/trend
shifts.  The ARMA recursion is the one non-expression piece (per-series
numpy kernel).

Used by the seeded-simulation detector tests (SURVEY §5: the reference
seeds np.random and asserts detectors find injected changes)."""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kats_spark.tsframe import TSSchema, DEFAULT

_P = 2147483647  # 2^31 - 1


def mix_keys(seed: int) -> tuple[int, list[int]]:
    """``portable_randn``'s key: the counter offset k0 in [0, p) and the
    three round multipliers a_j in [1, p), drawn from random.Random(seed)."""
    rnd = random.Random(seed)
    return rnd.randrange(0, _P), [rnd.randrange(1, _P) for _ in range(3)]


def portable_randn(df: DataFrame, counter: str, seed: int = 42) -> DataFrame:
    """Append ``__z``: a counter-based standard normal of the long column
    ``counter``, reproducible in ANSI SQL.  Each uniform is a keyed mix of
    the counter (Salmon et al. 2011, "as easy as 1, 2, 3"): h = (2x + k0)
    mod p for u1 and (2x + 1 + k0) mod p for u2, then three rounds of
    h = (h · a_j) mod p; h ^= h >> 16, with k0 and a_j from
    ``mix_keys(seed)``.  Every product stays below 2^62, so no long
    overflows.  Box-Muller gives z = sqrt(-2 ln u1) · cos(2π u2).  The
    value depends ONLY on the counter and seed — not on partitioning —
    and the DuckDB oracle replays it up to libm's last-ulp rounding.  The
    rounds are staged as columns (as the oracle SQL stages them in CTEs),
    so the expression tree does not double on each round."""
    k0, mults = mix_keys(seed)
    x = F.col(counter).cast("long")
    hs = ("__h1", "__h2")
    df = df.withColumns({"__h1": (x * 2 + k0) % _P, "__h2": (x * 2 + 1 + k0) % _P})
    for a in mults:
        df = df.withColumns({h: (F.col(h) * a) % _P for h in hs})
        df = df.withColumns({h: F.col(h).bitwiseXOR(F.shiftright(F.col(h), 16)) for h in hs})
    u1, u2 = ((F.col(h) + 1).cast("double") / float(_P + 1) for h in hs)
    z = F.sqrt(-2.0 * F.log(u1)) * F.cos(u2 * (2.0 * math.pi))
    return df.withColumn("__z", z).drop(*hs)


def simulate(
    spark: SparkSession,
    n_series: int,
    n_points: int,
    freq_seconds: int = 3600,
    start: str = "2024-01-01",
    trend_slope: float = 0.0,
    noise_std: float = 1.0,
    seasonal_period: int = 0,
    seasonal_magnitude: float = 0.0,
    level_shift_at: int | None = None,
    level_shift_size: float = 0.0,
    trend_shift_at: int | None = None,
    trend_shift_slope: float = 0.0,
    seed: int = 42,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """(series_id, time, value) with the requested components injected.
    The noise is ``portable_randn`` of the global row id, so every value
    is fixed by the arguments alone and the DuckDB oracle replays it."""
    base = portable_randn(spark.range(n_series * n_points), "id", seed).select(
        (F.col("id") / n_points).cast("int").alias("__sid"),
        (F.col("id") % n_points).cast("int").alias("__i"),
        "__z",
    )
    t = F.to_timestamp(F.lit(start)) + F.make_interval(secs=F.col("__i") * freq_seconds)
    value = F.lit(0.0) + F.col("__i") * trend_slope + F.col("__z") * noise_std
    if seasonal_period:
        value = value + seasonal_magnitude * F.sin(
            F.col("__i") * (2.0 * math.pi / seasonal_period)
        )
    if level_shift_at is not None:
        value = value + F.when(F.col("__i") >= level_shift_at, level_shift_size).otherwise(0.0)
    if trend_shift_at is not None:
        value = value + F.when(
            F.col("__i") >= trend_shift_at,
            (F.col("__i") - trend_shift_at) * trend_shift_slope,
        ).otherwise(0.0)
    return base.select(
        F.concat(F.lit("sim_"), F.col("__sid")).alias(s.series_id),
        t.alias(s.time),
        value.alias(s.value),
    )


def arma_sim(
    spark: SparkSession,
    n_series: int,
    n_points: int,
    ar: list[float],
    ma: list[float],
    noise_std: float = 1.0,
    freq_seconds: int = 3600,
    start: str = "2024-01-01",
    seed: int = 42,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """ARMA(p,q) recursion (simulator.py:83 arima_sim) — the innovations are
    ``simulate``'s counter-based gaussian rows, the recursion itself runs
    as a per-series numpy kernel over those rows."""
    innov = simulate(
        spark, n_series, n_points, freq_seconds, start,
        noise_std=noise_std, seed=seed, s=s,
    )
    p, q = len(ar), len(ma)
    schema = f"{s.series_id} string, {s.time} timestamp, {s.value} double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(s.time)
        e = pdf[s.value].to_numpy(dtype=float)
        n = len(e)
        y = np.zeros(n)
        for t_ in range(n):
            acc = e[t_]
            for i, a in enumerate(ar, 1):
                if t_ - i >= 0:
                    acc += a * y[t_ - i]
            for j, m in enumerate(ma, 1):
                if t_ - j >= 0:
                    acc += m * e[t_ - j]
            y[t_] = acc
        out = pdf.copy()
        out[s.value] = y
        return out[[s.series_id, s.time, s.value]]

    return innov.groupBy(s.series_id).applyInPandas(fn, schema)
