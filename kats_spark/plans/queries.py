"""Query registry: operator demonstrations over /root/testdata tables.

Each entry pairs a Spark implementation (built from kats_spark operators)
with an ANSI-SQL DuckDB oracle.  Conventions shared by both sides so the
driver's order-insensitive value-hash matches:

- all float outputs rounded to 6 decimals, aliased identically;
- time outputs formatted as strings ('yyyy-MM-dd HH:mm:ss' / '%Y-%m-%d %H:%M:%S');
- int-ish outputs cast to INT or BIGINT explicitly on both sides;
- per-point queries keyed on raw parquet doubles wherever a comparison
  (>, bucket edge) could flip under floating-point reassociation.

The canonical long series used below:
- ``raw``:    events -> (series_id=event_type, time=ts, value)
- ``hourly``: raw aggregated to an hourly avg grid
- ``daily``:  raw aggregated to a daily avg grid
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kats_spark import cache
from kats_spark.cache import prepared
from kats_spark.functions import calendar, metrics as M, rolling, stats, ta
from kats_spark.operators import decomposition, dedup, mk, resample, robust_stat
from kats_spark.operators import similarity, statsig, text, trend
from kats_spark.sources.load import read_parquet
from kats_spark.tsframe import DEFAULT as S


def _rnd(col, d=6):
    """Round with a +1e-9 epsilon shift, applied identically in the DuckDB
    oracles: keeps exact decimal half-boundary values (which the two
    engines round in opposite directions) off the rounding lattice."""
    if isinstance(col, str):
        col = F.col(col)
    return F.round(col + F.lit(1.0e-9), d)


# --------------------------------------------------------------------------
# shared loaders
# --------------------------------------------------------------------------

def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # match DuckDB SQL semantics: x/0 -> NULL, no overflow errors
    spark.conf.set("spark.sql.ansi.enabled", "false")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events loader.  Driver-generated events.parquet has
    shipped `ts` as TIMESTAMP(NANOS) (which Spark's reader rejects -> read
    nanos as long, truncate to micros exactly like DuckDB's ns->us cast)
    and as plain timestamp[us] (Spark 4 infers TIMESTAMP_NTZ -> cast to the
    session-tz type; session tz is pinned UTC so the instant is identical
    to DuckDB's reading)."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":  # nanos read as long
        ev = ev.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("bigint")))
    elif ts_type != "timestamp":  # timestamp_ntz
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def raw_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)  # driver sessions are vanilla: pin TZ before any date math
    ev = load_events(spark, sf_dir)
    return ev.select(
        F.col("event_type").alias("series_id"),
        F.col("ts").alias("time"),
        F.col("value"),
    )


def hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event series, CACHED: the aggregated frame is tiny
    (hours x event types — orders of magnitude smaller than the raw
    events), and nearly every time-series query starts from it.  Spark's
    cache manager keys on the logical plan, so repeated calls across
    queries in one session share a single materialization instead of
    re-scanning events.parquet — the same pre-aggregate-then-cache move a
    100 TB pipeline makes."""
    # keyed on series_id BEFORE the cache: the AQE-coalesced grid agg
    # caches as ONE partition, so every consumer's first stage (the
    # window exchange's map side) ran single-task; hashing by series_id
    # first lays the cache out across the cores (in-session A/B over the
    # 9 heaviest TS consumers: 13.09 s vs 13.91 s best-of-4).  True
    # exchange ELIMINATION (canChangeCachedPlanOutputPartitioning=false
    # so windows could trust the cached layout) was A/B'd and is a net
    # LOSS — every other cached plan loses AQE coalescing; see
    # OPTIMIZATION_r13.md.  Registered with the cache so a memoized plan
    # over it re-registers the .cache() after an external clearCache.
    return cache.register(
        resample.aggregate_to_grid(raw_series(spark, sf_dir), 3600, "avg")
        .repartition("series_id")
        .cache()
    )


def daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cache.register(
        resample.aggregate_to_grid(raw_series(spark, sf_dir), 86400, "avg")
        .repartition("series_id")
        .cache()
    )


_RAW_SQL = """
  SELECT event_type AS series_id, ts AS time, value FROM events
"""

_HOURLY_SQL = """
  SELECT event_type AS series_id,
         to_timestamp((floor(epoch(ts))::BIGINT // 3600) * 3600) AS time,
         avg(value) AS value
  FROM events GROUP BY 1, 2
"""

_DAILY_SQL = """
  SELECT event_type AS series_id,
         to_timestamp((floor(epoch(ts))::BIGINT // 86400) * 86400) AS time,
         avg(value) AS value
  FROM events GROUP BY 1, 2
"""

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_DK_FMT = "%Y-%m-%d %H:%M:%S"


def _fmt_time(df: DataFrame) -> DataFrame:
    return df.withColumn("time", F.date_format("time", _TS_FMT))


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    return df.withColumns({c: _rnd(F.col(c), 6) for c in cols})


# --------------------------------------------------------------------------
# flagship + relational anchors
# --------------------------------------------------------------------------

@prepared
def q_daily_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: star join (broadcast dims) -> daily revenue series per
    region -> 7-day trailing MA.  The canonical 'build a series from a fact
    table, then window it' pipeline."""
    _utc(spark)
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    customer = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
    region = read_parquet(spark, f"{sf_dir}/region.parquet")
    daily = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("series_id"),
            F.date_trunc("day", "o_orderdate").alias("time"),
        )
        .agg(F.sum("o_totalprice").alias("value"), F.count("*").alias("n_orders"))
    )
    w = S.w().rowsBetween(-6, 0)
    out = daily.withColumn("ma7", F.avg("value").over(w))
    return _fmt_time(_r6(out, "value", "ma7")).select(
        "series_id", "time", "value", F.col("n_orders").cast("bigint").alias("n_orders"), "ma7"
    )


_Q_DAILY_REVENUE_SQL = f"""
WITH daily AS (
  SELECT r_name AS series_id,
         date_trunc('day', o_orderdate) AS time,
         sum(o_totalprice) AS value,
         count(*) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT series_id, strftime(time, '{_DK_FMT}') AS time,
       round(1e-9 + value, 6) AS value, n_orders::BIGINT AS n_orders,
       round(1e-9 + avg(value) OVER (PARTITION BY series_id ORDER BY time
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
FROM daily
"""


@prepared
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the aggregate-pushdown anchor."""
    _utc(spark)
    l = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _rnd(F.sum("l_quantity"), 4).alias("sum_qty"),
            _rnd(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            _rnd(F.sum(disc), 4).alias("sum_disc_price"),
            _rnd(F.sum(disc * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            _rnd(F.avg("l_quantity"), 6).alias("avg_qty"),
            _rnd(F.avg("l_extendedprice"), 6).alias("avg_price"),
            _rnd(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return out


_Q_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(1e-9 + sum(l_quantity), 4) AS sum_qty,
       round(1e-9 + sum(l_extendedprice), 4) AS sum_base_price,
       round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(1e-9 + sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(1e-9 + avg(l_quantity), 6) AS avg_qty,
       round(1e-9 + avg(l_extendedprice), 6) AS avg_price,
       round(1e-9 + avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# core time ops
# --------------------------------------------------------------------------

def q_hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate_to_grid — temporal rollup (reconciliation base op)."""
    return _fmt_time(_r6(hourly_series(spark, sf_dir), "value"))


_Q_HOURLY_SQL = f"""
SELECT series_id, strftime(time, '{_DK_FMT}') AS time, round(1e-9 + value, 6) AS value
FROM ({_HOURLY_SQL})
"""


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine regularization + forward fill (kats interpolate ffill).
    5-minute grid over the sparse 'purchase' series -> real gaps filled."""
    base = resample.aggregate_to_grid(
        raw_series(spark, sf_dir).filter(F.col("series_id") == "purchase"), 300, "avg"
    )
    out = resample.resample(base, 300, method="ffill")
    return _fmt_time(_r6(out, "value"))


_Q_RESAMPLE_FFILL_SQL = f"""
WITH base AS (
  SELECT event_type AS series_id,
         to_timestamp((floor(epoch(ts))::BIGINT // 300) * 300) AS time,
         avg(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), bounds AS (
  SELECT series_id, min(time) AS t0, max(time) AS t1 FROM base GROUP BY 1
), spine AS (
  SELECT series_id, unnest(generate_series(t0, t1, INTERVAL 300 SECONDS)) AS time
  FROM bounds
)
SELECT s.series_id, strftime(s.time, '{_DK_FMT}') AS time,
       round(1e-9 + last_value(b.value IGNORE NULLS) OVER (
         PARTITION BY s.series_id ORDER BY s.time
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
FROM spine s LEFT JOIN base b USING (series_id, time)
"""


@prepared
def q_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation on the same sparse grid."""
    base = resample.aggregate_to_grid(
        raw_series(spark, sf_dir).filter(F.col("series_id") == "purchase"), 300, "avg"
    )
    out = resample.resample(base, 300, method="linear")
    return _fmt_time(_r6(out, "value"))


_Q_RESAMPLE_LINEAR_SQL = f"""
WITH base AS (
  SELECT event_type AS series_id,
         to_timestamp((floor(epoch(ts))::BIGINT // 300) * 300) AS time,
         avg(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), bounds AS (
  SELECT series_id, min(time) AS t0, max(time) AS t1 FROM base GROUP BY 1
), spine AS (
  SELECT series_id, unnest(generate_series(t0, t1, INTERVAL 300 SECONDS)) AS time
  FROM bounds
), g AS (
  SELECT s.series_id, s.time, b.value AS obs,
         epoch(s.time)::DOUBLE AS t
  FROM spine s LEFT JOIN base b USING (series_id, time)
), f AS (
  SELECT *,
    last_value(obs IGNORE NULLS) OVER w_prev AS prev_v,
    first_value(obs IGNORE NULLS) OVER w_next AS next_v,
    last_value(CASE WHEN obs IS NOT NULL THEN t END IGNORE NULLS) OVER w_prev AS prev_t,
    first_value(CASE WHEN obs IS NOT NULL THEN t END IGNORE NULLS) OVER w_next AS next_t
  FROM g
  WINDOW
    w_prev AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT series_id, strftime(time, '{_DK_FMT}') AS time,
  round(1e-9 + coalesce(
    CASE WHEN obs IS NOT NULL THEN obs
         WHEN next_t = prev_t THEN prev_v
         ELSE prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t) END,
    prev_v, next_v), 6) AS value
FROM f
"""


# --------------------------------------------------------------------------
# rolling / detector scores
# --------------------------------------------------------------------------

@prepared
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = raw_series(spark, sf_dir)
    out = df.withColumn("z", rolling.z_score(24))
    return _fmt_time(_r6(out, "value", "z"))


_Q_ROLLING_Z_SQL = f"""
SELECT series_id, strftime(time, '{_DK_FMT}') AS time, round(1e-9 + value, 6) AS value,
  round(1e-9 + (value - avg(value) OVER w) / stddev_samp(value) OVER w, 6) AS z
FROM ({_RAW_SQL})
WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
"""


def q_rolling_zscore_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-proof tiled plan (rolling.segmented_score: fixed-size
    tiles + n-row carry, shuffle key (series_id, segment)) checked against
    the SAME oracle as the single-window z-score — the tiling is an
    execution strategy, not a semantic change, and the hash match proves
    it end-to-end."""
    df = raw_series(spark, sf_dir)
    out = rolling.segmented_score(df, n=24, segment_rows=512)
    return _fmt_time(_r6(out, "value", "score")).select(
        "series_id", "time", "value", F.col("score").alias("z")
    )


def q_rolling_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = raw_series(spark, sf_dir)
    out = df.withColumn("iqr_score", rolling.iqr_score(24)).withColumn(
        "iqr_median_dev", rolling.iqr_median_deviation(24)
    )
    return _fmt_time(_r6(out, "value", "iqr_score", "iqr_median_dev"))


_Q_ROLLING_IQR_SQL = f"""
SELECT series_id, strftime(time, '{_DK_FMT}') AS time, round(1e-9 + value, 6) AS value,
  round(1e-9 + (value - quantile_cont(value, 0.5) OVER w)
        / (quantile_cont(value, 0.75) OVER w - quantile_cont(value, 0.25) OVER w), 6) AS iqr_score,
  round(1e-9 + (value - quantile_cont(value, 0.5) OVER w)
        / quantile_cont(value, 0.5) OVER w, 6) AS iqr_median_dev
FROM ({_RAW_SQL})
WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
"""


def q_rolling_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = raw_series(spark, sf_dir)
    out = rolling.with_mad_scores(df, 24, mod_col="mod_z")
    return _fmt_time(_r6(out, "value", "mad_score", "mod_z"))


_Q_ROLLING_MAD_SQL = f"""
WITH arrs AS (
  SELECT series_id, time, value,
         list(value) OVER (PARTITION BY series_id ORDER BY time
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS arr
  FROM ({_RAW_SQL})
), m AS (
  SELECT *, list_sort(arr) AS sa, len(arr) AS n FROM arrs
), med AS (
  SELECT series_id, time, value, arr, n,
    CASE WHEN n = 0 THEN NULL
         WHEN n % 2 = 1 THEN sa[(n + 1) // 2]
         ELSE (sa[n // 2] + sa[n // 2 + 1]) / 2 END AS med
  FROM m
), dev AS (
  SELECT *, list_sort(list_transform(arr, x -> abs(x - med))) AS sd FROM med
)
SELECT series_id, strftime(time, '{_DK_FMT}') AS time, round(1e-9 + value, 6) AS value,
  round(1e-9 + (value - med) / (CASE WHEN n % 2 = 1 THEN sd[(n + 1) // 2]
                              ELSE (sd[n // 2] + sd[n // 2 + 1]) / 2 END), 6) AS mad_score,
  round(1e-9 + 0.6745 * (value - med) / (CASE WHEN n % 2 = 1 THEN sd[(n + 1) // 2]
                                       ELSE (sd[n // 2] + sd[n // 2 + 1]) / 2 END), 6) AS mod_z
FROM dev
"""


@prepared
def q_statsig(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = statsig.statsig_scores(raw_series(spark, sf_dir), n_control=100, n_test=20)
    return _fmt_time(
        _r6(out, "value", "mean_test", "mean_control", "stat_sig_score")
    )


_Q_STATSIG_SQL = f"""
SELECT series_id, strftime(time, '{_DK_FMT}') AS time, round(1e-9 + value, 6) AS value,
  round(1e-9 + avg(value) OVER wt, 6) AS mean_test,
  round(1e-9 + avg(value) OVER wc, 6) AS mean_control,
  round(1e-9 + CASE WHEN count(value) OVER wt = 20 AND count(value) OVER wc = 100
              AND sqrt(var_samp(value) OVER wt / 20 + var_samp(value) OVER wc / 100) > 0
        THEN (avg(value) OVER wt - avg(value) OVER wc)
             / sqrt(var_samp(value) OVER wt / 20 + var_samp(value) OVER wc / 100)
        END, 6) AS stat_sig_score
FROM ({_RAW_SQL})
WINDOW
  wt AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
  wc AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 119 PRECEDING AND 20 PRECEDING)
"""


def q_robust_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = robust_stat.robust_stat_scores(raw_series(spark, sf_dir), smoothing_window=5)
    return _fmt_time(_r6(out, "value", "robust_z")).select(
        "series_id", "time", "value", "robust_z",
        F.col("is_changepoint").cast("int").alias("is_changepoint"),
    )


_Q_ROBUST_SQL = f"""
WITH sm AS (
  SELECT series_id, time, value,
         avg(value) OVER (PARTITION BY series_id ORDER BY time
                          ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS s
  FROM ({_RAW_SQL})
), d AS (
  SELECT *, s - lag(s, 1) OVER (PARTITION BY series_id ORDER BY time) AS dd FROM sm
), st AS (
  SELECT series_id, median(dd) AS med,
         quantile_cont(dd, 0.75) AS q3, quantile_cont(dd, 0.25) AS q1
  FROM d WHERE dd IS NOT NULL GROUP BY 1
)
SELECT d.series_id, strftime(d.time, '{_DK_FMT}') AS time, round(1e-9 + d.value, 6) AS value,
  round(1e-9 + CASE WHEN (st.q3 - st.q1) / 1.349 > 0 THEN (d.dd - st.med) / ((st.q3 - st.q1) / 1.349) END, 6) AS robust_z,
  CAST(CASE WHEN (st.q3 - st.q1) / 1.349 > 0
        THEN abs((d.dd - st.med) / ((st.q3 - st.q1) / 1.349)) > 3.0 END AS INT) AS is_changepoint
FROM d JOIN st ON d.series_id = st.series_id
"""


def q_cusum_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stats.cusum_transform(raw_series(spark, sf_dir))
    return _fmt_time(_r6(out, "value", "cusum"))


_Q_CUSUM_SQL = f"""
WITH m AS (SELECT series_id, avg(value) AS mu FROM ({_RAW_SQL}) GROUP BY 1)
SELECT r.series_id, strftime(r.time, '{_DK_FMT}') AS time, round(1e-9 + r.value, 6) AS value,
  round(1e-9 + sum(r.value - m.mu) OVER (PARTITION BY r.series_id ORDER BY r.time
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cusum
FROM ({_RAW_SQL}) r JOIN m ON r.series_id = m.series_id
"""


# --------------------------------------------------------------------------
# Mann-Kendall
# --------------------------------------------------------------------------

def q_mk_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = mk.mk_statistic(daily_series(spark, sf_dir))
    return _r6(out, "mk_s", "tau", "var_s", "z")


_Q_MK_SQL = f"""
WITH d AS ({_DAILY_SQL}),
pairs AS (
  SELECT a.series_id, sum(sign(b.value - a.value)) AS s
  FROM d a JOIN d b ON a.series_id = b.series_id AND a.time < b.time
  GROUP BY 1
),
n AS (SELECT series_id, count(*)::DOUBLE AS n FROM d GROUP BY 1),
ties AS (
  SELECT series_id, sum(c * (c - 1) * (2 * c + 5)) AS tie_adj
  FROM (SELECT series_id, value, count(*)::DOUBLE AS c FROM d GROUP BY 1, 2 HAVING count(*) > 1)
  GROUP BY 1
)
SELECT p.series_id,
  round(1e-9 + p.s, 6) AS mk_s,
  round(1e-9 + p.s / (n.n * (n.n - 1) / 2), 6) AS tau,
  round(1e-9 + (n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_adj, 0)) / 18, 6) AS var_s,
  round(1e-9 + CASE WHEN p.s > 0 THEN (p.s - 1) / sqrt((n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_adj, 0)) / 18)
             WHEN p.s < 0 THEN (p.s + 1) / sqrt((n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_adj, 0)) / 18)
             ELSE 0 END, 6) AS z
FROM pairs p JOIN n ON p.series_id = n.series_id
LEFT JOIN ties t ON p.series_id = t.series_id
"""


@prepared
def q_mk_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = mk.mk_rolling(hourly_series(spark, sf_dir), window_size=24)
    return _fmt_time(_r6(out, "mk_s", "tau"))


_Q_MK_ROLLING_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
arrs AS (
  SELECT series_id, time,
         list(value) OVER (PARTITION BY series_id ORDER BY time
                           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS l
  FROM h
)
SELECT series_id, strftime(time, '{_DK_FMT}') AS time,
  round(1e-9 + CASE WHEN len(l) = 24 THEN
    list_sum(list_transform(range(2, len(l) + 1),
      j -> list_sum(list_transform(l[1:j-1], x -> sign(l[j] - x))))) END, 6) AS mk_s,
  round(1e-9 + CASE WHEN len(l) = 24 THEN
    list_sum(list_transform(range(2, len(l) + 1),
      j -> list_sum(list_transform(l[1:j-1], x -> sign(l[j] - x))))) / 276.0 END, 6) AS tau
FROM arrs
"""


@prepared
def q_mk_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significance-classified rolling MK (the detector gate, not just the
    statistic): tie-corrected variance, continuity-corrected z, two-sided
    alpha=0.05."""
    out = mk.mk_detect(hourly_series(spark, sf_dir), window_size=24, alpha=0.05)
    return _fmt_time(_r6(out, "mk_s", "z")).select(
        "series_id", "time", "mk_s", "z", "trend_direction"
    )


def _mk_detect_sql() -> str:
    from kats_spark.operators.interval import norm_ppf

    zcrit = float(norm_ppf(1.0 - 0.05 / 2.0))
    # n(n-1)(2n+5) for n=24
    nn = 24.0 * 23.0 * 53.0
    s_expr = (
        "list_sum(list_transform(range(2, len(l) + 1), "
        "j -> list_sum(list_transform(l[1:j-1], x -> sign(l[j] - x)))))"
    )
    tie = (
        "list_sum(list_transform("
        "list_transform(list_distinct(l), d -> len(list_filter(l, x -> x = d))::DOUBLE), "
        "t -> t * (t - 1) * (2 * t + 5)))"
    )
    return f"""
WITH h AS ({_HOURLY_SQL}),
arrs AS (
  SELECT series_id, time,
         list(value) OVER (PARTITION BY series_id ORDER BY time
                           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS l
  FROM h
),
sc AS (
  SELECT series_id, time,
    {s_expr} AS s,
    ({nn!r} - {tie}) / 18.0 AS v
  FROM arrs WHERE len(l) = 24
),
zc AS (
  SELECT series_id, time, s,
    CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
         WHEN s < 0 THEN (s + 1) / sqrt(v)
         ELSE 0.0 END AS z
  FROM sc
)
SELECT series_id, strftime(time, '{_DK_FMT}') AS time,
  round(1e-9 + s, 6) AS mk_s, round(1e-9 + z, 6) AS z,
  CASE WHEN z > 0 THEN 'up' WHEN z < 0 THEN 'down' ELSE 'no_trend' END AS trend_direction
FROM zc WHERE abs(z) > {zcrit!r}
"""


@prepared
def q_acf_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACFDetector seasonality presence + pruned cycle lengths
    (Bartlett CIs, greedy-equivalent divisor pruning) — full oracle."""
    from kats_spark.functions.acf import acf_seasonality_detect

    return acf_seasonality_detect(hourly_series(spark, sf_dir), lags=36, alpha=0.01)


def _acf_seasonality_sql(lags: int = 36, alpha: float = 0.01, diff: int = 1) -> str:
    from kats_spark.operators.interval import norm_ppf

    z = float(norm_ppf(1.0 - alpha / 2.0))
    # diff chain: d1 = value - lag(value), d2 = d1 - lag(d1), ...
    diff_ctes = []
    src, col = "h", "value"
    for i in range(1, diff + 1):
        diff_ctes.append(
            f"d{i} AS (\n  SELECT series_id, time, {col} - lag({col}) OVER "
            f"(PARTITION BY series_id ORDER BY time) AS d{i}v FROM {src}\n)"
        )
        src, col = f"d{i}", f"d{i}v"
    diff_sql = ("," + ",\n".join(diff_ctes)) if diff_ctes else ""
    ks = range(1, lags + 1)
    lag_cols = ",\n    ".join(f"lag(c, {k}) OVER w AS c{k}" for k in ks)
    sum_cols = ",\n    ".join(f"sum(c * c{k}) AS s{k}" for k in ks)
    r_cols = ",\n    ".join(f"s{k} / ss AS r{k}" for k in ks)
    det_cols = []
    cum = "1.0"
    for k in ks:
        if k >= 2:
            det_cols.append(
                f"(r{k} - {z!r} * sqrt(({cum}) / n)) >= 0 AS det{k}"
            )
        cum = f"({cum} + (2.0 * r{k}) * r{k})"
    det_sql = ",\n    ".join(det_cols)
    cases = []
    for k in range(2, lags + 1):
        conds = [f"det{k}"] + [
            f"NOT det{j}" for j in range(2, k) if k % j == 0
        ]
        cases.append(f"CASE WHEN {' AND '.join(conds)} THEN {k} END")
    case_sql = ",\n      ".join(cases)
    return f"""
WITH h AS ({_HOURLY_SQL}){diff_sql},
c0 AS (
  SELECT series_id, time, {col} - avg({col}) OVER (PARTITION BY series_id) AS c FROM {src}
),
l AS (
  SELECT series_id, c,
    {lag_cols}
  FROM c0 WINDOW w AS (PARTITION BY series_id ORDER BY time)
),
a AS (
  SELECT series_id, count(c)::DOUBLE AS n, sum(c * c) AS ss,
    {sum_cols}
  FROM l GROUP BY 1
),
r AS (
  SELECT series_id, n,
    {r_cols}
  FROM a
),
det AS (
  SELECT series_id,
    {det_sql}
  FROM r
),
sa AS (
  SELECT series_id,
    list_filter([
      {case_sql}
    ], x -> x IS NOT NULL) AS arr
  FROM det
)
SELECT series_id, (len(arr) > 0)::INT AS seasonality_presence,
  coalesce(array_to_string(arr, ','), '') AS seasonalities
FROM sa
"""


# --------------------------------------------------------------------------
# trend models (closed-form OLS)
# --------------------------------------------------------------------------

@prepared
def q_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = trend.linear_forecast(hourly_series(spark, sf_dir), steps=24, freq_seconds=3600)
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_LINEAR_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, value,
         (row_number() OVER (PARTITION BY series_id ORDER BY time) - 1)::DOUBLE AS x,
         max(time) OVER (PARTITION BY series_id) AS tmax
  FROM h
),
m AS (
  SELECT series_id, any_value(tmax) AS tmax,
    count(*)::DOUBLE AS n, sum(x) AS sx, sum(x * x) AS sx2,
    sum(value) AS sy, sum(x * value) AS sxy, sum(value * value) AS sy2
  FROM idx GROUP BY 1
),
fit AS (
  SELECT series_id, tmax, n,
    (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS b,
    sy / n - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx / n AS a,
    sx2 - sx * sx / n AS sxx, sx / n AS mean_x,
    (sy2 - (sy / n - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx / n) * sy
         - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sxy) / (n - 2) AS mse
  FROM m
)
SELECT series_id,
  strftime(tmax + to_seconds(h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + a + b * (n - 1 + h), 6) AS fcst,
  round(1e-9 + a + b * (n - 1 + h) - 1.959963984540054
        * sqrt(mse * (1 + 1 / n + pow(n - 1 + h - mean_x, 2) / sxx)), 6) AS fcst_lower,
  round(1e-9 + a + b * (n - 1 + h) + 1.959963984540054
        * sqrt(mse * (1 + 1 / n + pow(n - 1 + h - mean_x, 2) / sxx)), 6) AS fcst_upper
FROM fit, (SELECT unnest(generate_series(1, 24))::DOUBLE AS h)
"""


def q_quadratic_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = trend.quadratic_forecast(hourly_series(spark, sf_dir), steps=24, freq_seconds=3600)
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_QUAD_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, value,
         (row_number() OVER (PARTITION BY series_id ORDER BY time) - 1)::DOUBLE AS x,
         max(time) OVER (PARTITION BY series_id) AS tmax
  FROM h
),
m AS (
  SELECT series_id, any_value(tmax) AS tmax,
    count(*)::DOUBLE AS n, sum(x) AS sx, sum(x ^ 2) AS sx2, sum(x ^ 3) AS sx3,
    sum(x ^ 4) AS sx4, sum(value) AS sy, sum(x * value) AS sxy,
    sum(x * x * value) AS sx2y, sum(value * value) AS sy2
  FROM idx GROUP BY 1
),
fit AS (
  SELECT series_id, tmax, n, sy, sxy, sx2y, sy2,
    n  * (sx2 * sx4 - sx3 * sx3) - sx * (sx * sx4 - sx3 * sx2) + sx2 * (sx * sx3 - sx2 * sx2) AS D,
    sy * (sx2 * sx4 - sx3 * sx3) - sx * (sxy * sx4 - sx3 * sx2y) + sx2 * (sxy * sx3 - sx2 * sx2y) AS Da,
    n * (sxy * sx4 - sx3 * sx2y) - sy * (sx * sx4 - sx3 * sx2) + sx2 * (sx * sx2y - sxy * sx2) AS Db,
    n * (sx2 * sx2y - sxy * sx3) - sx * (sx * sx2y - sxy * sx2) + sy * (sx * sx3 - sx2 * sx2) AS Dc
  FROM m
),
co AS (
  SELECT series_id, tmax, n,
    Da / D AS c0, Db / D AS c1, Dc / D AS c2,
    (sy2 - Da / D * sy - Db / D * sxy - Dc / D * sx2y) / (n - 3) AS mse
  FROM fit
)
SELECT series_id,
  strftime(tmax + to_seconds(h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + c0 + c1 * (n - 1 + h) + c2 * (n - 1 + h) * (n - 1 + h), 6) AS fcst,
  round(1e-9 + c0 + c1 * (n - 1 + h) + c2 * (n - 1 + h) * (n - 1 + h)
        - 1.959963984540054 * sqrt(mse * (1 + 1 / n)), 6) AS fcst_lower,
  round(1e-9 + c0 + c1 * (n - 1 + h) + c2 * (n - 1 + h) * (n - 1 + h)
        + 1.959963984540054 * sqrt(mse * (1 + 1 / n)), 6) AS fcst_upper
FROM co, (SELECT unnest(generate_series(1, 24))::DOUBLE AS h)
"""


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

@prepared
def q_metrics_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All closed-form error metrics of the naive lag-1 forecast, per series
    (kats/metrics/metrics.py registry as one agg)."""
    df = raw_series(spark, sf_dir)
    with_pred = df.withColumn("yhat", F.lag("value").over(S.w())).filter(
        F.col("yhat").isNotNull()
    )
    y, yh = "value", "yhat"
    out = with_pred.groupBy("series_id").agg(
        _rnd(M.mean_error(y, yh), 6).alias("me"),
        _rnd(M.mean_absolute_error(y, yh), 6).alias("mae"),
        _rnd(M.median_absolute_error(y, yh), 6).alias("mdae"),
        _rnd(M.max_error(y, yh), 6).alias("max_error"),
        _rnd(M.mean_squared_error(y, yh), 6).alias("mse"),
        _rnd(M.root_mean_squared_error(y, yh), 6).alias("rmse"),
        _rnd(M.mean_absolute_percentage_error(y, yh), 6).alias("mape"),
        _rnd(M.symmetric_mean_absolute_percentage_error(y, yh), 6).alias("smape"),
        _rnd(M.mean_percentage_error(y, yh), 6).alias("mpe"),
        _rnd(M.root_mean_squared_percentage_error(y, yh), 6).alias("rmspe"),
        _rnd(M.tracking_signal(y, yh), 6).alias("tracking_signal"),
        _rnd(M.exceed_rate(y, yh), 6).alias("exceed"),
        _rnd(M.pinball_loss(y, yh, 0.9), 6).alias("pinball_09"),
    )
    return out


_Q_METRICS_SQL = f"""
WITH p AS (
  SELECT series_id, value AS y,
         lag(value) OVER (PARTITION BY series_id ORDER BY time) AS yhat
  FROM ({_RAW_SQL})
)
SELECT series_id,
  round(1e-9 + avg(y - yhat), 6) AS me,
  round(1e-9 + avg(abs(y - yhat)), 6) AS mae,
  round(1e-9 + median(abs(y - yhat)), 6) AS mdae,
  round(1e-9 + max(abs(y - yhat)), 6) AS max_error,
  round(1e-9 + avg((y - yhat) * (y - yhat)), 6) AS mse,
  round(1e-9 + sqrt(avg((y - yhat) * (y - yhat))), 6) AS rmse,
  round(1e-9 + avg(abs(y - yhat) / abs(y)), 6) AS mape,
  round(1e-9 + avg(2 * abs(y - yhat) / (abs(y) + abs(yhat))), 6) AS smape,
  round(1e-9 + avg((y - yhat) / y), 6) AS mpe,
  round(1e-9 + sqrt(avg(((y - yhat) / y) * ((y - yhat) / y))), 6) AS rmspe,
  round(1e-9 + sum(y - yhat) / avg(abs(y - yhat)), 6) AS tracking_signal,
  round(1e-9 + avg(CASE WHEN yhat > y THEN 1.0 ELSE 0.0 END), 6) AS exceed,
  round(1e-9 + avg(CASE WHEN y - yhat >= 0 THEN 0.9 * (y - yhat)
                 ELSE -0.1 * (y - yhat) END), 6) AS pinball_09
FROM p WHERE yhat IS NOT NULL
GROUP BY series_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): attach to each daily point the most
    recent hourly value at-or-before it, per series — the stacked-window
    plan (one exchange, no join, linear in |L|+|R|)."""
    from kats_spark.operators import asof

    daily = daily_series(spark, sf_dir)
    hourly = hourly_series(spark, sf_dir)
    out = asof.asof_join(daily, hourly)
    return _fmt_time(_r6(out, "value", "asof_value"))


_Q_ASOF_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
d AS ({_DAILY_SQL}),
stacked AS (
  SELECT series_id, time AS t, 1 AS side, NULL::DOUBLE AS rv, value AS lv FROM d
  UNION ALL
  SELECT series_id, time AS t, 0 AS side, value AS rv, NULL::DOUBLE AS lv FROM h
),
m AS (
  SELECT series_id, t, side, lv,
    last_value(rv IGNORE NULLS) OVER (
      PARTITION BY series_id ORDER BY t, side
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM stacked
)
SELECT series_id, strftime(t, '{_DK_FMT}') AS time,
       round(1e-9 + lv, 6) AS value, round(1e-9 + v, 6) AS asof_value
FROM m WHERE side = 1
"""


def q_metrics_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/interval error metrics of the seasonal-naive (lag-24)
    forecast on the hourly series: CRPS + LEPS (stacked-ECDF windows,
    kats/metrics/metrics.py:305,352), MASE (:466), sSMAPE (:614), sbias
    (:633), frequency-exceed (:335), directional quantile exceeds (:762),
    coverage (:786) and Winkler interval score (:828) of the ±1.96·σ̂
    naive band."""
    df = hourly_series(spark, sf_dir)
    w = S.w()
    base = (
        df.withColumn("yhat", F.lag("value", 24).over(w))
        .withColumn("naive_diff", F.abs(F.col("value") - F.lag("value", 1).over(w)))
        .filter(F.col("yhat").isNotNull() & F.col("naive_diff").isNotNull())
    )
    sd = F.stddev_samp(F.col("value") - F.col("yhat")).over(
        Window.partitionBy("series_id")
    )
    base = (
        base.withColumn("lo", F.col("yhat") - 1.959963984540054 * sd)
        .withColumn("hi", F.col("yhat") + 1.959963984540054 * sd)
    )
    y, yh = "value", "yhat"
    aggs = base.groupBy("series_id").agg(
        _rnd(M.mean_absolute_scaled_error(y, yh, "naive_diff"), 6).alias("mase"),
        _rnd(M.scaled_symmetric_mean_absolute_percentage_error(y, yh), 6).alias("ssmape"),
        _rnd(M.symmetric_bias(y, yh), 6).alias("sbias"),
        _rnd(M.frequency_exceeds_relative_threshold(y, yh, 1.05), 6).alias("freq_exceed_105"),
        _rnd(M.exceed_at(y, yh, 0.25), 6).alias("exceed_025"),
        _rnd(M.exceed_at(y, yh, 0.75), 6).alias("exceed_075"),
        _rnd(M.coverage(y, "lo", "hi"), 6).alias("coverage_95"),
        _rnd(M.interval_score(y, "lo", "hi", 0.05), 6).alias("interval_score_95"),
    )
    ecdf = M.ecdf_error_scores(base, "series_id", "time", y, yh)
    ecdf = ecdf.select(
        "series_id", _rnd("crps", 6).alias("crps"), _rnd("leps", 6).alias("leps")
    )
    return aggs.join(ecdf, "series_id")


_Q_METRICS_DIST_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
p0 AS (
  SELECT series_id, time, value AS y,
         lag(value, 24) OVER w AS yhat,
         abs(value - lag(value, 1) OVER w) AS naive_diff
  FROM h WINDOW w AS (PARTITION BY series_id ORDER BY time)
),
p AS (SELECT * FROM p0 WHERE yhat IS NOT NULL AND naive_diff IS NOT NULL),
b AS (
  SELECT *,
    yhat - 1.959963984540054 * stddev_samp(y - yhat) OVER (PARTITION BY series_id) AS lo,
    yhat + 1.959963984540054 * stddev_samp(y - yhat) OVER (PARTITION BY series_id) AS hi
  FROM p
),
aggs AS (
  SELECT series_id,
    round(1e-9 + avg(abs(y - yhat)) / avg(naive_diff), 6) AS mase,
    round(1e-9 + avg(abs(y - yhat) / (abs(y) + abs(yhat))), 6) AS ssmape,
    round(1e-9 + -2 * avg((y - yhat) / (abs(y) + abs(yhat))), 6) AS sbias,
    round(1e-9 + avg(CASE WHEN y >= 1.05 * yhat THEN 1.0 ELSE 0.0 END), 6) AS freq_exceed_105,
    round(1e-9 + avg(CASE WHEN (y - yhat) * -1 > 0 THEN 1.0 ELSE 0.0 END), 6) AS exceed_025,
    round(1e-9 + avg(CASE WHEN (y - yhat) > 0 THEN 1.0 ELSE 0.0 END), 6) AS exceed_075,
    round(1e-9 + avg(CASE WHEN y >= lo AND y <= hi THEN 1.0 ELSE 0.0 END), 6) AS coverage_95,
    round(1e-9 + avg((hi - lo)
      + CASE WHEN y < lo THEN (2 / 0.05) * (lo - y) ELSE 0 END
      + CASE WHEN y > hi THEN (2 / 0.05) * (y - hi) ELSE 0 END), 6) AS interval_score_95
  FROM b GROUP BY series_id
),
stacked AS (
  SELECT series_id, time, y AS v, 1 AS is_y FROM p
  UNION ALL
  SELECT series_id, time, yhat AS v, 0 AS is_y FROM p
),
e AS (
  SELECT series_id, time, is_y,
    sum(is_y) OVER (PARTITION BY series_id ORDER BY v)::DOUBLE
      / sum(is_y) OVER (PARTITION BY series_id) AS e
  FROM stacked
),
pairs AS (
  SELECT series_id, time,
    max(CASE WHEN is_y = 1 THEN e END) AS ey,
    max(CASE WHEN is_y = 0 THEN e END) AS ep
  FROM e GROUP BY series_id, time
),
ecdf AS (
  SELECT series_id,
    round(1e-9 + avg((ep - ey) * (ep - ey)), 6) AS crps,
    round(1e-9 + avg(abs(ep - ey)), 6) AS leps
  FROM pairs GROUP BY series_id
)
SELECT a.*, e.crps, e.leps FROM aggs a JOIN ecdf e USING (series_id)
"""


# --------------------------------------------------------------------------
# calendar / fourier features
# --------------------------------------------------------------------------

def q_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    days = orders.select(F.date_trunc("day", "o_orderdate").alias("time")).distinct()
    feats = calendar.date_features("time")
    out = days.withColumns({k: v.cast("int") for k, v in feats.items()})
    return out.withColumn("time", F.date_format("time", "yyyy-MM-dd"))


_Q_DATE_FEATURES_SQL = """
WITH days AS (SELECT DISTINCT date_trunc('day', o_orderdate) AS time FROM orders)
SELECT strftime(time, '%Y-%m-%d') AS time,
  CAST(year(time) AS INT) AS year,
  CAST(month(time) AS INT) AS month,
  CAST(day(time) AS INT) AS day,
  CAST(isodow(time) - 1 AS INT) AS dayofweek,
  CAST(dayofyear(time) AS INT) AS dayofyear,
  CAST(quarter(time) AS INT) AS quarter,
  CAST((month(time) % 12) // 3 AS INT) AS season,
  CAST(weekofyear(time) AS INT) AS weekofyear,
  CAST((day(time) - 1) // 7 + 1 AS INT) AS weekofmonth,
  CAST(isodow(time) >= 6 AS INT) AS is_weekend,
  CAST((year(time) % 4 = 0 AND year(time) % 100 <> 0) OR year(time) % 400 = 0 AS INT) AS is_leap_year,
  CAST(month(time) = 2 AND day(time) = 29 AS INT) AS is_leap_day,
  CAST(day(time) = day(last_day(time::DATE)) AS INT) AS is_month_end,
  CAST(day(time) = day(last_day(time::DATE)) AND month(time) % 3 = 0 AS INT) AS is_quarter_end
FROM days
"""


def q_fourier_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    days = orders.select(F.date_trunc("day", "o_orderdate").alias("time")).distinct()
    feats = calendar.fourier_features("time", period_seconds=7 * 86400.0, order=2)
    out = days.withColumns({k: _rnd(v, 6) for k, v in feats.items()})
    return out.withColumn("time", F.date_format("time", "yyyy-MM-dd"))


_Q_FOURIER_SQL = """
WITH days AS (SELECT DISTINCT date_trunc('day', o_orderdate) AS time FROM orders)
SELECT strftime(time, '%Y-%m-%d') AS time,
  round(1e-9 + sin(epoch(time)::DOUBLE * (2 * pi() * 1 / 604800)), 6) AS fourier_sin_1,
  round(1e-9 + cos(epoch(time)::DOUBLE * (2 * pi() * 1 / 604800)), 6) AS fourier_cos_1,
  round(1e-9 + sin(epoch(time)::DOUBLE * (2 * pi() * 2 / 604800)), 6) AS fourier_sin_2,
  round(1e-9 + cos(epoch(time)::DOUBLE * (2 * pi() * 2 / 604800)), 6) AS fourier_cos_2
FROM days
"""


# --------------------------------------------------------------------------
# tsfeatures (expression group)
# --------------------------------------------------------------------------

@prepared
def q_ts_stat_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One feature row per series: basic stats + lumpiness + stability +
    crossing_points + binarize_mean + std1st_der + flat_spots +
    histogram_mode (tsfeatures statistics group)."""
    df = raw_series(spark, sf_dir)
    out = stats.stats_bundle(df, window_size=48, n_buckets=10)
    return out.select(
        "series_id",
        F.col("length").cast("bigint").alias("length"),
        _rnd("mean", 6).alias("mean"),
        _rnd("var", 6).alias("var"),
        _rnd("lumpiness", 6).alias("lumpiness"),
        _rnd("stability", 6).alias("stability"),
        F.col("crossing_points").cast("bigint").alias("crossing_points"),
        _rnd("binarize_mean", 6).alias("binarize_mean"),
        _rnd("std1st_der", 6).alias("std1st_der"),
        F.col("flat_spots").cast("bigint").alias("flat_spots"),
        _rnd("histogram_mode", 6).alias("histogram_mode"),
    )


_Q_TSFEAT_SQL = f"""
WITH r AS ({_RAW_SQL}),
idx AS (
  SELECT series_id, time, value,
         row_number() OVER (PARTITION BY series_id ORDER BY time) - 1 AS rn,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM r
),
base AS (
  SELECT series_id, count(*)::BIGINT AS length, avg(value) AS mean,
         var_pop(value) AS var, min(value) AS lo, max(value) AS hi,
         median(value) AS med
  FROM r GROUP BY 1
),
chunked AS (
  -- np.array_split tiling (tsfeatures.py:661): k = n//48 + 1 chunks,
  -- the first n%k of size n//k + 1
  SELECT series_id, value,
    CASE WHEN rn < (n % (n // 48 + 1)) * (n // (n // 48 + 1) + 1)
         THEN rn // (n // (n // 48 + 1) + 1)
         ELSE (n % (n // 48 + 1))
              + (rn - (n % (n // 48 + 1)) * (n // (n // 48 + 1) + 1))
                // (n // (n // 48 + 1))
    END AS tile
  FROM idx
),
tiles AS (
  SELECT series_id, tile, var_pop(value) AS tv, avg(value) AS tm
  FROM chunked GROUP BY 1, 2
),
lum AS (
  SELECT series_id, var_pop(tv) AS lumpiness, var_pop(tm) AS stability
  FROM tiles GROUP BY 1
),
flags AS (
  SELECT i.series_id,
         CAST(i.value > b.med AS INT) AS b,
         lag(CAST(i.value > b.med AS INT)) OVER w AS pb,
         CAST(i.value > b.mean AS INT) AS above_mean,
         CASE WHEN lag(i.value) OVER w IS NULL THEN lead(i.value) OVER w - i.value
              WHEN lead(i.value) OVER w IS NULL THEN i.value - lag(i.value) OVER w
              ELSE (lead(i.value) OVER w - lag(i.value) OVER w) / 2 END AS g
  FROM idx i JOIN base b USING (series_id)
  WINDOW w AS (PARTITION BY i.series_id ORDER BY i.time)
),
cp AS (
  SELECT series_id, sum(CASE WHEN b <> pb THEN 1 ELSE 0 END)::BIGINT AS crossing_points,
         avg(above_mean::DOUBLE) AS binarize_mean,
         stddev_pop(g) AS std1st_der
  FROM flags GROUP BY 1
),
starts AS (
  -- flat_spots (tsfeatures.py:872): runs of EQUAL values inside
  -- n//10-wide TIME segments; a run breaks at segment boundaries
  SELECT series_id, time,
    CASE WHEN value = lag(value) OVER (PARTITION BY series_id ORDER BY time)
          AND rn // (n // 10) = (rn - 1) // (n // 10)
         THEN 0 ELSE 1 END AS is_start
  FROM idx
),
runs AS (
  SELECT series_id, time,
    sum(is_start) OVER (PARTITION BY series_id ORDER BY time
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM starts
),
fs AS (
  SELECT series_id, max(c)::BIGINT AS flat_spots
  FROM (SELECT series_id, run_id, count(*) AS c FROM runs GROUP BY 1, 2)
  GROUP BY 1
),
hmode AS (
  SELECT series_id, lo + bkt * ((hi - lo) / 10) AS histogram_mode
  FROM (
    SELECT b.series_id, least(9, floor((i.value - b.lo) / ((b.hi - b.lo) / 10)))::INT AS bkt,
           any_value(b.lo) AS lo, any_value(b.hi) AS hi, count(*) AS c,
           row_number() OVER (PARTITION BY b.series_id ORDER BY count(*) DESC,
             least(9, floor((i.value - b.lo) / ((b.hi - b.lo) / 10)))::INT ASC) AS rk
    FROM idx i JOIN base b USING (series_id)
    GROUP BY 1, 2
  ) WHERE rk = 1
)
SELECT b.series_id, b.length, round(1e-9 + b.mean, 6) AS mean, round(1e-9 + b.var, 6) AS var,
  round(1e-9 + l.lumpiness, 6) AS lumpiness, round(1e-9 + l.stability, 6) AS stability,
  c.crossing_points, round(1e-9 + c.binarize_mean, 6) AS binarize_mean,
  round(1e-9 + c.std1st_der, 6) AS std1st_der, f.flat_spots,
  round(1e-9 + h.histogram_mode, 6) AS histogram_mode
FROM base b JOIN lum l USING (series_id) JOIN cp c USING (series_id)
JOIN fs f USING (series_id) JOIN hmode h USING (series_id)
"""


def q_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stats.level_shift_features(raw_series(spark, sf_dir), window_size=24)
    return out.select(
        "series_id",
        F.col("level_shift_idx").cast("bigint").alias("level_shift_idx"),
        _rnd("level_shift_size", 6).alias("level_shift_size"),
    )


_Q_LEVEL_SHIFT_SQL = f"""
WITH r AS ({_RAW_SQL}),
rm AS (
  -- SLIDING windows of width 24, stride 1 (tsfeatures.py:819-866):
  -- means[i] = mean(x[i:i+24]); jump[i] = |means[i+1] - means[i]|;
  -- series with n < 26 emit NULL/NULL like the operator's
  -- n >= window_size + 2 gate (the reference's NaN path — ADVICE r10)
  SELECT series_id, time,
    CASE WHEN count(value) OVER w = 24 THEN avg(value) OVER w END AS m,
    row_number() OVER (PARTITION BY series_id ORDER BY time) - 1 AS idx,
    count(*) OVER (PARTITION BY series_id) AS n
  FROM r
  WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
),
j AS (
  SELECT series_id, idx, n,
    abs(lead(m) OVER (PARTITION BY series_id ORDER BY time) - m) AS jump
  FROM rm
)
SELECT series_id,
  CASE WHEN n >= 26 THEN idx END::BIGINT AS level_shift_idx,
  CASE WHEN n >= 26 THEN round(1e-9 + jump, 6) END AS level_shift_size
FROM (
  SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY jump DESC NULLS LAST, idx ASC) AS rk
  FROM j
) WHERE rk = 1
"""


# --------------------------------------------------------------------------
# TA features
# --------------------------------------------------------------------------

def q_ta_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = raw_series(spark, sf_dir)
    mid, upper, lower = ta.bbands(20)
    out = df.withColumns(
        {
            "roc_12": ta.roc(12),
            "mom_12": ta.mom(12),
            "ma_12": ta.ma(12),
            "lag_12": ta.lag_feature(12),
            "bb_mid": mid,
            "bb_upper": upper,
            "bb_lower": lower,
        }
    )
    return _fmt_time(
        _r6(out, "value", "roc_12", "mom_12", "ma_12", "lag_12", "bb_mid", "bb_upper", "bb_lower")
    )


_Q_TA_SQL = f"""
SELECT series_id, strftime(time, '{_DK_FMT}') AS time, round(1e-9 + value, 6) AS value,
  round(1e-9 + (value - lag(value, 12) OVER w) / lag(value, 12) OVER w, 6) AS roc_12,
  round(1e-9 + value - lag(value, 12) OVER w, 6) AS mom_12,
  round(1e-9 + avg(value) OVER w12, 6) AS ma_12,
  round(1e-9 + lag(value, 12) OVER w, 6) AS lag_12,
  round(1e-9 + avg(value) OVER w20, 6) AS bb_mid,
  round(1e-9 + avg(value) OVER w20 + 2 * stddev_samp(value) OVER w20, 6) AS bb_upper,
  round(1e-9 + avg(value) OVER w20 - 2 * stddev_samp(value) OVER w20, 6) AS bb_lower
FROM ({_RAW_SQL})
WINDOW
  w AS (PARTITION BY series_id ORDER BY time),
  w12 AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
  w20 AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# decomposition
# --------------------------------------------------------------------------

@prepared
def q_ma_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = decomposition.ma_decompose(hourly_series(spark, sf_dir), period=24)
    return _fmt_time(_r6(out, "value", "trend", "seasonal", "residual"))


_Q_DECOMP_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, time, value,
         row_number() OVER (PARTITION BY series_id ORDER BY time) - 1 AS rn
  FROM h
),
tr AS (
  SELECT *,
    CASE WHEN count(value) OVER w = 25 THEN
      (sum(value) OVER w - first_value(value) OVER w / 2 - last_value(value) OVER w / 2) / 24
    END AS trend
  FROM idx
  WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
detr AS (SELECT *, value - trend AS dt, rn % 24 AS phase FROM tr),
pm AS (
  SELECT series_id, phase, avg(dt) AS pmv FROM detr WHERE dt IS NOT NULL GROUP BY 1, 2
),
gm AS (SELECT series_id, avg(pmv) AS g FROM pm GROUP BY 1),
seas AS (
  SELECT pm.series_id, pm.phase, pm.pmv - gm.g AS seasonal
  FROM pm JOIN gm ON pm.series_id = gm.series_id
)
SELECT d.series_id, strftime(d.time, '{_DK_FMT}') AS time, round(1e-9 + d.value, 6) AS value,
  round(1e-9 + d.trend, 6) AS trend, round(1e-9 + s.seasonal, 6) AS seasonal,
  round(1e-9 + d.value - d.trend - s.seasonal, 6) AS residual
FROM detr d LEFT JOIN seas s ON d.series_id = s.series_id AND d.phase = s.phase
"""


def q_decomp_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = decomposition.strength_features(hourly_series(spark, sf_dir), period=24)
    return _r6(out, "trend_strength", "seasonality_strength")


_Q_STRENGTH_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, time, value,
         row_number() OVER (PARTITION BY series_id ORDER BY time) - 1 AS rn
  FROM h
),
tr AS (
  SELECT *,
    CASE WHEN count(value) OVER w = 25 THEN
      (sum(value) OVER w - first_value(value) OVER w / 2 - last_value(value) OVER w / 2) / 24
    END AS trend
  FROM idx
  WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
detr AS (SELECT *, value - trend AS dt, rn % 24 AS phase FROM tr),
pm AS (SELECT series_id, phase, avg(dt) AS pmv FROM detr WHERE dt IS NOT NULL GROUP BY 1, 2),
gm AS (SELECT series_id, avg(pmv) AS g FROM pm GROUP BY 1),
seas AS (
  SELECT pm.series_id, pm.phase, pm.pmv - gm.g AS seasonal
  FROM pm JOIN gm ON pm.series_id = gm.series_id
),
full_d AS (
  SELECT d.series_id, d.value, d.trend, s.seasonal,
         d.value - d.trend - s.seasonal AS residual
  FROM detr d LEFT JOIN seas s ON d.series_id = s.series_id AND d.phase = s.phase
  WHERE d.trend IS NOT NULL
),
agg AS (
  SELECT series_id, var_samp(residual) AS vr,
         var_samp(value - seasonal) AS vds, var_samp(value - trend) AS vdt
  FROM full_d GROUP BY 1
)
SELECT series_id,
  round(1e-9 + greatest(0, 1 - vr / vds), 6) AS trend_strength,
  round(1e-9 + greatest(0, 1 - vr / vdt), 6) AS seasonality_strength
FROM agg
"""


# --------------------------------------------------------------------------
# sessionization (interval consolidation primitive)
# --------------------------------------------------------------------------

@prepared
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (30-min gap) — the interval
    consolidation primitive behind IntervalDetectorModel
    (kats/detectors/interval_detector.py:1-30 rejection-interval merge)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn("__new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    out = sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        _rnd(F.sum("value"), 6).alias("session_value"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).cast("bigint").alias("duration_s"),
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_id").cast("bigint").alias("session_id"),
        "n_events", "session_value", "duration_s",
    )


@prepared
def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` — the same
    30-min-gap semantics as ``q_sessionize``'s lag/cumsum plan (verified:
    a gap of exactly the window size still merges; a new session starts
    strictly beyond it), but expressed as the engine primitive that also
    runs unchanged under Structured Streaming (see
    tests/test_streaming.py::test_session_window_streaming_equals_batch).
    The oracle replays the merge rule in integer microseconds
    (``epoch_us``), because event times carry sub-second precision and
    the merge decision is exact micro arithmetic, not floored seconds."""
    ev = load_events(spark, sf_dir)
    out = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("__w")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        _rnd(F.sum("value"), 6).alias("session_value"),
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_timestamp("__w.start").cast("bigint").alias("session_start_s"),
        F.unix_timestamp("__w.end").cast("bigint").alias("session_end_s"),
        "n_events",
        "session_value",
    )


_Q_SESSION_NATIVE_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id::BIGINT AS user_id,
  (epoch_us(min(ts)) // 1000000)::BIGINT AS session_start_s,
  (epoch_us(max(ts)) // 1000000 + 1800)::BIGINT AS session_end_s,
  count(*)::BIGINT AS n_events, round(1e-9 + sum(value), 6) AS session_value
FROM s GROUP BY user_id, sid
"""


_Q_SESSION_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
    CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id::BIGINT AS user_id, session_id::BIGINT AS session_id,
  count(*)::BIGINT AS n_events, round(1e-9 + sum(value), 6) AS session_value,
  (floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT)::BIGINT AS duration_s
FROM s GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "daily_revenue_by_region": q_daily_revenue_by_region,
    "tpch_q1": q_tpch_q1,
    "hourly_rollup": q_hourly_series,
    "resample_ffill": q_resample_ffill,
    "resample_linear": q_resample_linear,
    "rolling_zscore": q_rolling_zscore,
    "rolling_iqr": q_rolling_iqr,
    "rolling_mad": q_rolling_mad,
    "statsig": q_statsig,
    "robust_stat": q_robust_stat,
    "cusum_transform": q_cusum_transform,
    "mk_statistic": q_mk_statistic,
    "mk_rolling": q_mk_rolling,
    "mk_detect": q_mk_detect,
    "acf_seasonality": q_acf_seasonality,
    "linear_forecast": q_linear_forecast,
    "quadratic_forecast": q_quadratic_forecast,
    "metrics_naive": q_metrics_naive,
    "metrics_dist": q_metrics_dist,
    "asof_join": q_asof_join,
    "date_features": q_date_features,
    "fourier_features": q_fourier_features,
    "ts_stat_features": q_ts_stat_features,
    "level_shift": q_level_shift,
    "ta_features": q_ta_features,
    "ma_decompose": q_ma_decompose,
    "decomp_strength": q_decomp_strength,
    "sessionize": q_sessionize,
    "sessionize_native": q_sessionize_native,
}

ORACLES = {
    "daily_revenue_by_region": _Q_DAILY_REVENUE_SQL,
    "tpch_q1": _Q_TPCH_Q1_SQL,
    "hourly_rollup": f"""
SELECT series_id, strftime(time, '{_DK_FMT}') AS time, round(1e-9 + value, 6) AS value
FROM ({_HOURLY_SQL})
""",
    "resample_ffill": _Q_RESAMPLE_FFILL_SQL,
    "resample_linear": _Q_RESAMPLE_LINEAR_SQL,
    "rolling_zscore": _Q_ROLLING_Z_SQL,
    "rolling_iqr": _Q_ROLLING_IQR_SQL,
    "rolling_mad": _Q_ROLLING_MAD_SQL,
    "statsig": _Q_STATSIG_SQL,
    "robust_stat": _Q_ROBUST_SQL,
    "cusum_transform": _Q_CUSUM_SQL,
    "mk_statistic": _Q_MK_SQL,
    "mk_rolling": _Q_MK_ROLLING_SQL,
    "mk_detect": _mk_detect_sql(),
    "acf_seasonality": _acf_seasonality_sql(),
    "linear_forecast": _Q_LINEAR_SQL,
    "quadratic_forecast": _Q_QUAD_SQL,
    "metrics_naive": _Q_METRICS_SQL,
    "metrics_dist": _Q_METRICS_DIST_SQL,
    "asof_join": _Q_ASOF_SQL,
    "date_features": _Q_DATE_FEATURES_SQL,
    "fourier_features": _Q_FOURIER_SQL,
    "ts_stat_features": _Q_TSFEAT_SQL,
    "level_shift": _Q_LEVEL_SHIFT_SQL,
    "ta_features": _Q_TA_SQL,
    "ma_decompose": _Q_DECOMP_SQL,
    "decomp_strength": _Q_STRENGTH_SQL,
    "sessionize": _Q_SESSION_SQL,
    "sessionize_native": _Q_SESSION_NATIVE_SQL,
}


# --------------------------------------------------------------------------
# round-1b additions: outlier, acf, ar2, backtest, interval, model zoo
# --------------------------------------------------------------------------

from kats_spark.functions import acf as acf_mod  # noqa: E402
from kats_spark.models import ar as ar_mod, fcst as fcst_mod  # noqa: E402
from kats_spark.operators import backtest as bt_mod  # noqa: E402
from kats_spark.operators import cusum as cusum_mod  # noqa: E402
from kats_spark.operators import interval as interval_mod  # noqa: E402
from kats_spark.operators import outlier as outlier_mod  # noqa: E402


def q_outlier_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = outlier_mod.outlier_detect(hourly_series(spark, sf_dir), period=24, iqr_mult=2.0)
    return _fmt_time(_r6(out, "value", "residual")).select(
        "series_id", "time", "value", "residual",
        F.col("is_outlier").cast("int").alias("is_outlier"),
    )


# Core CTE chain of the MA-decomposition outlier replay (through the
# bounds CTE), shared by the outlier_detect oracle and the
# tsfeatures_detector outlier-group aggregation (queries2.py).
_OUTLIER_CORE_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, time, value,
         row_number() OVER (PARTITION BY series_id ORDER BY time) - 1 AS rn
  FROM h
),
tr AS (
  SELECT *,
    CASE WHEN count(value) OVER w = 25 THEN
      (sum(value) OVER w - first_value(value) OVER w / 2 - last_value(value) OVER w / 2) / 24
    END AS trend
  FROM idx
  WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
detr AS (SELECT *, value - trend AS dt, rn % 24 AS phase FROM tr),
pm AS (SELECT series_id, phase, avg(dt) AS pmv FROM detr WHERE dt IS NOT NULL GROUP BY 1, 2),
gm AS (SELECT series_id, avg(pmv) AS g FROM pm GROUP BY 1),
seas AS (
  SELECT pm.series_id, pm.phase, pm.pmv - gm.g AS seasonal
  FROM pm JOIN gm ON pm.series_id = gm.series_id
),
full_d AS (
  SELECT d.series_id, d.time, d.value, d.trend,
         d.value - d.trend - s.seasonal AS residual
  FROM detr d LEFT JOIN seas s ON d.series_id = s.series_id AND d.phase = s.phase
),
bounds AS (
  SELECT series_id,
         quantile_cont(residual, 0.25) AS q1, quantile_cont(residual, 0.75) AS q3
  FROM full_d WHERE residual IS NOT NULL GROUP BY 1
)
"""

_Q_OUTLIER_SQL = _OUTLIER_CORE_SQL + f"""
SELECT f.series_id, strftime(f.time, '{_DK_FMT}') AS time,
  round(1e-9 + f.value, 6) AS value, round(1e-9 + f.residual, 6) AS residual,
  CASE WHEN f.residual IS NULL THEN 0
       WHEN f.residual < b.q1 - 2.0 * (b.q3 - b.q1)
         OR f.residual > b.q3 + 2.0 * (b.q3 - b.q1) THEN 1 ELSE 0 END::INT AS is_outlier
FROM full_d f JOIN bounds b ON f.series_id = b.series_id
"""


def q_stl_features_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stl_features group (tsfeatures.py:738-802) on the
    window-expressible centered-MA decomposition: strengths, LOO
    spikiness (O(n) closed form), peak/trough — FULL oracle; the
    loess-STL variant of the same block feeds tsfeatures() for
    reference parity and stays rows-covered."""
    from kats_spark.operators.tsfeatures import stl_features_block

    out = stl_features_block(hourly_series(spark, sf_dir), 24, method="ma")
    return out.select(
        "series_id",
        _rnd("trend_strength", 6).alias("trend_strength"),
        _rnd("seasonality_strength", 6).alias("seasonality_strength"),
        _rnd("spikiness", 6).alias("spikiness"),
        "peak",
        "trough",
    )


_Q_STL_FEAT_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, time, value,
         row_number() OVER (PARTITION BY series_id ORDER BY time) - 1 AS rn0
  FROM h
),
tr AS (
  SELECT *,
    CASE WHEN count(value) OVER w = 25 THEN
      (sum(value) OVER w - first_value(value) OVER w / 2 - last_value(value) OVER w / 2) / 24
    END AS trend
  FROM idx
  WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
detr AS (SELECT *, value - trend AS dt, rn0 % 24 AS phase FROM tr),
pm AS (SELECT series_id, phase, avg(dt) AS pmv FROM detr WHERE dt IS NOT NULL GROUP BY 1, 2),
gm AS (SELECT series_id, avg(pmv) AS g FROM pm GROUP BY 1),
seas AS (
  SELECT pm.series_id, pm.phase, pm.pmv - gm.g AS seasonal
  FROM pm JOIN gm ON pm.series_id = gm.series_id
),
valid AS (
  SELECT d.series_id, d.time, d.value, d.trend, s.seasonal,
         d.value - d.trend - s.seasonal AS residual,
         row_number() OVER (PARTITION BY d.series_id ORDER BY d.time) AS rn
  FROM detr d JOIN seas s ON d.series_id = s.series_id AND d.phase = s.phase
  WHERE d.trend IS NOT NULL
),
st AS (
  SELECT series_id, count(*)::DOUBLE AS n,
         sum(residual) AS s1, sum(residual * residual) AS s2,
         var_pop(residual) AS vr,
         var_pop(trend + residual) AS vtr,
         var_pop(seasonal + residual) AS vsr
  FROM valid GROUP BY 1
),
spk AS (
  SELECT v.series_id, var_pop(
    (t.s2 - v.residual * v.residual) / (t.n - 1)
    - ((t.s1 - v.residual) / (t.n - 1)) * ((t.s1 - v.residual) / (t.n - 1))
  ) AS spikiness
  FROM valid v JOIN st t USING (series_id) GROUP BY 1
),
firstp AS (SELECT series_id, rn, seasonal FROM valid WHERE rn <= 24),
pk AS (
  SELECT series_id, rn - 1 AS peak FROM (
    SELECT series_id, rn, row_number() OVER (
      PARTITION BY series_id ORDER BY seasonal DESC, rn ASC) AS rk
    FROM firstp) WHERE rk = 1
),
tro AS (
  SELECT series_id, rn - 1 AS trough FROM (
    SELECT series_id, rn, row_number() OVER (
      PARTITION BY series_id ORDER BY seasonal ASC, rn ASC) AS rk
    FROM firstp) WHERE rk = 1
)
SELECT t.series_id,
  round(1e-9 + 1.0 - t.vr / t.vtr, 6) AS trend_strength,
  round(1e-9 + 1.0 - t.vr / t.vsr, 6) AS seasonality_strength,
  round(1e-9 + s.spikiness, 6) AS spikiness,
  p.peak::BIGINT AS peak, o.trough::BIGINT AS trough
FROM st t JOIN spk s USING (series_id)
JOIN pk p USING (series_id) JOIN tro o USING (series_id)
"""


def q_cupik_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CuPiK pipeline (kats/utils/cupik.py:42-329) as ONE lazy plan:
    outlier-remove (detector feeding the remover, detector.py:101) →
    linear re-interpolation of the removed points (remover's
    interpolate=True) → 5-point centered smoothing.  Catalyst optimizes
    across step boundaries — no materialization between steps."""
    from kats_spark.plans.pipeline import Pipeline

    steps = [
        ("remove_outliers",
         lambda d: outlier_mod.outlier_remove(d, period=24, iqr_mult=2.0)),
        ("interpolate", lambda d: resample.resample(d, 3600, "linear")),
        ("smooth",
         lambda d: d.withColumn("smooth", F.avg("value").over(S.w().rowsBetween(-2, 2)))),
    ]
    out = Pipeline(steps).run(hourly_series(spark, sf_dir))
    return _fmt_time(_r6(out, "value", "smooth"))


_Q_CUPIK_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, time, value,
         row_number() OVER (PARTITION BY series_id ORDER BY time) - 1 AS rn
  FROM h
),
tr AS (
  SELECT *,
    CASE WHEN count(value) OVER w = 25 THEN
      (sum(value) OVER w - first_value(value) OVER w / 2 - last_value(value) OVER w / 2) / 24
    END AS trend
  FROM idx
  WINDOW w AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
detr AS (SELECT *, value - trend AS dt, rn % 24 AS phase FROM tr),
pm AS (SELECT series_id, phase, avg(dt) AS pmv FROM detr WHERE dt IS NOT NULL GROUP BY 1, 2),
gm AS (SELECT series_id, avg(pmv) AS g FROM pm GROUP BY 1),
seas AS (
  SELECT pm.series_id, pm.phase, pm.pmv - gm.g AS seasonal
  FROM pm JOIN gm ON pm.series_id = gm.series_id
),
full_d AS (
  SELECT d.series_id, d.time, d.value,
         d.value - d.trend - s.seasonal AS residual
  FROM detr d LEFT JOIN seas s ON d.series_id = s.series_id AND d.phase = s.phase
),
bounds AS (
  SELECT series_id,
         quantile_cont(residual, 0.25) AS q1, quantile_cont(residual, 0.75) AS q3
  FROM full_d WHERE residual IS NOT NULL GROUP BY 1
),
cleaned AS (
  SELECT f.series_id, f.time,
    CASE WHEN f.residual IS NOT NULL
          AND (f.residual < b.q1 - 2.0 * (b.q3 - b.q1)
           OR  f.residual > b.q3 + 2.0 * (b.q3 - b.q1)) THEN NULL
         ELSE f.value END AS obs
  FROM full_d f JOIN bounds b ON f.series_id = b.series_id
),
tb AS (SELECT series_id, min(time) AS t0, max(time) AS t1 FROM cleaned GROUP BY 1),
spine AS (
  SELECT series_id, unnest(generate_series(t0, t1, INTERVAL 3600 SECONDS)) AS time
  FROM tb
),
g AS (
  SELECT s.series_id, s.time, c.obs, epoch(s.time)::DOUBLE AS t
  FROM spine s LEFT JOIN cleaned c USING (series_id, time)
),
fw AS (
  SELECT *,
    last_value(obs IGNORE NULLS) OVER w_prev AS prev_v,
    first_value(obs IGNORE NULLS) OVER w_next AS next_v,
    last_value(CASE WHEN obs IS NOT NULL THEN t END IGNORE NULLS) OVER w_prev AS prev_t,
    first_value(CASE WHEN obs IS NOT NULL THEN t END IGNORE NULLS) OVER w_next AS next_t
  FROM g
  WINDOW
    w_prev AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY series_id ORDER BY time ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
filled AS (
  SELECT series_id, time,
    coalesce(
      CASE WHEN obs IS NOT NULL THEN obs
           WHEN next_t = prev_t THEN prev_v
           ELSE prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t) END,
      prev_v, next_v) AS value
  FROM fw
)
SELECT series_id, strftime(time, '{_DK_FMT}') AS time,
  round(1e-9 + value, 6) AS value,
  round(1e-9 + avg(value) OVER (PARTITION BY series_id ORDER BY time
    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS smooth
FROM filled
"""


def q_acf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = acf_mod.acf_features(raw_series(spark, sf_dir), lags=5)
    return _r6(
        out, "acf_1", "acf_2", "acf_3", "acf_4", "acf_5",
        "pacf_2", "pacf_3", "diff1_acf1", "diff2_acf1",
    )


_Q_ACF_SQL = f"""
WITH r AS ({_RAW_SQL}),
m AS (SELECT series_id, avg(value) AS mu FROM r GROUP BY 1),
d0 AS (
  SELECT r.series_id, r.time, r.value - m.mu AS c,
    r.value - lag(r.value) OVER w AS d1,
    lag(r.value - m.mu, 1) OVER w AS c1, lag(r.value - m.mu, 2) OVER w AS c2,
    lag(r.value - m.mu, 3) OVER w AS c3, lag(r.value - m.mu, 4) OVER w AS c4,
    lag(r.value - m.mu, 5) OVER w AS c5
  FROM r JOIN m ON r.series_id = m.series_id
  WINDOW w AS (PARTITION BY r.series_id ORDER BY r.time)
),
d AS (
  SELECT *, d1 - lag(d1) OVER (PARTITION BY series_id ORDER BY time) AS d2
  FROM d0
),
d_ext AS (
  SELECT *, lag(d1) OVER (PARTITION BY series_id ORDER BY time) AS d1l,
            lag(d2) OVER (PARTITION BY series_id ORDER BY time) AS d2l
  FROM d
),
g AS (
  SELECT series_id,
    sum(c * c) AS ss,
    sum(c * c1) AS n1, sum(c * c2) AS n2, sum(c * c3) AS n3,
    sum(c * c4) AS n4, sum(c * c5) AS n5,
    sum(CASE WHEN d1 IS NOT NULL AND d1l IS NOT NULL THEN d1 * d1l END) AS d1_sxy,
    sum(CASE WHEN d1 IS NOT NULL AND d1l IS NOT NULL THEN d1 END) AS d1_sx,
    sum(CASE WHEN d1 IS NOT NULL AND d1l IS NOT NULL THEN d1l END) AS d1_sy,
    count(CASE WHEN d1 IS NOT NULL AND d1l IS NOT NULL THEN 1 END) AS d1_np,
    sum(d1 * d1) AS d1_ss, sum(d1) AS d1_s, count(d1) AS d1_n,
    sum(CASE WHEN d2 IS NOT NULL AND d2l IS NOT NULL THEN d2 * d2l END) AS d2_sxy,
    sum(CASE WHEN d2 IS NOT NULL AND d2l IS NOT NULL THEN d2 END) AS d2_sx,
    sum(CASE WHEN d2 IS NOT NULL AND d2l IS NOT NULL THEN d2l END) AS d2_sy,
    count(CASE WHEN d2 IS NOT NULL AND d2l IS NOT NULL THEN 1 END) AS d2_np,
    sum(d2 * d2) AS d2_ss, sum(d2) AS d2_s, count(d2) AS d2_n
  FROM d_ext GROUP BY 1
)
SELECT series_id,
  round(1e-9 + n1 / ss, 6) AS acf_1, round(1e-9 + n2 / ss, 6) AS acf_2,
  round(1e-9 + n3 / ss, 6) AS acf_3, round(1e-9 + n4 / ss, 6) AS acf_4,
  round(1e-9 + n5 / ss, 6) AS acf_5,
  round(1e-9 + (n2 / ss - (n1 / ss) * (n1 / ss)) / (1 - (n1 / ss) * (n1 / ss)), 6) AS pacf_2,
  round(1e-9 + (n3 / ss
    - (n1 / ss - ((n2 / ss - (n1 / ss) * (n1 / ss)) / (1 - (n1 / ss) * (n1 / ss))) * (n1 / ss)) * (n2 / ss)
    - ((n2 / ss - (n1 / ss) * (n1 / ss)) / (1 - (n1 / ss) * (n1 / ss))) * (n1 / ss))
    / (1
    - (n1 / ss - ((n2 / ss - (n1 / ss) * (n1 / ss)) / (1 - (n1 / ss) * (n1 / ss))) * (n1 / ss)) * (n1 / ss)
    - ((n2 / ss - (n1 / ss) * (n1 / ss)) / (1 - (n1 / ss) * (n1 / ss))) * (n2 / ss)), 6) AS pacf_3,
  round(1e-9 + (d1_sxy - (d1_s / d1_n) * (d1_sx + d1_sy) + d1_np * (d1_s / d1_n) * (d1_s / d1_n))
        / (d1_ss - 2 * (d1_s / d1_n) * d1_s + d1_n * (d1_s / d1_n) * (d1_s / d1_n)), 6) AS diff1_acf1,
  round(1e-9 + (d2_sxy - (d2_s / d2_n) * (d2_sx + d2_sy) + d2_np * (d2_s / d2_n) * (d2_s / d2_n))
        / (d2_ss - 2 * (d2_s / d2_n) * d2_s + d2_n * (d2_s / d2_n) * (d2_s / d2_n)), 6) AS diff2_acf1
FROM g
"""


def q_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ar_mod.ar2_forecast(hourly_series(spark, sf_dir), steps=12, freq_seconds=3600)
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_AR2_SQL = f"""
WITH RECURSIVE h AS ({_HOURLY_SQL}),
lagd AS (
  SELECT series_id, time, value,
    lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2
  FROM h WINDOW w AS (PARTITION BY series_id ORDER BY time)
),
m AS (
  SELECT series_id,
    count(*)::DOUBLE AS n, sum(x1) AS s1, sum(x2) AS s2,
    sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
    sum(value) AS sy, sum(value * x1) AS sy1, sum(value * x2) AS sy2,
    sum(value * value) AS syy,
    max(time) AS tmax,
    arg_max(value, time) AS y_last, arg_max(x1, time) AS y_prev
  FROM lagd WHERE x2 IS NOT NULL GROUP BY 1
),
fit AS (
  SELECT series_id, tmax, y_last, y_prev, n, sy, sy1, sy2, syy,
    n  * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS D,
    sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - s12 * sy2) + s2 * (sy1 * s12 - s11 * sy2) AS Dc,
    n * (sy1 * s22 - s12 * sy2) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * sy2 - sy1 * s2) AS D1,
    n * (s11 * sy2 - sy1 * s12) - s1 * (s1 * sy2 - sy1 * s2) + sy * (s1 * s12 - s11 * s2) AS D2
  FROM m
),
co AS (
  SELECT series_id, tmax, y_last, y_prev, n,
    Dc / D AS c, D1 / D AS p1, D2 / D AS p2,
    (syy - Dc / D * sy - D1 / D * sy1 - D2 / D * sy2) / (n - 3) AS mse
  FROM fit
),
rec AS (
  SELECT series_id, tmax, c, p1, p2, mse,
         1 AS h,
         c + p1 * y_last + p2 * y_prev AS fcst,
         y_last AS ylag,
         1.0::DOUBLE AS psi_prev, 0.0::DOUBLE AS psi_prev2,
         1.0::DOUBLE AS var_mult
  FROM co
  UNION ALL
  SELECT series_id, tmax, c, p1, p2, mse,
         h + 1,
         c + p1 * fcst + p2 * ylag,
         fcst,
         p1 * psi_prev + p2 * psi_prev2,
         psi_prev,
         var_mult + pow(p1 * psi_prev + p2 * psi_prev2, 2)
  FROM rec WHERE h < 12
)
SELECT series_id,
  strftime(tmax + to_seconds(h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + fcst, 6) AS fcst,
  round(1e-9 + fcst - 1.959963984540054 * sqrt(mse * var_mult), 6) AS fcst_lower,
  round(1e-9 + fcst + 1.959963984540054 * sqrt(mse * var_mult), 6) AS fcst_upper
FROM rec
"""


def q_global_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE pooled AR(2) over all series (the globalmodel idea,
    kats/models/globalmodel/model.py:35, in closed form): global moment
    sums -> one coefficient row -> broadcast into every series' tail
    recursion.  Exact DuckDB oracle."""
    from kats_spark.models import global_ar

    out = global_ar.global_ar2_forecast(
        hourly_series(spark, sf_dir), steps=12, freq_seconds=3600
    )
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_GLOBAL_AR2_SQL = f"""
WITH RECURSIVE h AS ({_HOURLY_SQL}),
lagd AS (
  SELECT series_id, time, value,
    lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2
  FROM h WINDOW w AS (PARTITION BY series_id ORDER BY time)
),
m AS (
  SELECT
    count(*)::DOUBLE AS n, sum(x1) AS s1, sum(x2) AS s2,
    sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
    sum(value) AS sy, sum(value * x1) AS sy1, sum(value * x2) AS sy2,
    sum(value * value) AS syy
  FROM lagd WHERE x2 IS NOT NULL
),
fit AS (
  SELECT n, sy, sy1, sy2, syy,
    n  * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS D,
    sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - s12 * sy2) + s2 * (sy1 * s12 - s11 * sy2) AS Dc,
    n * (sy1 * s22 - s12 * sy2) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * sy2 - sy1 * s2) AS D1,
    n * (s11 * sy2 - sy1 * s12) - s1 * (s1 * sy2 - sy1 * s2) + sy * (s1 * s12 - s11 * s2) AS D2
  FROM m
),
co AS (
  SELECT Dc / D AS c, D1 / D AS p1, D2 / D AS p2,
    (syy - Dc / D * sy - D1 / D * sy1 - D2 / D * sy2) / (n - 3) AS mse
  FROM fit
),
tails AS (
  SELECT series_id, max(time) AS tmax,
    arg_max(value, time) AS y_last, arg_max(x1, time) AS y_prev
  FROM lagd GROUP BY 1
),
rec AS (
  SELECT t.series_id, t.tmax, co.c, co.p1, co.p2, co.mse,
         1 AS h,
         co.c + co.p1 * t.y_last + co.p2 * t.y_prev AS fcst,
         t.y_last AS ylag,
         1.0::DOUBLE AS psi_prev, 0.0::DOUBLE AS psi_prev2,
         1.0::DOUBLE AS var_mult
  FROM tails t CROSS JOIN co
  UNION ALL
  SELECT series_id, tmax, c, p1, p2, mse,
         h + 1,
         c + p1 * fcst + p2 * ylag,
         fcst,
         p1 * psi_prev + p2 * psi_prev2,
         psi_prev,
         var_mult + pow(p1 * psi_prev + p2 * psi_prev2, 2)
  FROM rec WHERE h < 12
)
SELECT series_id,
  strftime(tmax + to_seconds(h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + fcst, 6) AS fcst,
  round(1e-9 + fcst - 1.959963984540054 * sqrt(mse * var_mult), 6) AS fcst_lower,
  round(1e-9 + fcst + 1.959963984540054 * sqrt(mse * var_mult), 6) AS fcst_upper
FROM rec
"""


def q_backtest_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = bt_mod.fold_spec(spark, n_folds=3, train_frac=0.5, test_frac=0.1, mode="expanding")
    out = bt_mod.linear_backtest(hourly_series(spark, sf_dir), spec)
    return _r6(out, "mae", "rmse", "mape").select(
        "series_id", F.col("fold_id").cast("int").alias("fold_id"),
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_test").cast("bigint").alias("n_test"),
        "mae", "rmse", "mape",
    )


_Q_BACKTEST_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, value,
    (row_number() OVER (PARTITION BY series_id ORDER BY time) - 1)::DOUBLE AS rn,
    count(*) OVER (PARTITION BY series_id)::DOUBLE AS n_all
  FROM h
),
spec AS (
  SELECT unnest([0, 1, 2]) AS fold_id
),
folds AS (
  SELECT fold_id,
    0.0 AS train_start,
    round(0.5 + 0.4 * fold_id / 2, 9) AS train_end,
    round(0.6 + 0.4 * fold_id / 2, 9) AS test_end
  FROM spec
),
tagged AS (
  SELECT i.series_id, i.value, i.rn, f.fold_id,
    CASE WHEN i.rn >= floor(f.train_start * i.n_all)::INT
          AND i.rn < floor(f.train_end * i.n_all)::INT THEN 'train'
         WHEN i.rn >= floor(f.train_end * i.n_all)::INT
          AND i.rn < floor(f.test_end * i.n_all)::INT THEN 'test' END AS st
  FROM idx i CROSS JOIN folds f
  WHERE CASE WHEN i.rn >= floor(f.train_start * i.n_all)::INT
          AND i.rn < floor(f.train_end * i.n_all)::INT THEN 'train'
         WHEN i.rn >= floor(f.train_end * i.n_all)::INT
          AND i.rn < floor(f.test_end * i.n_all)::INT THEN 'test' END IS NOT NULL
),
fitstats AS (
  SELECT series_id, fold_id,
    sum(CASE WHEN st = 'train' THEN 1 ELSE 0 END)::DOUBLE AS n,
    sum(CASE WHEN st = 'train' THEN rn END) AS sx,
    sum(CASE WHEN st = 'train' THEN rn * rn END) AS sx2,
    sum(CASE WHEN st = 'train' THEN value END) AS sy,
    sum(CASE WHEN st = 'train' THEN rn * value END) AS sxy
  FROM tagged GROUP BY 1, 2
),
co AS (
  SELECT series_id, fold_id, n,
    (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS b,
    sy / n - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx / n AS a
  FROM fitstats
)
SELECT t.series_id, t.fold_id::INT AS fold_id,
  any_value(c.n)::BIGINT AS n_train,
  count(*)::BIGINT AS n_test,
  round(1e-9 + avg(abs(t.value - (c.a + c.b * t.rn))), 6) AS mae,
  round(1e-9 + sqrt(sum(pow(t.value - (c.a + c.b * t.rn), 2)) / count(*)), 6) AS rmse,
  round(1e-9 + avg(abs((t.value - (c.a + c.b * t.rn)) / t.value)), 6) AS mape
FROM tagged t JOIN co c ON t.series_id = c.series_id AND t.fold_id = c.fold_id
WHERE t.st = 'test'
GROUP BY 1, 2
"""


def _two_sample_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly view-vs-click A/B frame (TwoSampleSchema shape)."""
    ev = load_events(spark, sf_dir)
    hourly = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy(
            F.col("event_type"),
            F.timestamp_seconds(
                (F.unix_timestamp("ts") / 3600).cast("bigint") * 3600
            ).alias("time"),
        )
        .agg(
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
            F.count("*").cast("double").alias("n"),
        )
    )
    a = hourly.filter(F.col("event_type") == "view").select(
        "time", F.col("m").alias("value_a"), F.col("v").alias("variance_a"),
        F.col("n").alias("sample_count_a"),
    )
    b = hourly.filter(F.col("event_type") == "click").select(
        "time", F.col("m").alias("value_b"), F.col("v").alias("variance_b"),
        F.col("n").alias("sample_count_b"),
    )
    return a.join(b, "time").withColumn("series_id", F.lit("view_vs_click"))


def q_interval_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = interval_mod.two_sample_scores(_two_sample_frame(spark, sf_dir), 1.96)
    out = interval_mod.consolidate_intervals(scored, min_len=2)
    return out.select(
        "series_id",
        F.date_format("start_time", _TS_FMT).alias("start_time"),
        F.date_format("end_time", _TS_FMT).alias("end_time"),
        F.col("n_points").cast("bigint").alias("n_points"),
        _rnd("max_abs_z", 6).alias("max_abs_z"),
    )


_Q_INTERVAL_SQL = f"""
WITH hourly AS (
  SELECT event_type,
    to_timestamp((floor(epoch(ts))::BIGINT // 3600) * 3600) AS time,
    avg(value) AS m, var_samp(value) AS v, count(*)::DOUBLE AS n
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2
),
wide AS (
  SELECT a.time, a.m AS value_a, a.v AS variance_a, a.n AS na,
         b.m AS value_b, b.v AS variance_b, b.n AS nb
  FROM (SELECT * FROM hourly WHERE event_type = 'view') a
  JOIN (SELECT * FROM hourly WHERE event_type = 'click') b USING (time)
),
scored AS (
  SELECT time, (value_b - value_a) / sqrt(variance_a / na + variance_b / nb) AS z,
    CASE WHEN abs((value_b - value_a) / sqrt(variance_a / na + variance_b / nb)) > 1.96
         THEN 1 ELSE 0 END AS rej
  FROM wide
),
flagged AS (
  SELECT *, CASE WHEN rej = 1 AND coalesce(lag(rej) OVER (ORDER BY time), 0) = 0
                 THEN 1 ELSE 0 END AS st
  FROM scored
),
runs AS (
  SELECT *, sum(st) OVER (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
)
SELECT 'view_vs_click' AS series_id,
  strftime(min(time), '{_DK_FMT}') AS start_time,
  strftime(max(time), '{_DK_FMT}') AS end_time,
  count(*)::BIGINT AS n_points,
  round(1e-9 + max(abs(z)), 6) AS max_abs_z
FROM runs WHERE rej = 1
GROUP BY grp
HAVING count(*) >= 2
"""


@prepared
def q_auto_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection INSIDE one plan (the Evaluator/backtester flow,
    kats/evaluation/evaluator.py + backtesters.py, as a single query):
    hold out the last 24 points per series, score a linear-trend fit and
    a mean model on the holdout, pick the argmin-MAE model per series
    (ties to linear on the 6dp-rounded MAEs — deterministic across
    engines), then emit the WINNER's 24-step forecast refit on the full
    series.  Both candidates are closed-form, so selection and forecast
    hash-match the DuckDB oracle end to end."""
    hs = hourly_series(spark, sf_dir)
    wdesc = Window.partitionBy("series_id").orderBy(F.desc("time"))
    tagged = hs.withColumn("__rn", F.row_number().over(wdesc))
    train = tagged.filter(F.col("__rn") > 24).drop("__rn")
    hold = tagged.filter(F.col("__rn") <= 24).drop("__rn")

    lin_hold = trend.linear_forecast(train, steps=24, freq_seconds=3600).select(
        "series_id", "time", _rnd("fcst", 6).alias("__lf")
    )
    mean_train = train.groupBy("series_id").agg(_rnd(F.avg("value"), 6).alias("__mf"))
    scored = hold.join(lin_hold, ["series_id", "time"]).join(
        F.broadcast(mean_train), "series_id"
    )
    choice = (
        scored.groupBy("series_id")
        .agg(
            _rnd(F.avg(F.abs(F.col("value") - F.col("__lf"))), 6).alias("mae_linear"),
            _rnd(F.avg(F.abs(F.col("value") - F.col("__mf"))), 6).alias("mae_mean"),
        )
        .withColumn(
            "model",
            F.when(F.col("mae_linear") <= F.col("mae_mean"), F.lit("linear")).otherwise(
                F.lit("mean")
            ),
        )
    )

    lin_full = (
        trend.linear_forecast(hs, steps=24, freq_seconds=3600)
        .select("series_id", "time", _rnd("fcst", 6).alias("fcst"))
        .withColumn("model", F.lit("linear"))
    )
    step = F.explode(F.sequence(F.lit(1), F.lit(24))).alias("__h")
    mean_full = (
        hs.groupBy("series_id")
        .agg(F.max("time").alias("__tmax"), _rnd(F.avg("value"), 6).alias("fcst"))
        .select("series_id", "__tmax", "fcst", step)
        .select(
            "series_id",
            F.timestamp_seconds(
                F.unix_timestamp("__tmax") + F.col("__h") * 3600
            ).alias("time"),
            "fcst",
        )
        .withColumn("model", F.lit("mean"))
    )
    final = lin_full.unionByName(mean_full).join(
        F.broadcast(choice), ["series_id", "model"]
    )
    return final.select(
        "series_id",
        F.date_format("time", _TS_FMT).alias("time"),
        "model",
        "fcst",
        "mae_linear",
        "mae_mean",
    )


_Q_AUTO_FORECAST_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
hseq AS (SELECT unnest(generate_series(1, 24))::DOUBLE AS hh),
tagged AS (
  SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY time DESC) AS rn FROM h
),
train AS (SELECT series_id, time, value FROM tagged WHERE rn > 24),
hold AS (SELECT series_id, time, value FROM tagged WHERE rn <= 24),
tidx AS (
  SELECT series_id, value,
         (row_number() OVER (PARTITION BY series_id ORDER BY time) - 1)::DOUBLE AS x,
         max(time) OVER (PARTITION BY series_id) AS tmax
  FROM train
),
tm AS (
  SELECT series_id, any_value(tmax) AS tmax, count(*)::DOUBLE AS n,
         sum(x) AS sx, sum(x * x) AS sx2, sum(value) AS sy, sum(x * value) AS sxy
  FROM tidx GROUP BY 1
),
tfit AS (
  SELECT series_id, tmax, n,
    (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS b,
    sy / n - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx / n AS a
  FROM tm
),
lin_hold AS (
  SELECT series_id, tmax + to_seconds(hh * 3600) AS time,
         round(1e-9 + a + b * (n - 1 + hh), 6) AS lf
  FROM tfit, hseq
),
mean_train AS (SELECT series_id, round(1e-9 + avg(value), 6) AS mf FROM train GROUP BY 1),
sc AS (
  SELECT hold.series_id, hold.value, lf, mf
  FROM hold JOIN lin_hold USING (series_id, time) JOIN mean_train USING (series_id)
),
choice AS (
  SELECT series_id,
    round(1e-9 + avg(abs(value - lf)), 6) AS mae_linear,
    round(1e-9 + avg(abs(value - mf)), 6) AS mae_mean,
    CASE WHEN round(1e-9 + avg(abs(value - lf)), 6)
              <= round(1e-9 + avg(abs(value - mf)), 6)
         THEN 'linear' ELSE 'mean' END AS model
  FROM sc GROUP BY 1
),
fidx AS (
  SELECT series_id, value,
         (row_number() OVER (PARTITION BY series_id ORDER BY time) - 1)::DOUBLE AS x,
         max(time) OVER (PARTITION BY series_id) AS tmax
  FROM h
),
fm AS (
  SELECT series_id, any_value(tmax) AS tmax, count(*)::DOUBLE AS n,
         sum(x) AS sx, sum(x * x) AS sx2, sum(value) AS sy, sum(x * value) AS sxy
  FROM fidx GROUP BY 1
),
ffit AS (
  SELECT series_id, tmax, n,
    (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS b,
    sy / n - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx / n AS a
  FROM fm
),
lin_full AS (
  SELECT series_id, tmax + to_seconds(hh * 3600) AS time, 'linear' AS model,
         round(1e-9 + a + b * (n - 1 + hh), 6) AS fcst
  FROM ffit, hseq
),
mf2 AS (
  SELECT series_id, max(time) AS tmax, round(1e-9 + avg(value), 6) AS fcst
  FROM h GROUP BY 1
),
mean_full AS (
  SELECT series_id, tmax + to_seconds(hh * 3600) AS time, 'mean' AS model, fcst
  FROM mf2, hseq
),
united AS (SELECT * FROM lin_full UNION ALL SELECT * FROM mean_full)
SELECT u.series_id, strftime(u.time, '{_DK_FMT}') AS time, u.model, u.fcst,
       c.mae_linear, c.mae_mean
FROM united u JOIN choice c ON u.series_id = c.series_id AND u.model = c.model
"""


def q_interval_relative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-difference A/B scores (delta method on the log ratio,
    interval_detector.py:1566-1620) with a one-sided upper test — the
    pointwise layer of the reference's TwoSampleRealValuedIntervalDetector
    in relative mode, all expressions."""
    frame = _two_sample_frame(spark, sf_dir).filter(
        (F.col("sample_count_a") >= 2)
        & (F.col("sample_count_b") >= 2)
        & (F.col("variance_a") > 0)
        & (F.col("variance_b") > 0)
    )
    scored = interval_mod.two_sample_scores(
        frame,
        1.64,
        test_statistic="relative",
        test_type="one_sided_upper",
    )
    return scored.select(
        "series_id",
        F.date_format("time", _TS_FMT).alias("time"),
        _rnd("z_score", 6).alias("z_score"),
        F.col("rejected").cast("int").alias("rejected"),
    )


_Q_INTERVAL_REL_SQL = f"""
WITH hourly AS (
  SELECT event_type,
    to_timestamp((floor(epoch(ts))::BIGINT // 3600) * 3600) AS time,
    avg(value) AS m, var_samp(value) AS v, count(*)::DOUBLE AS n
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2
),
wide AS (
  SELECT a.time, a.m AS value_a, a.v AS variance_a, a.n AS na,
         b.m AS value_b, b.v AS variance_b, b.n AS nb
  FROM (SELECT * FROM hourly WHERE event_type = 'view') a
  JOIN (SELECT * FROM hourly WHERE event_type = 'click') b USING (time)
),
scored AS (
  SELECT time,
    (ln(greatest(value_b, 1e-9)) - ln(greatest(value_a, 1e-9)) - 0.0)
    / sqrt((variance_a / na) / greatest(value_a * value_a, 1e-18)
         + (variance_b / nb) / greatest(value_b * value_b, 1e-18)) AS z
  FROM wide
  WHERE na >= 2 AND nb >= 2 AND variance_a > 0 AND variance_b > 0
)
SELECT 'view_vs_click' AS series_id,
  strftime(time, '{_DK_FMT}') AS time,
  round(1e-9 + z, 6) AS z_score,
  (CASE WHEN z > 1.64 THEN 1 ELSE 0 END)::INT AS rejected
FROM scored
"""


def q_simple_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = fcst_mod.simple_heuristic_forecast(
        raw_series(spark, sf_dir), steps=24, freq_seconds=3600, quantile=0.9
    )
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_SIMPLE_HEURISTIC_SQL = f"""
WITH r AS ({_RAW_SQL}),
agg AS (
  SELECT series_id, arg_max(value, time) AS lastv,
    quantile_cont(value, 0.1) AS lo, quantile_cont(value, 0.9) AS hi,
    max(time) AS tmax
  FROM r GROUP BY 1
)
SELECT series_id,
  strftime(to_timestamp(floor(epoch(tmax))::BIGINT + h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + lastv, 6) AS fcst,
  round(1e-9 + lo, 6) AS fcst_lower,
  round(1e-9 + hi, 6) AS fcst_upper
FROM agg, (SELECT unnest(generate_series(1, 24)) AS h)
"""


def q_cusum_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoints (cusum_detection.py:309) — full oracle: the
    iterative argmin-of-cusum refinement is replayed in a DuckDB recursive
    CTE; with per-series prefix sums of x and x2, each refinement step is
    O(n) (cusum_k = cums[k] - k*mean) and the LLR terms close over the
    same prefix sums."""
    out = cusum_mod.cusum_detect(hourly_series(spark, sf_dir), threshold=0.5,
                                 delta_std_ratio=0.0)
    return out.select(
        "series_id", F.date_format("cp_time", _TS_FMT).alias("cp_time"),
        F.col("cp_index").cast("int").alias("cp_index"), "direction",
        _rnd("mu0", 6).alias("mu0"), _rnd("mu1", 6).alias("mu1"),
        _rnd("delta", 6).alias("delta"), _rnd("llr", 6).alias("llr"),
    )


# Core CTE chain of the CUSUM replay (everything through the llr CTE),
# shared by the cusum_detect oracle below and the tsfeatures_detector
# cusum-group aggregation (queries2.py) — embed as
# "({_CUSUM_DETECT_CORE_SQL} SELECT ... FROM llr WHERE <gates>)".
_CUSUM_DETECT_CORE_SQL = f"""
WITH RECURSIVE h AS ({_HOURLY_SQL}),
idx AS (
  SELECT series_id, time, value,
    row_number() OVER w AS k,
    sum(value) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
    sum(value * value) OVER (w ROWS UNBOUNDED PRECEDING) AS cum2
  FROM h WINDOW w AS (PARTITION BY series_id ORDER BY time)
),
lst AS (
  SELECT series_id, count(*)::BIGINT AS n,
    list(time ORDER BY k) AS ts,
    list(cum ORDER BY k) AS cums,
    list(cum2 ORDER BY k) AS cums2
  FROM idx GROUP BY 1
),
dirs AS (SELECT unnest(['increase', 'decrease']) AS dir),
base AS (
  SELECT l.series_id, d.dir, 0 AS it, FALSE AS stable,
    least(
      list_position(
        list_transform(l.cums, (c, k) -> c - k * (l.cums[l.n] / l.n)),
        CASE WHEN d.dir = 'increase'
          THEN list_min(list_transform(l.cums, (c, k) -> c - k * (l.cums[l.n] / l.n)))
          ELSE list_max(list_transform(l.cums, (c, k) -> c - k * (l.cums[l.n] / l.n)))
        END) - 1,
      l.n - 2)::BIGINT AS cp
  FROM lst l CROSS JOIN dirs d
  WHERE l.n >= 10
),
rec AS (
  SELECT * FROM base
  UNION ALL
  SELECT series_id, dir, it + 1, (nxt = cp) AS stable,
    CASE WHEN nxt = cp THEN cp ELSE nxt END AS cp
  FROM (
    SELECT r.series_id, r.dir, r.it, r.cp, l.n,
      greatest(1, least(
        list_position(
          list_transform(l.cums, (c, k) -> c - k *
            ((l.cums[r.cp + 1] / (r.cp + 1)
              + (l.cums[l.n] - l.cums[r.cp + 1]) / (l.n - r.cp - 1)) / 2.0)),
          CASE WHEN r.dir = 'increase'
            THEN list_min(list_transform(l.cums, (c, k) -> c - k *
              ((l.cums[r.cp + 1] / (r.cp + 1)
                + (l.cums[l.n] - l.cums[r.cp + 1]) / (l.n - r.cp - 1)) / 2.0)))
            ELSE list_max(list_transform(l.cums, (c, k) -> c - k *
              ((l.cums[r.cp + 1] / (r.cp + 1)
                + (l.cums[l.n] - l.cums[r.cp + 1]) / (l.n - r.cp - 1)) / 2.0)))
          END) - 1,
        l.n - 2))::BIGINT AS nxt
    FROM rec r JOIN lst l USING (series_id)
    WHERE r.it < 10 AND NOT r.stable
  )
),
fin AS (
  SELECT series_id, dir, arg_max(cp, it) AS cp, arg_max(stable, it) AS stable
  FROM rec GROUP BY 1, 2
),
stats AS (
  SELECT f.series_id, f.dir, f.cp, f.stable, l.n, l.ts[f.cp + 1] AS cp_time,
    l.cums[f.cp + 1] AS s1, l.cums[l.n] - l.cums[f.cp + 1] AS s2,
    l.cums2[f.cp + 1] AS q1, l.cums2[l.n] - l.cums2[f.cp + 1] AS q2,
    (f.cp + 1)::DOUBLE AS c1, (l.n - f.cp - 1)::DOUBLE AS c2,
    l.cums[l.n] / l.n AS mu_t,
    sqrt(l.cums2[l.n] / l.n - (l.cums[l.n] / l.n) * (l.cums[l.n] / l.n)) AS sigma_t
  FROM fin f JOIN lst l USING (series_id)
),
seg AS (
  SELECT *, s1 / c1 AS mu0, s2 / c2 AS mu1,
    q1 - 2 * (s1 / c1) * s1 + c1 * (s1 / c1) * (s1 / c1) AS ssq0,
    q2 - 2 * (s2 / c2) * s2 + c2 * (s2 / c2) * (s2 / c2) AS ssq1,
    q1 - 2 * mu_t * s1 + c1 * mu_t * mu_t AS ssqt1,
    q2 - 2 * mu_t * s2 + c2 * mu_t * mu_t AS ssqt2
  FROM stats
),
scaled AS (
  SELECT *,
    CASE WHEN sqrt((ssq0 + ssq1) / (n - 2)) = 0
         THEN sigma_t * 0.01
         ELSE sqrt((ssq0 + ssq1) / (n - 2)) END AS scale
  FROM seg
),
llr AS (
  SELECT *,
    -2.0 * (
      (c1 * ln(scale / sigma_t) + 0.5 * (ssq0 / (scale * scale) - ssqt1 / (sigma_t * sigma_t)))
      + (c2 * ln(scale / sigma_t) + 0.5 * (ssq1 / (scale * scale) - ssqt2 / (sigma_t * sigma_t)))
    ) AS llr
  FROM scaled
)
"""

_Q_CUSUM_SQL = _CUSUM_DETECT_CORE_SQL + f"""
SELECT series_id,
  strftime(cp_time, '{_DK_FMT}') AS cp_time,
  cp::INT AS cp_index, dir AS direction,
  round(1e-9 + mu0, 6) AS mu0, round(1e-9 + mu1, 6) AS mu1,
  round(1e-9 + mu1 - mu0, 6) AS delta, round(1e-9 + llr, 6) AS llr
FROM llr
WHERE llr > -2.0 * ln(0.5)
  AND CASE WHEN dir = 'increase' THEN mu1 > mu0 ELSE mu1 < mu0 END
  AND abs(mu1 - mu0) > 0.0 * sigma_t
  AND abs(mu1 - mu0) > 0.0
"""


def q_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SES grid-fit forecast (holtwinters.py:34 simple path) — full oracle:
    the SES recurrence l_t = a*y_t + (1-a)*l_{t-1} has the closed form
    l_k = a*sum_{j=2..k}(1-a)^(k-j)*y_j + (1-a)^(k-1)*y_1, reproduced in
    DuckDB with nested list lambdas across the same 19-alpha SSE grid."""
    out = fcst_mod.forecast(hourly_series(spark, sf_dir), "ses", steps=24, freq_seconds=3600)
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


# shared alpha-grid SES fit: per (series, alpha) compute the level path,
# SSE of one-step residuals, and residual moments; pick argmin-SSE alpha
_SES_FIT_SQL = f"""
lst AS (
  SELECT series_id, max(time) AS tmax, count(*)::BIGINT AS n,
         list(value ORDER BY time) AS vs
  FROM h GROUP BY 1
),
alphas AS (SELECT unnest([{", ".join(str(i / 100) for i in range(5, 100, 5))}]) AS a),
fit AS (
  SELECT l.series_id, l.tmax, l.n, l.vs, a.a,
    list_transform(l.vs, (x, k) ->
      a.a * list_sum(list_transform(l.vs, (y, j) ->
        CASE WHEN j >= 2 AND j <= k THEN y * pow(1.0 - a.a, k - j) ELSE 0.0 END))
      + pow(1.0 - a.a, k - 1) * l.vs[1]) AS lv
  FROM lst l CROSS JOIN alphas a
  WHERE l.n >= 5
),
scored AS (
  SELECT *,
    list_sum(list_transform(vs, (y, t) ->
      CASE WHEN t >= 2 THEN pow(y - lv[t - 1], 2) ELSE 0.0 END)) AS sse,
    list_sum(list_transform(vs, (y, t) ->
      CASE WHEN t >= 2 THEN y - lv[t - 1] ELSE 0.0 END)) AS rsum
  FROM fit
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY sse, a) AS rk
  FROM scored
),
sesfit AS (
  SELECT series_id, tmax, n, a, lv[n] AS lvl,
    sqrt(greatest(0.0, (sse - rsum * rsum / (n - 1)) / (n - 2))) AS sigma
  FROM best WHERE rk = 1
)
"""


_Q_SES_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
{_SES_FIT_SQL}
SELECT s.series_id,
  strftime(s.tmax + to_seconds(g.h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + s.lvl, 6) AS fcst,
  round(1e-9 + s.lvl - 1.959963984540054 * s.sigma * sqrt(g.h), 6) AS fcst_lower,
  round(1e-9 + s.lvl + 1.959963984540054 * s.sigma * sqrt(g.h), 6) AS fcst_upper
FROM sesfit s CROSS JOIN (SELECT unnest(generate_series(1, 24)) AS h) g
"""


def q_holtwinters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive grid-fit forecast (holtwinters.py:34) — full
    oracle: the 26-state recurrence (level, trend, 24 seasonals) is replayed
    exactly in a DuckDB recursive CTE over the per-series value list, with
    the same 27-point (alpha, beta, gamma) SSE grid and argmin tie order."""
    out = fcst_mod.forecast(
        hourly_series(spark, sf_dir), "holtwinters", steps=24, freq_seconds=3600, period=24
    )
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_HW_SQL = f"""
WITH RECURSIVE h AS ({_HOURLY_SQL}),
lst AS (
  SELECT series_id, max(time) AS tmax, count(*)::BIGINT AS n,
         list(value ORDER BY time) AS vs
  FROM h GROUP BY 1
),
grid AS (
  SELECT a.a, b.bta, g.g
  FROM (SELECT unnest([0.25, 0.5, 0.75]) AS a) a,
       (SELECT unnest([0.25, 0.5, 0.75]) AS bta) b,
       (SELECT unnest([0.25, 0.5, 0.75]) AS g) g
),
init AS (
  SELECT l.series_id, gr.a, gr.bta, gr.g,
    list_sum(l.vs[1:24]) / 24.0 AS l0,
    (list_sum(l.vs[25:48]) / 24.0 - list_sum(l.vs[1:24]) / 24.0) / 24.0 AS b0,
    list_transform(l.vs[1:24], s -> s - list_sum(l.vs[1:24]) / 24.0) AS seas0
  FROM lst l CROSS JOIN grid gr
  WHERE l.n >= 48
),
rec AS (
  SELECT series_id, a, bta, g, 0::BIGINT AS i,
    l0 AS l, b0 AS tr, seas0 AS seas,
    0.0::DOUBLE AS sse, 0.0::DOUBLE AS rsum, 0.0::DOUBLE AS rss
  FROM init
  UNION ALL
  SELECT r.series_id, r.a, r.bta, r.g, r.i + 1,
    r.a * (l.vs[r.i + 1] - r.seas[(r.i % 24) + 1]) + (1 - r.a) * (r.l + r.tr),
    r.bta * ((r.a * (l.vs[r.i + 1] - r.seas[(r.i % 24) + 1]) + (1 - r.a) * (r.l + r.tr)) - r.l)
      + (1 - r.bta) * r.tr,
    list_transform(r.seas, (s, k) -> CASE WHEN k = (r.i % 24) + 1
      THEN r.g * (l.vs[r.i + 1]
        - (r.a * (l.vs[r.i + 1] - r.seas[(r.i % 24) + 1]) + (1 - r.a) * (r.l + r.tr)))
        + (1 - r.g) * s
      ELSE s END),
    r.sse + pow(l.vs[r.i + 1] - (r.l + r.tr + r.seas[(r.i % 24) + 1]), 2),
    r.rsum + CASE WHEN r.i >= 1
      THEN l.vs[r.i + 1] - (r.l + r.tr + r.seas[(r.i % 24) + 1]) ELSE 0.0 END,
    r.rss + CASE WHEN r.i >= 1
      THEN pow(l.vs[r.i + 1] - (r.l + r.tr + r.seas[(r.i % 24) + 1]), 2) ELSE 0.0 END
  FROM rec r JOIN lst l USING (series_id)
  WHERE r.i < l.n
),
fin AS (
  SELECT r.*, l.n AS nn, l.tmax FROM rec r JOIN lst l USING (series_id) WHERE r.i = l.n
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY sse, a, bta, g) AS rk
  FROM fin
),
sel AS (
  SELECT series_id, tmax, nn, l, tr, seas, a, bta, g,
    sqrt(greatest(0.0, (rss - rsum * rsum / (nn - 1)) / (nn - 2))) AS sigma
  FROM best WHERE rk = 1
)
SELECT s.series_id,
  strftime(s.tmax + to_seconds(gg.h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + s.l + s.tr * gg.h + s.seas[((s.nn + gg.h - 1) % 24) + 1], 6) AS fcst,
  round(1e-9 + s.l + s.tr * gg.h + s.seas[((s.nn + gg.h - 1) % 24) + 1]
    - 1.959963984540054 * s.sigma * sqrt(gg.h), 6) AS fcst_lower,
  round(1e-9 + s.l + s.tr * gg.h + s.seas[((s.nn + gg.h - 1) % 24) + 1]
    + 1.959963984540054 * s.sigma * sqrt(gg.h), 6) AS fcst_upper
FROM sel s CROSS JOIN (SELECT unnest(generate_series(1, 24)) AS h) gg
"""


def q_holtwinters_mul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative-seasonality Holt-Winters (the reference's
    seasonal="mul" knob, kats/models/holtwinters.py:34-60) — full oracle:
    the same 26-state recursive-CTE replay as the additive twin with the
    multiplicative recursions (y/s level input, y/l seasonal update,
    (l+b)*s fitted) and the (l + b*h) * s_i horizon equation."""
    out = fcst_mod.forecast(
        hourly_series(spark, sf_dir), "holtwinters_mul", steps=24,
        freq_seconds=3600, period=24,
    )
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_HW_MUL_SQL = f"""
WITH RECURSIVE h AS ({_HOURLY_SQL}),
lst AS (
  SELECT series_id, max(time) AS tmax, count(*)::BIGINT AS n,
         list(value ORDER BY time) AS vs
  FROM h GROUP BY 1
),
grid AS (
  SELECT a.a, b.bta, g.g
  FROM (SELECT unnest([0.25, 0.5, 0.75]) AS a) a,
       (SELECT unnest([0.25, 0.5, 0.75]) AS bta) b,
       (SELECT unnest([0.25, 0.5, 0.75]) AS g) g
),
init AS (
  SELECT l.series_id, gr.a, gr.bta, gr.g,
    list_sum(l.vs[1:24]) / 24.0 AS l0,
    (list_sum(l.vs[25:48]) / 24.0 - list_sum(l.vs[1:24]) / 24.0) / 24.0 AS b0,
    list_transform(l.vs[1:24], s -> s / (list_sum(l.vs[1:24]) / 24.0)) AS seas0
  FROM lst l CROSS JOIN grid gr
  WHERE l.n >= 48
),
rec AS (
  SELECT series_id, a, bta, g, 0::BIGINT AS i,
    l0 AS l, b0 AS tr, seas0 AS seas,
    0.0::DOUBLE AS sse, 0.0::DOUBLE AS rsum, 0.0::DOUBLE AS rss
  FROM init
  UNION ALL
  SELECT r.series_id, r.a, r.bta, r.g, r.i + 1,
    r.a * (l.vs[r.i + 1] / r.seas[(r.i % 24) + 1]) + (1 - r.a) * (r.l + r.tr),
    r.bta * ((r.a * (l.vs[r.i + 1] / r.seas[(r.i % 24) + 1]) + (1 - r.a) * (r.l + r.tr)) - r.l)
      + (1 - r.bta) * r.tr,
    list_transform(r.seas, (s, k) -> CASE WHEN k = (r.i % 24) + 1
      THEN r.g * (l.vs[r.i + 1]
        / (r.a * (l.vs[r.i + 1] / r.seas[(r.i % 24) + 1]) + (1 - r.a) * (r.l + r.tr)))
        + (1 - r.g) * s
      ELSE s END),
    r.sse + pow(l.vs[r.i + 1] - (r.l + r.tr) * r.seas[(r.i % 24) + 1], 2),
    r.rsum + CASE WHEN r.i >= 1
      THEN l.vs[r.i + 1] - (r.l + r.tr) * r.seas[(r.i % 24) + 1] ELSE 0.0 END,
    r.rss + CASE WHEN r.i >= 1
      THEN pow(l.vs[r.i + 1] - (r.l + r.tr) * r.seas[(r.i % 24) + 1], 2) ELSE 0.0 END
  FROM rec r JOIN lst l USING (series_id)
  WHERE r.i < l.n
),
fin AS (
  SELECT r.*, l.n AS nn, l.tmax FROM rec r JOIN lst l USING (series_id) WHERE r.i = l.n
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY sse, a, bta, g) AS rk
  FROM fin
),
sel AS (
  SELECT series_id, tmax, nn, l, tr, seas, a, bta, g,
    sqrt(greatest(0.0, (rss - rsum * rsum / (nn - 1)) / (nn - 2))) AS sigma
  FROM best WHERE rk = 1
)
SELECT s.series_id,
  strftime(s.tmax + to_seconds(gg.h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + (s.l + s.tr * gg.h) * s.seas[((s.nn + gg.h - 1) % 24) + 1], 6) AS fcst,
  round(1e-9 + (s.l + s.tr * gg.h) * s.seas[((s.nn + gg.h - 1) % 24) + 1]
    - 1.959963984540054 * s.sigma * sqrt(gg.h), 6) AS fcst_lower,
  round(1e-9 + (s.l + s.tr * gg.h) * s.seas[((s.nn + gg.h - 1) % 24) + 1]
    + 1.959963984540054 * s.sigma * sqrt(gg.h), 6) AS fcst_upper
FROM sel s CROSS JOIN (SELECT unnest(generate_series(1, 24)) AS h) gg
"""


def q_damped_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped Holt (Gardner-McKenzie; the reference HoltWintersParams
    ``damped`` flag) — full oracle: the 2-state recurrence replays in a
    DuckDB recursive CTE over the per-series value list with the same
    4x4x4 (alpha, beta, phi) SSE grid, argmin tie order, ddof-1 sigma,
    and the closed-form damped horizon sum phi(1-phi^h)/(1-phi)."""
    out = fcst_mod.forecast(
        hourly_series(spark, sf_dir), "holt_damped", steps=24, freq_seconds=3600
    )
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_DAMPED_SQL = f"""
WITH RECURSIVE h AS ({_HOURLY_SQL}),
lst AS (
  SELECT series_id, max(time) AS tmax, count(*)::BIGINT AS n,
         list(value ORDER BY time) AS vs
  FROM h GROUP BY 1
),
grid AS (
  SELECT a.a, b.bta, p.ph
  FROM (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS a) a,
       (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS bta) b,
       (SELECT unnest([0.8, 0.9, 0.95, 0.98]) AS ph) p
),
rec AS (
  SELECT l.series_id, gr.a, gr.bta, gr.ph, 1::BIGINT AS i,
    l.vs[1] AS l, (l.vs[2] - l.vs[1]) AS tr,
    0.0::DOUBLE AS sse, 0.0::DOUBLE AS rsum, 0.0::DOUBLE AS rss
  FROM lst l CROSS JOIN grid gr
  WHERE l.n >= 5
  UNION ALL
  SELECT r.series_id, r.a, r.bta, r.ph, r.i + 1,
    r.a * l.vs[r.i + 1] + (1 - r.a) * (r.l + r.ph * r.tr),
    r.bta * ((r.a * l.vs[r.i + 1] + (1 - r.a) * (r.l + r.ph * r.tr)) - r.l)
      + (1 - r.bta) * r.ph * r.tr,
    r.sse + pow(l.vs[r.i + 1] - (r.l + r.ph * r.tr), 2),
    r.rsum + (l.vs[r.i + 1] - (r.l + r.ph * r.tr)),
    r.rss + pow(l.vs[r.i + 1] - (r.l + r.ph * r.tr), 2)
  FROM rec r JOIN lst l USING (series_id)
  WHERE r.i < l.n
),
fin AS (
  SELECT r.*, l.n AS nn, l.tmax FROM rec r JOIN lst l USING (series_id) WHERE r.i = l.n
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY sse, a, bta, ph) AS rk
  FROM fin
),
sel AS (
  SELECT series_id, tmax, nn, l, tr, ph,
    sqrt(greatest(0.0, (rss - rsum * rsum / (nn - 1)) / (nn - 2))) AS sigma
  FROM best WHERE rk = 1
)
SELECT s.series_id,
  strftime(s.tmax + to_seconds(gg.h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + s.l + s.ph * (1 - pow(s.ph, gg.h)) / (1 - s.ph) * s.tr, 6) AS fcst,
  round(1e-9 + s.l + s.ph * (1 - pow(s.ph, gg.h)) / (1 - s.ph) * s.tr
    - 1.959963984540054 * s.sigma * sqrt(gg.h), 6) AS fcst_lower,
  round(1e-9 + s.l + s.ph * (1 - pow(s.ph, gg.h)) / (1 - s.ph) * s.tr
    + 1.959963984540054 * s.sigma * sqrt(gg.h), 6) AS fcst_upper
FROM sel s CROSS JOIN (SELECT unnest(generate_series(1, 24)) AS h) gg
"""


def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta(2) forecast (theta.py:36) — full oracle: SES level via the
    closed-form weighted sum (same grid as ses_forecast) plus half the OLS
    drift, fc_h = L + slope/2 * (h + (1/a - 1)(1 - (1-a)^n))."""
    out = fcst_mod.forecast(hourly_series(spark, sf_dir), "theta", steps=24, freq_seconds=3600)
    return _fmt_time(_r6(out, "fcst", "fcst_lower", "fcst_upper"))


_Q_THETA_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
{_SES_FIT_SQL},
slope AS (
  SELECT series_id,
    regr_slope(value, rn) AS b
  FROM (
    SELECT series_id, value,
      (row_number() OVER (PARTITION BY series_id ORDER BY time) - 1)::DOUBLE AS rn
    FROM h
  ) GROUP BY 1
)
SELECT s.series_id,
  strftime(s.tmax + to_seconds(g.h * 3600), '{_DK_FMT}') AS time,
  round(1e-9 + s.lvl + 0.5 * sl.b *
    (g.h + (1.0 / s.a - 1.0) * (1.0 - pow(1.0 - s.a, s.n))), 6) AS fcst,
  round(1e-9 + s.lvl + 0.5 * sl.b *
    (g.h + (1.0 / s.a - 1.0) * (1.0 - pow(1.0 - s.a, s.n)))
    - 1.959963984540054 * s.sigma * sqrt(g.h), 6) AS fcst_lower,
  round(1e-9 + s.lvl + 0.5 * sl.b *
    (g.h + (1.0 / s.a - 1.0) * (1.0 - pow(1.0 - s.a, s.n)))
    + 1.959963984540054 * s.sigma * sqrt(g.h), 6) AS fcst_upper
FROM sesfit s JOIN slope sl USING (series_id)
CROSS JOIN (SELECT unnest(generate_series(1, 24)) AS h) g
"""


def q_series_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary series arithmetic (consts.py:526-536 -> _perform_op :898-946):
    THE one join shape in the reference — full-outer equi-join on time,
    columnwise op, unmatched rows NULL.  Here: day-over-day ratio of each
    hourly series against itself shifted +24h; edges survive as NULLs
    exactly like Kats's NaN fill."""
    import kats_spark.tsframe as tsf

    h = hourly_series(spark, sf_dir)
    shifted = h.withColumn("time", F.col("time") + F.expr("INTERVAL 24 HOURS"))
    out = tsf.binary_op(h, shifted, "div", out_col="dod_ratio")
    return _fmt_time(_r6(out, "dod_ratio"))


_Q_SERIES_ARITH_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
s AS (SELECT series_id, time + INTERVAL 24 HOUR AS time, value FROM h)
SELECT coalesce(h.series_id, s.series_id) AS series_id,
  strftime(coalesce(h.time, s.time), '{_DK_FMT}') AS time,
  round(1e-9 + h.value / s.value, 6) AS dod_ratio
FROM h FULL JOIN s ON h.series_id = s.series_id AND h.time = s.time
"""


def q_percentage_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PercentageChange two-interval comparison (detector_consts.py:179-555):
    last 24 hourly points vs the 72 before them — t-score on the pooled
    stddev (reference's uncorrected default) and delta-method CI of the
    mean ratio, stat-sig flag when the CI excludes 1."""
    from kats_spark.operators import percentage_change as pc_mod

    out = pc_mod.percentage_change(hourly_series(spark, sf_dir), n_control=72, n_test=24)
    return _r6(
        out,
        "mean_control", "mean_test", "perc_change", "t_score",
        "perc_change_lower", "perc_change_upper",
    ).withColumns({
        "n_control": F.col("n_control").cast("bigint"),
        "n_test": F.col("n_test").cast("bigint"),
        "stat_sig": F.col("stat_sig").cast("int"),
    })


_Q_PERC_CHANGE_SQL = f"""
WITH h AS ({_HOURLY_SQL}),
tail AS (
  SELECT series_id, value,
    row_number() OVER (PARTITION BY series_id ORDER BY time DESC) AS rn
  FROM h
  QUALIFY rn <= 96
),
agg AS (
  SELECT series_id,
    count(CASE WHEN rn <= 24 THEN value END)::BIGINT AS n_t,
    count(CASE WHEN rn > 24 THEN value END)::BIGINT AS n_c,
    avg(CASE WHEN rn <= 24 THEN value END) AS m_t,
    avg(CASE WHEN rn > 24 THEN value END) AS m_c,
    var_samp(CASE WHEN rn <= 24 THEN value END) AS v_t,
    var_samp(CASE WHEN rn > 24 THEN value END) AS v_c
  FROM tail GROUP BY 1
),
cov AS (
  SELECT t.series_id, covar_samp(t.value, c.value) / 24.0 AS cov_xy
  FROM (SELECT series_id, rn AS j, value FROM tail WHERE rn <= 24) t
  JOIN (SELECT series_id, rn - 24 AS j, value FROM tail WHERE rn > 24) c
    USING (series_id, j)
  WHERE j <= 24
  GROUP BY 1
),
x AS (
  SELECT a.*, c.cov_xy,
    a.m_t / a.m_c AS ratio,
    (a.m_t / a.m_c - 1.0) * 100.0 AS perc,
    sqrt(((a.n_c - 1) * a.v_c + (a.n_t - 1) * a.v_t) / (a.n_c + a.n_t - 2)) AS sp,
    a.v_t / (a.n_t * a.m_c * a.m_c)
      - 2.0 * a.m_t * c.cov_xy / (a.m_c * a.m_c * a.m_c)
      + a.v_c * a.m_t * a.m_t / (a.n_c * pow(a.m_c, 4)) AS sigma_sq
  FROM agg a JOIN cov c USING (series_id)
)
SELECT series_id, n_c AS n_control, n_t AS n_test,
  round(1e-9 + m_c, 6) AS mean_control,
  round(1e-9 + m_t, 6) AS mean_test,
  round(1e-9 + perc, 6) AS perc_change,
  round(1e-9 + (m_t - m_c) / sp, 6) AS t_score,
  round(1e-9 + (ratio + (-1.9599639845400545) * sqrt(abs(sigma_sq)) - 1.0) * 100.0, 6)
    AS perc_change_lower,
  round(1e-9 + (ratio - (-1.9599639845400545) * sqrt(abs(sigma_sq)) - 1.0) * 100.0, 6)
    AS perc_change_upper,
  CASE WHEN perc > 0.0 THEN 'up' ELSE 'down' END AS direction,
  (NOT (ratio - (-1.9599639845400545) * sqrt(abs(sigma_sq)) > 1.0
        AND ratio + (-1.9599639845400545) * sqrt(abs(sigma_sq)) < 1.0))::INT AS stat_sig
FROM x
"""


def q_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-day features + circle encoding (feature_engineering.py:
    143-188, :224): hour/minute/second/quarterhour/hourofweek over the
    distinct event timestamps, plus the sin/cos encoding of hour — pure
    exprs on both sides."""
    _utc(spark)
    times = load_events(spark, sf_dir).select(F.col("ts").alias("time")).distinct()
    out = calendar.with_features(times, calendar.time_features("time"))
    out = calendar.with_features(
        out, calendar.circle_encode(F.col("hour"), 24.0, "hour")
    )
    return _fmt_time(_r6(out, "hour_sin", "hour_cos")).withColumns(
        {c: F.col(c).cast("int")
         for c in ["hour", "minute", "second", "quarterhour", "hourofweek"]}
    )


_Q_TIME_FEATURES_SQL = f"""
WITH t AS (SELECT DISTINCT ts AS time FROM events)
SELECT strftime(time, '{_DK_FMT}') AS time,
  hour(time)::INT AS hour,
  minute(time)::INT AS minute,
  second(time)::INT AS second,
  trunc(minute(time) / 15.0 + 1)::INT AS quarterhour,
  ((isodow(time) - 1) * 24 + hour(time))::INT AS hourofweek,
  round(1e-9 + sin(hour(time) * (2 * pi() / 24.0)), 6) AS hour_sin,
  round(1e-9 + cos(hour(time) * (2 * pi() / 24.0)), 6) AS hour_cos
FROM t
"""


QUERIES.update(
    {
        "time_features": q_time_features,
        "percentage_change": q_percentage_change,
        "series_arith": q_series_arith,
        "outlier_detect": q_outlier_detect,
        "stl_features_expr": q_stl_features_expr,
        "cupik_pipeline": q_cupik_pipeline,
        "rolling_zscore_segmented": q_rolling_zscore_segmented,
        "acf_features": q_acf_features,
        "ar2_forecast": q_ar2_forecast,
        "global_ar2": q_global_ar2,
        "backtest_linear": q_backtest_linear,
        "interval_detect": q_interval_detect,
        "interval_relative": q_interval_relative,
        "auto_forecast": q_auto_forecast,
        "simple_heuristic": q_simple_heuristic,
        "cusum_detect": q_cusum_detect,
        "ses_forecast": q_ses_forecast,
        "holtwinters_forecast": q_holtwinters_forecast,
        "holtwinters_mul_forecast": q_holtwinters_mul,
        "damped_forecast": q_damped_forecast,
        "theta_forecast": q_theta_forecast,
    }
)

ORACLES.update(
    {
        "time_features": _Q_TIME_FEATURES_SQL,
        "percentage_change": _Q_PERC_CHANGE_SQL,
        "series_arith": _Q_SERIES_ARITH_SQL,
        "outlier_detect": _Q_OUTLIER_SQL,
        "stl_features_expr": _Q_STL_FEAT_SQL,
        "cupik_pipeline": _Q_CUPIK_SQL,
        "rolling_zscore_segmented": _Q_ROLLING_Z_SQL,
        "acf_features": _Q_ACF_SQL,
        "ar2_forecast": _Q_AR2_SQL,
        "global_ar2": _Q_GLOBAL_AR2_SQL,
        "backtest_linear": _Q_BACKTEST_SQL,
        "interval_detect": _Q_INTERVAL_SQL,
        "interval_relative": _Q_INTERVAL_REL_SQL,
        "auto_forecast": _Q_AUTO_FORECAST_SQL,
        "simple_heuristic": _Q_SIMPLE_HEURISTIC_SQL,
        "ses_forecast": _Q_SES_SQL,
        "theta_forecast": _Q_THETA_SQL,
        "holtwinters_forecast": _Q_HW_SQL,
        "holtwinters_mul_forecast": _Q_HW_MUL_SQL,
        "damped_forecast": _Q_DAMPED_SQL,
        "cusum_detect": _Q_CUSUM_SQL,
    }
)
