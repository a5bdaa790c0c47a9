"""The benchmark's workloads: inputs, one pass of calls, and output checks.

A workload generates (or names) its inputs, registers them in a fresh
session, and lists the operations of one pass.  Each operation is a call
into a public ``kats_spark`` function, which builds the plan and runs any
Spark jobs the function runs before returning, and an action that
materialises its output.  ``check`` runs after the timed passes and is
never timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
SF001 = os.path.join(HERE, "data", "sf0.01")

# a detected level shift counts within half a day of the planted hour: the
# daily cycle, of the same size as the shift, moves the CUSUM argmin that far
CP_TOL_HOURS = 12
MIN_RECALL = 0.95  # share of planted shifts and spikes that must be found
ORACLE_SAMPLE = 2  # series per run scored against the DuckDB oracles


@dataclass
class Op:
    name: str  # the layer: module path under kats_spark, or plans.row.<row>
    call: Callable[[], object]
    action: Callable[[object], object]
    pre: Callable[[], object] | None = None


class _Collected:
    """Rows already collected, in the shape ``harness.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class TsFleet:
    """A fleet of hourly series through the Python-kernel operators."""

    name = "ts_fleet"
    # nominal steady pass (s): --seconds / pass_s, rounded, passes per run
    pass_s = 6.5

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "fleet")
        self.truth = gen.fleet(seed, self.data)
        self.last: dict[str, object] = {}  # output name -> last pass's rows

    def register(self, spark) -> None:
        from kats_spark.plans.queries import raw_series

        self.spark = spark
        self.raw = raw_series(spark, self.data)

    def _collect(self, name: str):
        def collect(df):
            self.last[name] = df.toPandas()

        return collect

    def ops(self) -> list[Op]:
        from kats_spark.functions import rolling
        from kats_spark.models import fcst
        from kats_spark.operators import cusum, outlier, tsfeatures
        from kats_spark.plans.queries import hourly_series

        def hourly():
            self.hourly = hourly_series(self.spark, self.data)
            return self.hourly

        return [
            # the cached hourly frame every later call reads; count fills it
            Op("plans.queries.hourly_series", hourly, lambda df: df.count()),
            Op(
                "models.fcst.forecast",
                lambda: fcst.forecast(
                    self.hourly, "holtwinters", steps=24, freq_seconds=3600, period=24
                ),
                self._collect("forecast"),
            ),
            Op(
                "operators.cusum.cusum_detect",
                lambda: cusum.cusum_detect(self.hourly, threshold=0.5, delta_std_ratio=0.0),
                self._collect("cusum"),
            ),
            Op(
                "operators.outlier.outlier_detect",
                lambda: outlier.outlier_detect(self.hourly, period=24, iqr_mult=2.0),
                self._collect("outlier"),
            ),
            Op(
                "operators.tsfeatures.kernel_features",
                lambda: tsfeatures.kernel_features(self.hourly, period=24, skip_stl=True),
                self._collect("kernel"),
            ),
            Op(
                "functions.rolling.z_score",
                lambda: self.raw.withColumn("z", rolling.z_score(24)),
                self._collect("zscore"),
            ),
        ]

    # ------------------------------------------------------------------
    # correctness: the last pass's outputs are scored with DuckDB, no Spark job

    # each timed output in the row shape of the declared query whose oracle
    # scores it: time as text, doubles on round(x + 1e-9, 6)
    _SHAPES = {
        "holtwinters_forecast": ("forecast", "series_id, {t}, {r}", ("fcst", "fcst_lower", "fcst_upper")),
        "cusum_detect": ("cusum", "series_id, {cp}, cp_index::INT AS cp_index, direction, {r}",
                         ("mu0", "mu1", "delta", "llr")),
        "outlier_detect": ("outlier", "series_id, {t}, {r}, is_outlier::INT AS is_outlier",
                           ("value", "residual")),
        "tsfeatures_kernel": ("kernel", "series_id, {r}", None),
        "rolling_zscore": ("zscore", "series_id, {t}, {r}", ("value", "z")),
    }
    _KERNEL_DROPPED = ("series_id", "trend_strength", "seasonality_strength", "spikiness")

    def check(self) -> list[str]:
        import duckdb

        import __spark_entry__ as entry
        from kats_spark.plans.harness import compare

        bad: list[str] = []
        series = sorted(self.truth["series"])
        n, hours = len(series), self.truth["hours"]
        rng = np.random.default_rng([self.seed, 3])
        sample = sorted(rng.choice(series, ORACLE_SAMPLE, replace=False).tolist())
        sample_dir = os.path.join(os.path.dirname(self.data), "fleet_sample")
        gen.fleet_subset(self.data, sample_dir, sample)

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sample_dir}/events.parquet')"
        )
        for out in ("forecast", "cusum", "outlier", "kernel", "zscore"):
            con.register(out, self.last[out])
        oracles = entry.oracle_sql()
        in_sample = ", ".join(f"'{s}'" for s in sample)
        for query, (out, cols, rounded) in self._SHAPES.items():
            if rounded is None:  # every feature column
                rounded = [c for c in self.last[out].columns if c not in self._KERNEL_DROPPED]
            select = cols.format(
                t="strftime(time::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS time",
                cp="strftime(cp_time::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS cp_time",
                r=", ".join(f"round(1e-9 + {c}, 6) AS {c}" for c in rounded),
            )
            got = con.execute(f"SELECT {select} FROM {out} WHERE series_id IN ({in_sample})").df()
            ok, msg = compare(_Collected(got), con.execute(oracles[query]).df())
            if not ok:
                bad.append(f"{query} vs oracle on {sample}: {msg[:300]}")

        counts = {"forecast": n * 24, "kernel": n, "outlier": n * hours, "zscore": n * hours}
        for out, want in counts.items():
            got = con.execute(f"SELECT count(*) FROM {out}").fetchone()[0]
            if got != want:
                bad.append(f"{out}: {got} rows, expected {want}")

        # planted level shifts: a changepoint near the planted hour, same sign
        cps: dict[str, list[tuple[int, str]]] = {}
        for sid, idx, direction in con.execute(
            "SELECT series_id, cp_index, direction FROM cusum"
        ).fetchall():
            cps.setdefault(sid, []).append((idx, direction))
        found = 0
        for sid in series:
            t = self.truth["series"][sid]
            want_dir = "increase" if t["shift"] > 0 else "decrease"
            found += any(
                abs(idx - t["cp_index"]) <= CP_TOL_HOURS and d == want_dir
                for idx, d in cps.get(sid, ())
            )
        if found < MIN_RECALL * n:
            bad.append(f"level shifts found in {found}/{n} series")

        # planted spikes: flagged by the outlier detector at their hour
        flagged = set(con.execute(
            "SELECT series_id, (epoch(time::TIMESTAMP)::BIGINT - 1704067200) // 3600 "
            "FROM outlier WHERE is_outlier = 1"
        ).fetchall())
        spikes = [(s, p) for s in series for p in self.truth["series"][s]["spikes"]]
        hit = sum(sp in flagged for sp in spikes)
        if hit < MIN_RECALL * len(spikes):
            bad.append(f"spikes flagged {hit}/{len(spikes)}")
        return bad


# query_mix rows, by the layer mechanism each one exercises
QUERY_MIX_GROUPS = {
    # the whole plan and its driver-side jobs are rebuilt on every call
    "rebuilt": ["dup_clusters"],
    # plans.prepared memo: later calls return the memoised frame
    "memo": ["daily_revenue_by_region", "exact_dedup"],
    # model memos: the first call trains, later calls only infer
    "model": ["quality_classifier"],
    # stored indexes: the first call builds and saves, later calls read
    "stored": ["incremental_neardup_stored"],
}
QUERY_MIX_ROWS = [r for rows in QUERY_MIX_GROUPS.values() for r in rows]


class QueryMix:
    """Declared bench rows on the fixed sf0.01 tables, through the plans
    layer, with bench.py's clearCache + JVM GC before each row.  The action
    collects each row's output; the check scores the last pass's rows."""

    name = "query_mix"
    pass_s = 3.5

    def __init__(self, seed: int, work: str):
        self.seed = seed  # the inputs are fixed; the seed changes nothing
        self.last: dict[str, object] = {}

    def register(self, spark) -> None:
        import __spark_entry__ as entry
        from kats_spark.session import tables

        self.spark = spark
        # the program's own loader; the rows read their tables by path, so
        # the frames are not kept, but set-up pays for the registration
        tables(spark, SF001)
        self.queries = entry.queries()

    def _clear(self) -> None:
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def ops(self) -> list[Op]:
        def row(name: str) -> Op:
            def collect(df):
                self.last[name] = df.toPandas()

            return Op(
                f"plans.row.{name}",
                lambda: self.queries[name](self.spark, SF001),
                collect,
                pre=self._clear,
            )

        return [row(r) for r in QUERY_MIX_ROWS]

    def check(self) -> list[str]:
        import __spark_entry__ as entry
        from kats_spark.plans.harness import compare, duck_run

        bad: list[str] = []
        oracles = entry.oracle_sql()
        for r in QUERY_MIX_ROWS:
            got = self.last.get(r)
            if got is None:
                bad.append(f"{r}: no output")
            elif r in oracles:
                ok, msg = compare(_Collected(got), duck_run(oracles[r], SF001))
                if not ok:
                    bad.append(f"{r} vs oracle: {msg[:300]}")
            elif len(got) == 0:
                bad.append(f"{r}: no rows")
        return bad


WORKLOADS = {w.name: w for w in (TsFleet, QueryMix)}
