"""Loaders into the canonical long frame.

Parity with kats/data/utils.py:38-72 (``load_data`` reads a packaged CSV
into a DataFrame; ``load_air_passengers`` wraps it) and the
TimeSeriesData time-parsing surface (kats/consts.py:583-653
``_set_time_format``: already-datetime passthrough, unix epochs in any
unit, date-format strings, optional timezone localize/convert).

Spark-first: the canonical store is Parquet (columnar scan, predicate
pushdown); CSV is the compatibility path.  Time parsing is a pure column
expression — ``to_timestamp`` / ``timestamp_seconds`` — so it stays in
whole-stage codegen and the parse never blocks pushdown of filters on
other columns.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kats_spark import cache
from kats_spark.tsframe import TSSchema, DEFAULT

_UNIT_TO_SECONDS = {"s": 1.0, "ms": 1e-3, "us": 1e-6, "ns": 1e-9}


def _data_files(path: str) -> Iterator[str]:
    """Data files of a parquet path in sorted order, listed the way Spark
    lists them: the path itself when it is a file; under a directory,
    every file whose name does not start with ``_`` or ``.`` (so
    ``_SUCCESS``, ``_SOURCE_FINGERPRINT`` and ``.crc`` sidecars drop
    out), descending into ``k=v`` partition directories."""
    if not os.path.isdir(path):
        yield path
        return
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full):
            if "=" in name and not name.startswith("."):
                yield from _data_files(full)
        elif not name.startswith(("_", ".")):
            yield full


def footers(path: str) -> Iterator[tuple[str, "pyarrow.parquet.FileMetaData"]]:
    """(file, footer metadata) for every data file of a parquet path —
    read with pyarrow, so no Spark job runs."""
    import pyarrow.parquet as pq

    for f in _data_files(path):
        yield f, pq.read_metadata(f)


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for a parquet path, from one footer.

    Spark infers from the first data file's footer (``mergeSchema`` off)
    and appends partition columns from the directory names itself, so one
    footer is enough.  The footer's arrow schema goes through
    ``from_arrow_schema(prefer_timestamp_ntz=True)``, as Spark 4 infers
    naive timestamps as ``timestamp_ntz``.  First the top-level types that
    Spark's parquet reader sees differently from arrow are mapped its way
    (ParquetToSparkSchemaConverter): INT96 is an instant,
    ``timestamp[ns]`` is ``bigint`` under
    ``spark.sql.legacy.parquet.nanosAsLong``, an arrow duration is its
    int64 storage, and unsigned ints widen."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    first = next(footers(path), None)
    if first is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    _, meta = first
    nanos_as_long = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    int96 = {
        meta.schema.column(i).path
        for i in range(meta.num_columns)
        if meta.schema.column(i).physical_type == "INT96"
    }
    fields = []
    for f in meta.schema.to_arrow_schema():
        t = f.type
        if f.name in int96:
            t = pa.timestamp("us", tz="UTC")
        elif pa.types.is_timestamp(t) and t.unit == "ns" and nanos_as_long:
            t = pa.int64()
        elif pa.types.is_duration(t):
            t = pa.int64()
        elif pa.types.is_unsigned_integer(t):
            t = {8: pa.int16(), 16: pa.int32(), 32: pa.int64()}.get(
                t.bit_width, pa.decimal128(20, 0)
            )
        fields.append(f.with_type(t))
    return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema pinned from the
    footer, so the read starts no schema-inference job.  Nothing is
    memoized here; the path is recorded with the cache build in progress
    (``kats_spark.cache.source``), whose hits re-check its content."""
    cache.source(path)
    return spark.read.schema(footer_schema(spark, path)).parquet(path)


def _dst_flags(local: Column, tz: str) -> tuple[Column, Column, Column]:
    """(utc, is_nonexistent, is_ambiguous) for a naive local timestamp in
    ``tz`` — pure column expressions, no UDF.

    Nonexistent (spring-forward gap): java.time resolves a gap local by
    shifting it later by the gap length, so the roundtrip
    ``from_utc_timestamp(to_utc_timestamp(t)) != t`` detects it exactly.
    Ambiguous (fall-back overlap): t maps to two instants u1 < u2 =
    u1 + overlap; the JVM picks u1 (earlier offset), and
    ``from_utc_timestamp(u1 + overlap) == t`` holds iff t is in the
    overlap — checked at the two real-world transition sizes (1h, 30m).
    """
    u = F.to_utc_timestamp(local, tz)
    roundtrip = F.from_utc_timestamp(u, tz)
    nonexist = local.isNotNull() & (roundtrip != local)
    amb = local.isNotNull() & (
        (F.from_utc_timestamp(u + F.expr("INTERVAL 1 HOUR"), tz) == local)
        | (F.from_utc_timestamp(u + F.expr("INTERVAL 30 MINUTES"), tz) == local)
    )
    return u, nonexist, amb


def parse_time(
    col: Column,
    date_format: str | None = None,
    use_unix_time: bool = False,
    unix_time_units: str = "s",
    tz: str | None = None,
    tz_ambiguous: str = "earliest",
    tz_nonexistent: str = "shift_forward",
) -> Column:
    """Column-expression mirror of _set_time_format (kats/consts.py:583):

    - unix epochs: any of s/ms/us/ns -> scale to seconds, ``timestamp_seconds``
      (fractional seconds preserved via double math);
    - strings: ``to_timestamp`` with an optional explicit format;
    - ``tz``: interpret the parsed local time in that zone -> session-zone
      timestamp (``to_utc_timestamp``), the localize step of the reference.

    DST policies (kats/consts.py:197-258 ``tz_ambiguous``/
    ``tz_nonexistent``, passed there to pandas ``tz_localize``), applied
    as pure column expressions over the roundtrip/overlap detection of
    :func:`_dst_flags`:

    - ``tz_ambiguous``: ``'earliest'`` (default — the JVM's pick, the
      pre-transition/DST offset, = pandas ``ambiguous=True``);
      ``'latest'`` (the post-transition offset); ``'NaT'`` (null out);
      ``'raise'`` (per-row ``raise_error`` on the first ambiguous
      local, the reference's default).  The reference's ``'infer'`` is
      positional (first occurrence of a repeated clock time -> DST) and
      cannot be decided from a single value — use
      :func:`localize_infer` on a frame with an order column.
    - ``tz_nonexistent``: ``'shift_forward'`` (default — the JVM
      shifts a gap local LATER BY THE GAP LENGTH; note pandas'
      shift_forward snaps to the gap's end, so the two differ by up to
      the gap offset — ours keeps minute-of-hour, documented
      divergence); ``'shift_backward'`` (earlier by the gap length);
      ``'NaT'``; ``'raise'`` (reference default).

    Defaults keep the engine's historical behavior (JVM resolution,
    never raising); callers wanting the reference's strictness pass
    ``'raise'``/``'raise'``.
    """
    if use_unix_time:
        scale = _UNIT_TO_SECONDS[unix_time_units]
        out = F.timestamp_seconds(col.cast("double") * F.lit(scale))
    elif date_format:
        out = F.to_timestamp(col, date_format)
    else:
        out = F.to_timestamp(col)
    if tz:
        if tz_ambiguous == "infer":
            raise ValueError(
                "tz_ambiguous='infer' is positional (needs the frame's "
                "row order) — use kats_spark.sources.load.localize_infer"
            )
        if tz_ambiguous not in ("earliest", "latest", "NaT", "raise"):
            raise ValueError(f"unknown tz_ambiguous: {tz_ambiguous!r}")
        if tz_nonexistent not in (
            "shift_forward",
            "shift_backward",
            "NaT",
            "raise",
        ):
            raise ValueError(f"unknown tz_nonexistent: {tz_nonexistent!r}")
        u, nonexist, amb = _dst_flags(out, tz)
        if tz_ambiguous == "latest":
            overlap = F.when(
                F.from_utc_timestamp(u + F.expr("INTERVAL 1 HOUR"), tz) == out,
                F.expr("INTERVAL 1 HOUR"),
            ).otherwise(F.expr("INTERVAL 30 MINUTES"))
            u = F.when(amb, u + overlap).otherwise(u)
        elif tz_ambiguous == "NaT":
            u = F.when(amb, F.lit(None).cast("timestamp")).otherwise(u)
        elif tz_ambiguous == "raise":
            u = F.when(
                amb,
                F.raise_error(
                    F.concat(
                        F.lit(f"ambiguous local time in {tz}: "),
                        out.cast("string"),
                    )
                ).cast("timestamp"),
            ).otherwise(u)
        if tz_nonexistent == "shift_backward":
            gap = F.from_utc_timestamp(u, tz).cast("double") - out.cast("double")
            u = F.when(
                nonexist, F.timestamp_seconds(u.cast("double") - gap)
            ).otherwise(u)
        elif tz_nonexistent == "NaT":
            u = F.when(nonexist, F.lit(None).cast("timestamp")).otherwise(u)
        elif tz_nonexistent == "raise":
            u = F.when(
                nonexist,
                F.raise_error(
                    F.concat(
                        F.lit(f"nonexistent local time in {tz}: "),
                        out.cast("string"),
                    )
                ).cast("timestamp"),
            ).otherwise(u)
        out = u
    return out


def localize_infer(
    df: DataFrame,
    time_col: str,
    tz: str,
    order_col: str | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Frame-level mirror of pandas ``tz_localize(ambiguous='infer')``
    (the kats/consts.py:197 default surface): among rows sharing the
    same repeated clock time in a fall-back overlap, the FIRST
    occurrence (by ``order_col``; required because Spark frames are
    unordered — pandas uses positional order) takes the earlier (DST)
    offset and later occurrences take the post-transition offset.
    ``by`` scopes the occurrence counting (e.g. per series).

    Nonexistent locals keep the JVM shift (pass the column through
    :func:`parse_time` first for other gap policies).  Replaces
    ``time_col`` with the localized timestamp."""
    from pyspark.sql import Window

    if order_col is None:
        raise ValueError(
            "localize_infer needs an explicit order_col: 'infer' is "
            "positional and Spark frames carry no row order"
        )
    local = F.col(time_col)
    u, _, amb = _dst_flags(local, tz)
    w = Window.partitionBy(*(by or []), time_col).orderBy(order_col)
    occ = F.row_number().over(w)
    overlap = F.when(
        F.from_utc_timestamp(u + F.expr("INTERVAL 1 HOUR"), tz) == local,
        F.expr("INTERVAL 1 HOUR"),
    ).otherwise(F.expr("INTERVAL 30 MINUTES"))
    resolved = F.when(amb & (occ > 1), u + overlap).otherwise(u)
    return df.withColumn(time_col, resolved)


def load_csv(
    spark: SparkSession,
    path: str,
    time_col: str = "time",
    value_cols: list[str] | None = None,
    series_col: str | None = None,
    date_format: str | None = None,
    use_unix_time: bool = False,
    unix_time_units: str = "s",
    tz: str | None = None,
    tz_ambiguous: str = "earliest",
    tz_nonexistent: str = "shift_forward",
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """CSV -> canonical long frame (load_data, kats/data/utils.py:38).

    ``value_cols=None`` takes every non-time, non-series column (the
    TimeSeriesData convention: anything not named ``time`` is a value,
    kats/consts.py:962-966).  Multiple value columns are melted; a
    ``series_col`` (long input) is passed through.
    """
    raw = spark.read.option("header", True).option("inferSchema", True).csv(path)
    t = parse_time(
        F.col(time_col),
        date_format,
        use_unix_time,
        unix_time_units,
        tz,
        tz_ambiguous,
        tz_nonexistent,
    ).alias(s.time)
    if series_col is not None:
        vc = value_cols[0] if value_cols else next(
            c for c in raw.columns if c not in (time_col, series_col)
        )
        return raw.select(
            F.col(series_col).cast("string").alias(s.series_id),
            t,
            F.col(vc).cast("double").alias(s.value),
        )
    cols = value_cols or [c for c in raw.columns if c != time_col]
    if len(cols) == 1:
        return raw.select(
            F.lit(cols[0]).alias(s.series_id),
            t,
            F.col(cols[0]).cast("double").alias(s.value),
        )
    pairs = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)
    return raw.select(t, F.expr(
        f"stack({len(cols)}, {pairs}) as ({s.series_id}, {s.value})"
    )).select(s.series_id, s.time, s.value)


def to_wide(df: DataFrame, s: TSSchema = DEFAULT, series_ids: list[str] | None = None) -> DataFrame:
    """Long -> wide (one column per series, the TimeSeriesData
    multivariate layout, kats/consts.py:834 ``to_dataframe``).  Passing
    ``series_ids`` skips the extra distinct-scan Spark otherwise runs to
    discover pivot values — always pass it at scale."""
    p = df.groupBy(s.time).pivot(s.series_id, series_ids) if series_ids else df.groupBy(
        s.time
    ).pivot(s.series_id)
    return p.agg(F.first(s.value))


def demo_series(
    spark: SparkSession,
    n: int = 144,
    freq_seconds: int = 86400 * 30,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """Deterministic stand-in for load_air_passengers
    (kats/data/utils.py:62): a monthly-shaped trend x seasonality series
    generated by expressions (we do not ship the reference's CSV — the
    shape, 12-period multiplicative seasonality over a rising trend, is
    what the demos need).  ``spark.range`` keeps it distributed."""
    i = F.col("id").cast("double")
    season = 1.0 + 0.25 * F.sin(2 * 3.141592653589793 * i / 12.0)
    trend = 100.0 + 2.5 * i
    return spark.range(n).select(
        F.lit("demo").alias(s.series_id),
        F.timestamp_seconds(F.lit(1262304000) + F.col("id") * freq_seconds).alias(s.time),
        (trend * season).alias(s.value),
    )


def rename_columns_by_prefix(
    df: DataFrame,
    prefix_map: dict[str, str],
    time_col_name: str = "time",
) -> DataFrame:
    """Prefix-based column rename with uniqueness checks
    (kats/utils/dataframe_utils.py:14-92): each prefix must match exactly
    one column, no column may match two prefixes, the time column is
    preserved, unmatched columns pass through.  Pure metadata operation —
    ``withColumnsRenamed`` rewrites the projection, no job runs."""
    cols = [c for c in df.columns if c != time_col_name]
    mapping: dict[str, str] = {}
    claimed: dict[str, str] = {}
    for prefix, new_name in prefix_map.items():
        matches = [c for c in cols if c.startswith(prefix)]
        if len(matches) != 1:
            raise ValueError(
                f"prefix {prefix!r} matched {len(matches)} columns ({matches}); must match exactly one"
            )
        col = matches[0]
        if col in claimed:
            raise ValueError(
                f"column {col!r} matched by multiple prefixes: {claimed[col]!r} and {prefix!r}"
            )
        claimed[col] = prefix
        mapping[col] = new_name
    return df.withColumnsRenamed(mapping)
