"""Parquet sources.

Reference parity:
- multi-file lazy scan  — ``kamodo_dask/kamodo_dask.py:108-132`` (``parquet_to_ddf``)
  → ``spark.read.parquet(*paths)`` (implicit UNION ALL, schema from footers,
  vectorized reader, predicate pushdown).
- per-file timestamp    — ``kamodo_dask/kamodo_dask.py:97-105`` derives a
  timestamp from each filename and stamps it onto rows *positionally*
  (``np.repeat``, ``kamodo_dask.py:174,280`` — order-dependent, [REF-BUG]).
  We derive it from ``input_file_name()`` instead, which is row-order
  independent and survives shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def parquet_ts_unit(path: str, column: str = "ts") -> str:
    """Physical time unit ('ns'|'us'|'ms'|'s') of a parquet timestamp column,
    read from the file footer (driver-side, no scan). The synthetic events
    fixture has shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
    regenerations — readers that declare a raw int64 schema must scale by the
    actual stored unit, not an assumed one."""
    import pyarrow.parquet as pq

    t = pq.ParquetFile(path).schema_arrow.field(column).type
    return getattr(t, "unit", "us")


def raw_int64_to_timestamp(col: str, unit: str) -> Column:
    """Expression converting a raw int64 epoch value in ``unit`` to a Spark
    TIMESTAMP — the companion of reading a parquet timestamp column through a
    declared ``LongType`` schema (streaming file sources can't infer)."""
    scale = {"ns": f"timestamp_micros({col} div 1000)",
             "us": f"timestamp_micros({col})",
             "ms": f"timestamp_millis({col})",
             "s": f"timestamp_seconds({col})"}
    return F.expr(scale[unit])


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ISO timestamp embedded in a grid filename: {prefix}YYYY-MM-DDTHH:MM:SS{postfix}
# (reference filename scheme, kamodo_dask.py:63-67). The time separator may be
# ':' (object stores) or '-' (Hadoop-safe local/HDFS layouts).
_TS_PATTERN = r"(\d{4}-\d{2}-\d{2})T(\d{2})[:\-](\d{2})[:\-](\d{2})"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic benchmark table; events get timestamp normalization."""
    if name == "events":
        return read_events(spark, sf_dir)
    return _ltz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (ltz).

    Parquet timestamps written without a timezone surface as TIMESTAMP_NTZ
    under Spark 4's ``inferTimestampNTZ`` default, and ntz is rejected by
    ``unix_micros`` / mixes badly with timestamp literals (which are ltz).
    The cast interprets the wall clock in the session timezone and collect
    renders it back in the same timezone, so the round trip preserves the
    wall-clock value regardless of what the session tz is — and every use
    in the catalog (bucketing, as-of, interval arithmetic) depends only on
    differences, which are tz-invariant.
    """
    if any(t == "timestamp_ntz" for _, t in df.dtypes):
        return df.select(
            *[
                F.col(c).cast("timestamp").alias(c) if t == "timestamp_ntz" else F.col(c)
                for c, t in df.dtypes
            ]
        )
    return df


def read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing its nanosecond timestamps to Spark µs.

    The events fixture stores ``ts`` as Parquet INT64 TIMESTAMP(NANOS), which
    Spark's reader rejects outright. With ``nanosAsLong`` the column surfaces
    as raw nanoseconds; truncating division to micros matches how µs-native
    engines (DuckDB, Spark itself) downcast nanosecond timestamps.

    NB: the conf deliberately stays set on the session — the returned frame
    is lazy, and the scan re-reads the conf at action time, so a scoped
    restore (``session.scoped_conf``) would break execution after return.
    """
    path = f"{sf_dir}/events.parquet"
    try:
        spark.conf.set(_NANOS_KEY, "true")
    except Exception:
        pass
    try:
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return _ltz(df)
    except Exception:
        # Conf not settable in this deployment: read through pyarrow and
        # downcast on the driver. Only used as a last resort on small inputs.
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        pdf = tbl.to_pandas()
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        return _ltz(spark.createDataFrame(pdf))


def scan_grid_files(spark: SparkSession, paths: list[str], *, with_timestamp: bool = True) -> DataFrame:
    """Scan N single-timestamp grid Parquet files into one DataFrame.

    Equivalent of ``parquet_to_ddf`` (kamodo_dask.py:108-132): one logical
    UNION ALL over the file list. With ``with_timestamp`` the per-file
    timestamp is recovered from the filename (see module docstring).
    """
    df = spark.read.parquet(*paths)
    if with_timestamp:
        df = with_file_timestamp(df)
    return df


def with_file_timestamp(df: DataFrame, column: str = "time") -> DataFrame:
    """Derive a timestamp column from each row's source filename.

    Spark-side replacement for ``extract_timestamp_from_filename`` +
    positional stamping (kamodo_dask.py:97-105,174,278-287): order-independent
    and executed JVM-side within the scan stage.
    """
    name = F.input_file_name()
    stamp = F.concat_ws(
        " ",
        F.regexp_extract(name, _TS_PATTERN, 1),
        F.concat_ws(
            ":",
            F.regexp_extract(name, _TS_PATTERN, 2),
            F.regexp_extract(name, _TS_PATTERN, 3),
            F.regexp_extract(name, _TS_PATTERN, 4),
        ),
    )
    return df.withColumn(column, F.to_timestamp(stamp, "yyyy-MM-dd HH:mm:ss"))
