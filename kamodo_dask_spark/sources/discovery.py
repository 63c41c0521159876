"""Time-range file discovery (driver-side, cheap metadata only).

Reference parity: ``fetch_file_range`` (kamodo_dask.py:63-86) generates
candidate filenames for every 10-minute step in ``[start, end]`` and keeps the
ones that exist (20-thread S3 HEAD fan-out, ``check_file_existence``,
kamodo_dask.py:31-60). Missing files are tolerated with a warning
(kamodo_dask.py:72-76); an empty result is the caller's error.

At scale the preferred layout is a time-partitioned table where Catalyst's
partition pruning replaces manifest construction entirely; this module covers
the reference's flat filename-encoded layout. Listing is a pure metadata
operation against the filesystem (local, HDFS, or s3a — same ``glob`` API),
so no executor work is involved.
"""

from __future__ import annotations

import posixpath
import warnings
from datetime import datetime, timedelta

#: Reference filename format (kamodo_dask.py:66) — fine on object stores.
TS_FORMAT = "%Y-%m-%dT%H:%M:%S"
#: Hadoop `Path` rejects colons in file names → colon-free variant for
#: local/HDFS layouts.
SAFE_TS_FORMAT = "%Y-%m-%dT%H-%M-%S"
DEFAULT_FREQ = timedelta(minutes=10)


def filename_for_timestamp(
    ts: datetime, prefix: str = "", postfix: str = ".parquet", fmt: str = TS_FORMAT
) -> str:
    """``{prefix}YYYY-MM-DDTHH:MM:SS{postfix}`` — kamodo_dask.py:66-67."""
    return f"{prefix}{ts.strftime(fmt)}{postfix}"


def extract_timestamp_from_filename(
    filename: str, prefix: str = "", postfix: str = ".parquet", fmt: str = TS_FORMAT
) -> datetime:
    """Inverse of :func:`filename_for_timestamp` — kamodo_dask.py:97-101."""
    base = posixpath.basename(filename)
    pre = posixpath.basename(prefix) if prefix else ""
    if pre and base.startswith(pre):
        base = base[len(pre):]
    if postfix and base.endswith(postfix):
        base = base[: len(base) - len(postfix)]
    return datetime.strptime(base, fmt)


def time_range(start: datetime, end: datetime, freq: timedelta = DEFAULT_FREQ) -> list[datetime]:
    """Inclusive datetime range at fixed frequency (pd.date_range equivalent)."""
    out, t = [], start
    while t <= end:
        out.append(t)
        t = t + freq
    return out


def fetch_file_range(
    start: datetime,
    end: datetime,
    prefix: str,
    postfix: str = ".parquet",
    freq: timedelta = DEFAULT_FREQ,
    spark=None,
    fmt: str = TS_FORMAT,
) -> tuple[list[str], list[datetime]]:
    """Candidate filenames for each step in [start, end]; keep those that exist.

    Returns ``(existing_paths, their_timestamps)``. Warns when some requested
    timestamps have no file (kamodo_dask.py:72-76). Existence checks run
    through the Hadoop FileSystem API when a SparkSession is supplied (works
    for s3a/hdfs/local uniformly, connection pooling handled by the FS client
    — replacing the reference's 20-thread boto HEAD pool), else local os.path.
    """
    stamps = time_range(start, end, freq)
    candidates = [prefix + ts.strftime(fmt) + postfix for ts in stamps]

    if spark is not None:
        existing = _hadoop_exists(spark, candidates)
    else:
        import os

        existing = [os.path.exists(p) for p in candidates]

    found = [(p, ts) for p, ts, ok in zip(candidates, stamps, existing) if ok]
    # warn only when there IS a found subset to proceed with — the
    # all-missing case raises IOError in the caller, and a "proceeding
    # with the found subset" warning right before that raise is noise
    if found and len(found) < len(candidates):
        missing = len(candidates) - len(found)
        warnings.warn(
            f"{missing}/{len(candidates)} requested grid files are missing; "
            "proceeding with the found subset",
            stacklevel=2,
        )
    return [p for p, _ in found], [ts for _, ts in found]


#: Concurrent existence probes — the reference uses a 20-thread HEAD pool
#: (kamodo_dask.py:31-60); serial s3a round-trips at ~30-50 ms each would
#: stall the driver for minutes on a month-long 10-minute-cadence window.
_EXISTS_POOL_THREADS = 20


def _hadoop_exists(spark, paths: list[str]) -> list[bool]:
    """Existence probe through the JVM Hadoop FileSystem (s3a/hdfs/file).

    Probes run on a driver-side thread pool: Hadoop ``FileSystem`` instances
    are thread-safe for reads and py4j serves concurrent calls, so the wall
    clock is ~``len(paths)/threads`` RPCs instead of ``len(paths)``.
    """
    if not paths:
        return []
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    first = jvm.org.apache.hadoop.fs.Path(paths[0])
    fs = first.getFileSystem(hconf)
    if len(paths) == 1:
        return [bool(fs.exists(first))]

    from concurrent.futures import ThreadPoolExecutor

    def probe(p: str) -> bool:
        return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(p)))

    with ThreadPoolExecutor(max_workers=min(_EXISTS_POOL_THREADS, len(paths))) as pool:
        return list(pool.map(probe, paths))
