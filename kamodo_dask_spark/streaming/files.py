"""Structured Streaming ingestion (SURVEY §2.9).

The reference "streams" by manually re-running ingestion over a sliding
wall-clock window (docs/interpolator.md:25-31, test_parquet_load.py:97-101)
and tolerating missing files (kamodo_dask.py:72-76). Spark-native upgrade:

- file discovery        → ``readStream`` file source (automatic new-file
  detection, ``maxFilesPerTrigger`` back-pressure) — replaces the S3 HEAD
  polling manifest (S1-S3);
- late/missing files    → event-time watermark on the file timestamp;
- 10-minute alignment   → tumbling ``window(ts, '10 minutes')`` — the
  streaming form of the reference's floor/ceil('10T') (kamodo_dask.py:191-192);
- interpolator refresh  → ``foreachBatch`` rebuilding the broadcast slab:
  streaming state is just "the current slab", so a refreshed registry beats
  ``applyInPandasWithState`` here (no per-key state to track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from kamodo_dask_spark.sources.parquet import with_file_timestamp

#: Grid file schema (spatial snapshot; time derives from the filename).
GRID_FILE_SCHEMA = T.StructType(
    [
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("h", T.DoubleType()),
    ]
)


def stream_grid_files(
    spark: SparkSession,
    directory: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of a grid-file directory; one micro-batch per new file
    set, file timestamp derived per row (order-independent)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(directory)
    return with_file_timestamp(df)


def stream_windowed_stats(
    stream: DataFrame,
    ts_col: str = "time",
    window: str = "10 minutes",
    watermark: str = "20 minutes",
    measures: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window aggregation with late-data tolerance.

    The watermark expresses the reference's "files may arrive late or not at
    all" (kamodo_dask.py:72-76): state for windows older than the watermark
    is finalized and released — bounded memory on an unbounded stream.
    """
    measures = measures or []
    aggs = [F.count("*").alias("n_rows")]
    for m in measures:
        aggs += [
            F.round(F.avg(m), 6).alias(f"avg_{m}"),
            F.round(F.min(m), 6).alias(f"min_{m}"),
            F.round(F.max(m), 6).alias(f"max_{m}"),
        ]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
    )


class SlabRefresher:
    """foreachBatch sink that keeps a current in-memory interpolation slab.

    Each micro-batch folds its rows into an accumulated grid table (backed by
    a parquet sink directory) and rebuilds the interpolator registry over the
    trailing time window — the streaming equivalent of re-running
    ``df_from_dask`` + ``KamodoDask`` per wall-clock tick
    (docs/interpolator.md:25-31). On a cluster the rebuilt slab is a new
    broadcast variable; queries between refreshes keep the previous slab.

    Assumes a single writer: this instance is the only process appending to
    ``store_dir`` after it attaches. The retention cutoff's running time
    max is read from the store once, then advanced only by the batches
    this instance appends, so rows another writer adds later do not move
    the cutoff.
    """

    def __init__(
        self,
        store_dir: str,
        axes: tuple[str, ...] = ("time", "lon", "lat", "h"),
        fill_value: float = 0.0,
        retention_seconds: float | None = None,
        time_col: str = "time",
        strategy: str = "auto",
    ):
        self.store_dir = store_dir
        self.axes = axes
        self.fill_value = fill_value
        self.registry = None
        self.batches_seen = 0
        #: Interpolation strategy for the rebuilt registries; "cell" makes
        #: each refresh build+persist the cell relation once so the many
        #: point queries between refreshes are single-join plans (the
        #: repeated-query regime SCALE.md measures at 2.8x) — the previous
        #: refresh's relation is released on replacement.
        self.strategy = strategy
        #: Trailing-window bound: rows whose time axis is more than this far
        #: behind the store's max are EXCLUDED from the rebuilt slab. Without
        #: it the per-batch rebuild cost grows with total history, and a
        #: producer-side grid-shape change (new resolution) poisons the
        #: union forever — with retention, old-shape rows age out. The
        #: parquet files themselves are append-only; reclaim disk with a
        #: periodic ``sources.sinks.compact_parquet`` maintenance pass over
        #: the still-live window.
        self.retention_seconds = retention_seconds
        self.time_col = time_col
        #: Running max of the time axis over everything THIS instance has
        #: appended (None until seeded) — the retention cutoff input,
        #: maintained from the per-batch observed metrics so steady-state
        #: batches never re-scan the store for its max. Seeded ONCE from
        #: the store on the first non-empty batch (covers pre-existing
        #: files written before this instance attached); append-only
        #: store => running max stays exact afterwards.
        self._t_max: "float | None" = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # A micro-batch DataFrame is only valid within its batch — append it
        # to the durable slab store, then rebuild the registry from the store.
        from pyspark.sql import Observation

        from kamodo_dask_spark.grid.registry import KamodoSpark

        self.batches_seen += 1
        spark = batch_df.sparkSession
        # Emptiness (and, under retention, the batch's max time) ride as
        # OBSERVED METRICS on the append write itself — zero extra Spark
        # jobs and O(1) metadata per batch. Listing the slab store per
        # micro-batch would cost O(files-in-store) metadata, which grows
        # unboundedly on a long-running stream and is pagination-expensive
        # on object stores; an ``isEmpty()`` check would cost a scan job.
        # Metrics are computed by the write job Spark was running anyway.
        metrics_exprs = [F.count(F.lit(1)).alias("_n")]
        if self.retention_seconds is not None:
            metrics_exprs.append(
                F.max(F.col(self.time_col).cast("double")).alias("_tmax")
            )
        obs = Observation(f"slab_append_{batch_id}")
        batch_df.observe(obs, *metrics_exprs).write.mode("append").parquet(
            self.store_dir
        )
        got = obs.get
        if not got["_n"]:
            return  # empty batch: nothing appended, registry stays current
        slab = spark.read.parquet(self.store_dir)
        if self.retention_seconds is not None:
            tnum = F.col(self.time_col).cast("double")
            if self._t_max is None:
                # first non-empty batch under THIS instance: one store-max
                # job covers files that predate the instance; afterwards
                # the observed per-batch max keeps it current for free
                self._t_max = slab.agg(F.max(tnum)).first()[0]
            elif got["_tmax"] is not None:
                self._t_max = max(self._t_max, float(got["_tmax"]))
            hi = self._t_max
            if hi is not None:
                slab = slab.filter(tnum >= hi - float(self.retention_seconds))
        slab = slab.dropDuplicates(list(self.axes))
        previous = self.registry
        self.registry = KamodoSpark(
            slab, self.axes, self.fill_value, strategy=self.strategy
        )
        if previous is not None:
            previous.release()

    def current(self):
        """Latest registry (None until the first non-empty batch)."""
        return self.registry
