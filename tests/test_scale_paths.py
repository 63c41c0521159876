"""Scale-path variants: large-axis searchsorted snap, corner-strategy
registry, asof tolerance, streaming/batch window agreement on events."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kamodo_dask_spark.grid.interpolate import (
    _LITERAL_AXIS_MAX,
    interpolate_points,
    nlinear_interp,
)
from kamodo_dask_spark.operators.asof import asof_join


def test_large_axis_uses_searchsorted_udf_and_matches_oracle(spark):
    """Axes beyond the literal-array threshold take the Arrow-batched
    searchsorted path; results must match the numpy oracle exactly."""
    n = _LITERAL_AXIS_MAX + 100
    ax_t = np.arange(n, dtype=np.float64)  # large axis → UDF snap
    ax_x = np.array([0.0, 10.0, 20.0])     # small axis → literal snap
    rows = []
    # sparse-but-dense grid is too big to build fully; use a small dense grid
    # over a subrange: t in [1000, 1005], x all — then query inside it
    t_vals = ax_t[1000:1006]
    for t in t_vals:
        for x in ax_x:
            rows.append((float(t), float(x), float(2 * t + 3 * x)))
    grid = spark.createDataFrame(rows, "t double, x double, v double")
    pts = spark.createDataFrame(
        [(0, 1002.25, 5.0), (1, 1004.5, 15.0)], "point_id long, t double, x double"
    )
    out = interpolate_points(
        grid,
        pts,
        axes=("t", "x"),
        measures=["v"],
        axis_arrays={"t": t_vals, "x": ax_x},
    )
    got = {r["point_id"]: r["v"] for r in out.collect()}
    assert got[0] == pytest.approx(2 * 1002.25 + 3 * 5.0, rel=1e-12)
    assert got[1] == pytest.approx(2 * 1004.5 + 3 * 15.0, rel=1e-12)

    # force the UDF path even for the small grid by faking a large axis set
    big_t = np.concatenate([t_vals, np.arange(2000, 2000 + _LITERAL_AXIS_MAX)])
    out_udf = interpolate_points(
        grid, pts, axes=("t", "x"), measures=["v"],
        axis_arrays={"t": big_t, "x": ax_x},
    )
    got_udf = {r["point_id"]: r["v"] for r in out_udf.collect()}
    assert got_udf[0] == pytest.approx(got[0], rel=1e-12)


def test_registry_corner_strategy(spark):
    """KamodoSpark with strategy='corner' answers identically to broadcast."""
    from kamodo_dask_spark.grid.registry import KamodoSpark
    from kamodo_dask_spark.plans.checks import executed_plan

    rows = [
        (float(t), float(x), float(y), float(h), float(t + 2 * x + 3 * y + 4 * h))
        for t in (0.0, 1.0)
        for x in (0.0, 1.0)
        for y in (0.0, 1.0)
        for h in (0.0, 1.0)
    ]
    grid = spark.createDataFrame(rows, "time double, lon double, lat double, h double, v double")
    pts = spark.createDataFrame(
        [(0, 0.5, 0.25, 0.75, 0.5)],
        "point_id long, time double, lon double, lat double, h double",
    )
    vals, plans = {}, {}
    for strategy in ("corner", "broadcast"):
        reg = KamodoSpark(grid, fill_value=0.0, strategy=strategy)
        out = reg["v"](pts)
        plans[strategy] = executed_plan(out)
        vals[strategy] = out.collect()[0]["v"]
    expected = 0.5 + 2 * 0.25 + 3 * 0.75 + 4 * 0.5
    assert vals["corner"] == pytest.approx(expected, rel=1e-12)
    assert vals["broadcast"] == pytest.approx(expected, rel=1e-12)
    # each registry runs the strategy it reports, even on a 16-row slab
    assert "Join" in plans["corner"], plans["corner"]
    assert "MapInPandas" in plans["broadcast"], plans["broadcast"]
    assert "Exchange" not in plans["broadcast"], plans["broadcast"]


def test_asof_tolerance(spark):
    left = spark.createDataFrame([(1, 100.0), (1, 200.0)], "k int, ts double")
    right = spark.createDataFrame([(1, 95.0, "near"), (1, 120.0, "x")], "k int, ts double, v string")
    out = {
        r["ts"]: (r["v"], r["ts_matched"])
        for r in asof_join(left, right, on="k", tolerance=10.0).collect()
    }
    assert out[100.0] == ("near", 95.0)      # gap 5 ≤ 10 → kept
    assert out[200.0] == (None, None)        # gap 80 > 10 → nulled


def test_streaming_batch_window_agreement(spark, tmp_path):
    """Streaming tumbling-window counts == batch groupBy on the same events
    (complete mode; the semantics the reference gets by re-running batch)."""
    from kamodo_dask_spark.functions.time import floor_timestamp
    from kamodo_dask_spark.sources.parquet import read_events

    ev = read_events(spark, "/root/testdata/sf0.001")
    # write out as µs so the streaming reader needs no nanos handling
    src = str(tmp_path / "events_us")
    ev.write.parquet(src)

    batch = {
        (r["slot"], ): r["n"]
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("slot"), "n")
        .collect()
    }

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("slot"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_stream_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["slot"], ): r["n"]
        for r in spark.sql("SELECT * FROM ev_stream_windows").collect()
    }
    assert streamed == batch
