"""Cell-relation build scale probe (round 6, judge r5 ask #6).

Questions:
1. How does `build_cell_relation`'s d-windowed-lead build scale from the
   20M-row slab (r5 probe: 27.3 s) to 100M rows?
2. Does a SINGLE-PASS formulation — every node exploded to the 2^d cells
   it cornerwise belongs to, then ONE hash aggregation per cell — beat the
   d window passes (which shuffle the slab d times with the corner array
   widening 2 -> 2^d)?
3. Break-even query count: persisted-cell per-query wall vs the corner
   join at the same slab.

Run:  python tools/probe_cell_build.py [dim1 dim2 dim3 dim4]
(defaults 100 100 50 40 = 20M; 100 100 100 100 = 100M)

The explode prototype assumes a UNIFORM integer grid (predecessor = x-1)
— the real operator would map predecessors via the broadcast axis arrays;
identical shuffle volume, so the comparison holds.
"""

from __future__ import annotations

import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kamodo_dask_spark.grid.interpolate import (
    build_cell_relation,
    interpolate_points,
    interpolate_points_cells,
)
from kamodo_dask_spark.session import get_spark

AXES = ("x1", "x2", "x3", "x4")


def synthetic_slab(spark, dims):
    d2, d3, d4 = dims[1], dims[2], dims[3]
    n = int(np.prod(dims))
    return (
        spark.range(0, n, 1, 32)
        .select(
            ((F.col("id") / (d2 * d3 * d4)).cast("long") % dims[0]).cast("double").alias("x1"),
            ((F.col("id") / (d3 * d4)).cast("long") % d2).cast("double").alias("x2"),
            ((F.col("id") / d4).cast("long") % d3).cast("double").alias("x3"),
            (F.col("id") % d4).cast("double").alias("x4"),
        )
        .withColumn("val", F.col("x1") + 2 * F.col("x2") + 3 * F.col("x3") + 4 * F.col("x4"))
    )


def build_cells_explode(grid, dims):
    """Single-pass prototype: node -> its <=2^d containing cells (bit b_i
    set = this node is the HIGH corner along axis i, so the cell's low
    corner is x_i - 1), one hash groupBy on the cell key, corner values
    pivoted into the 2^d array positions."""
    d = len(AXES)
    corners = []
    for b in range(1 << d):
        keys = []
        ok = F.lit(True)
        for i, ax in enumerate(AXES):
            bit = (b >> (d - 1 - i)) & 1
            if bit:
                keys.append((F.col(ax) - 1).alias(f"_k_{ax}"))
                ok = ok & (F.col(ax) >= 1)
            else:
                keys.append(F.col(ax).alias(f"_k_{ax}"))
                ok = ok & (F.col(ax) <= float(dims[i] - 2))
        corners.append(
            F.when(ok, F.struct(*keys, F.lit(b).alias("_idx"), F.col("val").alias("_v")))
        )
    ex = (
        grid.select(F.explode(F.array(*corners)).alias("_c"))
        .filter(F.col("_c").isNotNull())
        .select("_c.*")
    )
    agg = [
        F.first(F.when(F.col("_idx") == b, F.col("_v")), ignorenulls=True).alias(f"_v{b}")
        for b in range(1 << d)
    ]
    g = ex.groupBy(*[f"_k_{ax}" for ax in AXES]).agg(*agg)
    return g.select(
        *[f"_k_{ax}" for ax in AXES],
        F.array(*[f"_v{b}" for b in range(1 << d)]).alias("_cells_val"),
    )


def main():
    skip_explode = "--skip-explode" in sys.argv
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    dims = tuple(int(a) for a in argv[:4]) or (100, 100, 50, 40)
    n = int(np.prod(dims))
    spark = get_spark(
        "cell-probe", master="local[32]", extra_conf={"spark.driver.memory": "64g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    arrays = {ax: np.arange(float(dims[i])) for i, ax in enumerate(AXES)}
    grid = synthetic_slab(spark, dims)
    print(f"slab rows: {n:,} dims={dims}")

    # 1. d-pass windowed build (the shipped operator), persisted + counted
    t0 = time.perf_counter()
    cells = build_cell_relation(grid, AXES, ["val"], axis_arrays=arrays).persist()
    n_cells = cells.count()
    t_build = time.perf_counter() - t0
    print(f"d-pass build+persist: {t_build:.1f} s ({n_cells:,} cells)")

    # 2. single-pass explode prototype (uniform-grid predecessor), noop sink
    if not skip_explode:
        t0 = time.perf_counter()
        build_cells_explode(grid, dims).write.format("noop").mode("overwrite").save()
        t_explode = time.perf_counter() - t0
        print(f"explode build (noop): {t_explode:.1f} s")

    # 3. per-query cost on the persisted relation, 1M points, best-of-2
    pts = spark.range(0, 1_000_000, 1, 32).select(
        F.col("id").alias("point_id"),
        ((F.col("id") % 479) * (dims[0] - 1) / 479.0).alias("x1"),
        ((F.col("id") % 467) * (dims[1] - 1) / 467.0).alias("x2"),
        ((F.col("id") % 389) * (dims[2] - 1) / 389.0).alias("x3"),
        ((F.col("id") % 107) * (dims[3] - 1) / 107.0).alias("x4"),
    )
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        interpolate_points_cells(cells, pts, AXES, arrays, ["val"]).write.format(
            "noop"
        ).mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    print(f"cell query 1M pts (persisted): {best:.2f} s")

    # 4. corner join per-query at the same slab for break-even
    best_cj = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        interpolate_points(
            grid, pts, AXES, ["val"], strategy="corner", axis_arrays=arrays
        ).write.format("noop").mode("overwrite").save()
        best_cj = min(best_cj, time.perf_counter() - t0)
    print(f"corner join 1M pts: {best_cj:.2f} s")
    if best_cj > best:
        print(f"break-even: {t_build / (best_cj - best):.1f} queries")
    spark.stop()


if __name__ == "__main__":
    main()
