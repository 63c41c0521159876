from kamodo_dask_spark.grid.model import (
    grid_axes,
    grid_bounds,
    grid_midpoint,
    snap_range,
    validate_dense,
    assert_time_bounds,
)
from kamodo_dask_spark.grid.interpolate import (
    interpolate_points,
    gridded_eval,
    nlinear_interp,
)
from kamodo_dask_spark.grid.registry import KamodoSpark
from kamodo_dask_spark.grid.ingest import load_grid_range

__all__ = [
    "grid_axes",
    "grid_bounds",
    "grid_midpoint",
    "snap_range",
    "validate_dense",
    "assert_time_bounds",
    "interpolate_points",
    "gridded_eval",
    "nlinear_interp",
    "KamodoSpark",
    "load_grid_range",
]
