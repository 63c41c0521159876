"""kamodo_dask_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
``EnsembleGovServices/kamodo-dask`` (a Dask-based functional query API over
time-partitioned scientific Parquet: discover files by time range, filter an
altitude slab, and expose each physical variable as a callable N-linear grid
interpolator — see ``/root/reference/kamodo_dask/kamodo_dask.py``), rebuilt
Spark-first: DataFrame/SQL logical plans, Catalyst pushdown/pruning, broadcast
or corner-join interpolation, Structured Streaming ingestion — plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) the reference lacks.
"""

from kamodo_dask_spark.session import apply_s3a_conf, get_spark, s3a_conf
from kamodo_dask_spark.grid.model import (
    grid_axes,
    grid_bounds,
    grid_midpoint,
    snap_range,
    validate_dense,
)
from kamodo_dask_spark.grid.interpolate import (
    interpolate_points,
    gridded_eval,
    nlinear_interp,
)
from kamodo_dask_spark.grid.registry import KamodoSpark
from kamodo_dask_spark.grid.ingest import load_grid_range
from kamodo_dask_spark.operators import (
    asof_join,
    asof_uniform_grid,
    asof_uniform_grid_both,
    contamination_scores,
    cosine_topk,
    exact_dedup,
    jaccard_pairs,
    line_dedup,
    minhash_lsh_candidates,
)

__all__ = [
    "get_spark",
    "s3a_conf",
    "apply_s3a_conf",
    "grid_axes",
    "grid_bounds",
    "grid_midpoint",
    "snap_range",
    "validate_dense",
    "interpolate_points",
    "gridded_eval",
    "nlinear_interp",
    "KamodoSpark",
    "load_grid_range",
    "asof_join",
    "asof_uniform_grid",
    "asof_uniform_grid_both",
    "contamination_scores",
    "line_dedup",
    "cosine_topk",
    "exact_dedup",
    "jaccard_pairs",
    "minhash_lsh_candidates",
]

__version__ = "0.1.0"
