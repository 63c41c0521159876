"""Function / interpolator registry.

The reference registers one point interpolator and one gridded interpolator
per measure on a dict-like ``Kamodo`` object with units metadata
(``KamodoDask``, kamodo_dask/kamodo_dask.py:301-357).

[REF-BUG] parity note: the reference's registration loop captures the loop
variable ``rgi`` by reference (kamodo_dask.py:328-351), so every registered
interpolator silently evaluates the *last* measure's grid. This registry
binds per-measure state at registration time — each measure interpolates its
own data (the intended semantics; guarded by a test).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from kamodo_dask_spark.grid.model import (
    DEFAULT_AXES,
    grid_axes,  # noqa: F401 — not called; perfbench's LAYER_PATCHES rebinds it
    normalize_measure_columns,
    units_of,
    validate_dense,
)
from kamodo_dask_spark.grid.interpolate import (
    _axis_arrays,
    _block_relation,
    _collect_dense_slab,
    _fused_kernel_map,
    _interpolate_blocks,
    _mesh_points,
    _resolve_strategy,
    interpolate_points,
)


class KamodoSpark(dict):
    """Dict-like registry mapping measure names to interpolator callables.

    ``reg['rho'](points_df)`` → point interpolation (I3);
    ``reg['rho_ijkl'](time=…, lon=…)`` → gridded evaluation (I4, unspecified
    axes default to the full grid). Units parsed from ``name[units]`` column
    spellings ride along as ``StructField`` metadata (I5) and in ``.units``.

    The build runs one grid-metadata job, :func:`validate_dense`, whatever
    the strategy: its sorted levels are ``.levels``, their counts
    ``.shape``, and the axis arrays, :meth:`get_bounds` and
    :meth:`get_midpoint` all read them with no further job (the reference's
    MultiIndex levels, kamodo_dask.py:316-317).

    A ``"broadcast"`` registry collects the dense slab once, at build, and
    holds one broadcast of it for every measure, so its point, gridded and
    derived functions start no Spark job while they build their frame. The
    driver holds that slab for the registry's lifetime: at most
    4M rows × 8 B = 32 MB per measure (``_FUSED_SLAB_MAX_ROWS``).

    A ``"block"`` registry keeps its slab on the executors instead: it
    builds the block relation once (one row per interval of the longest
    axis, its two bounding slices as dense arrays — 2 × ∏(other axes) ×
    8 B per measure, which must fit a Python worker) and persists it, and
    every query is one ``cogroup`` against it running the broadcast path's
    NumPy kernel per interval, at most n_key − 1 tasks in parallel.

    :meth:`release` frees either.
    """

    def __init__(
        self,
        grid_df: DataFrame,
        axes: tuple[str, ...] = DEFAULT_AXES,
        fill_value: float = 0.0,
        strategy: str = "auto",
    ):
        super().__init__()
        self.axes = tuple(axes)
        self.fill_value = float(fill_value)
        self.df = normalize_measure_columns(grid_df)
        self.measures = [c for c in self.df.columns if c not in self.axes]
        self.units = {m: units_of(self.df, m) for m in self.measures}

        # the grid's one metadata job: its sorted levels (kamodo_dask.py:316-317)
        self.levels = validate_dense(self.df, self.axes)
        self.shape = tuple(len(self.levels[ax]) for ax in self.axes)
        self.strategy = _resolve_strategy(strategy, math.prod(self.shape))

        # "broadcast": collect the slab once; every query reuses its broadcast
        self._slab = collected = None
        if self.strategy == "broadcast":
            collected = _collect_dense_slab(
                self.df, self.axes, self.measures, self.levels, self.fill_value
            )
            if collected is None:
                raise ValueError(
                    f"grid is not dense: its rows do not fill the "
                    f"{' * '.join(map(str, self.shape))} grid exactly once"
                )
        # a broadcast registry keeps the arrays its collect returned: the
        # kernel compares points against those exact values, and the
        # datetime.timestamp() of a level can differ from them by 1 ulp
        self._axis_arrays = _axis_arrays(
            self.df,
            self.axes,
            levels=dict(zip(self.axes, collected[0])) if collected else self.levels,
        )
        if collected is not None:
            self._slab = self.df.sparkSession.sparkContext.broadcast(collected)

        # "block": build the block relation once over every measure and
        # persist it; every query cogroups its points with it. The build
        # runs its own count + distinct-node check although validate_dense
        # passed: a duplicated node masking a missing one passes a
        # level-count check.
        self._blocks = None
        if self.strategy == "block":
            self._blocks = _block_relation(
                self.df, self.axes, self.measures, self.fill_value, self._axis_arrays
            ).persist()

        for m in self.measures:
            self._bind(m, [m], self.units[m])

    def _interpolate(self, points_df: DataFrame, measures: list[str]) -> DataFrame:
        """Interpolate ``measures`` at ``points_df`` with the registry's
        strategy — the one path every registered function answers through."""
        if self.strategy == "corner":
            return interpolate_points(
                self.df,
                points_df,
                self.axes,
                measures,
                self.fill_value,
                axis_arrays=self._axis_arrays,
                strategy=self.strategy,
            )
        if self._slab is None and self._blocks is None:
            # loud use-after-release: without this the query dies with an
            # opaque NoneType failure deep in the interpolation path
            raise RuntimeError(
                f"this {self.strategy}-strategy registry has been release()d "
                "— rebuild it (or hold the current refresher registry, not a "
                "stale reference)"
            )
        if self.strategy == "broadcast":
            return _fused_kernel_map(
                points_df, self.axes, measures, self._slab, self.fill_value
            )
        return _interpolate_blocks(
            self._blocks, points_df, self.axes, self._axis_arrays, measures,
            self.fill_value,
        )

    def _bind(self, name: str, deps: list[str], units: str, expr: str | None = None) -> None:
        """Register ``name`` (point) and ``name_ijkl`` (gridded) over the
        measures ``deps``. With ``expr`` the functions project that SQL
        expression over the interpolated measures; without it ``name`` is
        the measure itself.

        Each call binds its own ``deps`` — the fix for the reference's
        late-binding closure bug, where every registered interpolator read
        the loop's last measure."""

        def project(out: DataFrame) -> DataFrame:
            if expr is None:
                return out
            keep = [c for c in out.columns if c not in deps]
            return out.select(*keep, F.expr(expr).alias(name))

        def point_fn(points_df: DataFrame) -> DataFrame:
            return project(self._interpolate(points_df, deps))

        def gridded_fn(**coords) -> DataFrame:
            mesh = _mesh_points(
                self.df.sparkSession, coords, self.axes, self._axis_arrays
            )
            return project(self._interpolate(mesh, deps))

        point_fn.units = gridded_fn.units = units
        if expr is not None:
            point_fn.expr = gridded_fn.expr = expr
        self[name] = point_fn
        self[f"{name}_ijkl"] = gridded_fn

    def release(self) -> None:
        """Release engine-held state: the slab broadcast of a
        ``"broadcast"`` registry, the persisted block relation of a
        ``"block"`` one. Call when replacing a registry — e.g. a slab
        refresh loop — so superseded slabs don't accumulate. Frames
        returned earlier still run (the broadcast is unpersisted, not
        destroyed, and an unpersisted block relation is recomputed from the
        slab); later queries raise ``RuntimeError``. No-op for the
        corner strategy."""
        if self._slab is not None:
            self._slab.unpersist()
            self._slab = None
        if self._blocks is not None:
            self._blocks.unpersist()
            self._blocks = None

    def register(self, name: str, expr: str, units: str = "") -> None:
        """Register a DERIVED function: a Spark SQL expression over already-
        registered measures — the Spark-native equivalent of the reference's
        Kamodo sympy composition (``kd['speed[m/s]'] = 'sqrt(u**2+v**2)'``;
        kamodo_dask.py:301 inherits it from the public Kamodo base class).

        ``expr`` references measure names as columns (Spark SQL spelling:
        ``sqrt(u*u + v*v)``, ``power(rho, 2)``). Evaluation is
        interpolate-then-compose: the point/gridded function interpolates
        every referenced measure in ONE pass of the registry's strategy,
        then applies the expression JVM-side — so ``reg['speed'](points)``
        costs the same plan as a single multi-measure interpolation plus a
        project.

        ``name`` may carry units in the ``name[units]`` spelling; an explicit
        ``units=`` argument wins.
        """
        import re

        from kamodo_dask_spark.grid.model import parse_units

        name, parsed_units = parse_units(name)
        units = units or parsed_units

        deps = [d for d in self.measures if re.search(rf"\b{re.escape(d)}\b", expr)]
        if not deps:
            raise ValueError(
                f"expression {expr!r} references no registered measure "
                f"(known: {self.measures})"
            )

        self.units[name] = units
        self._bind(name, deps, units, expr)

    def __setitem__(self, key, value):
        """Dict-style composition: assigning a STRING registers a derived
        expression function (reference ``kd['speed'] = 'sqrt(u**2+v**2)'``
        shape); assigning a callable stores it as-is."""
        if isinstance(value, str):
            self.register(key, value)
            return
        super().__setitem__(key, value)

    def plot_data(self, name: str, plot_partial: dict | None = None) -> dict:
        """Plot-READY payload for a registered gridded function — the engine
        half of the reference's ``kd.plot('rho_ijkl', plot_partial=…)``
        (docs/interpolator.md:352-386, I7). The reference delegates figure
        construction to kamodo-core/plotly; this engine ends at the exact
        structure those front-ends consume: per-free-axis coordinate arrays
        plus an N-D value tensor in axis order (x/y/z of a plotly
        Heatmap/Surface, the (x, y) of a line plot).

        ``plot_partial`` fixes axes to scalar values (accepts both the
        reference's nested ``{name: {axis: v}}`` spelling and a flat
        ``{axis: v}``); the remaining free axes span the full grid. The
        mesh is evaluated DISTRIBUTED via the registered ``*_ijkl``
        function; only the plot-sized result is collected.

        Returns ``{"name", "units", "axes": {axis: np.ndarray}, "values":
        np.ndarray (shape = free-axis lengths), "fixed": {axis: float}}``.
        """
        import numpy as np

        key = name if name.endswith("_ijkl") else f"{name}_ijkl"
        if key not in self:
            raise KeyError(f"no gridded function {key!r} registered")
        measure = key[: -len("_ijkl")]
        partial = plot_partial or {}
        if key in partial or measure in partial:  # reference's nested form
            partial = partial.get(key, partial.get(measure))
        bad = set(partial) - set(self.axes)
        if bad:
            raise ValueError(f"plot_partial axes not in grid: {sorted(bad)}")
        # same coercion as gridded_eval: datetime / pd.Timestamp / ISO
        # string are the natural spellings for a timestamp axis (float()
        # alone would reject them)
        from kamodo_dask_spark.grid.interpolate import coerce_axis_value

        fixed = {ax: coerce_axis_value(v) for ax, v in partial.items()}
        free = [ax for ax in self.axes if ax not in fixed]
        if not free:
            raise ValueError("plot_partial fixes every axis — nothing to plot")

        out = self[key](**fixed)  # unspecified axes default to the full grid
        pdf = out.toPandas().sort_values(free)
        axes_arrays = {
            ax: np.asarray(sorted(pdf[ax].unique()), dtype=float) for ax in free
        }
        shape = tuple(len(axes_arrays[ax]) for ax in free)
        values = pdf[measure].to_numpy(dtype=float).reshape(shape)
        return {
            "name": key,
            "units": self.units.get(measure, ""),
            "axes": axes_arrays,
            "values": values,
            "fixed": fixed,
        }

    def get_bounds(self) -> dict:
        """Per-axis (min, max) — ``get_bounds``, kamodo_dask.py:353-354 —
        read from the build's levels; starts no Spark job."""
        return {ax: (vs[0], vs[-1]) for ax, vs in self.levels.items()}

    def get_midpoint(self) -> dict:
        """Per-axis mean of distinct values — ``get_midpoint``,
        kamodo_dask.py:356-357 — over the build's axis arrays (timestamps as
        epoch seconds); starts no Spark job."""
        return {ax: float(arr.mean()) for ax, arr in self._axis_arrays.items()}

    def __repr__(self) -> str:  # pragma: no cover
        entries = ", ".join(
            f"{m}[{self.units[m]}]" if self.units[m] else m for m in self.measures
        )
        return f"KamodoSpark({entries}; shape={self.shape}, strategy={self.strategy})"
