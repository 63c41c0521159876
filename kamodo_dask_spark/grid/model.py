"""Grid data model: axes, bounds, densification, snap-to-grid.

The reference models a 4-D dense grid as a pandas MultiIndex
``(time, lon, lat, h)`` (kamodo_dask.py:179-181,285-287) and *trusts* row
order + cardinality for its reshape (kamodo_dask.py:325,334). Spark rows are
unordered, so grid coordinates are ordinary columns and denseness is an
explicit, checkable invariant.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, functions as F

#: Canonical grid axes, reference order (kamodo_dask.py:181).
DEFAULT_AXES = ("time", "lon", "lat", "h")

#: ``name[units]`` column micro-schema (kamodo_dask.py:329-332).
UNITS_RE = re.compile(r"(\w+)\[(.*?)\]")


def coerce_numeric(col) -> Column:
    """Null-on-error numeric coercion (F3; ``pd.to_numeric(errors='coerce')``,
    kamodo_dask.py:136). Spark 4 runs ANSI mode by default, where a plain
    cast THROWS on malformed strings — ``try_cast`` restores the reference's
    coerce semantics explicitly."""
    c = col if isinstance(col, Column) else F.col(col)
    return c.try_cast("double")


def parse_units(column_name: str) -> tuple[str, str]:
    """``'rho[kg/m^3]' -> ('rho', 'kg/m^3')``; no-units names pass through."""
    m = UNITS_RE.match(column_name)
    if m:
        return m.group(1), m.group(2)
    return column_name, ""


def normalize_measure_columns(df: DataFrame) -> DataFrame:
    """Strip ``[units]`` from measure column names, keeping units as metadata.

    Round-trip fidelity: ``units_of`` recovers the units; writers can restore
    the ``name[units]`` spelling at the I/O boundary.
    """
    cols = []
    for field in df.schema.fields:
        name, units = parse_units(field.name)
        if units:
            cols.append(F.col(f"`{field.name}`").alias(name, metadata={"units": units}))
        else:
            cols.append(F.col(f"`{field.name}`"))
    return df.select(*cols)


def units_of(df: DataFrame, column: str) -> str:
    for field in df.schema.fields:
        if field.name == column:
            return (field.metadata or {}).get("units", "")
    raise KeyError(column)


def _sorted_levels(row, axes: tuple[str, ...]) -> dict[str, list]:
    """Sort each axis's ``collect_set`` on the driver. ``collect_set`` merges
    ``-0.0`` with ``0.0`` but keeps every NaN as its own element, so a NaN
    coordinate would become duplicate levels: it is rejected instead."""
    for ax in axes:
        if any(isinstance(v, float) and math.isnan(v) for v in row[ax]):
            raise ValueError(f"grid axis {ax!r} has a NaN coordinate")
    return {ax: sorted(row[ax]) for ax in axes}


def grid_axes(df: DataFrame, axes: tuple[str, ...] = DEFAULT_AXES) -> dict[str, list]:
    """Distinct sorted coordinate values per axis (A3; ``df.index.levels``,
    kamodo_dask.py:316-317). Axes are small by construction (their cardinality
    product equals the dense-grid row count), so collecting them to the driver
    is safe even for a 100 TB grid table. ONE job for all axes — a
    partial-aggregated ``collect_set`` per axis in a single pass, sorted on
    the driver. Raises ``ValueError`` on a NaN coordinate. A registry takes
    the same levels from :func:`validate_dense` instead."""
    row = df.agg(
        *[F.collect_set(ax).alias(ax) for ax in axes]
    ).collect()[0]
    return _sorted_levels(row, axes)


def grid_bounds(df: DataFrame, axes: tuple[str, ...] = DEFAULT_AXES) -> dict[str, tuple]:
    """Per-axis (min, max) in ONE pass (A1; ``get_bounds``, kamodo_dask.py:353-354)."""
    aggs = []
    for ax in axes:
        aggs += [F.min(ax).alias(f"_min_{ax}"), F.max(ax).alias(f"_max_{ax}")]
    row = df.agg(*aggs).collect()[0]
    return {ax: (row[f"_min_{ax}"], row[f"_max_{ax}"]) for ax in axes}


def grid_midpoint(df: DataFrame, axes: tuple[str, ...] = DEFAULT_AXES) -> dict[str, float]:
    """Per-axis mean of *distinct* coordinate values (A2; ``get_midpoint``,
    kamodo_dask.py:356-357 — the reference averages the MultiIndex level, i.e.
    unique values, not rows)."""
    out = {}
    for ax in axes:
        col = F.col(ax)
        if dict(df.dtypes)[ax] == "timestamp":
            col = col.cast("double")
        row = df.select(col.alias(ax)).distinct().agg(F.avg(ax)).collect()[0]
        out[ax] = row[0]
    return out


def snap_range(
    df: DataFrame, axis: str, lo, hi
) -> tuple[float, float]:
    """Widen ``[lo, hi]`` outward to the nearest enclosing grid values (F5,
    kamodo_dask.py:194-206): ``lo' = max(v ≤ lo)``, ``hi' = min(v ≥ hi)``.
    Raises ``ValueError`` when the range cannot be bracketed — same contract
    as the reference (kamodo_dask.py:198,203). Single conditional-extrema
    aggregation pass (A4)."""
    row = df.agg(
        F.max(F.when(F.col(axis) <= F.lit(lo), F.col(axis))).alias("lo"),
        F.min(F.when(F.col(axis) >= F.lit(hi), F.col(axis))).alias("hi"),
    ).collect()[0]
    if row["lo"] is None:
        raise ValueError(f"no grid {axis} value <= {lo}; cannot bracket query range")
    if row["hi"] is None:
        raise ValueError(f"no grid {axis} value >= {hi}; cannot bracket query range")
    return row["lo"], row["hi"]


def range_filter(df: DataFrame, axis: str, lo, hi) -> DataFrame:
    """Inclusive slab filter (F1/F2, kamodo_dask.py:134-147,162-163,247-249).

    Plain ``BETWEEN`` — Catalyst pushes it into the Parquet scan, skipping
    row groups whose min/max stats exclude the slab.
    """
    return df.filter(F.col(axis).between(lo, hi))


def assert_time_bounds(df: DataFrame, time_col: str, start, end) -> None:
    """Strict containment: available times must bracket [start, end] so time
    interpolation never extrapolates (F6, kamodo_dask.py:217-224). Raises
    ``IOError`` like the reference."""
    row = df.agg(F.min(time_col).alias("lo"), F.max(time_col).alias("hi")).collect()[0]
    if row["lo"] is None:
        raise IOError("no data in range")
    if not (row["lo"] <= start and end <= row["hi"]):
        raise IOError(
            f"time range [{start}, {end}] not contained in available "
            f"[{row['lo']}, {row['hi']}]"
        )


def validate_dense(df: DataFrame, axes: tuple[str, ...] = DEFAULT_AXES) -> dict[str, list]:
    """Check the dense-grid invariant: row count == ∏ per-axis cardinalities.

    The reference *assumes* this for its reshape (kamodo_dask.py:325,334) and
    silently corrupts data when violated; here it is an explicit check, and
    the grid's one metadata job: a ``collect_set`` per axis plus the row
    count in a single pass. Returns the sorted levels ``{axis: [values]}``,
    equal to :func:`grid_axes` (sizes are their ``len``). Raises
    ``ValueError`` on violation or on a NaN coordinate.
    """
    row = df.agg(
        *[F.collect_set(ax).alias(ax) for ax in axes], F.count("*").alias("_rows")
    ).collect()[0]
    levels = _sorted_levels(row, axes)
    expected = math.prod(len(vs) for vs in levels.values())
    if row["_rows"] != expected:
        raise ValueError(
            f"grid is not dense: {row['_rows']} rows != {expected} = "
            + " * ".join(f"{ax}:{len(vs)}" for ax, vs in levels.items())
        )
    return levels
