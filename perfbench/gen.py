"""Seeded input generation: grid files, query points and the analytic field.

Every measure is an affine function of (time, lon, lat, h), so N-linear
interpolation reproduces it exactly at any in-bounds point; the correctness
check compares engine output with :meth:`Field.value` and with
``grid.interpolate.nlinear_interp`` over the same slab.

Nothing here touches Spark: the engine receives only the files written by
:func:`write_grid_files` and the point frames built from :func:`make_points`.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: First file timestamp (UTC). File names use the engine's colon-free
#: ``SAFE_TS_FORMAT`` so the local Hadoop filesystem accepts them.
T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
FREQ = timedelta(minutes=10)
FILE_FMT = "%Y-%m-%dT%H-%M-%S"

#: Stored measure columns, in the reference's ``name[units]`` spelling.
MEASURES = {"rho": "rho[kg/m^3]", "T": "T[K]"}

#: Per-axis scale used to keep every affine term of the field O(1).
_AXIS_SCALE = {"time": 3600.0, "lon": 360.0, "lat": 180.0, "h": 1.0e5}


@dataclass(frozen=True)
class GridShape:
    n_lon: int
    n_lat: int
    n_h: int  # levels stored per file; the slab keeps the lowest ``slab_h``
    slab_h: int

    @property
    def lon(self) -> np.ndarray:
        return np.linspace(0.0, 360.0, self.n_lon, endpoint=False)

    @property
    def lat(self) -> np.ndarray:
        return np.linspace(-87.5, 87.5, self.n_lat)

    @property
    def h(self) -> np.ndarray:
        return 100_000.0 + 10_000.0 * np.arange(self.n_h)

    @property
    def h_range(self) -> tuple[float, float]:
        """Query h-range whose outward snap is exactly the slab's levels."""
        h = self.h
        return float(h[0]) + 1.0, float(h[self.slab_h - 1]) - 1.0


class Field:
    """Seeded affine measures: ``c0 + sum_ax c_ax * x_ax / scale_ax``."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        self.coef = {
            m: {
                "c0": float(rng.uniform(50.0, 100.0)),
                **{ax: float(rng.uniform(-5.0, 5.0)) for ax in _AXIS_SCALE},
            }
            for m in MEASURES
        }

    def value(self, measure: str, time_s, lon, lat, h) -> np.ndarray:
        c = self.coef[measure]
        t_rel = np.asarray(time_s, dtype=np.float64) - T0.timestamp()
        out = c["c0"] + c["time"] * t_rel / _AXIS_SCALE["time"]
        for ax, x in (("lon", lon), ("lat", lat), ("h", h)):
            out = out + c[ax] * np.asarray(x, dtype=np.float64) / _AXIS_SCALE[ax]
        return out


def file_time(i: int) -> datetime:
    return T0 + i * FREQ


def write_grid_files(
    directory: Path, shape: GridShape, field: Field, first: int, count: int
) -> list[Path]:
    """Write files ``first .. first+count-1``: one dense spatial snapshot
    each, rows sorted ``(lon, lat, h)``."""
    directory.mkdir(parents=True, exist_ok=True)
    lon, lat, h = (a.ravel() for a in np.meshgrid(shape.lon, shape.lat, shape.h, indexing="ij"))
    paths = []
    for i in range(first, first + count):
        ts = file_time(i)
        t_s = np.full(lon.shape, ts.timestamp())
        cols = {"lon": lon, "lat": lat, "h": h}
        for m, stored in MEASURES.items():
            cols[stored] = field.value(m, t_s, lon, lat, h)
        path = directory / f"{ts.strftime(FILE_FMT)}.parquet"
        pq.write_table(pa.table(cols), path)
        paths.append(path)
    return paths


def slab_axes(shape: GridShape, first: int, n_times: int) -> dict[str, np.ndarray]:
    """The float64 axes of the slab of files ``first .. first+n_times-1``."""
    return {
        "time": np.array([file_time(i).timestamp() for i in range(first, first + n_times)]),
        "lon": shape.lon,
        "lat": shape.lat,
        "h": shape.h[: shape.slab_h],
    }


def make_points(axes: dict[str, np.ndarray], n: int, seed: int, salt: int) -> dict[str, np.ndarray]:
    """FIXTURES F2 point mix over ``axes``: 70% interior, 10% exactly on
    grid nodes, 10% on a face (one coordinate at an axis end), 10% out of
    bounds (one coordinate past an axis end). Columns: ``point_id``, the four
    axes as float64 (time in epoch seconds) and ``oob``, a bool mask the
    check uses and the engine never sees."""
    rng = np.random.default_rng([seed, 2, salt])
    names = list(axes)
    lo = np.array([axes[a][0] for a in names])
    hi = np.array([axes[a][-1] for a in names])
    pts = lo + rng.random((n, len(names))) * (hi - lo)
    kind = rng.choice(4, size=n, p=[0.7, 0.1, 0.1, 0.1])

    nodes = kind == 1
    for k, a in enumerate(names):
        pts[nodes, k] = rng.choice(axes[a], size=int(nodes.sum()))

    face_oob = kind >= 2
    which = rng.integers(0, len(names), size=n)
    at_hi = rng.random(n) < 0.5
    span = hi - lo
    for k in range(len(names)):
        sel = face_oob & (which == k)
        end = np.where(at_hi[sel], hi[k], lo[k])
        # kind 2 sits on the end; kind 3 lies 1-10% of the span past it
        push = np.where(kind[sel] == 3, span[k] * (0.01 + 0.09 * rng.random(int(sel.sum()))), 0.0)
        pts[sel, k] = end + np.where(at_hi[sel], push, -push)

    out = {"point_id": np.arange(n, dtype=np.int64)}
    out.update({a: pts[:, k] for k, a in enumerate(names)})
    out["oob"] = kind == 3
    return out
