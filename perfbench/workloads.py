"""The benchmark's workloads: closed-loop, single-client op cycles.

A workload writes its seeded inputs (``generate``), builds what must exist
before its first operation (``prepare``) and offers a fixed cycle of
operations (``cycle``). Each operation times itself and returns an
:class:`Op`; its output is checked by ``Op.verify`` after the op, outside the
timed region.

Operation kinds, shared by every workload so each end-to-end metric means the
same thing on all of them:

``ready``    a request for a new slab until the registry can answer
             (``load_grid_range`` + ``KamodoSpark``, or one streaming refresh);
``point``    one point query: the registry call plus a noop-sink write;
``gridded``  one ``<m>_ijkl(...)`` evaluation plus a noop-sink write.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

#: Interpolated values must match both oracles to this relative tolerance
#: (the field is affine, so the only error is float rounding).
RTOL = 1e-9
#: Rows of each output compared with the oracles.
SAMPLE = 64
FILL = 0.0


@dataclass
class Op:
    kind: str
    seconds: float = 0.0
    points: int = 0
    error: str = ""
    check_seconds: float = 0.0
    #: the output check: returns mismatch descriptions (empty = correct)
    verify: Callable[[], list[str]] | None = None


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mismatches(label: str, got: np.ndarray, expected: dict[str, np.ndarray]) -> list[str]:
    out = []
    for oracle, exp in expected.items():
        bad = ~(np.abs(got - exp) <= RTOL * np.maximum(1.0, np.abs(exp)))
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            out.append(f"{label}: {int(bad.sum())}/{len(got)} rows differ from {oracle} "
                       f"(first: got {got[i]!r}, expected {exp[i]!r})")
    return out


class GridWorkload:
    """Shared machinery: engine handles, the seeded field and the oracles."""

    name = ""

    def __init__(self, spark, engine, work: Path, seed: int, size: dict, tracer):
        self.spark = spark
        self.eng = engine
        self.work = work
        self.seed = seed
        self.size = size
        self.tr = tracer
        self.field = gen.Field(seed)
        self.shape = gen.GridShape(size["lon"], size["lat"], size["n_h"], size["slab_h"])
        self.registry = None
        self._rng = np.random.default_rng([seed, 3])

    # ---- oracles -----------------------------------------------------------

    def expected(self, measure: str, axes: dict, cols: dict, oob: np.ndarray | None) -> dict:
        """Analytic field (out-of-bounds -> fill) and ``nlinear_interp`` over
        the analytic slab, at the points ``cols``."""
        pts = np.column_stack([cols[a] for a in ("time", "lon", "lat", "h")])
        analytic = self.field.value(measure, *pts.T)
        if oob is not None:
            analytic = np.where(oob, FILL, analytic)
        grid = np.meshgrid(*axes.values(), indexing="ij")
        slab = self.field.value(measure, *grid)
        nl = self.eng.nlinear_interp(list(axes.values()), slab, pts, FILL)
        return {"analytic field": analytic, "nlinear_interp": nl}

    def _sample_ids(self, n: int) -> np.ndarray:
        return np.sort(self._rng.choice(n, size=min(SAMPLE, n), replace=False))

    # ---- timed operations --------------------------------------------------

    def _query(self, kind: str, call: Callable, n_points: int, verify_of) -> Op:
        t0 = time.perf_counter()
        with self.tr.span("op." + kind):
            with self.tr.span("grid.interpolate.build"):
                out = call()
            with self.tr.span("grid.interpolate.exec"):
                noop_write(out)
        return Op(kind, time.perf_counter() - t0, n_points, verify=verify_of(out))

    def point_op(self, measure: str, points: "PointSet", shift: float = 0.0) -> Op:
        reg = self.registry
        df = points.frame(shift)
        ids = self._sample_ids(points.n)
        axes = dict(reg._axis_arrays)

        def verify_of(out):
            def verify():
                rows = (
                    out.filter(self.eng.F.col("point_id").isin([int(i) for i in ids]))
                    .select("point_id", measure)
                    .collect()
                )
                got = dict((r[0], r[1]) for r in rows)
                if sorted(got) != [int(i) for i in ids]:
                    return [f"point {measure}: {len(got)} of {len(ids)} sampled ids returned"]
                cols = points.columns(ids, shift)
                exp = self.expected(measure, axes, cols, points.oob[ids])
                return _mismatches(f"point {measure}", np.array([got[int(i)] for i in ids]), exp)

            return verify

        return self._query("point", lambda: reg[measure](df), points.n, verify_of)

    def gridded_op(self, measure: str, times: list[float]) -> Op:
        reg = self.registry
        axes = dict(reg._axis_arrays)
        pick = {a: np.sort(self._rng.choice(axes[a], size=3, replace=False)) for a in ("lon", "lat")}
        n_mesh = len(times) * len(axes["lon"]) * len(axes["lat"]) * len(axes["h"])

        def verify_of(out):
            def verify():
                F = self.eng.F
                rows = (
                    out.filter(F.col("lon").isin([float(v) for v in pick["lon"]])
                               & F.col("lat").isin([float(v) for v in pick["lat"]]))
                    .select("time", "lon", "lat", "h", measure)
                    .collect()
                )
                want = len(times) * 3 * 3 * len(axes["h"])
                if len(rows) != want:
                    return [f"gridded {measure}: {len(rows)} sampled mesh rows, expected {want}"]
                arr = np.array(rows, dtype=np.float64)
                cols = dict(zip(("time", "lon", "lat", "h"), arr[:, :4].T))
                exp = self.expected(measure, axes, cols, None)
                return _mismatches(f"gridded {measure}", arr[:, 4], exp)

            return verify

        return self._query(
            "gridded", lambda: reg[f"{measure}_ijkl"](time=list(times)), n_mesh, verify_of
        )

    def close(self) -> None:
        if self.registry is not None:
            self.registry.release()


class PointSet:
    """A seeded F2 point mix written as Parquet; the engine sees only the
    frame read back from those files (time optionally shifted)."""

    def __init__(self, spark, F, directory: Path, axes: dict, n: int, n_files: int, seed: int, salt: int):
        self.F = F
        self.n = n
        pts = gen.make_points(axes, n, seed, salt)
        self.oob = pts.pop("oob")
        self.cols = pts
        directory.mkdir(parents=True, exist_ok=True)
        bounds = np.linspace(0, n, n_files + 1).astype(int)
        for k in range(n_files):
            sl = slice(bounds[k], bounds[k + 1])
            pq.write_table(pa.table({c: v[sl] for c, v in pts.items()}), directory / f"part-{k:03d}.parquet")
        self._df = spark.read.parquet(str(directory))

    def frame(self, shift: float = 0.0):
        if not shift:
            return self._df
        return self._df.withColumn("time", self.F.col("time") + self.F.lit(float(shift)))

    def columns(self, ids: np.ndarray, shift: float = 0.0) -> dict:
        out = {a: self.cols[a][ids] for a in ("time", "lon", "lat", "h")}
        out["time"] = out["time"] + shift
        return out


class WindowQueries(GridWorkload):
    """One time window of grid files, registered once per window request,
    then many point lookups and a few gridded maps (broadcast-slab path)."""

    name = "window_queries"

    def generate(self) -> None:
        s = self.size
        self.grid_dir = self.work / "grid"
        gen.write_grid_files(self.grid_dir, self.shape, self.field, 0, s["n_files"])
        self.axes = gen.slab_axes(self.shape, 0, s["n_files"])
        self.points = [
            PointSet(self.spark, self.eng.F, self.work / f"points{k}", self.axes,
                     s["points"], s["point_files"], self.seed, k)
            for k in range(s["point_sets"])
        ]
        t = self.axes["time"]
        mid = len(t) // 2
        # two map times between file stamps, so the time axis interpolates
        self.map_times = [float(t[1] + 150.0), float(t[mid] + 420.0)]
        self._turn = self._maps = 0

    def ready_op(self) -> Op:
        s, shape = self.size, self.shape
        start = gen.file_time(0).replace(tzinfo=None)
        end = gen.file_time(s["n_files"] - 1).replace(tzinfo=None)
        t0 = time.perf_counter()
        with self.tr.span("op.ready"):
            with self.tr.span("grid.ingest.load"):
                df = self.eng.ingest.load_grid_range(
                    self.spark, str(self.grid_dir) + "/", start, end, h_range=shape.h_range
                )
            reg = self.eng.registry.KamodoSpark(df)
        seconds = time.perf_counter() - t0
        self.close()
        self.registry = reg
        want = (s["n_files"], shape.n_lon, shape.n_lat, shape.slab_h)

        def verify():
            bad = []
            if reg.shape != want:
                bad.append(f"registry shape {reg.shape} != {want}")
            if reg.strategy != "broadcast":
                bad.append(f"registry strategy {reg.strategy!r} != 'broadcast'")
            return bad

        return Op("ready", seconds, verify=verify)

    def prepare(self) -> None:
        """Nothing to build ahead: the cycle opens with a window request."""

    def cycle(self) -> list[tuple[str, Callable[[], Op]]]:
        def point():
            k = self._turn
            self._turn += 1
            return self.point_op(("rho", "T")[k % 2], self.points[k % len(self.points)])

        def gridded():
            k = self._maps
            self._maps += 1
            return self.gridded_op(("T", "rho")[k % 2], self.map_times)

        return [("ready", self.ready_op), ("point", point), ("gridded", gridded)]


#: Registry strategy of the refreshed slabs. The corner join, not the cell
#: relation: a cell-strategy point query over a file-sourced point frame
#: fails (ArrayIndexOutOfBoundsException in the cached relation's scan: the
#: optimizer pushes a filter that references point columns into it), and a
#: workload whose every query fails measures nothing. See README.md.
STRATEGY = "corner"


class SlabRefresh(GridWorkload):
    """A Structured Streaming file source feeding ``SlabRefresher`` with the
    corner-join strategy: each refresh lands a batch of files, runs ONE
    ``availableNow`` trigger (exactly one micro-batch), then a fresh point
    query and a map of the newest time run against the rebuilt registry."""

    name = "slab_refresh"

    def generate(self) -> None:
        s = self.size
        self.src = self.work / "source"
        self.staging = self.work / "staging"
        self.store = self.work / "store"
        self.checkpoint = self.work / "checkpoint"
        # prefill the retention window so every timed refresh sees the same
        # slab: `retained` files, then whole batches slide it forward
        gen.write_grid_files(self.src, self.shape, self.field, 0, s["retained"])
        self.next_file = s["retained"]
        self.axes0 = gen.slab_axes(self.shape, 0, s["retained"])
        self.points = PointSet(self.spark, self.eng.F, self.work / "points", self.axes0,
                               s["points"], s["point_files"], self.seed, 0)
        self.refresher = self.eng.files.SlabRefresher(
            str(self.store),
            retention_seconds=(s["retained"] - 1) * gen.FREQ.total_seconds(),
            strategy=STRATEGY,
        )
        self.stream = self.eng.files.stream_grid_files(self.spark, str(self.src), self._schema())

    def _schema(self):
        T = self.eng.T
        cols = ["lon", "lat", "h", *gen.MEASURES.values()]
        return T.StructType([T.StructField(c, T.DoubleType()) for c in cols])

    def _on_batch(self, batch_df, batch_id):
        with self.tr.span("streaming.files.batch"):
            self.refresher(batch_df, batch_id)

    @property
    def shift(self) -> float:
        """Seconds the retention window has moved since the prefill."""
        return (self.next_file - self.size["retained"]) * gen.FREQ.total_seconds()

    def _land(self, count: int) -> None:
        """Write ``count`` new files to staging, then move them into the
        source directory, so the trigger sees the whole batch at once."""
        for path in gen.write_grid_files(self.staging, self.shape, self.field, self.next_file, count):
            os.replace(path, self.src / path.name)
        self.next_file += count

    def ready_op(self, land: int | None = None) -> Op:
        if land is None:
            land = self.size["batch"]
        if land:
            self._land(land)
        seen = self.refresher.batches_seen
        t0 = time.perf_counter()
        with self.tr.span("op.ready"):
            query = (
                self.stream.writeStream.foreachBatch(self._on_batch)
                .trigger(availableNow=True)
                .option("checkpointLocation", str(self.checkpoint))
                .start()
            )
            query.awaitTermination()
        seconds = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        reg = self.refresher.current()
        self.registry = reg
        s, shape = self.size, self.shape
        want = (s["retained"], shape.n_lon, shape.n_lat, shape.n_h)
        batches = self.refresher.batches_seen - seen
        t_new = gen.file_time(self.next_file - 1).timestamp()

        def verify():
            bad = []
            if batches != 1:
                bad.append(f"refresh ran {batches} micro-batches, expected 1")
            if reg.shape != want:
                bad.append(f"registry shape {reg.shape} != {want}")
            if reg.strategy != STRATEGY:
                bad.append(f"registry strategy {reg.strategy!r} != {STRATEGY!r}")
            elif abs(float(reg._axis_arrays["time"][-1]) - t_new) > 1e-6:
                bad.append("registry does not end at the newest landed file")
            return bad

        return Op("ready", seconds, verify=verify)

    def fresh_point_op(self) -> Op:
        return self.point_op("rho", self.points, self.shift)

    def newest_map_op(self) -> Op:
        t_new = gen.file_time(self.next_file - 1).timestamp()
        return self.gridded_op("T", [t_new - 150.0])

    def prepare(self) -> None:
        """Prefill: one trigger over the retained files builds the first slab."""
        self.ready_op(land=0)

    def cycle(self) -> list[tuple[str, Callable[[], Op]]]:
        return [
            ("ready", self.ready_op),
            ("point", self.fresh_point_op),
            ("gridded", self.newest_map_op),
        ]

    def store_files(self) -> int:
        return sum(1 for _ in self.store.glob("*.parquet"))


WORKLOADS = {w.name: w for w in (WindowQueries, SlabRefresh)}

#: Input sizes. "full" is what the benchmark measures; "smoke" runs the same
#: code in seconds, for the benchmark's own tests.
SIZES = {
    "window_queries": {
        "full": dict(n_files=18, lon=72, lat=36, n_h=8, slab_h=4,
                     points=200_000, point_files=8, point_sets=2),
        "smoke": dict(n_files=4, lon=8, lat=6, n_h=5, slab_h=3,
                      points=2_000, point_files=2, point_sets=2),
    },
    "slab_refresh": {
        "full": dict(retained=13, batch=3, lon=72, lat=36, n_h=8, slab_h=8,
                     points=50_000, point_files=8),
        "smoke": dict(retained=4, batch=2, lon=8, lat=6, n_h=3, slab_h=3,
                      points=2_000, point_files=2),
    },
}
