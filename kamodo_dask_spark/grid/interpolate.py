"""N-linear grid interpolation, Spark-first.

The reference's flagship capability: materialize a dense 4-D grid and expose
each measure as a callable multilinear interpolator
(``RegularGridInterpolator(axes, data, bounds_error=False, fill_value=0)``,
kamodo_dask/kamodo_dask.py:335-341). One entry point,
:func:`interpolate_points`, runs one of three Spark strategies:

1. ``"broadcast"`` — **broadcast slab** (exact parity with the reference's
   execution): collect the slab unordered, scatter it into a dense ndarray
   on the driver, broadcast it, and evaluate a vectorized NumPy kernel per
   Arrow batch of query points via ``mapInPandas``. Zero exchanges in the
   plan. A registry collects and broadcasts once, at build.

2. ``"corner"`` — **corner join** (relational, fully distributed): snap
   each query coordinate to its bracketing grid values per axis (J1),
   explode each point into its 2^d surrounding corners with multilinear
   weights, equi-join the (possibly huge) grid on the corner keys, and
   ``groupBy(point).sum(weight*value)`` (J2). The grid never leaves the
   executors — this is the 100 TB path.

3. ``"block"`` — **block relation**: reshape the dense slab into one row
   per interval of its longest axis, holding that interval's two bounding
   slices as dense arrays (:func:`_block_relation`), then one ``cogroup``
   per query that runs the broadcast path's NumPy kernel on each interval
   (:func:`_interpolate_blocks`). The repeated-query plan of a registry
   whose slab should not live on the driver.

``"auto"`` picks broadcast for slabs of at most :data:`_FUSED_SLAB_MAX_ROWS`
rows and the corner join above; :class:`~kamodo_dask_spark.grid.registry.
KamodoSpark` resolves its strategy by the same rule. All return
``fill_value`` for out-of-bounds points without error (kamodo_dask.py:337-338)
and treat grid-edge coordinates as in-bounds, matching SciPy semantics.
"""

from __future__ import annotations

from functools import reduce
from itertools import product
from operator import mul

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from kamodo_dask_spark.grid.model import DEFAULT_AXES, grid_axes

#: Above this per-axis cardinality the O(n)-per-row literal-array snap would
#: dominate; switch to an Arrow-batched binary-search snap.
_LITERAL_AXIS_MAX = 2048

#: A dense slab with at most this many rows (= product of axis cardinalities)
#: gets an explicit broadcast hint on the corner join, see
#: :func:`_hint_build_side`. ~1M rows of (d doubles + measures) is well
#: under the 8GB broadcast ceiling.
_BROADCAST_GRID_MAX_ROWS = 1_000_000
# Ceiling on the per-task hash-build side of the corner join: slab rows per
# shuffle partition above which the SHUFFLE_HASH hint is NOT applied and AQE
# picks the join (sort-merge spills; a hash build cannot).
_HASH_BUILD_MAX_ROWS_PER_TASK = 2_000_000

#: The strategies :func:`interpolate_points` and the registry accept.
_STRATEGIES = ("auto", "broadcast", "corner", "block")

#: ``"auto"`` broadcasts dense slabs of at most this many rows (= product of
#: axis cardinalities) and takes the corner join above: collect the slab
#: once, broadcast the dense ndarray, and evaluate the NumPy kernel map-side
#: over the points — ZERO exchanges in the plan (no corner explode, no join,
#: no group-by). Measured at 4 cores with 200k query points (SCALE.md
#: §Interpolation), a broadcast registry answered point queries 1.7-2.8×
#: and gridded maps 1.2-1.9× faster than a corner registry at every slab
#: size from 1.1M to 3.9M rows.
_FUSED_SLAB_MAX_ROWS = 4_000_000


def _resolve_strategy(strategy: str, dense_bound: int) -> str:
    """The one strategy rule: validate ``strategy`` and resolve ``"auto"``
    from the dense-slab row bound."""
    if strategy not in _STRATEGIES:
        raise ValueError(
            f"strategy must be one of {'|'.join(_STRATEGIES)}, got {strategy!r}"
        )
    if strategy != "auto":
        return strategy
    return "broadcast" if dense_bound <= _FUSED_SLAB_MAX_ROWS else "corner"


def nlinear_interp(
    axes: list[np.ndarray],
    values: np.ndarray,
    pts: np.ndarray,
    fill_value: float = 0.0,
) -> np.ndarray:
    """Vectorized d-linear interpolation on a regular (rectilinear) grid.

    NumPy re-implementation of SciPy's ``RegularGridInterpolator`` linear
    method with ``bounds_error=False`` (kamodo_dask.py:335-338): grid edges
    inclusive, strictly-outside points → ``fill_value``. Doubles as the
    test oracle for the relational path.
    """
    d = len(axes)
    m = len(pts)
    idxs, fracs = [], []
    oob = np.zeros(m, dtype=bool)
    for k, ax in enumerate(axes):
        x = pts[:, k]
        oob |= (x < ax[0]) | (x > ax[-1]) | np.isnan(x)
        i = np.clip(np.searchsorted(ax, x, side="right") - 1, 0, len(ax) - 2)
        denom = ax[i + 1] - ax[i]
        fracs.append((x - ax[i]) / denom)
        idxs.append(i)
    out = np.zeros(m, dtype=np.float64)
    for bits in product((0, 1), repeat=d):
        w = np.ones(m, dtype=np.float64)
        corner = []
        for k, b in enumerate(bits):
            w *= fracs[k] if b else (1.0 - fracs[k])
            corner.append(idxs[k] + b)
        out += w * values[tuple(corner)]
    out[oob] = fill_value
    return out


def _session_tz(spark) -> str:
    """The SQL session timezone — the zone in which ARROW-delivered
    timestamps (``toPandas``/pandas-UDF inputs) arrive as naive values.
    Driver-side ``collect()`` is different: it converts to SYSTEM-local
    naive ``datetime`` objects, whose ``.timestamp()`` is already the true
    epoch. Mixing the two conventions shifts axes by the tz offset — each
    conversion site below names which convention its input uses."""
    return spark.conf.get("spark.sql.session.timeZone", "UTC")


def _driver_epoch_seconds(v) -> float:
    """Epoch seconds of a DRIVER-SIDE datetime-like (``collect()`` output or
    user-supplied coordinate): naive values are system-local — exactly
    ``datetime.timestamp()`` semantics, matching how ``createDataFrame``
    interprets naive datetimes on ingestion. ``pd.Timestamp`` overrides
    ``.timestamp()`` with naive-as-UTC semantics, so it is unwrapped first."""
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    return v.timestamp()


def coerce_axis_value(v) -> float:
    """Axis value → float64 in axis units: numerics pass through,
    datetime-likes (the natural spelling for a timestamp axis) convert to
    epoch seconds with driver-side (system-local naive) semantics — the
    same interpretation applied to ``collect()``-derived axis values, so a
    user coordinate and the axis array it is compared against always live
    in the same frame. Shared by the gridded mesh (``_mesh_points``) and
    the registry's ``plot_data``."""
    if isinstance(v, str):
        import pandas as pd

        return _driver_epoch_seconds(pd.Timestamp(v))
    if hasattr(v, "timestamp"):
        return _driver_epoch_seconds(v)
    return float(v)


def _axis_arrays(
    grid_df: DataFrame,
    axes: tuple[str, ...],
    levels: dict[str, list] | None = None,
) -> dict[str, np.ndarray]:
    """Distinct sorted per-axis values as float64 (timestamps → epoch secs).
    Pass ``levels`` (a prior :func:`validate_dense` or :func:`grid_axes`
    result, or axis arrays the slab collect already sorted) to skip the
    distinct-axis job."""
    vals = levels if levels is not None else grid_axes(grid_df, axes)
    out = {}
    for ax, vs in vals.items():
        if len(vs) < 2:
            raise ValueError(f"axis {ax!r} needs >= 2 grid values, got {len(vs)}")
        out[ax] = np.asarray(
            [
                _driver_epoch_seconds(v) if hasattr(v, "timestamp") else float(v)
                for v in vs
            ],
            dtype=np.float64,
        )
    return out


def _as_double(ax: str, df: DataFrame) -> F.Column:
    """Axis coordinate as float64. A single cast covers every axis type:
    Spark's timestamp→double IS epoch seconds (the reference's
    ``v.value/1e9``, kamodo_dask.py:309), and numerics widen losslessly."""
    return F.col(ax).cast("double")


def _snap_columns(
    points: DataFrame,
    axes: tuple[str, ...],
    arrays: dict[str, np.ndarray],
) -> DataFrame:
    """Append ``_lo/_hi/_frac`` and the low-corner axis index ``_loi``
    (int) per axis, and an ``_oob`` flag, to the points.

    Small axes (the normal dense-grid case) snap JVM-side against the
    sorted axis array, shipped as ONE float64 literal — zero joins, zero
    shuffles. The count is ``F.aggregate`` (``ArrayAggregate``, a
    ``CodegenFallback`` expression), so it evaluates interpreted inside the
    point stage, O(n) per point. Oversized axes fall back to an
    Arrow-batched ``np.searchsorted`` (O(log n) per point). ``_loi_{ax}``
    is the block strategy's group key; the corner join never reads it and
    Catalyst prunes it from that plan.
    """
    big = [ax for ax in axes if len(arrays[ax]) > _LITERAL_AXIS_MAX]
    oob = F.lit(False)
    df = points
    for ax in axes:
        arr = arrays[ax]
        x = _as_double(ax, points)
        oob = oob | (x < float(arr[0])) | (x > float(arr[-1])) | x.isNull()
        if ax not in big:
            lit_arr = F.lit(np.asarray(arr, dtype=np.float64))
            cnt = F.aggregate(
                lit_arr, F.lit(0), lambda acc, v: acc + F.when(v <= x, 1).otherwise(0)
            )
            idx = F.least(F.greatest(cnt - 1, F.lit(0)), F.lit(len(arr) - 2))
            lo = F.element_at(lit_arr, idx + 1)
            hi = F.element_at(lit_arr, idx + 2)
            frac = (x - lo) / (hi - lo)
            df = df.withColumns(
                {f"_lo_{ax}": lo, f"_hi_{ax}": hi, f"_frac_{ax}": frac, f"_loi_{ax}": idx}
            )
    if big:
        df = _snap_udf(df, big, arrays)
    return df.withColumn("_oob", oob)


def _snap_udf(
    df: DataFrame,
    axes_subset: list[str],
    arrays: dict[str, np.ndarray],
) -> DataFrame:
    """Arrow-batched searchsorted snap for large axes (broadcast axis arrays)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast({ax: arrays[ax] for ax in axes_subset})

    import pandas as pd

    parts = ("lo", "hi", "frac", "loi")
    fields = [
        T.StructField(
            f"_{part}_{ax}", T.IntegerType() if part == "loi" else T.DoubleType()
        )
        for ax in axes_subset
        for part in parts
    ]
    out_type = T.StructType(fields)

    # NB: no type hints — pandas_udf can't infer an eval type for a varargs
    # signature; the explicit returnType + default SCALAR type suffice.
    def _snap(*cols):
        data = {}
        local = bc.value
        for series, ax in zip(cols, axes_subset):
            ax_arr = local[ax]
            x = series.to_numpy(dtype=np.float64)
            i = np.clip(np.searchsorted(ax_arr, x, side="right") - 1, 0, len(ax_arr) - 2)
            lo, hi = ax_arr[i], ax_arr[i + 1]
            data[f"_lo_{ax}"] = lo
            data[f"_hi_{ax}"] = hi
            data[f"_frac_{ax}"] = (x - lo) / (hi - lo)
            data[f"_loi_{ax}"] = i.astype(np.int32)
        return pd.DataFrame(data)

    snap = F.pandas_udf(_snap, out_type)

    packed = df.withColumn("_snap", snap(*[_as_double(ax, df) for ax in axes_subset]))
    for ax in axes_subset:
        for part in parts:
            packed = packed.withColumn(f"_{part}_{ax}", F.col(f"_snap._{part}_{ax}"))
    return packed.drop("_snap")


def _filled(m: str, fill_value: float) -> F.Column:
    """Measure ``m`` as a grid-node value of both relational strategies:
    double, with NaN AND NULL → ``fill_value`` before interpolation
    (kamodo_dask.py:334). ``nanvl`` alone passes SQL NULL through (NULL is
    not NaN), which would zero the corner join's coverage sum and hard-fill
    the whole point — while the fused path (``np.nan_to_num`` after
    ``toPandas``, NULL→NaN) blends ``fill_value`` at just that node.
    Coalescing to NaN first keeps the strategies identical."""
    return F.nanvl(
        F.coalesce(F.col(m).cast("double"), F.lit(float("nan"))),
        F.lit(float(fill_value)),
    )


def _collect_dense_slab(
    grid_df: DataFrame,
    axes: tuple[str, ...],
    measures: list[str],
    levels: dict,
    fill_value: float,
):
    """Unordered driver collect of the slab as dense ndarrays — the one slab
    collect. ``levels`` gives each axis's values (a :func:`validate_dense`
    result, or axis arrays); their counts are the expected cardinalities.

    A plain Arrow ``toPandas()`` of the double-cast axes and measures, no
    sort: ``np.unique`` per axis yields the sorted axis array and each
    row's index along it, and the rows scatter into place through
    ``np.ravel_multi_index``. Returns ``(axis_list, slabs)``, or ``None``
    when the rows do not fill the grid exactly once: row count ≠ ∏ counts,
    an axis cardinality off, or a cell hit twice (a duplicated row masking
    a missing one) — the explicit version of the reference's trusted
    reshape (kamodo_dask.py:325,334). NaN measures become ``fill_value``
    here, before interpolation."""
    shape = tuple(len(levels[ax]) for ax in axes)
    expected = int(np.prod(shape))
    pdf = grid_df.select(
        *[_as_double(ax, grid_df).alias(ax) for ax in axes],
        *[F.col(m).cast("double").alias(m) for m in measures],
    ).toPandas()
    if len(pdf) != expected:
        return None
    axis_list, index = [], []
    for ax, n in zip(axes, shape):
        values, inverse = np.unique(pdf[ax].to_numpy(np.float64), return_inverse=True)
        if len(values) != n:
            return None
        axis_list.append(values)
        index.append(inverse.reshape(-1))
    flat = np.ravel_multi_index(index, shape)
    covered = np.zeros(expected, dtype=bool)
    covered[flat] = True
    if not covered.all():
        return None
    slabs = {}
    for m in measures:
        slab = np.empty(expected, dtype=np.float64)
        slab[flat] = pdf[m].to_numpy(np.float64)
        slabs[m] = np.nan_to_num(slab, nan=fill_value).reshape(shape)
    return axis_list, slabs


def _fused_kernel_map(
    points_df: DataFrame,
    axes: tuple[str, ...],
    measures: list[str],
    slab,
    fill_value: float,
) -> DataFrame:
    """Map-side interpolation: evaluate the NumPy kernel per Arrow batch of
    points against ``slab``, a broadcast of :func:`_collect_dense_slab`'s
    ``(axis_list, slabs)``. Starts no Spark job. Preserves the input point
    schema exactly (timestamp axes convert to epoch seconds *inside* the
    kernel) and appends one double column per measure — same output
    contract as the corner join, zero exchanges in the plan."""
    import pandas as pd  # noqa: F401 — executor-side dependency

    spark = points_df.sparkSession
    axes_l = list(axes)
    fv = float(fill_value)
    ts_axes = {ax for ax, t in points_df.dtypes if ax in axes_l and t == "timestamp"}
    # Arrow delivers timestamps NAIVE in the session timezone; the axis
    # arrays are true UTC epoch seconds — localize before converting or the
    # kernel evaluates at times shifted by the tz offset (only visible when
    # the session tz isn't UTC; the corner path casts Spark-side and was
    # always correct).
    tz = _session_tz(spark)
    out_schema = T.StructType(
        list(points_df.schema.fields) + [T.StructField(m, T.DoubleType()) for m in measures]
    )

    def eval_batches(batches):
        ax_arrs, slab_map = slab.value
        for pdf in batches:
            cols = []
            for ax in axes_l:
                s = pdf[ax]
                if ax in ts_axes:
                    # naive (session tz) → UTC epoch seconds
                    s = (
                        s.dt.tz_localize(
                            tz, ambiguous=True, nonexistent="shift_forward"
                        )
                        .dt.tz_convert("UTC")
                        .dt.tz_localize(None)
                        .astype("datetime64[us]")
                        .astype("int64")
                        / 1e6
                    )
                cols.append(s.astype("float64").to_numpy())
            pts = (
                np.column_stack(cols)
                if len(pdf)
                else np.empty((0, len(axes_l)), dtype=np.float64)
            )
            res = pdf.copy()
            for m in measures:
                res[m] = nlinear_interp(ax_arrs, slab_map[m], pts, fv)
            yield res

    return points_df.mapInPandas(eval_batches, out_schema)


def interpolate_points(
    grid_df: DataFrame,
    points_df: DataFrame,
    axes: tuple[str, ...] = DEFAULT_AXES,
    measures: list[str] | None = None,
    fill_value: float = 0.0,
    axis_arrays: dict[str, np.ndarray] | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Multilinear interpolation, strategy-selected at plan time.

    Output: the original point columns plus one double column per measure.

    ``strategy``:

    - ``"auto"`` (default): ``"broadcast"`` when the dense-slab row bound
      (∏ axis cardinalities) is ≤ :data:`_FUSED_SLAB_MAX_ROWS`, else
      ``"corner"``. Non-dense slabs (collect finds fewer rows than the
      bound) fall back to the corner join, whose coverage accounting turns
      missing corners into ``fill_value``.
    - ``"broadcast"``: unordered collect of the slab, scattered into a
      dense ndarray on the driver and checked to fill every cell exactly
      once (the explicit version of the reference's trusted reshape,
      kamodo_dask.py:325,334), broadcast, and the NumPy kernel map-side
      over Arrow batches of points — a plan with ZERO exchanges. Raises
      ``ValueError`` when the grid is not dense. Each call collects the
      slab; a :class:`~kamodo_dask_spark.grid.registry.KamodoSpark`
      registry collects it once, at build.
    - ``"corner"``: force the relational corner join (J1 + J2) — snap, 2^d
      corner explode (one ``explode(sequence(0, 2^d − 1))`` whose bits pick
      each axis's node and weight factor, so the plan grows with d, not
      2^d), equi-join, group-by with one coverage sum for every measure.
      The grid never leaves the executors; this is the 100 TB path for
      one-shot queries and partial slabs.
    - ``"block"``: build the (dense) slab's block relation
      (:func:`_block_relation`, one shuffle) and answer through one
      ``cogroup`` on the longest axis's interval, where the NumPy kernel
      runs per interval (:func:`_interpolate_blocks`). Raises
      ``ValueError`` when the grid is not dense. Built per call here; a
      :class:`~kamodo_dask_spark.grid.registry.KamodoSpark` registry builds
      and persists it once, at build.

    Semantics note: the corner join merges duplicate point rows in its final
    group-by; the fused and block paths preserve them. Include a unique
    ``point_id`` column when duplicates are possible (then all paths agree).
    """
    measures = measures or [c for c, _ in grid_df.dtypes if c not in axes]
    arrays = axis_arrays or _axis_arrays(grid_df, axes)
    d = len(axes)
    shape = [len(arrays[ax]) for ax in axes]
    dense_bound = int(np.prod(shape))

    resolved = _resolve_strategy(strategy, dense_bound)
    if resolved == "block":
        blocks = _block_relation(grid_df, axes, measures, fill_value, arrays)
        return _interpolate_blocks(blocks, points_df, axes, arrays, measures, fill_value)
    if resolved == "broadcast":
        collected = _collect_dense_slab(grid_df, axes, measures, arrays, fill_value)
        if collected is not None:
            slab = grid_df.sparkSession.sparkContext.broadcast(collected)
            return _fused_kernel_map(points_df, axes, measures, slab, fill_value)
        if strategy == "broadcast":
            raise ValueError(
                f"grid is not dense: {grid_df.count()} rows != {dense_bound} "
                f"(= {' * '.join(map(str, shape))})"
            )
        # "auto" over a non-dense slab: the corner join's coverage
        # accounting handles it

    point_cols = points_df.columns
    pts = _snap_columns(points_df, axes, arrays)

    # Explode each point into its 2^d corners: bit d-1-k of the corner index
    # picks axis k's high node and weight frac (else its low node and
    # 1 - frac), so axis 1 is the most significant bit.
    corner = F.col("_c")
    high = [corner.bitwiseAND(1 << (d - 1 - k)) != 0 for k in range(d)]
    exploded = pts.withColumn("_c", F.explode(F.sequence(F.lit(0), F.lit(2**d - 1))))
    exploded = exploded.select(
        *point_cols,
        "_oob",
        *[
            F.when(h, F.col(f"_hi_{ax}")).otherwise(F.col(f"_lo_{ax}")).alias(f"_k_{ax}")
            for h, ax in zip(high, axes)
        ],
        reduce(
            mul,
            [
                F.when(h, F.col(f"_frac_{ax}")).otherwise(1.0 - F.col(f"_frac_{ax}"))
                for h, ax in zip(high, axes)
            ],
        ).alias("_w"),
    )

    # Grid keyed by float64 corner coordinates (exact values — they came from
    # the grid itself, so float equality is safe), measures filled.
    grid_keyed = grid_df.select(
        *[_as_double(ax, grid_df).alias(f"_k_{ax}") for ax in axes],
        *[_filled(m, fill_value).alias(m) for m in measures],
    )
    grid_keyed = _hint_build_side(grid_keyed, dense_bound)
    joined = exploded.join(grid_keyed, on=[f"_k_{ax}" for ax in axes], how="left")

    # Coverage = the weight of the corners that found a grid row. A matched
    # row carries every measure already filled (never NULL), so one sum
    # serves every measure.
    grouped = joined.groupBy(*point_cols, "_oob").agg(
        F.sum(F.when(F.col(measures[0]).isNotNull(), F.col("_w"))).alias("_cov"),
        *[F.sum(F.col("_w") * F.col(m)).alias(f"_v_{m}") for m in measures],
    )

    # fill_value for out-of-bounds points AND for points whose corner support
    # is incomplete (non-dense slab) — the latter turns the reference's
    # silent reshape corruption into defined behavior. coalesce: zero corner
    # support (all 2^d grid rows missing) leaves the sum NULL.
    covered = F.abs(F.coalesce(F.col("_cov"), F.lit(0.0)) - 1.0) < 1e-9
    filled = F.col("_oob") | ~covered
    return grouped.select(
        *point_cols,
        *[
            F.when(filled, float(fill_value)).otherwise(F.col(f"_v_{m}")).alias(m)
            for m in measures
        ],
    )


def _hint_build_side(df: DataFrame, dense_bound: int) -> DataFrame:
    """The corner join's hint rule for ``df``, the grid as build side.

    Its row count is provable at plan time (∏ axis cardinalities, an upper
    bound for partial slabs), so up to :data:`_BROADCAST_GRID_MAX_ROWS` it
    is broadcast instead of planning a shuffle and waiting for AQE's
    runtime conversion. Above that it is the SHUFFLE_HASH build side while
    each task's share (``dense_bound`` / spark.sql.shuffle.partitions, NOT
    the scan's maxPartitionBytes — post-shuffle partitioning is governed by
    the shuffle-partition count / AQE advisory size) stays under
    :data:`_HASH_BUILD_MAX_ROWS_PER_TASK`: Spark's default would pick a
    sort-merge join — two full sorts on the keys, measured 1.7× slower at a
    1.23M-row slab × 1.6M corner rows. Beyond the ceiling no hint is given
    and AQE picks the join: a hash build cannot spill, sort-merge can (an
    ungated hint OOMed at ~3M build rows per task)."""
    if dense_bound <= _BROADCAST_GRID_MAX_ROWS:
        return F.broadcast(df)
    try:
        n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:
        n_shuffle = 200
    if dense_bound <= _HASH_BUILD_MAX_ROWS_PER_TASK * max(n_shuffle, 1):
        return df.hint("SHUFFLE_HASH")
    return df


def _block_layout(axes: tuple[str, ...], arrays: dict[str, np.ndarray]):
    """The block relation's axis order, its float64 axis arrays in that
    order, and the shape of one block. The key axis comes first: the axis
    with the most nodes, the first on a tie — the most groups and the
    smallest blocks. The other axes follow in order; a block spans two key
    nodes and every node of the others, 2 × ∏(other axes)."""
    key = max(axes, key=lambda ax: len(arrays[ax]))
    order = [key, *[ax for ax in axes if ax != key]]
    arrs = [np.asarray(arrays[ax], dtype=np.float64) for ax in order]
    return order, arrs, (2, *[len(a) for a in arrs[1:]])


def _block_relation(
    grid_df: DataFrame,
    axes: tuple[str, ...],
    measures: list[str],
    fill_value: float,
    arrays: dict[str, np.ndarray],
) -> DataFrame:
    """Reshape a DENSE slab into its BLOCK relation: one row per interval
    ``g`` of the key axis (:func:`_block_layout`), holding the two key-axis
    slices that bound it as dense arrays of shape 2 × ∏(other axes),
    flattened C-order with the key axis first and the other axes in order,
    each stored as its raw bytes (a binary column caches and crosses Arrow
    as one buffer, where an array<double> is built element by element):

    - ``_g`` (int): the interval, ``arrays[key][g] .. arrays[key][g + 1]``;
    - ``_mask`` (binary, bool): which nodes the slab holds;
    - ``_block_{m}`` (binary, float64), one per measure: the node values,
      NaN/NULL → ``fill_value`` (:func:`_filled`, the corner join's node
      semantics).

    A node at key index i bounds the intervals i−1 and i, clipped to
    [0, n−2], so the build replicates each node at most twice and runs
    one shuffle, a ``groupBy(_g).applyInPandas`` scatter. Node indices come
    from an exact match against ``arrays`` (the values points snap
    against); a node that matches none is absent, and absent nodes hold 0
    and ``False``, so queries that weigh them get ``fill_value``.

    Requires a dense slab (row count = distinct coordinates = ∏ axis
    cardinalities) and raises ``ValueError`` otherwise: a duplicated node
    masking a missing one would overwrite it in the scatter. Non-dense
    slabs belong to the corner join.

    Limits: a block is 2 × ∏(other axes) × 8 B per measure and must fit a
    Python worker (a finer grid needs tiling along a second axis with a
    one-node halo, not built here); and :func:`_interpolate_blocks` meets
    all points of one interval in one worker, so a query runs at most
    n_key − 1 tasks in parallel."""
    import pandas as pd

    (key, *others), arrs, block_shape = _block_layout(axes, arrays)
    size = int(np.prod(block_shape))
    expected = len(arrs[0]) * size // 2

    nodes = grid_df.select(
        *[_as_double(ax, grid_df).alias(ax) for ax in axes],
        *[_filled(m, fill_value).alias(m) for m in measures],
    )
    # count AND distinct-coordinate count in one job: a duplicated node
    # masking a missing one passes a bare row count (and validate_dense's
    # per-axis cardinality product) — the hole _collect_dense_slab guards
    # on the broadcast path
    n, nd = nodes.agg(F.count(F.lit(1)), F.countDistinct(*axes)).first()
    if n != expected or nd != expected:
        raise ValueError(
            f"block relation requires a dense slab: {n} rows / {nd} distinct "
            f"coordinates != {expected} expected; use the corner join for "
            "partial or duplicated slabs"
        )

    # each node's key-axis index (array_position: 1-based, 0 = no match)
    # and the one or two intervals it bounds
    i = F.col("_i")
    last = F.lit(len(arrs[0]) - 2)
    tagged = (
        nodes.withColumn("_i", F.array_position(F.lit(arrs[0]), F.col(key)).cast("int") - 1)
        .filter(i >= 0)
        .select(
            F.explode(F.sequence(F.greatest(i - 1, F.lit(0)), F.least(i, last))).alias("_g"),
            "_i", *others, *measures,
        )
    )

    def scatter(pdf):
        g = int(pdf["_g"].iloc[0])
        index = [pdf["_i"].to_numpy() - g]
        found = np.ones(len(pdf), dtype=bool)
        for ax, arr in zip(others, arrs[1:]):
            x = pdf[ax].to_numpy(np.float64)
            j = np.minimum(np.searchsorted(arr, x), len(arr) - 1)
            found &= arr[j] == x
            index.append(j)
        flat = np.ravel_multi_index([ix[found] for ix in index], block_shape)
        mask = np.zeros(size, dtype=bool)
        mask[flat] = True
        out = {"_g": [g], "_mask": [mask.tobytes()]}
        for m in measures:
            vals = np.zeros(size, dtype=np.float64)
            vals[flat] = pdf[m].to_numpy(np.float64)[found]
            out[f"_block_{m}"] = [vals.tobytes()]
        return pd.DataFrame(out)

    schema = ", ".join(["_g int", "_mask binary", *[f"`_block_{m}` binary" for m in measures]])
    return tagged.groupBy("_g").applyInPandas(scatter, schema)


def _interpolate_blocks(
    blocks: DataFrame,
    points_df: DataFrame,
    axes: tuple[str, ...],
    arrays: dict[str, np.ndarray],
    measures: list[str],
    fill_value: float = 0.0,
) -> DataFrame:
    """Block-relation interpolation: snap each point on the key axis only,
    then one ``cogroup`` of the points and ``blocks`` (a
    :func:`_block_relation` over the same ``arrays``, possibly persisted) on
    the interval, where :func:`nlinear_interp` — the broadcast path's
    kernel — evaluates every measure over the interval's block.

    The mask, interpolated once per group, is the coverage: a point whose
    positively weighted corners are not all present (``|cov − 1| ≥ 1e-9``,
    the corner join's ``_cov`` rule), or whose interval has no block, gets
    ``fill_value``. Out-of-bounds and NULL coordinates on any axis, the key
    axis included, fall out of the kernel's own bounds check. The axis
    columns are cast to double Spark-side, so the kernel sees epoch seconds
    for a timestamp axis whatever the session timezone. Duplicate point
    rows are PRESERVED (no per-point group-by)."""
    import pandas as pd

    order, arrs, block_shape = _block_layout(axes, arrays)
    fv = float(fill_value)
    point_cols = points_df.columns
    pts = _snap_columns(points_df, (order[0],), arrays).select(
        *point_cols,
        F.col(f"_loi_{order[0]}").alias("_g"),
        *[_as_double(ax, points_df).alias(f"_x_{ax}") for ax in order],
    )
    out_schema = T.StructType(
        list(points_df.schema.fields) + [T.StructField(m, T.DoubleType()) for m in measures]
    )

    def evaluate(pdf, blk):
        if pdf.empty:
            return pd.DataFrame()
        res = pdf[point_cols].copy()
        if blk.empty:
            return res.assign(**dict.fromkeys(measures, fv))
        g = int(blk["_g"].iloc[0])
        block_axes = [arrs[0][g : g + 2], *arrs[1:]]
        xs = np.column_stack([pdf[f"_x_{ax}"].to_numpy(np.float64) for ax in order])
        mask = np.frombuffer(blk["_mask"].iloc[0], dtype=bool).reshape(block_shape)
        hole = np.abs(nlinear_interp(block_axes, mask, xs) - 1.0) >= 1e-9
        for m in measures:
            vals = np.frombuffer(blk[f"_block_{m}"].iloc[0], dtype=np.float64)
            out = nlinear_interp(block_axes, vals.reshape(block_shape), xs, fv)
            out[hole] = fv
            res[m] = out
        return res

    right = blocks.select("_g", "_mask", *[f"_block_{m}" for m in measures])
    return pts.groupBy("_g").cogroup(right.groupBy("_g")).applyInPandas(evaluate, out_schema)


def _mesh_points(
    spark,
    coords: dict[str, list | float],
    axes: tuple[str, ...],
    arrays: dict[str, np.ndarray],
) -> DataFrame:
    """The per-axis meshgrid as a query-point relation, one column per axis.

    Unspecified axes default to the full grid axis; supplied axes may be a
    scalar or list (datetime-likes coerce via :func:`coerce_axis_value`).
    Built as ONE ``range(∏ sizes)`` decode (div/mod strides + literal-array
    ``element_at``) — a single whole-stage-codegen projection that
    parallelizes across the range, instead of a chain of one-row
    ``crossJoin``s (k−1 BroadcastNestedLoopJoins, one partition, and a plan
    the catalog's no-BNLJ sweep would reject)."""
    per_axis: list[np.ndarray] = []
    for ax in axes:
        vals = coords.get(ax)
        if vals is None:
            vals = arrays[ax]
        elif np.isscalar(vals) or hasattr(vals, "timestamp"):
            vals = [coerce_axis_value(vals)]
        else:
            vals = [coerce_axis_value(v) for v in vals]
        per_axis.append(np.asarray(vals, dtype=np.float64))

    sizes = [len(v) for v in per_axis]
    empty = [ax for ax, s in zip(axes, sizes) if s == 0]
    if empty:
        # a zero stride would be a bare ZeroDivisionError — name the axis
        raise ValueError(f"empty coordinate list for axis {empty[0]!r}")
    n_mesh = int(np.prod(sizes))
    cols, stride = [], n_mesh
    for ax, vals, size in zip(axes, per_axis, sizes):
        stride //= size
        idx = ((F.col("id") / stride).cast("long") % size + 1).cast("int")
        cols.append(F.element_at(F.lit(vals), idx).alias(ax))
    return spark.range(n_mesh).select(*cols)


def gridded_eval(
    grid_df: DataFrame,
    coords: dict[str, list | float] | None = None,
    axes: tuple[str, ...] = DEFAULT_AXES,
    measures: list[str] | None = None,
    fill_value: float = 0.0,
    strategy: str = "auto",
    axis_arrays: dict[str, np.ndarray] | None = None,
) -> DataFrame:
    """Gridded (meshgrid) evaluation — the reference's ``@gridify`` functions
    ``var_ijkl(time=…, lon=…, lat=…, h=…)`` (kamodo_dask.py:343-348).

    Unspecified axes default to the full grid axis; supplied axes may be a
    scalar or list. The mesh (:func:`_mesh_points`) is interpolated by
    :func:`interpolate_points`; the result stays a DataFrame with one row
    per mesh point.

    ``strategy`` is forwarded to :func:`interpolate_points` (auto |
    broadcast | corner | block — validated there, so typos raise instead of
    silently running auto). Pass ``axis_arrays`` (e.g. the registry's
    cached arrays) to skip re-running the distinct-axis aggregation on
    every call — on a big grid that is a full-table job per invocation.
    """
    arrays = axis_arrays or _axis_arrays(grid_df, axes)
    mesh = _mesh_points(grid_df.sparkSession, coords or {}, axes, arrays)
    return interpolate_points(
        grid_df, mesh, axes, measures, fill_value, axis_arrays=arrays,
        strategy=strategy,
    )
