"""Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k — broadcast the (small) query set
against the full corpus; dot products stay JVM-side via ``zip_with`` +
``aggregate`` higher-order functions (no Python in the hot path).

Scale path: LSH bucketing by random-hyperplane signs — candidates share a
signature bucket, turning the O(N·Q) scan into an equi-join; planes are
seeded & deterministic so results are reproducible.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ over two array columns, evaluated left-to-right in float64."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _round6_half_away(arr: np.ndarray) -> np.ndarray:
    """Engine-portable 6-decimal rounding for the numpy paths:
    sign·floor(|x|·10⁶ + 0.5)/10⁶ — the same HALF_UP convention as
    ``F.round`` and DuckDB ``round``. ``np.round`` is half-to-EVEN, so an
    exact half at the 6th decimal (reachable with integer-quantized
    vectors) would make the numpy and expression implementations disagree
    on a threshold/rank boundary."""
    return np.sign(arr) * np.floor(np.abs(arr) * 1e6 + 0.5) / 1e6


def _window_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k epilogue shared by every retrieval operator: rank by
    the TOTAL order (score desc, neighbor_id asc) so batch-local and
    bucket-local top-k compose exactly, and ties are deterministic."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    impl: str = "matmul",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``impl='matmul'`` (default): broadcast the normalized query matrix,
    score each Arrow batch of the corpus with one BLAS matmul, keep a
    per-batch top-k, then a global windowed top-k. Selection uses the total
    order (rounded score desc, neighbor_id asc), so batch-local top-k
    composes EXACTLY into the global top-k, and the shuffle carries only
    ``partitions × |Q| × k`` rows. Spark's array higher-order functions are
    interpreted (not codegen'd) — dense float math belongs in numpy.

    ``impl='expr'``: pure-DataFrame fallback (broadcast crossJoin +
    ``zip_with``/``aggregate`` dot products), useful where Python workers
    are unavailable. Non-integral id columns fall back to it automatically
    — the matmul path's Arrow schema declares long ids.
    """
    query_id_col = query_id_col or id_col
    integral = {"tinyint", "smallint", "int", "bigint"}
    if impl == "matmul" and (
        dict(corpus.dtypes)[id_col] not in integral
        or dict(queries.dtypes)[query_id_col] not in integral
    ):
        impl = "expr"
    if impl == "expr":
        # zero-norm vectors are EXCLUDED on both sides (cosine undefined):
        # without the filter the expr path scores them NULL (sorted last)
        # while the matmul path would score NaN (sorted FIRST by Spark's
        # NaN-is-largest ordering) — contradictory results across impls
        q = queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        ).filter(norm(F.col("_qvec")) > 0)
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
        ).filter(norm(F.col("_cvec")) > 0)
        scored = F.broadcast(q).crossJoin(c)
        if exclude_self:
            scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
        scored = scored.select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("score"),
        )
    else:
        scored = _matmul_scores(corpus, queries, k, id_col, vec_col, query_id_col, exclude_self)
    return _window_topk(scored, k)


def _matmul_scores(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Per-batch BLAS scoring + batch-local top-k (see cosine_topk)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    qpdf = queries.select(query_id_col, vec_col).toPandas()
    if qpdf.empty:
        # np.vstack raises on zero arrays; the expr path returns empty —
        # match it
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = qpdf[query_id_col].to_numpy()
    Q = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qnorm = np.linalg.norm(Q, axis=1)
    keep = qnorm > 0  # zero-norm queries excluded (cosine undefined)
    qids, Q, qnorm = qids[keep], Q[keep], qnorm[keep]
    if len(qids) == 0:
        return corpus.sparkSession.createDataFrame([], out_schema)
    Qn = Q / qnorm[:, None]
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Qn))

    def batches(it):
        q_ids, q_mat = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            xnorm = np.linalg.norm(X, axis=1)
            ok = xnorm > 0  # zero-norm corpus rows excluded, as in expr
            if not ok.any():
                continue
            ids, X, xnorm = ids[ok], X[ok], xnorm[ok]
            Xn = X / xnorm[:, None]
            S = _round6_half_away(Xn @ q_mat.T)  # (batch, |Q|)
            rows = []
            for j, qid in enumerate(q_ids):
                s = S[:, j]
                mask = ids != qid if exclude_self else np.ones(len(ids), bool)
                cand_ids, cand_s = ids[mask], s[mask]
                # total order: score desc, id asc → exact composition
                order = np.lexsort((cand_ids, -cand_s))[:k]
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cand_ids[order],
                            "score": cand_s[order],
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    return corpus.select(id_col, vec_col).mapInPandas(batches, out_schema)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score >= threshold).

    With ``block_col`` (a cluster/label/LSH-bucket column): applyInPandas per
    block — one BLAS ``X·Xᵀ`` per block, upper triangle thresholded. The
    standard blocked-dedup shape (pair count ~N²/B, each block one task).
    Without ``block_col``: exact full self-join via ``zip_with`` expressions
    — only for small corpora (produce a block_col with LSH at scale).
    """
    if block_col is None:
        base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        a, b = base.alias("a"), base.alias("b")
        scored = a.join(b, F.col("a._id") < F.col("b._id")).select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(cosine(F.col("a._v"), F.col("b._v")), 6).alias("score"),
        )
        return scored.filter(F.col("score") >= threshold)

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        xnorm = np.linalg.norm(X, axis=1)
        ok = xnorm > 0  # zero-norm rows excluded (cosine undefined)
        ids, X, xnorm = ids[ok], X[ok], xnorm[ok]
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype="int64"),
                    "id_b": np.array([], dtype="int64"),
                    "score": np.array([], dtype="float64"),
                }
            )
        Xn = X / xnorm[:, None]
        S = _round6_half_away(Xn @ Xn.T)
        ia, ib = np.triu_indices(len(ids), 1)  # ids sorted → id_a < id_b
        scores = S[ia, ib]
        mask = scores >= thr
        return pd.DataFrame(
            {"id_a": ids[ia[mask]], "id_b": ids[ib[mask]], "score": scores[mask]}
        )

    return (
        df.select(id_col, vec_col, block_col)
        .groupBy(block_col)
        .applyInPandas(per_block, out_schema)
    )


def _kmeans_lite(X: np.ndarray, n_centroids: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic spherical k-means on a (normalized) sample — the IVF
    coarse quantizer. Plain Lloyd iterations in numpy; empty clusters re-seed
    from the least-covered points."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)
    C = X[idx].copy()
    for _ in range(iters):
        sims = X @ C.T
        assign = np.argmax(sims, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / n
            else:
                C[j] = X[rng.integers(len(X))]
    return C


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 50_000,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate cosine top-k — the classic ANN scale
    path: train a coarse quantizer on a bounded sample, assign every corpus
    vector to its nearest centroid cell (one matmul pass, no shuffle), then
    answer each query by exact-rescoring only the ``n_probe`` nearest cells.

    Scan fraction ≈ n_probe / n_centroids regardless of corpus size; the
    candidate fetch is an equi-join on the cell id (uniform-ish after
    k-means). Deterministic: fixed seed + hash-sampled training set.
    Recall is tuned by n_probe (n_probe == n_centroids → exact).
    """
    import pandas as pd
    from pyspark.sql import types as T

    integral = {"tinyint", "smallint", "int", "bigint"}
    if dict(corpus.dtypes)[id_col] not in integral:
        raise TypeError(
            f"ivf_cosine_topk requires an integral {id_col!r} column "
            f"(got {dict(corpus.dtypes)[id_col]}); map string ids to a "
            "surrogate long (e.g. xxhash64) before calling, or use "
            "cosine_topk(impl='expr') for the exact path"
        )

    # 1. train the quantizer on a deterministic hash-ordered sample: order by
    # md5(id) and take the first train_sample rows. Plans as
    # TakeOrderedAndProject (per-partition top-k heaps, no global sort, no
    # prior count() pass over the corpus — sizing a rate would cost one full
    # extra scan at 100 TB). Hash order ≈ uniform random, fixed by the data.
    sample_pdf = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(train_sample)
        .toPandas()
    )
    Xs = np.vstack(sample_pdf[vec_col].to_numpy()).astype(np.float64)
    Xs = Xs[np.linalg.norm(Xs, axis=1) > 0]  # zero vectors corrupt k-means
    Xs = Xs / np.linalg.norm(Xs, axis=1, keepdims=True)
    C = _kmeans_lite(Xs, n_centroids, iters=10, seed=seed)
    bc = corpus.sparkSession.sparkContext.broadcast(C)

    # 2. cell assignment — mapInPandas, zero shuffle
    assign_schema = T.StructType(
        list(corpus.select(id_col, vec_col).schema.fields)
        + [T.StructField("_cell", T.IntegerType())]
    )

    def assign(batches):
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            xnorm = np.linalg.norm(X, axis=1)
            ok = xnorm > 0  # zero-norm rows excluded from the index
            if not ok.any():
                continue
            pdf, X, xnorm = pdf[ok].copy(), X[ok], xnorm[ok]
            Xn = X / xnorm[:, None]
            pdf["_cell"] = np.argmax(Xn @ cents.T, axis=1).astype("int32")
            yield pdf

    assigned = corpus.select(id_col, vec_col).mapInPandas(assign, assign_schema)

    # 3. probe lists per query (queries are small — driver-side)
    qpdf = queries.select(id_col, vec_col).toPandas()
    if qpdf.empty:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    Q = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qnorm = np.linalg.norm(Q, axis=1)
    keep = qnorm > 0  # zero-norm queries excluded (cosine undefined)
    qpdf, Q, qnorm = qpdf[keep].reset_index(drop=True), Q[keep], qnorm[keep]
    if len(qpdf) == 0:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, score double, rank int"
        )
    Qn = Q / qnorm[:, None]
    probe_cells = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]
    probe_rows = [
        (int(qid), [float(x) for x in vec], int(cell))
        for qid, vec, cells in zip(qpdf[id_col], qpdf[vec_col], probe_cells)
        for cell in cells
    ]
    probes = corpus.sparkSession.createDataFrame(
        probe_rows, "query_id long, _qvec array<double>, _cell int"
    )

    # 4. candidates = corpus rows in probed cells; exact rescore + top-k.
    # Pairs are unique by construction — each corpus row lives in exactly
    # one cell and a query's probe list has distinct cells — so there is no
    # dedup step: a dropDuplicates here would shuffle the full candidate
    # set (the largest relation in the job) for zero semantic effect.
    cand = F.broadcast(probes).join(assigned, on="_cell")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col(id_col))
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("_qvec"), F.col(vec_col)), 6).alias("score"),
    )
    return _window_topk(scored, k)


def rademacher_planes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """``n_planes`` hyperplanes with ±1 (Rademacher) components derived from
    md5 — NOT a numpy RNG. Rademacher directions satisfy the same
    Johnson-Lindenstrauss sign-projection guarantees as Gaussian planes
    (Achlioptas 2001), and the md5 derivation makes every component
    reproducible in ANY engine (``md5(f"{table}:{p}:{j}")`` first hex nibble
    ≥ 8 → +1): the DuckDB oracle for the LSH catalog entry regenerates the
    exact planes as SQL literals. Combined with int8-quantized vectors the
    plane·vector dot product is exact integer arithmetic in float64 —
    signatures are bit-identical across engines regardless of summation
    order, so LSH bucketing itself becomes hash-checkable.

    ``table`` salts the derivation: OR-amplified multi-table LSH needs
    INDEPENDENT tables, so pass a distinct ``table`` per entry of the
    ``tables=`` list (two calls with the same ``table`` return the same
    planes — that's the reproducibility contract, not a bug)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{table}:{p}:{j}".encode()).hexdigest()[0], 16) >= 8
            else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signature(vec_col, planes) -> Column:
    """Sign bits of the vector against each hyperplane, packed into a bigint.

    ``planes`` is any row-iterable of plane vectors (ndarray or list of
    lists, e.g. :func:`rademacher_planes`). All planes must share one
    length, and every vector must match it: a shorter/longer vector would
    make ``zip_with`` null-pad, the dot sum go NULL, and every bit fall to
    0 — silently degrading the bucketed join to a cross product — so the
    mismatch raises per-row instead. A NULL vector is data, not
    misconfiguration: it yields a NULL signature (NULL join keys match
    nothing, so the row simply produces no candidates — the same
    exclude-degenerate-rows convention as ``cosine_topk``), rather than
    killing the whole job the way one poison row otherwise would."""
    planes = list(planes)
    if len(planes) > 63:
        raise ValueError(
            f"{len(planes)} planes exceed the 63-bit signature budget "
            "(bits 0..62 of a signed bigint; 1 << 63 overflows LongType)"
        )
    dims = {len(plane) for plane in planes}
    if len(dims) != 1:
        raise ValueError(f"planes have inconsistent lengths: {sorted(dims)}")
    (dim,) = dims
    v = vec_col if isinstance(vec_col, Column) else F.col(vec_col)
    sig = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        d = dot(v, F.lit([float(x) for x in plane]))
        sig = sig + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    # a NULL ELEMENT inside a correct-length vector would NULL every dot
    # and (via the when/otherwise) collapse the signature to all-zero
    # bits — one shared bucket of spurious candidates; treat it like a
    # NULL vector instead
    has_null_elem = F.exists(v, lambda x: x.isNull())
    return (
        F.when(v.isNull() | has_null_elem, F.lit(None).cast("bigint"))
        .when(F.size(v) == F.lit(dim), sig)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"hyperplane_signature: plane dim {dim} != vector dim "),
                    F.size(v).cast("string"),
                )
            )
        )
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    exclude_self: bool = True,
    tables: list | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates = corpus vectors sharing a
    random-hyperplane signature bucket with the query in ANY of ``n_tables``
    independent tables; exact rescoring within candidates.

    The bucket join is an equi-join on (table, signature) — shuffle keys are
    uniform hashes, so this scales linearly with corpus size. Recall is
    tunable via n_planes (bucket granularity) and n_tables (OR-amplification).

    ``tables`` overrides the seeded Gaussian planes with caller-supplied
    plane matrices (e.g. :func:`rademacher_planes` for engine-reproducible
    bucketing); n_planes/n_tables/dim/seed are then ignored.
    """
    if tables is None:
        rng = np.random.default_rng(seed)
        tables = [rng.standard_normal((n_planes, dim)) for _ in range(n_tables)]

    def signatures(df: DataFrame, ident: str) -> DataFrame:
        sigs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    hyperplane_signature(F.col(vec_col), planes).alias("sig"),
                )
                for t, planes in enumerate(tables)
            ]
        )
        return (
            df.select(F.col(id_col).alias(ident), F.col(vec_col).alias(f"_{ident}_vec"), F.explode(sigs).alias("_s"))
            .select(ident, f"_{ident}_vec", F.col("_s.tbl").alias("tbl"), F.col("_s.sig").alias("sig"))
        )

    qs = signatures(queries, "query_id")
    cs = signatures(corpus, "neighbor_id")
    cand = (
        F.broadcast(qs)
        .join(cs, on=["tbl", "sig"])
        .select("query_id", "neighbor_id", "_query_id_vec", "_neighbor_id_vec")
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_query_id_vec"), F.col("_neighbor_id_vec")), 6).alias("score"),
    )
    return _window_topk(scored, k)


def quantize_embedding(vec_col) -> Column:
    """Symmetric int8 quantization of an embedding array: each vector is
    scaled by ``max|x|/127`` and rounded half-away-from-zero to integers in
    [-127, 127] — the standard vector-index compression (4× smaller than
    float32, 8× than float64). Pure row-local array expressions, zero
    Python, zero shuffle.

    Cosine similarity is SCALE-INVARIANT, so top-k retrieval runs directly
    on the quantized integers — no dequantize pass. The per-vector scale is
    ``array_max(abs(v))/127``, recomputable from the original on demand;
    zero vectors quantize to zeros. Rounding is spelled
    ``sign(x)·floor(|x|/scale + 0.5)`` so every engine reproduces it
    bit-for-bit (SQL ``round`` half-modes differ across engines).
    """
    v = vec_col if isinstance(vec_col, Column) else F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: (
            F.signum(x.cast("double"))
            * F.floor(F.abs(x.cast("double")) / scale + F.lit(0.5))
        ).cast("int"),
    )
    return F.when(absmax > 0, q).otherwise(F.transform(v, lambda x: F.lit(0)))


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label embedding CENTROIDS (mean pooling): the reduction behind
    class prototypes, cluster refinement, and domain-mix diagnostics.

    Shape: ``posexplode`` each vector into (label, dim, value) rows, one
    partial-combined aggregation keyed on (label, dim). The shuffle key is
    (label, dim) — |labels| × dims groups, uniform by construction — and
    the map-side combine means the exchange carries one (sum, count) pair
    per group per task, NOT one row per vector element: at 100 TB the
    shuffled volume is bounded by cardinality(label) × dims × tasks,
    independent of corpus size. The output stays exploded (label, dim,
    value) rather than re-collecting arrays — re-assembly would need a
    per-label sort of dims, and every downstream consumer (centroid join,
    nearest-centroid scoring) joins on (label, dim) anyway.

    ``n_vecs`` is emitted on every (label, dim) row and counts the vectors
    contributing to THAT dim's mean — on a fixed-dimension corpus that is
    the per-label vector count replicated per dim; with ragged vectors it
    shrinks for dims beyond the shorter vectors (by design: it is the
    divisor of the mean on its own row). The mean is rounded to
    ``round_digits`` for engine-portable comparison.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    return (
        exploded.groupBy("label", F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.round(F.avg(F.col("x").cast("double")), round_digits).alias(
                "centroid_val"
            ),
            F.count("*").alias("n_vecs"),
        )
    )


def nearest_centroid_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    keep_vec: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine — the k-means
    E-step / cluster-labeling pass.

    ``centroids`` is driver-side data (|labels| × dims floats — metadata-
    sized by definition: it is the OUTPUT of :func:`label_centroids`, whose
    cardinality is independent of corpus size). The centroid matrix is
    inlined as literal arrays, so the plan is a pure map: per row, one
    rounded cosine per centroid and a row-local argmax via ``array_max``
    over (score, −label) structs (struct comparison is lexicographic, so
    ties break toward the SMALLEST label — deterministic cross-engine on
    the rounded scores). ZERO shuffles, no join, no window: at 100 TB the
    cost is a single scan however many executors run it.

    The vector's self-norm is projected ONCE and reused across all k
    scores (the HOF expressions are interpreted — no common-subexpression
    elimination would deduplicate k ``norm(v)`` evaluations), and each
    centroid's norm is a Python-computed literal.

    Row contract (explicit, mirrored by filters rather than left to NULL
    propagation, which under ANSI mode would raise DIVIDE_BY_ZERO instead):
    NULL vectors, zero-norm vectors, and vectors whose length differs from
    the centroid dimensionality are DROPPED — none has a defined
    assignment (``zip_with`` null-pads a short vector, which would
    otherwise silently poison the dot product). Zero-norm centroids are
    skipped (cosine against them is undefined).
    """
    import math

    dims = len(centroids[0][1]) if centroids else 0
    v = F.col(vec_col)
    structs = []
    for label, vec in centroids:
        if len(vec) != dims:
            raise ValueError(
                f"centroid {label!r} has {len(vec)} dims, expected {dims}"
            )
        cnorm = math.sqrt(sum(float(x) * float(x) for x in vec))
        if cnorm == 0.0:
            continue
        c_arr = F.array(*[F.lit(float(x)) for x in vec])
        score = F.round(
            dot(v, c_arr) / (F.col("_vnorm") * F.lit(cnorm)), round_digits
        )
        structs.append(
            F.struct(
                score.alias("score"),
                F.lit(-int(label)).cast("bigint").alias("neg_label"),
            )
        )
    if not structs:
        raise ValueError("no non-degenerate centroids to assign against")
    best = F.array_max(F.array(*structs))
    return (
        df.filter(v.isNotNull() & (F.size(v) == dims))
        .select(F.col(id_col), v, norm(v).alias("_vnorm"))
        .filter(F.col("_vnorm") > 0)
        .select(
            F.col(id_col),
            *([v] if keep_vec else []),
            (-best["neg_label"]).cast("bigint").alias("assigned_label"),
            best["score"].alias("score"),
        )
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 2,
    round_digits: int = 6,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Full Lloyd's k-means over an embedding column, DETERMINISTIC end to
    end — the fit loop that completes the clustering stack
    (:func:`nearest_centroid_assign` is its E-step, the
    :func:`label_centroids` aggregation shape its M-step; SemDeDup and IVF
    both consume its output centroids).

    Determinism (reproducible across runs, engines, cluster sizes — the
    property ``KMeans`` with a seed does NOT give across engines):

    - init: the embeddings of the ``k`` rows with the smallest
      ``(md5(id), id)`` — a hash-scatter over the corpus, no RNG; cluster
      labels 0..k-1 follow that order;
    - E-step: rounded-cosine argmax, ties to the smallest label;
    - M-step: per-(cluster, dim) mean ROUNDED to ``round_digits`` — the
      rounding is what makes iteration t+1's input identical across
      engines regardless of float summation order;
    - an empty cluster keeps its previous centroid (the standard carry).

    Returns ``(assignments, centroids)``: the final E-step relation
    ``(id, cluster, score)`` and the fitted ``[(label, vector), ...]``.

    100 TB shape: per iteration ONE corpus scan — the E-step is a
    zero-shuffle map with the k×d centroid matrix inlined as literals, and
    the M-step is the posexplode + partial-combined (cluster, dim) agg
    whose exchanged volume is k × dims × tasks, corpus-size-independent.
    Driver state is only the k×d centroid matrix per round (metadata-sized
    by definition). Total cost: ``n_iter + 2`` scans (init probe, one per
    loop iteration, final labeling under the fitted centroids) — the same
    per-iteration scan MLlib pays, with cross-engine reproducibility
    MLlib's seeded RNG cannot give.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    init_rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h", "_id")
        .limit(k)  # TakeOrderedAndProject; collect is k vectors (metadata)
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"k={k} but only {len(init_rows)} non-null vectors to seed from"
        )
    centroids = [
        (i, [float(x) for x in r["_vec"]]) for i, r in enumerate(init_rows)
    ]
    assigned = None
    for _ in range(n_iter):
        assigned = nearest_centroid_assign(
            df,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            round_digits=round_digits,
            keep_vec=True,
        )
        means = (
            assigned.select(
                F.col("assigned_label").alias("_cl"),
                F.posexplode(F.col(vec_col)).alias("_dim", "_x"),
            )
            .groupBy("_cl", "_dim")
            .agg(F.round(F.avg(F.col("_x").cast("double")), round_digits).alias("_c"))
            .collect()  # k × dims rows (metadata-sized)
        )
        by_label: dict[int, dict[int, float]] = {}
        for r in means:
            by_label.setdefault(int(r["_cl"]), {})[int(r["_dim"])] = r["_c"]
        centroids = [
            (
                lbl,
                [new[d] for d in sorted(new)] if (new := by_label.get(lbl)) else old,
            )
            for lbl, old in centroids
        ]
    final = nearest_centroid_assign(
        df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
    ).select(
        F.col(id_col),
        F.col("assigned_label").alias("cluster"),
        F.col("score"),
    )
    return final, centroids


def pca_power_iteration(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 2,
    round_digits: int = 6,
) -> "tuple[DataFrame, list[float]]":
    """Top principal component of an embedding column by POWER ITERATION,
    deterministic end to end — the dimensionality-reduction fit that
    completes the embedding stack (:func:`kmeans_fit` clusters, this finds
    the dominant axis: whitening, drift diagnostics, 1-D curriculum
    ordering by "how mainstream is this vector").

    Never materializes the d×d covariance: each iteration applies it as
    two corpus-local passes, ``s_i = ⟨x_i − μ, v⟩`` (zero-shuffle map, μ
    and v inlined as literals) then ``w = avg_i(s_i · (x_i − μ))`` (one
    posexplode + partial-combined per-dim aggregation — the
    :func:`label_centroids` M-step shape, exchanged volume d × tasks,
    corpus-size-independent). Driver state per round is the d-float
    ``w`` — metadata-sized by definition.

    Determinism (the :func:`kmeans_fit` recipe): init is the constant
    vector ``round(1/√d, r)``; every per-row projection and every per-dim
    mean is ROUNDED to ``round_digits`` in-engine, so iteration t+1's
    input is identical across engines/cluster sizes regardless of float
    summation order. Intermediate iterates stay UNNORMALIZED (power
    iteration only needs direction; for small fixed ``n_iter`` the scale
    stays bounded, and skipping the per-round normalization keeps every
    driver-side operation exact) — scale and sign are fixed once at the
    end: the returned component has unit norm and a positive first nonzero
    coordinate.

    ``d`` is the MODAL vector length (ties to the smaller), and rows with
    NULL vectors or a different length are dropped — corpus-max would let
    a single corrupted longer vector silently discard every valid row and
    fit the component to the outlier alone. Raises when the iterate
    collapses to zero (rank-0 input after centering).

    Returns ``(scores, component)``: ``(id_col, pc1)`` — each row's
    rounded projection on the unit component — and the component itself.
    """
    import math

    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    v = F.col(vec_col)
    mode_row = (
        df.filter(v.isNotNull())
        .groupBy(F.size(v).alias("_d"))
        .agg(F.count("*").alias("_c"))
        .orderBy(F.desc("_c"), F.asc("_d"))
        .limit(1)
        .collect()
    )
    d = int(mode_row[0]["_d"]) if mode_row else 0
    if d <= 0:
        raise ValueError("no non-empty vectors to fit on")
    rows = df.filter(v.isNotNull() & (F.size(v) == d)).select(
        F.col(id_col), v.alias("_x")
    )
    mu = (
        rows.select(F.posexplode("_x").alias("_dim", "_val"))
        .groupBy("_dim")
        .agg(F.round(F.avg(F.col("_val").cast("double")), round_digits).alias("_m"))
        .collect()  # d rows (metadata-sized)
    )
    mu_vec = [0.0] * d
    for r in mu:
        mu_vec[int(r["_dim"])] = float(r["_m"])
    mu_arr = F.array(*[F.lit(m) for m in mu_vec])
    centered = F.zip_with("_x", mu_arr, lambda a, b: a.cast("double") - b)

    w = [round(1.0 / math.sqrt(d), round_digits)] * d
    for _ in range(n_iter):
        w_arr = F.array(*[F.lit(float(x)) for x in w])
        s = F.round(dot(centered, w_arr), round_digits)
        means = (
            rows.select(s.alias("_s"), F.posexplode(centered).alias("_dim", "_c"))
            .groupBy("_dim")
            .agg(
                F.round(F.avg(F.col("_s") * F.col("_c")), round_digits).alias("_w")
            )
            .collect()  # d rows (metadata-sized)
        )
        w = [0.0] * d
        for r in means:
            w[int(r["_dim"])] = float(r["_w"])
    nrm = math.sqrt(sum(x * x for x in w))
    if nrm == 0.0:
        raise ValueError(
            "power iteration collapsed to the zero vector — centered input "
            "has no variance along the iterate"
        )
    sgn = next((-1.0 if x < 0 else 1.0 for x in w if x != 0.0), 1.0)
    w_arr = F.array(*[F.lit(float(x)) for x in w])
    pc1 = F.round(dot(centered, w_arr) * F.lit(sgn) / F.lit(nrm), round_digits)
    scores = rows.select(F.col(id_col), pc1.alias("pc1"))
    component = [sgn * x / nrm for x in w]
    return scores, component


def semantic_dedup(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    keep: str = "far",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): within each embedding cluster, find ε-similar pairs
    (cosine ≥ ``threshold``) and drop the lower-priority side of every
    pair, where priority is distance from the cluster centroid —
    ``keep="far"`` keeps the LEAST-centroid-similar row of a pair (the
    paper's choice: prototypical near-dups are the redundant ones),
    ``keep="near"`` the most. Ties break to the smaller id, so the result
    is deterministic.

    Contract: a row is dropped iff ANY ε-neighbor in its cluster
    outranks it — a single relational dominance pass over the pair set,
    NOT the iterative keep-aware independent-set variant (that
    computation is the connected-components + cluster-representatives
    pipeline already in the stack; this one-pass rule is what scales to a
    corpus-sized pair relation without driver-bound iteration). Rows
    outside the dedup domain — NULL cluster, no centroid for the cluster,
    wrong dimensionality, zero norm — have no measurable ε-neighbors and
    are KEPT with a NULL ``centroid_sim``.

    Plan shape at 100 TB: the centroid matrix is metadata-sized
    (|clusters| × dims — the OUTPUT of :func:`label_centroids`), inlined
    as one literal map, so per-row centroid similarity is a ZERO-shuffle
    map expression; pair generation is the blocked per-cluster BLAS of
    :func:`cosine_near_dup_pairs` (pair count ~N²/B inside blocks, never
    all-pairs); the dominance pass joins the pair relation (already
    ε-filtered, ≪ corpus) to the per-row sims and anti-joins the loser
    ids back — every join keyed on the id, no skew by construction.
    """
    if keep not in ("far", "near"):
        raise ValueError(f"keep must be 'far' or 'near', got {keep!r}")
    dims = len(centroids[0][1]) if centroids else 0
    usable = [
        (int(lbl), [float(x) for x in vec])
        for lbl, vec in centroids
        if len(vec) == dims and any(float(x) != 0.0 for x in vec)
    ]
    v = F.col(vec_col)
    if not usable or dims == 0:
        return df.select(
            F.col(id_col),
            F.col(cluster_col).cast("bigint").alias(cluster_col),
            F.lit(None).cast("double").alias("centroid_sim"),
        )
    import math

    cent_map = F.map_from_arrays(
        F.array(*[F.lit(lbl) for lbl, _ in usable]),
        F.array(*[F.array(*[F.lit(x) for x in vec]) for _, vec in usable]),
    )
    cnorm_map = F.map_from_arrays(
        F.array(*[F.lit(lbl) for lbl, _ in usable]),
        F.array(
            *[F.lit(math.sqrt(sum(x * x for x in vec))) for _, vec in usable]
        ),
    )
    lbl = F.col(cluster_col).cast("bigint")
    in_domain = (
        lbl.isNotNull()
        & v.isNotNull()
        & (F.size(v) == dims)
        & F.array_contains(F.array(*[F.lit(l) for l, _ in usable]), lbl)
    )
    base = df.select(
        F.col(id_col), v.alias(vec_col), lbl.alias(cluster_col),
        F.when(in_domain, norm(v)).alias("_vnorm"),
    )
    sims = base.select(
        F.col(id_col),
        F.col(cluster_col),
        F.when(
            F.col("_vnorm") > 0,
            F.round(
                dot(F.col(vec_col), F.element_at(cent_map, F.col(cluster_col)))
                / (F.col("_vnorm") * F.element_at(cnorm_map, F.col(cluster_col))),
                round_digits,
            ),
        ).alias("centroid_sim"),
    )
    # eager checkpoint: sims feeds BOTH dominance-join sides AND the final
    # anti-join — three consumers on different join keys, so Spark has no
    # ReusedExchange point and each would re-scan the source and re-derive
    # every per-row dot product (3 corpus scans for one query). The
    # checkpointed relation is narrow (id, cluster, sim — tens of bytes a
    # row vs the full embedding), so materializing it once is linear and
    # small; the same precedent as minhash_signatures' checkpoint.
    sims = sims.localCheckpoint(eager=True)
    domain = base.filter((F.col("_vnorm") > 0)).select(id_col, vec_col, cluster_col)
    pairs = cosine_near_dup_pairs(
        domain, threshold=threshold, id_col=id_col, vec_col=vec_col,
        block_col=cluster_col,
    )
    sim_a = sims.select(
        F.col(id_col).alias("id_a"), F.col("centroid_sim").alias("_sim_a")
    )
    sim_b = sims.select(
        F.col(id_col).alias("id_b"), F.col("centroid_sim").alias("_sim_b")
    )
    flip = F.lit(1.0 if keep == "far" else -1.0)
    key_a = F.struct((flip * F.col("_sim_a")).alias("s"), F.col("id_a").alias("i"))
    key_b = F.struct((flip * F.col("_sim_b")).alias("s"), F.col("id_b").alias("i"))
    dropped = (
        pairs.join(sim_a, "id_a").join(sim_b, "id_b")
        .select(
            F.when(key_a < key_b, F.col("id_b")).otherwise(F.col("id_a")).alias(id_col)
        )
        .distinct()
    )
    return (
        sims.join(dropped, id_col, "left_anti")
        .select(id_col, cluster_col, "centroid_sim")
    )
