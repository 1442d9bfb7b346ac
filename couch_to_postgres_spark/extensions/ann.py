"""IVF approximate nearest neighbor search — the 100 TB scale path for
embedding similarity.

Build: train coarse centroids on the driver — one bounded collect of a
seeded sample, then seeded k-means++ and Lloyd iterations in numpy
(:func:`train_centroids`) — assign every corpus vector to its nearest
centroid (one broadcast of the centroid matrix, numpy-vectorized per
Arrow batch), and store the corpus partitioned by ``cell``.

Search: for each query, score only the ``nprobe`` nearest cells'
vectors — the candidate join carries (query × probed-cell) pairs instead
of (query × corpus), cutting scored pairs by ~n_cells/nprobe while the
per-cell layout keeps scans partition-pruned.

A null or all-zero vector has no cosine direction: both assigners drop
it and the trainer never samples it.

Exact baseline for recall measurement: ``similarity.cosine_topk``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.similarity import _as_double, _norm

#: the trainer's driver budget, in doubles: 2**22 doubles is 32 MB. It
#: caps the sample (rows × dim) unless :data:`ROWS_PER_CELL` asks for
#: more, and every Lloyd temporary (rows × cells) whatever the sample
SAMPLE_DOUBLES = 1 << 22

#: the sample keeps at least this many rows per requested cell (up to
#: ``max_sample``), so high-dimensional vectors still train every cell:
#: FAISS warns below 39 training points per centroid
ROWS_PER_CELL = 39

#: Lloyd stopping rule: stop once no centroid moves farther than
#: ``_TOL`` (MLlib ``KMeans``' tolerance), or after ``_MAX_ITER`` steps.
#: MLlib caps at 10. On the sf0.1 embeddings this fit converges in 22-39
#: steps: capped at 10, its recall@10 at nprobe 1 and 2 falls below the
#: MLlib fit's; run to convergence, it rises above
_MAX_ITER = 50
_TOL = 1e-4


def nonzero_norm(vec: Column) -> Column:
    """True where cosine to ``vec`` is defined: a non-null vector with a
    nonzero norm. Null and all-zero vectors are false, never null."""
    return F.coalesce(_norm(_as_double(vec)) > 0, F.lit(False))


def quantize_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector scalar quantization of an embedding column:
    ``scale = max(|x|) / (2^(bits-1) - 1)``, ``q_i = round(x_i / scale)``.

    The memory lever for 100 TB embedding corpora: float32→int8 is a 4×
    cut in scan volume and broadcast size for every downstream ANN /
    dedup pass, at a reconstruction error bounded by ``scale/2`` per
    component (pinned by test). All JVM-side (``aggregate`` for the max,
    ``transform`` for the quantize — one pass, no shuffle, no Python).

    Emits ``(id, scale, qvec)``; reconstruct with ``x_i ≈ q_i * scale``.
    """
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = F.when(maxabs > 0, maxabs / F.lit(qmax)).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    return emb.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("qvec"),
    )


def dequantize(qvec, scale):
    """Inverse of :func:`quantize_embeddings`: ``q_i * scale`` as
    array<double> (column-level helper)."""
    return F.transform(qvec, lambda x: x.cast("double") * scale)


def jl_projection_matrix(
    in_dim: int, out_dim: int, seed: int = 7
) -> list[list[float]]:
    """Deterministic ±1 sign matrix for Johnson-Lindenstrauss random
    projection (Achlioptas-style sign projection): entry (j, i) is +1/-1
    by the parity of ``md5(seed:j:i)``. md5-derived so any engine (or an
    SQL oracle) reproduces the exact same matrix — no RNG state."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:2], 16) % 2
            == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    emb: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``out_dim`` deterministic ±1 sign directions, scaled
    by ``1/sqrt(out_dim)`` so expected pairwise distances are preserved.

    The cheap pre-pass before brute-force/LSH similarity at 100 TB: the
    projection matrix is a plan literal (broadcast with the task
    closure), the pass is pure map — no shuffle, no fit step, no model
    state to ship (unlike PCA, which needs a covariance/SVD job). Each
    component is a sequential JVM fold in double precision, matching the
    SQL-oracle evaluation order. Emits ``(id, proj array<double>)``."""
    r = jl_projection_matrix(in_dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    v = F.col(vec_col).cast("array<double>")
    comps = [
        (
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(x) for x in r[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale)
        ).alias(f"c{j}")
        for j in range(out_dim)
    ]
    return emb.select(F.col(id_col), *comps).select(
        id_col, F.array(*[F.col(f"c{j}") for j in range(out_dim)]).alias("proj")
    )


def train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_sample: int = 100_000,
) -> list[list[float]]:
    """k-means coarse quantizer, trained on the driver. Returns the
    centroid matrix (n_cells × dim — small, safe to broadcast); fewer
    rows when the sample holds fewer distinct vectors than ``n_cells``,
    as MLlib's ``KMeans`` returns, and ``[]`` when it holds none.

    Spark's share is one aggregate (the usable row count and the
    dimension) and one collect of at most ``cap = min(max_sample,
    max(SAMPLE_DOUBLES // dim, ROWS_PER_CELL * n_cells))`` rows — the
    whole frame when it fits, else a seeded uniform sample: the rows
    whose seeded random key falls under a threshold set from the count,
    so executors ship about ``cap`` rows whatever the corpus size and
    partitioning, and the driver keeps the ``cap`` smallest keys. A
    coarse quantizer needs the density shape, not every point, so a
    100 TB corpus never flows through iterative k-means. Null and
    zero-norm vectors are left out.

    The fit is seeded k-means++ initialisation and Lloyd iterations in
    numpy, on Euclidean distance with MLlib's tolerance (1e-4) and a
    50-step cap; each Lloyd step scores rows in blocks of at most
    ``SAMPLE_DOUBLES`` distances. The sample is sorted before the fit,
    so the same sampled rows and seed give the same centroids whatever
    order Spark returned them in."""
    sample = _sample_vectors(corpus, vec_col, seed, max_sample, n_cells)
    return _kmeans(sample, n_cells, seed)


def _sample_vectors(
    corpus: DataFrame, vec_col: str, seed: int, max_sample: int, k: int
) -> np.ndarray:
    """The bounded training sample as a (rows × dim) matrix in
    lexicographic row order; (0, 0) when no usable vector exists."""
    usable = corpus.select(_as_double(F.col(vec_col)).alias("v")).filter(
        nonzero_norm(F.col("v"))
    )
    n, dim = usable.agg(F.count(F.lit(1)), F.first(F.size("v"))).first()
    if n == 0:
        return np.empty((0, 0))
    cap = min(int(max_sample), max(SAMPLE_DOUBLES // dim, ROWS_PER_CELL * k))
    cap = max(1, cap)
    keyed = usable.select("v", F.rand(seed).alias("key"))
    rows = keyed.filter(F.col("key") < _keep_fraction(cap, n)).collect()
    rows = sorted(rows, key=lambda r: r["key"])[:cap]
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    return x[np.lexsort(x.T[::-1])]


def _keep_fraction(cap: int, n: int) -> float:
    """Bernoulli rate at which ``n`` rows yield at least ``cap`` with
    probability 1 - 1e-4 (Spark's ``takeSample`` bound for sampling
    without replacement); 1.0 keeps every row."""
    if n <= cap:
        return 1.0
    frac = cap / n
    gamma = -math.log(1e-4) / n
    return min(1.0, frac + gamma + math.sqrt(gamma * gamma + 2 * gamma * frac))


def _nearest(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid (Euclidean), scored in row
    blocks so no temporary exceeds ``SAMPLE_DOUBLES`` distances: the
    argmax of ``x·c - ‖c‖²/2`` is the argmin of ``‖x - c‖²``."""
    half = 0.5 * np.einsum("ij,ij->i", c, c)
    step = max(1, SAMPLE_DOUBLES // len(c))
    return np.concatenate(
        [
            np.argmax(x[i : i + step] @ c.T - half, axis=1)
            for i in range(0, len(x), step)
        ]
    )


def _kmeans(x: np.ndarray, k: int, seed: int) -> list[list[float]]:
    """Seeded k-means++ then Lloyd on the rows of ``x``. k-means++ stops
    early once every row coincides with a chosen centroid, so the
    result never holds duplicate centroids; a cell left empty by a
    Lloyd step keeps its centroid (MLlib's rule)."""
    if len(x) == 0:
        return []
    rng = np.random.default_rng(seed)
    picked = [int(rng.integers(len(x)))]
    # exact differences, not the GEMM identity: a row equal to a chosen
    # centroid must weigh exactly 0, or duplicates could be re-picked
    d2 = np.sum((x - x[picked[0]]) ** 2, axis=1)
    while len(picked) < k:
        total = d2.sum()
        if total <= 0:
            break
        picked.append(int(rng.choice(len(x), p=d2 / total)))
        d2 = np.minimum(d2, np.sum((x - x[picked[-1]]) ** 2, axis=1))
    c = x[picked]
    for _ in range(_MAX_ITER):
        near = _nearest(x, c)
        counts = np.bincount(near, minlength=len(c))
        sums = np.zeros_like(c)
        np.add.at(sums, near, x)
        new = np.where(
            counts[:, None] > 0, sums / np.maximum(counts, 1)[:, None], c
        )
        moved = np.max(np.sum((new - c) ** 2, axis=1))
        c = new
        if moved <= _TOL * _TOL:
            break
    return c.tolist()


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "cell",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector its ``nprobe`` nearest centroid ids (cosine).
    One row per (vector, probed cell); ``nprobe=1`` for corpus layout,
    >1 for query-side probing. Vectorized numpy per Arrow batch.
    ``extra_cols`` ride through the projection (e.g. the vector
    index's ``seq``) so callers never pay a rejoin for columns the
    assignment dropped. Null and zero-norm vectors get no cell."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)

    def _nearest_fn(vecs):
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ cnorm.T  # (batch × n_cells)
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.tolist() for row in top])

    _nearest = F.pandas_udf(_nearest_fn, ArrayType(IntegerType()))

    return corpus.filter(nonzero_norm(F.col(vec_col))).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col(vec_col),
        F.explode(_nearest(F.col(vec_col))).alias(out_col),
    )


def assign_cells_hof(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "cell",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`assign_cells` as pure JVM fold expressions — the
    oracle-replicable variant. Cosine to each centroid is a sequential
    ``zip_with``/``aggregate`` fold (same summation order as an external
    SQL engine's list_dot_product), rounded to 4 decimals BEFORE the
    argmax so near-ties resolve by the deterministic (cosine DESC,
    centroid index ASC) order on every engine instead of by sub-ulp
    summation noise. Same (id, vec, cell) output contract as
    :func:`assign_cells`; prefer that numpy version for production runs
    (one GEMM per Arrow batch), this one where cross-engine
    reproducibility is the requirement. Centroids enter the plan as
    literals — n_cells × dim expressions, fine for a coarse quantizer.
    Null and zero-norm vectors get no cell, as in :func:`assign_cells`."""
    from couch_to_postgres_spark.extensions.similarity import _dot

    v = _as_double(F.col(vec_col))
    vn = _norm(v)
    entries = []
    for i, cvec in enumerate(centroids):
        clit = F.array(*[F.lit(float(x)) for x in cvec])
        cn = math.sqrt(sum(float(x) * float(x) for x in cvec))
        # + 0.0 collapses IEEE -0.0 so the sort key is engine-stable
        cos_r = F.round(_dot(v, clit) / (vn * F.lit(cn)), 4) + F.lit(0.0)
        entries.append(
            F.struct((-cos_r).alias("neg"), F.lit(i).alias("cell"))
        )
    probes = F.slice(F.sort_array(F.array(*entries)), 1, nprobe)
    return corpus.filter(nonzero_norm(F.col(vec_col))).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col(vec_col),
        F.explode(F.transform(probes, lambda s: s["cell"])).alias(out_col),
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    seed: int = 42,
    assigner: str = "vectorized",
) -> list[list[float]]:
    """Build the IVF index ONCE and persist it: the centroid matrix as a
    tiny parquet, the corpus written ``partitionBy(cell)`` so query-time
    probing becomes static partition pruning — probed cells are the only
    directories read. Amortizes quantizer training and cell assignment
    across every future query batch (the 'index build' the reference's
    couch views amortize for aggregation, applied to ANN).

    ``assigner`` as in :func:`ivf_topk` — ``"hof"`` builds an index whose
    cell layout is bit-reproducible against an external SQL oracle; use
    the same assigner for every later append/query against this index."""
    import os

    from couch_to_postgres_spark.streaming.meta_io import write_meta_rows

    spark = corpus.sparkSession
    if centroids is None:
        centroids = train_centroids(corpus, n_cells, vec_col, seed)
    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    assigned = assign(corpus, centroids, id_col, vec_col, nprobe=1)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "cells")
    )
    write_meta_rows(
        spark,
        os.path.join(path, "centroids"),
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    return centroids


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner: str = "vectorized",
) -> int:
    """Incrementally add vectors to a persisted IVF index — O(batch), no
    rebuild, no existing cell file touched.

    Cells are assigned with the INDEX'S OWN centroids (the quantizer is
    part of the index contract; using fresh centroids would scatter old
    and new vectors across incompatible cell spaces), and the batch
    appends under the existing ``partitionBy(cell)`` layout, so queries
    see the new vectors on their next scan with the same directory
    pruning. This is the `foreachBatch` body for a streaming embeddings
    feed (``stream.writeStream.foreachBatch(lambda b, _:
    append_to_ivf_index(spark, path, b))``).

    Quantizer drift: appended vectors keep the original centroids, so
    cell balance degrades as the input distribution shifts — rebuild
    (:func:`build_ivf_index`) when max/mean cell size crosses ~2-4×, the
    standard IVF maintenance discipline. Returns the number of vectors
    appended."""
    import os

    from couch_to_postgres_spark.streaming.meta_io import read_meta_rows

    cents = {
        r["cell"]: list(r["centroid"])
        for r in read_meta_rows(spark, os.path.join(path, "centroids"))
    }
    centroids = [cents[i] for i in sorted(cents)]
    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    assigned = assign(new_vectors, centroids, id_col, vec_col, nprobe=1)
    n = assigned.count()
    if n:
        (
            assigned.repartition("cell")  # one file per touched cell
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(path, "cells"))
        )
    return n


def remove_from_ivf_index(
    spark, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Tombstone deletes — the CDC-delete side of index maintenance.

    O(batch): the id set appends under ``tombstones/``; no cell file is
    touched. Queries anti-join the tombstone set; a rebuild
    (:func:`build_ivf_index`) drops them physically. Returns ids written."""
    import os

    t = ids.select(F.col(id_col)).distinct()
    n = t.count()
    if n:
        t.coalesce(1).write.mode("append").parquet(
            os.path.join(path, "tombstones")
        )
    return n


def _read_tombstones(spark, path: str) -> DataFrame | None:
    """The tombstone log, or None when absent. Probes by ATTEMPTING the
    read (PATH_NOT_FOUND / empty-dir inference raise AnalysisException)
    rather than a driver-local ``os.path`` stat: the index may live on
    any Hadoop-supported filesystem (HDFS/S3), where a local stat is
    always false and deletes would be silently ignored — breaking the
    incremental-SemDeDup "a deleted doc must not block re-entry"
    contract (:func:`streaming.meta_io.try_open_parquet`)."""
    import os

    from couch_to_postgres_spark.streaming.meta_io import try_open_parquet

    return try_open_parquet(spark, os.path.join(path, "tombstones"))


def _live_cells(spark, path: str, cells: DataFrame) -> DataFrame:
    """Apply tombstones to a cell scan (anti-join; the tombstone set is
    compaction-bounded and AQE broadcasts it)."""
    t = _read_tombstones(spark, path)
    if t is not None:
        return cells.join(t, on=t.columns[0], how="left_anti")
    return cells


def ivf_topk_indexed(
    queries,
    spark,
    path: str,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner: str = "vectorized",
) -> DataFrame:
    """Query a persisted IVF index. The probed cell ids are collected from
    the (small) query side and applied as an ``isin`` filter, so the scan
    reads ONLY the probed cells' partition directories — O(nprobe/n_cells)
    of the index regardless of corpus size. ``assigner`` must match the
    one the index was built/appended with (see :func:`build_ivf_index`)."""
    import os

    from couch_to_postgres_spark.streaming.meta_io import read_meta_rows

    cents = {
        r["cell"]: list(r["centroid"])
        for r in read_meta_rows(spark, os.path.join(path, "centroids"))
    }
    centroids = [cents[i] for i in sorted(cents)]
    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    # persist: q_cells feeds BOTH the probed-cell collect and the scoring
    # join — without it the assignment pandas UDF evaluates twice. Query
    # side is small by contract (it broadcasts below), so the cache is
    # cheap and evicts with the session.
    q_cells = assign(queries, centroids, id_col, vec_col, nprobe=nprobe).persist()
    probed = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )
    corpus_cells = _live_cells(
        spark,
        path,
        spark.read.parquet(os.path.join(path, "cells")).filter(
            F.col("cell").isin(probed)
        ),
    )
    return _score_probed(q_cells, corpus_cells, k, id_col, vec_col)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner: str = "vectorized",
) -> DataFrame:
    """Approximate top-k: score queries only against vectors in their
    ``nprobe`` nearest cells. Same output shape as
    ``similarity.cosine_topk`` (query_id, neighbor_id, rank).

    ``assigner``: ``"vectorized"`` = numpy GEMM cell assignment
    (production); ``"hof"`` = JVM fold assignment with rounded-cosine
    tie-breaking (:func:`assign_cells_hof`) — bit-reproducible against
    an external SQL oracle, the parity-gate variant."""
    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    corpus_cells = assign(corpus, centroids, id_col, vec_col, nprobe=1)
    q_cells = assign(queries, centroids, id_col, vec_col, nprobe=nprobe)
    return _score_probed(q_cells, corpus_cells, k, id_col, vec_col)


def _score_probed(
    q_cells: DataFrame,
    corpus_cells: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared IVF scoring: broadcast the (small) probed query side into
    the cell-partitioned corpus, rank per query on rounded cosine."""
    from pyspark.sql import Window

    from couch_to_postgres_spark.extensions.similarity import _dot, _not_self

    c = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        "cell",
    ).withColumn("cn", _norm(F.col("cv")))
    q = q_cells.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        "cell",
    ).withColumn("qn", _norm(F.col("qv")))
    sim = (
        F.broadcast(q)
        .join(c, on=["cell"])
        .filter(_not_self(q, c))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cosine_r"),
        )
        # a (query, neighbor) pair can surface via several probed cells
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )
