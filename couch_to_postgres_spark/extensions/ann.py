"""IVF approximate nearest neighbor search — the 100 TB scale path for
embedding similarity.

Build: train coarse centroids with ``pyspark.ml`` KMeans (public Spark
MLlib) on a sample, assign every corpus vector to its nearest centroid
(one broadcast of the centroid matrix, numpy-vectorized per Arrow batch),
and store the corpus partitioned by ``cell``.

Search: for each query, score only the ``nprobe`` nearest cells'
vectors — the candidate join carries (query × probed-cell) pairs instead
of (query × corpus), cutting scored pairs by ~n_cells/nprobe while the
per-cell layout keeps scans partition-pruned.

Exact baseline for recall measurement: ``similarity.cosine_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    import math

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
    """KMeans coarse quantizer. Returns the centroid matrix (small —
    n_cells × dim — safe to broadcast).

    Trains on a SAMPLE when the corpus exceeds ``max_sample`` rows: a
    coarse quantizer needs the density shape, not every point, and a
    100 TB corpus must never flow through iterative KMeans — 100k
    uniformly-sampled vectors pin the centroids to well under the
    quantization error the nprobe search already absorbs. The count is
    one cheap metadata-ish pass vs ~10 full passes a full fit costs."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    sample = (
        corpus.sample(fraction=min(1.0, max_sample / n), seed=seed)
        if n > max_sample
        else corpus
    )
    ml_df = sample.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(ml_df)
    return [list(map(float, c)) for c in model.clusterCenters()]


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
    assignment dropped."""
    import numpy as np
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

    return corpus.select(
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
    literals — n_cells × dim expressions, fine for a coarse quantizer."""
    import math

    from couch_to_postgres_spark.extensions.similarity import (
        _as_double,
        _dot,
        _norm,
    )

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
    return corpus.select(
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

    spark = corpus.sparkSession
    if centroids is None:
        centroids = train_centroids(corpus, n_cells, vec_col, seed)
    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    assigned = assign(corpus, centroids, id_col, vec_col, nprobe=1)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "cells")
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
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
    cell balance degrades as the input distribution shifts — monitor with
    :func:`ivf_index_stats` and rebuild (:func:`build_ivf_index`) when
    max/mean cell size crosses ~2-4×, the standard IVF maintenance
    discipline. Returns the number of vectors appended."""
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
    touched. Queries anti-join the (bounded, see compact) tombstone set;
    :func:`compact_ivf_index` folds them physically. Returns ids written."""
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


def compact_ivf_index(spark, path: str) -> list[int]:
    """Physically drop tombstoned vectors: rewrite ONLY the cells that
    contain them (per-directory staged swap), then clear the tombstone
    log. Run off-peak when the tombstone set grows — it bounds both the
    read-side anti-join and deleted-data retention. Returns the rewritten
    cell ids.

    The tombstone PROBE is filesystem-agnostic (read-attempt, see
    ``_read_tombstones``); the rewritten cells and the tombstone retire
    go out in one ``streaming.commit.publish``. The READ paths
    (``_live_cells``, ``ivf_topk_indexed``) never depend on local-FS
    semantics."""
    import os

    from couch_to_postgres_spark.streaming.commit import (
        publish,
        staging,
        writing,
    )

    with writing(path):
        t = _read_tombstones(spark, path)
        if t is None:
            return []
        cells_dir = os.path.join(path, "cells")
        id_col = t.columns[0]
        all_cells = spark.read.parquet(cells_dir)
        affected = sorted(
            r["cell"]
            for r in all_cells.join(t, on=id_col, how="left_semi")
            .select("cell")
            .distinct()
            .collect()
        )
        stage = staging(path, "compacting-ivf")
        steps = []
        for c in affected:
            src = os.path.join(cells_dir, f"cell={c}")
            tmp = os.path.join(stage, f"cell={c}")
            (
                spark.read.parquet(src)
                .join(t, on=id_col, how="left_anti")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            steps.append((src, tmp))
        steps.append((os.path.join(path, "tombstones"), None))
        publish(path, steps, stage)
        return affected


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Index health monitor: per-cell vector count, file count, and the
    global balance ratio (max/mean cell size) as columns — the numbers
    that schedule compaction (files) and quantizer retrain (balance).
    One pass over the cell partition column + filenames (never the
    vector data); file counts via ``input_file_name()`` so the listing
    is filesystem-agnostic (HDFS/S3), not a driver-local ``os.listdir``."""
    import os

    from pyspark.sql import functions as F2

    cells_dir = os.path.join(path, "cells")
    t = _read_tombstones(spark, path)
    n_tomb = t.count() if t is not None else 0
    stats = (
        spark.read.parquet(cells_dir)
        # project the (nondeterministic) filename BEFORE aggregating —
        # Spark rejects input_file_name() inside aggregate arguments
        .select("cell", F2.input_file_name().alias("_file"))
        .groupBy("cell")
        .agg(
            F2.count(F2.lit(1)).alias("n_vecs"),
            F2.countDistinct("_file").cast("int").alias("n_files"),
        )
    )
    total = stats.agg(
        F2.max("n_vecs").alias("_mx"), F2.avg("n_vecs").alias("_avg")
    )
    return stats.crossJoin(F2.broadcast(total)).select(
        "cell",
        "n_vecs",
        "n_files",
        F2.round(F2.col("_mx") / F2.col("_avg"), 3).alias("balance_ratio"),
        F2.lit(n_tomb).alias("n_tombstones"),
    )


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

    from couch_to_postgres_spark.extensions.similarity import (
        _as_double,
        _dot,
        _norm,
        _not_self,
    )

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
