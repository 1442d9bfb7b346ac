"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline; the LSH/IVF-blocked variant
is the 100 TB scale path (score only within candidate buckets).

Dot products run as JVM higher-order functions (``zip_with`` +
``aggregate``) — no Python crossing, whole-stage codegen applies. For very
wide vectors a Pandas-UDF/numpy batch kernel can be swapped in; at 64 dims
the built-in fold wins by avoiding Arrow transfer entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def _as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def _norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _not_self(q: DataFrame, c: DataFrame) -> Column:
    """Self-exclusion of a (``q.query_id``, ``c.neighbor_id``) pair,
    built at plan time from the two frames' schemas. When exactly one
    side is a string the pair compares as strings — long query ids
    probing a string-id corpus (couch ``_id``s) would otherwise ANSI-cast
    the doc ids to bigint and throw CAST_INVALID_INPUT. Otherwise the
    raw columns compare (numeric ids keep Spark's numeric promotion)."""
    qid, nid = F.col("query_id"), F.col("neighbor_id")
    if isinstance(q.schema["query_id"].dataType, StringType) != isinstance(
        c.schema["neighbor_id"].dataType, StringType
    ):
        qid, nid = qid.cast("string"), nid.cast("string")
    return qid != nid


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    Plan shape: broadcast(queries) × corpus → per-partition partial top-k
    via window over (query, sim). The corpus never shuffles for the join
    (queries are the small side, broadcast); the only exchange is the final
    per-query top-k, whose input is already cut to k rows per corpus
    partition by the rank filter under AQE.

    Returns (query_id, neighbor_id, rank) — ranks tie-break on rounded
    similarity then neighbor id, so results are deterministic across
    engines and float summation orders.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    sim = (
        F.broadcast(q)
        .join(c, _not_self(q, c))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4).alias(
                "cosine_r"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def hyperplane_lsh_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket code per vector (SimHash for
    embeddings): bit b = sign(v · h_b), where plane h_b's component j is a
    deterministic pseudo-random value derived from md5(b:j) — reproducible
    bit-for-bit in the SQL oracle (no RNG state). Cosine-similar vectors
    collide with probability 1 − θ/π per bit.

    Scale path: bucket code is computed row-local (no shuffle); the
    candidate join groups by an 8-bit code — 256 uniform buckets.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    dim = len(emb.select(vec_col).head()[0])
    # plane matrix precomputed driver-side (constants), broadcast in the
    # UDF closure; md5-derived so the SQL oracle reproduces it exactly
    planes = np.array(
        [
            [
                int(hashlib.md5(f"{b}:{j}".encode()).hexdigest()[:8], 16)
                / float(16**8)
                - 0.5
                for j in range(dim)
            ]
            for b in range(n_planes)
        ]
    )
    weights = np.ascontiguousarray(planes.T)  # (dim × n_planes)
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    def _code_fn(vecs):
        m = np.asarray([np.asarray(x, dtype=np.float64) for x in vecs])
        bits = (m @ weights) > 0  # (batch × n_planes)
        return pd.Series((bits @ powers).astype(np.int64))

    _code = F.pandas_udf(_code_fn, LongType())
    return emb.select(
        F.col(id_col),
        _code(F.col(vec_col).cast("array<double>")).alias("bucket"),
    )


def lsh_candidate_pairs(
    emb: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate pairs sharing an LSH bucket code (verify with exact
    cosine on the candidates — the LSH-bucketed ANN scale path)."""
    codes = hyperplane_lsh_buckets(emb, n_planes, id_col, vec_col)
    a, b = codes.alias("a"), codes.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.bucket").alias("bucket"),
        )
    )


def cosine_topk_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: score only inside the query's coarse
    block (here the pre-assigned ``label``; at scale, a trained quantizer's
    cell id). Same output shape as :func:`cosine_topk`; recall depends on
    the blocking quality. The join key gains the block column, so each
    corpus partition only meets its own block's queries."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.col(block_col).alias("qb"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col(block_col).alias("cb"),
    ).withColumn("cn", _norm(F.col("cv")))
    sim = (
        F.broadcast(q)
        .join(c, (F.col("qb") == F.col("cb")) & _not_self(q, c))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4).alias(
                "cosine_r"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def label_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label centroid of an embedding column, long format
    ``(label, dim, mean_v)`` — the class-prototype computation behind
    nearest-centroid classification and IVF coarse quantizer seeding.

    Plan shape at scale: ``posexplode`` fans each vector to (label, dim)
    rows, then one hash aggregation over (label, dim) keys — map-side
    partial averages make the shuffle carry ``labels × dims`` rows
    (thousands), not ``corpus × dims``. No collect, no UDF; reassemble to
    array form with ``collect_list`` over dim order only when a consumer
    needs it."""
    ex = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "v")
    )
    # `+ 0.0` collapses IEEE -0.0 (a mean of tiny negatives can round to
    # it) to +0.0 so downstream equality/hashing never sees two zeros
    return ex.groupBy(label_col, F.col("dim").cast("long").alias("dim")).agg(
        (F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0)).alias(
            "mean_v"
        )
    )


def hard_negatives(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most cosine-similar vectors with a DIFFERENT
    label — the near-misses a contrastive or reranker objective learns
    the most from (random negatives are trivially separable; hard ones
    define the decision boundary).

    Same plan as :func:`cosine_topk` — broadcast queries against the
    corpus — with the label-mismatch predicate INSIDE the join, so
    same-label pairs are dropped before the ranking window ever sees
    them. ``queries`` defaults to the corpus itself ("mine negatives
    for every vector"): that default is the SMALL-corpus brute-force
    mode and is NOT broadcast-hinted (shipping the whole corpus to
    every executor as a broadcast relation would OOM) — an O(N²)
    scored pass appropriate for eval-set-sized embedding tables. At
    corpus scale pass a bounded query batch, or block first (assign
    IVF cells and mine within cells, the semantic_dedup layout). Emits
    (query_id, neighbor_id, neighbor_label, cosine_r, rank)."""
    q_src = queries if queries is not None else emb
    q = q_src.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("q_label"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
    ).withColumn("cn", _norm(F.col("cv")))
    # broadcast only an EXPLICIT (small-by-contract) query set; the
    # all-vectors default must not ship the corpus as a broadcast side
    q_side = F.broadcast(q) if queries is not None else q
    sim = (
        q_side
        .join(
            c,
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("q_label") != F.col("neighbor_label")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                4,
            ).alias("cosine_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            "cosine_r",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the eval harness that turns "the IVF index is probably fine" into a
    per-query number (rank columns are ignored: recall is set overlap).
    Returns ``(query_id, n_hit, recall)`` for every query present in
    ``exact``, zero-filled for queries the approximate pass missed
    entirely.

    Plan shape: one left-semi join on (query, neighbor) — both sides are
    top-k results (queries × k rows, NOT corpus-sized), so this is
    result-set arithmetic regardless of corpus scale; the per-query
    aggregate shuffles at most queries × k rows. Recall values are exact
    small-integer ratios (n/k, rounded to 4) — engine-stable."""
    hits = approx.select(query_col, neighbor_col).join(
        exact.select(query_col, neighbor_col),
        on=[query_col, neighbor_col],
        how="left_semi",
    )
    per_q = hits.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    qset = exact.select(query_col).distinct()
    return qset.join(per_q, on=query_col, how="left").select(
        query_col,
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k)), 4
        ).alias("recall"),
    )
