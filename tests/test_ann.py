"""IVF ANN: recall vs brute force, cell-assignment sanity, index
maintenance."""

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.ann import assign_cells, ivf_topk, train_centroids
from couch_to_postgres_spark.extensions.similarity import cosine_topk
from couch_to_postgres_spark.session import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def centroids(emb):
    return train_centroids(emb, n_cells=8)


def test_centroid_shape(centroids, emb):
    dim = len(emb.head()["embedding"])
    assert len(centroids) == 8 and all(len(c) == dim for c in centroids)


def test_assign_cells_covers_corpus(emb, centroids):
    assigned = assign_cells(emb, centroids)
    assert assigned.count() == emb.count()  # nprobe=1 → one cell each
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells.issubset(set(range(8)))


def test_ivf_recall_vs_bruteforce(spark, emb, centroids):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, emb, k=5).collect()
    }
    # full probing (nprobe = n_cells) must reproduce brute force exactly
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(queries, emb, centroids, k=5, nprobe=8).collect()
    }
    assert full == exact
    # partial probing trades recall for work; random gaussian-ish data is
    # the worst case for IVF, so the bar is modest
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(queries, emb, centroids, k=5, nprobe=4).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall


def _frame(spark, vecs):
    return spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )


def test_train_centroids_same_seed_same_centroids(emb):
    assert train_centroids(emb, n_cells=8, seed=3) == train_centroids(
        emb, n_cells=8, seed=3
    )


def test_train_centroids_fewer_distinct_rows_than_cells(spark):
    """Like MLlib's KMeans: 5 rows holding 2 distinct vectors give 2
    centroids for k=4, never duplicates. Zero-norm rows have no cosine
    direction and are left out of the sample."""
    rows = [[1.0, 0.0]] * 3 + [[0.0, 2.0]] * 2 + [[0.0, 0.0]] * 4
    cents = train_centroids(_frame(spark, rows), n_cells=4)
    assert sorted(cents) == [[0.0, 2.0], [1.0, 0.0]]
    assert train_centroids(_frame(spark, [[0.0, 0.0]]), n_cells=4) == []


def test_train_centroids_sample_stays_within_budget(spark, monkeypatch):
    """A frame above the cap still trains, on a seeded sample whose
    rows × dim stay within the driver budget (and within max_sample),
    unless the per-cell floor asks for more rows."""
    import random

    from couch_to_postgres_spark.extensions import ann

    rnd = random.Random(9)
    df = _frame(spark, [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(500)])
    shapes = []
    fit = ann._kmeans
    monkeypatch.setattr(
        ann, "_kmeans", lambda x, k, seed: shapes.append(x.shape) or fit(x, k, seed)
    )
    monkeypatch.setattr(ann, "SAMPLE_DOUBLES", 16 * 100)
    assert len(ann.train_centroids(df, n_cells=2)) == 2
    assert len(ann.train_centroids(df, n_cells=2, max_sample=40)) == 2
    # 8 cells need 8 × ROWS_PER_CELL = 312 rows, more than 1,600 doubles
    assert len(ann.train_centroids(df, n_cells=8)) == 8
    assert shapes == [(100, 16), (40, 16), (312, 16)]


def test_train_centroids_ships_about_cap_rows(spark, monkeypatch):
    """Executors ship about ``cap`` rows, not ``cap`` per partition: 40
    partitions of 50 rows each, every one smaller than a 100-row cap,
    send the driver fewer than 2 × cap rows (all 2,000 would arrive if
    each partition sent its own top ``cap``)."""
    from couch_to_postgres_spark.extensions import ann

    df = spark.range(1, 2001, numPartitions=40).select(
        F.array(*[F.sin(F.col("id") * (j + 1)) for j in range(16)]).alias(
            "embedding"
        )
    )
    shipped, shapes = [], []
    frame_cls = type(df)
    collect = frame_cls.collect
    monkeypatch.setattr(
        frame_cls, "collect", lambda self: shipped.append(len(r := collect(self))) or r
    )
    fit = ann._kmeans
    monkeypatch.setattr(
        ann, "_kmeans", lambda x, k, seed: shapes.append(x.shape) or fit(x, k, seed)
    )
    monkeypatch.setattr(ann, "SAMPLE_DOUBLES", 16 * 100)
    assert len(ann.train_centroids(df, n_cells=2)) == 2
    assert shapes == [(100, 16)]
    assert 100 <= max(shipped) < 200, shipped


def test_lloyd_scores_in_blocks_within_budget(monkeypatch):
    """The nearest-centroid step never holds more than SAMPLE_DOUBLES
    distances at once, and blocking changes neither the assignment nor
    the fit."""
    import numpy as np

    from couch_to_postgres_spark.extensions import ann

    rng = np.random.default_rng(4)
    x = rng.normal(size=(300, 8))
    c = x[:12]
    brute = np.argmin(((x[:, None, :] - c[None, :, :]) ** 2).sum(-1), axis=1)
    whole = ann._kmeans(x, 12, seed=1)
    blocks = []
    argmax = np.argmax
    monkeypatch.setattr(ann, "SAMPLE_DOUBLES", 60)
    monkeypatch.setattr(
        np, "argmax", lambda a, axis=None: blocks.append(a.size) or argmax(a, axis=axis)
    )
    assert (ann._nearest(x, c) == brute).all()
    assert len(blocks) == 60 and max(blocks) <= 60
    monkeypatch.undo()
    monkeypatch.setattr(ann, "SAMPLE_DOUBLES", 60)
    assert np.allclose(ann._kmeans(x, 12, seed=1), whole)


@pytest.mark.parametrize("assigner", ["vectorized", "hof"])
def test_assigners_drop_zero_norm_vectors(spark, assigner):
    from couch_to_postgres_spark.extensions.ann import assign_cells_hof

    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    df = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, None), (4, [0.1, -0.9])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["vec_id"], r["cell"])
        for r in assign(df, [[1.0, 0.0], [0.0, -1.0]]).collect()
    }
    assert got == {(1, 0), (4, 1)}


def test_persisted_index_matches_inmemory_and_prunes(spark, emb, centroids, tmp_path):
    from couch_to_postgres_spark.extensions.ann import build_ivf_index, ivf_topk_indexed
    from couch_to_postgres_spark.plans.inspect import formatted_plan

    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, centroids=centroids)
    queries = emb.filter(F.col("vec_id") < 10)
    direct = sorted(
        map(tuple, ivf_topk(queries, emb, centroids, k=5, nprobe=3).collect())
    )
    indexed_df = ivf_topk_indexed(queries, spark, path, k=5, nprobe=3)
    assert sorted(map(tuple, indexed_df.collect())) == direct
    # the probed-cell filter must reach the scan as a PARTITION filter:
    # only the probed cells' directories are read, whatever the corpus size
    plan = formatted_plan(indexed_df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_quantize_reconstruction_error_bounded(spark, emb):
    """int8 quantization contract: reconstruction error per component is
    ≤ scale/2 (+float eps); qvec values fit int8; dequantize round-trips
    cosine within 2% on real vectors."""
    from couch_to_postgres_spark.extensions.ann import (
        dequantize,
        quantize_embeddings,
    )

    q = quantize_embeddings(emb)
    joined = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).join(q, "vec_id")
    # per-component |x - q*scale| <= scale/2 (+eps) and |q| <= 127
    bad = joined.select(
        F.exists(
            F.zip_with(
                "v",
                dequantize(F.col("qvec"), F.col("scale")),
                lambda x, d: F.abs(x - d) > F.col("scale") / 2 + F.lit(1e-9),
            ),
            lambda b: b,
        ).alias("err_over"),
        F.exists("qvec", lambda x: F.abs(x) > 127).alias("overflow"),
    )
    assert bad.filter(F.col("err_over") | F.col("overflow")).count() == 0
    # cosine(v, dequant(v)) ≈ 1 — the ANN-relevant property
    dq = dequantize(F.col("qvec"), F.col("scale"))
    dot = F.aggregate(
        F.zip_with("v", dq, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    n1 = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    n2 = F.sqrt(F.aggregate(dq, F.lit(0.0), lambda a, x: a + x * x))
    cos = joined.select((dot / (n1 * n2)).alias("c"))
    assert cos.filter(F.col("c") < 0.98).count() == 0


def test_ivf_incremental_append_and_stats(spark, emb, centroids, tmp_path):
    """Index maintenance: appended vectors are queryable with the same
    directory pruning, existing cell files are untouched (O(batch)), and
    the cells' row count reflects the growth."""
    import os

    from couch_to_postgres_spark.extensions.ann import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, centroids=centroids)

    def inventory():
        out = {}
        for root, _d, files in os.walk(os.path.join(path, "cells")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = inventory()
    n_before = spark.read.parquet(os.path.join(path, "cells")).count()

    # clones of an existing vector => land in its cell, become its NN
    src = emb.filter(F.col("vec_id") == 7)
    clones = src.select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding", "label"
    )
    assert append_to_ivf_index(spark, path, clones) == 1
    # O(batch): every pre-existing file bit-identical (append-only)
    after = inventory()
    assert all(after[p] == t for p, t in before.items())
    assert len(after) > len(before)
    assert spark.read.parquet(os.path.join(path, "cells")).count() == n_before + 1

    # the appended vector is found as the top neighbor of its source
    res = ivf_topk_indexed(src, spark, path, k=3, nprobe=2).collect()
    assert res and res[0]["neighbor_id"] == 500007 and res[0]["rank"] == 1


def test_ivf_tombstone_delete(spark, emb, centroids, tmp_path):
    """Delete lifecycle: tombstoned vectors vanish from search results
    immediately (O(batch) logical delete: no cell file is rewritten)."""
    import os

    from couch_to_postgres_spark.extensions.ann import (
        build_ivf_index,
        ivf_topk_indexed,
        remove_from_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, centroids=centroids)
    queries = emb.filter(F.col("vec_id") < 5)
    before = ivf_topk_indexed(queries, spark, path, k=3, nprobe=3).collect()
    victim = before[0]["neighbor_id"]

    def inventory():
        out = {}
        for root, _d, files in os.walk(os.path.join(path, "cells")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    pre = inventory()
    assert (
        remove_from_ivf_index(
            spark, path, spark.createDataFrame([(victim,)], "vec_id long")
        )
        == 1
    )
    after = ivf_topk_indexed(queries, spark, path, k=3, nprobe=3).collect()
    assert all(r["neighbor_id"] != victim for r in after)
    assert inventory() == pre
    assert spark.read.parquet(os.path.join(path, "tombstones")).count() == 1


def test_jl_projection_preserves_distances_on_average(spark, emb):
    # JL sign projection: expected squared pairwise distance is preserved;
    # with out_dim=16 the per-pair distortion concentrates, so the MEAN
    # ratio over many pairs must sit near 1 (the lemma's guarantee is on
    # expectation/concentration, not per-pair exactness)
    import math
    import random

    from couch_to_postgres_spark.extensions.ann import random_projection

    sub = emb.filter(F.col("vec_id") < 60)
    orig = {
        r["vec_id"]: r["v"]
        for r in sub.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).collect()
    }
    proj = {
        r["vec_id"]: r["proj"]
        for r in random_projection(sub, in_dim=64, out_dim=16).collect()
    }
    assert all(len(p) == 16 for p in proj.values())
    rng = random.Random(3)
    ids = sorted(orig)
    ratios = []
    for _ in range(120):
        a, b = rng.sample(ids, 2)
        d2o = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
        d2p = sum((x - y) ** 2 for x, y in zip(proj[a], proj[b]))
        if d2o > 0:
            ratios.append(d2p / d2o)
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.2, mean
    # determinism: same seed -> identical matrix, different seed -> different
    from couch_to_postgres_spark.extensions.ann import jl_projection_matrix

    assert jl_projection_matrix(8, 2, seed=7) == jl_projection_matrix(8, 2, seed=7)
    assert jl_projection_matrix(8, 2, seed=7) != jl_projection_matrix(8, 2, seed=8)


def test_assign_cells_hof_matches_vectorized(spark):
    # clear-margin synthetic: HOF (rounded, tie-broken) and numpy
    # assignments agree whenever the best/second margin exceeds rounding
    import math

    from couch_to_postgres_spark.extensions.ann import (
        assign_cells,
        assign_cells_hof,
    )

    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    rows = []
    for i in range(30):
        a = 0.3 + 0.02 * i
        rows.append((i, [math.cos(a), math.sin(a), 0.05 * (i % 3), 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for nprobe in (1, 2):
        got_h = {
            (r["vec_id"], r["cell"])
            for r in assign_cells_hof(df, cents, nprobe=nprobe).collect()
        }
        got_v = {
            (r["vec_id"], r["cell"])
            for r in assign_cells(df, cents, nprobe=nprobe).collect()
        }
        assert got_h == got_v

    # exact rounded tie resolves to the LOWER centroid index (the
    # cross-engine-deterministic rule the oracle relies on)
    tie = spark.createDataFrame(
        [(0, [1.0, 1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = assign_cells_hof(tie, cents, nprobe=1).collect()[0]
    assert got["cell"] == 0


def test_hard_negatives_excludes_same_label_and_ranks_by_cosine(spark):
    from couch_to_postgres_spark.extensions.similarity import hard_negatives

    # query q (label 0); same-label near-twin MUST be excluded; the
    # different-label vectors rank by cosine
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),        # query
        (1, [0.99, 0.1, 0.0, 0.0], 0),       # same label, most similar -> excluded
        (2, [0.9, 0.2, 0.0, 0.0], 1),        # hard negative (closest other-label)
        (3, [0.0, 1.0, 0.0, 0.0], 1),        # easy negative
        (4, [0.5, 0.5, 0.0, 0.0], 2),        # middling negative
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = [
        (r["neighbor_id"], r["rank"])
        for r in hard_negatives(
            emb, k=3, queries=emb.filter(F.col("vec_id") == 0)
        ).orderBy("rank").collect()
    ]
    assert [n for n, _ in out] == [2, 4, 3]  # by similarity, no same-label
    assert 1 not in {n for n, _ in out}


def test_topk_recall_overlap_arithmetic(spark):
    from couch_to_postgres_spark.extensions.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        "query_id long, neighbor_id long",
    )
    # q1: full overlap; q2: half; q3: absent from the approx result
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)],
        "query_id long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["n_hit"], r["recall"])
        for r in topk_recall(approx, exact, k=2).collect()
    }
    assert got == {1: (2, 1.0), 2: (1, 0.5), 3: (0, 0.0)}


def test_topk_recall_ivf_vs_exact_real_vectors(spark, emb):
    from couch_to_postgres_spark.extensions.ann import ivf_topk, train_centroids
    from couch_to_postgres_spark.extensions.similarity import (
        cosine_topk,
        topk_recall,
    )

    q = emb.filter(F.col("vec_id") < 8)
    cents = train_centroids(emb, n_cells=8)
    exact = cosine_topk(q, emb, k=5)
    approx = ivf_topk(q, emb, cents, k=5, nprobe=4)
    rec = topk_recall(approx, exact, k=5)
    rows = rec.collect()
    assert len(rows) == 8
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    # nprobe=4 of 8 trained cells must beat chance decisively
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.5, f"IVF recall collapsed: {mean}"
