"""Extension-stratum tests: dedup (exact/minhash/simhash/embedding),
similarity search, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions import dedup as D
from couch_to_postgres_spark.extensions import similarity as S
from couch_to_postgres_spark.extensions import text as T
from couch_to_postgres_spark.extensions.multimodal import attach_binary


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def planted(spark, docs):
    """documents plus an exact dup of doc 0 and a near-dup (one word
    changed) with high ids."""
    base = docs.limit(0)
    d0 = docs.filter(F.col("doc_id") == 0).first()
    near = d0["text"].split(" ")
    near[len(near) // 2] = "XXREPLACEDXX"
    extra = spark.createDataFrame(
        [
            (100000, d0["text"], d0["lang"], d0["source"], d0["n_chars"]),
            (100001, " ".join(near), d0["lang"], d0["source"], d0["n_chars"]),
        ],
        schema=base.schema,
    )
    return docs.unionByName(extra)


def test_exact_dedup(spark, docs):
    aug = planted(spark, docs)
    deduped = D.exact_dedup(aug)
    assert deduped.count() == aug.count() - 1  # one exact dup removed
    assert deduped.filter(F.col("doc_id") == 100000).count() == 0  # min id kept


def test_minhash_finds_planted_neardup(spark, docs):
    aug = planted(spark, docs)
    pairs = D.minhash_candidate_pairs(aug, num_bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100000) in got  # exact dup always collides
    assert (0, 100001) in got  # near dup shares most shingles


def test_jaccard_scores(spark, docs):
    aug = planted(spark, docs)
    pairs = D.minhash_candidate_pairs(aug, num_bands=4)
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard(aug, pairs).collect()
    }
    assert j[(0, 100000)] == 1.0
    assert 0.5 < j[(0, 100001)] < 1.0


def test_edit_distance_verify(spark, docs):
    aug = planted(spark, docs)
    pairs = D.minhash_candidate_pairs(aug, num_bands=4)
    got = {
        (r["id_a"], r["id_b"]): (r["edit_dist"], r["edit_sim"])
        for r in D.edit_distance_verify(aug, pairs).collect()
    }
    # exact dup: zero distance, similarity exactly 1
    assert got[(0, 100000)] == (0, 1.0)
    # near dup: small distance, high similarity
    dist, sim = got[(0, 100001)]
    assert dist > 0 and 0.5 < sim < 1.0
    # lower bound: dist >= |len_a - len_b| for every verified pair
    rows = D.edit_distance_verify(aug, pairs).join(
        aug.select(F.col("doc_id").alias("id_a"), F.length("text").alias("la")),
        "id_a",
    ).join(
        aug.select(F.col("doc_id").alias("id_b"), F.length("text").alias("lb")),
        "id_b",
    )
    bad = rows.filter(
        F.col("edit_dist") < F.abs(F.col("la") - F.col("lb"))
    ).count()
    assert bad == 0


def test_dedup_clusters_label_propagation(spark):
    # components: {1,2,3,4} (chain), {10,11}, singleton pairs absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster"] for r in D.dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_matches_union_find(spark):
    # seeded random graph vs a driver-side union-find oracle: the
    # distributed min-label propagation must produce exactly the
    # (node -> component-min) map for arbitrary topologies, not just
    # the shallow chains dup clusters usually form
    import random

    rng = random.Random(7)
    edge_list = list(
        {
            (a, b)
            for a, b in (
                sorted((rng.randrange(200), rng.randrange(200)))
                for _ in range(140)
            )
            if a != b
        }
    )
    pairs = spark.createDataFrame(edge_list, "id_a long, id_b long")
    # driver_threshold=0 forces the distributed min-label loop — the
    # union-find below is exactly what the small path runs, so leaving
    # the default would compare union-find to itself
    got = {
        r["doc_id"]: r["cluster"]
        for r in D.dedup_clusters(
            pairs, max_iterations=40, driver_threshold=0
        ).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # attaching the larger root under the smaller keeps each tree's root
    # at the component minimum — the same representative the Spark side picks
    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for e in edge_list for n in e}
    assert got == want


def test_dedup_clusters_small_path_equals_distributed(spark):
    # the scale-adaptive driver-side path (pair set under the threshold)
    # must be plan-invisible: same (node -> cluster) map and schema as
    # the distributed propagation, including string ids
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("x9", "x7"), ("a0", "d3")],
        "id_a string, id_b string",
    )
    small = D.dedup_clusters(pairs)  # default threshold: driver path
    dist = D.dedup_clusters(pairs, driver_threshold=0)
    names_types = lambda df: [(f.name, f.dataType) for f in df.schema.fields]
    assert names_types(small) == names_types(dist)
    as_map = lambda df: {r["doc_id"]: r["cluster"] for r in df.collect()}
    assert as_map(small) == as_map(dist)
    assert as_map(small) == {
        "d1": "a0",
        "d2": "a0",
        "d3": "a0",
        "a0": "a0",
        "x9": "x7",
        "x7": "x7",
    }


def test_dedup_clusters_deep_chain_converges_logarithmically(spark):
    # adversarial diameter: a 60-hop chain of near-dups through the
    # DISTRIBUTED path must converge within the DEFAULT iteration budget
    # — pointer-jumping makes rounds O(log diameter); plain min-label
    # propagation would need 60 rounds and (before the convergence
    # guard) silently returned wrong clusters after 10
    n = 61
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in D.dedup_clusters(pairs, driver_threshold=0).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_nonconvergence_raises(spark):
    # exhausting max_iterations must RAISE, never return unconverged
    # (wrong) cluster labels — downstream dedup would under-delete
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.dedup_clusters(pairs, max_iterations=1, driver_threshold=0)


def test_near_dedup_end_to_end(spark, docs):
    aug = planted(spark, docs)
    # one changed word in a ~25-word doc breaks 3 shingles → jaccard ≈0.7
    deduped = D.near_dedup(aug, jaccard_threshold=0.6, num_bands=4)
    ids = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    assert 0 in ids  # representative (min id of its cluster) kept
    assert 100000 not in ids  # exact dup dropped
    assert 100001 not in ids  # near dup (1 word changed) dropped
    # the synthetic corpus contains NATURAL near-dups too (e.g. docs 50,
    # 82 at jaccard ≈0.95 with doc 0), so ≥2 rows drop but possibly more
    assert len(ids) <= aug.count() - 2
    # idempotent: re-running on the deduped corpus removes nothing
    again = D.near_dedup(deduped, jaccard_threshold=0.6, num_bands=4)
    assert again.count() == len(ids)


def test_simhash_properties(spark, docs):
    aug = planted(spark, docs)
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash16(aug).collect()}
    assert fp[0] == fp[100000]  # identical text → identical fingerprint
    ham = bin(fp[0] ^ fp[100001]).count("1")
    assert ham <= 6  # near-identical text → hamming-close
    assert 0 <= min(fp.values()) and max(fp.values()) < (1 << 16)


def test_embedding_neardup_self(spark, emb):
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    pairs = D.embedding_neardup_pairs(emb.unionByName(dup), threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100000) in got


def test_topk_planted_duplicate_is_rank1(spark, emb):
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    top = S.cosine_topk(corpus.filter(F.col("vec_id") == 0), corpus, k=3)
    first = top.filter(F.col("rank") == 1).head()
    assert first["neighbor_id"] == 100000  # the exact copy is nearest


def test_topk_shapes(spark, emb):
    out = S.cosine_topk(emb.filter(F.col("vec_id") < 3), emb, k=5)
    rows = out.collect()
    assert len(rows) == 15
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    per_q = {q: sorted(r["rank"] for r in rows if r["query_id"] == q) for q in (0, 1, 2)}
    assert all(v == [1, 2, 3, 4, 5] for v in per_q.values())


def test_blocked_topk_stays_in_block(spark, emb):
    out = S.cosine_topk_blocked(emb.filter(F.col("vec_id") < 10), emb, k=3)
    joined = (
        out.join(emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql")), "query_id")
        .join(emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")), "neighbor_id")
    )
    assert joined.filter(F.col("ql") != F.col("nl")).count() == 0


def test_text_features_sane(spark, docs):
    feats = T.text_features(docs).head()
    assert feats["n_words"] > 0
    assert feats["n_tokens"] >= feats["n_words"] - 1
    assert 0.0 <= feats["punct_ratio"] <= 1.0


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World", "en", "s", 11), (2, "hello world", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fps = {r["doc_id"]: r["fp_md5"] for r in T.fingerprint(df).collect()}
    assert fps[1] == fps[2]


def test_multimodal_plumbing(spark, docs):
    import hashlib

    assets = attach_binary(docs.limit(100))
    assert [f.name for f in assets.schema.fields] == [
        "asset_id", "media_type", "payload", "n_bytes", "content_md5",
    ]
    rows = assets.collect()
    assert len(rows) == 100
    for r in rows:
        payload = bytes(r["payload"])
        assert r["n_bytes"] == len(payload)
        assert r["content_md5"] == hashlib.md5(payload).hexdigest()


def test_frame_sampling(spark, docs):
    from couch_to_postgres_spark.extensions.multimodal import frame_sample

    assets = attach_binary(docs.limit(10))
    frames = frame_sample(assets, every_n_bytes=64, frame_bytes=16)
    rows = frames.collect()
    n = {r["asset_id"] for r in rows}
    assert len(n) == 10
    # frame counts proportional to payload size; offsets stride correctly
    one = sorted(
        (r for r in rows if r["asset_id"] == rows[0]["asset_id"]),
        key=lambda r: r["frame_no"],
    )
    assert [r["offset"] for r in one] == [i * 64 for i in range(len(one))]
    assert all(1 <= r["frame_bytes"] <= 16 for r in one)


def test_hash_split_deterministic_and_proportional(spark, docs):
    a = {r["doc_id"]: r["split"] for r in T.hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in T.hash_split(docs).collect()}
    assert a == b  # stable across runs (unlike randomSplit)
    frac = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.7 < frac < 0.9  # 500 docs at 0.8 target
    # different salt re-rolls membership but keeps the proportion
    c = {r["doc_id"]: r["split"] for r in T.hash_split(docs, salt="v2").collect()}
    assert c != a
    frac2 = sum(1 for s in c.values() if s == "train") / len(c)
    assert 0.7 < frac2 < 0.9


def test_top_tokens_order_and_k(spark, docs):
    rows = T.top_tokens(docs, k=10).collect()
    assert len(rows) == 10
    counts = [r["cnt"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    # ties broken by token ascending
    for x, y in zip(rows, rows[1:]):
        if x["cnt"] == y["cnt"]:
            assert x["token"] < y["token"]


def test_compression_ratio_orders_text_classes(spark):
    import random

    random.seed(7)
    noise = " ".join(
        "".join(random.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        for _ in range(200)
    )
    natural = (
        "the quick brown fox jumps over the lazy dog and runs far away " * 20
    )
    degenerate = "spam " * 240
    df = spark.createDataFrame(
        [(1, degenerate), (2, natural), (3, noise), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["compression_ratio"] for r in T.compression_ratio(df).collect()}
    # repetition compresses hardest, noise barely at all; nulls pass through
    assert out[1] < out[2] < out[3]
    assert out[1] < 0.05 and out[3] > 0.5
    assert out[4] is None


def test_export_shards_json_format(spark, docs, tmp_path):
    from couch_to_postgres_spark.extensions.corpus import export_shards

    out = str(tmp_path / "jshards")
    manifest = export_shards(docs, out, num_shards=4, fmt="json")
    assert sum(r["n_docs"] for r in manifest.collect()) == docs.count()
    back = spark.read.json(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    with pytest.raises(ValueError):
        export_shards(docs, out, fmt="csvx")


def test_bigram_score_separates_shuffled_text(spark):
    fluent = "the cat sat on the mat"
    rows = [(i, fluent) for i in range(10)] + [(99, "mat the on sat cat the")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.bigram_logprob_score(df).collect()}
    # every fluent doc shares the same score; the shuffled doc's bigrams
    # are corpus-rare so its mean logprob is strictly lower
    fluent_scores = {out[i]["mean_bigram_logprob"] for i in range(10)}
    assert len(fluent_scores) == 1
    assert out[99]["mean_bigram_logprob"] < min(fluent_scores)
    assert out[99]["n_bigrams"] == 5
    # a doc with fewer than 2 tokens is omitted entirely
    single = spark.createDataFrame([(1, "word")], "doc_id long, text string")
    assert T.bigram_logprob_score(single).count() == 0


def test_repetition_signals_flag_degenerate_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),       # fully degenerate
            (2, "the quick brown fox jumps high today"),  # all unique
            (3, "ab cd"),                                # too short to shingle
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_signals(df).collect()}
    assert out[1]["dup_word_frac"] == pytest.approx(1 - 1 / 6, abs=1e-4)
    assert out[1]["top_token_share"] == 1.0
    assert out[1]["dup_shingle_frac"] == pytest.approx(1 - 1 / 4, abs=1e-4)
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top_token_share"] == pytest.approx(1 / 7, abs=1e-4)
    assert out[2]["dup_shingle_frac"] == 0.0
    assert out[3]["dup_shingle_frac"] is None  # no shingles → undefined


def test_build_vocab_rank_share_and_pruning(spark, docs):
    rows = T.build_vocab(docs, min_count=3).orderBy("rank").collect()
    assert rows, "corpus should yield a non-empty vocab at min_count=3"
    assert all(r["cnt"] >= 3 for r in rows)
    # ranks are 1..n dense, ordered by (cnt desc, token asc)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for x, y in zip(rows, rows[1:]):
        assert x["cnt"] > y["cnt"] or (
            x["cnt"] == y["cnt"] and x["token"] < y["token"]
        )
    # cumulative share is monotone and bounded by 1; the denominator
    # includes the pruned tail so the kept vocab never reaches 1.0 exactly
    # unless nothing was pruned
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)
    assert shares[-1] <= 1.0
    # max_size truncates by rank
    assert T.build_vocab(docs, min_count=3, max_size=5).count() == min(5, len(rows))


def test_build_vocab_denominator_counts_pruned_tokens(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a c")], "doc_id long, text string"
    )
    rows = {r["token"]: r for r in T.build_vocab(df, min_count=2).collect()}
    # only 'a' survives (4 of 6 total tokens); b and c are pruned but
    # still count toward the denominator
    assert set(rows) == {"a"}
    assert rows["a"]["cum_share"] == pytest.approx(4 / 6, abs=1e-4)


def test_pack_documents_prefix_sum_and_bucket_independence(spark, docs):
    got = {
        r["doc_id"]: r
        for r in T.pack_documents(docs, budget=100, num_buckets=7).collect()
    }
    # ground truth: exclusive running sum in doc_id order
    run = 0
    for doc_id in sorted(got):
        r = got[doc_id]
        assert r["tok_start"] == run
        assert r["pack_id"] == run // 100
        assert r["pack_offset"] == run % 100
        last = run + max(r["n_tokens"], 1) - 1
        assert r["n_packs"] == last // 100 - run // 100 + 1
        run += r["n_tokens"]
    # bucket count is a parallelism knob, never a semantics knob
    alt = {
        r["doc_id"]: (r["tok_start"], r["pack_id"], r["pack_offset"])
        for r in T.pack_documents(docs, budget=100, num_buckets=50).collect()
    }
    assert alt == {
        k: (v["tok_start"], v["pack_id"], v["pack_offset"]) for k, v in got.items()
    }


def test_pack_documents_empty(spark, docs):
    out = T.pack_documents(docs.limit(0), budget=64)
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "n_tokens", "tok_start", "pack_id", "pack_offset", "n_packs",
    ]


def test_contamination_known_overlap(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [
            (10, "a b c x y"),   # shares shingle "a b c" -> 1/3
            (11, "p q r s t"),   # disjoint vocab -> 0/3
            (12, "hi"),          # too short for any shingle -> 0 of 0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in T.contamination(train, ev).collect()}
    assert (got[10]["n_shingles"], got[10]["n_overlap"]) == (3, 1)
    assert abs(got[10]["overlap_frac"] - 0.3333) < 1e-9
    assert (got[11]["n_shingles"], got[11]["n_overlap"]) == (3, 0)
    assert (got[12]["n_shingles"], got[12]["n_overlap"]) == (0, 0)
    assert got[12]["overlap_frac"] == 0.0


def test_tfidf_hand_computed(spark):
    import math

    corpus = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian durian durian")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["token"]): r
        for r in T.tfidf_top_terms(corpus, k=5).collect()
    }
    ln3, ln15 = math.log(3.0), math.log(1.5)
    assert abs(got[(1, "apple")]["tfidf"] - round(2 * ln3, 4)) < 1e-9
    assert abs(got[(1, "banana")]["tfidf"] - round(ln15, 4)) < 1e-9
    assert abs(got[(3, "durian")]["tfidf"] - round(3 * ln3, 4)) < 1e-9
    # rarer term outranks the shared one within a doc
    assert got[(2, "cherry")]["rank"] == 1
    assert got[(2, "banana")]["rank"] == 2
    assert got[(1, "apple")]["rank"] == 1


def test_stratified_sample_rates_and_determinism(spark, docs):
    from couch_to_postgres_spark.extensions.sampling import stratified_sample

    rates = {"src0": 1.0, "src1": 0.5, "src3": 0.0}
    a = stratified_sample(docs, rates).select("doc_id", "source").collect()
    b = stratified_sample(docs, rates).select("doc_id", "source").collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    by_src = {}
    for r in a:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    n0 = docs.filter(F.col("source") == "src0").count()
    assert len(by_src.get("src0", set())) == n0  # rate 1.0 keeps ALL rows
    assert "src3" not in by_src  # rate 0
    assert "src5" not in by_src  # unlisted -> dropped
    kept1 = len(by_src.get("src1", set()))
    n1 = docs.filter(F.col("source") == "src1").count()
    assert 0 < kept1 < n1  # ~half, strictly between
    # sampled set is a SUBSET decision per row, so a different salt re-rolls
    c = stratified_sample(docs, rates, salt="v2").select("doc_id").collect()
    assert {r["doc_id"] for r in c} != {r["doc_id"] for r in a}


def test_upsample_epochs(spark, docs):
    from couch_to_postgres_spark.extensions.sampling import upsample

    out = upsample(docs, {"src0": 3, "src1": 2}).groupBy("source").count().collect()
    cnt = {r["source"]: r["count"] for r in out}
    base = {
        r["source"]: r["count"]
        for r in docs.groupBy("source").count().collect()
    }
    assert cnt["src0"] == 3 * base["src0"]
    assert cnt["src1"] == 2 * base["src1"]
    assert cnt["src2"] == base["src2"]  # default factor 1
    epochs = (
        upsample(docs, {"src0": 3})
        .filter(F.col("source") == "src0")
        .groupBy("epoch")
        .count()
        .collect()
    )
    assert {r["epoch"] for r in epochs} == {1, 2, 3}


def test_prepare_training_corpus_composition(spark, docs):
    from couch_to_postgres_spark.extensions.corpus import prepare_training_corpus

    out = {r["doc_id"]: r for r in prepare_training_corpus(docs, budget=100).collect()}
    # membership == composing the stages independently
    dd = D.exact_dedup(docs)
    kept = dd.join(
        T.quality_filter(dd).select("doc_id"), "doc_id", "left_semi"
    )
    expect = {
        r["doc_id"]
        for r in T.hash_split(kept).filter(F.col("split") == "train").collect()
    }
    assert set(out) == expect and len(out) > 0
    # pack layout is a valid exclusive prefix sum over the kept train docs
    run = 0
    for doc_id in sorted(out):
        assert out[doc_id]["tok_start"] == run
        run += out[doc_id]["n_tokens"]


def test_export_shards_roundtrip_and_file_bounds(spark, docs, tmp_path):
    from couch_to_postgres_spark.extensions.corpus import (
        export_shards,
        shard_manifest,
    )

    out = str(tmp_path / "shards")
    written = export_shards(
        docs, out, num_shards=4, max_rows_per_file=40
    )
    planned = shard_manifest(docs, num_shards=4)
    key = lambda r: r["shard"]
    assert sorted(
        [tuple(r) for r in written.collect()], key=lambda t: t[0]
    ) == sorted([tuple(r) for r in planned.collect()], key=lambda t: t[0])
    back = spark.read.parquet(out)
    # every document lands exactly once, in its assigned shard dir
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    assert back.select("shard").distinct().count() == 4
    # maxRecordsPerFile honored
    import glob
    import pyarrow.parquet as pq

    for f in glob.glob(f"{out}/shard=*/*.parquet"):
        assert pq.ParquetFile(f).metadata.num_rows <= 40
    # in-shard order is the shard_key training order: each file is
    # internally sorted, and name-ordered files within a shard hold
    # non-overlapping ascending key ranges (one sorted task per shard cuts
    # files sequentially) — so a loader reading files in name order
    # replays the exact order. (Spark's own scan orders splits by SIZE,
    # so we assert on the files, not on a re-read collect().)
    for shard in range(4):
        prev_max = ""
        for f in sorted(glob.glob(f"{out}/shard={shard}/*.parquet")):
            keys = pq.read_table(f, columns=["shard_key"])["shard_key"].to_pylist()
            assert keys == sorted(keys)
            if keys:
                assert keys[0] >= prev_max
                prev_max = keys[-1]


def test_leakage_safe_split_moves_clusters_whole(spark, docs):
    from couch_to_postgres_spark.extensions.corpus import leakage_safe_split

    aug = planted(spark, docs)  # exact + near dup of doc 0 at high ids
    out = {
        r["doc_id"]: r
        for r in leakage_safe_split(
            aug, jaccard_threshold=0.6, num_bands=4
        ).collect()
    }
    assert len(out) == aug.count()
    # the planted dups share doc 0's cluster AND its split assignment
    assert out[100000]["cluster_id"] == 0
    assert out[100001]["cluster_id"] == 0
    assert out[100000]["split"] == out[0]["split"]
    assert out[100001]["split"] == out[0]["split"]
    # a split keyed on the raw ids would have separated them
    from couch_to_postgres_spark.extensions.text import hash_split

    naive = {
        r["doc_id"]: r["split"] for r in hash_split(aug).collect()
    }
    assert len({naive[0], naive[100000], naive[100001]}) > 1


def test_deterministic_shuffle_is_a_stable_permutation(spark, docs):
    from couch_to_postgres_spark.extensions.sampling import deterministic_shuffle

    a = [
        r["doc_id"]
        for r in deterministic_shuffle(docs).orderBy("shuffle_key").collect()
    ]
    b = [
        r["doc_id"]
        for r in deterministic_shuffle(docs).orderBy("shuffle_key").collect()
    ]
    ordered = sorted(a)
    assert a == b                      # same permutation every run
    assert sorted(a) == ordered and a != ordered  # a real permutation
    c = [
        r["doc_id"]
        for r in deterministic_shuffle(docs, salt="epoch2")
        .orderBy("shuffle_key")
        .collect()
    ]
    assert c != a                      # new salt re-deals the order


def test_resample_to_mix_quotas_and_determinism(spark, docs):
    """Largest feasible epoch at the target mix: binding group fixes T,
    per-group counts hit floor(w*T); unlisted groups drop; the pick is
    salt-stable; 'total' caps the epoch; a mix demanding an absent
    group raises."""
    import pytest as _pytest

    from couch_to_postgres_spark.extensions.sampling import resample_to_mix

    w = {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125}
    out = resample_to_mix(docs, w)
    comp = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n0 = docs.filter(F.col("source") == "src0").count()
    t = int(n0 / 0.5)  # src0 is binding: equal-sized sources, max weight
    assert comp == {
        "src0": int(0.5 * t),
        "src1": int(0.25 * t),
        "src2": int(0.125 * t),
        "src3": int(0.125 * t),
    }
    # deterministic: same call returns the same id set
    ids1 = {r["doc_id"] for r in out.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in resample_to_mix(docs, w).select("doc_id").collect()
    }
    assert ids1 == ids2
    # a capped epoch keeps proportions at the smaller T
    capped = resample_to_mix(docs, w, total=16)
    by = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by == {"src0": 8, "src1": 4, "src2": 2, "src3": 2}
    with _pytest.raises(ValueError, match="absent"):
        resample_to_mix(docs, {"src0": 0.5, "no_such_source": 0.5})


def test_mix_report_agrees_with_resampler(spark, docs):
    """The report's quotas are exactly what resample_to_mix takes, its
    binding flag marks the epoch-capping group, and surplus accounts for
    every unused row; an absent mix group collapses the epoch to 0."""
    from couch_to_postgres_spark.extensions.sampling import (
        mix_report,
        resample_to_mix,
    )

    w = {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125}
    rep = {r["source"]: r for r in mix_report(docs, w).collect()}
    taken = {
        r["source"]: r["n"]
        for r in resample_to_mix(docs, w)
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert {g: r["quota"] for g, r in rep.items()} == taken
    assert [g for g, r in rep.items() if r["binding"]] == ["src0"]
    assert all(
        r["surplus"] == r["n_rows"] - r["quota"] for r in rep.values()
    )
    # absent group: the report shows the collapse instead of raising
    rep2 = {
        r["source"]: r
        for r in mix_report(docs, {"src0": 0.5, "nope": 0.5}).collect()
    }
    assert rep2["nope"]["n_rows"] == 0
    assert all(r["quota"] == 0 for r in rep2.values())


def test_upsample_factor_zero_drops_group(spark, docs):
    from couch_to_postgres_spark.extensions.sampling import upsample

    out = upsample(docs, {"src0": 0, "src1": 2})
    assert out.filter(F.col("source") == "src0").count() == 0  # not 2x!
    assert (
        out.filter(F.col("source") == "src1").count()
        == 2 * docs.filter(F.col("source") == "src1").count()
    )


def test_corpus_stats_counts_planted_dup(spark, docs):
    aug = planted(spark, docs)  # adds one exact dup of doc 0
    src0 = docs.filter(F.col("doc_id") == 0).first()["source"]
    stats = {r["source"]: r for r in T.corpus_stats(aug).collect()}
    assert stats[src0]["n_exact_dups"] >= 1
    base = {r["source"]: r for r in T.corpus_stats(docs).collect()}
    assert base[src0]["n_exact_dups"] == stats[src0]["n_exact_dups"] - 1
    # token accounting is self-consistent
    for s, r in base.items():
        assert abs(r["mean_tokens"] - round(r["total_tokens"] / r["n_docs"], 4)) < 0.001


def test_pack_documents_property_random_corpora(spark):
    """Random sparse ids and texts: the layout is always the exclusive
    prefix sum in id order, at any bucket count."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=-1000, max_value=10_000_000),
                st.text(alphabet="ab c1.", max_size=12),
            ),
            min_size=1,
            max_size=10,
            unique_by=lambda r: r[0],
        ),
        buckets=st.sampled_from([1, 3, 32]),
    )
    def run(rows, buckets):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r
            for r in T.pack_documents(df, budget=7, num_buckets=buckets).collect()
        }
        assert set(got) == {i for i, _ in rows}
        run_sum = 0
        for doc_id in sorted(got):
            assert got[doc_id]["tok_start"] == run_sum, (doc_id, buckets)
            run_sum += got[doc_id]["n_tokens"]

    run()


def test_chunk_documents_overlap_and_clamping(spark):
    import hashlib

    toks = [f"t{i}" for i in range(40)]
    df = spark.createDataFrame([(7, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        T.chunk_documents(df, window=32, stride=16).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_id"] for r in rows] == [0, 1, 2]
    assert [r["n_chunk_tokens"] for r in rows] == [32, 24, 8]  # tail clamps
    expect0 = hashlib.md5(" ".join(toks[0:32]).encode()).hexdigest()
    expect1 = hashlib.md5(" ".join(toks[16:40]).encode()).hexdigest()
    assert rows[0]["chunk_md5"] == expect0
    assert rows[1]["chunk_md5"] == expect1
    # zero-token doc emits nothing
    empty = spark.createDataFrame([(8, "   ")], "doc_id long, text string")
    assert T.chunk_documents(empty).count() == 0


def test_encode_documents_roundtrip_properties(spark, docs):
    """Token ids follow vocab ranks; sequence length equals token count;
    OOV count consistent; order preserved (decode-by-vocab round-trips
    in-vocab tokens)."""
    vocab = T.build_vocab(docs, min_count=3, max_size=50).cache()
    enc = T.encode_documents(docs, vocab).cache()
    # length: |token_ids| == token count of the doc
    words = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != F.lit(""))).alias(
            "n"
        ),
    )
    joined = enc.join(words, "doc_id")
    assert joined.filter(F.size("token_ids") != F.col("n")).count() == 0
    # ids in [0, max rank]; n_unk == count of zeros
    max_rank = vocab.agg(F.max("rank")).first()[0]
    bad = enc.filter(
        F.exists(
            "token_ids", lambda t: (t < 0) | (t > F.lit(int(max_rank)))
        )
    ).count()
    assert bad == 0
    zeros = enc.select(
        "doc_id",
        F.size(F.filter("token_ids", lambda t: t == 0)).alias("z"),
        "n_unk",
    )
    assert zeros.filter(F.col("z") != F.col("n_unk")).count() == 0
    # decode round-trip: one known doc's in-vocab tokens come back in order
    sample = docs.orderBy("doc_id").first()
    v = {r["rank"]: r["token"] for r in vocab.collect()}
    ids = (
        enc.filter(F.col("doc_id") == sample["doc_id"])
        .first()["token_ids"]
    )
    toks = [w for w in sample["text"].split(" ") if w != ""]
    decoded = [v.get(i) for i in ids]
    assert len(decoded) == len(toks)
    for got, want in zip(decoded, toks):
        assert got is None or got == want


def test_encode_documents_rejects_colliding_unk_id(spark, docs):
    """An unk_id inside the live rank range would silently conflate a real
    token with OOV in token_ids and n_unk — must raise; ids outside the
    range (0 default, max_rank+1) are accepted."""
    import pytest

    vocab = T.build_vocab(docs, min_count=3, max_size=50).cache()
    max_rank = vocab.agg(F.max("rank")).first()[0]
    with pytest.raises(ValueError, match="collides"):
        T.encode_documents(docs, vocab, unk_id=1)
    with pytest.raises(ValueError, match="collides"):
        T.encode_documents(docs, vocab, unk_id=int(max_rank))
    # boundary ids are fine and produce the same sequence lengths
    ok = T.encode_documents(docs, vocab, unk_id=int(max_rank) + 1)
    assert ok.filter(F.size("token_ids") == 0).count() == 0


def test_semantic_dedup_drops_planted_embedding_dup(spark, emb):
    """A planted exact-duplicate vector (cosine 1.0 with its source, same
    cell by construction) is dropped; the min-id representative stays;
    output schema is the input's."""
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    deduped = D.semantic_dedup(corpus, n_cells=4, threshold=0.999)
    ids = {r["vec_id"] for r in deduped.select("vec_id").collect()}
    assert 0 in ids
    assert 100000 not in ids
    assert deduped.columns == corpus.columns
    # nothing else near-identical at this threshold should survive twice:
    # re-running removes nothing (idempotence on the deduped set)
    again = D.semantic_dedup(deduped, n_cells=4, threshold=0.999)
    assert again.count() == len(ids)


def test_semantic_dedup_incremental_classification(spark, emb, tmp_path):
    """Incremental SemDeDup vs a persisted IVF index: a batch clone of a
    live indexed vector is dup_of_corpus (attributed to its source); a
    clone of a TOMBSTONED vector re-enters; twin new vectors dedup
    within the batch (min id wins, twin points at it)."""
    from couch_to_postgres_spark.extensions.ann import (
        build_ivf_index,
        remove_from_ivf_index,
    )

    path = str(tmp_path / "idx")
    corpus = emb.filter(F.col("vec_id") < 100)
    build_ivf_index(corpus, path, n_cells=4)
    # tombstone vec 7: its content must be re-admittable
    remove_from_ivf_index(
        spark, path, corpus.filter(F.col("vec_id") == 7).select("vec_id")
    )

    def clone(src_id, new_id):
        return emb.filter(F.col("vec_id") == src_id).select(
            F.lit(new_id).cast("long").alias("vec_id"), "embedding", "label"
        )

    batch = (
        clone(3, 100000)      # live corpus dup
        .unionByName(clone(7, 100001))   # tombstoned → re-enters
        .unionByName(clone(150, 100002))  # twin A (150 not indexed)
        .unionByName(clone(150, 100003))  # twin B of A
    )
    cls = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in D.semantic_dedup_incremental(
            spark, path, batch, threshold=0.999
        ).collect()
    }
    assert cls[100000] == ("dup_of_corpus", 3)
    assert cls[100001] == ("accepted", None)
    assert cls[100002] == ("accepted", None)
    assert cls[100003] == ("dup_within_batch", 100002)


def test_semantic_dedup_incremental_edge_batches(spark, emb, tmp_path):
    """An EMPTY batch classifies to an empty, correctly-typed frame (the
    touched-cells isin over no cells must not blow up); a single-vector
    batch (no within-batch pairs possible) is accepted."""
    from couch_to_postgres_spark.extensions.ann import build_ivf_index

    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") < 100), path, n_cells=4)
    empty = D.semantic_dedup_incremental(
        spark, path, emb.filter(F.col("vec_id") < 0)
    )
    assert empty.count() == 0
    assert empty.columns == ["vec_id", "cell", "status", "dup_of"]
    single = D.semantic_dedup_incremental(
        spark, path, emb.filter(F.col("vec_id") == 250)
    ).collect()
    assert [r["status"] for r in single] == ["accepted"]


def test_bm25_index_query_on_absent_index_is_empty(spark, tmp_path):
    """Querying an index that was never built returns an empty result,
    not a crash — the typed-empty fallback end to end."""
    from couch_to_postgres_spark.streaming.search_stream import (
        bm25_topk_from_index,
    )

    q = spark.createDataFrame([(1, "spark")], "query_id int, term string")
    out = bm25_topk_from_index(spark, str(tmp_path / "nope"), q, k=5)
    assert out.count() == 0


def test_semantic_dedup_ingest_idempotent_replay(spark, emb, tmp_path):
    """foreachBatch body: accepted vectors append to the index, so an
    at-least-once REPLAY of the same batch admits nothing new."""
    from couch_to_postgres_spark.extensions.ann import build_ivf_index

    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") < 100), path, n_cells=4)
    batch = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 140)
    )
    first = D.semantic_dedup_ingest(spark, path, batch, threshold=0.999)
    assert first["arrived"] == 40
    assert first["accepted"] >= 1
    assert (
        first["accepted"] + first["dup_of_corpus"] + first["dup_within_batch"]
        == 40
    )
    replay = D.semantic_dedup_ingest(spark, path, batch, threshold=0.999)
    assert replay["accepted"] == 0
    assert replay["dup_of_corpus"] == 40
    # the maintained invariant: no two LIVE vectors in the same cell are
    # within threshold of each other (every admission was checked against
    # the live set of its time, and nothing here was removed)
    import os as _os

    live = spark.read.parquet(_os.path.join(path, "cells"))
    assert (
        D.embedding_neardup_pairs(
            live, threshold=0.999, block_col="cell"
        ).count()
        == 0
    )


# --------------------------------------------------------------------------
# winnowing span dedup
# --------------------------------------------------------------------------


def test_winnow_guarantee_shared_span(spark):
    # two docs sharing a 6-word span (>= shingle_n + window - 1 = 6 words)
    # MUST share at least one winnowing fingerprint — the paper's
    # detection guarantee
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"{shared} seven eight nine ten eleven twelve"),
        (3, "totally different words with no overlap at all here folks"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    buckets = D.shared_span_buckets(df, shingle_n=3, window=4).collect()
    pairs = {tuple(sorted(b["doc_ids"].split("|"))) for b in buckets}
    assert ("1", "2") in pairs
    assert not any("3" in p for p in pairs)


def test_winnow_short_doc_no_full_window(spark):
    # a doc shorter than shingle_n + window - 1 words has no full window
    # and produces zero fingerprints (sub-guarantee spans are not claimed)
    df = spark.createDataFrame(
        [(1, "just five words right here")], "doc_id long, text string"
    )
    assert D.winnow_fingerprints(df, shingle_n=3, window=4).count() == 0


def test_winnow_fingerprints_are_subset_of_shingle_hashes(spark, docs):
    # every fingerprint is the hash of one of the doc's own shingles
    fps = D.winnow_fingerprints(docs.limit(50))
    sh = docs.limit(50).select(
        "doc_id",
        F.explode(D.word_shingles("text", 3)).alias("shingle"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    orphan = fps.join(
        sh, on=[fps.doc_id == sh.doc_id, fps.fingerprint == sh.h], how="left_anti"
    )
    assert orphan.count() == 0


# --------------------------------------------------------------------------
# drop-side decontamination
# --------------------------------------------------------------------------


def test_decontaminate_drops_planted_leak(spark, docs):
    # plant an eval doc copied verbatim from the train side: that train
    # doc must drop at any threshold; untouched train docs survive
    train = docs.filter(F.col("source") != "src0")
    leak = train.orderBy("doc_id").first()
    eval_df = spark.createDataFrame(
        [(999999, leak["text"], "en", "eval", len(leak["text"]))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    clean = T.decontaminate(train, eval_df, max_overlap_frac=0.5)
    kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert leak["doc_id"] not in kept
    assert len(kept) > 0


def test_decontaminate_zero_threshold_supersets_higher(spark, docs):
    # frac=0.0 (any shared shingle) drops at least as much as frac=0.5
    train = docs.filter(F.col("source") != "src0")
    eval_df = docs.filter(F.col("source") == "src0")
    strict = T.decontaminate(train, eval_df, max_overlap_frac=0.0).count()
    loose = T.decontaminate(train, eval_df, max_overlap_frac=0.5).count()
    assert strict <= loose


def test_decontaminate_plan_broadcasts_never_shuffles_corpus(spark, docs):
    # the eval vocabulary and the contaminated-id set must broadcast; the
    # train side must reach the rollup without an Exchange caused by a
    # join (the groupBy(doc_id) partial-agg exchange is the single
    # expected shuffle)
    train = docs.filter(F.col("source") != "src0")
    eval_df = docs.filter(F.col("source") == "src0")
    plan = T.decontaminate(train, eval_df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------------------------------
# model-based quality classifier
# --------------------------------------------------------------------------


def test_quality_classifier_deterministic_and_sane(spark):
    from couch_to_postgres_spark.extensions import quality as Q

    good = [
        (i, "the quick brown fox jumps over the lazy dog and runs on to the hills")
        for i in range(40)
    ]
    junk = [(100 + i, "@@@@ #### !!!! %%%% ^^^^ &&&& ****") for i in range(40)]
    df = spark.createDataFrame(good + junk, "doc_id long, text string")
    labeled = Q.weak_quality_labels(df)
    model = Q.train_quality_classifier(labeled)
    s1 = Q.score_quality(model, df).orderBy("doc_id").collect()
    # sanity: clean docs above junk
    probs = {r["doc_id"]: r["quality_prob"] for r in s1}
    assert probs[0] > probs[100]
    assert all(s1[i]["quality_pred"] == 1 for i in range(5))
    # determinism: refit on the same input -> identical scores
    model2 = Q.train_quality_classifier(Q.weak_quality_labels(df))
    s2 = Q.score_quality(model2, df).orderBy("doc_id").collect()
    assert [r["quality_prob"] for r in s1] == [r["quality_prob"] for r in s2]


def test_classifier_filter_keeps_clean_drops_junk(spark):
    from couch_to_postgres_spark.extensions import quality as Q

    good = [
        (i, "a plain readable sentence with the usual words in it for testing")
        for i in range(30)
    ]
    junk = [(100 + i, "%%%% @@@@ !!!! ~~~~ ???? ////") for i in range(30)]
    df = spark.createDataFrame(good + junk, "doc_id long, text string")
    kept = {r["doc_id"] for r in Q.classifier_filter(df).select("doc_id").collect()}
    assert 0 in kept and 5 in kept
    assert 100 not in kept and 115 not in kept


def test_vectorized_cell_cosine_equals_hof(spark, emb):
    # the numpy-GEMM production scorer must produce exactly the HOF
    # variant's pair set, with cosines equal to float tolerance
    from couch_to_postgres_spark.extensions.ann import (
        assign_cells,
        train_centroids,
    )

    cells = assign_cells(emb, train_centroids(emb, n_cells=4, seed=11))
    hof = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_neardup_pairs(
            cells, threshold=0.3, block_col="cell"
        ).collect()
    }
    vec = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_neardup_pairs_vectorized(
            cells, threshold=0.3, block_col="cell"
        ).collect()
    }
    assert set(hof) == set(vec)
    assert hof, "fixture produced no pairs; threshold too high"
    assert all(abs(hof[k] - vec[k]) < 1e-9 for k in hof)


def test_semantic_dedup_vectorized_equals_hof(spark, emb):
    a = D.semantic_dedup(emb, n_cells=4, threshold=0.45)
    b = D.semantic_dedup(emb, n_cells=4, threshold=0.45, scorer="vectorized")
    ids = lambda df: sorted(r["vec_id"] for r in df.select("vec_id").collect())
    assert ids(a) == ids(b)


def test_shared_span_occurrences_positions(spark):
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = guarantee len
    rows = [
        (1, f"one two three {shared}"),
        (2, f"{shared} seven eight nine ten"),
        (3, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    occ = D.shared_span_occurrences(df).collect()
    by_doc = {}
    for r in occ:
        by_doc.setdefault(r["doc_id"], set()).add(r["pos"])
    # doc 3 shares nothing
    assert 3 not in by_doc
    # a matching window's MIN shingle lies in the shared span, but the
    # window itself can start up to window-1 words earlier: doc 1's copy
    # starts at word 3, so starts in [3-(4-1), 5] = [0, 5]; doc 2's copy
    # starts at word 0, so starts in [0, 2]
    assert by_doc[1] and all(0 <= p <= 5 for p in by_doc[1])
    assert max(by_doc[1]) >= 3  # at least one window anchored in the span
    assert by_doc[2] and all(0 <= p <= 2 for p in by_doc[2])


def test_mask_shared_spans_removes_boilerplate_keeps_representative(spark):
    boiler = "this footer text repeats on every page here now"  # 9 words
    # unique regions are wider than the ~window-word boundary fuzz the
    # operator documents, so their cores must survive masking
    u1 = "alpha writes a long original paragraph about spark plans today"
    u2 = "beta keeps an equally long original paragraph about duckdb oracles"
    u3 = "gamma adds another long original paragraph about parquet readers"
    rows = [
        (1, f"{u1} {boiler}"),
        (2, f"{boiler} {u2}"),
        (3, f"{u3} {boiler}"),
        (4, "independent document with completely original wording inside"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.mask_shared_spans(df).collect()}
    # representative (min id per fingerprint) keeps its copy
    assert "footer" in out[1]["text"] and out[1]["n_words_masked"] == 0
    # other carriers lose the span but keep their unique cores; markers
    # sit deeper than the documented shingle_n+window-2 boundary fuzz
    # (doc 2's span precedes its unique text, so its early words may go)
    for d, marker in ((2, "oracles"), (3, "gamma")):
        assert "footer" not in out[d]["text"], out[d]["text"]
        assert marker in out[d]["text"]
        assert out[d]["n_words_masked"] >= 9
    # untouched doc passes through bit-identical
    assert out[4]["text"] == rows[3][1] and out[4]["n_words_masked"] == 0
    # keep_first=False masks every occurrence
    all_masked = {
        r["doc_id"]: r
        for r in D.mask_shared_spans(df, keep_first=False).collect()
    }
    assert all("footer" not in all_masked[d]["text"] for d in (1, 2, 3))


def test_cap_per_group_invariants(spark, docs):
    from couch_to_postgres_spark.extensions.sampling import cap_per_group

    capped = cap_per_group(docs, k=10)
    sizes = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert sizes and all(n <= 10 for n in sizes.values())
    # groups smaller than k pass through whole
    orig = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for s, n in orig.items():
        assert sizes[s] == min(n, 10)
    # deterministic: same selection on a different partitioning
    re = cap_per_group(docs.repartition(7), k=10)
    ids = lambda df: sorted(r["doc_id"] for r in df.select("doc_id").collect())
    assert ids(capped) == ids(re)


def test_sample_to_token_budget_invariants(spark, docs):
    from couch_to_postgres_spark.extensions.sampling import (
        sample_to_token_budget,
    )

    out = sample_to_token_budget(docs, {"src0": 300, "src1": 1}).cache()
    rows = out.collect()
    assert {r["source"] for r in rows} <= {"src0", "src1"}
    # every nonzero budget yields at least one doc, and totals land
    # within one doc of the target: cum - n_tokens < budget <= cum + last
    per_src = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r)
    for src, budget in (("src0", 300), ("src1", 1)):
        group = per_src[src]
        assert group, src
        total = max(r["cum_tokens"] for r in group)
        last_n = max(r["n_tokens"] for r in group if r["cum_tokens"] == total)
        assert total - last_n < budget <= total or total >= budget
    # determinism under repartitioning
    re = sample_to_token_budget(docs.repartition(5), {"src0": 300, "src1": 1})
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in re.collect()
    )
    out.unpersist()


def test_approx_top_tokens_exact_in_guarantee_regime(spark, docs):
    exact = T.top_tokens(docs, k=15).collect()
    approx = T.approx_top_tokens(docs, k=15, capacity=200).collect()
    assert [(r["token"], r["cnt"]) for r in exact] == [
        (r["token"], r["cnt"]) for r in approx
    ]
    # stability under repartitioning (candidate superset property holds
    # for any partitioning)
    approx2 = T.approx_top_tokens(docs.repartition(9), k=15, capacity=200)
    assert [(r["token"], r["cnt"]) for r in approx2.collect()] == [
        (r["token"], r["cnt"]) for r in exact
    ]


def test_winnow_detection_guarantee_property(spark):
    # Schleimer et al. guarantee, property-tested: ANY shared span of at
    # least shingle_n + window - 1 words produces a shared fingerprint,
    # wherever it sits in either document. Disjoint per-doc alphabets
    # rule out accidental sharing outside the planted span.
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    n, w = 3, 4
    guarantee = n + w - 1  # 6 words

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        pre1=st.integers(0, 8),
        post1=st.integers(0, 8),
        pre2=st.integers(0, 8),
        post2=st.integers(0, 8),
        span_extra=st.integers(0, 4),
    )
    def check(pre1, post1, pre2, post2, span_extra):
        span = [f"S{i}" for i in range(guarantee + span_extra)]
        d1 = [f"a{i}" for i in range(pre1)] + span + [
            f"A{i}" for i in range(post1)
        ]
        d2 = [f"b{i}" for i in range(pre2)] + span + [
            f"B{i}" for i in range(post2)
        ]
        df = spark.createDataFrame(
            [(1, " ".join(d1)), (2, " ".join(d2))], "doc_id long, text string"
        )
        fps = D.winnow_fingerprints(df, shingle_n=n, window=w)
        both = (
            fps.groupBy("fingerprint")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") == 2)
            .count()
        )
        assert both >= 1, (d1, d2)

    check()


def test_cross_near_dedup_drops_cross_dups_keeps_unique(spark, docs):
    # new batch: an exact copy of existing doc 0, a near copy (one word
    # changed) of existing doc 1, and a genuinely new doc
    d0 = docs.filter(F.col("doc_id") == 0).first()
    d1 = docs.filter(F.col("doc_id") == 1).first()
    near = d1["text"].split(" ")
    near[len(near) // 2] = "XXCHANGEDXX"
    new = spark.createDataFrame(
        [
            (200000, d0["text"], "en", "batch", len(d0["text"])),
            (200001, " ".join(near), "en", "batch", 0),
            (200002, "entirely novel content nothing like the corpus at all",
             "en", "batch", 0),
            (200003, "entirely novel content nothing like the corpus at all",
             "en", "batch", 0),  # internal dup of 200002
        ],
        docs.schema,
    )
    out = D.cross_near_dedup(new, docs, jaccard_threshold=0.6, num_bands=4)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 200000 not in kept          # exact cross-dup dropped
    assert 200001 not in kept          # near cross-dup dropped
    assert 200002 in kept              # novel doc survives
    assert 200003 not in kept          # internal dup removed by self stage
    # cross stage only: internal dup survives when self_dedup=False
    cross_only = {
        r["doc_id"]
        for r in D.cross_near_dedup(
            new, docs, jaccard_threshold=0.6, num_bands=4, self_dedup=False
        ).select("doc_id").collect()
    }
    assert {200002, 200003} <= cross_only


def test_interpolated_score_orders_fluent_above_shuffled(spark):
    # smoothing sanity on a corpus with real bigram structure: sentences
    # drawn from a shared template distribution outscore a token-shuffled
    # rearrangement of the same words, and every score is finite even
    # when a doc contains corpus-unique bigrams
    import random

    from couch_to_postgres_spark.extensions.text import (
        interpolated_logprob_score,
    )

    rng = random.Random(11)
    sent = "the quick brown fox jumps over the lazy dog near the old mill"
    rows = []
    for i in range(25):
        # small per-doc perturbation keeps vocabulary shared, structure real
        words = sent.split(" ")
        words[rng.randrange(len(words))] = f"w{i % 5}"
        rows.append((i, " ".join(words)))
    shuffled = sent.split(" ")
    rng.shuffle(shuffled)
    rows.append((900000, " ".join(shuffled)))
    # one doc with an entirely novel bigram tail: must stay finite
    rows.append((900001, sent + " zzuniquetoken qqneverbefore"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["mean_interp_logprob"]
        for r in interpolated_logprob_score(df).collect()
    }
    assert all(s is not None and s == s for s in scores.values())  # finite
    natural = [v for k, v in scores.items() if k < 900000]
    assert scores[900000] < sum(natural) / len(natural)


def test_km_family_detects_planted_dups_property(spark):
    # hash-family equivalence property: for ANY near-identical doc pair,
    # the Kirsch-Mitzenmacher family must produce candidate pairs just
    # like the md5k family — planted pairs at random lengths/positions
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_words=st.integers(12, 40),
        change_at=st.integers(0, 11),
        seed=st.integers(0, 10**6),
    )
    def check(n_words, change_at, seed):
        import random

        rng = random.Random(seed)
        words = [f"w{rng.randrange(50)}" for _ in range(n_words)]
        near = list(words)
        near[change_at % n_words] = "XXX"
        df = spark.createDataFrame(
            [(1, " ".join(words)), (2, " ".join(near)),
             (3, " ".join(f"z{i}" for i in range(n_words)))],
            "doc_id long, text string",
        )
        for fam in ("md5k", "km"):
            got = {
                (r["id_a"], r["id_b"])
                for r in D.minhash_candidate_pairs(
                    df, num_bands=8, hash_family=fam
                ).collect()
            }
            assert (1, 2) in got, fam
            assert not any(3 in p for p in got), (fam, got)

    check()


def test_km_minhash_identical_texts_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    sigs = D.km_minhash_signatures(df, num_bands=4, rows_per_band=2).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r["doc_id"], {})[r["band"]] = r["signature"]
    assert by_doc[1] == by_doc[2]


def test_language_id_classifies_planted_languages(spark):
    rows = [
        (1, "the cat is on the mat and the dog is in the house"),
        (2, "der hund ist nicht mit der katze und das haus ist auf"),
        (3, "le chat est dans la maison avec le chien et la souris"),
        (4, "qwfp zxcv mlky trnb vbnm asdf"),  # no function words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["lang_pred"], r["lang_ratio"])
        for r in T.language_id(df).collect()
    }
    assert got[1][0] == "en" and got[1][1] > 0.3
    assert got[2][0] == "de"
    assert got[3][0] == "fr"
    assert got[4][0] == "und" and got[4][1] == 0.0


def test_decontaminate_empty_eval_is_identity(spark, docs):
    # an empty eval frame must drop nothing (and not error): the
    # broadcast vocabulary is empty, every overlap count is zero
    empty = docs.limit(0)
    out = T.decontaminate(docs, empty)
    assert out.count() == docs.count()


# ---------------------------------------------------------------------------
# LSH hot-bucket bound (star expansion over the per-bucket threshold)
# ---------------------------------------------------------------------------

def _template_corpus(spark, m, n_unique=3):
    """m identical boilerplate docs (ids 0..m-1) + n_unique distinct docs."""
    template = "the same boilerplate template page body " * 5
    rows = [(i, template) for i in range(m)]
    rows += [
        (m + i, " ".join(f"u{i}w{j}" for j in range(25)))
        for i in range(n_unique)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_star_threshold_caps_template_bucket(spark):
    # 400 identical docs land in ONE (band, signature) bucket per band;
    # all-pairs would emit m(m-1)/2 = 79,800 candidate rows — the
    # quadratic blowup a web-scale boilerplate cluster triggers. With the
    # default star threshold the candidate count must stay O(m).
    m = 400
    df = _template_corpus(spark, m)
    capped = D.minhash_candidate_pairs(df, num_bands=4)
    n = capped.count()
    assert n == m - 1  # rep(0) -> member star edges, distinct across bands
    # every edge is rep -> member, so CC connectivity is preserved
    assert capped.filter(F.col("id_a") != 0).count() == 0


def test_star_threshold_preserves_near_dedup_output(spark):
    # verified-output equivalence at the 0.8 threshold: capped (default)
    # and exact all-pairs (star_threshold=None) keep the same docs
    m = 100  # over the 64 threshold, small enough for exact all-pairs
    df = _template_corpus(spark, m)
    kept_capped = {
        r["doc_id"]
        for r in D.near_dedup(df, jaccard_threshold=0.8, num_bands=4)
        .select("doc_id").collect()
    }
    kept_exact = {
        r["doc_id"]
        for r in D.near_dedup(
            df, jaccard_threshold=0.8, num_bands=4, star_threshold=None
        ).select("doc_id").collect()
    }
    assert kept_capped == kept_exact
    assert kept_capped == {0, m, m + 1, m + 2}  # 1 rep + the uniques


def test_star_threshold_below_cap_identical_to_all_pairs(spark, docs):
    # the parity corpora never reach the threshold (measured max bucket
    # 22 at sf0.1), so capped output == exact output there — the guard
    # that keeps the DuckDB oracles (written as all-pairs SQL) honest
    aug = planted(spark, docs)
    sigs = D.minhash_signatures(aug, num_bands=4)
    max_bucket = (
        sigs.groupBy("band", "signature").count().agg(F.max("count")).first()[0]
    )
    assert max_bucket <= 64
    capped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_candidate_pairs(aug, num_bands=4).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_candidate_pairs(
            aug, num_bands=4, star_threshold=None
        ).collect()
    }
    assert capped == exact


def test_cross_dedup_caps_existing_side_bucket(spark):
    # over-threshold EXISTING-side bucket collapses to its rep: new docs
    # duplicating the boilerplate are still dropped (any-match suffices)
    m = 150
    existing = _template_corpus(spark, m, n_unique=1)
    template = "the same boilerplate template page body " * 5
    new = spark.createDataFrame(
        [
            (10_000, template + "tail variation one"),   # near-dup of corpus
            (10_001, " ".join(f"n{j}" for j in range(30))),  # genuinely new
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]
        for r in D.cross_near_dedup(
            new, existing, jaccard_threshold=0.6, num_bands=4,
            self_dedup=False,
        ).select("doc_id").collect()
    }
    assert out == {10_001}


def test_dedup_clusters_leaves_caller_cache_alone(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    ).persist()
    try:
        pairs.count()  # materialize the caller-owned cache
        D.dedup_clusters(pairs).collect()
        lvl = pairs.storageLevel
        assert lvl.useMemory or lvl.useDisk  # still cached for the caller
    finally:
        pairs.unpersist()


def test_classifier_filter_grows_single_class_sample(spark):
    from couch_to_postgres_spark.extensions.quality import classifier_filter

    clean = [
        (i, "this is a perfectly ordinary sentence with the usual words and it has enough length")
        for i in range(50)
    ]
    junk = [(1000, "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( )))) ;;;;")]
    df = spark.createDataFrame(clean + junk, "doc_id long, text string")
    # a 2% sample of 51 rows almost surely misses the single junk doc ->
    # one weak-label class; the fraction must grow until both appear
    out = classifier_filter(df, train_fraction=0.02)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 1000 not in kept
    assert len(kept) >= 40

    # single-class corpus: growth exhausts at 1.0 and raises clearly
    allclean = spark.createDataFrame(clean, "doc_id long, text string")
    with pytest.raises(ValueError, match="single\\s+class"):
        classifier_filter(allclean, train_fraction=0.5)


# ---------------------------------------------------------------------------
# round-3 additions: BM25, PMI, PII scan, weighted sample, source overlap,
# outlier trim
# ---------------------------------------------------------------------------

def test_bm25_ranks_relevance_and_length_norm(spark):
    from couch_to_postgres_spark.extensions.search import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark merge window spark merge"),      # dense match
            (2, "spark " + "filler " * 40),              # one hit, long doc
            (3, "spark merge"),                          # two hits, short
            (4, "nothing relevant here at all"),         # no hit
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, ["spark", "merge", "window"], k=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert 4 not in ranks                   # zero-hit docs absent
    assert ranks[1] == 1                    # most/densest matches win
    assert ranks[3] < ranks[2]              # short 2-term doc beats long 1-term
    scores = {r["doc_id"]: r["score"] for r in out}
    assert all(s > 0 for s in scores.values())

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(df, [])


def test_pmi_finds_planted_collocation(spark):
    import random

    rng = random.Random(3)
    rows = []
    vocab = [f"w{i}" for i in range(30)]
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(30)]
        # plant "san francisco" always adjacent, several times per doc
        for _ in range(3):
            pos = rng.randrange(len(words))
            words[pos:pos] = ["san", "francisco"]
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = T.pmi_bigrams(df, min_count=5, k=5).collect()
    assert top[0]["bg"] == "san francisco"
    assert top[0]["rank"] == 1
    assert top[0]["pmi"] > 0


def test_pii_scan_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d@e.org plus https://x.y/z and 10.0.0.1"),
            (2, "call +1 (555) 123-4567 today"),
            (3, "clean text with no identifiers"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in T.pii_scan(df).collect()}
    assert got[1]["n_emails"] == 2
    assert got[1]["n_urls"] == 1
    assert got[1]["n_ipv4"] == 1
    assert got[2]["n_phones"] == 1
    assert got[3]["n_pii_total"] == 0
    assert got[1]["n_pii_total"] == got[1]["n_emails"] + got[1]["n_urls"] + got[1]["n_phones"] + got[1]["n_ipv4"]


def test_weighted_sample_proportional_and_deterministic(spark):
    from couch_to_postgres_spark.extensions.sampling import (
        weighted_sample_topn,
    )

    # 2 heavy rows (w=50) among 100 light rows (w=1): across many salts
    # the heavy rows must appear far more often than any light row
    rows = [(i, 1) for i in range(100)] + [(1000, 50), (1001, 50)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    heavy_hits = light_hits = 0
    n_salts = 20
    for s in range(n_salts):
        kept = {
            r["doc_id"]
            for r in weighted_sample_topn(
                df, "w", n=10, salt=f"s{s}"
            ).collect()
        }
        heavy_hits += len(kept & {1000, 1001})
        light_hits += len(kept - {1000, 1001})
    # heavy inclusion rate per row vs light inclusion rate per row
    heavy_rate = heavy_hits / (2 * n_salts)
    light_rate = light_hits / (100 * n_salts)
    assert heavy_rate > 5 * light_rate
    # deterministic at fixed salt
    a = sorted(r["doc_id"] for r in weighted_sample_topn(df, "w", n=10).collect())
    b = sorted(r["doc_id"] for r in weighted_sample_topn(df, "w", n=10).collect())
    assert a == b


def test_source_overlap_hand_cases(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, "A", shared),
            (2, "B", shared),                          # B == A -> jaccard 1
            (3, "C", "one two three four five six"),   # disjoint from A/B
            (4, "D", shared + " extra tail words here"),  # superset of A
        ],
        "doc_id long, source string, text string",
    )
    got = {
        (r["group_a"], r["group_b"]): r
        for r in D.source_overlap(df).collect()
    }
    assert got[("A", "B")]["jaccard"] == 1.0
    assert ("A", "C") not in got            # zero-overlap pairs absent
    ad = got[("A", "D")]
    assert 0 < ad["jaccard"] < 1
    assert ad["n_shared"] == 6              # A's 6 shingles all in D


def test_iqr_outlier_trim_drops_planted_megadoc(spark):
    rows = [(i, "en", 100 + i % 7) for i in range(60)]
    rows.append((1000, "en", 1_000_000))   # megadoc outlier
    rows.append((2000, "fr", 200))         # lone group: q1==q3, kept
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    kept = {r["doc_id"] for r in T.iqr_outlier_trim(df).collect()}
    assert 1000 not in kept
    assert 2000 in kept
    assert len(kept) == 61


def test_near_dedup_keep_best_representative(spark):
    # cluster of 3 near-identical docs with different lengths: the
    # LONGEST survives under keep_score_col, the min-id under default
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (10, base, 60),
        (11, base + " tailA", 62),
        (12, base + " tailA tailB longer still", 66),
        (99, " ".join(f"z{i}" for i in range(40)), 40),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    default_kept = {
        r["doc_id"]
        for r in D.near_dedup(df, jaccard_threshold=0.6, num_bands=4)
        .select("doc_id").collect()
    }
    assert default_kept == {10, 99}
    best_kept = {
        r["doc_id"]
        for r in D.near_dedup(
            df, jaccard_threshold=0.6, num_bands=4, keep_score_col="n_chars"
        ).select("doc_id").collect()
    }
    assert best_kept == {12, 99}


def test_cdc_chunking_is_insertion_robust(spark):
    """The point of content-defined boundaries: prepending words to a
    document leaves the chunk hashes of the UNTOUCHED tail intact, so
    shared content is still discovered across the edited copies (a
    fixed-stride chunker re-frames everything and finds nothing)."""
    import random

    rng = random.Random(11)
    body = " ".join(f"w{rng.randrange(500)}" for _ in range(300))
    df = spark.createDataFrame(
        [(1, body), (2, "inserted preamble words here " + body)],
        "doc_id long, text string",
    )
    chunks = {
        (r["doc_id"], r["chunk_md5"])
        for r in T.cdc_chunk_documents(df).collect()
    }
    h1 = {h for d, h in chunks if d == 1}
    h2 = {h for d, h in chunks if d == 2}
    shared = h1 & h2
    # the tail chunks (past the first boundary after the insertion)
    # must re-align: most of doc 1's chunks reappear in doc 2
    assert len(shared) >= 0.7 * len(h1)
    # and the shared-chunk report surfaces them
    rep = T.shared_cdc_chunks(df).collect()
    assert {r["chunk_md5"] for r in rep} == shared
    assert all(r["n_docs"] == 2 for r in rep)


def test_shared_cdc_chunks_counts_distinct_carrier_docs(spark):
    # a chunk repeated TWICE inside one document is not cross-document
    # shared content: n_docs counts DISTINCT carriers, so min_docs=2
    # requires two different documents (ADVICE r03: count(*) over
    # (doc, chunk_id) rows double-counted intra-doc repeats)
    body = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, body + " " + body),   # same content twice within doc 1
            (2, "totally different words " * 10),
        ],
        "doc_id long, text string",
    )
    rep = T.shared_cdc_chunks(df, min_docs=2).collect()
    assert rep == [], "intra-doc repeated chunks must not count as shared"
    # but the same chunk in TWO docs still reports n_docs=2
    df2 = spark.createDataFrame(
        [(1, body), (2, body)], "doc_id long, text string"
    )
    rep2 = T.shared_cdc_chunks(df2, min_docs=2).collect()
    assert rep2 and all(r["n_docs"] == 2 for r in rep2)


def test_cdc_chunks_partition_text_exactly(spark):
    # chunks are a PARTITION of the word sequence: word counts sum back
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(137)))],
        "doc_id long, text string",
    )
    rows = T.cdc_chunk_documents(df).collect()
    assert sum(r["n_chunk_words"] for r in rows) == 137
    assert len({r["chunk_id"] for r in rows}) == len(rows)


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from couch_to_postgres_spark.extensions.sampling import (
        weighted_sample_topn,
    )

    rows = [(i, 1) for i in range(20)] + [(100, 0), (101, -5)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    kept = {
        r["doc_id"]
        for r in weighted_sample_topn(df, "w", n=22).collect()
    }
    # zero/negative weights never enter the sample, even with room
    assert 100 not in kept and 101 not in kept
    assert len(kept) == 20


def test_unigram_entropy_extremes(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "same same same same same same same same"),  # H = 0
            (2, "a b c d e f g h"),                          # uniform: ln 8
            (3, "a a a a b b c d"),                          # mixed
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in T.unigram_entropy(df).collect()}
    assert got[1]["entropy"] == 0.0 and got[1]["n_types"] == 1
    assert abs(got[2]["entropy"] - round(math.log(8), 4)) < 2e-4
    assert 0 < got[3]["entropy"] < got[2]["entropy"]


def test_zipf_slope_detects_distribution_shape(spark):
    # planted zipf-ish corpus (freq ~ 1/rank) vs flat corpus
    zipf_rows, flat_rows = [], []
    did = 0
    for r in range(1, 60):
        reps = max(1, 120 // r)          # ~1/rank frequencies
        zipf_rows.append((did, (" w" + str(r)) * reps)); did += 1
        flat_rows.append((did, (" f" + str(r)) * 50)); did += 1
    z = T.zipf_slope(
        spark.createDataFrame(zipf_rows, "doc_id long, text string"), top_n=50
    ).collect()[0]
    f = T.zipf_slope(
        spark.createDataFrame(flat_rows, "doc_id long, text string"), top_n=50
    ).collect()[0]
    assert z["slope"] < -0.8           # near Zipf's -1
    assert abs(f["slope"]) < 0.1       # flat mass -> slope ~ 0


def test_stratified_split_exact_proportions(spark):
    from couch_to_postgres_spark.extensions.sampling import stratified_split

    rows = [(i, "en" if i % 3 else "fr", 100 * (i % 4)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = stratified_split(df, ["lang"], eval_per_10=2)
    counts = {
        (r["lang"], r["split"]): r["cnt"]
        for r in out.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for lang in ("en", "fr"):
        total = counts.get((lang, "eval"), 0) + counts.get((lang, "train"), 0)
        expect_eval = (total * 2 + 9) // 10
        assert counts[(lang, "eval")] == expect_eval
    # deterministic
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, stratified_split(df, ["lang"], eval_per_10=2).collect()))
    assert a == b


def test_stratified_split_guards_strata_cardinality(spark):
    # the per-stratum quota table is driver-resident: stratifying on a
    # high-cardinality key must RAISE (naming the distributed
    # alternatives), not OOM the driver; the guard's limit(max+1) also
    # means the driver never receives more than max_strata+1 rows
    from couch_to_postgres_spark.extensions.sampling import stratified_split

    df = spark.range(50).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("key")
    )
    with pytest.raises(ValueError, match="max_strata"):
        stratified_split(df, ["key"], eval_per_10=2, max_strata=10)
    # within the bound it still works
    assert (
        stratified_split(df, ["key"], eval_per_10=2, max_strata=50).count()
        == 50
    )


def test_select_topq_equals_window_plan_on_skew(spark):
    """The threshold-refinement selection (resample_to_mix /
    stratified_split's engine) must return EXACTLY the rows the naive
    per-group ranking window would — on a corpus where one group
    dominates (the web-scale normal case that made the old plan a
    single-task funnel) — while only a boundary BAND ever reaches the
    exact ranking window."""
    from pyspark.sql import Window as W

    from couch_to_postgres_spark.extensions import sampling as S

    rows = (
        [(i, "big") for i in range(4000)]
        + [(10_000 + i, "mid") for i in range(300)]
        + [(20_000 + i, "small") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    stats = {
        ("big",): (4000, 1234),
        ("mid",): (300, 250),
        ("small",): (40, 40),  # quota == n: keep-all, zero band
    }
    diag = {}
    got = S._select_topq(df, ["source"], stats, "doc_id", "mixT", _diag=diag)
    got_ids = {r["doc_id"] for r in got.collect()}

    key = F.md5(
        F.concat_ws(":", F.lit("mixT"), F.col("doc_id").cast("string"))
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(key, F.col("doc_id"))
    )
    qdf = spark.createDataFrame(
        [(g[0], q) for g, (_n, q) in stats.items()],
        "source string, _q long",
    )
    ref_ids = {
        r["doc_id"]
        for r in df.join(F.broadcast(qdf), "source")
        .withColumn("_rn", rn)
        .filter(F.col("_rn") <= F.col("_q"))
        .collect()
    }
    assert got_ids == ref_ids
    # the scale claim: first-attempt brackets hold, and the dominant
    # group's exact-sort band is a small fraction of the group — the
    # old plan sorted all 4000 rows of "big" in one task
    assert diag["attempts"] == 1
    assert diag["band_rows"][("big",)] < 1200
    assert diag["band_rows"][("small",)] == 0  # quota==n short-circuits
    # rows below the lo threshold never enter the window: the selection
    # minus the band was decided map-side
    n_selected = len(got_ids)
    assert n_selected == 1234 + 250 + 40
    assert diag["band_rows"][("big",)] < n_selected


def test_stratified_split_matches_window_reference_with_null_stratum(spark):
    """The refactored split must label every row exactly as the former
    per-stratum row_number window did — including NULL strata, which
    form their own group under both plans."""
    from pyspark.sql import Window as W

    from couch_to_postgres_spark.extensions.sampling import stratified_split

    rows = [
        (i, None if i % 17 == 0 else ("en" if i % 3 else "fr"))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sorted(
        map(tuple, stratified_split(df, ["lang"], eval_per_10=3).collect())
    )
    key = F.md5(
        F.concat_ws(":", F.lit("strat1"), F.col("doc_id").cast("string"))
    )
    w = W.partitionBy("lang").orderBy(key, F.col("doc_id"))
    wc = W.partitionBy("lang")
    ref = sorted(
        map(
            tuple,
            df.select("doc_id", "lang")
            .withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wc))
            .select(
                "doc_id",
                "lang",
                F.when(
                    F.col("_rk") <= F.expr("(_n * 3 + 9) div 10"),
                    F.lit("eval"),
                )
                .otherwise(F.lit("train"))
                .alias("split"),
            )
            .collect(),
        )
    )
    assert out == ref


def test_contamination_by_group_micro_average(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta", "srcA"),  # fully leaked
            (11, "one two three four five six", "srcA"),          # clean
            (12, "seven eight nine ten eleven twelve", "srcB"),   # clean
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: r
        for r in T.contamination_by_group(train, eval_df, "source").collect()
    }
    assert got["srcB"]["overlap_frac"] == 0.0
    a = got["srcA"]
    assert a["n_docs"] == 2
    # micro-average: 4 leaked shingles of 8 total across srcA's docs
    assert a["n_overlap"] == 4 and a["n_shingles"] == 8
    assert a["overlap_frac"] == 0.5


def test_new_ops_degenerate_inputs(spark):
    from couch_to_postgres_spark.extensions.search import bm25_topk

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_topk(empty, ["x"], k=5).count() == 0
    assert T.pmi_bigrams(empty).count() == 0
    one_type = spark.createDataFrame(
        [(1, "same same same")], "doc_id long, text string"
    )
    z = T.zipf_slope(one_type).collect()[0]
    assert z["n_types"] == 1 and z["slope"] is None and z["intercept"] is None
    ze = T.zipf_slope(empty).collect()[0]
    assert ze["n_types"] == 0 and ze["slope"] is None
    assert T.unigram_entropy(empty).count() == 0
    assert T.cdc_chunk_documents(empty).count() == 0


def test_bm25_batch_matches_single_query_form(spark):
    from couch_to_postgres_spark.extensions.search import (
        bm25_topk,
        bm25_topk_batch,
    )

    rows = [
        (i, f"alpha beta w{i} w{i+1} " + ("gamma " if i % 3 == 0 else "delta "))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    qtab = spark.createDataFrame(
        [(1, "alpha"), (1, "gamma"), (2, "delta")],
        "query_id int, term string",
    )
    batch = {
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk_batch(df, qtab, k=7).collect()
    }
    singles = set()
    for qid, terms in ((1, ["alpha", "gamma"]), (2, ["delta"])):
        for r in bm25_topk(df, terms, k=7).collect():
            singles.add((qid, r["doc_id"], r["score"], r["rank"]))
    assert batch == singles


def test_bm25_batch_query_set_dedup_exact(spark):
    # r14: queries with EQUAL distinct-term sets are scored once per
    # set and the ranked rows expanded back — bit-identical to scoring
    # each distinct set alone (permuted term order, within-query duplicate terms,
    # and a max_df_frac that empties a whole set are all covered; the
    # candidates restriction is query-independent so it composes).
    from couch_to_postgres_spark.extensions import search

    rows = [
        (i, f"alpha beta w{i} w{i+1} " + ("gamma " if i % 3 == 0 else "delta "))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    qtab = spark.createDataFrame(
        [
            (1, "alpha"), (1, "gamma"),
            (2, "gamma"), (2, "alpha"),          # permuted duplicate of 1
            (3, "alpha"), (3, "gamma"), (3, "alpha"),  # term-dup duplicate
            (4, "delta"),                         # unique set
            (5, "alpha"),                         # subset of 1 — NOT a dup
            (6, "zz_nowhere"),                    # no hits at all
            (7, "zz_nowhere"),                    # dup of the no-hit set
        ],
        "query_id int, term string",
    )
    cands = df.select("doc_id").filter("doc_id % 2 = 0")

    def run(queries, **kw):
        return sorted(
            (r["query_id"], r["doc_id"], r["score"], r["rank"])
            for r in search.bm25_topk_batch(df, queries, k=7, **kw).collect()
        )

    # oracle: each distinct term set scored alone, its rows copied to
    # every query_id that asks for that set
    members: dict = {}
    for r in qtab.collect():
        members.setdefault(r["query_id"], set()).add(r["term"])
    groups: dict = {}
    for qid, terms in sorted(members.items()):
        groups.setdefault(frozenset(terms), []).append(qid)
    for kw in ({}, {"max_df_frac": 0.5}, {"candidates": cands}):
        want = []
        for terms, qids in groups.items():
            alone = spark.createDataFrame(
                [(qids[0], t) for t in sorted(terms)], "query_id int, term string"
            )
            want += [
                (q, d, score, rank)
                for _, d, score, rank in run(alone, **kw)
                for q in qids
            ]
        deduped = run(qtab, **kw)
        assert deduped == sorted(want), kw
    # the duplicate sets really produce rows for every member query_id
    got_qids = {t[0] for t in deduped}
    assert {1, 2, 3, 4, 5} <= got_qids and 6 not in got_qids


def test_bm25_max_df_cap_drops_stopword_like_terms(spark):
    from couch_to_postgres_spark.extensions.search import bm25_topk_batch

    # "common" is in every doc; "rare" in two. With the df cap, only
    # "rare" scores — docs without it vanish from the ranking.
    rows = [(i, "common filler rare") if i < 2 else (i, "common filler pad")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    qtab = spark.createDataFrame(
        [(1, "common"), (1, "rare")], "query_id int, term string"
    )
    capped = bm25_topk_batch(df, qtab, k=20, max_df_frac=0.5)
    got = {r["doc_id"] for r in capped.collect()}
    assert got == {0, 1}
    # uncapped: every doc matches via "common"
    full = bm25_topk_batch(df, qtab, k=20)
    assert full.count() == 20


def test_ks_drift_detects_shifted_distribution(spark):
    a = spark.createDataFrame([(i, 100 + i % 10) for i in range(200)],
                              "doc_id long, n_chars long")
    same = spark.createDataFrame([(i, 100 + (i + 3) % 10) for i in range(200)],
                                 "doc_id long, n_chars long")
    shifted = spark.createDataFrame([(i, 500 + i % 10) for i in range(200)],
                                    "doc_id long, n_chars long")
    near = T.ks_drift(a, same).collect()[0]
    far = T.ks_drift(a, shifted).collect()[0]
    assert near["ks"] < 0.05            # same distribution
    assert far["ks"] == 1.0             # disjoint supports -> KS = 1
    assert near["n_a"] == 200 and near["n_b"] == 200


def test_robust_zscore_resists_megadoc(spark):
    rows = [(i, "en", 100 + (i % 11)) for i in range(100)]
    rows.append((999, "en", 10_000_000))   # megadoc
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    got = {r["doc_id"]: r["robust_z"] for r in T.robust_zscore(df).collect()}
    # normal rows keep moderate scores despite the outlier (a mean/std
    # z-score would crush them toward 0)
    normal = [abs(got[i]) for i in range(100)]
    assert max(normal) < 3
    assert got[999] > 100                  # the outlier itself screams
    # constant group -> MAD 0 -> NULL scores
    const = spark.createDataFrame(
        [(1, "fr", 50), (2, "fr", 50)], "doc_id long, lang string, n_chars long"
    )
    vals = [r["robust_z"] for r in T.robust_zscore(const).collect()]
    assert vals == [None, None]


def test_chi2_independence_separates_dependent_from_independent(spark):
    # independent: within each source, langs alternate evenly (i%4 picks
    # the source, (i//4)%2 the lang — the two are orthogonal)
    ind = [(i, f"s{i % 4}", f"l{(i // 4) % 2}") for i in range(400)]
    # dependent: each source uses exactly one language
    dep = [(i, f"s{i % 4}", f"l{i % 4}") for i in range(400)]
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, source string, lang string"
    )
    i_row = T.chi2_independence(mk(ind)).collect()[0]
    d_row = T.chi2_independence(mk(dep)).collect()[0]
    assert i_row["chi2"] < 1.0            # balanced table -> ~0
    assert d_row["chi2"] > 100.0          # perfect association -> huge
    assert i_row["dof"] == 3 and d_row["dof"] == 9
    assert i_row["n"] == 400


def test_gini_concentration_extremes(spark):
    even = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(400)], "doc_id long, source string"
    )
    skew = spark.createDataFrame(
        [(i, "dominant" if i < 397 else f"tiny{i}") for i in range(400)],
        "doc_id long, source string",
    )
    e = T.gini_concentration(even).collect()[0]
    s = T.gini_concentration(skew).collect()[0]
    assert e["gini"] == 0.0 and e["n_groups"] == 4 and e["n_rows"] == 400
    assert s["gini"] > 0.7


def test_burstiness_separates_bursty_from_steady(spark):
    import datetime as dt

    from couch_to_postgres_spark.streaming.windows import fano_burstiness

    base = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    # steady: one event per hour for 48 hours -> fano = 0 (constant rate)
    for h in range(48):
        rows.append((eid, base + dt.timedelta(hours=h), 1, "steady")); eid += 1
    # bursty: 47 of 48 events inside one hour of the same 48 h window
    for i in range(47):
        rows.append((eid, base + dt.timedelta(minutes=i), 2, "bursty")); eid += 1
    rows.append((eid, base + dt.timedelta(hours=47), 2, "bursty")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    fano = {
        r["event_type"]: r["fano"] for r in fano_burstiness(ev).collect()
    }
    assert fano["steady"] == 0.0          # constant 1/hour -> zero variance
    assert fano["bursty"] > 10            # one-hour spike -> fano >> 1


def test_containment_detects_subset_jaccard_misses(spark):
    para = " ".join(f"p{i}" for i in range(30))
    article = para + " " + " ".join(f"a{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, para), (2, article)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = D.ngram_containment(df, pairs).collect()[0]
    assert r["containment_a"] == 1.0      # the paragraph is fully lifted
    assert r["jaccard"] < 0.1             # which jaccard hides
    assert r["containment_b"] < 0.1


def test_boilerplate_score_ranks_template_docs(spark):
    template = " ".join(f"t{i}" for i in range(40))
    rows = [
        (1, template + " unique one two three"),
        (2, template + " other tail words here"),
        (3, " ".join(f"u{i}" for i in range(40))),   # fully unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in D.boilerplate_score(df).collect()}
    assert got[1]["boilerplate_frac"] > 0.7
    assert got[2]["boilerplate_frac"] > 0.7
    assert got[3]["boilerplate_frac"] == 0.0
    assert got[3]["n_shared"] == 0


# ---------------------------------------------------------------------------
# property tests for the round-3 operators
# ---------------------------------------------------------------------------

def test_cdc_chunking_partition_property_random_texts(spark):
    """For ANY corpus: chunks partition each doc's word sequence exactly
    (counts sum back, chunk ids dense from 0), and rebuilt chunk text
    round-trips the document."""
    import random

    rng = random.Random(99)
    rows = []
    for i in range(25):
        n = rng.randrange(0, 120)
        rows.append((i, " ".join(f"w{rng.randrange(40)}" for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = T.cdc_chunk_documents(df).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in rows:
        words = [w for w in text.split(" ") if w]
        got = by_doc.get(i, [])
        assert sum(r["n_chunk_words"] for r in got) == len(words)
        ids = sorted(r["chunk_id"] for r in got)
        assert ids == list(range(len(ids)))  # dense, zero-based


def test_containment_bounds_and_dominates_jaccard(spark):
    """Invariants for any pair: 0 <= jaccard <= min(containment) and
    max(containment) <= 1; symmetric pair of identical docs hits 1."""
    import random

    rng = random.Random(5)
    rows = [
        (i, " ".join(f"t{rng.randrange(30)}" for _ in range(rng.randrange(5, 60))))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(12) for b in range(a + 1, 12)],
        "id_a long, id_b long",
    )
    for r in D.ngram_containment(df, pairs).collect():
        ca, cb, j = r["containment_a"], r["containment_b"], r["jaccard"]
        assert 0.0 <= j <= 1.0 and 0.0 <= ca <= 1.0 and 0.0 <= cb <= 1.0
        assert j <= ca + 1e-9 and j <= cb + 1e-9  # jaccard <= containments
    twin = spark.createDataFrame(
        [(100, rows[0][1]), (101, rows[0][1])], "doc_id long, text string"
    )
    tp = spark.createDataFrame([(100, 101)], "id_a long, id_b long")
    if len([w for w in rows[0][1].split() if w]) >= 3:
        t = D.ngram_containment(twin, tp).collect()[0]
        assert t["containment_a"] == t["containment_b"] == t["jaccard"] == 1.0


def test_dsir_importance_ranks_targetlike_docs(spark):
    """DSIR log importance: documents written in the target's style must
    outscore off-target documents; n-gram accounting (unigrams +
    bigrams) is exact; empty docs are omitted."""
    from couch_to_postgres_spark.extensions import selection as SEL

    raw = spark.createDataFrame(
        [
            (1, "the encyclopedia article cites primary sources"),
            (2, "the encyclopedia entry lists verified references"),
            (3, "click here buy now limited offer click here"),
            (4, "free prize winner click now claim your prize"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [
            (100, "the encyclopedia survey cites careful sources"),
            (101, "verified references support the article claims"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in SEL.dsir_importance(raw, target).collect()}
    assert 5 not in got  # zero n-grams: omitted by contract
    # unigrams + bigrams: 6 words -> 6 + 5 = 11 grams
    assert got[1]["n_grams"] == 11
    assert min(got[1]["log_ratio"], got[2]["log_ratio"]) > max(
        got[3]["log_ratio"], got[4]["log_ratio"]
    )


def test_dsir_select_topk_deterministic(spark):
    from couch_to_postgres_spark.extensions import selection as SEL

    raw = spark.createDataFrame(
        [
            (i, "encyclopedia sources references article"
             if i % 3 == 0 else "spam click offer prize winner now")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(999, "encyclopedia article references sources")],
        "doc_id long, text string",
    )
    top = SEL.dsir_select(raw, target, k=10)
    rows = top.collect()
    assert len(rows) == 10
    assert all(r["doc_id"] % 3 == 0 for r in rows)  # all target-like
    assert "log_ratio" in top.columns and "text" in top.columns
    again = SEL.dsir_select(raw, target, k=10).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # ties (identical texts) break by id: the 10 smallest qualifying ids
    assert sorted(r["doc_id"] for r in rows) == [
        i for i in range(60) if i % 3 == 0
    ][:10]


def test_dsir_unigram_only_mode(spark):
    from couch_to_postgres_spark.extensions import selection as SEL

    raw = spark.createDataFrame(
        [(1, "alpha beta"), (2, "single")], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, "alpha")], "doc_id long, text string")
    got = {r["doc_id"]: r["n_grams"]
           for r in SEL.dsir_importance(raw, target, n=1).collect()}
    assert got == {1: 2, 2: 1}
    # n=2 on a single-word doc: no bigrams, no sequence(1,0) trap
    got2 = {r["doc_id"]: r["n_grams"]
            for r in SEL.dsir_importance(raw, target, n=2).collect()}
    assert got2 == {1: 3, 2: 1}


def test_dsir_resample_gumbel_without_replacement(spark):
    """Gumbel-top-k resampling: deterministic at a salt, re-dealt by
    salt, and the composition tilts hard toward high-importance docs
    when the weight gap dominates the Gumbel noise."""
    from couch_to_postgres_spark.extensions import selection as SEL

    raw = spark.createDataFrame(
        [
            (i, "encyclopedia sources references article verified claims"
             if i % 3 == 0 else "spam click offer prize winner now free")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(999, "encyclopedia article references sources verified claims")],
        "doc_id long, text string",
    )
    s1 = SEL.dsir_resample(raw, target, k=12)
    rows = s1.collect()
    assert len(rows) == 12
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, SEL.dsir_resample(raw, target, k=12).collect())
    )
    ids1 = {r["doc_id"] for r in rows}
    ids2 = {
        r["doc_id"]
        for r in SEL.dsir_resample(raw, target, k=12, salt="other").collect()
    }
    assert ids1 != ids2  # a new salt re-deals the draw
    # the log-ratio gap between the two styles is many nats, so the
    # Gumbel noise (scale 1) cannot flip most slots: the target-like
    # third must be strongly over-represented
    n_target_like = sum(1 for i in ids1 if i % 3 == 0)
    assert n_target_like >= 9


def test_cap_per_group_distributed_equals_window_plan(spark):
    """The high-cardinality cap path must return EXACTLY the window
    plan's rows across group shapes: dominant group, k-sized group,
    under-k group, and a high-cardinality tail of tiny groups."""
    from couch_to_postgres_spark.extensions.sampling import (
        cap_per_group,
        cap_per_group_distributed,
    )

    rows = (
        [(i, "huge") for i in range(3000)]
        + [(10_000 + i, "exact") for i in range(40)]
        + [(20_000 + i, "tiny") for i in range(7)]
        + [(30_000 + i, f"dom{i % 50}") for i in range(600)]  # 50 domains
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for k in (40, 7, 1):
        a = {
            (r["doc_id"], r["source"])
            for r in cap_per_group(df, k=k).collect()
        }
        b = {
            (r["doc_id"], r["source"])
            for r in cap_per_group_distributed(df, k=k).collect()
        }
        assert a == b, f"k={k}: sets differ"
    # schema passthrough + determinism
    out = cap_per_group_distributed(df, k=40)
    assert out.columns == df.columns
    again = {
        (r["doc_id"], r["source"])
        for r in cap_per_group_distributed(df, k=40).collect()
    }
    assert {(r["doc_id"], r["source"]) for r in out.collect()} == again


def test_cap_per_group_distributed_window_sees_only_band(spark):
    """Plan property: the one ranking window sits above the band filter,
    never over the whole corpus."""
    from couch_to_postgres_spark.extensions.sampling import (
        cap_per_group_distributed,
    )
    from couch_to_postgres_spark.plans.inspect import executed_plan

    df = spark.createDataFrame(
        [(i, "hot") for i in range(20000)] + [(50_000, "cold")],
        "doc_id long, source string",
    )
    plan = executed_plan(cap_per_group_distributed(df, k=100))
    assert plan.count("Window") == 1, plan
    below = plan[plan.find("Window"):]
    assert "_kn" in below and "Filter" in below, plan


def test_select_topk_by_key_equals_takeordered(spark):
    """The quantile-bracketed global top-k (select_topk_by_key) must
    return EXACTLY orderBy(key.desc(), id).limit(k) — heavy ties
    included (keys rounded to 1dp so hundreds of rows share a key) —
    across small k, corpus-fraction k, boundary k, and k > n."""
    from couch_to_postgres_spark.extensions.sampling import (
        select_topk_by_key,
    )

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.round(
            F.sin(F.col("id").cast("double")) * 10, 1
        ).alias("score"),
    )
    ref_all = [
        r["doc_id"]
        for r in df.orderBy(F.col("score").desc(), "doc_id").collect()
    ]
    for k in (1, 17, 500, 2500, 4999, 5000, 6000):
        diag = {}
        got = sorted(
            r["doc_id"]
            for r in select_topk_by_key(
                df, "score", k, id_col="doc_id", _diag=diag
            ).collect()
        )
        assert got == sorted(ref_all[:k]), k
        if 0 < k < 5000:
            # the band stays sketch-bounded — never corpus-sized
            assert diag.get("band_rows", 0) < 2500, (k, diag)


def test_select_topk_by_key_no_takeordered_no_global_sort(spark):
    from couch_to_postgres_spark.extensions.sampling import (
        select_topk_by_key,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97).cast("double").alias("score"),
    )
    import re

    plan = (
        select_topk_by_key(df, "score", 900, id_col="doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Catalyst may rewrite the band's row_number window into a
    # TakeOrdered — ON THE BAND, which is ideal. The scale property is
    # that every TakeOrdered limit is BAND-bounded (quota = k - c_above
    # ≤ band ≤ sketch-bounded), never k: the k=900 driver heap-merge is
    # exactly what this plan must not contain.
    for lim in re.findall(r"TakeOrderedAndProject\(limit=(\d+)", plan):
        assert int(lim) < 200, plan
    # and no global sort (Exchange rangepartitioning) anywhere
    assert "rangepartitioning" not in plan.lower()


def test_dsir_select_threshold_path_equals_takeordered(spark, sf_dir):
    from couch_to_postgres_spark.extensions import selection as SEL

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    tgt = docs.filter(F.col("source") == "src0")
    a = sorted(
        r["doc_id"]
        for r in SEL.dsir_select(
            docs, tgt, k=200, method="takeordered"
        ).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in SEL.dsir_select(
            docs, tgt, k=200, method="threshold"
        ).collect()
    )
    assert a == b and len(a) == 200
    # resample too: the Gumbel key rides the same cut
    ra = sorted(
        r["doc_id"]
        for r in SEL.dsir_resample(
            docs, tgt, k=150, method="takeordered"
        ).collect()
    )
    rb = sorted(
        r["doc_id"]
        for r in SEL.dsir_resample(
            docs, tgt, k=150, method="threshold"
        ).collect()
    )
    assert ra == rb and len(ra) == 150


def test_select_topk_by_key_tied_keys_split(spark):
    """r07 ADVICE: with heavily tied / low-cardinality keys the exact
    verify band can be corpus-sized and would funnel through one global
    window task. Above max_band_rows the tie-split takes over: whole
    tiers keep map-side, only the ONE boundary tier takes a partial —
    recursing through the quantile cut on the (unique) numeric id, so
    no window input ever exceeds the cap. Results stay EXACTLY
    orderBy(key.desc(), id).limit(k)."""
    from couch_to_postgres_spark.extensions.sampling import (
        select_topk_by_key,
    )

    # coarse key: 4 distinct values over 4000 rows
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("double").alias("score"),
    )
    ref = [
        r["doc_id"]
        for r in df.orderBy(F.col("score").desc(), "doc_id").collect()
    ]
    for k, want_path in (
        (1500, "boundary-recurse"),  # boundary tier 1000 rows > cap
        (1000, "no-boundary"),  # quota lands exactly on a tier edge
    ):
        diag = {}
        got = sorted(
            r["doc_id"]
            for r in select_topk_by_key(
                df, "score", k, id_col="doc_id", max_band_rows=100,
                _diag=diag,
            ).collect()
        )
        assert got == sorted(ref[:k]), k
        assert diag["tie_split"]["path"] == want_path, (k, diag)

    # constant key (the degenerate worst case): every row ties
    const = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("score")
    )
    diag = {}
    got = sorted(
        r["doc_id"]
        for r in select_topk_by_key(
            const, "score", 700, id_col="doc_id", max_band_rows=100,
            _diag=diag,
        ).collect()
    )
    assert got == list(range(700))
    assert diag["tie_split"]["path"] == "boundary-recurse"

    # string ids: a > cap tie cannot recurse through sampled quantiles
    # (non-numeric domain) — documented residual single window, flagged
    sdf = spark.range(1200).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.lit(2.0).alias("score"),
    )
    want = sorted(
        r["doc_id"]
        for r in sdf.orderBy(F.col("score").desc(), "doc_id")
        .limit(300)
        .collect()
    )
    diag = {}
    got = sorted(
        r["doc_id"]
        for r in select_topk_by_key(
            sdf, "score", 300, id_col="doc_id", max_band_rows=100,
            _diag=diag,
        ).collect()
    )
    assert got == want
    assert diag["tie_split"]["path"] == "boundary-window-unbounded"


def test_select_topk_tie_split_no_oversized_window(spark):
    """Plan shape under the tie-split: any TakeOrdered/window limit in
    the executed plan is boundary-quota-sized, and the map-side tier
    keep carries no window at all."""
    from couch_to_postgres_spark.extensions.sampling import (
        select_topk_by_key,
    )

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("double").alias("score"),
    )
    diag = {}
    sel = select_topk_by_key(
        df, "score", 1500, id_col="doc_id", max_band_rows=100, _diag=diag
    )
    assert sel.count() == 1500
    # the recursion's inner cut re-brackets on the unique id: its band
    # is sketch-bounded again, never the 1000-row tier
    import re

    plan = sel._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"TakeOrderedAndProject\(limit=(\d+)", plan):
        assert int(m.group(1)) <= 600, plan[:2000]


def test_ngram_lm_stream_incremental_equals_batch(spark, tmp_path):
    """Streaming DSIR: bucket counts merge additively, so scoring
    against the maintained LM state equals refitting on the union —
    exactly. A replayed batch_id is a no-op (counts are NOT idempotent
    under naive re-merge, so the marker check is the replay guard)."""
    from couch_to_postgres_spark.extensions.selection import (
        dsir_importance,
        dsir_importance_incremental,
        lm_counts_from_state,
        ngram_lm_stream,
    )

    rows = [
        (i, "src%d" % (i % 3), "the quick crawl doc %d about spark rows" % i)
        for i in range(60)
    ]
    full = spark.createDataFrame(rows, "doc_id long, source string, text string")
    b1 = full.filter(F.col("doc_id") < 30)
    b2 = full.filter(F.col("doc_id") >= 30)
    state = str(tmp_path / "lm_state")

    ngram_lm_stream(spark, state, b1, batch_id=0)
    ngram_lm_stream(spark, state, b2, batch_id=1)
    ngram_lm_stream(spark, state, b1, batch_id=0)  # replay: must be a no-op

    from couch_to_postgres_spark.extensions.selection import (
        ngram_bucket_counts,
    )

    want_counts = sorted(
        (r["bucket"], r["c"]) for r in ngram_bucket_counts(full).collect()
    )
    got_counts = sorted(
        (r["bucket"], r["c"])
        for r in lm_counts_from_state(spark, state).collect()
    )
    assert got_counts == want_counts

    target = full.filter(F.col("source") == "src0")
    want = sorted(
        tuple(r) for r in dsir_importance(full, target).collect()
    )
    got = sorted(
        tuple(r)
        for r in dsir_importance_incremental(
            spark, state, full, target
        ).collect()
    )
    assert got == want


def test_ngram_lm_stream_unreplayed_state_raises(spark, tmp_path):
    from couch_to_postgres_spark.extensions.selection import (
        dsir_importance_incremental,
    )

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no committed LM state"):
        dsir_importance_incremental(
            spark, str(tmp_path / "nope"), df, df
        )
