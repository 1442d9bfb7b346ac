"""Worked example: a training-data preparation run over the `documents`
corpus, Spark-first.

1. near-dedup (MinHash LSH → exact-Jaccard verify → cluster → keep rep),
2. boilerplate span masking (winnowing fingerprints; one canonical copy),
3. quality gates (heuristic ratios) + learned classifier pass,
4. benchmark decontamination: measure eval overlap AND drop leaking
   train docs,
5. source mixing (deterministic per-source rates) and train/eval split,
6. sequence packing (global token offsets via distributed prefix scan),
7. model-based scoring (bigram LM + repetition signals),
8. sharded export (deterministic shard layout + manifest audit).

Run: python examples/prepare_corpus.py [sf_dir]
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.corpus import prepare_training_corpus
from couch_to_postgres_spark.extensions.dedup import near_dedup
from couch_to_postgres_spark.extensions.sampling import stratified_sample
from couch_to_postgres_spark.extensions.text import (
    contamination,
    hash_split,
    quality_filter,
)
from couch_to_postgres_spark.session import get_spark, load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="prepare_corpus")
    docs = load_table(spark, sf_dir, "documents")
    print(f"corpus: {docs.count()} documents")

    # 1. near-dedup: exact + MinHash-LSH-verified clusters, keep one rep
    # each (KM double-hash family at the tuned b=8 x r=2 operating point)
    deduped = near_dedup(docs, num_bands=8, rows_per_band=2, hash_family="km")
    print(f"after near-dedup: {deduped.count()}")

    # 2. span-level dedup: mask boilerplate passages shared across docs,
    # keeping the minimum-id carrier's canonical copy
    from couch_to_postgres_spark.extensions.dedup import mask_shared_spans

    masked = mask_shared_spans(deduped, min_docs=3)
    n_masked = masked.filter(F.col("n_words_masked") > 0).count()
    print(f"docs with boilerplate spans masked: {n_masked}")

    # 3. quality gates (heuristic), then the learned classifier pass
    kept = masked.join(
        quality_filter(masked).select("doc_id"), "doc_id", "left_semi"
    )
    from couch_to_postgres_spark.extensions.quality import classifier_filter

    kept = classifier_filter(kept.coalesce(4))
    print(f"after quality gates + classifier: {kept.count()}")

    # 4. split, then measure eval contamination against train. For a
    # leakage-proof split keyed on near-dup cluster representatives, use
    # corpus.leakage_safe_split (near-duplicates never straddle the
    # boundary); the id-keyed hash_split here keeps the demo fast.
    split = hash_split(kept)
    train = split.filter(F.col("split") == "train")
    ev = split.filter(F.col("split") == "eval")
    contaminated = contamination(train, ev).filter(F.col("overlap_frac") > 0.5)
    print(f"eval docs >50% shingle-contaminated by train: {contaminated.count()}")
    from couch_to_postgres_spark.extensions.text import decontaminate

    train = decontaminate(train, ev, max_overlap_frac=0.5)
    print(f"train after dropping eval-leaking docs: {train.count()}")

    # 5. mix sources at configured rates (deterministic, resumable)
    rates = {s: 1.0 if i % 2 == 0 else 0.5 for i, s in enumerate(
        sorted(r["source"] for r in train.select("source").distinct().collect())
    )}
    mixed = stratified_sample(train, rates)
    print(f"after mixing {len(rates)} sources: {mixed.count()}")

    # 6. the one-plan composition: dedup -> quality -> split -> pack
    packed = prepare_training_corpus(docs, budget=256)
    n_packs = packed.agg(
        (F.max(F.col("pack_id") + F.col("n_packs")) - 1).alias("n")
    ).first()["n"]
    print(f"packed train corpus: {packed.count()} docs into ~{n_packs} packs of 256 tokens")

    # 7. model-based quality: bigram LM score + repetition signals
    from couch_to_postgres_spark.extensions.text import (
        bigram_logprob_score,
        repetition_signals,
    )

    lm = bigram_logprob_score(mixed)
    reps = repetition_signals(mixed)
    junk = lm.filter(F.col("mean_bigram_logprob") < -6).join(
        reps.filter(F.col("dup_shingle_frac") > 0.3), "doc_id", "full_outer"
    )
    print(f"docs flagged by LM score or shingle repetition: {junk.count()}")

    # 8. sharded export: deterministic shard dirs, in-shard training order,
    # bounded file sizes; the returned manifest audits what landed
    from couch_to_postgres_spark.extensions.corpus import export_shards

    with tempfile.TemporaryDirectory() as tmp:
        manifest = export_shards(
            mixed, f"{tmp}/shards", num_shards=4, max_rows_per_file=10_000
        )
        for r in manifest.orderBy("shard").collect():
            print(
                f"  shard={r['shard']}: {r['n_docs']} docs, "
                f"{r['n_tokens']} tokens"
            )

    spark.stop()


if __name__ == "__main__":
    main()
