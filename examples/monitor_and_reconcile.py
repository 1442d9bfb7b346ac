"""Worked example: corpus monitoring and replica operations, Spark-first.

1. line-level hygiene: C4 line cleaning and the full Gopher rule table,
2. KMV bottom-k sketches: per-source distinct-shingle estimates and
   sketch-only pairwise Jaccard (O(k) state per source),
3. streaming sketch maintenance: two batches merge to the one-shot
   sketch, replays are set-union no-ops,
4. content-level reconciliation: diff a damaged replica, generate the
   repair plan, apply it through the CDC merge, verify convergence,
5. trending terms answered from the maintained search index (tail
   window vs base rate, no corpus-text re-read).

Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python examples/monitor_and_reconcile.py
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.dedup import word_shingles
from couch_to_postgres_spark.extensions.lines import (
    as_lines,
    c4_line_clean,
    gopher_rules,
)
from couch_to_postgres_spark.extensions.sketch import (
    bottomk_sketch,
    distinct_estimate,
    sketch_jaccard,
    sketch_stream,
)
from couch_to_postgres_spark.operators.cdc import apply_changes
from couch_to_postgres_spark.operators.mirror import (
    content_diff,
    diff_report,
    docs_mirror,
    repair_plan,
)
from couch_to_postgres_spark.session import get_spark, load_table


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="monitor_and_reconcile")
    docs = load_table(spark, sf_dir, "documents")
    # the synthetic corpus is single-line; re-line it deterministically
    # so the line-level rules have real structure to act on
    relined = docs.select("doc_id", "source", as_lines("text", 7).alias("text"))

    # 1. hygiene: C4 line cleaning, then the Gopher rule table
    cleaned = c4_line_clean(relined, min_words=7, require_terminal_punct=False)
    print(f"C4 line-clean: {cleaned.count()} docs keep at least one line")
    g = gopher_rules(relined, min_words=30)
    n_pass = g.filter(F.col("gopher_pass")).count()
    print(f"Gopher rule table: {n_pass}/{g.count()} docs pass every rule")

    # 2. KMV sketches over the per-source shingle domains
    shingles = docs.select(
        "source", F.explode(word_shingles("text", 3)).alias("sh")
    )
    sk = bottomk_sketch(shingles, "source", F.col("sh"), k=64)
    est = distinct_estimate(sk, k=64).orderBy("source").limit(3).collect()
    for r in est:
        print(f"  {r['source']}: ~{r['distinct_est']:.0f} distinct shingles")
    j = sketch_jaccard(sk, "source", k=64)
    top = j.orderBy(F.desc("jaccard_est")).first()
    print(
        f"most-similar sources: {top['g_a']} ~ {top['g_b']} "
        f"(jaccard_est {top['jaccard_est']})"
    )

    # 3. streaming maintenance: batch-wise merge == one-shot sketch
    state = tempfile.mkdtemp(prefix="sketch_state_")
    try:
        b1 = shingles.filter(F.substring(F.md5("sh"), 1, 1) < "8")
        b2 = shingles.filter(F.substring(F.md5("sh"), 1, 1) >= "8")
        sketch_stream(spark, state, b1, "source", F.col("sh"), k=64)
        merged = sketch_stream(spark, state, b2, "source", F.col("sh"), k=64)
        same = merged.select("source", "sketch").exceptAll(
            sk.select("source", "sketch")
        )
        print(f"stream-merged sketch == one-shot sketch: {same.count() == 0}")
    finally:
        shutil.rmtree(state, ignore_errors=True)

    # 4. reconciliation: damage a replica, diff, repair, converge
    left = docs_mirror(spark, sf_dir)
    right = left.filter(F.substring(F.md5("id"), 1, 1) != "0").withColumn(
        "doc",
        F.when(
            F.substring(F.md5("id"), 2, 1) == "0",
            F.concat(F.col("doc"), F.lit("corrupt")),
        ).otherwise(F.col("doc")),
    )
    d = content_diff(left, right)
    print("replica damage:", {
        r["status"]: r["n"] for r in diff_report(d).collect()
    })
    repaired = apply_changes(right, repair_plan(d, left))
    print(f"post-repair diff rows: {content_diff(left, repaired).count()}")

    # 5. trending terms from a maintained search index: ingest two
    # windows, then ask the index what changed — without re-reading text
    from couch_to_postgres_spark.streaming.search_stream import (
        search_index_batch,
    )
    from couch_to_postgres_spark.streaming.stats_stream import (
        trending_terms_from_index,
    )

    idx = tempfile.mkdtemp(prefix="trend_idx_")
    try:
        base = docs.select(
            F.col("doc_id").cast("long").alias("seq"),
            "doc_id",
            F.lit(False).alias("deleted"),
            "text",
        )
        tail = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 10_000).cast("long").alias("seq"),
            "doc_id",
            F.lit(False).alias("deleted"),
            F.concat(F.col("text"), F.lit(" breaking update")).alias("text"),
        )
        search_index_batch(spark, idx, base)
        search_index_batch(spark, idx, tail)
        trend = trending_terms_from_index(
            spark, idx, split_seq=5_000, k=5, min_count=2
        ).collect()
        print("trending:", [(r["token"], r["lift"]) for r in trend[:3]])
    finally:
        shutil.rmtree(idx, ignore_errors=True)

    spark.stop()
    print("monitor_and_reconcile: done")


if __name__ == "__main__":
    main()
