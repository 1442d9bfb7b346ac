"""Streaming-incremental corpus-QA stats: keep the distribution-drift
monitors (per-source unigram KL, hapax rate, per-doc entropy inputs)
answerable from maintained index state instead of re-tokenizing the
corpus per report.

The batch QA suite (:mod:`couch_to_postgres_spark.extensions.text`)
tokenizes the corpus on every call — correct, but a live pipeline under
the CDC change feed (reference lib/index.js follow loop) should pay
tokenization once per CHANGED doc. The BM25 search index
(:mod:`couch_to_postgres_spark.streaming.search_stream`) already
maintains exactly the state these reports need — per-doc-version token
frequencies (postings) and seq-wins liveness (doclen + tombstones).
This module adds the one missing piece, a per-doc ATTRIBUTE file
(doc → source, same append-only seq-wins discipline), and answers the
QA reports from state alone:

* ingest is O(changed docs): :func:`stats_index_batch` runs the
  :func:`search_index_batch` step and appends one skinny attrs file
  (or, on an empty index, writes the attrs into the base that batch
  bootstraps);
* reports read skinny state: live postings ⋈ live attrs → (source,
  token, count) — bytes proportional to the index, never corpus text;
* scoring reuses :func:`extensions.text.kl_from_group_counts` /
  :func:`hapax_from_group_counts` — the index path and the
  fresh-tokenize path share the exact aggregation expressions, so they
  cannot drift numerically (the ``bm25_rank_components`` discipline);
  equivalence is pinned by tests and the ``x_kl_incremental`` /
  ``x_hapax_incremental`` cross-engine oracles.

Plan shape at 100 TB: the (source, token) rollup partial-aggregates
map-side before its one shuffle; the doc→source map is a skinny frame
joined once; liveness is the same two skinny aggregates the search path
uses. Nothing corpus-text-sized is ever read at report time.

State file (in the same index root as the search index):

* ``<index>/attrs`` — (doc_id, <attr cols...>, seq): one row per
  ingested doc VERSION; max-seq row wins, tombstones shared with the
  search index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.text import (
    hapax_from_group_counts,
    kl_from_group_counts,
)
from couch_to_postgres_spark.streaming.commit import writing
from couch_to_postgres_spark.streaming.meta_io import (
    read_meta_rows,
    try_open_parquet,
    write_meta_rows,
)
from couch_to_postgres_spark.streaming.search_stream import (
    SearchIndexBatchStats,
    _search_index_batch_locked,
    live_doclen,
)


def stats_index_batch(
    spark: SparkSession,
    index_path: str,
    changes: DataFrame,
    attr_cols: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "seq",
    deleted_col: str = "deleted",
) -> SearchIndexBatchStats:
    """Apply one micro-batch of changes to the search index AND record
    the per-doc attributes (default: ``source``) needed by the grouped
    QA reports. Same change contract as :func:`search_index_batch` plus
    the attr columns on upsert rows; deletes share the search index's
    tombstones. Replay-safe for the same reason the search ingest is:
    re-appended rows are byte-identical and liveness is max-seq."""
    attr_cols = ["source"] if attr_cols is None else list(attr_cols)
    latest_up = (
        changes.filter(~F.col(deleted_col).cast("boolean"))
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(
                    F.col(seq_col).cast("long").alias("seq"),
                    *[F.col(c).alias(c) for c in attr_cols],
                ),
                F.col(seq_col),
            ).alias("a")
        )
        .select(id_col, *[f"a.{c}" for c in attr_cols], "a.seq")
    )
    # the attrs land with the batch: in the attrs tail, or in the
    # base a first batch bootstraps (every attrs tail row's doc then
    # has a tail version or a tombstone, which the fold relies on)
    with writing(index_path):
        return _search_index_batch_locked(
            spark, index_path, changes, text_col, id_col, seq_col,
            deleted_col, impacts_default=True, attrs=latest_up,
        )


def live_attrs(
    spark: SparkSession,
    index_path: str,
    attr_cols: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, <attrs...>) for every LIVE doc: max-seq attrs row per doc,
    restricted to the live set (tombstones/supersession via the shared
    :func:`live_doclen`). Two skinny aggregates + one skinny join."""
    attr_cols = ["source"] if attr_cols is None else list(attr_cols)
    live_all = live_doclen(spark, index_path, id_col)
    # a missing attrs component must carry the LIVE set's id dtype —
    # string-id corpora would otherwise hit an ANSI string→bigint cast
    # in the join below (same discipline as meta_io.read_components)
    id_t = dict(live_all.dtypes)[id_col]
    schema = ", ".join(
        [f"{id_col} {id_t}"] + [f"{c} string" for c in attr_cols] + ["seq long"]
    )
    # flat append tail ∪ id-bucketed base (r10 layout) — one reader
    from couch_to_postgres_spark.streaming.search_stream import _all_attrs

    attrs = _all_attrs(spark, index_path, id_col)
    if attrs is None:
        attrs = spark.createDataFrame([], schema)
    latest = (
        attrs.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(*[F.col(c).alias(c) for c in attr_cols]), F.col("seq")
            ).alias("a")
        )
        .select(id_col, *[f"a.{c}" for c in attr_cols])
    )
    return latest.join(live_all.select(id_col), id_col)


def group_token_counts_from_index(
    spark: SparkSession,
    index_path: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(grp, w, c_gw) unigram counts per attribute group over the LIVE
    corpus, from index state alone — the shared input of the KL and
    hapax reports. Live postings rows (compacted base ∪ append tail,
    liveness + replay dedup owned by
    :func:`search_stream.live_postings`) join the skinny doc→group map,
    then one partial-aggregated (grp, token) rollup."""
    from couch_to_postgres_spark.streaming.search_stream import live_postings

    postings = live_postings(spark, index_path, id_col)
    grp = live_attrs(spark, index_path, [group_col], id_col).select(
        id_col, F.col(group_col).alias("grp")
    )
    return (
        postings
        .join(grp, id_col)
        .groupBy("grp", F.col("token").alias("w"))
        .agg(F.sum("tf").cast("long").alias("c_gw"))
    )


def kl_by_source_from_index(
    spark: SparkSession,
    index_path: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus mixture, answered
    from the maintained index — same numbers as
    :func:`extensions.text.kl_by_source` over the equivalent live corpus
    snapshot (shared scoring stage)."""
    gw = group_token_counts_from_index(spark, index_path, group_col, id_col)
    return kl_from_group_counts(gw, group_col=group_col)


def hapax_rate_from_index(
    spark: SparkSession,
    index_path: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source hapax rate from the maintained index — same numbers as
    :func:`extensions.text.hapax_rate_by_source` over the equivalent
    live corpus snapshot (shared rollup stage)."""
    gw = group_token_counts_from_index(
        spark, index_path, group_col, id_col
    ).withColumnRenamed("c_gw", "c")
    return hapax_from_group_counts(gw, group_col=group_col)


def vocab_growth_from_index(
    spark: SparkSession,
    index_path: str,
    bucket_width: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary growth over INGEST ORDER, answered from the maintained
    postings log — the Heaps-law curve a healthy corpus bends (new types
    keep arriving sub-linearly) and a template flood flattens (no new
    types) or noise blows up (every token new). Each type is attributed
    to the seq bucket of its FIRST arrival; emits
    ``(bucket, new_types, cum_types)`` ordered by bucket.

    O(index), not O(corpus text): one (token → min seq) aggregate over
    the postings log — partial-aggregated map-side, the shuffle carries
    the VOCABULARY — then bucket counts and a running sum over
    bucket-count rows. Reads the APPEND LOG's arrival history (deletes
    don't erase a type's first arrival); after a compaction rewrites
    postings to live rows only, the curve reflects live-set first
    carriers instead — run it on the pre-compaction log for true arrival
    history. Bucket ids use exact integer arithmetic
    (``(seq - seq % w) / w``), never float division."""
    from couch_to_postgres_spark.streaming.search_stream import _full_postings

    w = int(bucket_width)
    if w <= 0:
        raise ValueError("bucket_width must be positive")
    posts = _full_postings(spark, index_path, id_col)
    first = posts.groupBy("token").agg(F.min("seq").alias("first_seq"))
    buckets = first.groupBy(
        ((F.col("first_seq") - F.col("first_seq") % w) / w)
        .cast("long")
        .alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    win = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return buckets.select(
        "bucket",
        "new_types",
        F.sum("new_types").over(win).cast("long").alias("cum_types"),
    ).orderBy("bucket")


def trending_terms_from_index(
    spark: SparkSession,
    index_path: str,
    split_seq: int,
    k: int = 20,
    min_count: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Trending terms from the maintained index: the live-corpus tokens
    whose rate in the TAIL window (doc-version ``seq > split_seq``) most
    exceeds their BASE-window rate — the "what changed in the crawl
    since seq S" monitor (template floods, new seeds, topic shifts)
    answered from postings state, never corpus text.

    Smoothed rate lift per token::

        lift = ((c_tail + 0.5) / (N_tail + 1)) / ((c_base + 0.5) / (N_base + 1))

    (add-half counts / add-one totals keep both windows finite when a
    token — or a whole window — is empty). Returns the top ``k`` rows
    ``(token, c_base, c_tail, lift)`` by (lift desc, c_tail desc,
    token) — a total order, so the cut is deterministic.

    O(index) plan: live postings (the same two skinny aggregates every
    reader here uses) roll up to one (token → window counts) aggregate
    with map-side partials; totals broadcast as one row; the final cut
    is sort+limit ⇒ TakeOrdered — no global sort, no corpus-text read.
    A doc UPDATED after ``split_seq`` counts wholly in the tail (its
    live version arrived there), matching CDC visibility semantics.
    """
    from couch_to_postgres_spark.streaming.search_stream import live_postings

    rows = live_postings(spark, index_path, id_col)
    per = rows.groupBy("token").agg(
        F.sum(F.when(F.col("seq") <= split_seq, F.col("tf")).otherwise(0))
        .cast("long")
        .alias("c_base"),
        F.sum(F.when(F.col("seq") > split_seq, F.col("tf")).otherwise(0))
        .cast("long")
        .alias("c_tail"),
    )
    tot = per.agg(
        F.sum("c_base").cast("long").alias("n_base"),
        F.sum("c_tail").cast("long").alias("n_tail"),
    )
    lift = F.round(
        ((F.col("c_tail") + F.lit(0.5)) / (F.col("n_tail") + F.lit(1.0)))
        / ((F.col("c_base") + F.lit(0.5)) / (F.col("n_base") + F.lit(1.0))),
        6,
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .filter(F.col("c_tail") >= min_count)
        .select("token", "c_base", "c_tail", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.desc("c_tail"), "token")
        .limit(k)
    )


def vocab_growth_by_group_from_index(
    spark: SparkSession,
    index_path: str,
    bucket_width: int = 100,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-GROUP Heaps curves from the maintained index: vocabulary
    growth over ingest order computed independently for every attribute
    group (source/domain/language) — emits ``(grp, bucket, new_types,
    cum_types)``. The per-source shape is the drift diagnostic the
    global curve hides: a template flood flattens ONE source's curve
    while the corpus total still looks healthy, and a new crawl seed
    shows as one source suddenly minting types.

    Same O(index) discipline as :func:`vocab_growth_from_index`: one
    (grp, token → min seq) aggregate over the postings log joined to the
    attrs VERSION log on (id, seq) — both per-version rows from the same
    micro-batch, so a doc whose source changed attributes its later
    tokens to the new group, consistent with arrival history. The
    shuffle carries ``Σ_g |vocab_g|``; the running sum is a window over
    bucket-count rows PARTITIONED BY GROUP (group-cardinality × buckets
    rows — never corpus-sized). Deletes don't erase a type's first
    arrival (append-log semantics, same caveat about post-compaction
    reads as the global curve)."""
    from couch_to_postgres_spark.streaming.search_stream import _full_postings

    w = int(bucket_width)
    if w <= 0:
        raise ValueError("bucket_width must be positive")
    posts = _full_postings(spark, index_path, id_col)
    live_all = live_doclen(spark, index_path, id_col)
    id_t = dict(live_all.dtypes)[id_col]
    from couch_to_postgres_spark.streaming.search_stream import _all_attrs

    attrs_all = _all_attrs(spark, index_path, id_col)
    if attrs_all is None:
        attrs_all = spark.createDataFrame(
            [], f"{id_col} {id_t}, {group_col} string, seq long"
        )
    attrs = attrs_all.select(id_col, F.col(group_col).alias("grp"), "seq")
    first = (
        posts.join(attrs, on=[id_col, "seq"])
        .groupBy("grp", "token")
        .agg(F.min("seq").alias("first_seq"))
    )
    buckets = first.groupBy(
        "grp",
        ((F.col("first_seq") - F.col("first_seq") % w) / w)
        .cast("long")
        .alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    win = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return buckets.select(
        F.col("grp").alias(group_col),
        "bucket",
        "new_types",
        F.sum("new_types").over(win).cast("long").alias("cum_types"),
    ).orderBy(group_col, "bucket")


def shingle_changes(
    changes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "seq",
    deleted_col: str = "deleted",
    shingle_n: int = 3,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Re-express a CDC changes frame so the LSM index machinery
    maintains a SHINGLE index: the ``text`` becomes the space-joined
    md5 fingerprints of the doc's distinct word ``shingle_n``-grams —
    32-hex "tokens" the standard ``search_index_batch`` tokenizer
    splits right back out. One index implementation therefore serves
    both retrieval (word tokens) and decontamination (shingle
    fingerprints); liveness, tombstones, compaction, bucket pruning,
    and the watchdog policy all come for free. Deleted rows pass
    through (their text is irrelevant; the tombstone does the work).
    ``keep_cols`` carries attribute columns (e.g. ``source``) through
    unchanged so :func:`stats_index_batch` can maintain the doc→attr
    map alongside the shingle postings (the grouped readers —
    :func:`source_overlap_from_index` — need it)."""
    from couch_to_postgres_spark.extensions.dedup import word_shingles

    fingerprints = F.array_join(
        F.transform(
            F.array_distinct(word_shingles(text_col, shingle_n)),
            lambda s: F.md5(s),
        ),
        " ",
    )
    return changes.select(
        F.col(seq_col),
        F.col(id_col),
        F.col(deleted_col),
        F.when(F.col(deleted_col), F.lit(None))
        .otherwise(fingerprints)
        .alias("text"),
        *[F.col(c) for c in (keep_cols or [])],
    )


def _shingle_meta_path(index_path: str) -> str:
    return os.path.join(index_path, "shingle_meta")


def record_shingle_n(
    spark: SparkSession, index_path: str, shingle_n: int
) -> None:
    """Record the shingle width the index is maintained with (ADVICE
    r09: md5 fingerprints of different n-grams never match, so a reader
    probing with the wrong ``shingle_n`` silently gets ZERO overlap —
    the worst possible failure mode for a decontamination gate). One-row
    parquet next to the index components; write-once, and a later
    ingest declaring a DIFFERENT width fails loudly instead of mixing
    incomparable fingerprints into one postings file. Idempotent per
    micro-batch (re-asserting the same width is a 1-row read)."""
    existing = read_meta_rows(spark, _shingle_meta_path(index_path))
    if existing:
        got = int(existing[0]["shingle_n"])
        if got != int(shingle_n):
            raise ValueError(
                f"shingle index at {index_path} was built with "
                f"shingle_n={got}; refusing to ingest shingle_n="
                f"{shingle_n} fingerprints into it"
            )
        return
    write_meta_rows(
        spark,
        _shingle_meta_path(index_path),
        [(int(shingle_n),)],
        "shingle_n int",
    )


def _check_shingle_n(
    spark: SparkSession, index_path: str, shingle_n: int
) -> None:
    """Reader-side guard: if the index records its shingle width
    (:func:`record_shingle_n` — every daemon-maintained index does),
    a query declaring a different width raises instead of returning
    all-zero overlaps. An unmarked index (one built by feeding
    :func:`shingle_changes` to ``search_index_batch`` directly) passes —
    the caller is asserting the width themselves."""
    existing = read_meta_rows(spark, _shingle_meta_path(index_path))
    if existing and int(existing[0]["shingle_n"]) != int(shingle_n):
        raise ValueError(
            f"shingle index at {index_path} holds shingle_n="
            f"{int(existing[0]['shingle_n'])} fingerprints; a "
            f"shingle_n={shingle_n} probe can never match them"
        )


def contamination_from_index(
    spark: SparkSession,
    index_path: str,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark decontamination answered FROM a maintained shingle
    index (:func:`shingle_changes` ∘ ``search_index_batch``): for each
    eval document, the fraction of its distinct word shingles that
    appears anywhere in the LIVE indexed training corpus — the same
    ``(id, n_shingles, n_overlap, overlap_frac)`` contract and values
    as :func:`extensions.text.contamination` (md5 fingerprints stand in
    for the raw shingles on the join key; equality holds whenever the
    128-bit fingerprints are collision-free, i.e. always in practice).

    Why it exists: the batch operator re-shingles the TRAIN corpus on
    every decontamination run — at 100 TB that is the dominant cost and
    it repeats per benchmark suite. Here train-side cost is a distinct
    over live postings tokens (O(index), corpus text never read) and
    only the EVAL side — benchmarks, small by construction — is
    shingled fresh. The join key is a uniform 32-hex fingerprint: no
    hot keys, and the train side collapses to its distinct shingle
    vocabulary before the join exactly like the batch plan.

    Read-mostly fast path (r10, VERDICT r09 #3): contamination only
    needs MEMBERSHIP in the train vocabulary, and on a compacted index
    with no churn (``base_is_live``) the base's ``dfs`` table already
    enumerates exactly the live distinct fingerprints — so the train
    side reads the VOCAB-sized dfs instead of the postings (which carry
    one row per (doc, shingle) and outweigh the corpus text itself;
    SCALING.md r09's honest negative). The more cross-doc repetition —
    boilerplate, templates, the long-doc regime — the further vocab
    bytes fall below text bytes and the further ahead the index pulls.
    Any churn since compaction falls back to the exact live-postings
    merge."""
    from couch_to_postgres_spark.extensions.dedup import word_shingles
    from couch_to_postgres_spark.streaming.search_stream import (
        base_is_live,
        live_postings,
    )

    _check_shingle_n(spark, index_path, shingle_n)
    eval_sh = eval_df.select(
        F.col(id_col),
        F.explode_outer(word_shingles(text_col, shingle_n)).alias(
            "shingle"
        ),
    ).distinct()
    eval_vocab = (
        eval_sh.filter(F.col("shingle").isNotNull())
        .select(F.md5("shingle").alias("token"))
        .distinct()
    )
    train_src = None
    if base_is_live(spark, index_path):
        # vocab-sized membership source: the compacted base's dfs table
        # holds exactly the live distinct fingerprints (derived FROM the
        # base postings at compaction; base_is_live ⟹ live == base).
        # Partial per-(bucket, id_sub) rows may repeat a token across
        # sub-dirs — the distinct below collapses them. None: a
        # pre-dfs-layout base.
        dfs = try_open_parquet(spark, os.path.join(index_path, "base", "dfs"))
        if dfs is not None:
            train_src = dfs.select("token")
    if train_src is None:
        train_src = live_postings(spark, index_path, id_col).select("token")
    # semi-join the postings against the BROADCAST eval vocabulary
    # BEFORE the distinct: a token outside the eval set can never
    # produce a hit, so values are unchanged — but the shuffle drops
    # from the train shingle vocabulary (corpus-scale on short-doc
    # corpora) to the hit set (eval-scale). Measured: the old
    # corpus-wide distinct made this path scale 7.5x at 10x data,
    # same as the batch re-shingle it exists to beat.
    train_tokens = (
        train_src
        .join(F.broadcast(eval_vocab), "token", "left_semi")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = eval_sh.withColumn("token", F.md5("shingle")).join(
        train_tokens, "token", "left"
    )
    return joined.groupBy(id_col).agg(
        F.sum(F.when(F.col("shingle").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0)))
        .cast("long")
        .alias("n_overlap"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            / F.greatest(
                F.sum(
                    F.when(F.col("shingle").isNotNull(), 1).otherwise(0)
                ),
                F.lit(1),
            ),
            4,
        ).alias("overlap_frac"),
    )


def decontaminate_from_index(
    spark: SparkSession,
    index_path: str,
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_overlap_frac: float = 0.0,
) -> DataFrame:
    """Drop-side decontamination from the maintained shingle index —
    the complement of :func:`contamination_from_index`, matching
    :func:`extensions.text.decontaminate`'s values (same drop rule:
    ``n_overlap > n_shingles * max_overlap_frac`` over DISTINCT
    shingles; the index's doclen IS each live doc's distinct-shingle
    count, since :func:`shingle_changes` dedupes before fingerprinting).

    Train text is never re-shingled: detection is the (small, broadcast)
    eval fingerprint vocabulary joined against live postings, the
    per-doc rollup reads skinny index state, and only the contaminated
    id set — small by a decontamination run's premise — reaches the
    anti-join against ``train``. The asymmetry the batch operator
    exploits (tiny eval, huge train) is kept; the train-side shingle
    explode it still pays per run is what the index amortizes away.
    ``train`` should be the indexed live corpus (the steady state when
    both are maintained from the same feed)."""
    from couch_to_postgres_spark.extensions.dedup import word_shingles
    from couch_to_postgres_spark.streaming.search_stream import (
        live_doclen,
        live_postings,
    )

    _check_shingle_n(spark, index_path, shingle_n)
    eval_tokens = (
        eval_df.select(
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
        )
        .distinct()
        .select(F.md5("shingle").alias("token"))
    )
    # live_postings owns liveness AND replay dedup (VERDICT r08 #1: the
    # raw-postings count here double-counted replayed tail rows,
    # inflating _ov vs dl and spuriously dropping docs at frac > 0)
    postings = live_postings(spark, index_path, id_col)
    live = live_doclen(spark, index_path, id_col)
    hits = (
        postings.join(F.broadcast(eval_tokens), "token")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_ov"))
    )
    contaminated = (
        live.select(id_col, "dl")
        .join(hits, id_col)
        .filter(F.col("_ov") > F.col("dl") * F.lit(max_overlap_frac))
        .select(id_col)
    )
    return train.join(F.broadcast(contaminated), on=id_col, how="left_anti")


def novelty_from_index(
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty answered FROM a maintained shingle index
    (VERDICT r08 #6): the fraction of a doc's distinct shingles whose
    FIRST carrier (min id) is the doc itself — same
    ``(id, n_shingles, n_novel, novelty_frac)`` contract and values as
    :func:`extensions.text.novelty_curve` over the equivalent live
    corpus (md5 fingerprints stand in for raw shingles on the grouping
    key; docs shorter than one shingle are absent in both).

    Why it exists: the batch operator re-shingles the corpus per run —
    the same cost :func:`contamination_from_index` amortizes away. Here
    the distinct (doc, shingle) pair set IS the live postings
    (:func:`shingle_changes` dedupes before fingerprinting), so the
    plan is one (token → min id) aggregate plus one per-doc count over
    index state — O(index), corpus text never read. Each doc's
    ``n_shingles`` is its index doclen (the distinct-shingle count by
    construction), so the per-doc branch is a skinny doclen read, not a
    second postings pass."""
    from couch_to_postgres_spark.streaming.search_stream import (
        live_doclen,
        live_postings,
    )

    pairs = live_postings(spark, index_path, id_col)
    novel_per_doc = (
        pairs.groupBy("token")
        .agg(F.min(id_col).alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_novel"))
        .withColumnRenamed("first_doc", id_col)
    )
    per_doc = (
        live_doclen(spark, index_path, id_col)
        .filter(F.col("dl") > 0)
        .select(id_col, F.col("dl").cast("long").alias("n_shingles"))
    )
    return per_doc.join(novel_per_doc, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)) / F.col("n_shingles"), 4
        ).alias("novelty_frac"),
    )


def source_overlap_from_index(
    spark: SparkSession,
    index_path: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise source Jaccard answered FROM a maintained shingle index
    (VERDICT r08 #6): same ``(group_a, group_b, n_shared, jaccard)``
    contract and values as :func:`extensions.dedup.source_overlap` over
    the equivalent live corpus — the aggregation stage is literally
    shared (:func:`dedup.group_set_overlap`), only the distinct
    (group, shingle) membership frame differs: live postings joined to
    the live doc→group attrs map instead of a fresh corpus re-shingle.
    Requires the index to have been maintained with
    :func:`stats_index_batch` over ``shingle_changes(...,
    keep_cols=[group_col])`` so the attrs file exists."""
    from couch_to_postgres_spark.extensions.dedup import group_set_overlap
    from couch_to_postgres_spark.streaming.search_stream import (
        live_postings,
    )

    grp = live_attrs(spark, index_path, [group_col], id_col).select(
        id_col, F.col(group_col).alias("g")
    )
    gs = (
        live_postings(spark, index_path, id_col)
        .join(grp, id_col)
        .select("g", F.col("token").alias("sh"))
        .distinct()
    )
    return group_set_overlap(gs)
