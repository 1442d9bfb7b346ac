"""Target-aware data selection: DSIR-style importance reweighting.

Selecting pretraining data that LOOKS LIKE a trusted target corpus
(wiki/books-quality) from a huge raw crawl is a standard step in
training-data pipelines. The public method re-expressed here is DSIR —
Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
fit two cheap bag-of-hashed-n-gram language models, one on the target
corpus and one on the raw corpus, and score every raw document by its
log importance weight ``log p_target(x) − log p_raw(x)``; keep the
top-weighted documents (or resample proportionally).

Spark-first shape (everything JVM-side, no UDFs):

* features: unigrams + bigrams hashed into ``16^prefix_len`` buckets.
  The bucket key is the first ``prefix_len`` hex chars of ``md5(ngram)``
  — a STRING, so any SQL engine reproduces the feature space exactly
  (Spark's ``hash()`` is Murmur3 and not portable; md5 is).
* the two LMs are bucket-count aggregates — map-side partial combine,
  one shuffle each carrying ≤ ``16^prefix_len`` rows.
* scoring is one BROADCAST join of the per-bucket log-ratio table
  (bounded by the bucket space, never the vocabulary) against the
  exploded n-gram stream, then a per-doc sum — partial-aggregated
  map-side before its one doc-keyed shuffle.
* selection switches plans by k: ``orderBy(...).limit(k)``
  (TakeOrderedAndProject — per-partition top-k, driver heap-merge of
  partitions × k rows) for report-sized k, and the quantile-bracketed
  threshold-refinement cut (:func:`sampling.select_topk_by_key` —
  map-side keep + band-only window, driver state independent of k) at
  DSIR-realistic selection rates, where the heap-merge itself would be
  the driver OOM. Never a global sort or corpus-wide ranking window
  on either path.

Numeric discipline (the repo's KL/BM25 contract): each per-occurrence
log-ratio term is rounded to 6 dp and summed as DECIMAL
(order-independent across partitionings and engines); the per-doc
total is rounded to 4 dp on the way out. Add-one smoothing over the
FULL bucket space keeps every term finite, including for buckets the
target never saw.

Documents with zero n-grams (empty/whitespace text) carry no evidence
either way and are omitted from the scored output — filter or
union-default them upstream if a row-complete result is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.text import _words


def _ngram_buckets_of_words(ws: Column, n: int, prefix_len: int) -> Column:
    """Array of hashed-n-gram bucket keys from a PRE-PROJECTED words
    array: md5-prefix buckets of all 1..n-grams. The 1-based
    ``element_at`` indexing mirrors 1-based SQL lists so an oracle
    replays it verbatim.

    Callers must project the words array in a separate select first
    (:func:`_with_words`): higher-order-function lambdas are not
    whole-stage-codegen'd, so an inlined ``filter(split(text))`` here
    re-tokenizes the document once per reference — the optimized plan
    of the former inline form carried FIVE copies of it."""
    if n < 1 or n > 2:
        raise ValueError("n must be 1 (unigrams) or 2 (adds bigrams)")
    grams = ws
    if n == 2:
        bigrams = F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            # element_at is 1-based (unlike the 0-based [] operator),
            # matching DuckDB/Postgres list indexing term for term
            lambda i: F.concat(
                F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
            ),
        )
        grams = F.concat(ws, F.when(F.size(ws) >= 2, bigrams).otherwise(
            F.array().cast("array<string>")
        ))
    return F.transform(grams, lambda g: F.substring(F.md5(g), 1, prefix_len))


def _with_words(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """Project the tokenized words array ONCE (``_ws``), keeping
    ``keep`` columns. A separate select survives CollapseProject (the
    alias is referenced repeatedly by non-cheap lambdas), so downstream
    n-gram expressions read an attribute instead of re-tokenizing."""
    return df.select(*keep, _words(text_col).alias("_ws"))


def ngram_bucket_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    prefix_len: int = 2,
) -> DataFrame:
    """The hashed-n-gram "language model": (bucket, c) occurrence counts
    over the corpus. One explode + one aggregate whose shuffle carries
    at most ``16^prefix_len`` rows after map-side partial combine —
    corpus-size-independent state, the whole point of hashed features."""
    return (
        _with_words(df, text_col)
        .select(
            F.explode(
                _ngram_buckets_of_words(F.col("_ws"), n, prefix_len)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def dsir_log_ratio_table(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    prefix_len: int = 2,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-bucket log importance term table: (bucket, term) where
    ``term = round(ln(p_target(b) / p_raw(b)), 6)`` as decimal(18,6),
    under add-``alpha`` smoothing over the full ``16^prefix_len`` bucket
    space. Full-outer over the two count sets (a bucket only the target
    saw still scores); bounded by the bucket space, so downstream
    scoring can always broadcast it."""
    b_total = float(16 ** prefix_len)
    t = target_counts.select("bucket", F.col("c").alias("c_t"))
    r = raw_counts.select("bucket", F.col("c").alias("c_r"))
    tt = t.agg(F.sum("c_t").cast("double").alias("n_t"))
    tr = r.agg(F.sum("c_r").cast("double").alias("n_r"))
    merged = (
        t.join(r, "bucket", "outer")
        .select(
            "bucket",
            F.coalesce(F.col("c_t"), F.lit(0)).cast("double").alias("c_t"),
            F.coalesce(F.col("c_r"), F.lit(0)).cast("double").alias("c_r"),
        )
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
    )
    term = F.round(
        F.log(
            ((F.col("c_t") + F.lit(alpha)) / (F.col("n_t") + F.lit(alpha * b_total)))
            / ((F.col("c_r") + F.lit(alpha)) / (F.col("n_r") + F.lit(alpha * b_total)))
        ),
        6,
    ).cast("decimal(18,6)")
    return merged.select("bucket", term.alias("term"))


def dsir_importance(
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    prefix_len: int = 2,
    alpha: float = 1.0,
) -> DataFrame:
    """Score every document of ``df`` by its DSIR log importance weight
    against ``target_df``: emits ``(id, n_grams, log_ratio)`` where
    ``log_ratio = round(Σ_occurrences ln(p_target(b)/p_raw(b)), 4)``
    (decimal term sums — order-independent; higher = more target-like).
    The raw LM is fit on ``df`` itself (the DSIR setting); docs with
    zero n-grams are omitted (see module docstring).

    Plan: two bucket-count aggregates (bounded shuffles), one broadcast
    join of the ≤ ``16^prefix_len``-row term table onto the exploded
    n-gram stream, one per-doc sum. Nothing corpus-sized is ever
    collected, sorted globally, or windowed."""
    raw_counts = ngram_bucket_counts(df, text_col, n, prefix_len)
    target_counts = ngram_bucket_counts(target_df, text_col, n, prefix_len)
    table = dsir_log_ratio_table(target_counts, raw_counts, prefix_len, alpha)
    return _score_against_table(df, table, text_col, id_col, n, prefix_len)


def _score_against_table(
    df: DataFrame,
    table: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    prefix_len: int,
) -> DataFrame:
    """The scoring tail shared by :func:`dsir_importance` and the
    incremental path: explode the doc n-gram buckets, broadcast-join
    the (bucket-space-bounded) log-ratio table, decimal-sum per doc."""
    occ = _with_words(df, text_col, id_col).select(
        F.col(id_col),
        F.explode(
            _ngram_buckets_of_words(F.col("_ws"), n, prefix_len)
        ).alias("bucket"),
    )
    return (
        occ.join(F.broadcast(table), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(F.sum("term"), 4).cast("double").alias("log_ratio"),
        )
    )


def ngram_lm_stream(
    spark,
    state_path: str,
    batch: DataFrame,
    text_col: str = "text",
    n: int = 2,
    prefix_len: int = 2,
    batch_id: int = 0,
) -> DataFrame:
    """``foreachBatch`` body maintaining a hashed-n-gram LM as versioned
    state — the streaming half of DSIR: bucket counts merge ADDITIVELY,
    so the maintained LM after any batch sequence equals
    :func:`ngram_bucket_counts` over the union, and incremental scoring
    is EXACTLY batch scoring (pinned by the ``x_dsir_incremental``
    oracle). State is two kinds of row in one frame —
    ``('bucket', <hex-prefix>, c)`` totals plus one
    ``('batch', <batch_id>, c)`` marker per absorbed batch — bounded by
    ``16^prefix_len`` + batches, never the corpus.

    Replay safety is NOT count idempotence (re-adding a batch's counts
    would double them, unlike the sketch families' set unions): a batch
    whose marker is already present is a NO-OP, so at-least-once
    delivery with a stable ``batch_id`` (Spark's epoch id) is exact.
    Commits go through the shared versioned-pointer discipline
    (:func:`sketch._commit_versioned` — per-path lock, atomic swap,
    grace-retained predecessors)."""
    from couch_to_postgres_spark.extensions.sketch import (
        _commit_versioned,
        read_sketch_state,
    )
    from couch_to_postgres_spark.streaming.commit import writing

    with writing(state_path):
        cur = read_sketch_state(spark, state_path)
        key = str(batch_id)
        if cur is not None and (
            cur.filter(
                (F.col("kind") == "batch") & (F.col("key") == key)
            ).limit(1).count()
            > 0
        ):
            return cur  # at-least-once replay: already absorbed
        fresh = ngram_bucket_counts(batch, text_col, n, prefix_len)
        fresh_rows = fresh.select(
            F.lit("bucket").alias("kind"),
            F.col("bucket").alias("key"),
            F.col("c"),
        )
        marker = fresh.agg(
            F.lit("batch").alias("kind"),
            F.lit(key).alias("key"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("c"),
        )
        merged = fresh_rows.unionByName(marker)
        if cur is not None:
            merged = (
                cur.unionByName(merged)
                .groupBy("kind", "key")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        return _commit_versioned(spark, state_path, merged, batch_id=batch_id)


def lm_counts_from_state(spark, state_path: str) -> DataFrame | None:
    """The maintained LM's ``(bucket, c)`` table (the
    :func:`ngram_bucket_counts` shape), or None before the first
    commit."""
    from couch_to_postgres_spark.extensions.sketch import read_sketch_state

    st = read_sketch_state(spark, state_path)
    if st is None:
        return None
    return st.filter(F.col("kind") == "bucket").select(
        F.col("key").alias("bucket"), "c"
    )


def dsir_importance_incremental(
    spark,
    raw_state_path: str,
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    prefix_len: int = 2,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights with the RAW LM read from maintained
    state (:func:`ngram_lm_stream`) instead of refit from the corpus —
    the from-index reader of the selection family: a standing ingest
    keeps the LM current and any number of scoring passes reuse it
    without re-tokenizing history. Equal to :func:`dsir_importance`
    over the union of every absorbed batch, exactly (additive counts).
    The target LM stays a fit-on-demand aggregate — targets are small
    by DSIR's construction."""
    raw_counts = lm_counts_from_state(spark, raw_state_path)
    if raw_counts is None:
        raise ValueError(
            f"no committed LM state at {raw_state_path}; "
            "run ngram_lm_stream first"
        )
    target_counts = ngram_bucket_counts(target_df, text_col, n, prefix_len)
    table = dsir_log_ratio_table(target_counts, raw_counts, prefix_len, alpha)
    return _score_against_table(df, table, text_col, id_col, n, prefix_len)


#: above this k, ``orderBy().limit(k)``'s driver heap-merge
#: (partitions × k rows on the driver) stops being a plan and becomes
#: an OOM; the threshold-refinement cut takes over.
TAKEORDERED_MAX_K = 100_000


def _topk_by_log_ratio(
    df: DataFrame,
    scores: DataFrame,
    key_col: str,
    k: int,
    id_col: str,
    method: str,
) -> DataFrame:
    """The selection cut shared by :func:`dsir_select` and
    :func:`dsir_resample` — ``scores`` is the SKINNY per-doc key table
    (id + log_ratio [+ sampling key]), ``df`` the payload. Identical
    output set either way (pinned by tests and the driver oracle), plan
    chosen by k:

    * ``takeordered`` — ``join(payload).orderBy(key.desc(), id)
      .limit(k)``: per-partition top-k map-side + driver heap-merge.
      Right for report-sized k; the driver holds partitions × k rows,
      so at DSIR's published selection rates (k = a corpus fraction —
      millions+ of rows at 100 TB) it is a driver OOM.
    * ``threshold`` — :func:`sampling.select_topk_by_key` over the
      scores table: bracket the k-th key with a sampled quantile,
      verify with one exact count, keep above-bracket rows map-side,
      rank only the ~constant-size boundary band. Driver state is a
      quantile sketch + two scalars, independent of k. The cut makes a
      constant number of passes (count, quantile sketch, exact verify,
      output), so the scores table is MATERIALIZED first
      (``localCheckpoint(eager)`` — bytes per row, not documents, and
      it breaks the lineage back to scoring: re-deriving the DSIR
      pipeline per pass would tokenize the corpus four times); the
      payload joins back AFTER selection, once, on the uniform id key,
      so document text never rides through the cut's passes either.
    * ``auto`` — takeordered iff ``k <= TAKEORDERED_MAX_K``.
    """
    from couch_to_postgres_spark.extensions.sampling import (
        select_topk_by_key,
    )

    if method not in ("auto", "takeordered", "threshold"):
        raise ValueError(f"unknown selection method: {method!r}")
    if method == "takeordered" or (
        method == "auto" and k <= TAKEORDERED_MAX_K
    ):
        return (
            df.join(scores, id_col)
            .orderBy(F.col(key_col).desc(), F.col(id_col))
            .limit(k)
        )
    skinny = scores.localCheckpoint(eager=True)
    sel = select_topk_by_key(skinny, key_col, k, id_col=id_col)
    return df.join(sel, id_col)


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    prefix_len: int = 2,
    alpha: float = 1.0,
    method: str = "auto",
) -> DataFrame:
    """The selection step: the ``k`` most target-like documents of
    ``df`` (highest log importance weight, id tie-break — deterministic
    across engines, partitionings, and selection ``method``). Returns
    the original columns plus ``log_ratio``.

    Scale: DSIR's published use selects a CORPUS FRACTION, not a
    report — see :func:`_topk_by_log_ratio` for how the plan switches
    from TakeOrdered (small k; driver heap-merge of partitions × k
    rows) to the driver-bounded threshold-refinement cut (large k)."""
    scores = dsir_importance(
        df, target_df, text_col, id_col, n, prefix_len, alpha
    )
    return _topk_by_log_ratio(
        df, scores.select(id_col, "log_ratio"), "log_ratio", k, id_col,
        method,
    )


def dsir_resample(
    df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    prefix_len: int = 2,
    alpha: float = 1.0,
    salt: str = "dsir1",
    method: str = "auto",
) -> DataFrame:
    """DSIR's published selection step is RESAMPLING, not top-k: draw
    ``k`` documents WITHOUT replacement with probability proportional to
    the importance weight ``exp(log_ratio)`` — softmax sampling keeps
    diversity that a hard top-k cut discards. The Gumbel-top-k identity
    turns that into an exact deterministic plan: rank by
    ``log_ratio + Gumbel(u)`` with ``Gumbel(u) = −ln(−ln u)`` and ``u``
    the deterministic uniform from ``md5(salt:id)`` — the log-space
    sibling of :func:`sampling.weighted_sample_topn`'s A-ES key, so
    astronomically small weights never underflow ``exp``. Re-dealt by
    ``salt``; engine-stable (6 dp rounding + id tie-break;
    ``u = (v+0.5)/2^32 ∈ (0,1)`` keeps both logs finite at the range
    ends; ``+0.0`` collapses IEEE −0.0 for Spark's sort, where
    −0.0 < 0.0). The cut over the Gumbel key switches plans by k
    exactly like :func:`dsir_select` (see :func:`_topk_by_log_ratio`)
    — DSIR-realistic k never heap-merges on the driver."""
    scores = dsir_importance(
        df, target_df, text_col, id_col, n, prefix_len, alpha
    )
    hexpfx = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
        1,
        8,
    )
    u = (F.conv(hexpfx, 16, 10).cast("double") + F.lit(0.5)) / F.lit(
        float(1 << 32)
    )
    key = F.round(F.col("log_ratio") - F.log(-F.log(u)), 6) + F.lit(0.0)
    keyed = scores.select(id_col, "log_ratio", key.alias("_g_key"))
    return _topk_by_log_ratio(df, keyed, "_g_key", k, id_col, method).drop(
        "_g_key"
    )


