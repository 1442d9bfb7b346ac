"""Streaming-incremental BM25: a ranked-retrieval index maintained under
the CDC change feed, so tokenization is paid once per changed doc, not
once per query.

State (plain parquet under one index root):

* ``doclen`` — (doc_id, dl, seq), one row per ingested doc version;
* ``postings`` — (doc_id, token, tf, seq), per-version term frequencies;
* ``tombstones`` — (doc_id, seq) delete markers;
* ``base/`` — the compacted base, laid down by a compaction
  (:func:`compact_index`) or by the first batch carrying upserts into
  an empty index: ``base/doclen`` (live rows, ``id_bucket=N`` dirs,
  each row carrying the doc's token buckets), ``base/postings`` and
  ``base/dfs`` in ``token_bucket=N/id_sub=M`` dirs, ``base/meta``
  (1-row: bucket counts, ``n_live``/``sum_dl``, the impact-bound
  stamp).

The three tail dirs receive every batch after the base exists, and
reads merge base ∪ tail. Liveness, bucketing, churn discovery, the
read-mostly gate and the fold's publish are the shared LSM core
(:mod:`streaming.lsm`); this module supplies the payload — the
postings, dfs and impact fold and BM25 scoring over it.

Plan shape:

* ingest is O(changed docs): tokenize the batch, append skinny rows.
  A batch reaching an empty index (no meta, no tail, no tombstone —
  footers only, no job) is written once, as the base a full fold of
  its tail would give, so an initial sync never writes a tail and then
  folds it;
* query-time liveness is one partial-aggregated groupBy over the skinny
  doclen/tombstone files, never postings or text;
* the postings scan is filtered to the query terms before any shuffle,
  and on the base opens only the query terms' ``token_bucket`` dirs;
* on a read-mostly base (:func:`base_is_live`) the dedup and liveness
  join are skipped, and the MaxScore read (:func:`_bm25_pruned_topk`)
  answers gate-accepted queries from the impact-sorted blocks;
* scoring reuses :func:`extensions.search.bm25_rank_components`, so the
  index path and the fresh-build path cannot drift numerically.

At-least-once safety: a replayed micro-batch re-appends identical
rows; liveness takes max over seq and readers drop duplicate
(id, token, seq) rows, so replays change nothing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.search import bm25_rank_components
from couch_to_postgres_spark.extensions.text import _words
from couch_to_postgres_spark.streaming import lsm
from couch_to_postgres_spark.streaming.commit import publish, staging, writing
from couch_to_postgres_spark.streaming.meta_io import (
    component_rows,
    open_parquet,
    read_components,
    read_meta_rows,
    try_open_parquet,
    write_meta_rows,
)


@dataclass
class SearchIndexBatchStats:
    arrived: int
    upserts: int
    deletes: int
    postings_rows: int


def _all_attrs(
    spark: SparkSession, index_path: str, id_col: str = "doc_id"
) -> DataFrame | None:
    """EVERY attrs row an index carries: the flat append ``attrs`` tail
    (``stats_index_batch`` writes there) ∪ the id-bucketed ``base/attrs``
    a compaction laid down (latest-per-live-doc rows — compaction
    collapses attr version history, the documented append-log caveat).
    Attr column sets are dynamic, so this reads-attempts both components
    and unions by name; ``None`` when the index has no attrs at all."""
    frames = []
    for p in (
        os.path.join(index_path, "attrs"),
        os.path.join(index_path, "base", "attrs"),
    ):
        df = try_open_parquet(spark, p)
        if df is None:
            continue
        if "id_bucket" in df.columns:
            df = df.drop("id_bucket")
        frames.append(df)
    if not frames:
        return None
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def _paths(index_path: str) -> tuple[str, str, str]:
    return (
        os.path.join(index_path, "doclen"),
        os.path.join(index_path, "postings"),
        os.path.join(index_path, "tombstones"),
    )


def _base_paths(index_path: str) -> tuple[str, str, str]:
    base = os.path.join(index_path, "base")
    return (
        os.path.join(base, "doclen"),
        os.path.join(base, "postings"),
        os.path.join(base, "meta"),
    )


def search_index_batch(
    spark: SparkSession,
    index_path: str,
    changes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str = "seq",
    deleted_col: str = "deleted",
    impacts_default: bool = True,
) -> SearchIndexBatchStats:
    """Apply one micro-batch of changes to the search index.

    ``changes`` rows are (seq, id, deleted, text) — inserts and updates
    carry the new text, deletes carry ``deleted=true`` (text ignored).
    Multiple changes to one doc within a batch collapse to the max-seq
    one (same last-write-wins discipline as ``operators.cdc``). Cost is
    O(changed docs): tokenize the batch, append three skinny files.

    Bootstrap: a batch carrying upserts that reaches an EMPTY index (no
    ``base/meta``, no tail doclen row, no tombstone — read from the meta
    table and the footers, no Spark job) is written as the index's
    compacted base instead of a tail, the layout
    :func:`compact_index` would fold that tail into, so the first
    compaction has nothing to do. ``impacts_default`` picks that base's
    impact mode exactly as it does for
    :func:`compact_index_incremental`'s first fold (the pipeline passes
    False for the fingerprint-token shingle twin). The base is staged in
    a sibling and lands in one ``commit.publish``: a crash before it
    leaves the index empty and the replayed batch bootstraps again; a
    crash after it makes the replay append a tail.

    Write-order INVARIANT (load-bearing): ``doclen`` is appended BEFORE
    ``postings``. :func:`bm25_topk_from_index`'s read-mostly fast path
    decides "no tail" from tail-doclen absence alone — with this order a
    crash between the two appends leaves doclen present (fast path off,
    exact merge path sees the partial batch's doclen rows, which is
    harmless at-least-once state the replay overwrites); the reverse
    order could leave tail postings that a doclen-only probe misses.
    Do not reorder the appends.

    Appends run under the per-path lock (same registry as the
    partitioned mirror's merges) so the daemon watchdog's IN-PLACE
    compaction (:func:`compact_index_inplace`) can never swap the index
    out from under a half-written batch."""
    with writing(index_path):
        return _search_index_batch_locked(
            spark, index_path, changes, text_col, id_col, seq_col,
            deleted_col, impacts_default,
        )


def _search_index_batch_locked(
    spark: SparkSession,
    index_path: str,
    changes: DataFrame,
    text_col: str,
    id_col: str,
    seq_col: str,
    deleted_col: str,
    impacts_default: bool,
    attrs: DataFrame | None = None,
) -> SearchIndexBatchStats:
    """The batch under the index's lock. ``attrs`` (id, *attrs, seq) —
    the upserts' per-doc attribute rows :func:`stats_stream.stats_index_batch`
    records — land beside the batch: appended to the ``attrs`` tail, or
    written into the bootstrapped ``base/attrs`` for the live docs."""
    doclen_path, postings_path, tomb_path = _paths(index_path)
    empty = lsm.is_empty(
        spark, _base_paths(index_path)[2], doclen_path, tomb_path
    )

    latest = (
        changes.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(
                    F.col(seq_col).alias("seq"),
                    F.col(deleted_col).cast("boolean").alias("deleted"),
                    F.col(text_col).alias("text"),
                ),
                F.col(seq_col),
            ).alias("c"),
            F.count(F.lit(1)).alias("_n_changes"),
        )
        # tokenize ONCE, into the cache: the
        # stats aggregate, the doclen rows and the postings explode all
        # consumed `_words(text)` from the cached TEXT, so a bulk build
        # ran the tokenizer over the whole batch three times (three
        # jobs over the persisted frame, each re-splitting every doc).
        # Caching the token array instead runs it once at cache
        # materialization; deleted/NULL-text rows hold NULL (the
        # downstream coalesce/greatest guards are unchanged).
        # `_TOKENIZE_ONCE` is the A/B knob (False = cache text).
        .select(
            id_col,
            "c.seq",
            "c.deleted",
            "_n_changes",
            (
                F.when(~F.col("c.deleted"), _words(F.col("c.text"))).alias(
                    "toks"
                )
                if _TOKENIZE_ONCE
                else F.col("c.text")
            ),
        )
        .persist()
    )
    words = F.col("toks") if _TOKENIZE_ONCE else _words("text")
    # NULL-text upserts (custom search_text hook) hold zero tokens; bare
    # size(NULL) is -1 (under spark.sql.legacy.sizeOfNull) and would
    # skew the stats
    dl = F.greatest(F.coalesce(F.size(words), F.lit(0)), F.lit(0))
    # ONE job yields every batch stat — including the postings count,
    # which equals Σ per-upsert distinct tokens (exactly what the
    # (id, token, seq) groupBy below emits one row per) and the live
    # length sum a bootstrapped base's meta records — and materializes
    # the persist. A micro-batch used to pay 6-7 job launches here,
    # pure fixed overhead at trickle-feed batch sizes.
    # (An Observation on the postings write would be one job fewer
    # still, but a runtime-empty observed write — a delete-only batch —
    # gets its CollectMetrics optimizer-eliminated and the dangling
    # observation corrupts the session for later RDD-closure jobs;
    # found by test_quality_classifier after the delete-all-churn test.)
    counts = latest.agg(
        F.coalesce(F.sum("_n_changes"), F.lit(0)).alias("arrived"),
        F.coalesce(
            F.sum(F.when(~F.col("deleted"), 1).otherwise(0)), F.lit(0)
        ).alias("n_up"),
        F.coalesce(
            F.sum(F.when(F.col("deleted"), 1).otherwise(0)), F.lit(0)
        ).alias("n_del"),
        F.coalesce(
            F.sum(
                F.when(
                    ~F.col("deleted"),
                    F.greatest(
                        F.coalesce(
                            F.size(F.array_distinct(words)), F.lit(0)
                        ),
                        F.lit(0),
                    ),
                )
            ),
            F.lit(0),
        ).alias("n_postings"),
        F.coalesce(
            F.sum(F.when(~F.col("deleted"), dl)), F.lit(0)
        ).alias("sum_dl"),
    ).collect()[0]
    arrived, n_up, n_del, n_postings = (
        int(counts["arrived"]), int(counts["n_up"]),
        int(counts["n_del"]), int(counts["n_postings"]),
    )

    upserts = latest.filter(~F.col("deleted"))
    doclen_rows = upserts.select(
        F.col(id_col),
        dl.cast("double").alias("dl"),
        F.col("seq").cast("long").alias("seq"),
    )
    # each posting carries its version's dl: the bootstrapped base
    # stores it, the tail write drops it
    postings_rows = (
        upserts.select(
            F.col(id_col),
            F.col("seq").cast("long").alias("seq"),
            dl.cast("double").alias("dl"),
            F.explode(words).alias("token"),
        )
        .groupBy(id_col, "token", "seq", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    if empty and n_up:
        # deletes in a bootstrap batch name docs the index never held:
        # like a full fold, the base keeps no tombstone
        stage = staging(index_path, "bootstrapping")
        _write_base(
            spark, stage, doclen_rows, postings_rows,
            None if attrs is None
            else attrs.join(doclen_rows.select(id_col), id_col, "left_semi"),
            n_live=n_up, sum_dl=float(counts["sum_dl"]),
            id_col=id_col, token_buckets=64, id_subbuckets=None,
            impacts=impacts_default,
        )
        os.makedirs(index_path, exist_ok=True)
        publish(
            index_path,
            [(os.path.join(index_path, "base"), os.path.join(stage, "base"))],
            stage,
        )
    else:
        # doclen FIRST — the from-index fast path's safety depends on
        # this order (see the docstring's write-order invariant)
        doclen_rows.write.mode("append").parquet(doclen_path)
        postings_rows.select(id_col, "token", "tf", "seq").write.mode(
            "append"
        ).parquet(postings_path)
        if n_del:
            latest.filter(F.col("deleted")).select(
                F.col(id_col), F.col("seq").cast("long").alias("seq")
            ).write.mode("append").parquet(tomb_path)
        if attrs is not None:
            attrs.write.mode("append").parquet(
                os.path.join(index_path, "attrs")
            )

    latest.unpersist()
    return SearchIndexBatchStats(
        arrived=arrived, upserts=n_up, deletes=n_del, postings_rows=n_postings
    )


def live_doclen(
    spark: SparkSession, index_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """(id, dl, seq) for the LIVE version of every indexed doc: max-seq
    doclen row per doc — over the compacted base (if present) UNION the
    append tail — minus docs whose max tombstone seq is higher.
    One partial-aggregated groupBy over the skinny doclen files + a
    skinny left join — never touches postings or corpus text.
    Replay-duplicate rows collapse inside the max/max_by aggregates."""
    doclen_path, _, tomb_path = _paths(index_path)
    base_doclen_path, _, _ = _base_paths(index_path)
    schema = f"{id_col} long, dl double, seq long"
    tail, base, tomb = read_components(
        spark,
        [
            (doclen_path, schema),
            (base_doclen_path, schema),
            (tomb_path, f"{id_col} long, seq long"),
        ],
        id_col,
    )
    doclen = tail.select(id_col, "dl", "seq").unionByName(
        base.select(id_col, "dl", "seq")
    )
    return lsm.live_versions(doclen, tomb, id_col, carry=("dl",))


def _full_postings(
    spark: SparkSession, index_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """ALL (id, token, tf, seq) postings rows: compacted base ∪ append
    tail, no term filter — for whole-index consumers (compaction, the
    corpus-stats reports), not the query path."""
    _, postings_path, _ = _paths(index_path)
    _, base_postings_path, _ = _base_paths(index_path)
    schema = f"{id_col} long, token string, tf double, seq long"
    tail, base = read_components(
        spark, [(postings_path, schema), (base_postings_path, schema)], id_col
    )
    return tail.select(id_col, "token", "tf", "seq").unionByName(
        base.select(id_col, "token", "tf", "seq")
    )


def live_postings(
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
    terms: list[str] | None = None,
) -> DataFrame:
    """(id, token, tf, seq) postings restricted to LIVE doc versions,
    with at-least-once replay copies removed — the one reader every
    postings consumer goes through, so the replay-dedup discipline has
    one owner.

    Two invariants every row of the result satisfies:

    * **live**: the row belongs to the doc's max-seq non-tombstoned
      version (:func:`live_doclen`'s seq-wins rule);
    * **unique**: one row per (id, token, seq) — a replayed micro-batch
      re-appends byte-identical tail rows, and any count/sum over raw
      postings would double-count them.

    On a read-mostly index (:func:`base_is_live`: compacted base, no
    tail, no tombstones) both invariants hold by construction of
    :func:`compact_index`, so the postings come back with NO dedup
    shuffle and NO live-version join. ``terms`` narrows the read to the
    query terms via :func:`query_postings` (token-IN pushdown +
    ``token_bucket`` partition pruning) BEFORE the dedup/join, so a
    term-probe consumer pays term-frequency-proportional bytes, never
    index-proportional."""
    if terms is not None:
        postings = query_postings(spark, index_path, terms, id_col)
    else:
        postings = _full_postings(spark, index_path, id_col)
    if base_is_live(spark, index_path):
        return postings
    live = live_doclen(spark, index_path, id_col).select(id_col, "seq")
    return postings.dropDuplicates([id_col, "token", "seq"]).join(
        live, on=[id_col, "seq"]
    )


def base_is_live(spark: SparkSession, index_path: str) -> bool:
    """True when the compacted base IS the live corpus
    (:func:`lsm.base_is_live`: stats-bearing meta, no tail, no
    tombstones). "No tail" is decided from tail-doclen absence alone,
    which is safe because ``search_index_batch`` appends doclen before
    postings (its write-order invariant)."""
    doclen_path, _, tomb_path = _paths(index_path)
    _, _, meta_path = _base_paths(index_path)
    return lsm.base_is_live(
        spark, read_meta_rows(spark, meta_path), doclen_path, tomb_path
    )


#: BM25 parameters the compacted base's impact bounds are STAMPED with
#: (the library-wide defaults). The MaxScore pruned read requires the
#: query's (k1, b) to equal the stamp — any other pair falls back to the
#: exact full path, so non-default calls stay correct, just unpruned.
IMPACT_K1 = 1.2
IMPACT_B = 0.75

#: per-(token_bucket, id_sub, token) top-impact array length stored in
#: ``base/dfs``. Partials are doc-disjoint, so merging a token's partial
#: arrays yields the EXACT global top-G impacts; a query's k must be
#: <= G for the threshold seed to be provable (k above G falls back).
IMPACT_TOP_G = 32

#: safety slack subtracted from the MaxScore threshold, covering every
#: rounding step between the stored raw impacts and the scorer's final
#: numbers: bm25_rank_components rounds each contribution to 6 decimals
#: (±5e-7 per term, summed exactly as decimal) and the final score to 4
#: (±5e-5) — 2e-3 dominates both for any query up to ~1000 terms, and
#: costs nothing against score gaps at 1e-1 scale.
IMPACT_EPS = 2e-3

#: bin count of the per-(token_bucket, id_sub, token) stored-impact
#: histogram in ``base/dfs`` (equi-width over impact0's (0, 1] range;
#: partial counts sum exactly across a token's doc-disjoint partials).
#: The histogram exists for the pruned read's COST GATE, never for
#: correctness: it estimates how many postings a term's cut actually
#: skips, so the planner can refuse pruning in the regime where it
#: provably reads ~everything anyway (all-common-term queries — the
#: known WAND/MaxScore degenerate case, where phase B + the rescore
#: would COST more than the exact full path; measured r13: a 20-query
#: all-common batch ran 18.3 s pruned vs 12.3 s full at 6M docs).
IMPACT_HIST_BINS = 16

#: cost-gate PER-QUERY screen: a query is an engagement candidate only
#: when its estimated pruned work (phase-B rows + per-query rescore
#: rows, both from the stored histograms) is below this fraction of its
#: full-path pair count (Σ dft over its terms). Queries that fail ride
#: the full path — in a batch, PER QUERY, so one stop-word query never
#: drags a rare-term query off its fast plan (or vice versa).
IMPACT_GATE_ALPHA = 0.5

#: cost-gate GLOBAL floor, in estimated ranked-pair rows: the screened
#: candidate set actually engages only when its predicted net pair
#: savings ALSO clear (phase-C's duplicate scan rows + this floor).
#: The floor prices the pruned plan's FIXED costs — ~4 extra driver
#: actions (dfs-stats collect, phase-B scan, candidate materialization,
#: the pair semi-join) ≈ 1.5-2 s of pure job latency on this class of
#: box, which the measured ~1.5-2M-pairs/s ranking throughput equates
#: to ~3M pairs. Calibration is empirical and regression-averse (r13
#: diag: engaging 2 queries with ~0.6M net-pair savings measured a
#: ~3 s LOSS; the same batch unpruned was optimal): below the floor the
#: full path is the measured winner, and at the corpus sizes MaxScore
#: exists for (100 TB: net savings in the billions of pairs) the floor
#: is noise. Tests that pin engagement mechanics monkeypatch this to 0.
IMPACT_GATE_FLOOR_ROWS = 3_000_000

#: cost-gate candidate cap: the engaged plan's candidate structures
#: (phase-B rows → the global id set and the per-query pair table)
#: must stay in the broadcast/map-side-join regime, because every one
#: of its extra joins (the tf-cand semi join, the per-query pair
#: restriction, the pair-table distinct) shuffles rows AT candidate
#: scale — beyond a few hundred thousand rows those shuffles rival the
#: full path's single partial-aggregated pass and the plan loses even
#: with millions of ranked pairs provably saved (measured r13: a
#: 20-query batch seeded by ~2%-df terms WON 2× at 600k docs with a
#: 240k-candidate union but LOST at 6M docs where the same fractional
#: selectivity meant 2.4M candidates — 15.4 s vs 13.2 s unpruned).
#: "Selective" must be ABSOLUTE, not fractional: real rare-term
#: queries keep bounded candidate sets at any corpus size, which is
#: exactly the workload MaxScore exists for. Calibrated on local[32];
#: a cluster deployment would scale it with executor broadcast budget.
IMPACT_GATE_MAX_CANDIDATES = 500_000


def _impact0_expr(k1: float, b: float, avgdl: float):
    """The idf-free BM25 term of one posting under the stamped
    parameters: ``tf / (tf + k1*(1 - b + b*dl/avgdl))`` ∈ (0, 1],
    computed from the row's ``tf`` and denormalized ``dl``. Monotone in
    the true contribution given fixed corpus stats; under avgdl drift
    (incremental folds) the true current value is bracketed by
    ``impact0 * [min(1, avgdl/avgdl0), max(1, avgdl/avgdl0)]`` — the
    correction factors the pruned read derives from meta's
    ``impact_avgdl_min/max``."""
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    return (F.col("tf") / denom).alias("impact0")


def query_postings(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    id_col: str = "doc_id",
    with_dl: bool = False,
) -> DataFrame:
    """(id, token, tf, seq) rows matching the query terms: compacted
    base ∪ append tail. The term filter pushes into both parquet scans;
    on a bucketed base only the ``token_bucket=N`` dirs holding the
    query terms are opened, by name (:func:`lsm.open_dirs`), so the
    probe's planning cost scales with the term set, not the directory
    count. The append tail is the only unpruned read — bounded by the
    update rate between compactions, not corpus size.

    ``with_dl=True`` additionally returns the base's DENORMALIZED
    per-doc length column (written by impacts-mode compaction) so the
    scoring stage can skip its doclen join — honored
    only when the base actually carries ``dl`` AND no tail exists
    (tail rows have no stored dl); otherwise the column is silently
    omitted and callers fall back to the join by checking
    ``"dl" in result.columns``. A tail append racing the caller's
    no-tail probe therefore degrades to the join shape, never to NULL
    lengths."""
    _, postings_path, _ = _paths(index_path)
    _, base_postings_path, meta_path = _base_paths(index_path)
    schema = f"{id_col} long, token string, tf double, seq long"
    meta = read_meta_rows(spark, meta_path)
    base = None
    if meta and lsm.has_partition_prefix(base_postings_path, "token_bucket="):
        n_buckets = int(meta[0]["token_buckets"])
        base = lsm.open_dirs(
            spark,
            base_postings_path,
            [f"token_bucket={b}" for b in lsm.term_buckets(terms, n_buckets)],
        )
    else:
        # no bucket dirs to name — a never-compacted index, an empty
        # base, or a non-local path where the dir probe is blind:
        # read-attempt the whole component
        base = try_open_parquet(spark, base_postings_path)
    tail = try_open_parquet(spark, postings_path)
    # never-cast-ids: whichever component is missing takes the id dtype
    # of the sibling that exists (the read_components discipline)
    like = base if base is not None else tail
    if like is not None and id_col in dict(like.dtypes):
        id_t = dict(like.dtypes)[id_col]
        schema = f"{id_col} {id_t}, token string, tf double, seq long"
    # dl passthrough contract (see docstring): base must carry the
    # denormalized column and there must be no tail rows to merge
    want_dl = (
        with_dl
        and tail is None
        and base is not None
        and "dl" in dict(base.dtypes)
    )
    if want_dl:
        schema += ", dl double"
    sel = [id_col, "token", "tf", "seq"] + (["dl"] if want_dl else [])
    if base is None:
        base = spark.createDataFrame([], schema)
    if tail is None:
        tail = spark.createDataFrame([], schema)
    tail = tail.filter(F.col("token").isin(terms)).select(*sel)
    base = base.filter(F.col("token").isin(terms)).select(*sel)
    return base.unionByName(tail)


def _bm25_pruned_topk(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    m: dict,
    terms: list[str],
    k: int,
    k1: float,
    b: float,
    id_col: str,
    query_id_col: str,
    term_col: str,
    max_df_frac: float | None,
    diag: dict | None,
    force: bool = False,
    dft_out: dict | None = None,
    q_pairs: list[tuple] | None = None,
) -> tuple[DataFrame, DataFrame | None] | None:
    """MaxScore / block-max top-k over the compacted base — EXACT BM25
    top-k at sub-df-proportional cost (Turtle & Flood 1995 MaxScore;
    Ding & Suel 2011 block-max — public knowledge, re-expressed on
    columnar statistics instead of postings cursors). Returns ``None``
    whenever any precondition fails, and the caller runs the exact
    full path — the pruned read is an optimization gate, never a
    semantics fork.

    Exact BM25 scores every posting of every query term, so a 33%-df
    term at 100 TB scores a third of the corpus's postings per query
    This read instead:

    1. **plans driver-side from dfs bounds** — per query it derives a
       provable lower bound θ of the k-th best final score (the k-th
       highest stored impact of any one query term: one posting per
       (doc, token) means those k impacts belong to k distinct docs,
       each of whose final scores is at least its own impact), then
       per-term MaxScore cuts over the ub-ascending term order:
       ``cut_{t_j} = (θ − Σ_{i<j} ub_{t_i}) / scale_{t_j}`` — a doc
       whose every present term's posting falls below its cut has, at
       its HIGHEST-ranked present term t_j, contribution < θ −
       prefix_j, hence score < θ strictly: it cannot enter (or tie
       into) the top-k;
    2. **phase B (candidates)**: scans only postings with
       ``token = t AND impact0 ≥ cut_t`` — pushed predicates over the
       (token, impact0 desc)-sorted base, so parquet row-group/page
       statistics skip the provably-losing blocks at the storage layer;
    3. **phase C (exact rescore)**: re-reads the query terms' postings
       semi-joined to the candidate ids and scores them through the
       SHARED :func:`bm25_rank_components` — numerically identical to
       the full path, so the two can never drift.

    Safety under avgdl drift (incremental folds stamp rows under
    different corpus averages): all bounds are corrected by
    ``r_max = max(1, avgdl/impact_avgdl_min)`` (upper) and
    ``s_min = min(1, avgdl/impact_avgdl_max)`` (lower) from meta's
    stamp bracket, and θ carries :data:`IMPACT_EPS` slack dominating
    the scorer's 6/4-decimal rounding — pruning only ever removes docs
    strictly below the k-th best ROUNDED score, so ties at the boundary
    always survive.

    **Cost gate**: MaxScore's known degenerate regime is the
    all-common-term query — similar per-term upper bounds leave every
    term but one with cut 0, phase B reads ~everything, and the pruned
    plan COSTS more than the exact full path (measured: a 20-query
    all-common batch 18.3 s pruned vs 12.3 s full at 6M docs). Two
    levels, both planned from the stored per-term impact histograms:

    * **per-query screen**: est(phase-B rows + per-query rescore rows)
      must fall below :data:`IMPACT_GATE_ALPHA` × (Σ dft over the
      query's terms);
    * **global decision**: the screened set engages only when its net
      predicted pair savings also cover phase C's duplicate scans
      (engaged terms a refused query's full path scans anyway) plus
      :data:`IMPACT_GATE_FLOOR_ROWS` — the fixed driver actions the
      pruned plan costs regardless of size. In a columnar engine the
      rescore cannot avoid re-reading the engaged terms' postings, so
      pruning pays exactly when the RANKED-PAIR reduction (the per-
      query shuffle/window work a batch multiplies) dominates that
      scan — the 100 TB regime; at small corpora the gate correctly
      leaves everything on the full path (measured optimal).

    Engaged queries run here with cuts min-merged over the engaged set
    only (a refused stop-word query can no longer zero a shared term's
    cut) and the rescore restricted to each query's OWN candidates
    (the MaxScore theorem is per query); refused queries return to the
    caller, which runs them through the exact full path and unions.
    ``force=True`` (the ``pruned="force"`` escape hatch) skips both
    estimates and engages every query with any positive cut — the
    exactness-pinning tests' mode, never the planner's.

    Returns ``None`` when NO query engages (or a structural gate
    fails), else ``(topk_df, remaining_queries_df | None)`` where the
    second element carries the refused queries (``None`` when all
    engaged).

    Structural gates (→ ``None``): stamped (k1, b) differ from the
    query's, k > stored top-G, a base compacted with ``impacts=False``
    (NULL impact columns), no positive cut anywhere (pruning would read
    everything the full path reads), or an empty live corpus.
    ``candidates=`` filtering is gated by the CALLER: θ bounds the
    k-th best index-wide score, which is not a bound for the k-th best
    within an arbitrary candidate subset."""
    if m.get("impact_k1") is None or m.get("impact_topg") is None:
        return None
    if float(m["impact_k1"]) != float(k1) or float(m["impact_b"]) != float(b):
        return None
    if int(k) > int(m["impact_topg"]):
        return None
    n_live = int(m["n_live"])
    if n_live <= 0:
        return None
    if q_pairs is None:
        # direct callers without the caller-collected pairs: one
        # collect of the tiny query table (the caller path shares its
        # first collect instead)
        q_pairs = [
            (r[query_id_col], r["t"])
            for r in queries.select(
                query_id_col, F.col(term_col).alias("t")
            ).distinct().collect()
        ]
    # META-ONLY refusal short-circuit: the global
    # decision needs net predicted pair savings ≥ extra_scan + FLOOR,
    # and net_pairs ≤ Σ_q Σ_{t∈q} dft_t ≤ |(query, term) pairs| ×
    # n_live (df of any term is at most the live doc count) while
    # extra_scan ≥ 0 — so when that bound is already under the floor,
    # refusal is PROVABLE from meta alone and the planning collect
    # over the dfs dirs (a full Spark action the r13 bench paid on
    # every refused read: recompacted leg 2.5 → 3.5 s) never runs.
    # The caller's exact full path then reads dfs inside its main job,
    # exactly the pre-gate r12 plan. Same decision, zero extra jobs;
    # ``force`` (the exactness-test mode) skips every gate as before.
    if not force and len(q_pairs) * n_live < IMPACT_GATE_FLOOR_ROWS:
        if diag is not None:
            diag["gate"] = {
                "short_circuit": True,
                "bound_pairs": int(len(q_pairs) * n_live),
                "floor": int(IMPACT_GATE_FLOOR_ROWS),
            }
        return None
    dfs_root = os.path.join(index_path, "base", "dfs")
    _, base_postings_path, _ = _base_paths(index_path)
    if not lsm.has_partition_prefix(dfs_root, "token_bucket="):
        return None
    if not lsm.has_partition_prefix(base_postings_path, "token_bucket="):
        return None
    import math

    n_buckets = int(m["token_buckets"])
    n = float(n_live)
    avgdl = (float(m["sum_dl"]) / n_live) if n_live else 0.0
    lo = float(m["impact_avgdl_min"] or 0.0)
    hi = float(m["impact_avgdl_max"] or 0.0)
    if lo <= 0.0 or hi <= 0.0:
        return None
    r_max = max(1.0, avgdl / lo)
    s_min = min(1.0, avgdl / hi)
    bucket_dirs = [
        f"token_bucket={tb}" for tb in lsm.term_buckets(terms, n_buckets)
    ]
    dfs_df = lsm.open_dirs(spark, dfs_root, bucket_dirs)
    try:
        rows = (
            dfs_df.filter(F.col("token").isin(terms))
            .select(
                "token", "dft", "max_impact0", "top_impacts", "impact_hist"
            )
            .collect()
            if dfs_df is not None
            else []
        )
    except AnalysisException:
        return None  # dfs partials predate the impact layer / histograms
    # merge partials per term: dft sums exactly (integral doubles),
    # partial maxes max, partial top arrays concatenate+sort to the
    # exact global top list, histogram bins sum elementwise (partials
    # are doc-disjoint)
    agg: dict[str, list] = {}
    for r in rows:
        dft_p, max_p, tops_p, hist_p = (
            float(r["dft"]),
            r["max_impact0"],
            r["top_impacts"] or [],
            r["impact_hist"],
        )
        if max_p is None or hist_p is None:
            return None
        got = agg.setdefault(
            r["token"], [0.0, 0.0, [], [0] * IMPACT_HIST_BINS]
        )
        got[0] += dft_p
        got[1] = max(got[1], float(max_p))
        got[2].extend(float(x) for x in tops_p)
        for i, c in enumerate(hist_p):
            got[3][i] += int(c)
    if dft_out is not None:
        # the collect above IS the full path's dft aggregate (same dfs
        # slice, same token filter; integral-double partials sum
        # exactly in any order). Export it — populated only once the
        # WHOLE slice merged cleanly — so a gate-refused query's exact
        # full path reuses it instead of re-scanning the dfs dirs
        # inside its main job (the gate's planning collect otherwise
        # duplicates that subtree on every refused read).
        dft_out["__collected__"] = True
        for t, (dft_t, _m, _tops, _h) in agg.items():
            dft_out[t] = dft_t
    scale = 1.0 + float(k1)
    term_stats: dict[str, dict] = {}
    for t, (dft_t, max0_t, tops, hist) in agg.items():
        if max_df_frac is not None and not (dft_t <= max_df_frac * n):
            continue  # df-capped out of scoring, exactly like the dft filter
        idf_t = math.log((n - dft_t + 0.5) / (dft_t + 0.5) + 1.0)
        tops.sort(reverse=True)
        term_stats[t] = {
            "dft": dft_t,
            "ub": idf_t * scale * max0_t * r_max,
            "seed": (
                idf_t * scale * tops[k - 1] * s_min
                if len(tops) >= k
                else None
            ),
            "denorm": idf_t * scale * r_max,
            "max0": max0_t,
            "hist": hist,
        }

    def _est_above(t: str, cut: float) -> float:
        """Estimated postings of ``t`` at stored impact ≥ cut, from the
        merged histogram — the straddling bin counts FULLY (a
        conservative over-estimate of the read, so the gate only ever
        errs toward the exact full path)."""
        if cut <= 0.0:
            return term_stats[t]["dft"]
        lo_bin = min(
            IMPACT_HIST_BINS - 1, int(cut * IMPACT_HIST_BINS)
        )
        return float(sum(term_stats[t]["hist"][lo_bin:]))

    # per-query term sets from the caller-collected (query, term)
    # pairs — plan-time driver data, no second collect
    q_terms: dict = {}
    all_qids: set = set()
    for qid, t in q_pairs:
        all_qids.add(qid)
        if t in term_stats:
            q_terms.setdefault(qid, set()).add(t)
    # per-query MaxScore cuts + the cost-gate PER-QUERY screen; the
    # candidates then face the GLOBAL decision below, and merged cuts
    # are min'd over the finally-ENGAGED queries only
    candidate_cuts: dict = {}  # qid -> per-query cuts
    candidate_est: dict = {}  # qid -> (full_rows, b_rows, c_rows)
    gate_diag: dict = {}
    for qid, tq in q_terms.items():
        seeds = [term_stats[t]["seed"] for t in tq]
        seeds = [s for s in seeds if s is not None]
        theta = (max(seeds) - IMPACT_EPS) if seeds else 0.0
        # MaxScore's essential-suffix structure, per term: sort the
        # query's terms by upper bound ASCENDING; a doc's score is at
        # most (its contribution from its highest-ranked present term
        # t_j) + (the prefix sum of bounds strictly below t_j), so
        # every top-k doc passes t_j's cut = (θ − prefix_j)/scale_j and
        # the union of per-term filtered postings is a provable
        # candidate superset. (The naive "θ − Σ of ALL other bounds"
        # cut is valid too but never fires when one rare high-idf term
        # rides along with a common one — the exact query shape this
        # path exists for.)
        ordered = sorted(tq, key=lambda t: (term_stats[t]["ub"], t))
        prefix = 0.0
        q_cuts: dict[str, float] = {}
        for t in ordered:
            cut_qt = (
                (theta - prefix) / term_stats[t]["denorm"]
                if theta > 0.0
                else 0.0
            )
            q_cuts[t] = max(0.0, cut_qt)
            prefix += term_stats[t]["ub"]
        if all(c <= 0.0 for c in q_cuts.values()):
            continue  # nothing provably skippable — full path is optimal
        # the per-query screen: phase-B rows (terms whose cut clears
        # their max impact contribute nothing — they cannot seed a
        # candidate) + the per-query rescore's ranked rows (each term
        # bounded by THIS query's candidate count — the rescore is
        # candidate_pairs-restricted, so a batch's shared common terms
        # never multiply another query's candidates), vs the full
        # path's Σ dft pair count
        full_rows = sum(term_stats[t]["dft"] for t in tq)
        b_rows = sum(
            _est_above(t, c)
            for t, c in q_cuts.items()
            if c <= term_stats[t]["max0"]
        )
        c_rows = sum(
            min(term_stats[t]["dft"], b_rows) for t in tq
        )
        ok = force or (
            b_rows + c_rows <= IMPACT_GATE_ALPHA * full_rows
        )
        gate_diag[qid] = {
            "full_rows": int(full_rows),
            "phase_b_est": int(b_rows),
            "rescore_est": int(c_rows),
            "engaged": bool(ok),
        }
        if not ok:
            continue
        candidate_cuts[qid] = q_cuts
        candidate_est[qid] = (full_rows, b_rows, c_rows)
    # the GLOBAL decision: screened candidates engage only when their
    # net predicted pair savings also pay for what engagement COSTS the
    # whole batch — phase C re-scans the engaged terms' postings (a
    # duplicate read wherever a refused query's full path scans the
    # same term anyway) and the pruned plan's fixed driver actions
    # (priced by IMPACT_GATE_FLOOR_ROWS). This is what the per-query
    # screen alone missed (r13 diag: two honestly-screened queries
    # still measured a ~3 s loss — their savings couldn't cover the
    # duplicate F/O scans + the fixed jobs).
    engaged: set = set(candidate_cuts)
    global_info = None
    if engaged and not force:
        t_engaged = {t for qid in engaged for t in q_terms[qid]}
        t_rest = {
            t
            for qid, tq in q_terms.items()
            if qid not in engaged
            for t in tq
        }
        net_pairs = sum(f - b - c for f, b, c in candidate_est.values())
        b_total = sum(b for _, b, _ in candidate_est.values())
        extra_scan = b_total + sum(
            term_stats[t]["dft"] for t in t_engaged & t_rest
        )
        global_ok = (
            net_pairs >= extra_scan + IMPACT_GATE_FLOOR_ROWS
            and b_total <= IMPACT_GATE_MAX_CANDIDATES
        )
        global_info = {
            "net_pairs": int(net_pairs),
            "extra_scan": int(extra_scan),
            "floor": int(IMPACT_GATE_FLOOR_ROWS),
            "b_total": int(b_total),
            "cap": int(IMPACT_GATE_MAX_CANDIDATES),
            "engaged": bool(global_ok),
        }
        if not global_ok:
            engaged = set()
    if diag is not None:
        diag["gate"] = {
            "alpha": IMPACT_GATE_ALPHA,
            "forced": bool(force),
            "queries": gate_diag,
            "global": global_info,
        }
    if not engaged:
        return None  # every query rides the exact full path
    cuts: dict[str, float] = {}
    for qid in engaged:
        for t, c in candidate_cuts[qid].items():
            cuts[t] = min(cuts.get(t, float("inf")), c)
    # phase B: the candidate scan. Terms whose cut exceeds their max
    # stored impact cannot seed a candidate — skipped entirely (their
    # postings still return in phase C for candidates found elsewhere).
    base = lsm.open_dirs(spark, base_postings_path, bucket_dirs)
    if base is None:
        return None
    phase_b_preds = [
        (F.col("token") == F.lit(t)) & (F.col("impact0") >= F.lit(c))
        for t, c in cuts.items()
        if c <= term_stats[t]["max0"]
    ]
    if not phase_b_preds:
        # every engaged query provably has fewer than k docs above θ
        # only via terms it seeded from — cannot happen (the seed's own
        # k docs always pass); defensively fall back
        return None
    pred = phase_b_preds[0]
    for p in phase_b_preds[1:]:
        pred = pred | p
    bscan = base.filter(pred).select("token", id_col).persist()
    cand = bscan.select(id_col).distinct().persist()
    # PER-QUERY candidate pairs — the MaxScore theorem is per query
    # (every true top-k doc of q passes a cut of one of q's OWN terms),
    # so a doc seeded by term t is a candidate only for the engaged
    # queries CONTAINING t. Scoring the global candidate union against
    # every query (the first r13 cut) let a batch's shared common
    # terms multiply the rescore's pair space by the whole union —
    # candidates × queries — instead of Σ_q (q's own candidates).
    q_token_rows = [
        (qid, t) for qid in sorted(engaged, key=str) for t in q_terms[qid]
    ]
    qid_t = dict(queries.dtypes)[query_id_col]  # never-cast-ids rule
    q_tokens = spark.createDataFrame(
        q_token_rows, f"{query_id_col} {qid_t}, token string"
    )
    cand_pairs = (
        bscan.join(F.broadcast(q_tokens), on="token")
        .select(query_id_col, id_col)
        .distinct()
    )
    # phase C: exact rescore over the ENGAGED queries' scored terms,
    # through the shared scoring stage, restricted to each query's own
    # candidate pairs — numerically identical for the surviving pairs
    # (pinned by the equivalence tests)
    scored_terms = sorted(
        {t for qid in engaged for t in q_terms[qid]}
    )
    tf_cand = (
        base.filter(F.col("token").isin(scored_terms))
        .select(id_col, "token", "tf", "dl")
        .join(cand, on=id_col, how="left_semi")
    )
    stats = spark.createDataFrame(
        [(n, avgdl)], "n double, avgdl double"
    )
    dft_frame = spark.createDataFrame(
        [(t, term_stats[t]["dft"]) for t in scored_terms],
        "token string, dft double",
    )
    engaged_queries = queries.filter(
        F.col(query_id_col).isin(sorted(engaged, key=str))
    )
    # dl-carry: tf_cand already holds the stored denormalized dl —
    # pass it through instead of reconstructing a doclen frame with a
    # distinct() and joining it back (two shuffles of the rescore slice)
    out = bm25_rank_components(
        tf_cand,
        None,
        stats,
        dft_frame,
        engaged_queries,
        k=k,
        k1=k1,
        b=b,
        id_col=id_col,
        query_id_col=query_id_col,
        term_col=term_col,
        candidate_pairs=cand_pairs,
    )
    if diag is not None:
        diag.update(
            pruned=True,
            cuts={t: round(c, 6) for t, c in cuts.items()},
            candidates=cand.count(),
            r_max=r_max,
            s_min=s_min,
            engaged_queries=len(engaged),
            fallback_queries=len(all_qids) - len(engaged),
            # the executed phase-B plan — tests pin that the impact
            # cut reaches the parquet scan as a pushed filter (the
            # block-skipping contract)
            phase_b_plan=(
                cand._jdf.queryExecution().executedPlan().toString()
            ),
        )
    cand.unpersist()
    bscan.unpersist()
    rest = all_qids - engaged
    remaining = (
        queries.filter(F.col(query_id_col).isin(sorted(rest, key=str)))
        if rest
        else None
    )
    return out, remaining


def bm25_topk_from_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    max_df_frac: float | None = None,
    candidates: DataFrame | None = None,
    diag: dict | None = None,
    pruned: bool | str = True,
) -> DataFrame:
    """BM25 top-k answered from the maintained index — the corpus text is
    never read. Same (query_id, id, score, rank) contract, same numbers
    as :func:`extensions.search.bm25_topk_batch` over the equivalent
    corpus snapshot (shared scoring stage; equivalence pinned by tests
    and the ``x_bm25_incremental`` oracle). ``max_df_frac`` mirrors the
    batch path's df cap: terms present in more than that fraction of
    live docs are dropped from scoring.

    ``candidates`` (optional, an id frame) restricts RANKED documents
    to the given set — metadata-filtered retrieval ("top BM25 hits
    among docs with lang=en"), the lexical mirror of
    ``vector_topk_live(candidates=…)``. The semi-join applies to the
    query-hit slice, so the filter pays hit cost, never corpus cost;
    scoring stats (N, avgdl, df) stay CORPUS-global — idf is a corpus
    property, the standard filtered-retrieval semantics (filtering the
    stats too would re-weight terms by how the filter correlates with
    them).

    On a read-mostly compacted base the read takes the MaxScore /
    block-max pruned path (:func:`_bm25_pruned_topk` — exact top-k from
    provably-sufficient posting blocks) for each query
    whose histogram-estimated win clears the cost gate; gate-refused
    queries (the all-common-term shape, where pruning provably reads
    ~everything and the pruned plan is a measured LOSS) ride the exact
    full path, and a mixed batch unions the two — per query, so one
    stop-word query never drags a rare-term query off its fast plan.
    ``pruned=False`` forces the exact full path for everything;
    ``pruned="force"`` skips the cost estimate and engages every query
    with a positive cut (the exactness-pinning tests' mode). ``diag``
    (optional dict) receives ``pruned`` (True iff ANY query engaged),
    ``gate`` (per-query row estimates + decisions) plus, when pruning
    engaged, the per-term cuts / candidate count / engaged & fallback
    query counts / avgdl-drift factors."""
    # one collect of the tiny caller-built query table yields BOTH the
    # distinct term set (prunes every postings scan) and the
    # (query, term) pairs the pruned path's gate plans from — the gate
    # then needs no second collect, and its meta-only refusal
    # short-circuit (see _bm25_pruned_topk) costs zero Spark jobs
    q_pairs = [
        (r[query_id_col], r["token"])
        for r in queries.select(
            query_id_col, F.col(term_col).alias("token")
        ).distinct().collect()
    ]
    terms = sorted({t for _, t in q_pairs})
    if not terms:
        raise ValueError("bm25_topk_from_index: queries must be non-empty")

    # read-mostly fast path: a compacted base with NO tail and NO
    # tombstones IS the live set (unique row per doc, stats in meta) —
    # take N/avgdl from meta and skip the per-query corpus-wide doclen
    # aggregate; per-doc dl is then a scan+join, never a wide groupBy.
    # Any tail append or delete falls back to the exact merge path.
    # Deciding "no tail" from tail-DOCLEN absence alone is safe because
    # search_index_batch appends doclen BEFORE postings (its documented
    # write-order invariant): tail postings can never exist without a
    # tail doclen having landed first.
    doclen_path, _, tomb_path = _paths(index_path)
    base_doclen_path, _, meta_path = _base_paths(index_path)
    meta_rows = read_meta_rows(spark, meta_path)
    fast = lsm.base_is_live(spark, meta_rows, doclen_path, tomb_path)
    # MaxScore / block-max early termination: on the
    # read-mostly base with the impact layer present, answer from the
    # provably-sufficient posting blocks instead of scoring every
    # posting of every term — exact top-k, sub-df-proportional reads.
    # The candidate-filtered call stays on the full path: θ bounds the
    # index-wide k-th best, not the k-th best within a candidate set.
    # ``pruned=False`` forces the full path — an operator escape hatch
    # and the A/B comparator the scaling harness measures against.
    pruned_out = None
    dft_reuse: dict = {}
    if pruned and fast and candidates is None:
        got = _bm25_pruned_topk(
            spark, index_path, queries, meta_rows[0], terms,
            k, k1, b, id_col, query_id_col, term_col, max_df_frac, diag,
            force=(pruned == "force"), dft_out=dft_reuse,
            q_pairs=q_pairs,
        )
        if got is not None:
            pruned_out, remaining = got
            if remaining is None:
                return pruned_out
            # partial engagement: the cost-gate-refused queries ride
            # the exact full path below, scoped to THEIR terms only;
            # results union at the end (both paths emit the same
            # (query_id, id, score, rank) contract)
            queries = remaining
            terms = sorted(
                r["token"]
                for r in queries.select(
                    F.col(term_col).alias("token")
                ).distinct().collect()
            )
    if diag is not None and pruned_out is None:
        diag["pruned"] = False
    # NOTE (r12 measured negative, kept for the record): a
    # slice-scoped variant of this read was built and A/B'd — stats
    # EXACT from meta ± a churned-docs delta, per-candidate doclen from
    # the hit ids' id_bucket dirs opened by name, df-routed by a dfs
    # hit-fraction estimate. GLOBAL won at 600k AND 6M docs (selective
    # 2-term query, warm medians: scoped 5.5-5.8 s vs global 3.2-3.8 s
    # at both scales) because hit/churn ids hash across every bucket
    # (no read pruning), the corpus-skinny doclen merge is one
    # partial-aggregated columnar pass Spark parallelizes perfectly,
    # and the scoped plan pays ~6 extra driver actions of pure job
    # latency. Bucket-name pruning pays for REWRITES (the incremental
    # fold) and for point discovery (phrase probes), not for per-query
    # liveness reads.
    if fast:
        m = meta_rows[0]
        n_live = float(m["n_live"])
        stats = spark.createDataFrame(
            [(n_live, (m["sum_dl"] / n_live) if n_live else 0.0)],
            "n double, avgdl double",
        )
        # used once below (the per-candidate dl join) — no persist
        live = open_parquet(spark, base_doclen_path).select(
            id_col, "dl", "seq"
        )
    else:
        live = live_doclen(spark, index_path, id_col).persist()
        stats = live.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("dl").alias("avgdl"),
        )
    # token IN (...) reaches the parquet scans as pushed filters (plus
    # token_bucket partition pruning on the compacted base); the
    # surviving slice is query-hit-proportional.
    hit = query_postings(
        spark,
        index_path,
        terms,
        id_col,
        # dl-carry: on an impacts-mode compacted base (meta stamps
        # impact_k1) with no tail, the postings' denormalized dl IS the
        # live per-doc length — ride it into scoring and skip the
        # doclen join there (query_postings silently omits the column
        # if a tail append raced the fast probe, degrading to the join)
        with_dl=fast and meta_rows[0].get("impact_k1") is not None,
    )
    if fast:
        # base-is-live invariant: every base postings row is live and
        # unique (compaction dropped dead versions and deduplicated
        # replays) and the tail is empty (the fast gate, plus the
        # doclen-before-postings write-order invariant) — the replay
        # dedup and the live-version join are provable no-ops here, so
        # skip their two shuffles outright.
        tf_live = hit.select(
            id_col, "token", "tf",
            *(["dl"] if "dl" in hit.columns else []),
        )
    else:
        # dropDuplicates absorbs at-least-once replay copies
        # (byte-identical rows) on the hit slice, never corpus-wide.
        # Live-version filter: deliberately hint-free — for rare terms
        # the hit slice is tiny and AQE broadcasts it; for a high-df
        # (stop-word-like) term the slice is corpus-proportional and a
        # forced broadcast would OOM at scale — AQE keeps it a shuffle
        # join instead.
        tf_live = (
            hit.dropDuplicates([id_col, "token", "seq"])
            .join(live.select(id_col, "seq"), on=[id_col, "seq"])
            .select(id_col, "token", "tf")
            .persist()
        )
    # per-token document frequency over the live set. Read-mostly fast
    # path: the compacted base's precomputed dfs table (written at
    # compaction, exactly the live set's frequencies when no tail or
    # tombstone exists) — skips a groupBy over the hit slice, which is
    # corpus-proportional for a stop-word-like term. Any churn since
    # compaction falls back to the exact aggregate.
    dfs_root = os.path.join(index_path, "base", "dfs")
    dfs_df = None
    dft_local = None
    if fast and dft_reuse.pop("__collected__", False):
        # the cost gate already collected and merged exactly this dfs
        # slice driver-side (same token filter, integral-double partial
        # sums — order-independent); build dft locally instead of
        # re-scanning the dfs dirs in the main job. Terms absent from
        # the slice have no dfs row on either route. The dft snapshot
        # is GATE-time: on the unlocked-daemon race (compaction swap
        # between the gate collect and the main job) it can be one
        # snapshot older than the postings scanned below — covered by
        # the compact_index_inplace swap-race recovery-window contract.
        dft_local = spark.createDataFrame(
            [(t, float(dft_reuse[t])) for t in terms if t in dft_reuse],
            "token string, dft double",
        )
    elif fast and lsm.has_partition_prefix(dfs_root, "token_bucket="):
        # open only the query terms' bucket dirs by name (an empty base
        # has none and takes the exact aggregate below). No dir at all
        # means no live doc holds any query term — an empty dfs states
        # exactly that
        dfs_df = lsm.open_dirs(
            spark,
            dfs_root,
            [
                f"token_bucket={b}"
                for b in lsm.term_buckets(terms, int(m["token_buckets"]))
            ],
            empty_schema="token string, dft double",
        )
    if dft_local is not None:
        dft = dft_local
    elif dfs_df is not None:
        # the dfs layout stores per-(bucket, id_sub) PARTIAL counts
        dft = (
            dfs_df.filter(F.col("token").isin(terms))
            .groupBy("token")
            .agg(F.sum("dft").cast("double").alias("dft"))
        )
    else:
        # this branch references tf_live twice (df counting + scoring):
        # make sure it is cached — the fast path above skips the persist
        # because the normal fast route (precomputed dfs) scans it once
        tf_live = tf_live.persist()
        dft = tf_live.groupBy("token").agg(
            F.count(F.lit(1)).cast("double").alias("dft")
        )
    if max_df_frac is not None:
        dft = dft.crossJoin(F.broadcast(stats)).filter(
            F.col("dft") <= F.lit(max_df_frac) * F.col("n")
        ).select("token", "dft")
    # candidate restriction AFTER the df aggregate (stats stay
    # corpus-global by contract) and BEFORE scoring (the ranking window
    # and the dl join shrink with the filter)
    tf_scored = (
        tf_live.join(
            candidates.select(id_col).distinct(), id_col, "left_semi"
        )
        if candidates is not None
        else tf_live
    )
    out = bm25_rank_components(
        tf_scored, live.select(id_col, "dl"), stats, dft, queries,
        k=k, k1=k1, b=b, id_col=id_col,
        query_id_col=query_id_col, term_col=term_col,
    )
    live.unpersist()
    tf_live.unpersist()
    return out if pruned_out is None else out.unionByName(pruned_out)


def _auto_id_subbuckets(n_live: int) -> int:
    """Corpus-adaptive ``id_sub`` fan-out for the two-level base layout:
    the sub-bucket level caps the incremental compactor's rewrite unit on Zipf-head token buckets — churn vocab
    ALWAYS contains the ubiquitous JSON-key tokens, so the affected
    bucket set always includes the head buckets and ``n_sub`` is the
    only lever on how much of them one churned doc drags into a fold.
    It trades directly against full-rewrite + listing overhead
    (token_buckets × n_sub output dirs), so it must grow with the
    corpus and stay small below it. Fit to the measured points
    (sf0.1 sweep, r10; 6 M-doc SCALING, r09): a fixed 16 at 600 k docs
    cost +59% full-rewrite time for nothing; n_sub=1 at 60 k docs
    (fixed job costs dominate any fold there), n_sub≈4 at 600 k (full
    rewrite 18.6 s vs 29.1 s at 16, fold 12.2 s vs 14.6 s at 1), and
    n_sub=16 at 6 M (the flat-at-10× fold) lie on ``(n_live/60k)^0.6``
    — ×4 fan-out per ×10 docs. Power-of-two steps keep dir counts
    tidy; 256 caps driver-side pair enumeration (token_buckets × n_sub
    ints) at any corpus this layout precedes re-sharding for."""
    import math

    if n_live <= 60_000:
        return 1
    raw = (n_live / 60_000) ** 0.6
    return min(256, 2 ** round(math.log2(raw)))


def _dfs_rows(staged_po: DataFrame, impacts: bool = True) -> DataFrame:
    """Per-(token_bucket, id_sub, token) dfs partials derived from
    just-written base postings: the document-frequency partial plus
    (``impacts=True``) the impact-bound columns the MaxScore pruned
    read plans with — the partial ``max_impact0`` and the EXACT top-G
    impacts (partials are doc-disjoint, so merging a token's partial
    arrays yields the exact global top-G). The row_number pre-pass
    bounds per-group state at G doubles no matter how many postings a
    Zipf-head token puts in one pair — a bare collect_list would grow
    with bucket_rows/n_sub, which rises ~×2.5 per ×10 docs under the
    auto fan-out.

    ``impacts=False`` (fingerprint-token indexes — the shingle/stats
    twin, whose md5 "tokens" are only ever probed by equality, never
    BM25-ranked) writes the plain df partial and SKIPS the whole bound
    layer: the per-pair sort the window needs is the dominant write
    cost of the r13 impact layer, and for an index nothing will ever
    rank it is pure overhead."""
    if not impacts:
        return staged_po.groupBy("token_bucket", "id_sub", "token").agg(
            F.count(F.lit(1)).cast("double").alias("dft"),
        )
    w = Window.partitionBy("token_bucket", "id_sub", "token").orderBy(
        F.desc("impact0")
    )
    # equi-width stored-impact histogram bin (impact0 ∈ (0, 1], so
    # impact0 == 1.0 clamps into the top bin) — the pruned read's cost
    # gate sums a token's partial histograms to estimate how many
    # postings a cut skips
    hist_bin = F.least(
        F.lit(IMPACT_HIST_BINS - 1),
        F.floor(F.col("impact0") * IMPACT_HIST_BINS).cast("int"),
    )
    return (
        staged_po.withColumn("_rn", F.row_number().over(w))
        .withColumn("_ib", hist_bin)
        .groupBy("token_bucket", "id_sub", "token")
        .agg(
            F.count(F.lit(1)).cast("double").alias("dft"),
            F.max("impact0").alias("max_impact0"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= IMPACT_TOP_G, F.col("impact0"))
                ),
                asc=False,
            ).alias("top_impacts"),
            F.array(
                *[
                    F.sum(
                        F.when(F.col("_ib") == i, F.lit(1)).otherwise(
                            F.lit(0)
                        )
                    )
                    for i in range(IMPACT_HIST_BINS)
                ]
            ).alias("impact_hist"),
        )
    )


def _dfs_rows_arrow(staged_po: DataFrame) -> DataFrame:
    """Arrow-native impacts-mode dfs derivation: the
    same rows as :func:`_dfs_rows(impacts=True)` — bit-exact, pinned by
    ``test_dfs_rows_arrow_equals_window`` — computed WITHOUT pushing
    every posting row through an Exchange + Sort + window.

    The window formulation needs ClusteredDistribution on
    (token_bucket, id_sub, token) plus an impact0-desc sort, which on
    the incremental fold's dir-clustered staged postings (never
    hash-exchanged — the keep side deliberately preserves its read
    clustering) costs a full shuffle and sort of every affected-pair
    row, and the top-G/histogram aggregate rides ObjectHashAggregate.
    Every statistic here is MERGEABLE though: counts and histogram bins
    sum, maxes max, and the union of partial top-Gs contains the global
    top-G. So stage 1 computes per-Arrow-batch partials with vectorized
    numpy (lexsort + run boundaries — no Python loop over groups) and
    stage 2 merges them with a vocab-sized SQL aggregate: the exchange
    carries ~one skinny partial row per (pair, token, batch) instead of
    every posting row, and the posting-scale sort disappears entirely.
    (The all-SQL two-phase variant was measured 2× SLOWER in r13 — its
    per-partition ``collect_list`` partials push posting-scale state
    through ObjectHashAggregate twice; the numpy partials are exactly
    what that shape was missing.)

    Input may be any frame with (token_bucket, id_sub, token, impact0)
    — extra columns are pruned here, keeping the Python boundary to the
    four columns the statistics need (guide §4.1)."""
    topg = IMPACT_TOP_G
    bins = IMPACT_HIST_BINS
    part_schema = (
        "token_bucket int, id_sub int, token string, cnt long, "
        "mx double, topg array<double>, hist array<long>"
    )

    def _partials(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            tb = batch.column(0).to_numpy(zero_copy_only=False)
            sb = batch.column(1).to_numpy(zero_copy_only=False)
            tok = batch.column(2)
            x = batch.column(3).to_numpy(zero_copy_only=False)
            codes = (
                pc.dictionary_encode(tok)
                .indices.to_numpy(zero_copy_only=False)
            )
            # one vectorized grouping pass: order rows by (tb, sb,
            # token-code, impact desc), find run boundaries
            order = np.lexsort((-x, codes, sb, tb))
            ts, ssb, cs = tb[order], sb[order], codes[order]
            xs = x[order]
            newg = np.empty(n, dtype=bool)
            newg[0] = True
            newg[1:] = (
                (ts[1:] != ts[:-1])
                | (ssb[1:] != ssb[:-1])
                | (cs[1:] != cs[:-1])
            )
            starts = np.flatnonzero(newg)
            ng = len(starts)
            gidx = np.cumsum(newg) - 1
            counts = np.diff(np.append(starts, n))
            # impacts are desc within each run, so the run head is the
            # max and the first min(count, G) elements are the top-G
            mx = xs[starts]
            rank = np.arange(n) - starts[gidx]
            topg_vals = xs[rank < topg]
            topg_counts = np.minimum(counts, topg)
            topg_offsets = np.zeros(ng + 1, dtype=np.int32)
            np.cumsum(topg_counts, out=topg_offsets[1:])
            # equi-width histogram — same double arithmetic as the SQL
            # expression (floor(impact0*BINS) clamped into the top bin)
            hbin = np.minimum(
                bins - 1, np.floor(xs * bins).astype(np.int64)
            )
            hist_flat = np.bincount(
                gidx * bins + hbin, minlength=ng * bins
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ts[starts].astype("int32"), type=pa.int32()),
                    pa.array(ssb[starts].astype("int32"), type=pa.int32()),
                    tok.take(pa.array(order[starts])),
                    pa.array(counts.astype("int64"), type=pa.int64()),
                    pa.array(mx, type=pa.float64()),
                    pa.ListArray.from_arrays(
                        pa.array(topg_offsets, type=pa.int32()),
                        pa.array(topg_vals, type=pa.float64()),
                    ),
                    pa.ListArray.from_arrays(
                        pa.array(
                            np.arange(ng + 1, dtype=np.int32) * bins,
                            type=pa.int32(),
                        ),
                        pa.array(hist_flat, type=pa.int64()),
                    ),
                ],
                names=[
                    "token_bucket", "id_sub", "token",
                    "cnt", "mx", "topg", "hist",
                ],
            )

    partials = staged_po.select(
        "token_bucket", "id_sub", "token", "impact0"
    ).mapInArrow(_partials, part_schema)
    return partials.groupBy("token_bucket", "id_sub", "token").agg(
        F.sum("cnt").cast("double").alias("dft"),
        F.max("mx").alias("max_impact0"),
        # each partial carries its own top-G; the global top-G is the
        # top-G of their union (doc-disjoint [split-disjoint] partials)
        F.slice(
            F.sort_array(F.flatten(F.collect_list("topg")), asc=False),
            1,
            topg,
        ).alias("top_impacts"),
        F.array(
            *[F.sum(F.element_at("hist", i + 1)) for i in range(bins)]
        ).alias("impact_hist"),
    )


#: base/meta schema for a compacted search index. The ``impact_*``
#: columns stamp the bound layer: the (k1, b) the stored impacts were
#: computed under, the avgdl-stamp bracket across live base partitions
#: (full compaction resets both ends to the current avgdl; each
#: incremental fold widens them with its own stamp), and the stored
#: top-array length.
_SEARCH_META_SCHEMA = (
    "token_buckets int, id_subbuckets int, n_live long, sum_dl double, "
    "impact_k1 double, impact_b double, impact_avgdl_min double, "
    "impact_avgdl_max double, impact_topg int, impact_hist_bins int"
)


#: A/B knob — tokenize each micro-batch ONCE into the persisted
#: `latest` cache (token arrays) instead of caching text and letting
#: the stats job, the doclen write and the postings write each re-run
#: `_words(text)` over the cache. False = the r03-r13 cache-text shape.
#: MEASURED scale trade (in-process alternating A/Bs, both pair
#: orders): at the bench's 600k-doc bulk build tokenize-once won all 4
#: pairs (~−15%: 6.1–6.7 vs 7.0–8.6 s); at a 6M-doc bulk build it LOST
#: (~+25%: mirrored pairs 50.0/57.5, 37.4/46.4, 35.3/48.9 s old/new) —
#: columnar-caching array<string> rows costs more than the two saved
#: tokenizer passes once the cache outgrows memory-friendly sizes. The
#: daemon's steady state is trickle micro-batches (both arms trivial),
#: so the default serves the common regimes; flip to False for a
#: giant single-batch backfill (or shard it, which the feed reader
#: does anyway). Numbers in OPTIMIZATION_r14.md §6 / SCALING.md r14.
_TOKENIZE_ONCE = True


def compact_index(
    spark: SparkSession,
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    token_buckets: int = 64,
    id_subbuckets: int | None = None,
    impacts: bool = True,
) -> None:
    """Rewrite the index keeping only LIVE rows, into ``out_path/base``
    (the layout :func:`_write_base` lays down): no tombstones, no dead
    versions, no replay copies. ``out_path``'s tail dirs start absent —
    :func:`search_index_batch` keeps appending there and
    :func:`bm25_topk_from_index` reads base ∪ tail (the
    log-structured-merge discipline): the append-only tail stays cheap
    to write, the compacted base cheap to read; read amplification
    between compactions is bounded by the update rate, not corpus size.
    ``index_path`` may itself carry a base — compaction merges it.

    This function is the base's SOURCE for a whole index: the live
    doclen set (:func:`live_doclen`), every posting of a live version
    (:func:`_full_postings`) and the latest attrs row per live doc
    (:func:`_all_attrs`). A first batch reaching an empty index feeds
    the same writer from the batch itself
    (:func:`_search_index_batch_locked`).

    ``out_path`` must not share component directories with
    ``index_path``: the dfs/doclen derivations read back files the
    writer has already written under ``out_path`` (and the staged
    postings cache can lazily recompute through lineage that re-reads
    ``index_path``), so an overlapping
    target would mix half-written state into its own inputs.
    :func:`compact_index_inplace` (staging sibling + atomic swap) is
    the supported same-path flow and guarantees this."""
    live = live_doclen(spark, index_path, id_col).persist()
    # corpus stats up front: n_live sizes the id_sub fan-out and avgdl
    # stamps the per-posting impact bounds the writer lays down
    st = live.agg(
        F.count(F.lit(1)).alias("n_live"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    # the inner join against live (id, seq) both restricts to live
    # versions and DENORMALIZES dl onto every posting row — the read
    # path then never joins doclen for per-doc length.
    # replay dedup AFTER the live join: the join
    # already hash-exchanges postings by (id, seq), and HashPartitioning
    # on a SUBSET of the dedup keys satisfies the dedup aggregate's
    # ClusteredDistribution on (id, token, seq) — so ordered this way
    # the dedup rides the join's exchange instead of paying its own
    # full posting-scale Exchange (3 → 2 posting-scale exchanges in the
    # full rewrite), and it runs on the post-join LIVE rows (dead
    # versions already dropped) instead of every replay/dead row.
    # Semantics are unchanged: replay copies are byte-identical, live
    # has exactly one row per (id, seq), and the inner join is 1:1 —
    # dedup before or after commutes exactly (OPTIMIZATION_r14.md has
    # the measurement).
    postings = (
        _full_postings(spark, index_path, id_col)
        .join(live.select(id_col, "seq", "dl"), on=[id_col, "seq"])
        .dropDuplicates([id_col, "token", "seq"])
    )
    # per-doc attribute state (stats_stream's doc→source map, or any
    # other seq-wins attrs file) survives compaction as the max-seq row
    # per LIVE doc
    attrs = _all_attrs(spark, index_path, id_col)
    if attrs is not None:
        other = [c for c in attrs.columns if c not in (id_col, "seq")]
        attrs = (
            attrs.groupBy(id_col)
            .agg(
                F.max("seq").alias("seq"),
                *[F.max_by(c, "seq").alias(c) for c in other],
            )
            .join(live.select(id_col), id_col)
            .select(id_col, *other, "seq")
        )
    _write_base(
        spark, out_path, live, postings, attrs,
        n_live=int(st["n_live"]), sum_dl=float(st["sum_dl"] or 0.0),
        id_col=id_col, token_buckets=token_buckets,
        id_subbuckets=id_subbuckets, impacts=impacts,
    )
    live.unpersist()


def _write_base(
    spark: SparkSession,
    out_path: str,
    live: DataFrame,
    postings: DataFrame,
    attrs: DataFrame | None,
    n_live: int,
    sum_dl: float,
    id_col: str,
    token_buckets: int,
    id_subbuckets: int | None,
    impacts: bool,
) -> None:
    """Lay down a compacted base under ``out_path/base`` from its
    source: ``live`` (id, dl, seq) — one row per live doc; ``postings``
    (id, seq, token, tf, dl) — every posting of a live version, unique
    per (id, token, seq); ``attrs`` (id, *attrs, seq) — one row per
    live doc, or None; and the live set's ``n_live``/``sum_dl``.

    Base layout (everything the incremental compactor's cost model
    depends on — see :func:`compact_index_incremental`):

    * ``base/postings`` partitioned by ``(token_bucket, id_sub)`` —
      token hash bucket × id hash sub-bucket. Query-term reads prune on
      ``token_bucket`` alone; the ``id_sub`` level exists for the
      INCREMENTAL compactor: posting volume per token bucket is
      frequency-weighted, so a stop-word-like token (JSON keys here,
      Zipf heads in real text) makes ONE bucket hold a corpus-scale row
      count and any churned doc touches it — measured 69% of all rows
      behind 46/5120 "affected buckets". Sub-bucketing by id caps the
      rewrite unit at bucket_rows/id_subbuckets, and a churned doc
      lands in exactly ONE id_sub. ``id_subbuckets=None`` sizes the
      fan-out from the live doc count (:func:`_auto_id_subbuckets`): 1
      at small corpora — where the layout degenerates to the flat one
      and the fan-out would be pure write overhead — growing ×4 per
      ×10 docs (4 at 600 k, 16 at 6 M). Each row carries the doc's
      ``dl`` and the ``impact0`` bound column (idf-free BM25 term under
      the stamped k1/b/avgdl) the MaxScore pruned read skips blocks
      with;
    * ``base/dfs`` partitioned the same way, holding PARTIAL per-token
      document frequencies (readers sum partials over a token's
      sub-dirs — vocab-slice cheap) so the incremental compactor can
      recount exactly the pair dirs it rewrote; a flat dfs rewrite
      would otherwise be the hidden corpus-proportional job on corpora
      whose vocabulary grows with the data;
    * ``base/doclen`` partitioned by ``id_bucket = pmod(hash(id), n)``
      and carrying a ``buckets`` column — the doc's distinct token
      buckets. A churned doc's OLD rows can then be located without any
      postings scan: read the doc's doclen row (id-bucket-pruned) and
      explode ``buckets``;
    * ``base/attrs`` in the same id buckets as doclen, so a fold
      rewrites only the id buckets its churn touched;
    * ``base/meta``: bucket counts, ``n_live``/``sum_dl`` and the
      impact-bound stamp.

    Every partitioned write clusters rows by the partition column
    first: without the repartition every shuffle task writes a file
    into every bucket dir (tasks × buckets tiny files — measured 7×
    slower at 512 buckets), and bucket-pruned reads open ~1 file per
    bucket instead of one per task.

    ``impacts=False`` skips the MaxScore bound layer — the
    denormalized dl/impact0 posting columns, the per-pair impact sort,
    the top-G arrays and histograms — and stamps the meta's impact
    columns ``NULL`` as an explicit "disabled by choice" sentinel. Use
    it for fingerprint-token indexes (the shingle/decontamination
    twin): their md5 tokens are probed by equality, never BM25-ranked,
    so the bound layer is pure write cost in the steady-state fold;
    every ranked read gates off the sentinel and takes the exact full
    path."""
    base_doclen_path, base_postings_path, meta_path = _base_paths(out_path)
    avgdl = (sum_dl / n_live) if n_live else 1.0
    if id_subbuckets is None:
        id_subbuckets = _auto_id_subbuckets(n_live)
    staged = (
        postings.select(id_col, "seq", "token", "tf", "dl")
        .withColumn("token_bucket", lsm.bucket("token", token_buckets))
        .withColumn("id_sub", lsm.bucket(id_col, id_subbuckets))
    )
    # Rows sort (token, impact0 desc) within each partition dir so
    # parquet row-group/page statistics carry tight (token, impact0)
    # ranges — a pushed ``token = t AND impact0 >= cut`` predicate
    # skips the provably-losing blocks at the storage layer (block-max
    # pruning, Ding & Suel 2011 / Turtle & Flood 1995 — public
    # knowledge, re-expressed as columnar statistics).
    if impacts:
        staged = staged.withColumn(
            "impact0", _impact0_expr(IMPACT_K1, IMPACT_B, avgdl)
        ).repartition(
            F.col("token_bucket"), F.col("id_sub")
        ).sortWithinPartitions(
            "token_bucket", "id_sub", "token", F.desc("impact0")
        )
        # persist the staged (exchanged + impact-sorted) postings so
        # the dfs window and doc_buckets consume the cache instead of
        # re-reading the written files. The exchange+sort is paid
        # anyway for the impact-ordered partitioned write, so the
        # window rides it nearly free (r14 A/B: faster than the Arrow
        # read-back the incremental fold uses, whose staged rows have
        # no exchange to ride)
        from pyspark.storagelevel import StorageLevel

        staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    else:
        # no bound layer: skinny rows (no dl/impact0), no impact sort —
        # the per-pair ordering only exists for block-max skipping
        staged = staged.drop("dl").repartition(
            F.col("token_bucket"), F.col("id_sub")
        ).sortWithinPartitions("token_bucket", "id_sub", "token")
    (
        staged.write.mode("overwrite")
        .partitionBy("token_bucket", "id_sub")
        .parquet(base_postings_path)
    )
    # per-token document frequencies over the compacted base — the
    # probe-planning statistic (rarest-term selection in
    # phrase_candidate_ids; the read-mostly BM25 df fast path). Derived
    # from the base postings just written (read back page-cache-hot and
    # column-pruned in impact-less mode) so it is exactly consistent
    # with them; tail appends after this compaction are simply unknown
    # to it, which only ever makes a term LOOK rarer — safe for probe
    # selection, never used for correctness. A base with no posting
    # (every live doc tokenless) reads back as an empty frame.
    id_t = dict(live.dtypes)[id_col]
    if impacts:
        written = staged
    else:
        (written,) = read_components(
            spark,
            [(
                base_postings_path,
                f"{id_col} {id_t}, seq long, token string, tf double, "
                "token_bucket int, id_sub int",
            )],
            id_col,
        )
    (
        _dfs_rows(written, impacts=impacts)
        .repartition(F.col("token_bucket"), F.col("id_sub"))
        .write.mode("overwrite")
        .partitionBy("token_bucket", "id_sub")
        .parquet(os.path.join(out_path, "base", "dfs"))
    )
    # doclen with the per-doc token-bucket set (zero-postings docs get
    # an empty array) in the id-hash partition layout
    doc_buckets = written.groupBy(id_col).agg(
        F.collect_set("token_bucket").alias("buckets")
    )
    (
        live.join(doc_buckets, id_col, "left")
        .select(
            id_col,
            "dl",
            "seq",
            F.coalesce(F.col("buckets"), F.array().cast("array<int>")).alias(
                "buckets"
            ),
            lsm.bucket(id_col, token_buckets).alias("id_bucket"),
        )
        .repartition(F.col("id_bucket"))
        .write.mode("overwrite")
        .partitionBy("id_bucket")
        .parquet(base_doclen_path)
    )
    # attrs in the SAME id hash buckets as doclen (r10: the flat attrs
    # rewrite was the incremental compactor's last
    # doc-count-proportional residual — a bucketed base lets the fold
    # rewrite only the id buckets its churn touched). Future
    # ``stats_index_batch`` appends land in the flat ``attrs`` tail and
    # win by max-seq in every reader.
    if attrs is not None:
        (
            attrs.withColumn("id_bucket", lsm.bucket(id_col, token_buckets))
            .repartition(F.col("id_bucket"))
            .write.mode("overwrite")
            .partitionBy("id_bucket")
            .parquet(os.path.join(out_path, "base", "attrs"))
        )
    if impacts:
        staged.unpersist()
    # corpus stats ride the meta file: with no tail yet, a query takes
    # N/avgdl from here and skips the per-query corpus-wide doclen
    # aggregate entirely — the read-mostly fast path. A base write
    # stamps every partition with TODAY's avgdl, so the impact bracket
    # collapses to a point (r_max = s_min = 1 until the first fold).
    # 1-row meta parquet (not a driver-side json write): same directory
    # layout on whatever filesystem the index lives on — pyarrow-direct
    # on a local path, Spark job elsewhere (meta_io)
    write_meta_rows(
        spark,
        meta_path,
        [(
            int(token_buckets),
            int(id_subbuckets),
            n_live,
            sum_dl,
            float(IMPACT_K1) if impacts else None,
            float(IMPACT_B) if impacts else None,
            avgdl if impacts else None,
            avgdl if impacts else None,
            int(IMPACT_TOP_G) if impacts else None,
            int(IMPACT_HIST_BINS) if impacts else None,
        )],
        _SEARCH_META_SCHEMA,
    )


def compact_index_inplace(
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
    token_buckets: int | None = None,
    id_subbuckets: int | None = None,
    impacts: bool | None = None,
) -> None:
    """Compact an LSM search index IN PLACE — the daemon watchdog's
    maintenance step when ``compaction_debt`` crosses its threshold:
    :func:`compact_index` into a staging sibling, then swap directories.

    Runs under the same per-path lock as :func:`search_index_batch`, so
    a concurrent micro-batch either lands fully before the snapshot or
    fully after the swap — never half in a directory that is about to
    be replaced. ``token_buckets`` defaults to the bucket count already
    recorded in the index's base meta (layout continuity; 64 when the
    index has never been compacted). ``id_subbuckets`` is deliberately
    NOT carried over from meta: a full rewrite re-lays every dir anyway,
    so it re-sizes from the CURRENT live doc count
    (:func:`_auto_id_subbuckets`) — the corpus may have grown (or
    shrunk) since the fan-out was last picked, and the stale value is
    exactly the fixed-16-at-600 k mistake the auto-sizing exists to
    avoid. The incremental compactor, which must preserve the layout it
    folds into, keeps reading n_sub from meta.

    Swap discipline (the daemon watchdog triggers this automatically,
    so UNLOCKED readers — ``bm25_topk_from_index``, ``index_status`` —
    can race it): the index ROOT is never renamed or removed; each
    COMPONENT directory (base/doclen/postings/tombstones/attrs) is one
    step of a ``commit.publish``. A reader planning mid-swap can see a
    component transiently absent — ``read_components`` degrades that
    to an empty frame, not a path-not-found crash — and a reader that
    PLANNED before the swap races file replacement: recovery window,
    not snapshot isolation."""
    with writing(index_path):
        _, _, meta_path = _base_paths(index_path)
        meta_rows = read_meta_rows(spark, meta_path)
        if token_buckets is None:
            token_buckets = (
                int(meta_rows[0]["token_buckets"]) if meta_rows else 64
            )
        if impacts is None:
            # mode continuity: an index compacted without the impact
            # layer (the explicit NULL sentinel) stays that way across
            # rewrites; a never-compacted index defaults to impacts
            impacts = not (
                meta_rows and meta_rows[0]["impact_hist_bins"] is None
            )
        stage = staging(index_path, "compacting")
        compact_index(
            spark, index_path, stage, id_col=id_col,
            token_buckets=token_buckets, id_subbuckets=id_subbuckets,
            impacts=impacts,
        )
        publish(
            index_path,
            [
                (os.path.join(index_path, comp), os.path.join(stage, comp))
                for comp in ("base", "doclen", "postings", "tombstones", "attrs")
            ],
            stage,
        )


def compact_index_incremental(
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
    impacts_default: bool = True,
) -> dict:
    """Fold the append tail into only the partition dirs it touches, so
    recurring compaction cost is churn-proportional, not
    corpus-proportional (:func:`compact_index_inplace` rewrites the
    whole base).

    The LSM core (:mod:`streaming.lsm`) discovers the churned ids and
    their id buckets, resolves their liveness and publishes the fold.
    This function supplies the search payload:

    * **affected units are (token_bucket, id_sub) pairs**: a
      stop-word-like token puts a corpus-scale row count behind one
      token bucket, but a churned doc lands in exactly one ``id_sub``,
      so the rewrite unit is ``bucket_rows/id_subbuckets``;
    * **old pairs come from base doclen**: a churned doc's
      ``buckets`` column (id-bucket-pruned read) × its own ``id_sub`` —
      never a postings scan; new pairs come from the tail postings;
    * **non-churned rows in affected pairs pass through** with their
      stored ``dl``/``impact0`` (live and unique by the compaction
      invariant); churned-doc rows pay the replay dedup and liveness
      join, and get ``impact0`` stamped under the pre-fold avgdl, which
      the meta's ``[impact_avgdl_min, impact_avgdl_max]`` bracket
      widens to cover;
    * **dfs holds per-pair partial counts**, recounted for exactly the
      rewritten pairs; doclen and attrs rewrite per affected
      ``id_bucket``; meta moves by the exact churn delta.

    Falls back to a full :func:`compact_index_inplace` when the index
    has never been compacted or has an empty base. Returns a stats dict
    (``mode`` = ``full`` | ``noop`` | ``incremental``, pair/bucket
    counts, affected dir lists) the daemon watchdog logs."""
    with writing(index_path):
        doclen_path, postings_path, tomb_path = _paths(index_path)
        base_doclen_path, base_postings_path, meta_path = _base_paths(
            index_path
        )
        meta_rows = read_meta_rows(spark, meta_path)
        if not meta_rows:
            # first compaction of a fresh index: ``impacts_default``
            # picks the mode (the daemon passes False for the
            # fingerprint-token shingle twin); thereafter the meta
            # sentinel carries it
            compact_index_inplace(
                spark, index_path, id_col=id_col, impacts=impacts_default
            )
            return {"mode": "full"}
        m = meta_rows[0]
        n_buckets = int(m["token_buckets"])
        n_sub = int(m["id_subbuckets"])

        # footer counts: a churn-free index (a bootstrapped or freshly
        # folded base) answers noop without a Spark job
        if not component_rows(spark, doclen_path) and not component_rows(
            spark, tomb_path
        ):
            return {
                "mode": "noop",
                "churned_docs": 0,
                "affected_pairs": 0,
                "total_buckets": n_buckets,
            }
        tail_dl, tomb = read_components(
            spark,
            [
                (doclen_path, f"{id_col} long, dl double, seq long"),
                (tomb_path, f"{id_col} long, seq long"),
            ],
            id_col,
        )

        # an empty base (no live doc, or no live posting) has no
        # bucket dirs to fold into and no prior avgdl to stamp fold
        # rows with; its full rewrite is tail-sized anyway
        if (
            int(m["n_live"]) == 0
            or not lsm.has_partition_prefix(base_doclen_path, "id_bucket=")
            or not lsm.has_partition_prefix(
                base_postings_path, "token_bucket="
            )
        ):
            compact_index_inplace(
                spark, index_path, id_col=id_col, impacts=impacts_default
            )
            return {"mode": "full"}
        # an index compacted with ``impacts=False`` (the shingle twin)
        # carries the impact meta columns as NULL and its folds stay
        # impact-less: no bound columns, no impact sort, plain df
        # partials
        has_impacts = m["impact_hist_bins"] is not None
        # rewritten rows are stamped with the pre-fold avgdl, known
        # from meta without a job
        avgdl_stamp = (
            float(m["sum_dl"] or 0.0) / int(m["n_live"])
            if has_impacts
            else None
        )

        churned, n_churned, aff_id_buckets = lsm.churn(
            tail_dl, tomb, id_col, n_buckets
        )
        id_dirs = [f"id_bucket={b}" for b in aff_id_buckets]
        id_t = dict(tail_dl.dtypes).get(id_col, "long")
        base_dl_aff = lsm.open_dirs(
            spark,
            base_doclen_path,
            id_dirs,
            f"{id_col} {id_t}, dl double, seq long, "
            "buckets array<int>, id_bucket int",
        ).persist()
        # churned docs' old doclen rows: the source of their old pairs
        # and their old-version seq for liveness
        base_dl_churned = (
            base_dl_aff.join(churned, on=id_col, how="left_semi")
            .select(id_col, "dl", "seq", "buckets")
            .persist()
        )
        schema_po = f"{id_col} {id_t}, token string, tf double, seq long"
        (tail_po,) = read_components(
            spark, [(postings_path, schema_po)], id_col
        )
        tail_po = tail_po.select(id_col, "token", "tf", "seq")
        sub_of_id = lsm.bucket(id_col, n_sub)
        tail_pairs = tail_po.select(
            lsm.bucket("token", n_buckets).alias("tb"), sub_of_id.alias("sb")
        ).distinct()
        old_pairs = base_dl_churned.select(
            F.explode("buckets").alias("tb"), sub_of_id.alias("sb")
        ).distinct()
        pairs = sorted(
            (r["tb"], r["sb"])
            for r in tail_pairs.unionByName(old_pairs).distinct().collect()
        )  # driver-bounded: <= token_buckets × id_subbuckets ints
        pair_dirs = [f"token_bucket={tb}/id_sub={sb}" for tb, sb in pairs]

        churned_live = lsm.live_versions(
            base_dl_churned.select(id_col, "dl", "seq").unionByName(
                tail_dl.select(id_col, "dl", "seq")
            ),
            tomb,
            id_col,
            carry=("dl",),
        ).persist()
        stage = staging(index_path, "compacting-incr")

        # affected-pair postings, opened by dir name
        impact_cols = ["dl", "impact0"] if has_impacts else []
        base_schema_po = (
            f"{id_col} {id_t}, token string, tf double, seq long, "
            + ("dl double, impact0 double, " if has_impacts else "")
            + "token_bucket int, id_sub int"
        )
        base_aff = lsm.open_dirs(
            spark, base_postings_path, pair_dirs, base_schema_po
        ).select(id_col, "token", "tf", "seq", *impact_cols)
        keep = base_aff.join(churned, on=id_col, how="left_anti")
        # churn side: the inner join against churned_live's (id, seq)
        # enforces liveness and, in impact mode, carries the live dl
        # onto every posting (tail rows have no stored dl)
        churn_rows = (
            base_aff.select(id_col, "token", "tf", "seq")
            .unionByName(tail_po)
            .join(churned, on=id_col, how="left_semi")
            .dropDuplicates([id_col, "token", "seq"])
        )
        if has_impacts:
            churn_rows = (
                churn_rows.join(
                    churned_live.select(id_col, "seq", "dl"),
                    on=[id_col, "seq"],
                )
                .withColumn(
                    "impact0",
                    _impact0_expr(IMPACT_K1, IMPACT_B, avgdl_stamp),
                )
                .select(id_col, "token", "tf", "seq", "dl", "impact0")
            )
        else:
            churn_rows = churn_rows.join(
                churned_live.select(id_col, "seq"), on=[id_col, "seq"]
            ).select(id_col, "token", "tf", "seq")
        merged = (
            keep.unionByName(churn_rows)
            .withColumn("token_bucket", lsm.bucket("token", n_buckets))
            .withColumn("id_sub", sub_of_id)
        )
        staged_postings = os.path.join(stage, "postings")
        # no repartition before the partitioned write: the keep side —
        # ~all of the data — was read dir-clustered and only passed
        # broadcast joins against the tiny churn set, so each write
        # task already holds rows of ~one pair. sortWithinPartitions
        # (no shuffle) keeps (token, impact0 desc) runs per file, so
        # parquet statistics stay tight for the pruned read.
        sort_keys = ["token_bucket", "id_sub", "token"] + (
            [F.desc("impact0")] if has_impacts else []
        )
        merged.sortWithinPartitions(*sort_keys).write.mode(
            "overwrite"
        ).partitionBy("token_bucket", "id_sub").parquet(staged_postings)
        # the empty-read fallback carries the tail's id type: churn that
        # deleted every row of the affected pairs must not leave a
        # bigint frame joining string ids
        (staged_po,) = read_components(
            spark, [(staged_postings, base_schema_po)], id_col
        )
        # dfs and doclen both derive from the staged postings, never
        # from each other: their writes run on two driver threads while
        # the meta delta aggregates on the main one
        from concurrent.futures import ThreadPoolExecutor

        staged_dfs = os.path.join(stage, "dfs")

        def _write_dfs() -> None:
            # impacts mode merges per-pair partials with the Arrow
            # aggregator: the staged files are dir-clustered, and its
            # exchange carries only vocab-sized partials
            (
                (
                    _dfs_rows_arrow(staged_po)
                    if has_impacts
                    else _dfs_rows(staged_po, impacts=False)
                )
                .repartition(F.col("token_bucket"), F.col("id_sub"))
                .write.mode("overwrite")
                .partitionBy("token_bucket", "id_sub")
                .parquet(staged_dfs)
            )

        # doclen: non-churned rows of the affected id buckets pass
        # through; churned docs re-enter with their live version and
        # fresh token-bucket sets from the staged postings
        dl_keep = base_dl_aff.join(churned, on=id_col, how="left_anti").select(
            id_col, "dl", "seq", "buckets"
        )
        churned_buckets = (
            staged_po.join(churned, on=id_col, how="left_semi")
            .groupBy(id_col)
            .agg(F.collect_set("token_bucket").alias("buckets"))
        )
        dl_new = churned_live.join(churned_buckets, id_col, "left").select(
            id_col,
            "dl",
            "seq",
            F.coalesce(F.col("buckets"), F.array().cast("array<int>")).alias(
                "buckets"
            ),
        )
        staged_doclen = os.path.join(stage, "doclen")

        def _write_doclen() -> None:
            (
                dl_keep.unionByName(dl_new)
                .withColumn("id_bucket", lsm.bucket(id_col, n_buckets))
                .repartition(F.col("id_bucket"))
                .write.mode("overwrite")
                .partitionBy("id_bucket")
                .parquet(staged_doclen)
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            dfs_f = pool.submit(_write_dfs)
            dl_f = pool.submit(_write_doclen)
            # no Observation on the doclen write instead: a
            # runtime-empty observed write gets its CollectMetrics
            # optimized away, and the dangling observation corrupts the
            # session for later RDD-closure jobs
            delta = lsm.meta_delta(base_dl_churned, churned_live, sums=("dl",))
            dfs_f.result()
            dl_f.result()
        staged_meta = os.path.join(stage, "meta")
        # the avgdl bracket widens with this fold's stamp; a full
        # compaction collapses it back to a point
        write_meta_rows(
            spark,
            staged_meta,
            [(
                n_buckets,
                n_sub,
                int(m["n_live"]) + int(delta["n"]),
                float(m["sum_dl"] or 0.0) + float(delta["dl"]),
                float(m["impact_k1"]) if has_impacts else None,
                float(m["impact_b"]) if has_impacts else None,
                min(float(m["impact_avgdl_min"]), avgdl_stamp)
                if has_impacts
                else None,
                max(float(m["impact_avgdl_max"]), avgdl_stamp)
                if has_impacts
                else None,
                int(m["impact_topg"]) if has_impacts else None,
                int(m["impact_hist_bins"]) if has_impacts else None,
            )],
            _SEARCH_META_SCHEMA,
        )
        attrs_mode, attrs_groups = _fold_attrs(
            spark, index_path, stage, churned, churned_live, id_dirs,
            n_buckets, id_col,
        )
        churned.unpersist()
        base_dl_aff.unpersist()
        base_dl_churned.unpersist()
        churned_live.unpersist()

        tails = [doclen_path, postings_path, tomb_path]
        if attrs_mode is not None:
            # the attrs tail is folded into base/attrs
            tails.append(os.path.join(index_path, "attrs"))
        lsm.fold_publish(
            index_path,
            [
                (base_postings_path, staged_postings, pair_dirs),
                (os.path.join(index_path, "base", "dfs"), staged_dfs, pair_dirs),
                (base_doclen_path, staged_doclen, id_dirs),
                *attrs_groups,
            ],
            (meta_path, staged_meta),
            tails,
            stage,
        )
        return {
            "mode": "incremental",
            "churned_docs": n_churned,
            "attrs_mode": attrs_mode,
            "affected_pairs": len(pairs),
            "affected_buckets": len({tb for tb, _ in pairs}),
            "total_buckets": n_buckets,
            "id_subbuckets": n_sub,
            "affected_dirs": pair_dirs,
            "affected_id_buckets": aff_id_buckets,
        }


def _fold_attrs(
    spark: SparkSession,
    index_path: str,
    stage: str,
    churned: DataFrame,
    churned_live: DataFrame,
    id_dirs: list[str],
    n_buckets: int,
    id_col: str,
) -> tuple[str | None, list[tuple[str, str, list[str]]]]:
    """Stage the fold of per-doc attrs (latest row per live doc) into
    the churn's ``id_bucket`` dirs of ``base/attrs`` and return its mode
    (``pruned``) with its publish groups for :func:`lsm.fold_publish` —
    ``(None, [])`` when the index has no attrs. A base with no attrs
    dirs yet needs no other path: every attrs tail row's doc is churned
    (``stats_index_batch`` appends attrs only beside a doclen tail
    append; a batch that bootstraps the base writes its attrs into
    ``base/attrs``), so the tail alone is the fold's input."""
    base_attrs_root = os.path.join(index_path, "base", "attrs")
    tail_attrs = try_open_parquet(spark, os.path.join(index_path, "attrs"))
    base_a_aff = lsm.open_dirs(spark, base_attrs_root, id_dirs)
    if base_a_aff is not None:
        base_a_aff = base_a_aff.drop("id_bucket")
    parts = [df for df in (base_a_aff, tail_attrs) if df is not None]
    if not parts:
        return None, []
    other = [c for c in parts[0].columns if c not in (id_col, "seq")]
    cand_a = parts[0]
    for df in parts[1:]:
        cand_a = cand_a.unionByName(df, allowMissingColumns=True)
    # non-churned rows pass through, churned docs re-enter with their
    # max-seq attrs, restricted to the live set
    new_a = (
        cand_a.join(churned, on=id_col, how="left_semi")
        .groupBy(id_col)
        .agg(
            F.max("seq").alias("seq"),
            *[F.max_by(c, "seq").alias(c) for c in other],
        )
        .join(churned_live.select(id_col), id_col, "left_semi")
        .select(id_col, *other, "seq")
    )
    staged_a = (
        base_a_aff.join(churned, on=id_col, how="left_anti")
        .select(id_col, *other, "seq")
        .unionByName(new_a)
        if base_a_aff is not None
        else new_a
    )
    staged_attrs = os.path.join(stage, "attrs")
    (
        staged_a.withColumn("id_bucket", lsm.bucket(id_col, n_buckets))
        .repartition(F.col("id_bucket"))
        .write.mode("overwrite")
        .partitionBy("id_bucket")
        .parquet(staged_attrs)
    )
    return "pruned", [(base_attrs_root, staged_attrs, id_dirs)]


def _live_delta_for_churn(
    spark: SparkSession, index_path: str, id_col: str, n_buckets: int
) -> int:
    """Exact net change in live-doc count made by the churn since the
    last compaction, churn-proportionally: the churned ids' old base
    doclen rows are opened id-bucket-pruned and their liveness resolved
    by the LSM rule. ``index_status`` adds it to meta's ``n_live``, so a
    watchdog tick never aggregates the corpus."""
    doclen_path, _, tomb_path = _paths(index_path)
    base_doclen_path, _, _ = _base_paths(index_path)
    tail_dl, tomb = read_components(
        spark,
        [
            (doclen_path, f"{id_col} long, dl double, seq long"),
            (tomb_path, f"{id_col} long, seq long"),
        ],
        id_col,
    )
    churned, _, aff = lsm.churn(tail_dl, tomb, id_col, n_buckets)
    try:
        id_t = dict(tail_dl.dtypes).get(id_col, "long")
        base_aff = lsm.open_dirs(
            spark,
            base_doclen_path,
            [f"id_bucket={b}" for b in aff],
            f"{id_col} {id_t}, dl double, seq long",
        )
        # base rows are unique per doc by the compaction invariant
        base_churned = base_aff.join(churned, id_col, "left_semi").select(
            id_col, "seq"
        )
        live_now = lsm.live_versions(
            base_churned.unionByName(tail_dl.select(id_col, "seq")),
            tomb,
            id_col,
        )
        return live_now.count() - base_churned.count()
    finally:
        churned.unpersist()


def index_status(
    spark: SparkSession, index_path: str, id_col: str = "doc_id"
) -> dict:
    """Operator health numbers for one LSM search index — the payload the
    daemon's `/_status` control plane surfaces per search-flagged feed:

    * ``live_docs`` — the live corpus size, exact: meta's ``n_live`` on
      a churn-free base, adjusted by the churned ids' live delta
      (:func:`_live_delta_for_churn`) on a bucketed base with churn, and
      the skinny :func:`live_doclen` count on a never-compacted index
      or an empty base with churn;
    * ``tail_doclen_rows`` / ``tombstones`` — the churn since the last
      compaction, which every query merges; ``compaction_debt`` is churn
      rows per live doc, the number an operator alarms on;
    * ``base_present`` / ``token_buckets`` — whether a compacted base
      (and its bucketed postings layout) exists."""
    doclen_path, _, tomb_path = _paths(index_path)
    base_doclen_path, _, meta_path = _base_paths(index_path)
    meta_rows = read_meta_rows(spark, meta_path)
    tail_rows, n_tomb, n_live = lsm.tail_status(
        spark, doclen_path, tomb_path, meta_rows
    )
    token_buckets = (
        int(meta_rows[0]["token_buckets"]) if meta_rows else None
    )
    if (
        n_live is None
        and meta_rows
        and lsm.has_partition_prefix(base_doclen_path, "id_bucket=")
    ):
        n_live = int(meta_rows[0]["n_live"]) + _live_delta_for_churn(
            spark, index_path, id_col, token_buckets
        )
    if n_live is None:
        # never-compacted index or empty base: exact skinny aggregate
        n_live = live_doclen(spark, index_path, id_col).count()
    return {
        "live_docs": n_live,
        "tail_doclen_rows": tail_rows,
        "tombstones": n_tomb,
        "base_present": token_buckets is not None,
        "token_buckets": token_buckets,
        "compaction_debt": lsm.compaction_debt(tail_rows, n_tomb, n_live),
    }


def search_index_fsck(
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
    sample_pairs: int = 8,
    seed: int = 13,
) -> dict:
    """Integrity report for one LSM search index's COMPACTED BASE — the
    invariants every pruned read depends on, verified at BOUNDED cost
    (the vector twin's :func:`vector_stream.vector_index_fsck` sibling;
    surfaced per search-flagged feed on `/_fsck`).

    Full-corpus checks run only on SKINNY frames:

    * **meta exactness** — ``n_live``/``sum_dl`` equal one aggregate
      over ``base/doclen`` (what every read-mostly BM25 fast path
      scores with);
    * **base uniqueness** — one doclen row per doc.

    The postings-side checks are SAMPLED — a full postings↔dfs↔doclen
    audit is corpus-sized by definition, which is exactly the cost an
    fsck must not impose at 100 TB. ``sample_pairs`` existing
    ``(token_bucket, id_sub)`` dirs are drawn deterministically
    (seeded) and opened BY NAME; within each:

    * **dfs agreement** — the pair's partial df counts equal a fresh
      per-token count of its postings (a drifted dfs silently
      mis-plans phrase probes and mis-scores the df fast path);
    * **doclen discovery agreement** — every posting's doc has a base
      doclen row whose ``buckets`` column contains the pair's
      token_bucket (the incremental compactor's old-pair discovery
      reads exactly this; a miss makes churn folds leave stale rows).

    Returns ``{"ok": bool|None, ...detail}``; ``ok=None`` when the
    index has no compacted base (tail-only indexes have no pruned-read
    invariants to check — every read merges everything)."""
    import random

    base_doclen_path, base_postings_path, meta_path = _base_paths(
        index_path
    )
    meta_rows = read_meta_rows(spark, meta_path)
    if not meta_rows or not lsm.has_partition_prefix(
        base_doclen_path, "id_bucket="
    ):
        return {"ok": None, "reason": "no compacted base"}
    dl = open_parquet(spark, base_doclen_path)
    agg = dl.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0.0)).alias("s"),
        F.coalesce(
            F.sum(F.when(F.col("dl") < 0, 1).otherwise(0)), F.lit(0)
        ).alias("neg_dl"),
    ).collect()[0]
    n_live_actual = int(agg["n"])
    sum_dl_actual = float(agg["s"])
    dup_docs = (
        dl.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    meta_live_ok = int(meta_rows[0]["n_live"]) == n_live_actual
    meta_dl_ok = (
        abs(float(meta_rows[0]["sum_dl"] or 0.0) - sum_dl_actual) < 1e-6
    )

    # deterministic sample of existing pair dirs (local listing, the
    # swap machinery's filesystem assumption; HDFS/S3 = listStatus)
    pair_dirs = []
    try:
        for tb in os.listdir(base_postings_path):
            if not tb.startswith("token_bucket="):
                continue
            for sb in os.listdir(os.path.join(base_postings_path, tb)):
                if sb.startswith("id_sub="):
                    pair_dirs.append(f"{tb}/{sb}")
    except OSError:
        pair_dirs = []
    rng = random.Random(seed)
    sampled = sorted(
        rng.sample(sorted(pair_dirs), min(sample_pairs, len(pair_dirs)))
    )
    dfs_mismatch_tokens = 0
    undiscoverable_rows = 0
    id_t = dict(dl.dtypes).get(id_col, "string")
    for rel in sampled:
        po = lsm.open_dirs(spark, base_postings_path, [rel])
        if po is None:
            continue
        fresh = po.groupBy("token").agg(
            F.count(F.lit(1)).cast("double").alias("dft_fresh")
        )
        stored = lsm.open_dirs(
            spark, os.path.join(index_path, "base", "dfs"), [rel]
        )
        if stored is None:
            dfs_mismatch_tokens += int(
                fresh.count()
            )  # whole pair's dfs partials missing
        else:
            dfs_mismatch_tokens += int(
                fresh.join(
                    stored.select("token", "dft"), "token", "full_outer"
                )
                .filter(
                    F.col("dft_fresh").isNull()
                    | F.col("dft").isNull()
                    | (F.col("dft_fresh") != F.col("dft"))
                )
                .count()
            )
        # discovery agreement: the pair's docs, looked up in THEIR
        # id-bucket doclen dirs (opened by name — bounded by the
        # sample's doc set, never a full doclen read)
        tb_val = int(rel.split("/")[0].split("=")[1])
        n_buckets = int(meta_rows[0]["token_buckets"])
        doc_buckets = sorted(
            r["b"]
            for r in po.select(
                lsm.bucket(id_col, n_buckets).alias("b")
            ).distinct().collect()
        )
        dl_aff = lsm.open_dirs(
            spark, base_doclen_path,
            [f"id_bucket={b}" for b in doc_buckets],
        )
        if dl_aff is None:
            undiscoverable_rows += int(po.count())
            continue
        undiscoverable_rows += int(
            po.select(id_col)
            .distinct()
            .join(
                dl_aff.filter(
                    F.array_contains("buckets", F.lit(tb_val))
                ).select(id_col),
                id_col,
                "left_anti",
            )
            .count()
        )
    ok = (
        meta_live_ok
        and meta_dl_ok
        and dup_docs == 0
        and int(agg["neg_dl"]) == 0
        and dfs_mismatch_tokens == 0
        and undiscoverable_rows == 0
    )
    return {
        "ok": ok,
        "n_live_meta": int(meta_rows[0]["n_live"]),
        "n_live_actual": n_live_actual,
        "meta_live_ok": meta_live_ok,
        "meta_sum_dl_ok": meta_dl_ok,
        "multi_row_docs_in_base": dup_docs,
        "negative_dl_rows": int(agg["neg_dl"]),
        "sampled_pair_dirs": sampled,
        "total_pair_dirs": len(pair_dirs),
        "dfs_mismatch_tokens": dfs_mismatch_tokens,
        "undiscoverable_posting_docs": undiscoverable_rows,
    }
