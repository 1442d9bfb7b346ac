"""Full-text relevance search over the document corpus (BM25).

The reference's query surface stops at filters/aggregates over jsonb
(README.md:102-240); a training-data engine also needs RANKED retrieval
— "find the documents most relevant to these terms" — for eval-set
curation, targeted decontamination, and corpus inspection. Okapi BM25 is
the standard lexical scorer; this is the distributed, oracle-checkable
form.

Plan shape at 100 TB (the reason this looks the way it does):

* tokens are filtered to the QUERY TERMS **before** any shuffle — the
  corpus-wide token explosion reduces map-side (an array filter inside
  the generator input) to only matching rows, so the (doc, token)
  aggregation shuffles query-hit rows, not the corpus;
* document lengths and corpus stats (N, avgdl, per-term df) are tiny
  aggregates broadcast back into the scoring join;
* per-(query, doc) scores sum per-term contributions as exact DECIMALs,
  so results don't depend on aggregation order (double summation is
  non-associative — a cross-engine / cross-partitioning hazard at the
  final round boundary);
* ranking sorts on the ROUNDED score (4 dp, doc-id tie-break) so results
  are reproducible across engines and partitionings;
* shared subtrees (doc lengths, term frequencies) are persisted, the
  tiny top-k result is materialized eagerly, and the caches release
  before returning — the near_dedup lifecycle discipline;
* doclen and the term-filtered tf derive from ONE persisted
  tokenization pass — a skinny (id, dl, hits) cache where the hits
  arrays are query-hit-proportional (r14; the history matters: r11
  measured three fused single-scan shapes AGAINST the then-two-pass
  form and all lost 5-60% at 600 k docs, because on the r11 corpus
  terms the hit filter matched NOTHING — the r12 fidelity fix later
  revealed those legs had ranked an empty hit set — so the fusion's
  cache carried pure overhead. With real matching terms the two
  "concurrent" scans in fact ran SERIALLY — the second scan's stage
  depended on the first's persist materialization point, stage
  forensics in plans/r14 — and the r14 interleaved A/B reversed the
  r11 verdict: one-scan won every pair, 19.9/16.7 → 14.9/14.0 s on
  the 3-term shape; checksums identical). The r12 A/B-exoneration of
  the r10 bench drift (q_bm25_batch100, q_cdc_apply — both
  version-independent host noise) still stands; this full-scan
  comparator exists to contrast the index path, which answers the
  same query from stored postings without touching the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.text import _words

#: r14 — batch query-set dedup: queries whose (distinct) term sets are
#: EQUAL provably produce identical (id, score, rank) rows — score is a
#: sum over the query's distinct terms of per-(doc, term) contributions
#: and the ranking window orders by (score, id) only — so the batch
#: scores ONE representative per distinct term set and expands the
#: tiny ranked result to the duplicate query_ids with a broadcast map
#: join at the end (common-subexpression elimination across the batch:
#: eval-set retrieval batches routinely repeat questions). Every
#: downstream cost is cut by the duplication factor: the per-(doc,
#: token) hit rows fan out to distinct SETS wanting the token instead
#: of every query, shrinking the scoring join, the (query, doc)
#: aggregate's exchange and the per-query ranking window alike. Costs
#: nothing when all sets are distinct: the mapping is derived from the
#: (query_id, term) collect the function already does for the map-side
#: term prune, and the expansion join is skipped outright.
#: Exactness pinned by test_bm25_batch_query_set_dedup_exact.
_DEDUP_QUERY_SETS = True


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by Okapi BM25 for one bag of query terms.

    score(D) = Σ_t idf(t) · tf(t,D)·(k1+1) / (tf(t,D) + k1·(1−b+b·|D|/avgdl)),
    idf(t) = ln((N − df(t) + 0.5)/(df(t) + 0.5) + 1)   (the +1 form, so
    idf stays positive even for terms in more than half the corpus).

    Returns (id, score, rank) — ties broken by id ascending on the
    rounded score. Documents matching no term are absent (score 0).
    Thin wrapper over :func:`bm25_topk_batch` with a single query row.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    qtab = df.sparkSession.createDataFrame(
        [(0, t) for t in sorted(set(query_terms))],
        "query_id int, term string",
    )
    return bm25_topk_batch(
        df, qtab, k, k1, b, text_col, id_col
    ).select(id_col, "score", "rank")


def bm25_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    max_df_frac: float | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """BM25 for a whole QUERY TABLE at once — the eval-set retrieval
    shape (thousands of benchmark questions against a 100 TB corpus in
    one plan) instead of one driver round-trip per query.

    ``candidates`` (optional, an id frame) restricts RANKED documents
    to the given set while scoring stats (N, avgdl, df) stay
    corpus-global — the same filtered-retrieval contract as
    ``bm25_topk_from_index(candidates=…)``; pre-filtering ``df``
    instead would silently change idf.

    ``queries`` holds (query_id, term) rows; it is small by construction
    (collected once so the distinct-term set prunes the corpus token
    stream inside the array filter, map-side) and broadcasts to fan tf
    rows out to the queries that want them. Scoring stats (N, avgdl,
    df(t)) are corpus-global. Emits ``(query_id, id, score, rank)``.

    Per-query ranking is a per-group window whose input is the docs
    matching the query's terms. Stop-word-like terms inflate that
    candidate set while contributing ≈0 idf; ``max_df_frac`` applies
    the classic df cap — terms present in more than that fraction of
    documents are dropped from SCORING (their near-zero contribution is
    the justification), which also shrinks every downstream join and
    the ranking window. ``None`` scores every term exactly."""
    # query tables are small by contract — collecting the (query, term)
    # rows enables the literal array-filter prune before the explode
    # AND the duplicate-term-set elimination below, from ONE action
    qrows_local = queries.select(
        F.col(query_id_col).alias("qid"), F.col(term_col).alias("token")
    ).collect()
    qsets: dict = {}
    for r in qrows_local:
        qsets.setdefault(r["qid"], set()).add(r["token"])
    terms = sorted(set().union(*qsets.values())) if qsets else []
    if not terms:
        raise ValueError("bm25_topk_batch: queries must be non-empty")
    # group query_ids by their distinct-term signature; queries is
    # replaced by one representative per signature when any collide
    # (identical term sets => identical scores and ranks; see
    # _DEDUP_QUERY_SETS)
    rep_of_sig: dict = {}
    expand_rows = []
    for qid in sorted(qsets, key=repr):
        r0 = rep_of_sig.setdefault(frozenset(qsets[qid]), qid)
        expand_rows.append((r0, qid))
    dedup = _DEDUP_QUERY_SETS and len(rep_of_sig) < len(qsets)
    if dedup:
        rep_ids = sorted(rep_of_sig.values(), key=repr)
        queries = queries.filter(F.col(query_id_col).isin(rep_ids))
    words = _words(text_col)
    # ONE tokenization pass (r14, guide §2.4): dl (ALL words — BM25's
    # length norm) and the query-term-filtered hits come from the same
    # `words` evaluation, persisted skinny (id, dl, hits — the hits
    # arrays are query-hit-proportional). The previous shape persisted
    # doclen and tf separately, which materialized TWO full corpus
    # tokenizations run serially (stage forensics in plans/r14 /
    # OPTIMIZATION_r14.md §3: 8.6 s tf scan THEN 6.5 s doclen scan on a
    # 17.5 s leg — also why the leg showed no 8→32-core scaling).
    comb = df.select(
        F.col(id_col),
        F.size(words).cast("double").alias("dl"),
        F.filter(words, lambda w: w.isin(terms)).alias("hits"),
    ).persist()
    # per-doc length; derives from the cache, feeds both the avgdl
    # aggregate and the scoring join
    doclen = comb.select(id_col, "dl")
    stats = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    tok = comb.select(F.col(id_col), F.explode("hits").alias("token"))
    # query-hit-proportional (tiny); feeds both df(t) and the scoring join
    tf = tok.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    ).persist()
    dft = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("dft")
    )
    if max_df_frac is not None:
        dft = dft.crossJoin(F.broadcast(stats)).filter(
            F.col("dft") <= F.lit(max_df_frac) * F.col("n")
        ).select("token", "dft")
    # candidate restriction after the df aggregate (corpus-global
    # stats), before scoring — hit-slice cost only
    tf_scored = (
        tf.join(candidates.select(id_col).distinct(), id_col, "left_semi")
        if candidates is not None
        else tf
    )
    out = bm25_rank_components(
        tf_scored, doclen, stats, dft, queries,
        k=k, k1=k1, b=b, id_col=id_col,
        query_id_col=query_id_col, term_col=term_col,
    )
    comb.unpersist()
    tf.unpersist()
    if dedup:
        # expand the (set-representative)-keyed ranked rows back to
        # every query_id sharing the set — a broadcast join of two tiny
        # frames (k rows per set x one row per query) on top of the
        # already-materialized checkpoint
        qtype = dict(queries.dtypes)[query_id_col]
        mapping = queries.sparkSession.createDataFrame(
            expand_rows, f"__rep_qid {qtype}, {query_id_col} {qtype}"
        )
        out = (
            out.withColumnRenamed(query_id_col, "__rep_qid")
            .join(F.broadcast(mapping), "__rep_qid")
            .select(query_id_col, id_col, "score", "rank")
        )
    return out


def bm25_rank_components(
    tf: DataFrame,
    doclen: DataFrame | None,
    stats: DataFrame,
    dft: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """The BM25 scoring + ranking stage over pre-computed components —
    shared by the fresh-build path (:func:`bm25_topk_batch`) and the
    incrementally-maintained index path
    (:mod:`couch_to_postgres_spark.streaming.search_stream`), so the two
    can never drift numerically.

    Inputs: ``tf`` (id, token, tf) restricted to query-term hits,
    ``doclen`` (id, dl) for ALL live docs, ``stats`` a 1-row (n, avgdl)
    frame, ``dft`` (token, dft), ``queries`` (query_id, term). When
    ``tf`` already carries a ``dl`` column (the r14 dl-carry shape —
    the value is functionally dependent on id, so it is exactly what
    the join would attach), the ``doclen`` join is skipped outright
    and callers may pass ``doclen=None``. Emits
    ``(query_id, id, score, rank)`` with decimal-summed contributions
    and rounded-score ranking (engine- and partitioning-stable), eagerly
    materialized so callers can release upstream caches immediately.

    ``candidate_pairs`` (optional, (query_id, id)): restrict scoring to
    exactly these per-query candidates BEFORE the aggregate — the
    MaxScore pruned read's per-query candidate theorem (every true
    top-k doc of query q passes a cut of one of q's OWN terms), which
    keeps the expensive groupBy/window shuffles candidate-proportional
    instead of letting a batch's shared common terms multiply the pair
    space. Scoring semantics are unchanged for the surviving pairs —
    callers guarantee the restriction is a provable top-k superset."""
    idf = F.log(
        (F.col("n") - F.col("dft") + F.lit(0.5))
        / (F.col("dft") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = idf * (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    contrib_dec = F.round(contrib, 6).cast("decimal(18,6)")
    q = queries.select(
        F.col(query_id_col), F.col(term_col).alias("token")
    ).distinct()
    paired = tf.join(F.broadcast(dft), "token")
    if "dl" not in tf.columns:
        paired = paired.join(doclen, id_col)
    paired = paired.crossJoin(F.broadcast(stats)).join(
        F.broadcast(q), "token"
    )
    if candidate_pairs is not None:
        # hint-free semi join: the pair table is query×candidate-bounded
        # and AQE broadcasts it at typical sizes; at corpus-scale
        # candidate sets a shuffle semi join is the right plan anyway
        paired = paired.join(
            candidate_pairs.select(query_id_col, id_col).distinct(),
            on=[query_id_col, id_col],
            how="left_semi",
        )
    scored = paired.groupBy(query_id_col, id_col).agg(
        F.round(F.sum(contrib_dec), 4).cast("double").alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "score",
            F.col("rank").cast("long").alias("rank"),
        )
        # tiny result: materialize eagerly so the caches release NOW
        # instead of leaking across calls
        .localCheckpoint(eager=True)
    )
