"""Deduplication operators for large-scale training-data pipelines.

All hot paths are built-in ``pyspark.sql.functions`` (JVM, codegen). Hash
functions are md5-based so the DuckDB oracle can reproduce them bit-for-bit
(Spark ``xxhash64``/``hash`` have no DuckDB equivalent; md5 exists in both).

Scale design (100 TB):

* exact dedup is one hash-aggregate on ``md5(text)`` — partial aggregation
  map-side, one shuffle on the 128-bit digest (uniform keys, no skew);
* MinHash LSH shuffles only ``(band, signature)`` pairs — b×n rows of a few
  bytes each, not the documents; candidate verification joins back to the
  corpus by id (broadcast when the candidate set is small);
* SimHash is an embarrassingly-parallel per-row fold — no shuffle at all
  until the final bucket grouping on the fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct content,
    with the kept (minimum) id and the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct ``text_col`` value."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Sliding word n-grams as an array<string> — pure JVM higher-order
    functions (split → transform(sequence) → slice → concat_ws), no UDF."""
    # measured at sf0.1: this slice+concat_ws form explodes 260k shingles
    # in ~2.2 s; a per-word element_at+concat variant measured 2× slower
    # (per-call bounds checks beat one slice pass)
    c = F.col(text) if isinstance(text, str) else text
    words = F.filter(F.split(c, " "), lambda w: w != F.lit(""))
    k = F.size(words) - F.lit(n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    shingle_n: int = 3,
    rows_per_band: int = 1,
) -> DataFrame:
    """Per-(doc, band) MinHash signature with b bands × r rows.

    Hash function ``i`` (i = band*r+row) is ``md5(i || ':' || shingle)``
    and its min-hash is the lexicographic minimum digest — a valid
    min-wise family, chosen over Spark's ``MinHashLSH`` (mllib) because it
    is (a) exactly reproducible in the DuckDB oracle and (b) pure
    DataFrame (explode → groupBy(min)), so partial aggregation keeps the
    shuffle at one small row per (doc, hash fn). A band's signature is the
    concatenation of its r min-hashes: docs collide on a band iff all r
    agree (P ≈ s^r per band — ``rows_per_band`` is the precision knob,
    ``num_bands`` the recall knob).
    """
    # Plan shape, measured at sf0.1 (5k docs × ~90 shingles, k=4):
    # explode the shingles ONCE (not ×k hash fns) and compute all k
    # min-hashes as parallel codegen'd aggregates of one groupBy(id) —
    # partial aggregation collapses map-side to ~1 row/doc/partition, so
    # the exchange carries |docs| skinny rows. Alternatives measured
    # slower: explode×k (k× the shuffle rows, 4.5 s), and pure
    # higher-order-function array_min/transform with no shuffle at all
    # (20 s — HOF lambdas are interpreted, not codegen'd, and
    # CollapseProject re-inlines the shingle build per hash fn).
    k = num_bands * rows_per_band
    shingled = df.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    mins = shingled.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))).alias(
                f"mh{i}"
            )
            for i in range(k)
        ]
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                F.sort_array(
                    F.array(
                        *[F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]
                    )
                ),
            ).alias("signature"),
        )
        for b in range(num_bands)
    ]
    return (
        mins.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bs"))
        .select(
            id_col,
            F.col("bs.band").alias("band"),
            F.col("bs.signature").alias("signature"),
        )
    )


# Kirsch-Mitzenmacher modulus: largest 32-bit prime. h1, h2 are 32-bit
# hex-prefix values, i <= a few hundred, so (h1 + i*h2) stays < 2^42 —
# no 64-bit overflow on either engine (DuckDB BIGINT overflow *errors*,
# so staying provably in range is correctness, not style).
KM_PRIME = 4294967291


def km_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    shingle_n: int = 3,
    rows_per_band: int = 1,
) -> DataFrame:
    """Per-(doc, band) MinHash signatures via Kirsch-Mitzenmacher double
    hashing: ONE md5 per shingle, k derived hash functions
    ``h_i = (h1 + i*h2) mod p`` from the digest's two 32-bit hex-prefix
    halves.

    The production-scale variant of :func:`minhash_signatures`: that one
    evaluates k independent md5s per shingle (k× the map-side hash cost —
    fine for k=4, wrong for the k≈100 a real 0.8-jaccard operating point
    wants); this one's per-shingle cost is one md5 + k integer FMAs, and
    the min-aggregates run on BIGINT, not 32-char strings. Same
    (id, band, signature) output contract; same DuckDB-reproducibility
    (hex-prefix arithmetic, no engine-specific hashing).
    """
    k = num_bands * rows_per_band
    shingled = df.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    digest = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    hashed = shingled.select(
        F.col(id_col), h1.alias("h1"), h2.alias("h2")
    )
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(KM_PRIME)).alias(
                f"mh{i}"
            )
            for i in range(k)
        ]
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                F.sort_array(
                    F.array(
                        *[F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]
                    )
                ),
            ).alias("signature"),
        )
        for b in range(num_bands)
    ]
    return (
        mins.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bs"))
        .select(
            id_col,
            F.col("bs.band").alias("band"),
            F.col("bs.signature").alias("signature"),
        )
    )


def _cap_hot_buckets(sigs: DataFrame, id_col: str, star_threshold: int) -> DataFrame:
    """The hot-bucket star-expansion rule, shared by self- and cross-dedup:
    keep every member of buckets with ≤ ``star_threshold`` rows, but only
    the min-id representative of larger ones. The count/min aggregation is
    partial-aggregated map-side (one skinny row per bucket survives the
    shuffle), so even a 10M-member boilerplate bucket reduces before it
    moves."""
    stats = sigs.groupBy("band", "signature").agg(
        F.count(F.lit(1)).alias("_m"), F.min(id_col).alias("_rep")
    )
    return (
        sigs.join(stats, on=["band", "signature"])
        .filter(
            (F.col("_m") <= F.lit(star_threshold))
            | (F.col(id_col) == F.col("_rep"))
        )
        .select(id_col, "band", "signature")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    shingle_n: int = 3,
    rows_per_band: int = 1,
    hash_family: str = "md5k",
    star_threshold: int | None = 64,
) -> DataFrame:
    """LSH candidate near-duplicate pairs: docs sharing a (band, signature)
    bucket. Callers verify candidates with :func:`ngram_jaccard` or exact
    compare.

    The self-join keys are uniformly-distributed digest buckets over
    *distinct contents* — but docs are not distinct contents: a
    boilerplate cluster of m near-identical docs lands in ONE bucket and
    an unconditional all-pairs expansion emits m²/2 rows (at web scale,
    millions of template pages → a quadratic blowup inside one join key).
    ``star_threshold`` bounds this: buckets with ≤ threshold members emit
    all pairs (exact, unchanged semantics); larger buckets emit only
    rep→member star edges (rep = min id in the bucket), m-1 rows — O(m),
    and connectivity-equivalent for the downstream connected-component
    clustering whenever in-bucket members verify against the rep (the
    overwhelming case: a bucket that large means its members share minhash
    values, i.e. are mutually near-identical). The trade-off, stated
    honestly: a pair (m₁, m₂) inside an over-threshold bucket where both
    verify against each other but NOT against the rep is lost; tune the
    threshold up (or pass ``None`` for exact all-pairs) when that matters.
    Per-bucket output is now bounded by max(threshold²/2, m).

    The bucket-stats aggregation (count + min id) is partial-aggregated
    map-side, so even a 10M-member bucket reduces before the shuffle; the
    star branch's join streams m rows against the single rep row — no
    quadratic stage survives anywhere.

    ``hash_family``: ``"md5k"`` = k independent md5s
    (:func:`minhash_signatures`); ``"km"`` = Kirsch-Mitzenmacher double
    hashing (:func:`km_minhash_signatures`) — one md5 per shingle, the
    right choice whenever k = bands × rows is more than a handful.
    """
    sig_fn = {"md5k": minhash_signatures, "km": km_minhash_signatures}[hash_family]
    sigs = sig_fn(
        df, text_col, id_col, num_bands, shingle_n, rows_per_band
    )
    if star_threshold is not None:
        # Left side: all members of small buckets, but ONLY the rep of
        # over-threshold buckets. Right side stays the raw signature set,
        # so (small ⋈ all, a.id < b.id) = exact all-pairs and
        # (rep ⋈ all, rep < b.id) = the m-1 star edges.
        a = _cap_hot_buckets(sigs, id_col, star_threshold).alias("a")
    else:
        a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col(f"a.band") == F.col("b.band"),
                F.col("a.signature") == F.col("b.signature"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    restrict_to_pair_docs: bool = False,
    _cache_registry: list | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (id_a, id_b):
    |A∩B| / |A∪B| over distinct word shingles. Join-by-id then set math via
    array functions — candidates only, never all pairs.

    ``restrict_to_pair_docs=True`` builds the shingle arrays ONLY for
    docs that appear in a pair (broadcast semi-join on the pair ids, then
    a persist so the interpreted shingle HOF runs once per doc, not once
    per pair row). Turn it on when candidate docs ≪ corpus — the normal
    big-corpus regime, where it skips shingling almost everything
    (near_dedup auto-decides from the pair count). Leave it off when the
    pair set saturates the corpus: the restriction then prunes nothing
    and its extra broadcast/materialization passes are pure overhead
    (measured +3 s on a dup-saturated 5k-doc corpus). With it on,
    ``pairs`` is referenced twice — pass it persisted."""
    if restrict_to_pair_docs:
        pair_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # persist: without a materialization boundary CollapseProject
        # inlines the interpreted word_shingles chain into the join's
        # stream side — evaluated once per PAIR row instead of once per
        # doc (measured 8.4 s → 5.3 s on 42k pairs / 5k docs). The cache
        # is candidate-doc-proportional, bounded by the semi-join.
        sets_ = (
            df.join(F.broadcast(pair_ids), on=id_col, how="left_semi")
            .select(
                F.col(id_col),
                F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
            )
            .persist()
        )
        # let the caller release this cache once results materialize
        # (near_dedup does); a bare ngram_jaccard call keeps it for the
        # session, which is the desired behavior for interactive reuse
        if _cache_registry is not None:
            _cache_registry.append(sets_)
    else:
        sets_ = df.select(
            F.col(id_col),
            F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
        )
    j = (
        pairs.join(
            sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        ).join(
            sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a",
        "id_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level verification for candidate pairs: Levenshtein
    distance plus the normalized similarity ``1 - dist/max(len)``.

    The O(n·m) DP runs JVM-side per pair — affordable precisely because
    it only ever sees the LSH candidate set, never the quadratic corpus.
    Texts join back by id (candidate-sized joins), same scale shape as
    :func:`ngram_jaccard`; no per-doc restriction needed here — the text
    projection is free (no HOF), so the join's own pruning suffices."""
    t = df.select(F.col(id_col), F.col(text_col))
    j = (
        pairs.join(
            t.select(
                F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")
            ),
            "id_a",
        ).join(
            t.select(
                F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
            ),
            "id_b",
        )
    )
    dist = F.levenshtein("_ta", "_tb")
    longest = F.greatest(F.length("_ta"), F.length("_tb"))
    return j.select(
        "id_a",
        "id_b",
        dist.alias("edit_dist"),
        (F.lit(1.0) - dist.cast("double") / longest.cast("double")).alias(
            "edit_sim"
        ),
    )


def _hex_nibble(c: Column) -> Column:
    """hex char → int via position arithmetic (portable to the oracle:
    identical instr/strpos expression in DuckDB — no engine-specific conv)."""
    return F.instr(F.lit(HEX), c) - 1


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash fingerprint per document — ORACLE/TEST VARIANT ONLY.

    This exists to be bit-identical with a DuckDB SQL oracle (the parity
    gate's x_simhash); it evaluates an interpreted higher-order
    ``aggregate`` per bit (16× per row), which is the slow-lambda shape
    the module header warns about — do NOT point it at a real corpus.

    Bit ``j`` (j=0..15) is the majority vote of the low bit of hex nibble
    ``j`` of ``md5(word)`` across the document's words (+1/-1 fold, sign).
    :mod:`tests` also property-test that identical texts collide and
    near-identical texts are hamming-close. No shuffle: per-row aggregate
    over the exploded words happens via higher-order functions inside the
    row.
    """
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    hashes = F.transform(words, lambda w: F.md5(w))

    def bit_sum(j: int) -> Column:
        # sum over words of (2*bit_j - 1); bit_j = nibble_j & 1
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + (_hex_nibble(F.substring(h, j + 1, 1)) % 2) * 2
            - 1,
        )

    fp = None
    for j in range(16):
        term = F.when(bit_sum(j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return df.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_bucket_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup buckets: fingerprints shared by >1 doc (exact-collision
    variant; hamming-radius probing is the multi-table extension)."""
    return (
        simhash16(df, text_col, id_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("bucket_size"), F.min(id_col).alias("keep_id"))
        .filter(F.col("bucket_size") > 1)
    )


def _winnow_occurrences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    window: int,
) -> DataFrame:
    """Shared winnowing core: ``(id, pos, fingerprint)`` — the min shingle
    hash of each full ``window``-wide window over the per-doc hash
    sequence. Single source of truth for the fingerprint scheme; every
    public winnow operator derives from this frame."""
    from pyspark.sql import Window as W

    sh = df.select(
        F.col(id_col),
        F.posexplode(word_shingles(text_col, shingle_n)).alias("pos", "shingle"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    per_doc = W.partitionBy(id_col).orderBy("pos")
    return sh.select(
        F.col(id_col),
        F.col("pos"),
        F.min("h").over(per_doc.rowsBetween(0, window - 1)).alias("fingerprint"),
        F.count(F.lit(1)).over(W.partitionBy(id_col)).alias("n_sh"),
    ).filter(
        # full windows only: a trailing partial window would fingerprint
        # a span shorter than the guarantee length
        F.col("pos") <= F.col("n_sh") - F.lit(window)
    ).select(id_col, "pos", "fingerprint")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03):
    hash every word ``shingle_n``-gram, slide a ``window``-wide window
    over the hash sequence, and keep the minimum hash of each window.
    Guarantees every shared span of at least ``shingle_n + window - 1``
    words produces at least one shared fingerprint — the span-level
    (substring) complement to whole-document MinHash dedup.

    Returns distinct ``(id, fingerprint)`` rows. Plan shape: one
    posexplode (row-local), hashing map-side, and a single shuffle
    partitioned BY DOCUMENT ID for the per-doc window min — the natural
    partitioning (each doc's hash sequence is independent), no global
    ordering anywhere.
    """
    return (
        _winnow_occurrences(df, text_col, id_col, shingle_n, window)
        .select(id_col, "fingerprint")
        .distinct()
    )


def shared_span_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Duplicated-span candidate buckets: winnowing fingerprints shared by
    more than one document, with the doc set per bucket. Catches copied
    passages between otherwise-distinct documents — boilerplate, quoted
    blocks, template text — which whole-document MinHash (jaccard over the
    full shingle set) dilutes away. The aggregation shuffles the
    fingerprint rows (uniform hash keys), never the documents."""
    fps = winnow_fingerprints(df, text_col, id_col, shingle_n, window)
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.concat_ws(
                "|", F.sort_array(F.collect_list(F.col(id_col).cast("string")))
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shared_span_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Where the duplicated spans LIVE: every (doc, word position) at
    which a winnowing fingerprint shared by ≥ ``min_docs`` documents
    occurs. ``pos`` is the 0-based word index where the fingerprinted
    window starts; the span covers ``shingle_n + window - 1`` words from
    there. The position detail :func:`shared_span_buckets` drops — this
    is the input a span-masking/removal pass needs.

    Plan: the per-doc window min (one doc-keyed shuffle), then the hot
    fingerprint set (computed once, fingerprint-keyed agg) joined back.
    Usually the hot set is small (boilerplate is rare among distinct
    fingerprints) and AQE converts the join to broadcast at runtime from
    the measured shuffle size — but it is NOT forced here: in a
    boilerplate-heavy corpus the shared-fingerprint set is
    corpus-proportional, and a hard-coded broadcast hint would OOM the
    driver exactly when the data is at its worst. Both join inputs are
    agg outputs with runtime statistics, so AQE's decision is informed."""
    occ = _winnow_occurrences(df, text_col, id_col, shingle_n, window)
    hot = (
        occ.select(id_col, "fingerprint")
        .distinct()
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return occ.join(hot, "fingerprint").select(
        id_col, "pos", "fingerprint", "n_docs"
    )


def mask_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    min_docs: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Remove duplicated spans from documents (the substring-dedup
    removal step): words covered by any shared winnowing fingerprint's
    span are dropped from the text; with ``keep_first`` the minimum-id
    document carrying a fingerprint keeps its copy (one canonical
    occurrence of boilerplate survives, as in suffix-array substring
    dedup), otherwise every occurrence is masked.

    Boundary precision: a window matches when its MIN shingle is shared,
    so the window's start can precede the true span start by up to
    ``window - 1`` words, and a cover that starts on the span's last
    shared shingle runs ``shingle_n + window - 2`` words past its end —
    masking is conservative by up to about a span-length of words on
    each side (winnowing samples positions; exact byte boundaries are
    the suffix-array method's trade, at a global-sort cost this one-pass
    plan avoids). Over-masking duplicated-adjacent words is the safe
    direction for training-data hygiene.

    Emits ``df`` with ``text_col`` rewritten, all other columns
    preserved, plus ``n_words_masked``. Plan:
    occurrences aggregate to one covered-interval list per touched doc
    (pair-set-proportional), joined back; the rewrite is a row-local HOF
    filter over the word array — documents with no shared span pass the
    left join untouched. The small sides (first-keeper map, covered-doc
    map) usually broadcast, but the hint is AQE's to apply from measured
    sizes, not forced: in a boilerplate-heavy corpus the touched-doc set
    is corpus-proportional and a hard-coded broadcast would OOM."""
    occ = shared_span_occurrences(
        df, text_col, id_col, shingle_n, window, min_docs
    )
    if keep_first:
        first = occ.groupBy("fingerprint").agg(F.min(id_col).alias("_keep_id"))
        occ = occ.join(first, "fingerprint").filter(
            F.col(id_col) != F.col("_keep_id")
        )
    span_len = shingle_n + window - 1
    covered = occ.groupBy(id_col).agg(
        F.array_sort(F.collect_set("pos")).alias("_starts")
    )
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    with_idx = F.zip_with(
        words,
        F.sequence(F.lit(0), F.size(words) - 1),
        lambda w, i: F.struct(w.alias("w"), i.alias("i")),
    )
    in_span = lambda s: F.exists(
        F.col("_starts"),
        lambda st: (s["i"] >= st) & (s["i"] < st + F.lit(span_len)),
    )
    kept = F.filter(with_idx, lambda s: ~in_span(s))
    out = (
        df.join(covered, on=id_col, how="left")
        .withColumn(
            "_new_text",
            F.when(F.col("_starts").isNull(), F.col(text_col)).otherwise(
                F.concat_ws(" ", F.transform(kept, lambda s: s["w"]))
            ),
        )
        .withColumn(
            "n_words_masked",
            F.when(F.col("_starts").isNull(), F.lit(0)).otherwise(
                F.size(words) - F.size(kept)
            ).cast("long"),
        )
    )
    keep = [
        F.col("_new_text").alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return out.select(*keep, "n_words_masked")


def dedup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 10,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs via distributed
    min-label propagation with pointer-jumping: every node starts labeled
    with itself; each round takes the min of its own and its neighbors'
    labels, then SHORTCUTS each label to its label's label (label(x) ←
    min(label(x), label(label(x)))) — the propagation front roughly
    doubles per round, so convergence is O(log diameter) rounds, not
    O(diameter): a 50-link chain of near-dups converges in ~6 rounds
    where plain propagation would need 50. Dup clusters are typically
    shallow (≤3), but chained near-dups (A≈B≈C≈…) can be arbitrarily
    deep, and a silent non-converged return would emit WRONG clusters —
    so exhausting ``max_iterations`` without convergence RAISES
    (RuntimeError) rather than returning.

    Returns (id, cluster) where cluster = min id of the component. Each
    round is two joins + one aggregation over the PAIR set (not the
    corpus) — at 100 TB the pair set is orders of magnitude smaller than
    the data, and iteration count is bounded by log(diameter), not size.

    Scale-adaptive small path: when the verified pair set is below
    ``driver_threshold`` rows, the edges are collected and union-find runs
    on the driver (O(E α(E)) in-process) — each distributed propagation
    round costs join + agg + convergence-count *jobs*, pure scheduler
    overhead when E is a few hundred edges (measured: 2.9 s distributed vs
    <0.1 s driver-side at 256 edges). The collect is bounded by the
    threshold — two ids per row, ≈ tens of MB worst case — NOT
    corpus-proportional; above it the distributed loop below takes over
    unchanged. Set ``driver_threshold=0`` to force the distributed path.
    """
    # A caller that persisted `pairs` for its own reuse owns that cache:
    # unpersist is not ref-counted, so dropping it here would silently
    # force the caller to recompute the whole verify subtree later. Only
    # persist/unpersist frames this function persisted itself.
    lvl = pairs.storageLevel
    caller_persisted = lvl.useMemory or lvl.useDisk or lvl.useOffHeap
    if driver_threshold > 0:
        # persist before deciding: the threshold count and the collect
        # (or the distributed loop's edge build) would otherwise each
        # re-execute the pair pipeline — typically the whole LSH/cosine
        # verify subtree — from scratch. limit(t+1) bounds the count
        # itself: never counts past the threshold even when E is huge.
        if not caller_persisted:
            pairs = pairs.persist()
        n_edges = pairs.limit(driver_threshold + 1).count()
        if n_edges <= driver_threshold:
            rows = pairs.select("id_a", "id_b").collect()
            if not caller_persisted:
                pairs.unpersist()
            parent: dict = {}

            def find(x):
                root = x
                while parent.setdefault(root, root) != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                ra, rb = find(r.id_a), find(r.id_b)
                if ra != rb:
                    # union by min keeps the representative = min id
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            labels = [(node, find(node)) for node in parent]
            from pyspark.sql.types import StructField, StructType

            id_type = pairs.schema["id_a"].dataType
            schema = StructType(
                [
                    StructField(id_col, id_type, True),
                    StructField("cluster", id_type, True),
                ]
            )
            return pairs.sparkSession.createDataFrame(labels, schema=schema)
    # persist the symmetrized edge set: its lineage includes the whole
    # LSH-candidate + jaccard-verify pipeline, and every propagation round
    # joins against it — without the persist each round would re-shingle
    # and re-verify the corpus
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
    )
    prev = None
    changed = -1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("cluster").alias("nmin"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer-jumping: follow each label one more step (label(x) ←
        # min(label(x), label(label(x)))). Labels are always node ids, so
        # the lookup is a self-join on the label table (pair-node-sized,
        # never corpus-sized); the left join keeps already-minimal nodes
        # (whose label is a component min labeling itself) unchanged.
        lookup = propagated.select(
            F.col("node").alias("_ln"), F.col("cluster").alias("_lc")
        )
        new_labels = (
            propagated.join(lookup, propagated.cluster == F.col("_ln"), "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("_lc"), F.col("cluster")),
                ).alias("cluster"),
            )
            # eager localCheckpoint: materializes this round AND truncates
            # lineage — without it each round's plan nests the previous
            # round's twice, growing exponentially until analysis OOMs
            # (the standard Spark iterative-algorithm idiom; swap for
            # reliable checkpoint(dir) on a real cluster for fault
            # tolerance across executor loss)
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        if prev is not None:
            prev.unpersist()
        prev, labels = labels, new_labels
        if changed == 0:
            break
    # labels are checkpoint-backed (eager) — the edge cache (and the
    # threshold-check's pairs cache, when taken) are dead weight now; a
    # long-lived engine must not accumulate them per call. unpersist on
    # a never-persisted frame is a no-op, so this is safe at
    # driver_threshold=0 too; a caller-owned pairs cache is left alone.
    edges.unpersist()
    if not caller_persisted:
        pairs.unpersist()
    if changed != 0:
        # NEVER silently return non-converged labels: downstream dedup
        # would keep multiple "representatives" of one component and
        # under-delete. With pointer-jumping this needs a component of
        # diameter > ~2^max_iterations — raise loudly instead.
        raise RuntimeError(
            "dedup_clusters: min-label propagation did not converge in "
            f"{max_iterations} iterations ({changed} labels still moving); "
            "raise max_iterations (rounds needed ≈ log2(component "
            "diameter) + 2)"
        )
    return labels.select(F.col("node").alias(id_col), F.col("cluster"))


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_bands: int = 8,
    shingle_n: int = 3,
    rows_per_band: int = 1,
    hash_family: str = "md5k",
    star_threshold: int | None = 64,
    keep_score_col: str | None = None,
) -> DataFrame:
    """The end-to-end near-dedup pipeline: MinHash LSH candidates →
    exact n-gram Jaccard verification → connected-component clustering →
    keep one representative of each duplicate cluster.

    The representative is the min-id member by default;
    ``keep_score_col`` names a quality column (heuristic score,
    classifier probability, length) and the HIGHEST-scoring member wins
    instead (ties → min id) — what a production corpus build wants: when
    a page exists as both a clean extraction and a boilerplate-ridden
    one, keep the clean copy, not the lexicographically-first one.

    Returns ``df`` minus non-representative near-duplicates. Every stage
    is pair-set-proportional after the LSH cut; the corpus itself is
    touched twice (shingling, final anti-join).

    ``rows_per_band`` sets the LSH S-curve midpoint ``(1/b)^(1/r)``: the
    default (b=8, r=1) midpoint is 0.125 — high recall, loose candidate
    precision. At a 0.8 jaccard goal, (b=8, r=2) (midpoint 0.35) is the
    better operating point: measured on the sf0.1 corpus it cuts the
    candidate pair set 32× (42k → 1.3k) with the IDENTICAL verified pair
    set, so the exact-jaccard verify stage does 32× less work and the
    final output is unchanged. Verification is exact either way —
    the knob trades candidate-stage cost against recall for borderline
    pairs near the threshold."""
    # persist the candidate set: pair-proportional (tiny), reused by the
    # count below and by the verify join (twice when restricted)
    candidates = minhash_candidate_pairs(
        df, text_col, id_col, num_bands, shingle_n, rows_per_band, hash_family,
        star_threshold,
    ).persist()
    # Adaptive verify: restrict shingling to candidate docs ONLY when the
    # pair set is provably smaller than the corpus (2·|pairs| bounds the
    # candidate-doc count). The big-corpus few-%-dups regime restricts —
    # shingles are built for a sliver of the corpus; a dup-saturated
    # corpus (like the test fixtures) skips the restriction, whose extra
    # passes would prune nothing.
    n_pairs = candidates.count()
    restrict = 2 * n_pairs < df.count()
    # persist the verified pair set too: connected-component clustering
    # iterates over it (diameter-bounded joins) — without the cache every
    # CC iteration re-executes the whole shingle+minhash+verify subtree
    caches: list = []
    verified = (
        ngram_jaccard(
            df, candidates, text_col, id_col, shingle_n,
            restrict_to_pair_docs=restrict,
            _cache_registry=caches,
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .persist()
    )
    clusters = dedup_clusters(verified, id_col)
    # clusters are materialized (dedup_clusters checkpoints eagerly), so
    # the upstream caches can drop now — a daemon calling near_dedup per
    # corpus must not accumulate dead candidate/verified/shingle blocks
    candidates.unpersist()
    verified.unpersist()
    for frame in caches:
        frame.unpersist()
    # What intentionally remains cached: ONE block set per call — the
    # final CC labels' localCheckpoint, which the returned DataFrame's
    # anti-join still references (releasing it here would break the lazy
    # result). It is candidate-doc-proportional, and a long-lived caller
    # that has consumed the result can clear it with
    # spark.catalog.clearCache() or by scoping the session.
    if keep_score_col is None:
        drop = clusters.filter(F.col(id_col) != F.col("cluster")).select(id_col)
    else:
        # quality-keep: fetch scores for clustered docs only (the cluster
        # map is pair-set-proportional — broadcast side), rank within each
        # cluster by score desc / id asc, drop everything but rank 1
        from pyspark.sql import Window

        scored = df.select(F.col(id_col), F.col(keep_score_col)).join(
            F.broadcast(clusters), on=id_col
        )
        w = Window.partitionBy("cluster").orderBy(
            F.col(keep_score_col).desc(), F.col(id_col)
        )
        drop = (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > 1)
            .select(id_col)
        )
    # explicit broadcast: the drop set is pair-set-proportional (tiny vs
    # the corpus), but it comes out of localCheckpoint as an ExistingRDD
    # with unknown stats — without the hint the initial plan falls back to
    # sort-merge and shuffles the corpus (AQE may rescue it at runtime;
    # the plan shouldn't depend on that)
    return df.join(F.broadcast(drop), on=id_col, how="left_anti")


def cross_near_dedup(
    new: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_bands: int = 8,
    shingle_n: int = 3,
    rows_per_band: int = 1,
    hash_family: str = "md5k",
    self_dedup: bool = True,
    star_threshold: int | None = 64,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus (one-shot batch form
    of the streaming incremental pipeline): drop new documents that are
    exact or near duplicates of anything in ``existing``; with
    ``self_dedup`` the survivors are also self-deduped via
    :func:`near_dedup` so the returned frame can be appended to the
    corpus without introducing internal dups. Ids must be unique ACROSS
    the two frames (the verify stage fetches texts by id from their
    union).

    Plan asymmetry is the point: candidates come from joining the NEW
    side's band signatures (small) against the existing side's — the
    existing corpus is scanned for signatures but never self-joined, so
    the pair space is |new|-proportional. Exact dups are caught first by
    a content-hash semi-join (no shingling for them)."""
    sig_fn = {"md5k": minhash_signatures, "km": km_minhash_signatures}[hash_family]
    # exact cross-dups: one hash semi-join, no shingling
    new_hashed = new.withColumn("_h", F.md5(F.col(text_col)))
    existing_hashes = existing.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    survivors = new_hashed.join(existing_hashes, "_h", "left_anti").drop("_h")
    # near cross-dups: new-side signatures vs existing-side signatures
    new_sigs = sig_fn(survivors, text_col, id_col, num_bands, shingle_n, rows_per_band)
    old_sigs = sig_fn(existing, text_col, id_col, num_bands, shingle_n, rows_per_band)
    if star_threshold is not None:
        # Same hot-bucket bound as minhash_candidate_pairs, cross form: an
        # over-threshold EXISTING-side bucket (boilerplate cluster in the
        # corpus) collapses to its min-id representative, so per-bucket
        # cross output is m_new × threshold, never m_new × m_old. The
        # trade-off, stated honestly (same as minhash_candidate_pairs): a
        # new doc that is a near-dup of SOME member of a capped bucket but
        # fails Jaccard verification against the bucket's rep escapes
        # dedup. That is rare — an over-threshold bucket means its members
        # share minhash values, i.e. are mutually near-identical, so
        # verifying against the rep is a good proxy for verifying against
        # any member — but it is a proxy, not a guarantee; raise the
        # threshold (or pass None) when completeness matters more than the
        # quadratic bound. The new side is never capped: every new doc
        # needs its own keep/drop decision.
        old_sigs = _cap_hot_buckets(old_sigs, id_col, star_threshold)
    cand = (
        new_sigs.alias("n")
        .join(
            old_sigs.alias("o"),
            on=[
                F.col("n.band") == F.col("o.band"),
                F.col("n.signature") == F.col("o.signature"),
            ],
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"o.{id_col}").alias("id_b"),
        )
        .distinct()
        .persist()
    )
    # materialize the candidate cache NOW (pair-proportional count):
    # ngram_jaccard's restricted mode references the pair frame three
    # times, and an unmaterialized persist would be unmarked below
    # before it ever populated — the LSH band-join subtree would then
    # re-execute per reference
    n_cand = cand.count()
    if n_cand == 0:
        cand.unpersist()
        cross_clean = survivors
    else:
        # verify candidates with exact jaccard across the two frames:
        # texts fetched per side by id (candidate-proportional joins)
        both = survivors.select(F.col(id_col), F.col(text_col)).unionByName(
            existing.select(F.col(id_col), F.col(text_col))
        )
        caches: list = []
        verified = ngram_jaccard(
            both, cand, text_col, id_col, shingle_n,
            restrict_to_pair_docs=True, _cache_registry=caches,
        ).filter(F.col("jaccard") >= jaccard_threshold)
        # eager localCheckpoint severs the drop set from the candidate/
        # shingle caches so BOTH can release here — a daemon calling
        # this per incoming batch must not accumulate cached blocks
        drop = (
            verified.select(F.col("id_a").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cross_clean = survivors.join(
            F.broadcast(drop), on=id_col, how="left_anti"
        )
        cand.unpersist()
        for frame in caches:
            frame.unpersist()
    if not self_dedup:
        return cross_clean
    return near_dedup(
        cross_clean, text_col, id_col, jaccard_threshold,
        num_bands, shingle_n, rows_per_band, hash_family, star_threshold,
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``block_col`` is the coarse partitioner (IVF-style): pairs are only
    scored within a block, turning the O(n²) cross join into Σ O(n_b²).
    At 100 TB the block key would come from a trained coarse quantizer; the
    blocking join itself is the same plan. ``block_col=None`` brute-forces.
    """
    v = emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
        *([F.col(block_col)] if block_col else []),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)),
    )
    a, b = v.alias("a"), v.alias("b")
    on = [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    if block_col:
        on.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, on=on)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (dot / (F.col("a.norm") * F.col("b.norm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def embedding_neardup_pairs_vectorized(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "cell",
) -> DataFrame:
    """Vectorized production variant of :func:`embedding_neardup_pairs`:
    one Arrow batch per block, the in-block cosine matrix as a single
    numpy GEMM (``Xn @ Xn.T``) instead of an interpreted higher-order
    fold per pair.

    Same output contract (id_a < id_b, cosine ≥ threshold). The HOF
    variant exists for oracle-checkability (sequential JVM folds an SQL
    engine can replicate); this one is the path to point at a real
    corpus — per-pair cost drops from an interpreted 64-term lambda to a
    BLAS row. Requires a block column (the corpus-wide GEMM that
    ``block_col=None`` would imply is exactly the O(n²) this module
    exists to avoid); keep cells task-sized via the √N cell-count rule.
    """
    import pandas as pd

    out_schema = (
        f"id_a {emb.schema[id_col].dataType.simpleString()}, "
        f"id_b {emb.schema[id_col].dataType.simpleString()}, "
        "cosine double"
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf[id_col].to_numpy()
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0
        xn = x / norms[:, None]
        cos = xn @ xn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= threshold
        iu, ju = iu[keep], ju[keep]
        # canonical id_a < id_b regardless of in-block row order
        a, b = ids[iu], ids[ju]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[iu, ju]})

    return (
        emb.select(id_col, vec_col, block_col)
        .groupBy(block_col)
        .applyInPandas(score_block, schema=out_schema)
    )


def semantic_dedup(
    emb: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    scorer: str = "hof",
    assigner: str = "vectorized",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-quantize the
    embedding space (KMeans cells), score cosine pairs WITHIN each cell
    only, connected-component the near-dup pairs, and keep one
    representative (min id) per cluster.

    The cell blocking turns the O(n²) pair space into Σ O(n_cell²) — the
    published SemDeDup recall trade: near-dups straddling a cell boundary
    are missed, bounded by quantization quality (raise ``n_cells`` with
    corpus size, √N rule, to keep cells task-sized). The final drop is a
    broadcast anti-join: the corpus side never shuffles.

    Returns the deduplicated embedding table (original columns).

    ``scorer``: ``"hof"`` = JVM higher-order folds (oracle-replicable,
    the parity-gate variant); ``"vectorized"`` = per-cell numpy GEMM via
    ``applyInPandas`` (:func:`embedding_neardup_pairs_vectorized`) — the
    production path for real corpora.
    """
    from couch_to_postgres_spark.extensions.ann import (
        assign_cells,
        assign_cells_hof,
        train_centroids,
    )

    if scorer not in ("hof", "vectorized"):
        raise ValueError(f"scorer must be hof|vectorized, got {scorer!r}")
    if assigner not in ("hof", "vectorized"):
        raise ValueError(f"assigner must be hof|vectorized, got {assigner!r}")
    cents = centroids if centroids is not None else train_centroids(
        emb, n_cells=n_cells, vec_col=vec_col
    )
    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    cells = assign(emb, cents, id_col=id_col, vec_col=vec_col)
    if scorer == "vectorized":
        pairs = embedding_neardup_pairs_vectorized(
            cells,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            block_col="cell",
        )
    else:
        pairs = embedding_neardup_pairs(
            cells,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            block_col="cell",
        )
    clusters = dedup_clusters(pairs, id_col=id_col)
    drop = clusters.filter(F.col("cluster") != F.col(id_col)).select(id_col)
    return emb.join(F.broadcast(drop), on=id_col, how="left_anti")


def semantic_dedup_incremental(
    spark,
    index_path: str,
    batch: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner: str = "vectorized",
    scorer: str = "hof",
    materialize: bool = True,
) -> DataFrame:
    """Incremental SemDeDup against a persisted IVF index: classify an
    arriving embedding batch against the index's LIVE set without
    rescanning the corpus — the dedup consumer of ``ann.build_ivf_index``'s
    maintenance contract (append/tombstone).

    Per-batch plan, sized for a 100 TB accepted corpus:

    1. the batch assigns to cells with the INDEX'S frozen quantizer
       (fresh centroids would put batch and corpus in incompatible cell
       spaces);
    2. the touched cell ids are collected from the batch side (a
       micro-batch — small by contract) and applied as an ``isin`` on
       the ``partitionBy(cell)`` scan, so ONLY the touched cells'
       directories are read, O(batch · cell) regardless of corpus size;
    3. tombstoned vectors drop via the compaction-bounded anti-join
       (a deleted doc must not block re-entry of its own content);
    4. batch × live-corpus cosine within each cell — the batch side is
       the small side of the join (AQE broadcasts it; the index side
       never shuffles). A batch vector matching ANY live vector at
       ``cosine >= threshold`` is ``dup_of_corpus`` (attributed to the
       min qualifying live id — deterministic under ties);
    5. survivors dedup WITHIN the batch (same-cell pairs → connected
       components → min-id representative): ``dup_within_batch``.

    Returns one row per batch vector:
    ``(id, cell, status, dup_of)`` with status in
    ``accepted | dup_of_corpus | dup_within_batch`` and ``dup_of`` null
    for accepted rows. Feed the accepted slice to
    :func:`~couch_to_postgres_spark.extensions.ann.append_to_ivf_index`
    to complete the ingest step (see :func:`semantic_dedup_ingest`).

    ``scorer="hof"`` scores pairs with sequential JVM folds an external
    SQL engine replicates bit-for-bit (the parity-gate variant);
    ``"vectorized"`` uses the per-cell numpy GEMM pair scorer for the
    within-batch stage (production path). ``assigner`` must match the
    one the index was built with (see ``ann.build_ivf_index``).
    """
    import os

    from couch_to_postgres_spark.extensions.ann import (
        _live_cells,
        assign_cells,
        assign_cells_hof,
    )

    if scorer not in ("hof", "vectorized"):
        raise ValueError(f"scorer must be hof|vectorized, got {scorer!r}")
    if assigner not in ("hof", "vectorized"):
        raise ValueError(f"assigner must be hof|vectorized, got {assigner!r}")
    cents = {
        r["cell"]: list(r["centroid"])
        for r in spark.read.parquet(
            os.path.join(index_path, "centroids")
        ).collect()
    }
    centroids = [cents[i] for i in sorted(cents)]
    assign = {"vectorized": assign_cells, "hof": assign_cells_hof}[assigner]
    # persist: the assignment feeds the touched-cell collect, the
    # corpus join, and the within-batch stage — without it the
    # assignment (a pandas UDF or an n_cells-way fold) runs three times
    assigned = assign(batch, centroids, id_col, vec_col, nprobe=1).persist()
    touched = sorted(
        r["cell"] for r in assigned.select("cell").distinct().collect()
    )
    live = _live_cells(
        spark,
        index_path,
        spark.read.parquet(os.path.join(index_path, "cells")).filter(
            F.col("cell").isin(touched)
        ),
    )

    def _scored(df, prefix):
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).cast("array<double>").alias(f"{prefix}_v"),
            "cell",
        ).withColumn(
            f"{prefix}_n",
            F.sqrt(
                F.aggregate(f"{prefix}_v", F.lit(0.0), lambda a, x: a + x * x)
            ),
        )

    b, l = _scored(assigned, "b"), _scored(live, "l")
    dot = F.aggregate(
        F.zip_with(F.col("b_v"), F.col("l_v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # broadcast the BATCH side, not the live-index slice: the batch is
    # micro-batch-bounded by contract, while the touched cells' live set
    # is corpus-proportional in the worst case — without the hint
    # Catalyst builds on whichever side estimates smaller (at test scale
    # that's the pruned index scan, exactly the side that explodes at
    # 100 TB). The index side thus never shuffles OR broadcasts.
    corpus_hits = (
        F.broadcast(b)
        .join(l, "cell")
        .filter(dot / (F.col("b_n") * F.col("l_n")) >= F.lit(threshold))
        .groupBy("b_id")
        .agg(F.min("l_id").alias("dup_of"))
    )
    remaining = assigned.join(
        corpus_hits.withColumnRenamed("b_id", id_col).select(id_col),
        on=id_col,
        how="left_anti",
    )
    pair_fn = (
        embedding_neardup_pairs
        if scorer == "hof"
        else embedding_neardup_pairs_vectorized
    )
    wb_pairs = pair_fn(
        remaining,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell",
    )
    wb_drop = (
        dedup_clusters(wb_pairs, id_col=id_col)
        .filter(F.col("cluster") != F.col(id_col))
        .select(F.col(id_col).alias("b_id"), F.col("cluster").alias("wb_of"))
    )
    out = (
        assigned.select(F.col(id_col), F.col("cell"))
        .join(F.broadcast(corpus_hits.withColumnRenamed("b_id", id_col)),
              on=id_col, how="left")
        .join(F.broadcast(wb_drop.withColumnRenamed("b_id", id_col)),
              on=id_col, how="left")
        .select(
            id_col,
            "cell",
            F.when(F.col("dup_of").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("wb_of").isNotNull(), F.lit("dup_within_batch"))
            .otherwise(F.lit("accepted"))
            .alias("status"),
            F.coalesce("dup_of", "wb_of").alias("dup_of"),
        )
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        assigned.unpersist()
    # materialize=False returns the lazy plan (tests assert its shape);
    # the caller then owns the assignment cache's lifecycle
    return out


def semantic_dedup_ingest(
    spark,
    index_path: str,
    batch: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner: str = "vectorized",
    scorer: str = "hof",
) -> dict:
    """The ``foreachBatch`` body for a streaming embeddings feed with
    semantic admission control: classify the batch against the live
    index (:func:`semantic_dedup_incremental`), append ONLY the accepted
    vectors (``ann.append_to_ivf_index`` — the index's own quantizer, no
    rebuild), and return per-batch admission stats.

    At-least-once replay safety (the CDC-merge argument, reference
    lib/index.js:110-128, adapted to similarity semantics): every
    previously-ACCEPTED vector is cosine-1.0 to its live self and
    re-classifies ``dup_of_corpus`` — a replay never double-admits.
    Previously-rejected ``dup_within_batch`` vectors are re-EVALUATED,
    and one covered only via a transitive CC chain (a~b, b~c, a~c below
    threshold; rep a admitted, c rejected) MAY be admitted on replay —
    legitimately: c is not within threshold of any live vector. The
    maintained invariant is exactly that — no vector is admitted while
    a live near-dup of it exists — not byte-stability of reject
    decisions across replays (coverage by chain is not transitive)."""
    from couch_to_postgres_spark.extensions.ann import append_to_ivf_index

    cls = semantic_dedup_incremental(
        spark, index_path, batch, threshold,
        id_col, vec_col, assigner, scorer,
    )
    counts = {
        r["status"]: r["n"]
        for r in cls.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    accepted_ids = cls.filter(F.col("status") == "accepted").select(id_col)
    accepted = batch.join(accepted_ids, on=id_col, how="left_semi")
    n = append_to_ivf_index(
        spark, index_path, accepted, id_col, vec_col, assigner=assigner
    )
    return {
        "arrived": sum(counts.values()),
        "dup_of_corpus": counts.get("dup_of_corpus", 0),
        "dup_within_batch": counts.get("dup_within_batch", 0),
        "accepted": n,
    }


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Corpus-diagnostics: pairwise Jaccard similarity between SOURCES
    (crawls, dumps, feeds) over their distinct word-shingle sets — "how
    much of source B is already in source A", the signal that decides
    which corpus components are worth deduplicating against each other
    (run this before a cross_near_dedup campaign, not after).

    Plan shape: the corpus collapses to distinct (group, shingle) rows
    (two-phase distinct — partial per-partition dedup before one
    shingle-keyed shuffle); the pair intersection join is keyed by
    shingle, and a shingle shared by s groups emits C(s,2) pair rows —
    bounded by the GROUP count (tens), never by docs. Per-group set
    sizes are a tiny agg; the final jaccard is integer arithmetic.
    Emits (group_a, group_b, n_shared, jaccard) for group_a < group_b.
    """
    # Persisted: the distinct (group, shingle) set feeds three branches
    # (per-group sizes + both sides of the intersection self-join), and
    # without the cache each branch re-shingles the whole corpus (plan
    # audit: 3 shingle explosions -> 1). Distinct output is
    # vocabulary×group-sized, far smaller than the exploded corpus;
    # released below once the pair result materializes.
    gs = df.select(
        F.col(group_col).alias("g"),
        F.explode(word_shingles(text_col, shingle_n)).alias("sh"),
    ).distinct()
    return group_set_overlap(gs)


def group_set_overlap(gs: DataFrame) -> DataFrame:
    """Pairwise-Jaccard core over a distinct ``(g, sh)`` membership
    frame — the shared aggregation stage of :func:`source_overlap`
    (shingles fresh from corpus text) and
    ``stats_stream.source_overlap_from_index`` (fingerprints from live
    shingle-index postings), so the two paths cannot drift numerically
    (the ``bm25_rank_components`` discipline). Input rows MUST already
    be distinct per (g, sh); emits ``(group_a, group_b, n_shared,
    jaccard)`` for ``group_a < group_b``, eagerly materialized (at most
    C(groups, 2) rows)."""
    gs = gs.persist()
    sizes = gs.groupBy("g").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        gs.alias("a")
        .join(
            gs.alias("b"),
            on=[
                F.col("a.sh") == F.col("b.sh"),
                F.col("a.g") < F.col("b.g"),
            ],
        )
        .groupBy(F.col("a.g").alias("group_a"), F.col("b.g").alias("group_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.select(F.col("g").alias("group_a"), F.col("n_sh").alias("na"))),
            "group_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("g").alias("group_b"), F.col("n_sh").alias("nb"))),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )
    # result is C(groups, 2) rows at most — materialize eagerly so the
    # shingle cache releases now instead of leaking across calls
    out = out.localCheckpoint(eager=True)
    gs.unpersist()
    return out


def ngram_containment(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Asymmetric containment for candidate pairs: |A∩B| / |A| and
    |A∩B| / |B| over distinct word shingles — the quotation/subset
    detector Jaccard dilutes away (a paragraph fully lifted into a long
    article has low Jaccard but containment ≈ 1 on the short side; drop
    or attribute accordingly). Same candidate-only join shape as
    :func:`ngram_jaccard`; emits
    ``(id_a, id_b, containment_a, containment_b, jaccard)`` so one pass
    serves both symmetric and asymmetric policies."""
    sets_ = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
    )
    j = (
        pairs.join(
            sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        ).join(
            sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    na = F.size("sh_a").cast("double")
    nb = F.size("sh_b").cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(na, F.lit(1.0)), 4).alias("containment_a"),
        F.round(inter / F.greatest(nb, F.lit(1.0)), 4).alias("containment_b"),
        F.round(inter / F.greatest(union, F.lit(1.0)), 4).alias("jaccard"),
    )


def boilerplate_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document boilerplate ratio: the fraction of a doc's winnowing
    fingerprint occurrences that are SHARED by ≥ ``min_docs`` documents
    — the doc-level rollup of the span report (a doc scoring 0.8 is
    mostly template chrome; rank by this before deciding what
    :func:`mask_shared_spans` should scrub). Documents too short to
    fingerprint are absent. Emits
    ``(id, n_fingerprints, n_shared, boilerplate_frac)``; integer ratio,
    engine-exact."""
    # persist: the hot aggregate and the flagged join both consume the
    # occurrence frame — without the cache the full winnowing pipeline
    # (posexplode + hashing + per-doc window) runs twice. Released once
    # the per-doc (skinny) result materializes.
    occ = _winnow_occurrences(df, text_col, id_col, shingle_n, window).persist()
    hot = (
        occ.select(id_col, "fingerprint")
        .distinct()
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    flagged = occ.join(hot, "fingerprint", "left")
    shared = F.sum(
        F.when(F.col("n_docs").isNotNull(), 1).otherwise(0)
    )
    out = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        shared.cast("long").alias("n_shared"),
        F.round(shared / F.count(F.lit(1)), 4).alias("boilerplate_frac"),
    ).localCheckpoint(eager=True)
    occ.unpersist()
    return out
