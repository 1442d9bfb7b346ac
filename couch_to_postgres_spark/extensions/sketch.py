"""Mergeable bottom-k (KMV) hash sketches: O(k)-state per group distinct
counting, set similarity, and streaming maintenance.

The reference (couch-to-postgres, lib/index.js) mirrors documents and
leaves analytics to Postgres; corpus monitoring at 100 TB needs
cardinality and overlap answers WITHOUT a distinct-shuffle over the
corpus. A bottom-k sketch — the k smallest md5 values of a group's
value domain (Bar-Yossef et al. 2002; Beyer et al. 2007 "KMV") — is:

* **exactly deterministic** (md5 is a fixed function, the k-th order
  statistic is unique — no RNG, so an external SQL engine replays the
  sketch bit-for-bit, unlike HLL register layouts);
* **mergeable**: bottomk(A ∪ B) = k smallest of bottomk(A) ∪ bottomk(B)
  — union, intersection, and streaming append all compose from sketches
  alone, never the base data;
* **small**: k · 32 bytes per group, independent of corpus size.

Estimators (all closed-form over the sketch, no data access):

* distinct count: D̂ = (k-1) / u_k where u_k is the k-th smallest hash
  normalized to (0,1) — the classic KMV estimator; when a group has
  fewer than k distinct values the sketch IS the value set and the
  count is exact;
* Jaccard: J(A,B) ≈ |bottomk(A∪B) ∩ A ∩ B| / |bottomk(A∪B)| — the
  bottom-k coordinated-sample estimator (works because bottom-k of the
  union is a uniform sample of A∪B, and membership of a union-sample
  hash in both sketches is exact).

Plan shape (the MapReduce mergeable-sketch discipline, skew-proof):
local per-(group, input-partition) distinct bottom-k via hash
aggregation (state bounded by per-partition distinct values — sized by
``spark.sql.files.maxPartitionBytes``, not by the group), then a
bounded-fan-in tree merge on arrays of ≤ k hashes. NO per-group window,
no ``partitionBy(group)`` row funnel: a group 1000× larger than the
rest still lands as ≤ n_partitions small arrays, merged ``fanin`` at a
time. Hash normalization uses (hexval8 + 0.5) / 2^32 — the repo-wide
convention that keeps the value strictly inside (0,1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def hash_u(h: Column | str) -> Column:
    """Normalize the first 8 hex chars of an md5 string to (0,1):
    (value + 0.5) / 2^32. Exact in DOUBLE (value < 2^32), never 0 or 1."""
    v = F.conv(F.substring(_col(h), 1, 8), 16, 10).cast("double")
    return (v + F.lit(0.5)) / F.lit(4294967296.0)


def _merge_sketches(col: Column, k: int) -> Column:
    """k smallest distinct hashes across an array-of-arrays column —
    the bottom-k merge (hex md5 strings sort lexically = numerically)."""
    return F.slice(F.array_sort(F.array_distinct(F.flatten(col))), 1, k)


def bottomk_sketch(
    df: DataFrame,
    group_col: str,
    value: Column | str,
    k: int = 64,
    fanin: int = 64,
) -> DataFrame:
    """Per-group bottom-k sketch of ``value``'s distinct domain:
    ``(group_col, sketch array<string>, k_used, u_k)`` where ``sketch``
    holds the ≤ k smallest ``md5(value)`` hex strings, ``k_used`` its
    size, and ``u_k`` the normalized largest retained hash (null when
    the group has < k distinct values — the sketch is then exact).

    Two-level skew-proof plan: (1) hash-aggregate a distinct bottom-k
    per (group, input partition) — map-side state is bounded by the
    partition's distinct values, never the group's; (2) tree-merge the
    per-partition arrays with bounded fan-in (``pid % fanin`` buckets,
    then one array of ≤ fanin·k ≤ ~4k hashes per group). Both shuffles
    move only k-length arrays. At 100 TB the heaviest group costs the
    same as the lightest: there is no per-group sort anywhere.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = F.md5(_col(value).cast("string"))
    loc = (
        df.select(
            F.col(group_col),
            h.alias("h"),
            F.spark_partition_id().alias("pid"),
        )
        .groupBy(group_col, "pid")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("sk"))
    )
    mid = (
        loc.withColumn("b", F.col("pid") % F.lit(fanin))
        .groupBy(group_col, "b")
        .agg(_merge_sketches(F.collect_list("sk"), k).alias("sk"))
    )
    top = mid.groupBy(group_col).agg(
        _merge_sketches(F.collect_list("sk"), k).alias("sketch")
    )
    return top.select(
        group_col,
        "sketch",
        F.size("sketch").alias("k_used"),
        F.when(
            F.size("sketch") >= k, hash_u(F.element_at("sketch", k))
        ).alias("u_k"),
    )


def distinct_estimate(sketches: DataFrame, k: int = 64) -> DataFrame:
    """KMV distinct-count estimate from :func:`bottomk_sketch` output:
    D̂ = (k-1)/u_k when the sketch is full, else exactly ``k_used``
    (fewer than k distinct values means the sketch IS the domain).
    Adds ``distinct_est`` (double, rounded to 2dp); pure projection."""
    return sketches.withColumn(
        "distinct_est",
        F.round(
            F.when(
                F.col("u_k").isNotNull(), F.lit(k - 1) / F.col("u_k")
            ).otherwise(F.col("k_used").cast("double")),
            2,
        ),
    )


def sketch_jaccard(
    sketches: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """Pairwise Jaccard estimates between every two groups, from their
    sketches ALONE: for each pair, take the k smallest hashes of the
    sketch union (a uniform sample of A∪B) and count how many appear in
    both sketches. Returns ``(g_a, g_b, k_union, inter_k, jaccard_est)``
    for g_a < g_b.

    The pair join is sketch × sketch — G groups means G·k hashes total,
    so even 10^4 groups is a ~10 MB broadcast; the base data is never
    touched. All array ops are JVM built-ins (no UDF)."""
    a = sketches.select(
        F.col(group_col).alias("g_a"), F.col("sketch").alias("sk_a")
    )
    b = sketches.select(
        F.col(group_col).alias("g_b"), F.col("sketch").alias("sk_b")
    )
    pairs = a.join(F.broadcast(b), F.col("g_a") < F.col("g_b"))
    union_k = F.slice(
        F.array_sort(F.array_distinct(F.concat("sk_a", "sk_b"))), 1, k
    )
    inter = F.array_intersect(
        union_k, F.array_intersect("sk_a", "sk_b")
    )
    return pairs.select(
        "g_a",
        "g_b",
        F.size(union_k).alias("k_union"),
        F.size(inter).alias("inter_k"),
        F.round(F.size(inter) / F.size(union_k).cast("double"), 4).alias(
            "jaccard_est"
        ),
    )


def merge_sketch_tables(
    old: DataFrame, new: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """Merge two sketch tables (full-outer on the group): the bottom-k
    of the union per group. This is the streaming maintenance step —
    state in, state out, O(groups · k) regardless of how much data each
    table summarized. Recomputes ``k_used`` / ``u_k`` for the merged
    sketch."""
    o = old.select(group_col, F.col("sketch").alias("sk_o"))
    n = new.select(group_col, F.col("sketch").alias("sk_n"))
    merged = o.join(n, group_col, "full_outer").select(
        group_col,
        _merge_sketches(
            F.array(
                F.coalesce("sk_o", F.array()), F.coalesce("sk_n", F.array())
            ),
            k,
        ).alias("sketch"),
    )
    return merged.select(
        group_col,
        "sketch",
        F.size("sketch").alias("k_used"),
        F.when(
            F.size("sketch") >= k, hash_u(F.element_at("sketch", k))
        ).alias("u_k"),
    )


def _sketch_state_current(state_path: str) -> str | None:
    """The live version-directory name recorded in the pointer file, or
    None when no committed state exists yet."""
    import os

    try:
        with open(os.path.join(state_path, "_CURRENT")) as fh:
            name = fh.read().strip()
        return name or None
    except OSError:
        return None


def read_sketch_state(spark, state_path: str) -> DataFrame | None:
    """The committed sketch table at ``state_path``, or None before the
    first :func:`sketch_stream` batch commits. Readers only ever see a
    fully-written version directory (the pointer is swapped AFTER the
    parquet write completes)."""
    import os

    cur = _sketch_state_current(state_path)
    if cur is None:
        return None
    return spark.read.parquet(os.path.join(state_path, cur))


def sketch_stream(
    spark,
    state_path: str,
    batch: DataFrame,
    group_col: str,
    value: Column | str,
    k: int = 64,
    batch_id: int | None = None,
) -> DataFrame:
    """``foreachBatch`` body maintaining a per-group sketch table under
    ``state_path``: sketch the batch, merge with persisted state, commit.
    Returns the merged table. State is O(groups · k) — each commit
    rewrites sketches, not data, so a 100 TB history costs the same as
    an empty one. At-least-once replays are absorbed by idempotence:
    re-merging a batch's hashes is a set union no-op.

    Crash safety (versioned state + pointer, never overwrite-in-place):
    the merged table is written to a NEW version directory
    ``state_path/v-<n+1>`` and only then does an atomic pointer swap
    (``os.replace`` of ``_CURRENT``) make it live; prior versions are
    pruned best-effort afterwards. A crash at ANY point leaves the
    pointer on a complete older version, and the replayed batch
    re-merges into it — the former overwrite-in-place plan had a window
    (truncate → rewrite) where a crash lost ALL history and the next
    batch silently restarted the sketch from empty. On HDFS/S3 swap the
    local ``open``/``os.replace`` for the Hadoop FileSystem
    create+rename (rename is atomic on HDFS; S3 needs a pointer object
    PUT, which is atomic per-key) — same note as
    ``streaming.commit``.

    The whole read→merge→commit span holds the shared per-path lock
    (``streaming.commit.writing`` — same discipline as
    ``search_index_batch``): one streaming query serializes its own
    ``foreachBatch`` calls, but the daemon can drive multiple feeds,
    and two unserialized writers on one state path would both read the
    same old version and the second commit would silently drop the
    first's batch (lost update), beyond racing the pointer swap."""
    import os

    from couch_to_postgres_spark.streaming.commit import writing

    with writing(state_path):
        fresh = bottomk_sketch(batch, group_col, value, k=k)
        cur = _sketch_state_current(state_path)
        if cur is None:
            merged = fresh
        else:
            old = spark.read.parquet(os.path.join(state_path, cur))
            merged = merge_sketch_tables(old, fresh, group_col, k=k)
        return _commit_versioned(spark, state_path, merged, batch_id=batch_id)


#: how long SUPERSEDED state versions stay on disk after a pointer swap.
#: A reader that resolved ``_CURRENT`` just before a commit holds a lazy
#: DataFrame pinned to the old version's absolute paths; instant pruning
#: could delete its parquet files mid-scan. Superseded versions are
#: therefore retained in place (their paths stay valid — a rename into a
#: trash dir would break pinned paths just like a delete) and pruned only
#: once older than this window, mirroring ``commit.TRASH_GRACE_SECONDS``.
STATE_RETAIN_SECONDS = 300.0


def _commit_versioned(
    spark, state_path: str, df: DataFrame, batch_id: int | None = None
) -> DataFrame:
    """Commit ``df`` as the next state version under ``state_path`` and
    return it re-read from disk: write the NEW version directory first
    (the version being read is never touched, so no lineage-breaking
    checkpoint is needed), atomically swap the ``_CURRENT`` pointer,
    record commit metadata for the control plane (``_META.json``,
    atomic), and prune superseded versions older than
    :data:`STATE_RETAIN_SECONDS` (never the one just superseded-moments-
    ago — in-flight readers keep valid paths for the grace window;
    orphans are harmless). Runs under the shared per-path lock — the
    same discipline as ``search_index_batch`` — so two writers on one
    state path can never interleave the write→swap→prune sequence. The
    crash-safety contract is documented on :func:`sketch_stream`."""
    import json
    import os
    import shutil
    import time

    from couch_to_postgres_spark.streaming.commit import writing

    with writing(state_path):
        cur = _sketch_state_current(state_path)
        next_n = int(cur.split("-")[1]) + 1 if cur else 0
        next_name = f"v-{next_n:010d}"
        df.write.mode("overwrite").parquet(
            os.path.join(state_path, next_name)
        )
        tmp = os.path.join(state_path, "_CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(next_name + "\n")
        os.replace(tmp, os.path.join(state_path, "_CURRENT"))  # atomic
        meta = {
            "version": next_name,
            "version_n": next_n,
            "batch_id": batch_id,
            "committed_unix": round(time.time(), 3),
        }
        mtmp = os.path.join(state_path, "_META.json.tmp")
        with open(mtmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(mtmp, os.path.join(state_path, "_META.json"))
        cutoff = time.time() - STATE_RETAIN_SECONDS
        for name in os.listdir(state_path):
            if not name.startswith("v-") or name == next_name:
                continue
            p = os.path.join(state_path, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    return spark.read.parquet(os.path.join(state_path, next_name))


def sketch_state_status(spark, state_path: str) -> dict | None:
    """Control-plane health for one versioned state path (the number the
    daemon's `/_status` surfaces per sketch/reservoir-flagged feed, the
    same way search-flagged feeds surface ``index_status``): live
    version, last-commit batch id and time, committed row count, and how
    many superseded versions still sit in the retention window. None
    when nothing has committed yet."""
    import json
    import os

    cur = _sketch_state_current(state_path)
    if cur is None:
        return None
    meta = {}
    try:
        with open(os.path.join(state_path, "_META.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        pass
    try:
        versions_on_disk = sum(
            1 for n in os.listdir(state_path) if n.startswith("v-")
        )
    except OSError:
        versions_on_disk = 1
    return {
        "version": cur,
        "version_n": int(cur.split("-")[1]),
        "rows": spark.read.parquet(os.path.join(state_path, cur)).count(),
        "batch_id": meta.get("batch_id"),
        "committed_unix": meta.get("committed_unix"),
        "versions_retained": versions_on_disk - 1,
    }


def reservoir_stream(
    spark,
    state_path: str,
    batch: DataFrame,
    group_col: str,
    k: int = 100,
    id_col: str = "doc_id",
    salt: str = "res1",
    seq_col: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """Streaming per-group uniform sample with O(groups · k) state — the
    reservoir-sampling operator for an unbounded feed: after ANY number
    of micro-batches the state holds, per group, exactly the rows whose
    ``md5(salt:id)`` keys are the k smallest seen so far. Because that
    set is a deterministic function of the ids (not of arrival order or
    batch boundaries), the maintained reservoir is IDENTICAL to
    ``sampling.cap_per_group`` over the union of all batches — a
    batch-replayable, engine-replayable uniform sample (the md5 keys
    are uniform whatever the id distribution), unlike classic
    Vitter-style reservoirs whose contents depend on arrival order and
    RNG state.

    ``foreachBatch`` body: rank state ∪ batch per group, keep k,
    commit via the versioned-pointer discipline of
    :func:`sketch_stream` (crash anywhere leaves the previous complete
    reservoir), the whole span under the shared per-path lock (two
    writers on one state path would otherwise lose an update — see
    :func:`sketch_stream`). The ranking window's input is state
    (groups · k) ∪ batch — bounded by the batch contract, never by
    history; a group's TOTAL history never funnels anywhere.

    Re-offered ids resolve DETERMINISTICALLY, never by an arbitrary
    duplicate drop (whose kept payload would depend on partitioning):
    when ``seq_col`` names a CDC sequence column the max-seq row wins
    (the live document version — a replayed STALE payload can never
    clobber a newer committed one); without a seq the incoming batch
    row beats state, so a re-offer carrying an updated payload refreshes
    the reservoir. MEMBERSHIP is unaffected either way — the md5 key
    ranks on (salt, id) alone — so an at-least-once replay is still a
    selection no-op.

    The batch's columns are the payload and must be stable across
    batches; returns the committed reservoir (payload + ``_rk`` key,
    kept so merges never recompute hashes)."""
    import os

    from couch_to_postgres_spark.streaming.commit import writing

    key = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    from pyspark.sql import Window as W

    with writing(state_path):
        cand = batch.withColumn("_rk", key).withColumn("_pref", F.lit(1))
        cur = _sketch_state_current(state_path)
        if cur is not None:
            old = spark.read.parquet(
                os.path.join(state_path, cur)
            ).withColumn("_pref", F.lit(0))
            cand = old.unionByName(cand)
        dup_order = (
            [F.col(seq_col).desc()] if seq_col else []
        ) + [F.col("_pref").desc()]
        dw = W.partitionBy(group_col, id_col).orderBy(*dup_order)
        cand = (
            cand.withColumn("_dn", F.row_number().over(dw))
            .filter(F.col("_dn") == 1)
            .drop("_dn", "_pref")
        )
        w = W.partitionBy(group_col).orderBy(F.col("_rk"), F.col(id_col))
        kept = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        return _commit_versioned(spark, state_path, kept, batch_id=batch_id)


