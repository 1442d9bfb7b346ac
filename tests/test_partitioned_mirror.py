"""Partitioned-mirror selective rewrite: correctness ≡ full merge,
untouched partitions physically untouched, partition-pruned reads."""

import json
import os

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.operators.cdc import apply_changes, latest_changes
from couch_to_postgres_spark.operators.mirror import CHANGES_SCHEMA, docs_mirror
from couch_to_postgres_spark.sources.changes import changes_from_events, write_change_log
from couch_to_postgres_spark.streaming.pipeline import follow
from couch_to_postgres_spark.streaming.partitioned import (
    read_meta,
    read_partitioned_mirror,
    upsert_partitioned_mirror,
    write_partitioned_mirror,
)

N_BUCKETS = 16


def state(df):
    return {r["id"]: r["doc"] for r in df.collect()}


def file_inventory(path):
    """(relpath, mtime, size) for every data file under the mirror."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_mtime_ns, st.st_size)
    return out


def test_selective_rewrite_correct_and_minimal(spark, sf_dir, tmp_path):
    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)
    before = file_inventory(mirror_path)

    changes = spark.createDataFrame(
        [
            (1, "3", False, '{"doc_id":3,"_rev":"2-new","n_chars":1}'),  # update
            (2, "7", True, None),  # delete
            (3, "newdoc", False, '{"doc_id":-1,"_rev":"1-n","n_chars":2}'),  # insert
        ],
        CHANGES_SCHEMA,
    )
    touched = upsert_partitioned_mirror(
        spark, mirror_path, changes, N_BUCKETS, mode="rewrite"
    )
    assert 0 < len(touched) <= 3

    # correctness: identical to the full-merge reference implementation
    expected = state(apply_changes(base, changes))
    got = state(read_partitioned_mirror(spark, mirror_path))
    assert got == expected

    # minimality: files in untouched buckets are bit-for-bit untouched
    after = file_inventory(mirror_path)
    untouched_before = {
        p: v
        for p, v in before.items()
        if not any(p.startswith(f"bucket={b}/") for b in touched)
    }
    for p, v in untouched_before.items():
        assert after[p] == v, f"untouched partition file changed: {p}"
    # and at least one touched bucket was actually rewritten
    assert any(
        p not in after or after[p] != v
        for p, v in before.items()
        if any(p.startswith(f"bucket={b}/") for b in touched)
    )


def test_partition_pruned_read(spark, sf_dir, tmp_path):
    mirror_path = str(tmp_path / "pmirror")
    write_partitioned_mirror(docs_mirror(spark, sf_dir), mirror_path, N_BUCKETS)
    pruned = spark.read.parquet(mirror_path).filter(F.col("bucket").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filters appear as PartitionFilters on the scan, and the
    # scanned row count is the pruned subset only
    assert pruned.count() < spark.read.parquet(mirror_path).count()


def test_streaming_follow_partitioned(spark, sf_dir, tmp_path):
    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, str(tmp_path / "log"))
    q = follow(
        spark,
        str(tmp_path / "log"),
        str(tmp_path / "mirror"),
        str(tmp_path / "ckpt"),
        num_buckets=N_BUCKETS,
    )
    q.awaitTermination(120)
    assert read_meta(str(tmp_path / "mirror"))["num_buckets"] == N_BUCKETS
    latest = latest_changes(changes)
    expected = {
        r["id"]: r["doc"] for r in latest.filter(~F.col("deleted")).collect()
    }
    got = state(read_partitioned_mirror(spark, str(tmp_path / "mirror")))
    assert got == expected


def test_compaction(spark, sf_dir, tmp_path):
    from couch_to_postgres_spark.streaming.partitioned import (
        bucket_file_counts,
        compact_mirror,
    )

    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir)
    write_partitioned_mirror(base, mirror_path, 4)
    # fragment one bucket: append-mode writes simulate accumulated batches
    frag = base.limit(40).withColumn(
        "bucket", F.lit(2)
    )
    for _ in range(6):
        frag.write.mode("append").partitionBy("bucket").parquet(mirror_path)
    before_rows = read_partitioned_mirror(spark, mirror_path).count()
    assert bucket_file_counts(mirror_path)[2] > 4

    compacted = compact_mirror(spark, mirror_path, max_files_per_bucket=4)
    assert compacted == [2]
    counts = bucket_file_counts(mirror_path)
    assert counts[2] == 1
    # data preserved bit-for-bit (row count + sample equality)
    assert read_partitioned_mirror(spark, mirror_path).count() == before_rows


def test_empty_batch_noop(spark, sf_dir, tmp_path):
    mirror_path = str(tmp_path / "pmirror")
    write_partitioned_mirror(docs_mirror(spark, sf_dir), mirror_path, N_BUCKETS)
    before = file_inventory(mirror_path)
    empty = spark.createDataFrame([], CHANGES_SCHEMA)
    assert upsert_partitioned_mirror(spark, mirror_path, empty, N_BUCKETS) == []
    assert file_inventory(mirror_path) == before


# ---------------------------------------------------------------------------
# merge-on-read delta log
# ---------------------------------------------------------------------------

DELTA_CHANGES = [
    (1, "3", False, '{"doc_id":3,"_rev":"2-new","n_chars":1}'),  # update
    (2, "7", True, None),  # delete
    (3, "newdoc", False, '{"doc_id":-1,"_rev":"1-n","n_chars":2}'),  # insert
]


def test_delta_append_leaves_base_untouched_and_reads_merged(
    spark, sf_dir, tmp_path
):
    """The steady-state path: a small batch appends to _delta — ZERO base
    files read or written (O(batch), the 100 TB micro-batch property) —
    and the merge-on-read view equals the full-merge reference."""
    import os

    from couch_to_postgres_spark.streaming.partitioned import read_meta

    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)
    before = file_inventory(mirror_path)

    changes = spark.createDataFrame(DELTA_CHANGES, CHANGES_SCHEMA)
    touched = upsert_partitioned_mirror(
        spark, mirror_path, changes, N_BUCKETS, mode="delta"
    )
    assert 0 < len(touched) <= 3
    # every base file bit-for-bit identical; all new files live in _delta
    after = {
        p: v for p, v in file_inventory(mirror_path).items()
        if not p.startswith("_delta/")
    }
    assert after == before
    assert os.path.isdir(os.path.join(mirror_path, "_delta"))
    assert read_meta(mirror_path)["delta_rows"] == 3

    expected = state(apply_changes(base, changes))
    assert state(read_partitioned_mirror(spark, mirror_path)) == expected


def test_delta_auto_mode_picks_delta_for_small_batch(spark, sf_dir, tmp_path):
    """mode='auto' routes a batch whose rewrite would exceed the write-amp
    threshold to the delta log."""
    mirror_path = str(tmp_path / "pmirror")
    write_partitioned_mirror(
        docs_mirror(spark, sf_dir, with_rev=True), mirror_path, N_BUCKETS
    )
    before = file_inventory(mirror_path)
    changes = spark.createDataFrame(DELTA_CHANGES[:1], CHANGES_SCHEMA)
    upsert_partitioned_mirror(spark, mirror_path, changes, N_BUCKETS)  # auto
    base_after = {
        p: v for p, v in file_inventory(mirror_path).items()
        if not p.startswith("_delta/")
    }
    assert base_after == before  # went to delta, not rewrite


def test_delta_replay_and_ordering(spark, sf_dir, tmp_path):
    """Replaying an appended batch is a state no-op (same (id, seq) rows
    resolve identically), and a later epoch's update to the same id wins
    over the earlier one."""
    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)
    changes = spark.createDataFrame(DELTA_CHANGES, CHANGES_SCHEMA)
    upsert_partitioned_mirror(spark, mirror_path, changes, N_BUCKETS, mode="delta")
    snapshot = state(read_partitioned_mirror(spark, mirror_path))
    # replay the SAME batch (at-least-once delivery)
    upsert_partitioned_mirror(spark, mirror_path, changes, N_BUCKETS, mode="delta")
    assert state(read_partitioned_mirror(spark, mirror_path)) == snapshot
    # a later batch updates doc 3 again — latest epoch wins
    newer = spark.createDataFrame(
        [(9, "3", False, '{"doc_id":3,"_rev":"3-newer","n_chars":5}')],
        CHANGES_SCHEMA,
    )
    upsert_partitioned_mirror(spark, mirror_path, newer, N_BUCKETS, mode="delta")
    got = state(read_partitioned_mirror(spark, mirror_path))
    assert '"3-newer"' in got["3"]
    assert "7" not in got  # the delete still hides the base row


def test_fold_deltas_restores_pure_base(spark, sf_dir, tmp_path):
    """Folding merges the delta log into base: _delta drains, state is
    unchanged, meta accounting resets."""
    from couch_to_postgres_spark.streaming.partitioned import (
        compact_mirror,
        read_meta,
    )

    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)
    changes = spark.createDataFrame(DELTA_CHANGES, CHANGES_SCHEMA)
    upsert_partitioned_mirror(spark, mirror_path, changes, N_BUCKETS, mode="delta")
    expected = state(read_partitioned_mirror(spark, mirror_path))

    folded = compact_mirror(spark, mirror_path, force_fold=True)
    assert folded  # the delta-carrying buckets were rewritten
    meta = read_meta(mirror_path)
    assert meta["delta_rows"] == 0
    assert not any(
        p.startswith("_delta/") for p in file_inventory(mirror_path)
    )
    assert state(read_partitioned_mirror(spark, mirror_path)) == expected
    # the persisted layout is authoritative: a conflicting count raises
    with pytest.raises(ValueError, match=f"num_buckets={N_BUCKETS}"):
        upsert_partitioned_mirror(spark, mirror_path, changes, 2 * N_BUCKETS)


def test_rewrite_after_delta_folds_touched_buckets(spark, sf_dir, tmp_path):
    """A big (rewrite-path) batch arriving after delta appends merges the
    pending deltas for its touched buckets — no stale delta rows survive
    to shadow the rewritten base."""
    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)
    small = spark.createDataFrame(DELTA_CHANGES, CHANGES_SCHEMA)
    upsert_partitioned_mirror(spark, mirror_path, small, N_BUCKETS, mode="delta")
    # bulk rewrite touching every bucket (new rev for every doc)
    bulk = base.selectExpr(
        "CAST(id AS LONG) + 1000 AS seq",
        "id",
        "false AS deleted",
        "doc",
    )
    upsert_partitioned_mirror(spark, mirror_path, bulk, N_BUCKETS, mode="rewrite")
    expected = state(apply_changes(apply_changes(base, small), bulk))
    assert state(read_partitioned_mirror(spark, mirror_path)) == expected


def test_point_lookup_partitioned_prunes_to_one_bucket(spark, sf_dir, tmp_path):
    """B1 over the bucket layout: the scan reads exactly ONE bucket
    directory (driver-side crc32 ≡ Spark crc32), result identical to the
    full-scan lookup, and deltas for the key resolve."""
    from couch_to_postgres_spark.streaming.partitioned import (
        point_lookup_partitioned,
    )

    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)

    df = point_lookup_partitioned(spark, mirror_path, "123")
    rows = df.collect()
    expected = base.filter(F.col("id") == "123").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expected]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan.replace(
        "PartitionFilters: [bucket", "PartitionFilters: [isnotnull(bucket"
    )  # bucket partition filter present (either normalized form)
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:120]

    # a delta update to the key is visible through the pruned lookup
    upd = spark.createDataFrame(
        [(9, "123", False, '{"doc_id":123,"_rev":"2-upd"}')], CHANGES_SCHEMA
    )
    upsert_partitioned_mirror(spark, mirror_path, upd, N_BUCKETS, mode="delta")
    got = point_lookup_partitioned(spark, mirror_path, "123").head()
    assert '"2-upd"' in got["doc"]
    # cross-check the driver-side bucket math against Spark's crc32
    import zlib

    spark_b = (
        base.filter(F.col("id") == "123")
        .select(F.pmod(F.crc32(F.col("id").cast("binary")), F.lit(N_BUCKETS)))
        .head()[0]
    )
    assert zlib.crc32(b"123") % N_BUCKETS == spark_b


def test_validate_mirror_detects_corruption(spark, sf_dir, tmp_path):
    """fsck: a healthy mirror (with deltas) validates; a row planted in
    the wrong bucket directory and stale meta counts (delta and total)
    are all caught."""
    import shutil

    from couch_to_postgres_spark.streaming.partitioned import (
        read_meta,
        validate_mirror,
        write_meta,
    )

    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)
    changes = spark.createDataFrame(DELTA_CHANGES, CHANGES_SCHEMA)
    upsert_partitioned_mirror(spark, mirror_path, changes, N_BUCKETS, mode="delta")

    report = validate_mirror(spark, mirror_path)
    assert report["ok"], report
    assert report["base_rows"] == 500
    assert report["delta_rows_actual"] == report["delta_rows_meta"] == 3

    # corruption 1: move a data file into another bucket's directory
    src_dir = f"{mirror_path}/bucket=0"
    dst_dir = f"{mirror_path}/bucket=1"
    moved = [f for f in os.listdir(src_dir) if f.endswith(".parquet")][0]
    shutil.copy(f"{src_dir}/{moved}", f"{dst_dir}/copied-{moved}")
    bad = validate_mirror(spark, mirror_path)
    assert not bad["ok"]
    assert bad["misplaced_rows"] > 0 and bad["duplicate_keys"] > 0

    # restore, then corruption 2: meta delta accounting drift
    os.remove(f"{dst_dir}/copied-{moved}")
    meta = read_meta(mirror_path)
    meta["delta_rows"] = 999
    write_meta(mirror_path, meta)
    drifted = validate_mirror(spark, mirror_path)
    assert not drifted["ok"] and drifted["delta_rows_meta"] == 999

    # restore, then corruption 3: meta base-row accounting drift (the
    # footer-maintained total a crash mid-swap could leave stale)
    meta["delta_rows"] = 3
    meta["total_rows"] = 499
    write_meta(mirror_path, meta)
    stale = validate_mirror(spark, mirror_path)
    assert not stale["ok"]
    assert stale["total_rows_meta"] == 499 and stale["base_rows"] == 500


def test_trash_recovery_window_after_bad_merge(spark, sf_dir, tmp_path):
    """Replaced bucket dirs are RETAINED in .trash for the grace window:
    after a destructive (wrong) merge, the operator restores the previous
    bucket state from trash — and the trash is invisible to fresh reads.
    (Reader snapshot isolation across a swap is explicitly NOT provided —
    dir-swap layouts fail in-flight scans fast; documented trade.)"""
    import shutil

    mirror_path = str(tmp_path / "pmirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, N_BUCKETS)
    pre_state = state(read_partitioned_mirror(spark, mirror_path))

    # a "bad" merge rewrites every doc with a bogus rev
    bulk = base.selectExpr(
        "CAST(id AS LONG) + 1000 AS seq", "id", "false AS deleted", "doc"
    ).withColumn("doc", F.regexp_replace("doc", '"1-', '"9-'))
    upsert_partitioned_mirror(spark, mirror_path, bulk, N_BUCKETS, mode="rewrite")
    fresh = state(read_partitioned_mirror(spark, mirror_path))
    assert all('"9-' in doc for doc in fresh.values())  # damage done

    # trash holds one retired dir per replaced bucket, invisible to reads
    trash = os.path.join(mirror_path, ".trash")
    retired = sorted(os.listdir(trash))
    assert len(retired) >= N_BUCKETS
    assert state(read_partitioned_mirror(spark, mirror_path)) == fresh

    # operator recovery: restore every bucket from its trash entry
    for entry in retired:
        name = entry.split("-", 1)[1]  # "<ts>-bucket=N"
        if not name.startswith("bucket="):
            continue
        b = name.split("=", 1)[1].split(".", 1)[0]
        dst = os.path.join(mirror_path, f"bucket={b}")
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(os.path.join(trash, entry), dst)
    assert state(read_partitioned_mirror(spark, mirror_path)) == pre_state


def test_mor_random_sequences_equal_sequential_apply(spark, sf_dir):
    """Property: ANY interleaving of delta/rewrite/auto merges over ANY
    change sequence equals folding the batches sequentially with
    apply_changes — the invariant the whole MoR design rests on.
    Deterministic seeds; several scenarios per run."""
    import random as rnd
    import shutil
    import tempfile

    base = docs_mirror(spark, sf_dir, with_rev=True).limit(60).cache()
    ids = [r["id"] for r in base.select("id").collect()]

    for seed in (11, 23, 47):
        r = rnd.Random(seed)
        work = tempfile.mkdtemp(prefix=f"mor_prop_{seed}_")
        mirror_path = f"{work}/m"
        write_partitioned_mirror(base, mirror_path, 8)
        reference = base
        seq = 100
        for _batch_no in range(4):
            rows = []
            for _ in range(r.randint(1, 6)):
                seq += 1
                doc_id = r.choice(ids + [f"new{r.randint(0, 5)}"])
                deleted = r.random() < 0.3
                doc = (
                    None
                    if deleted
                    else json.dumps(
                        {"doc_id": doc_id, "_rev": f"{seq}-p", "v": r.randint(0, 9)},
                        separators=(",", ":"),
                    )
                )
                rows.append((seq, doc_id, deleted, doc))
            batch = spark.createDataFrame(rows, CHANGES_SCHEMA)
            mode = r.choice(["delta", "rewrite", "auto"])
            upsert_partitioned_mirror(spark, mirror_path, batch, 8, mode=mode)
            reference = apply_changes(reference, batch)
            assert state(read_partitioned_mirror(spark, mirror_path)) == state(
                reference
            ), f"seed={seed} mode={mode} diverged"
        shutil.rmtree(work, ignore_errors=True)
