"""View-as-table (SURVEY.md §1.1 #6, §4 view-materialization trade-off).

A CouchDB map/reduce view is, relationally, a materialized aggregate of
the mirror (the reference proves the equivalence itself, README.md:206-213,
and documents the trade-off: ~1 s from a prebuilt view vs ~4 s recomputed,
README.md:204-215). Here a view is any DataFrame builder over the mirror;
materialization is a parquet write + temp-view registration, refreshed on
demand (the couch view-build analog, minus the 20-minute build).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from couch_to_postgres_spark.streaming.commit import publish, staging, writing
from couch_to_postgres_spark.streaming.meta_io import open_parquet


class MaterializedView:
    """A named, refreshable materialized aggregate.

    ``build`` is the view definition (mirror → rowset); ``refresh()``
    recomputes it into a staging sibling of ``path`` and lands it with
    one ``commit.publish`` rooted at ``path``'s parent directory (which
    holds the publish plan and the ``.trash`` of retired views). A crash
    at either rename leaves a plan that the next ``read()`` or
    ``refresh()`` completes, so readers always open a complete view.
    Register-then-query matches the couch pattern of hitting a prebuilt
    view; calling ``build`` directly is the fresh GROUP BY path — the
    same trade-off the reference documents.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        path: str,
        build: Callable[[], DataFrame],
    ):
        self.spark = spark
        self.name = name
        self.path = path
        self.build = build
        self._root = os.path.dirname(os.path.abspath(path))

    def refresh(self) -> None:
        with writing(self._root):
            stage = staging(self.path, "refresh")
            self.build().write.mode("overwrite").parquet(stage)
            publish(self._root, [(self.path, stage)])
        self.register()

    def register(self) -> None:
        self.read().createOrReplaceTempView(self.name)

    def read(self) -> DataFrame:
        with writing(self._root):  # completes a refresh a crash cut short
            return open_parquet(self.spark, self.path)


def count_view_delta(
    pre_mirror: DataFrame,
    post_mirror: DataFrame,
    touched_ids: DataFrame,
    key: Column,
    id_col: str = "id",
) -> DataFrame:
    """O(touched) delta for a COUNT-per-key view between two mirror states.

    Instead of recomputing ``GROUP BY key`` over the whole post-merge
    mirror, read ONLY the rows whose ids a change batch touched — in both
    the pre and post states (broadcast semi-joins, the mirror never
    shuffles) — and emit per-key net counts (−1 per old row, +1 per new
    row). A replayed batch whose changes already landed nets zero for
    every key, so delta application inherits the merge's idempotence.

    Returns ``(key, delta)`` with zero-net keys dropped."""
    minus = pre_mirror.join(
        F.broadcast(touched_ids), on=id_col, how="left_semi"
    ).select(key.alias("key"), F.lit(-1).cast("long").alias("d"))
    plus = post_mirror.join(
        F.broadcast(touched_ids), on=id_col, how="left_semi"
    ).select(key.alias("key"), F.lit(1).cast("long").alias("d"))
    return (
        minus.unionByName(plus)
        .groupBy("key")
        .agg(F.sum("d").alias("delta"))
        .filter(F.col("delta") != 0)
    )


def agg_view_delta(
    pre_mirror: DataFrame,
    post_mirror: DataFrame,
    touched_ids: DataFrame,
    key: Column,
    value: Column,
    id_col: str = "id",
) -> DataFrame:
    """`count_view_delta` generalized to COUNT+SUM views: emits
    ``(key, d_cnt, d_sum)`` net deltas from the touched rows only. The
    count rides along because SUM alone can't decide when a key
    disappears — a key leaves the view when its ROW count reaches zero,
    not when its sum does."""
    minus = pre_mirror.join(
        F.broadcast(touched_ids), on=id_col, how="left_semi"
    ).select(
        key.alias("key"),
        F.lit(-1).cast("long").alias("dc"),
        (-value).cast("long").alias("ds"),
    )
    plus = post_mirror.join(
        F.broadcast(touched_ids), on=id_col, how="left_semi"
    ).select(
        key.alias("key"),
        F.lit(1).cast("long").alias("dc"),
        value.cast("long").alias("ds"),
    )
    return (
        minus.unionByName(plus)
        .groupBy("key")
        .agg(F.sum("dc").alias("d_cnt"), F.sum("ds").alias("d_sum"))
        .filter((F.col("d_cnt") != 0) | (F.col("d_sum") != 0))
    )


def apply_agg_delta(view: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge ``(key, d_cnt, d_sum)`` deltas into a ``(key, cnt, total)``
    view; keys whose row count reaches zero disappear. Null-safe on the
    key: docs missing the keyed field group under NULL, and a plain
    equality join would keep the view's NULL row and the delta's NULL row
    as two separate rows."""
    v = view.withColumnRenamed("cnt", "_cnt").withColumnRenamed("total", "_total")
    d = delta.withColumnRenamed("key", "_dkey")
    return (
        v.join(d, v["key"].eqNullSafe(d["_dkey"]), how="full")
        .select(
            F.coalesce(F.col("key"), F.col("_dkey")).alias("key"),
            (
                F.coalesce(F.col("_cnt"), F.lit(0))
                + F.coalesce(F.col("d_cnt"), F.lit(0))
            ).alias("cnt"),
            (
                F.coalesce(F.col("_total"), F.lit(0))
                + F.coalesce(F.col("d_sum"), F.lit(0))
            ).alias("total"),
        )
        .filter(F.col("cnt") > 0)
    )


def apply_count_delta(view: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge a ``(key, delta)`` frame into a ``(key, cnt)`` count view.
    Keys whose count reaches zero disappear (a fresh GROUP BY would not
    emit them). The join is full-outer over the AGGREGATE (view-sized,
    not corpus-sized) rowset, null-safe on the key (docs missing the
    keyed field group under NULL — plain equality would leave the view's
    and the delta's NULL rows unmerged); at scale both sides
    hash-partition on key — the view is never scanned more than once and
    the corpus not at all."""
    v = view.withColumnRenamed("cnt", "_cnt")
    d = delta.withColumnRenamed("key", "_dkey")
    return (
        v.join(d, v["key"].eqNullSafe(d["_dkey"]), how="full")
        .select(
            F.coalesce(F.col("key"), F.col("_dkey")).alias("key"),
            (
                F.coalesce(F.col("_cnt"), F.lit(0))
                + F.coalesce(F.col("delta"), F.lit(0))
            ).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )
