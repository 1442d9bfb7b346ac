"""Skew-salting scale utilities and the z-order clustering key."""

from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import json_get
from couch_to_postgres_spark.operators.mirror import CHANGES_SCHEMA, docs_mirror
from couch_to_postgres_spark.operators.skew import salted_count


def test_salted_count_matches_plain(spark, sf_dir):
    m = docs_mirror(spark, sf_dir)
    lang = json_get("doc", "lang")
    plain = {
        r["lang"]: r["value"]
        for r in m.groupBy(lang.alias("lang")).agg(F.count(F.lit(1)).alias("value")).collect()
    }
    salted = {
        r["lang"]: r["value"] for r in salted_count(m, lang, "lang", n_salts=8).collect()
    }
    assert salted == plain


def test_salted_count_deterministic(spark, sf_dir):
    m = docs_mirror(spark, sf_dir)
    lang = json_get("doc", "lang")
    a = sorted(map(tuple, salted_count(m, lang, "lang").collect()))
    b = sorted(map(tuple, salted_count(m, lang, "lang").collect()))
    assert a == b


def test_zorder_value_exact_past_double_precision(spark):
    # regression: a multi-year microsecond span x 256 exceeds 2^53; the
    # scaling must stay exact (the double-division form truncated ~6% of
    # buckets one low at this magnitude)
    import random

    from couch_to_postgres_spark.sinks.layout import zorder_value

    span = 161_704_492_035_908  # ~5.1 years in microseconds
    lo = 1_700_000_000_000_000
    hi = lo + span - 1
    rng = random.Random(5)
    vals = [lo + rng.randrange(span) for _ in range(2000)] + [lo, hi]
    df = spark.createDataFrame([(v,) for v in vals], "t long")
    z = zorder_value(["t"], [lo], [hi], bits=8)
    got = [r["z"] for r in df.select(z.alias("z")).collect()]
    want = [((v - lo) * 256) // span for v in vals]  # exact int reference
    assert got == want


def test_zorder_value_no_long_overflow_and_clamp(spark):
    from couch_to_postgres_spark.sinks.layout import zorder_value

    # span > 2^(63-bits): the old LONG (c-lo)*256 multiply wrapped here;
    # the decimal-first form must stay exact
    span = 1 << 57
    lo = -(1 << 56)
    hi = lo + span - 1
    vals = [lo, lo + span // 3, lo + (2 * span) // 3, hi]
    df = spark.createDataFrame([(v,) for v in vals], "t long")
    got = [
        r["z"]
        for r in df.select(
            zorder_value(["t"], [lo], [hi], bits=8).alias("z")
        ).collect()
    ]
    want = [((v - lo) * 256) // span for v in vals]
    assert got == want

    # values outside the supplied bounds (sampled/approximate bounds at
    # scale) clamp to the edge buckets instead of wrapping out of range
    odf = spark.createDataFrame([(0,), (50,), (200,)], "t long")
    oz = [
        r["z"]
        for r in odf.select(
            zorder_value(["t"], [100], [110], bits=4).alias("z")
        ).collect()
    ]
    assert oz[0] == 0                        # below lo -> lowest bucket
    assert oz[2] == ((110 - 100) * 16) // 11  # above hi -> hi's bucket
    assert 0 <= oz[1] <= oz[2]


def test_sessionize_skew_safe_exact_and_spread(spark, sf_dir):
    """Planted hot key (one bot user owning ~1% of an inflated corpus):
    the time-bucketed variant must (a) produce EXACTLY the plain
    sessionization output and (b) split the hot key's events across many
    (key, bucket) groups so no single task carries them all."""
    import datetime as dt

    from couch_to_postgres_spark.streaming.windows import (
        sessionize_batch,
        sessionize_batch_skew_safe,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts")
    n = ev.count()
    # bot: one event every 7 minutes for n//100 events (sessions chain
    # through the 30 min gap, and many cross the bucket boundaries)
    base = dt.datetime(2024, 3, 1)
    bot = spark.range(max(2000, n // 100)).select(
        F.lit(99_999_999).alias("user_id"),
        (
            F.lit(base)
            + F.make_interval(mins=(F.col("id") * 7).cast("int"))
        ).alias("ts"),
    )
    aug = ev.select("user_id", "ts").unionByName(bot)

    plain = {
        (r["user_id"], r["session_no"], r["n_events"],
         r["session_start_us"], r["session_end_us"])
        for r in sessionize_batch(aug, 30).collect()
    }
    safe = {
        (r["user_id"], r["session_no"], r["n_events"],
         r["session_start_us"], r["session_end_us"])
        for r in sessionize_batch_skew_safe(aug, 30).collect()
    }
    assert safe == plain

    # spread: the hot key's events land in many (key, bucket) groups,
    # and the largest group holds a small fraction of its events
    from couch_to_postgres_spark.session import ts_micros

    bucket_us = 30 * 16 * 60 * 1_000_000
    groups = (
        bot.withColumn("_ts_us", ts_micros(bot, "ts"))
        .groupBy((F.col("_ts_us") - F.col("_ts_us") % F.lit(bucket_us)).alias("b"))
        .count()
        .collect()
    )
    n_bot = sum(r["count"] for r in groups)
    assert len(groups) >= 5
    assert max(r["count"] for r in groups) <= n_bot / 3
