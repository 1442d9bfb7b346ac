"""Z-order (Morton) clustering key for multi-column range filters.

The reference stores every doc in one flat table and full-scans it
(README.md:206-242). Sorting parquet files by an interleaved key of
several columns keeps each row group's min/max ranges tight on all of
them at once, so reader-side statistics skip row groups for a filter on
any of the clustered columns.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def zorder_value(cols, mins, maxs, bits: int = 8):
    """Z-order (Morton) value for up to a few columns: each column is
    scaled to a ``bits``-wide integer bucket over its [min, max] range,
    then the columns' bits are interleaved (column 0 takes the highest
    bit of each group). Pure integer JVM expressions — exact, engine-
    portable, codegen'd; no UDF.

    ``mins``/``maxs`` are the per-column bounds (plan literals — compute
    them once with one tiny agg; at 100 TB use known domain bounds or a
    sampled estimate, an approximate range only degrades clustering, not
    correctness)."""
    n = len(cols)
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        c = F.col(c) if isinstance(c, str) else c
        if lo is None or hi is None:
            raise ValueError(
                "zorder_value: a column's bounds are NULL (all-NULL column "
                "or empty frame) — clustering is undefined without a range"
            )
        span = int(hi) - int(lo) + 1
        # exact integer floor-div via DECIMAL(38,0): the (c-lo) offset is
        # cast to decimal BEFORE the 2^bits multiply (a long multiply
        # would silently wrap once the column span passes 2^(63-bits) —
        # e.g. multi-year nanosecond epochs at bits=8), then modular math
        # makes (num - num%span) an exact multiple of span and decimal
        # division keeps it exact for any long-typed input. Values
        # outside the supplied [lo, hi] bounds (sampled/approximate
        # bounds at 100 TB) clamp to the edge buckets instead of
        # producing out-of-range z-values.
        c_long = c.cast("long")
        clamped = F.greatest(
            F.least(c_long, F.lit(int(hi))), F.lit(int(lo))
        )
        num = (clamped - F.lit(int(lo))).cast("decimal(38,0)") * F.lit(
            1 << bits
        ).cast("decimal(38,0)")
        multiple = num - num % F.lit(span).cast("decimal(38,0)")
        scaled.append(
            (multiple / F.lit(span).cast("decimal(38,0)")).cast("long")
        )
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for k, s in enumerate(scaled):
            pos = bit * n + (n - 1 - k)
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(s, bit).bitwiseAND(F.lit(1)), pos)
            )
    return z
