"""Physical-plan inspection helpers.

The engine's scale guarantees are plan properties, not vibes: filters reach
the parquet scan (`PushedFilters`), projections prune the read schema
(`ReadSchema`), small dims broadcast, the CDC merge never shuffles the
mirror. These helpers turn those properties into assertions so tests and
CI keep them true as the code evolves (the `.explain("formatted")` loop,
mechanized).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The final (AQE-resolved where possible) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` output as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    text = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        entry = m.group(1).strip()
        if entry:
            # split on commas not inside parens: EqualTo(id,123) is one entry
            out.extend(p.strip() for p in re.split(r",\s*(?![^()]*\))", entry))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists for each scan (column-pruning witness)."""
    text = formatted_plan(df)
    return re.findall(r"ReadSchema: (struct<[^>]*>)", text)


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def num_exchanges(df: DataFrame, over: str | None = None) -> int:
    """Count shuffle Exchange operators in the physical plan. ``over``
    restricts counting to plan lines mentioning that substring's subtree —
    crude but effective for 'no exchange over the mirror scan' checks."""
    plan = executed_plan(df)
    lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    if over is not None:
        lines = [ln for ln in lines if over in ln]
    return len(lines)


