"""Interactive SQL entry point (SURVEY.md §3 entry point 3).

The reference's read path is `psql` against the mirror; ours is
``spark.sql(...)`` against registered temp views. :func:`register_catalog`
makes every driver table and any mirrors available by name and registers
the JSON helper functions, so each documented README recipe runs as a SQL
string — e.g.::

    register_catalog(spark, sf_dir, mirrors={"example": mirror_df})
    spark.sql(\"\"\"
        SELECT id, CAST(get_json_object(doc, '$.myvar') AS double) AS myvar
        FROM example
        WHERE id LIKE 'test%'
          AND CAST(get_json_object(doc, '$.myvar') AS double) > 50
        ORDER BY myvar
    \"\"\")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from couch_to_postgres_spark.functions.json import register_sql_functions
from couch_to_postgres_spark.session import load_table

DRIVER_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_catalog(
    spark: SparkSession,
    sf_dir: str | None = None,
    mirrors: dict[str, DataFrame] | None = None,
) -> None:
    """Register driver tables (from ``sf_dir``) and mirror DataFrames as
    temp views, plus the JSON UDF surface, for `spark.sql` use. The JSON
    functions are registered once per session: a session that already
    has ``json_object_set_key`` keeps its registration."""
    if sf_dir is not None:
        for name in DRIVER_TABLES:
            try:
                load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            except Exception:  # noqa: BLE001 — table absent at this sf
                continue
    for name, df in (mirrors or {}).items():
        df.createOrReplaceTempView(name)
    if not spark.catalog.functionExists("json_object_set_key"):
        register_sql_functions(spark)
