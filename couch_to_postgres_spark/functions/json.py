"""JSON function layer — the engine's equivalent of the reference's
SQL-over-jsonb operators (SURVEY.md §2B, B3/B14–B17/B21).

Reference parity map:

* ``doc->>'k'`` / ``doc->'k'``        → :func:`json_get` / :func:`json_get_typed`
  (README.md:102-103 of the reference)
* ``jsonb_object_keys(doc)``          → :func:`json_keys` (README.md:226-229)
* ``json_to_recordset(...)``          → :func:`json_to_recordset` (README.md:195-199)
* ``json_agg(doc)``                   → :func:`json_agg` (README.md:496,522)
* ``json_object_set_key(doc, k, v)``  → :func:`json_object_set_key`
  (README.md:357-370; semantics only — upsert key, last-wins)

Everything here is built-in ``pyspark.sql.functions`` (JVM-side, inside
whole-stage codegen). The single exception is the *general* (nested-doc)
``json_object_set_key_nested`` SQL function (:func:`register_sql_functions`),
an Arrow-batched pandas UDF — the flat ``map_concat`` route is the hot path
and stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

MAP_SS = "map<string,string>"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def json_get(doc: Column | str, key: str) -> Column:
    """``doc->>'key'``: extract a field as text (NULL when absent).

    ``get_json_object`` is a JVM intrinsic — no Python crossing. Paths may
    be nested (``'a.b'`` → ``$.a.b``).
    """
    return F.get_json_object(_col(doc), f"$.{key}")


def json_get_typed(doc: Column | str, key: str, dtype: str) -> Column:
    """``CAST(doc->>'key' AS t)`` (reference README.md:103): typed on-read."""
    return json_get(doc, key).cast(dtype)


def json_keys(doc: Column | str) -> Column:
    """``jsonb_object_keys(doc)`` as an array column; ``explode`` it for the
    set-returning row-per-key shape (reference README.md:226-229)."""
    return F.json_object_keys(_col(doc))


def json_to_recordset(doc_array: Column | str, schema: str) -> Column:
    """``json_to_recordset(j) AS x (a text, b text)``: parse a JSON array of
    objects into an array of structs; ``inline``/``explode`` the result for
    the rowset shape (reference README.md:195-199)."""
    return F.from_json(_col(doc_array), f"array<struct<{schema}>>")


def json_agg(doc: Column | str, sort: bool = True) -> Column:
    """``json_agg(doc)``: aggregate docs into one JSON array string
    (reference README.md:496,522 — the `_bulk_docs` payload builder).

    ``sort=True`` canonicalizes element order (collect_list order is
    nondeterministic under parallelism — at 1000 executors the arrival order
    of partitions is arbitrary, so a deterministic payload needs the sort).
    """
    lst = F.collect_list(_col(doc))
    if sort:
        lst = F.sort_array(lst)
    # Elements are already JSON text; assemble the array without re-parsing.
    return F.concat(F.lit("["), F.concat_ws(",", lst), F.lit("]"))


def json_object_set_key(doc: Column | str, key: str, value: Column) -> Column:
    """Flat-doc ``json_object_set_key`` (reference README.md:357-370):
    upsert one key, last-wins, '{}' default for NULL docs (COALESCE at
    README.md:360,368).

    JVM-only route: parse to ``map<string,string>`` → ``map_concat`` →
    ``to_json``. Scalar values survive as their string form (numbers lose
    the unquoted representation — acceptable because the query surface is
    typed-on-read via :func:`json_get_typed`). For nested docs use the
    ``json_object_set_key_nested`` SQL function
    (:func:`register_sql_functions`).
    """
    d = F.coalesce(_col(doc), F.lit("{}"))
    merged = F.map_concat(
        F.map_filter(F.from_json(d, MAP_SS), lambda k, _: k != F.lit(key)),
        F.create_map(F.lit(key), value.cast("string")),
    )
    return F.to_json(merged)


def _set_key_pandas(docs, keys, values):
    import json

    import pandas as pd

    out = []
    for doc, key, value in zip(docs, keys, values):
        obj = json.loads(doc) if doc not in (None, "") else {}
        try:
            obj[key] = json.loads(value) if value is not None else None
        except (ValueError, TypeError):
            obj[key] = value
        out.append(json.dumps(obj, separators=(",", ":")))
    return pd.Series(out)


def register_sql_functions(spark: SparkSession) -> None:
    """Register the layer for SQL-string queries, mirroring the reference's
    in-database registration of json_object_set_key (README.md:357-370).

    The flat functions are SQL scalar UDFs (``CREATE FUNCTION … RETURN
    <expr>``, Spark 4): the body is inlined into the caller's plan as
    built-in expressions, so ``spark.sql`` strings get the same
    codegen'd JVM-side plans as the DataFrame API — no ``BatchEvalPython``
    stage (pinned by test_sql_surface). Only the nested-doc variant stays
    Python (Arrow-batched pandas UDF), registered under a distinct name.
    """
    # flat upsert: IDENTICAL expression to the DataFrame-API
    # json_object_set_key above (parse→map_filter→map_concat→to_json)
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION json_object_set_key(
            doc STRING, key STRING, value STRING)
        RETURNS STRING
        RETURN to_json(map_concat(
            map_filter(from_json(coalesce(doc, '{{}}'), '{MAP_SS}'),
                       (k, v) -> k != key),
            map(key, value)))
        """
    )
    # jsonb_object_keys: thin alias over the JVM built-in (kept under the
    # historical _py name so existing SQL strings keep working)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION json_object_keys_py(doc STRING)
        RETURNS ARRAY<STRING>
        RETURN json_object_keys(doc)
        """
    )
    # nested-preserving upsert: the one legitimately-Python entry point
    spark.udf.register(
        "json_object_set_key_nested",
        F.pandas_udf(_set_key_pandas, StringType()),
    )
