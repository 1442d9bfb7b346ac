from couch_to_postgres_spark.functions.json import (
    json_agg,
    json_get,
    json_get_typed,
    json_keys,
    json_object_set_key,
    json_to_recordset,
    register_sql_functions,
)

__all__ = [
    "json_agg",
    "json_get",
    "json_get_typed",
    "json_keys",
    "json_object_set_key",
    "json_to_recordset",
    "register_sql_functions",
]
