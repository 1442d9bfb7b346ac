"""JSON function layer (SURVEY.md §2B B3/B14–B17/B21) unit tests,
including the README golden transcripts re-expressed (ordering pitfall,
update-then-requery)."""

import json

from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import (
    json_agg,
    json_get,
    json_keys,
    json_object_set_key,
    register_sql_functions,
)
from couch_to_postgres_spark.operators.mirror import MIRROR_SCHEMA

# the README walkthrough fixture (reference README.md:89-98): myvar values
# 100,50,100,50,70,20,10 for test1..test7
EXAMPLE_DOCS = [
    ("test1", '{"_id":"test1","_rev":"1-a","myvar":"100"}'),
    ("test2", '{"_id":"test2","_rev":"1-b","myvar":"50"}'),
    ("test3", '{"_id":"test3","_rev":"1-c","myvar":"100"}'),
    ("test4", '{"_id":"test4","_rev":"1-d","myvar":"50"}'),
    ("test5", '{"_id":"test5","_rev":"1-e","myvar":"70"}'),
    ("test6", '{"_id":"test6","_rev":"1-f","myvar":"20"}'),
    ("test7", '{"_id":"test7","_rev":"1-g","myvar":"10"}'),
]


def example(spark):
    return spark.createDataFrame(EXAMPLE_DOCS, MIRROR_SCHEMA)


def test_readme_flagship_golden(spark):
    """README.md:106-111: WHERE id LIKE 'test%' AND CAST(myvar)>50 ORDER BY
    myvar → test5(70), test1(100), test3(100)."""
    m = example(spark)
    v = json_get("doc", "myvar")
    got = (
        m.filter(F.col("id").like("test%") & (v.cast("double") > 50))
        .select("id", v.cast("double").alias("myvar"))
        .orderBy("myvar", "id")
        .collect()
    )
    assert [(r["id"], r["myvar"]) for r in got] == [
        ("test5", 70.0), ("test1", 100.0), ("test3", 100.0),
    ]


def test_readme_ordering_pitfall_golden(spark):
    """README.md:140-157: text order puts '100' before '70'; numeric order
    must not."""
    m = example(spark)
    v = json_get("doc", "myvar")
    text_order = [r["id"] for r in m.orderBy(v, "id").collect()]
    num_order = [r["id"] for r in m.orderBy(v.cast("long"), "id").collect()]
    assert text_order.index("test1") < text_order.index("test5")  # "100"<"70"
    assert num_order.index("test5") < num_order.index("test1")  # 70<100


def test_readme_update_then_requery(spark):
    """README.md:114-138: bump myvar by 50 where <60, then the >50 query
    returns 7 rows (all docs)."""
    m = example(spark)
    v = json_get("doc", "myvar").cast("long")
    bumped = m.withColumn(
        "doc",
        F.when(
            v < 60, json_object_set_key("doc", "myvar", (v + 50).cast("string"))
        ).otherwise(F.col("doc")),
    )
    got = bumped.filter(json_get("doc", "myvar").cast("long") > 50)
    assert got.count() == 7


def test_set_key_upserts_and_preserves(spark):
    m = example(spark)
    out = m.withColumn("doc", json_object_set_key("doc", "newkey", F.lit("v"))).head()
    parsed = json.loads(out["doc"])
    assert parsed["newkey"] == "v" and parsed["_id"] == "test1"


def test_set_key_null_doc_defaults_empty_object(spark):
    df = spark.createDataFrame([("x", None)], MIRROR_SCHEMA)
    out = df.withColumn("doc", json_object_set_key("doc", "k", F.lit("1"))).head()
    assert json.loads(out["doc"]) == {"k": "1"}


def test_set_key_udf_preserves_nesting(spark):
    df = spark.createDataFrame(
        [("x", '{"a":{"b":[1,2]},"c":"s"}')], MIRROR_SCHEMA
    )
    register_sql_functions(spark)
    out = df.withColumn(
        "doc",
        F.call_function(
            "json_object_set_key_nested", "doc", F.lit("d"), F.lit('{"n":1}')
        ),
    ).head()
    parsed = json.loads(out["doc"])
    assert parsed["a"] == {"b": [1, 2]} and parsed["d"] == {"n": 1}


def test_json_keys(spark):
    m = example(spark)
    keys = m.select(F.explode(json_keys("doc")).alias("k")).distinct().collect()
    assert {r["k"] for r in keys} == {"_id", "_rev", "myvar"}


def test_json_agg_deterministic(spark):
    m = example(spark)
    out1 = m.agg(json_agg(F.col("id")).alias("arr")).head()["arr"]
    out2 = m.repartition(7).agg(json_agg(F.col("id")).alias("arr")).head()["arr"]
    assert out1 == out2  # sort_array canonicalizes partition arrival order


def test_register_sql_functions(spark):
    register_sql_functions(spark)
    example(spark).createOrReplaceTempView("example")
    # flat route: values land as JSON strings (same as the DataFrame-API
    # flat route — typed-on-read recovers the number)
    row = spark.sql(
        "SELECT json_object_set_key(doc, 'z', '9') AS doc, "
        "CAST(get_json_object(json_object_set_key(doc, 'z', '9'), '$.z') "
        "     AS INT) AS z FROM example WHERE id = 'test1'"
    ).head()
    assert json.loads(row["doc"])["z"] == "9"
    assert row["z"] == 9
    keys = spark.sql(
        "SELECT json_object_keys_py(doc) AS ks FROM example WHERE id='test2'"
    ).head()["ks"]
    assert set(keys) == {"_id", "_rev", "myvar"}
    # nested route (the one Python entry point): value parses as JSON
    nrow = spark.sql(
        "SELECT json_object_set_key_nested(doc, 'd', '{\"n\":1}') AS doc "
        "FROM example WHERE id = 'test1'"
    ).head()
    assert json.loads(nrow["doc"])["d"] == {"n": 1}
