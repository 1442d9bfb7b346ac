"""The spark.sql entry point: README recipes as literal SQL strings over
registered views (entry point 3 of SURVEY.md §3)."""

import pytest

from couch_to_postgres_spark.operators.mirror import MIRROR_SCHEMA, docs_mirror
from couch_to_postgres_spark.sql import register_catalog
from tests.test_json_functions import EXAMPLE_DOCS


@pytest.fixture(scope="module")
def catalog(spark, sf_dir):
    example = spark.createDataFrame(EXAMPLE_DOCS, MIRROR_SCHEMA)
    register_catalog(
        spark, sf_dir,
        mirrors={"example": example, "docs": docs_mirror(spark, sf_dir)},
    )
    return spark


def test_readme_select_recipe_sql(catalog):
    """README.md:102-111 as SQL."""
    rows = catalog.sql(
        """
        SELECT id, CAST(get_json_object(doc, '$.myvar') AS double) AS myvar
        FROM example
        WHERE id LIKE 'test%'
          AND CAST(get_json_object(doc, '$.myvar') AS double) > 50
        ORDER BY myvar, id
        """
    ).collect()
    assert [(r["id"], r["myvar"]) for r in rows] == [
        ("test5", 70.0), ("test1", 100.0), ("test3", 100.0),
    ]


def test_group_by_view_equivalence_sql(catalog):
    """README.md:208-213: the couch `_count` view as GROUP BY SQL."""
    rows = catalog.sql(
        """
        WITH tbl AS (
            SELECT get_json_object(doc, '$.lang') AS key, count(*) AS value
            FROM docs GROUP BY 1
        )
        SELECT key, value FROM tbl WHERE value > 0 ORDER BY key
        """
    ).collect()
    assert sum(r["value"] for r in rows) == 500


def test_json_object_set_key_sql(catalog):
    """The registered function (README.md:357-370) callable from SQL; the
    flat route is a SQL scalar UDF inlined to built-ins — the executed plan
    must contain NO Python stage (same codegen'd plan as the DataFrame API).
    """
    df = catalog.sql(
        """
        SELECT json_object_set_key(doc, 'myvar',
               CAST(CAST(get_json_object(doc, '$.myvar') AS int) + 50 AS STRING)) AS doc
        FROM example WHERE id = 'test7'
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import json

    assert json.loads(df.head()["doc"])["myvar"] == "60"
    # typed-on-read recovers the number (the engine's read idiom)
    typed = catalog.sql(
        """
        SELECT CAST(get_json_object(json_object_set_key(doc, 'myvar', '60'),
                    '$.myvar') AS INT) AS myvar
        FROM example WHERE id = 'test7'
        """
    ).head()
    assert typed["myvar"] == 60


def test_driver_tables_registered(catalog):
    assert catalog.sql("SELECT count(*) AS n FROM lineitem").head()["n"] > 0
    assert catalog.sql(
        "SELECT count(*) AS n FROM documents WHERE lang = 'en'"
    ).head()["n"] >= 0


def test_json_functions_registered_once_per_session(spark, monkeypatch):
    """A second register_catalog call on a session that already has the
    JSON functions registers nothing; a fresh session still gets them."""
    import couch_to_postgres_spark.sql as sqlmod

    calls = []
    real = sqlmod.register_sql_functions
    monkeypatch.setattr(
        sqlmod,
        "register_sql_functions",
        lambda s: (calls.append(s), real(s)),
    )
    fresh = spark.newSession()
    assert not fresh.catalog.functionExists("json_object_set_key")
    register_catalog(fresh)
    register_catalog(fresh)
    assert calls == [fresh]
    assert fresh.catalog.functionExists("json_object_set_key")
    assert fresh.sql(
        "SELECT json_object_set_key('{\"a\":\"1\"}', 'b', '2') AS d"
    ).first()["d"] == '{"a":"1","b":"2"}'
