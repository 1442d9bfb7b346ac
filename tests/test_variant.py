"""Variant-backed mirror: equivalence with the string mirror."""

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import json_get
from couch_to_postgres_spark.operators.mirror import docs_mirror
from couch_to_postgres_spark.operators.query import group_count, key_expansion
from couch_to_postgres_spark.operators.variant import (
    group_count_variant,
    key_expansion_variant,
    to_variant,
    vget,
)


@pytest.fixture(scope="module")
def string_mirror(spark, sf_dir):
    return docs_mirror(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def vmirror(spark, string_mirror, tmp_path_factory):
    # stored layout: write + re-read so tests cover the parquet round trip
    path = str(tmp_path_factory.mktemp("variant") / "vmirror.parquet")
    to_variant(string_mirror).write.parquet(path)
    return spark.read.parquet(path)


def test_group_count_equivalence(string_mirror, vmirror):
    a = {tuple(r) for r in group_count(string_mirror, "lang").collect()}
    b = {tuple(r) for r in group_count_variant(vmirror, "lang").collect()}
    assert a == b


def test_key_expansion_equivalence(string_mirror, vmirror):
    a = {tuple(r) for r in key_expansion(string_mirror, "lang").collect()}
    b = {tuple(r) for r in key_expansion_variant(vmirror, "lang").collect()}
    assert a == b


def test_extraction_equivalence(string_mirror, vmirror):
    a = {
        (r["id"], r["n"], r["t"])
        for r in string_mirror.select(
            "id",
            json_get("doc", "n_chars").cast("long").alias("n"),
            json_get("doc", "text").alias("t"),
        ).collect()
    }
    b = {
        (r["id"], r["n"], r["t"])
        for r in vmirror.select(
            "id",
            vget("doc", "n_chars").cast("long").alias("n"),
            vget("doc", "text").alias("t"),
        ).collect()
    }
    assert a == b


def test_missing_key_is_null(vmirror):
    assert (
        vmirror.select(vget("doc", "nope").alias("x")).filter(F.col("x").isNotNull()).count()
        == 0
    )
