"""Query-surface builders — SURVEY.md §2B (the reference's documented
SQL-over-jsonb recipes, re-expressed as DataFrame plans).

Each builder takes a mirror DataFrame ``(id string, doc string)`` and
returns a DataFrame; Catalyst supplies pushdown/pruning/codegen (SURVEY §4:
no custom rules needed). Builders alias every computed column so the driver
oracle compare (same names both sides) works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import (
    json_get,
    json_get_typed,
    json_keys,
    json_object_set_key,
)


def point_lookup(mirror: DataFrame, key: str) -> DataFrame:
    """B1: ``SELECT id, doc FROM t WHERE id='…'`` (reference README.md:20-25).
    Projects extracted fields rather than raw JSON text (FIXTURES.md
    canonicalization rule: never compare raw JSON strings)."""
    return mirror.filter(F.col("id") == F.lit(key)).select(
        "id",
        json_get("doc", "lang").alias("lang"),
        json_get_typed("doc", "n_chars", "long").alias("n_chars"),
    )


def flagship(mirror: DataFrame) -> DataFrame:
    """The README flagship recipe (README.md:102-111,142-155): projection +
    LIKE prefix + numeric CAST predicate + expression ORDER BY — B2-B8 in
    one plan. The CAST in the sort key is the documented text-vs-numeric
    ordering fix (README.md:140-157)."""
    myvar = json_get("doc", "n_chars")
    return (
        mirror.filter(F.col("id").like("1%") & (myvar.cast("double") > 50))
        .select(
            "id",
            myvar.alias("myvar_text"),
            myvar.cast("double").alias("myvar_num"),
        )
        .orderBy("myvar_num", "id")
    )


def ordering_pitfall(mirror: DataFrame) -> DataFrame:
    """B5/B8: the text-vs-numeric ORDER BY pitfall (README.md:140-157):
    emit both sort ranks so the golden test can assert '100' < '70' in text
    order but not numeric order."""
    v = json_get("doc", "n_chars")
    return mirror.select(
        "id",
        v.alias("v_text"),
        v.cast("long").alias("v_num"),
        F.row_number().over(Window.orderBy(v.asc(), F.col("id"))).alias("rank_text"),
        F.row_number()
        .over(Window.orderBy(v.cast("long").asc(), F.col("id")))
        .alias("rank_num"),
    )


def group_count(mirror: DataFrame, key: str) -> DataFrame:
    """B10/B24: ``SELECT doc->>'k', count(*) GROUP BY 1`` — the reference's
    view-equivalence query (README.md:206-213): a couch `_count` reduce view
    is exactly ``groupBy().count()``. Partial (map-side) aggregation comes
    free from hash-aggregate; one shuffle on the group key."""
    return (
        mirror.groupBy(json_get("doc", key).alias(key))
        .agg(F.count(F.lit(1)).alias("value"))
    )


def group_count_having(mirror: DataFrame, key: str, min_value: int) -> DataFrame:
    """B11/B12: the CTE + HAVING shape (README.md:194-213):
    WITH tbl AS (GROUP BY…) SELECT … WHERE value > n."""
    return group_count(mirror, key).filter(F.col("value") > min_value)


def key_expansion(mirror: DataFrame, type_key: str = "lang") -> DataFrame:
    """B14 + B9: ``SELECT DISTINCT doc->>'type', jsonb_object_keys(doc)``
    (README.md:238-240, the ~10 s baseline query): per-type key census of a
    dynamic-schema table. explode(json_object_keys) is the set-returning
    lateral; DISTINCT is one shuffle on (type, key)."""
    # Three plan decisions, each measured at sf0.1 (600k docs):
    # (1) two-phase distinct — dedupe whole (type, key-array) rows BEFORE
    #     exploding, so the exchange carries ~|types| rows instead of
    #     |docs|×|keys| exploded rows (6.6M → <100 rows into the shuffle);
    # (2) specialized extractors (get_json_object + json_object_keys)
    #     measure ~1.5× faster than one from_json-to-map parse serving both;
    # (3) explode_outer + post-filter instead of explode: plain explode
    #     makes InferFiltersFromGenerate push `size(json_object_keys(doc))>0`
    #     down to the scan, re-parsing every doc's JSON two extra times;
    #     the outer variant infers nothing and the null-key filter runs on
    #     the generated column after the first distinct (≈7.5 s → ≈2 s).
    return (
        mirror.select(
            json_get("doc", type_key).alias("type"),
            json_keys("doc").alias("keys"),
        )
        .distinct()
        .select("type", F.explode_outer("keys").alias("key"))
        .filter(F.col("key").isNotNull())
        .distinct()
    )


def row_number_chunks(mirror: DataFrame, chunk_size: int = 50) -> DataFrame:
    """B13/B22: ROW_NUMBER chunk bucketing for bulk POST batches
    (README.md:513-528): chunk = ((rn-1)/size)+1, then per-chunk doc counts.

    Scale note: a global ROW_NUMBER is a single-partition sort — fine for
    payload assembly of one feed's pending writes (bounded), wrong for whole-
    table work; the writeback sink uses per-partition batching instead."""
    rn = F.row_number().over(Window.orderBy("id"))
    return (
        mirror.withColumn("chunk", ((rn - F.lit(1)) / F.lit(chunk_size)).cast("long") + 1)
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("docs_in_chunk"))
    )


def update_where(mirror: DataFrame, key: str) -> DataFrame:
    """B26 + B17 + B19: predicated mutation — bump a numeric field on a
    filtered subset (README.md:116-121): read → conditional set-key →
    new mirror. Returns (id, updated flag, new value) for verification."""
    old = json_get_typed("doc", key, "double")
    pred = old < 200
    newdoc = F.when(
        pred, json_object_set_key("doc", key, (old + 50).cast("long").cast("string"))
    ).otherwise(F.col("doc"))
    return mirror.withColumn("doc", newdoc).select(
        "id",
        json_get_typed("doc", key, "long").alias(key),
    )


def filtered_subset(mirror: DataFrame, key: str, value: str) -> DataFrame:
    """A18: the filtered re-replication subset (README.md:648-664):
    WHERE doc->>'k' = 'v' — the rowset that would be POSTed to a new db."""
    return mirror.filter(json_get("doc", key) == F.lit(value)).select(
        "id", json_get("doc", key).alias(key)
    )
