"""Worked example: the full user journey of the reference, Spark-first.

1. a change feed lands in a log directory (here derived from `events`),
2. a streaming query replicates it into a queryable mirror; a replay
   of the same changes classifies as NOOPs (the rev compare),
3. the README's SQL-over-JSON recipes run against the mirror, and a
   materialized view answers from its stored aggregate,
4. a filtered subset is written back over HTTP (dry-run printer here).

Run: python examples/replicate_and_query.py [sf_dir]
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import json_get
from couch_to_postgres_spark.operators.cdc import change_stats
from couch_to_postgres_spark.operators.views import MaterializedView
from couch_to_postgres_spark.session import get_spark
from couch_to_postgres_spark.sources.changes import changes_from_events, write_change_log
from couch_to_postgres_spark.sql import register_catalog
from couch_to_postgres_spark.streaming.pipeline import follow, read_mirror


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="example")
    work = tempfile.mkdtemp(prefix="example_")
    try:
        _walkthrough(spark, sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _walkthrough(spark, sf_dir: str, work: str) -> None:
    # 1. a change log (in production: pipeline.follow_couch reads a live
    #    CouchDB _changes feed through the format("couchdb") source)
    changes = changes_from_events(spark, sf_dir)
    write_change_log(changes, f"{work}/log")

    # 2. replicate: change log → checkpointed streaming merge → mirror
    q = follow(spark, f"{work}/log", f"{work}/mirror", f"{work}/ckpt")
    q.awaitTermination()
    mirror = read_mirror(spark, f"{work}/mirror")
    print(f"mirror: {mirror.count()} docs")
    replay = {r["action"]: r["count"] for r in change_stats(mirror, changes).collect()}
    print(f"replayed changes classify as: {replay}")

    # 3. query it — DataFrame style and SQL style
    top_types = (
        mirror.groupBy(json_get("doc", "type").alias("type"))
        .count()
        .orderBy(F.desc("count"))
    )
    top_types.show(5, truncate=False)

    register_catalog(spark, sf_dir, mirrors={"mirror": mirror})
    spark.sql(
        """
        SELECT get_json_object(doc, '$.type') AS type,
               round(avg(CAST(get_json_object(doc, '$.value') AS DOUBLE)), 2)
                   AS avg_value
        FROM mirror GROUP BY 1 ORDER BY avg_value DESC
        """
    ).show(5, truncate=False)

    # view-as-table: refresh the stored aggregate, then query it by name
    by_type = MaterializedView(
        spark,
        "docs_by_type",
        f"{work}/views/docs_by_type",
        build=lambda: mirror.groupBy(json_get("doc", "type").alias("type")).count(),
    )
    by_type.refresh()
    spark.sql("SELECT * FROM docs_by_type ORDER BY count DESC").show(5)

    # 4. filtered re-replication target set (README.md:648-664); swap the
    #    printer for sinks.writeback.filtered_rereplication(couch_url, …)
    subset = mirror.filter(json_get("doc", "type") == "purchase")
    print(f"would re-replicate {subset.count()} purchase docs")
    spark.stop()


if __name__ == "__main__":
    main()
