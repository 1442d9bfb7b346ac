"""Count-reconciliation check (reference nagios-check_couch_postgres_count):
compare a CouchDB database's doc_count against its mirror's row count, with
nagios-style exit codes (0 OK / 1 WARN / 2 CRIT).

Usage:
  python tools/check_reconciliation.py --couch-url URL --database DB \
      --mirror PATH [--warn 10] [--crit 100]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--couch-url", required=True)
    ap.add_argument("--database", required=True)
    ap.add_argument("--mirror", required=True, help="mirror parquet path")
    ap.add_argument("--warn", type=int, default=10)
    ap.add_argument("--crit", type=int, default=100)
    args = ap.parse_args()

    from couch_to_postgres_spark.session import get_spark
    from couch_to_postgres_spark.sources.couchdb import CouchClient
    from couch_to_postgres_spark.streaming.pipeline import mirror_doc_count

    client = CouchClient(args.couch_url)
    couch_count = int(client.db_info(args.database).get("doc_count", -1))
    spark = get_spark(app_name="check-reconciliation", cpus="4")
    mirror_count = mirror_doc_count(spark, args.mirror)
    diff = abs(couch_count - mirror_count)
    status, label = (0, "OK")
    if diff > args.crit:
        status, label = 2, "CRITICAL"
    elif diff > args.warn:
        status, label = 1, "WARNING"
    print(
        f"{label}: couch={couch_count} mirror={mirror_count} diff={diff} "
        f"(warn>{args.warn} crit>{args.crit})"
    )
    return status


if __name__ == "__main__":
    raise SystemExit(main())
