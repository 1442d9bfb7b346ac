"""Operate the engine like the reference daemon — against a LIVE (here:
in-process stand-in) CouchDB over HTTP, end to end:

registry row (url + longpoll) → Daemon.find_feeds → format("couchdb")
stream → partitioned O(touched) mirror → /_status over the HTTP control
plane → hash-pruned point lookup → integrity fsck → the ``enabled`` flag
(the watchdog reaps the feed; re-enabled, it resumes from its
checkpoint) → writeback over ``_bulk_docs`` and single PUTs, conflicts
counted → count reconciliation of the written copy.

Run: python examples/live_daemon_operations.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from couch_to_postgres_spark.functions.json import (  # noqa: E402
    json_object_set_key,
)
from couch_to_postgres_spark.operators.mirror import (  # noqa: E402
    count_reconciliation,
)
from couch_to_postgres_spark.session import get_spark  # noqa: E402
from couch_to_postgres_spark.sinks.writeback import (  # noqa: E402
    filtered_rereplication,
    writeback_bulk,
    writeback_single_put,
)
from couch_to_postgres_spark.streaming.daemon import (  # noqa: E402
    Daemon,
    FeedConfig,
    save_registry,
    serve_control_plane,
    set_feed_enabled,
)
from couch_to_postgres_spark.streaming.partitioned import (  # noqa: E402
    point_lookup_partitioned,
    read_partitioned_mirror,
    validate_mirror,
)


class TinyCouch:
    """A minimal CouchDB stand-in: serves queued ``_changes`` pages (an
    empty page when none is queued), stores ``_bulk_docs`` and PUT
    writes per database, and answers a write to an id in ``conflicts``
    with CouchDB's conflict (per doc inside ``_bulk_docs``, 409 on PUT)."""

    def __init__(self):
        self.pages: list[dict] = []
        self.last_seq = 0
        self.since_asked: list[int] = []
        self.dbs: dict[str, dict[str, dict]] = {}
        self.conflicts: set[str] = set()
        lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def _reply(self, obj, status=200):
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

            def _body(self):
                return json.loads(self.rfile.read(int(self.headers["Content-Length"])))

            def do_GET(self):  # noqa: N802
                url = urlparse(self.path)
                if not url.path.endswith("/_changes"):
                    self._reply({"error": "not_found"}, 404)
                    return
                with lock:
                    outer.since_asked.append(
                        int(parse_qs(url.query).get("since", ["0"])[0])
                    )
                    page = outer.pages.pop(0) if outer.pages else {
                        "results": [], "last_seq": outer.last_seq
                    }
                self._reply(page)

            def do_POST(self):  # noqa: N802
                db, _, op = urlparse(self.path).path.strip("/").partition("/")
                if op != "_bulk_docs":
                    self._reply({"error": "not_found"}, 404)
                    return
                results = []
                with lock:
                    store = outer.dbs.setdefault(db, {})
                    for doc in self._body()["docs"]:
                        doc_id = str(doc["_id"])
                        if doc_id in outer.conflicts:
                            results.append({"id": doc_id, "error": "conflict"})
                        else:
                            store[doc_id] = doc
                            results.append({"ok": True, "id": doc_id})
                self._reply(results, 201)

            def do_PUT(self):  # noqa: N802
                db, _, doc_id = urlparse(self.path).path.strip("/").partition("/")
                doc = self._body()
                if doc_id in outer.conflicts:
                    self._reply({"error": "conflict"}, 409)
                    return
                with lock:
                    outer.dbs.setdefault(db, {})[doc_id] = doc
                self._reply({"ok": True, "id": doc_id}, 201)

            def log_message(self, *a):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        threading.Thread(target=self.server.serve_forever, daemon=True).start()

    def queue_changes(self, docs: list[dict]) -> None:
        results = [
            {"seq": self.last_seq + i + 1, "id": d["_id"], "doc": d}
            for i, d in enumerate(docs)
        ]
        self.last_seq += len(docs)
        self.pages.append({"results": results, "last_seq": self.last_seq})


def main() -> None:
    spark = get_spark(app_name="live-daemon-example", cpus=8)
    work = tempfile.mkdtemp(prefix="live_daemon_")
    try:
        _walkthrough(spark, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _walkthrough(spark, work: str) -> None:
    couch = TinyCouch()
    couch.queue_changes([
        {"_id": f"doc{i}", "_rev": f"1-{i:08x}", "kind": "article", "words": i * 10}
        for i in range(200)
    ])

    # 1. registry row pointing at the live server, longpoll transport
    registry = os.path.join(work, "registry.json")
    save_registry(
        registry,
        [FeedConfig(name="articles", url=couch.url, feed="longpoll", inactivity_ms=500)],
    )

    # 2. daemon discovers and drains the feed into the partitioned mirror
    daemon = Daemon(spark, registry, os.path.join(work, "data"))
    started = daemon.find_feeds()
    print("feeds started:", started)
    daemon.await_all()

    # 3. operator's view: /_status over the HTTP control plane
    control, port = serve_control_plane(daemon)
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/_status") as r:
        st = json.load(r)["articles"]
    print("doc_count:", st["doc_count"], "| layout:", st["layout"])

    # 4. hash-pruned point lookup (one bucket directory scanned)
    mirror = daemon.mirror_path(FeedConfig(name="articles", changes_path=""))
    row = point_lookup_partitioned(spark, mirror, "doc42").head()
    print("point lookup doc42 ->", json.loads(row["doc"])["words"], "words")

    # 5. integrity fsck before trusting pruned reads in anger
    print("fsck:", validate_mirror(spark, mirror))

    # 6. the enabled flag: a disabled feed is reaped by the next
    #    watchdog pass; re-enabled, it resumes from its checkpoint
    set_feed_enabled(registry, "articles", False)
    print("watchdog reaped:", daemon.watchdog()["stopped"])
    couch.queue_changes([
        {"_id": f"doc{i}", "_rev": f"2-{i:08x}", "kind": "article", "words": -i}
        for i in range(20)
    ])
    set_feed_enabled(registry, "articles", True)
    print("watchdog started:", daemon.watchdog()["started"])
    daemon.await_all()
    row = point_lookup_partitioned(spark, mirror, "doc7").head()
    print(
        f"resumed at since={couch.since_asked[-1]};",
        "doc7 ->", json.loads(row["doc"])["words"], "words",
    )

    # 7. writeback: a mirror-side update goes back over _bulk_docs, a
    #    few docs over single PUTs; conflicts are counted, not fatal
    couch.conflicts = {"doc3", "doc150"}
    updated = read_partitioned_mirror(spark, mirror).withColumn(
        "doc", json_object_set_key("doc", "reviewed", F.lit("yes"))
    )
    bulk = writeback_bulk(updated, couch.url, "articles_copy", chunk_size=50)
    print("bulk writeback:", {k: bulk[k] for k in ("chunks", "docs", "conflicts")})
    few = updated.filter(F.col("id").isin([f"doc{i}" for i in range(1, 6)]))
    print("single PUT writeback:", writeback_single_put(few, couch.url, "articles_put"))
    sub = filtered_rereplication(updated, "kind", "article", couch.url, "articles_all")
    print("filtered re-replication:", sub["docs"], "docs")

    # 8. count reconciliation: the copy holds the mirror minus conflicts
    check = count_reconciliation(
        len(couch.dbs["articles_copy"]), updated, threshold=bulk["conflicts"]
    )
    print("count reconciliation:", check)

    control.shutdown()
    daemon.stop_all()
    couch.server.shutdown()
    spark.stop()


if __name__ == "__main__":
    main()
