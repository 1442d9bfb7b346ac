"""Multi-feed daemon (SURVEY.md §2A A10-A15): feed discovery, watchdogs,
HTTP control plane — the reference's bin/daemon.js re-expressed over
Spark's StreamingQueryManager.

The reference's control plane is a Postgres table
``since_checkpoints(pgtable, since, enabled)`` polled every 60 s
(bin/daemon.js:96-165). Here the registry is a JSON file (engine config —
the `since` high-water mark itself lives in each query's
``checkpointLocation``, which is Spark's offset log); flipping
``enabled`` stops the feed on the next watchdog pass exactly like the
reference's disable flow (bin/daemon.js:174-186).

The reference supervises one kind of feed; here a feed also flags the
index twins it maintains. The daemon reads them from the pipeline's
twin table (:data:`pipeline.TWINS`) and loops over it wherever it
touches them: :meth:`Daemon.index_paths` places each flagged twin under
its directory, and the watchdog's debt-triggered folds, `/_status` and
`/_fsck` run the table's calls per (feed, twin), in table order after
the mirror.
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from couch_to_postgres_spark.operators.mirror import sanitize_table_name
from couch_to_postgres_spark.streaming import partitioned, vector_stream
from couch_to_postgres_spark.streaming.pipeline import (
    TWINS,
    Twin,
    follow,
    follow_couch,
    mirror_doc_count,
)


@dataclass
class FeedConfig:
    """One feed row of the registry (the since_checkpoints analog,
    reference README.md:273-279).

    ``changes_path`` follows a file change-log directory (replay/test
    source); setting ``url`` instead follows a LIVE CouchDB database
    named ``name`` over HTTP (`format("couchdb")`) — the reference
    daemon's actual mode — with optional ``feed="longpoll"``. The
    ``*_index`` flags name the index twins of :data:`pipeline.TWINS`
    the feed maintains from the same micro-batches."""

    name: str  # couch database name (may contain '-')
    changes_path: str = ""  # change-log directory (file source)
    enabled: bool = True
    url: str | None = None  # couch server base URL (HTTP source mode)
    feed: str | None = None  # None | "longpoll" (HTTP source mode)
    inactivity_ms: int | None = None  # longpoll hold window (default 30 s)
    search_index: bool = False  # also maintain the live BM25 index
    #: also maintain the live decontamination SHINGLE index (the same
    #: LSM machinery over md5 shingle fingerprints)
    shingle_index: bool = False
    #: shingle width the decontamination index fingerprints (recorded in
    #: the index so a reader probing with a different n fails loudly
    #: instead of silently matching nothing)
    shingle_n: int = 3
    #: also maintain the live VECTOR index (seq-wins IVF over an
    #: embedding field in the doc JSON)
    vector_index: bool = False
    #: JSON path of the embedding array inside the doc
    vector_field: str = "$.embedding"
    #: coarse-quantizer cell count (trained on the first upsert batch,
    #: then frozen — recorded in the index's quantizer marker)
    vector_cells: int = 16

    @property
    def table(self) -> str:
        return sanitize_table_name(self.name)


def load_registry(path: str) -> list[FeedConfig]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [FeedConfig(**row) for row in json.load(f)]


def save_registry(path: str, feeds: list[FeedConfig]) -> None:
    """Replace the registry atomically (dot-temp + ``os.replace``): a
    crash mid-write leaves the previous registry, never truncated JSON
    that every later :func:`load_registry` would fail on."""
    head, base = os.path.split(path)
    tmp = os.path.join(head, f".{base}.tmp")
    with open(tmp, "w") as f:
        json.dump([asdict(fc) for fc in feeds], f, indent=2)
    os.replace(tmp, path)


def set_feed_enabled(path: str, name: str, enabled: bool) -> None:
    """The `UPDATE since_checkpoints SET enabled=...` control operation
    (daemon-README.md:116-133)."""
    feeds = load_registry(path)
    for fc in feeds:
        if fc.name == name:
            fc.enabled = enabled
    save_registry(path, feeds)


class Daemon:
    """One engine instance per enabled feed; watchdog reaps disabled feeds.

    Maps to the reference: findFeeds (bin/daemon.js:96-165) →
    :meth:`find_feeds`; feedsWatchdog/reaperCheck (bin/daemon.js:168-215) →
    :meth:`watchdog`; `/_status` (bin/daemon.js:264-309) → :meth:`status`
    (served by :func:`serve_control_plane`). Postgres-death recovery
    (A12) is subsumed by Spark's task retry + restart-from-checkpoint:
    :meth:`watchdog` restarts any enabled feed whose query died.
    """

    def __init__(
        self,
        spark: SparkSession,
        registry_path: str,
        data_root: str,
        search_compaction_debt: float = 0.1,
        pending_flush_ticks: int = 3,
        maintenance_workers: int = 4,
    ):
        self.spark = spark
        self.registry_path = registry_path
        self.data_root = data_root
        self.queries: dict[str, object] = {}  # feed name -> StreamingQuery
        #: how many consecutive watchdog passes a pre-init vector
        #: bootstrap buffer must survive before the watchdog force-
        #: flushes it (trains the quantizer on whatever accumulated).
        #: Flushing on the first tick that sees pending rows would
        #: freeze a 1-2-cell quantizer on any feed ramping slower than
        #: vector_cells docs per supervisor cadence — the degradation
        #: the buffer exists to prevent. The grace lets a normal ramp
        #: reach the configured cell count; a genuinely tiny feed
        #: becomes queryable after N ticks with quantizer_degraded
        #: surfaced. Operators can skip the wait with
        #: force_flush_pending() / GET /_flush_pending?feed=NAME.
        self.pending_flush_ticks = int(pending_flush_ticks)
        self._pending_ticks: dict[str, int] = {}
        #: watchdog trigger: fold a feed's index twin when its
        #: churn-rows-per-live-doc (the status' compaction_debt)
        #: exceeds this — read amplification between compactions is
        #: bounded by the update rate, and this bounds the update rate
        #: a read must absorb
        self.search_compaction_debt = search_compaction_debt
        #: watchdog maintenance concurrency: the mirror compaction and
        #: twin folds of one pass touch disjoint roots (per-feed,
        #: per-twin paths; the per-path locks serialize same-path
        #: safety), so they run on a small driver-thread pool and a
        #: pass costs about the longest fold, not the sum. Supervision
        #: (stop/restart/start) always completes before any
        #: maintenance unit starts.
        self.maintenance_workers = int(maintenance_workers)
        #: last watchdog-triggered fold per feed and twin: operators see
        #: maintenance cost (mode, affected pairs, churned docs) on
        #: `/_status` without reading logs
        self._last_maintenance: dict[str, dict] = {}

    def mirror_path(self, fc: FeedConfig) -> str:
        return os.path.join(self.data_root, "mirrors", fc.table + ".parquet")

    def checkpoint_path(self, fc: FeedConfig) -> str:
        return os.path.join(self.data_root, "checkpoints", fc.table)

    def index_paths(self, fc: FeedConfig) -> dict[str, str]:
        """Index root per twin the feed flags, keyed by twin name in
        table order: ``<data_root>/<twin directory>/<table>``."""
        return {
            t.name: os.path.join(self.data_root, t.directory, fc.table)
            for t in TWINS
            if getattr(fc, t.flag)
        }

    def sketch_state_root(self, fc: FeedConfig) -> str:
        """Where a feed's versioned sketch/reservoir state dirs live by
        convention: any ``sketch_stream``/``reservoir_stream`` state path
        placed under ``<data_root>/state/<table>/<name>`` is discovered
        by :meth:`status` (no registry flag needed — presence of a
        committed ``_CURRENT`` pointer IS the opt-in), the same way
        index-flagged feeds surface their twins' status."""
        return os.path.join(self.data_root, "state", fc.table)

    def _feed(self, name: str) -> FeedConfig | None:
        return next(
            (f for f in load_registry(self.registry_path) if f.name == name),
            None,
        )

    def find_feeds(self, trigger: dict | None = None) -> list[str]:
        """Start one streaming query per enabled registry feed not already
        running (A10). Mirror/checkpoint dirs are created on demand (A13).
        Returns the feed names started."""
        started = []
        for fc in load_registry(self.registry_path):
            if not fc.enabled or fc.name in self.queries:
                continue
            os.makedirs(os.path.dirname(self.mirror_path(fc)), exist_ok=True)
            paths = self.index_paths(fc)
            kw = dict(
                mirror_path=self.mirror_path(fc),
                checkpoint_path=self.checkpoint_path(fc),
                trigger=trigger,
                query_name=f"feed:{fc.name}",
                shingle_n=fc.shingle_n,
                vector_field=fc.vector_field,
                vector_cells=fc.vector_cells,
                **{f"{t.flag}_path": paths.get(t.name) for t in TWINS},
            )
            if fc.url:
                q = follow_couch(
                    self.spark, url=fc.url, database=fc.name, feed=fc.feed,
                    inactivity_ms=fc.inactivity_ms, **kw,
                )
            else:
                q = follow(self.spark, changes_path=fc.changes_path, **kw)
            self.queries[fc.name] = q
            started.append(fc.name)
        return started

    def _mirror_unit(self, fc: FeedConfig) -> dict | None:
        mp = self.mirror_path(fc)
        if partitioned.read_meta(mp) is None:
            return None
        return partitioned.compact_mirror(self.spark, mp) or None

    def _fold_unit(self, fc: FeedConfig, twin: Twin, path: str) -> dict | None:
        """Compaction policy for one twin of one feed: when the index
        has accumulated more churn than the threshold (tail and
        tombstone rows per live doc — what every from-index read must
        merge), fold the tail into only the buckets or cells it touched
        and report the fold's telemetry."""
        st = twin.status(self.spark, path)
        if twin.name == "vector":
            # the vector twin's one special step: force-flush a pre-init
            # bootstrap buffer that survived pending_flush_ticks passes,
            # so only a stalled trickle feed pays the degraded fit
            # (_pending_ticks is touched by one unit per feed)
            if st["n_cells"] is None and st["pending_upserts"]:
                ticks = self._pending_ticks.get(fc.name, 0) + 1
                if ticks < self.pending_flush_ticks:
                    self._pending_ticks[fc.name] = ticks
                else:
                    vector_stream.flush_pending(
                        self.spark, path, n_cells=fc.vector_cells
                    )
                    self._pending_ticks.pop(fc.name, None)
                    st = twin.status(self.spark, path)
            else:
                self._pending_ticks.pop(fc.name, None)
        debt = st.get("compaction_debt")
        if debt is None or debt <= self.search_compaction_debt:
            return None
        done = twin.fold(self.spark, path)
        return {"debt": debt, **{k: done.get(k) for k in twin.fold_fields}}

    def watchdog(self, trigger: dict | None = None) -> dict:
        """One supervision pass: stop feeds disabled/missing in the
        registry (A11), restart enabled feeds whose query died (A12),
        start newly-enabled feeds, then maintenance: compact mirrors
        whose buckets accumulated small files, and fold every index twin
        past its compaction debt, serialized against in-flight merges by
        the per-path locks. Returns what it did."""
        registry = {fc.name: fc for fc in load_registry(self.registry_path)}
        stopped, restarted = [], []
        for name, q in list(self.queries.items()):
            fc = registry.get(name)
            if fc is None or not fc.enabled:
                q.stop()
                del self.queries[name]
                stopped.append(name)
            elif not q.isActive:
                del self.queries[name]
                restarted.append(name)
        started = self.find_feeds(trigger=trigger)
        units: list = []  # (result key, feed, twin or None, thunk)
        for fc in registry.values():
            if not fc.enabled:
                continue
            units.append(("compacted", fc, None, partial(self._mirror_unit, fc)))
            paths = self.index_paths(fc)
            units += [
                (f"{t.name}_compacted", fc, t,
                 partial(self._fold_unit, fc, t, paths[t.name]))
                for t in TWINS
                if t.name in paths
            ]
        out = {
            "stopped": stopped,
            "restarted": restarted,
            "started": started,
            "compacted": {},
            **{f"{t.name}_compacted": {} for t in TWINS},
        }
        if units:
            workers = max(1, min(self.maintenance_workers, len(units)))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                results = list(pool.map(lambda u: u[3](), units))
            for (key, fc, twin, _), res in zip(units, results):
                if res is None:
                    continue
                out[key][fc.name] = res
                if twin is not None:
                    self._last_maintenance.setdefault(fc.name, {})[
                        twin.name
                    ] = res
        return out

    def status(self) -> dict:
        """The `/_status` payload (bin/daemon.js:282-301): per-feed alive
        flag, streaming progress, mirror doc count, and — once the mirror
        exists — layout health (bucket count, base/delta row accounting,
        small-file pressure), the numbers an operator needs to judge
        compaction debt. Each flagged twin reports its index status
        (live docs, churn, compaction debt; the vector twin also its
        quantizer); unflagged twins report None."""
        from couch_to_postgres_spark.extensions.sketch import (
            sketch_state_status,
        )

        out = {}
        for fc in load_registry(self.registry_path):
            q = self.queries.get(fc.name)
            alive = bool(q is not None and q.isActive)
            progress = q.lastProgress if q is not None else None
            mp = self.mirror_path(fc)
            meta = partitioned.read_meta(mp)
            layout = None
            if meta is not None:
                files = partitioned.bucket_file_counts(mp)
                layout = {
                    "num_buckets": meta.get("num_buckets"),
                    "total_rows": meta.get("total_rows"),
                    "delta_rows": meta.get("delta_rows"),
                    "max_files_per_bucket": max(files.values()) if files else 0,
                }
            paths = self.index_paths(fc)
            twins = {
                t.flag: t.status(self.spark, paths[t.name])
                if t.name in paths
                else None
                for t in TWINS
            }
            # every committed sketch/reservoir state dir under the
            # feed's conventional state root reports its live version,
            # row count, and last-commit batch
            sketch_states = None
            sroot = self.sketch_state_root(fc)
            if os.path.isdir(sroot):
                found = {
                    name: sketch_state_status(
                        self.spark, os.path.join(sroot, name)
                    )
                    for name in sorted(os.listdir(sroot))
                    if os.path.exists(
                        os.path.join(sroot, name, "_CURRENT")
                    )
                }
                sketch_states = found or None
            out[fc.name] = {
                "enabled": fc.enabled,
                "alive": alive,
                "table": fc.table,
                "doc_count": mirror_doc_count(self.spark, mp),
                "layout": layout,
                **twins,
                # last watchdog-triggered fold per index twin
                "index_maintenance": self._last_maintenance.get(fc.name),
                "sketch_states": sketch_states,
                "last_progress": {
                    k: progress.get(k)
                    for k in (
                        "batchId",
                        "numInputRows",
                        "timestamp",
                        "inputRowsPerSecond",
                        "processedRowsPerSecond",
                    )
                }
                if progress
                else None,
            }
        return out

    def fsck(self) -> dict:
        """Integrity report per feed mirror
        (:func:`partitioned.validate_mirror`) — the `/_fsck` control-plane
        surface an operator hits before trusting pruned reads after an
        incident. A feed with no mirror yet reports ``{"ok": None}``.
        Each flagged twin adds its index-side check under its flag: the
        search and shingle twins' meta exactness and sampled
        postings/dfs/doclen agreement, the vector twin's
        sidecar/cells/meta/quantizer invariants."""
        out = {}
        for fc in load_registry(self.registry_path):
            mp = self.mirror_path(fc)
            if partitioned.read_meta(mp) is None:
                out[fc.name] = {"ok": None}
            else:
                out[fc.name] = partitioned.validate_mirror(self.spark, mp)
            paths = self.index_paths(fc)
            for t in TWINS:
                if t.name in paths:
                    out[fc.name][t.flag] = t.fsck(self.spark, paths[t.name])
        return out

    def hybrid_topk(
        self,
        feed_name: str,
        term_queries,
        vector_queries,
        **kwargs,
    ):
        """Fused lexical+semantic top-k over one feed's LIVE index
        twins (:func:`extensions.hybrid.hybrid_topk_live`) — the
        retrieval surface a feed flagged ``search_index=True,
        vector_index=True`` maintains without any extra state. Raises
        when the feed lacks either twin (a one-sided fusion is just
        that side's ranking — call its reader directly)."""
        from couch_to_postgres_spark.extensions.hybrid import (
            hybrid_topk_live,
        )

        fc = self._feed(feed_name)
        if fc is None:
            raise ValueError(f"unknown feed {feed_name!r}")
        paths = self.index_paths(fc)
        for missing in ("search", "vector"):
            if missing not in paths:
                raise ValueError(
                    f"feed {feed_name!r} does not maintain a {missing} "
                    f"index twin — hybrid retrieval needs both"
                )
        return hybrid_topk_live(
            self.spark, paths["search"], paths["vector"], term_queries,
            vector_queries, **kwargs,
        )

    def balance(self) -> dict:
        """Quantizer drift report per vector-flagged feed — the
        `/_balance` control-plane surface an operator reads to decide
        when an off-peak :func:`rebuild_vector_quantizer` pays. Kept
        OFF the watchdog tick: the report joins skinny frames per index
        (cheap but not free), and rebuild scheduling is an operator
        decision, never an automatic corpus-proportional job."""
        out = {}
        for fc in load_registry(self.registry_path):
            vip = self.index_paths(fc).get("vector")
            out[fc.name] = (
                vector_stream.vector_index_balance(self.spark, vip)
                if vip is not None
                else None
            )
        return out

    def force_flush_pending(self, feed_name: str) -> dict:
        """Operator override of the bootstrap-buffer aging gate: train
        the feed's vector quantizer NOW on whatever upserts accumulated
        (``/_flush_pending?feed=NAME``). The watchdog's tick grace
        (``pending_flush_ticks``) protects normal ramp-up; this is the
        escape hatch for a feed the operator KNOWS is tiny — a 2-doc
        corpus becomes queryable immediately, with the degraded fit
        surfaced as ``quantizer_degraded`` in `/_status`."""
        fc = self._feed(feed_name)
        vip = self.index_paths(fc).get("vector") if fc is not None else None
        if vip is None:
            raise ValueError(
                f"feed {feed_name!r} does not maintain a vector index"
            )
        stats = vector_stream.flush_pending(
            self.spark, vip, n_cells=fc.vector_cells
        )
        self._pending_ticks.pop(feed_name, None)
        st = vector_stream.vector_index_status(self.spark, vip)
        return {
            "flushed": stats is not None,
            "upserts": stats.upserts if stats is not None else 0,
            "deletes": stats.deletes if stats is not None else 0,
            "n_cells": st["n_cells"],
            "configured_cells": st["configured_cells"],
            "quantizer_degraded": st["quantizer_degraded"],
        }

    def run_supervisor(
        self,
        poll_seconds: float = 50.0,
        trigger: dict | None = None,
        stop_event: threading.Event | None = None,
    ) -> threading.Thread:
        """Continuous supervision: the reference's feedsWatchdog interval
        loop (bin/daemon.js:191, 50 s cadence). Runs find_feeds +
        watchdog every ``poll_seconds`` on a daemon thread until
        ``stop_event`` is set. Returns the thread (and the event is
        attached as ``thread.stop_event`` when created here)."""
        ev = stop_event or threading.Event()

        def _loop() -> None:
            while not ev.is_set():
                try:
                    self.watchdog(trigger=trigger)
                except Exception:  # noqa: BLE001 — supervision must outlive
                    pass  # transient registry/query races; retry next cycle
                if ev.wait(poll_seconds):
                    break

        t = threading.Thread(target=_loop, daemon=True)
        t.stop_event = ev  # type: ignore[attr-defined]
        t.start()
        return t

    def await_all(self) -> None:
        for q in self.queries.values():
            q.awaitTermination()

    def stop_all(self) -> None:
        for q in list(self.queries.values()):
            q.stop()
        self.queries.clear()


def serve_control_plane(daemon: Daemon, port: int = 0) -> tuple[ThreadingHTTPServer, int]:
    """HTTP control plane (A15): GET /_status → daemon.status() JSON;
    GET /_watchdog → run one watchdog pass; GET /_finder → find_feeds;
    GET /_fsck → mirror integrity; GET /_balance → vector quantizer
    drift; GET /_flush_pending?feed=NAME → operator override of the
    vector bootstrap buffer's aging gate. Returns (server, bound_port);
    server runs on a daemon thread."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            from urllib.parse import parse_qs, urlparse

            url = urlparse(self.path)
            if url.path == "/_status":
                payload = daemon.status()
            elif url.path == "/_watchdog":
                payload = daemon.watchdog()
            elif url.path == "/_finder":
                payload = {"started": daemon.find_feeds()}
            elif url.path == "/_fsck":
                payload = daemon.fsck()
            elif url.path == "/_balance":
                payload = daemon.balance()
            elif url.path == "/_flush_pending":
                feed = parse_qs(url.query).get("feed", [None])[0]
                try:
                    payload = daemon.force_flush_pending(feed or "")
                except ValueError as e:
                    body = json.dumps({"error": str(e)}).encode()
                    self.send_response(400)
                    self.send_header("Content-Type", "application/json")
                    self.end_headers()
                    self.wfile.write(body)
                    return
            else:
                self.send_response(404)
                self.end_headers()
                return
            body = json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence request logging
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, server.server_address[1]
