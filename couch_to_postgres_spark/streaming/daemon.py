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
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import asdict, dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from couch_to_postgres_spark.operators.mirror import sanitize_table_name
from couch_to_postgres_spark.streaming.pipeline import follow, mirror_doc_count


@dataclass
class FeedConfig:
    """One feed row of the registry (the since_checkpoints analog,
    reference README.md:273-279).

    ``changes_path`` follows a file change-log directory (replay/test
    source); setting ``url`` instead follows a LIVE CouchDB database
    named ``name`` over HTTP (`format("couchdb")`) — the reference
    daemon's actual mode — with optional ``feed="longpoll"``."""

    name: str  # couch database name (may contain '-')
    changes_path: str = ""  # change-log directory (file source)
    enabled: bool = True
    url: str | None = None  # couch server base URL (HTTP source mode)
    feed: str | None = None  # None | "longpoll" (HTTP source mode)
    inactivity_ms: int | None = None  # longpoll hold window (default 30 s)
    search_index: bool = False  # also maintain the live BM25 index
    #: also maintain the live decontamination SHINGLE index (the same
    #: LSM machinery over md5 shingle fingerprints — stats_stream.
    #: shingle_changes ∘ search_index_batch) from the same micro-batches
    shingle_index: bool = False
    #: shingle width the decontamination index fingerprints (ADVICE r09:
    #: recorded in the index so a reader probing with a different n
    #: fails loudly instead of silently matching nothing)
    shingle_n: int = 3
    #: also maintain the live VECTOR index (streaming/vector_stream.py —
    #: seq-wins IVF over an embedding field in the doc JSON) from the
    #: same micro-batches
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
    with open(path, "w") as f:
        json.dump([asdict(fc) for fc in feeds], f, indent=2)


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
        #: Flushing on the FIRST tick that sees pending rows (r11)
        #: froze a 1-2-cell quantizer on any feed ramping slower than
        #: vector_cells docs per supervisor cadence — the exact
        #: degradation the buffer exists to prevent (ADVICE r11). The
        #: grace lets a normal ramp reach the configured cell count;
        #: a genuinely tiny feed becomes queryable after N ticks with
        #: quantizer_degraded surfaced. Operators can skip the wait
        #: with force_flush_pending() / GET /_flush_pending?feed=NAME.
        self.pending_flush_ticks = int(pending_flush_ticks)
        self._pending_ticks: dict[str, int] = {}
        #: watchdog trigger: compact a feed's BM25 index when its
        #: churn-rows-per-live-doc (`index_status`'s compaction_debt)
        #: exceeds this — read amplification between compactions is
        #: bounded by the update rate, and this bounds the update rate
        #: a read must absorb
        self.search_compaction_debt = search_compaction_debt
        #: watchdog maintenance concurrency (r13, VERDICT r12 #3): one
        #: pass used to run mirror compaction + search/shingle/vector
        #: folds SERIALLY across all feeds, so a tick's wall time was
        #: the SUM of every triggered fold and supervision of feed N
        #: waited behind feed 1's maintenance. The units touch disjoint
        #: index roots (per-feed, per-twin paths; the per-path locks
        #: already serialize same-path safety) and Spark schedules
        #: concurrent driver-thread actions natively — the same
        #: discipline as the fold's own staged-write overlap and the
        #: hybrid read's two-leg probe. Supervision (stop/restart/
        #: start) always completes BEFORE any maintenance unit starts.
        self.maintenance_workers = int(maintenance_workers)
        #: last watchdog-triggered index compaction per feed+twin
        #: (VERDICT r09 #5): operators should see maintenance cost —
        #: mode, affected pairs, churned docs, phase timings — on
        #: `/_status` without reading logs
        self._last_maintenance: dict[str, dict] = {}

    def mirror_path(self, fc: FeedConfig) -> str:
        return os.path.join(self.data_root, "mirrors", fc.table + ".parquet")

    def checkpoint_path(self, fc: FeedConfig) -> str:
        return os.path.join(self.data_root, "checkpoints", fc.table)

    def search_index_path(self, fc: FeedConfig) -> str | None:
        """Per-feed live BM25 index root (``fc.search_index`` opt-in) —
        the mirror's searchable twin, maintained from the same
        micro-batches (pipeline ``_feed_search_index``)."""
        if not fc.search_index:
            return None
        return os.path.join(self.data_root, "search", fc.table)

    def shingle_index_path(self, fc: FeedConfig) -> str | None:
        """Per-feed live decontamination shingle index root
        (``fc.shingle_index`` opt-in) — maintained from the same
        micro-batches as the mirror (pipeline ``_feed_shingle_index``),
        so ``contamination_from_index`` / ``decontaminate_from_index``
        answer benchmark-decontamination queries without ever
        re-shingling the train corpus."""
        if not fc.shingle_index:
            return None
        return os.path.join(self.data_root, "shingles", fc.table)

    def vector_index_path(self, fc: FeedConfig) -> str | None:
        """Per-feed live VECTOR index root (``fc.vector_index`` opt-in) —
        the mirror's ANN twin, maintained from the same micro-batches
        (pipeline ``_feed_vector_index``), so similarity search answers
        from live index state instead of re-embedding-scanning the
        mirror per query."""
        if not fc.vector_index:
            return None
        return os.path.join(self.data_root, "vectors", fc.table)

    def sketch_state_root(self, fc: FeedConfig) -> str:
        """Where a feed's versioned sketch/reservoir state dirs live by
        convention: any ``sketch_stream``/``reservoir_stream`` state path
        placed under ``<data_root>/state/<table>/<name>`` is discovered
        by :meth:`status` (no registry flag needed — presence of a
        committed ``_CURRENT`` pointer IS the opt-in), the same way
        search-flagged feeds surface ``index_status``."""
        return os.path.join(self.data_root, "state", fc.table)

    def find_feeds(self, trigger: dict | None = None) -> list[str]:
        """Start one streaming query per enabled registry feed not already
        running (A10). Mirror/checkpoint dirs are created on demand (A13).
        Returns the feed names started."""
        from couch_to_postgres_spark.streaming.pipeline import follow_couch

        started = []
        for fc in load_registry(self.registry_path):
            if not fc.enabled or fc.name in self.queries:
                continue
            os.makedirs(os.path.dirname(self.mirror_path(fc)), exist_ok=True)
            if fc.url:
                q = follow_couch(
                    self.spark,
                    url=fc.url,
                    database=fc.name,
                    mirror_path=self.mirror_path(fc),
                    checkpoint_path=self.checkpoint_path(fc),
                    feed=fc.feed,
                    inactivity_ms=fc.inactivity_ms,
                    trigger=trigger,
                    query_name=f"feed:{fc.name}",
                    search_index_path=self.search_index_path(fc),
                    shingle_index_path=self.shingle_index_path(fc),
                    shingle_n=fc.shingle_n,
                    vector_index_path=self.vector_index_path(fc),
                    vector_field=fc.vector_field,
                    vector_cells=fc.vector_cells,
                )
            else:
                q = follow(
                    self.spark,
                    changes_path=fc.changes_path,
                    mirror_path=self.mirror_path(fc),
                    checkpoint_path=self.checkpoint_path(fc),
                    trigger=trigger,
                    query_name=f"feed:{fc.name}",
                    search_index_path=self.search_index_path(fc),
                    shingle_index_path=self.shingle_index_path(fc),
                    shingle_n=fc.shingle_n,
                    vector_index_path=self.vector_index_path(fc),
                    vector_field=fc.vector_field,
                    vector_cells=fc.vector_cells,
                )
            self.queries[fc.name] = q
            started.append(fc.name)
        return started

    def watchdog(self, trigger: dict | None = None) -> dict:
        """One supervision pass: stop feeds disabled/missing in the
        registry (A11), restart enabled feeds whose query died (A12),
        start newly-enabled feeds, and compact partitioned mirrors whose
        buckets accumulated small files (the off-peak maintenance the
        partitioned sink calls for — serialized against in-flight merges
        by the per-path lock). Returns what it did."""
        from couch_to_postgres_spark.streaming.partitioned import (
            compact_mirror,
            read_meta,
        )

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
        # ---- maintenance, AFTER supervision (r13, VERDICT r12 #3):
        # every unit below (debt check + fold, per feed per twin)
        # touches a DISJOINT index root, so the pass runs them on a
        # small driver-thread pool — wall time ≈ the longest fold, not
        # the sum across feeds — and a long fold can no longer delay
        # stop/restart/start, which completed above. Same-path safety
        # is the per-path locks', exactly as in the serial version;
        # telemetry/bookkeeping is merged on the main thread.
        def _mirror_unit(fc):
            mp = self.mirror_path(fc)
            if read_meta(mp) is None:
                return None
            return compact_mirror(self.spark, mp) or None

        def _lsm_unit(fc, sip, twin):
            # compaction POLICY for the searchable twin, not just the
            # mechanism: when a search-flagged feed's index has
            # accumulated more churn than the threshold (tail+tombstone
            # rows per live doc — what every from-index read must
            # merge), fold the tail into only the buckets it touched
            # (VERDICT r08 #2); the first compaction of a fresh index
            # falls back to the full rewrite internally. The telemetry
            # the fold already computes (VERDICT r09 #5) rides the
            # watchdog result and the feed's `/_status` row. The
            # SHINGLE twin compacts WITHOUT the MaxScore impact layer
            # (r13): its md5 fingerprint tokens are probed by equality,
            # never BM25-ranked, and the bound layer (per-pair impact
            # sort + top-G arrays + histograms) is the dominant write
            # cost of a fold — pure overhead there.
            from couch_to_postgres_spark.streaming.search_stream import (
                compact_index_incremental,
                index_status,
            )

            debt = index_status(self.spark, sip).get("compaction_debt")
            if debt is None or debt <= self.search_compaction_debt:
                return None
            done = compact_index_incremental(
                self.spark, sip, impacts_default=(twin == "search")
            )
            return {
                "debt": debt,
                "mode": done.get("mode"),
                "affected_pairs": done.get("affected_pairs"),
                "affected_buckets": done.get("affected_buckets"),
                "total_buckets": done.get("total_buckets"),
                "churned_docs": done.get("churned_docs"),
            }

        def _vector_unit(fc, vip):
            # the VECTOR twin gets the same debt-triggered policy AND
            # the same churn-proportional mechanism (r11). The watchdog
            # also force-flushes a pre-init bootstrap buffer under the
            # aging gate (ADVICE r11): only a buffer that survived
            # pending_flush_ticks passes is flushed — a feed still
            # ramping gets to reach vector_cells upserts and train
            # full-width; only a genuinely stalled trickle feed pays
            # the degraded fit. (_pending_ticks is touched by exactly
            # one unit per feed — no cross-thread contention.)
            from couch_to_postgres_spark.streaming.vector_stream import (
                compact_vector_index_incremental,
                flush_pending,
                vector_index_status,
            )

            vst = vector_index_status(self.spark, vip)
            if vst["n_cells"] is None and vst["pending_upserts"]:
                ticks = self._pending_ticks.get(fc.name, 0) + 1
                if ticks >= self.pending_flush_ticks:
                    flush_pending(self.spark, vip, n_cells=fc.vector_cells)
                    self._pending_ticks.pop(fc.name, None)
                    vst = vector_index_status(self.spark, vip)
                else:
                    self._pending_ticks[fc.name] = ticks
            else:
                self._pending_ticks.pop(fc.name, None)
            debt = vst.get("compaction_debt")
            if debt is None or debt <= self.search_compaction_debt:
                return None
            done = compact_vector_index_incremental(self.spark, vip)
            return {
                "debt": debt,
                "mode": done.get("mode"),
                "n_live": done.get("n_live"),
                "churned_docs": done.get("churned_docs"),
                "affected_cells": done.get("affected_cells"),
                "total_cells": done.get("total_cells"),
            }

        units: list = []  # (bucket_key, feed, twin_or_None, thunk)
        for fc in registry.values():
            if not fc.enabled:
                continue
            units.append(
                ("compacted", fc, None, lambda fc=fc: _mirror_unit(fc))
            )
            for sip, twin, key in (
                (self.search_index_path(fc), "search", "search_compacted"),
                (self.shingle_index_path(fc), "shingle", "shingle_compacted"),
            ):
                if sip is not None:
                    units.append(
                        (key, fc, twin,
                         lambda fc=fc, sip=sip, twin=twin: _lsm_unit(
                             fc, sip, twin
                         ))
                    )
            vip = self.vector_index_path(fc)
            if vip is not None:
                units.append(
                    ("vector_compacted", fc, "vector",
                     lambda fc=fc, vip=vip: _vector_unit(fc, vip))
                )
        buckets: dict[str, dict] = {
            "compacted": {},
            "search_compacted": {},
            "shingle_compacted": {},
            "vector_compacted": {},
        }
        if units:
            from concurrent.futures import ThreadPoolExecutor

            workers = max(1, min(self.maintenance_workers, len(units)))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                results = list(pool.map(lambda u: u[3](), units))
            for (key, fc, twin, _), res in zip(units, results):
                if res is None:
                    continue
                buckets[key][fc.name] = res
                if twin is not None:
                    self._last_maintenance.setdefault(fc.name, {})[
                        twin
                    ] = res
        compacted = buckets["compacted"]
        search_compacted = buckets["search_compacted"]
        shingle_compacted = buckets["shingle_compacted"]
        vector_compacted = buckets["vector_compacted"]
        return {
            "stopped": stopped,
            "restarted": restarted,
            "started": started,
            "compacted": compacted,
            "search_compacted": search_compacted,
            "shingle_compacted": shingle_compacted,
            "vector_compacted": vector_compacted,
        }

    def status(self) -> dict:
        """The `/_status` payload (bin/daemon.js:282-301): per-feed alive
        flag, streaming progress, mirror doc count, and — for partitioned
        mirrors — layout health (bucket count, base/delta row accounting,
        small-file pressure), the numbers an operator needs to judge
        compaction debt."""
        from couch_to_postgres_spark.streaming.partitioned import (
            bucket_file_counts,
            read_meta,
        )

        out = {}
        for fc in load_registry(self.registry_path):
            q = self.queries.get(fc.name)
            alive = bool(q is not None and q.isActive)
            progress = q.lastProgress if q is not None else None
            mp = self.mirror_path(fc)
            meta = read_meta(mp)
            layout = None
            if meta is not None:
                files = bucket_file_counts(mp)
                layout = {
                    "num_buckets": meta.get("num_buckets"),
                    "total_rows": meta.get("total_rows"),
                    "delta_rows": meta.get("delta_rows"),
                    "max_files_per_bucket": max(files.values()) if files else 0,
                }
            # search-flagged feeds surface their live BM25 index health
            # (live docs, post-compaction churn, compaction_debt — the
            # alarm number); unflagged feeds report None
            sip = self.search_index_path(fc)
            search = None
            if sip is not None:
                from couch_to_postgres_spark.streaming.search_stream import (
                    index_status,
                )

                search = index_status(self.spark, sip)
            # shingle-flagged feeds surface the decontamination index's
            # health the same way (it IS the same LSM index structure —
            # live fingerprints, churn, compaction debt)
            shp = self.shingle_index_path(fc)
            shingle = None
            if shp is not None:
                from couch_to_postgres_spark.streaming.search_stream import (
                    index_status,
                )

                shingle = index_status(self.spark, shp)
            # vector-flagged feeds surface their ANN twin's health the
            # same way (live vectors, churn, compaction debt, quantizer)
            vip = self.vector_index_path(fc)
            vector = None
            if vip is not None:
                from couch_to_postgres_spark.streaming.vector_stream import (
                    vector_index_status,
                )

                vector = vector_index_status(self.spark, vip)
            # versioned sketch/reservoir state health (VERDICT r07 #7):
            # every committed state dir under the feed's conventional
            # state root reports its live version, row count, and
            # last-commit batch — the same operator surface the search
            # index gets
            sketch_states = None
            sroot = self.sketch_state_root(fc)
            if os.path.isdir(sroot):
                from couch_to_postgres_spark.extensions.sketch import (
                    sketch_state_status,
                )

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
                "search_index": search,
                "shingle_index": shingle,
                "vector_index": vector,
                # last watchdog-triggered compaction per index twin
                # (mode/affected_pairs/churned_docs) —
                # maintenance cost belongs on the operator surface
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
        """Integrity report per partitioned feed mirror
        (:func:`partitioned.validate_mirror`) — the `/_fsck` control-plane
        surface an operator hits before trusting pruned reads after an
        incident. Flat/absent mirrors report layout='flat'."""
        from couch_to_postgres_spark.streaming.partitioned import (
            read_meta,
            validate_mirror,
        )

        out = {}
        for fc in load_registry(self.registry_path):
            mp = self.mirror_path(fc)
            if read_meta(mp) is None:
                out[fc.name] = {"layout": "flat", "ok": None}
            else:
                out[fc.name] = validate_mirror(self.spark, mp)
            # index-flagged feeds get index-side integrity checks
            # beside the mirror's (r11): the vector twin's
            # sidecar/cells/meta/quantizer invariants; the search and
            # shingle twins' meta exactness + sampled postings/dfs/
            # doclen-discovery agreement
            vip = self.vector_index_path(fc)
            if vip is not None:
                from couch_to_postgres_spark.streaming.vector_stream import (
                    vector_index_fsck,
                )

                out[fc.name]["vector_index"] = vector_index_fsck(
                    self.spark, vip
                )
            for key, sip in (
                ("search_index", self.search_index_path(fc)),
                ("shingle_index", self.shingle_index_path(fc)),
            ):
                if sip is not None:
                    from couch_to_postgres_spark.streaming.search_stream import (
                        search_index_fsck,
                    )

                    out[fc.name][key] = search_index_fsck(self.spark, sip)
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

        registry = {f.name: f for f in load_registry(self.registry_path)}
        if feed_name not in registry:
            raise ValueError(f"unknown feed {feed_name!r}")
        fc = registry[feed_name]
        sip = self.search_index_path(fc)
        vip = self.vector_index_path(fc)
        if sip is None or vip is None:
            missing = "search" if sip is None else "vector"
            raise ValueError(
                f"feed {feed_name!r} does not maintain a {missing} index "
                f"twin — hybrid retrieval needs both"
            )
        return hybrid_topk_live(
            self.spark, sip, vip, term_queries, vector_queries, **kwargs
        )

    def balance(self) -> dict:
        """Quantizer drift report per vector-flagged feed — the
        `/_balance` control-plane surface an operator reads to decide
        when an off-peak :func:`rebuild_vector_quantizer` pays. Kept
        OFF the watchdog tick: the report joins skinny frames per index
        (cheap but not free), and rebuild scheduling is an operator
        decision, never an automatic corpus-proportional job."""
        from couch_to_postgres_spark.streaming.vector_stream import (
            vector_index_balance,
        )

        out = {}
        for fc in load_registry(self.registry_path):
            vip = self.vector_index_path(fc)
            out[fc.name] = (
                vector_index_balance(self.spark, vip)
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
        from couch_to_postgres_spark.streaming.vector_stream import (
            flush_pending,
            vector_index_status,
        )

        fc = next(
            (
                f
                for f in load_registry(self.registry_path)
                if f.name == feed_name
            ),
            None,
        )
        vip = self.vector_index_path(fc) if fc is not None else None
        if vip is None:
            raise ValueError(
                f"feed {feed_name!r} does not maintain a vector index"
            )
        stats = flush_pending(self.spark, vip, n_cells=fc.vector_cells)
        self._pending_ticks.pop(feed_name, None)
        st = vector_index_status(self.spark, vip)
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
