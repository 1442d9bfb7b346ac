"""The workloads. Each drives the engine only through its public entry
points (``pipeline.follow``, the compactors, the readers), looked up as
module attributes at call time so the traced run can wrap them.

* ``initial_sync``: an empty state drains a backlog of inserts in one
  trigger, then the first compaction of the mirror and both indexes
  runs and one read round is answered. Loads the bulk paths (JSON
  parse, the bucket bootstrap write, tokenize, the vector quantizer
  bootstrap, full index builds); bypasses the delta-append path and the
  per-batch cost of small batches.
* ``query_mix``: set-up builds a mirror with compacted indexes through
  the engine; then one closed-loop client runs rounds of one small
  write batch (one trigger of ``follow``), deterministic maintenance and
  a seeded sequence of reads (README recipes as ``spark.sql``, an
  ``operators.query`` builder, a partitioned point lookup, BM25 and
  vector top-k) until the run's seconds are spent. Loads the per-batch
  fixed cost, the delta-append merge, index tail appends and every
  read path with deltas and tails present; bypasses the bulk writes.
"""

from __future__ import annotations

import inspect
import json
import os
import time
from collections import Counter
from datetime import datetime

from pyspark.sql import functions as F

import feed as feedmod
from metrics import dir_bytes, spark_jobs, tree_cpu_s
from couch_to_postgres_spark import sql as sqlmod
from couch_to_postgres_spark.extensions import search as xsearch
from couch_to_postgres_spark.extensions import similarity as xsim
from couch_to_postgres_spark.operators import query as oq
from couch_to_postgres_spark.streaming import partitioned as pm
from couch_to_postgres_spark.streaming import pipeline
from couch_to_postgres_spark.streaming import search_stream as ss
from couch_to_postgres_spark.streaming import vector_stream as vs
from couch_to_postgres_spark.streaming.daemon import Daemon

#: the daemon watchdog's fold threshold (churn rows per live doc)
DEBT_THRESHOLD = inspect.signature(Daemon.__init__).parameters[
    "search_compaction_debt"
].default
VECTOR_CELLS = 16
TOP_K = 10
BM25_QUERIES = 4
VECTOR_QUERIES = 3

# Sizes are set by the run budget: on a 4-core host every run pays a
# ~6 s session start and ~40 s of first-use cost for the drain and the
# first compaction, whatever the doc count. query_mix's base holds
# enough rows per bucket (16 buckets) that a round's write takes the
# delta-append path: upsert_partitioned_mirror appends when the touched
# buckets hold over 20x the batch's rows.
INITIAL_SYNC_DOCS = 500
QUERY_MIX = {"docs": 850, "round_changes": 10,
             "max_rounds": 12}  # generated ahead; the loop stops earlier


def search_text(doc):
    return F.concat_ws(
        " ", F.get_json_object(doc, "$.title"), F.get_json_object(doc, "$.body")
    )


class Failure(Exception):
    """A wrong answer from the engine."""


class Run:
    """State paths, the sequential model and the run's observations."""

    def __init__(self, spark, work: str, seed: int, recorder=None):
        self.spark = spark
        self.feed = feedmod.Feed(seed)
        self.model = feedmod.Model()
        self.rec = recorder
        self.log = os.path.join(work, "changes")
        self.mirror = os.path.join(work, "mirror")
        self.sidx = os.path.join(work, "search_index")
        self.vidx = os.path.join(work, "vector_index")
        self.ckpt = os.path.join(work, "checkpoint")
        self.n_files = 0
        # per-operation latencies (seconds), for the sample counts
        self.batch_s: list[float] = []
        self.query_s: list[float] = []
        self.search_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.pending: list[list[dict]] = []  # written, not yet drained
        self.collapse = []  # (ids out, changes in) per drained file
        self.input_bytes = 0
        self.last_bm25 = None
        self.last_vector = None

    def mark(self) -> tuple[float, float, int]:
        """(wall, process-tree CPU seconds, Spark jobs) so far."""
        return time.perf_counter(), tree_cpu_s(), spark_jobs(self.spark)

    def since(self, mark: tuple[float, float, int]) -> tuple[float, float, int]:
        now = self.mark()
        return now[0] - mark[0], now[1] - mark[1], now[2] - mark[2]

    # -- writes ----------------------------------------------------------
    def add_file(self, changes: list[dict]) -> None:
        path = os.path.join(self.log, f"part-{self.n_files:05d}.json")
        self.input_bytes += feedmod.write_changes(changes, path)
        self.n_files += 1
        self.pending.append(changes)

    def drain(self) -> float:
        """Drain every pending change file, one file per trigger;
        returns the wall time."""
        t0 = time.perf_counter()
        q = pipeline.follow(
            self.spark, self.log, self.mirror, self.ckpt,
            search_index_path=self.sidx, search_text=search_text,
            vector_index_path=self.vidx, vector_cells=VECTOR_CELLS,
            max_files_per_trigger=1,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.attempted += len(self.pending)
        if q.exception() is not None or len(progress) != len(self.pending):
            self.failed += len(self.pending)
            raise Failure(f"drain: {q.exception()} ({len(progress)} triggers)")
        for p, changes in zip(progress, self.pending):
            self.batch_s.append(p["durationMs"]["triggerExecution"] / 1000.0)
            self.model.apply(changes)
            self.collapse.append((len({c["id"] for c in changes}), len(changes)))
            if self.rec is not None:
                start = datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")
                ).timestamp()
                d = p["durationMs"]
                self.rec.add_span(
                    "streaming.pipeline.batch", start,
                    start + d["triggerExecution"] / 1000.0,
                    **{f"{k}_s": d.get(k, 0) / 1000.0
                       for k in ("latestOffset", "addBatch", "walCommit")},
                )
        self.pending = []
        return wall

    def compact(self, fold_indexes: bool) -> None:
        pm.compact_mirror(self.spark, self.mirror)
        if fold_indexes:
            ss.compact_index_incremental(self.spark, self.sidx)
            vs.compact_vector_index_incremental(self.spark, self.vidx)
        self.attempted += 1

    def maintain(self) -> None:
        """The daemon watchdog's policy at a deterministic point: fold
        the mirror deltas, and each index when its debt is over the
        threshold."""
        pm.compact_mirror(self.spark, self.mirror)
        if (ss.index_status(self.spark, self.sidx)["compaction_debt"] or 0) > DEBT_THRESHOLD:
            ss.compact_index_incremental(self.spark, self.sidx)
        if (vs.vector_index_status(self.spark, self.vidx)["compaction_debt"] or 0) > DEBT_THRESHOLD:
            vs.compact_vector_index_incremental(self.spark, self.vidx)
        self.attempted += 1

    # -- reads -----------------------------------------------------------
    def _timed(self, layer: str, sink: list, fn):
        t0 = time.perf_counter()
        if self.rec is not None:
            with self.rec.span(layer):
                rows = fn()
        else:
            rows = fn()
        sink.append(time.perf_counter() - t0)
        self.attempted += 1
        return rows

    def _articles(self):
        sqlmod.register_catalog(
            self.spark,
            mirrors={"articles": pm.read_partitioned_mirror(self.spark, self.mirror)},
        )

    def recipe_reads(self) -> None:
        """The README recipes and an operators.query builder, each
        checked against the sequential model."""
        docs = {i: json.loads(d) for i, d in self.model.docs.items()}
        feeds = Counter(d["feedName"] for d in docs.values())
        having = max(1, sorted(feeds.values())[len(feeds) // 2])
        prefix = "art-00001"
        point = sorted(docs)[len(docs) // 3]
        reads = [
            (
                "group_count",
                lambda: self._sql(
                    "SELECT get_json_object(doc, '$.feedName') AS feedName,"
                    " COUNT(*) AS value FROM articles GROUP BY 1"
                ),
                dict(feeds),
            ),
            (
                "group_count_having",
                lambda: self._sql(
                    "WITH tbl AS (SELECT get_json_object(doc, '$.feedName')"
                    " AS feedName, COUNT(*) AS value FROM articles GROUP BY 1)"
                    f" SELECT feedName, value FROM tbl WHERE value > {having}"
                ),
                {k: v for k, v in feeds.items() if v > having},
            ),
            (
                "key_expansion",
                lambda: oq.key_expansion(
                    pm.read_partitioned_mirror(self.spark, self.mirror), "type"
                ).collect(),
                {(d["type"], k) for d in docs.values() for k in d},
            ),
            (
                "flagship",
                lambda: self._sql(
                    "SELECT id, CAST(get_json_object(doc, '$.myvar') AS double)"
                    " AS myvar FROM articles"
                    f" WHERE id LIKE '{prefix}%'"
                    " AND CAST(get_json_object(doc, '$.myvar') AS double) > 50"
                    " ORDER BY myvar, id"
                ),
                [
                    (i, float(d["myvar"]))
                    for i, d in sorted(
                        docs.items(), key=lambda kv: (float(kv[1]["myvar"]), kv[0])
                    )
                    if i.startswith(prefix) and float(d["myvar"]) > 50
                ],
            ),
            (
                "point_lookup",
                lambda: pm.point_lookup_partitioned(
                    self.spark, self.mirror, point
                ).collect(),
                [(point, self.model.docs[point])],
            ),
        ]
        for name, run, expected in reads:
            rows = self._timed("operators.query.read", self.query_s, run)
            got = [tuple(r) for r in rows]
            if isinstance(expected, dict):
                got = dict(got)
            elif isinstance(expected, set):
                got = set(got)
            if got != expected:
                self.failed += 1
                raise Failure(f"{name}: mirror answer differs from the model")

    def _sql(self, text: str):
        self._articles()
        return self.spark.sql(text).collect()

    def search_reads(self) -> None:
        qtab = self.spark.createDataFrame(
            self.feed.bm25_queries(BM25_QUERIES),
            "query_id string, term string",
        )
        self.last_bm25 = (qtab, self._timed(
            "streaming.search_stream.query", self.search_s,
            lambda: ss.bm25_topk_from_index(self.spark, self.sidx, qtab, k=TOP_K).collect(),
        ))
        vq = self.spark.createDataFrame(
            self.feed.vector_queries(VECTOR_QUERIES),
            "vec_id string, embedding array<double>",
        )
        # exhaustive probing: exact answers, checked against brute force
        self.last_vector = (vq, self._timed(
            "streaming.vector_stream.query", self.search_s,
            lambda: vs.vector_topk_live(
                self.spark, self.vidx, vq, k=TOP_K, nprobe=VECTOR_CELLS
            ).collect(),
        ))

    # -- correctness gate ------------------------------------------------
    def check(self, oracles: tuple[str, ...]) -> list[str]:
        """Final mirror against the sequential model, and the last
        answers of each search in ``oracles`` (``bm25``, ``vector``)
        against its batch oracle over a mirror snapshot."""
        errors = []
        mirror = pm.read_partitioned_mirror(self.spark, self.mirror)
        hashes = mirror.select(
            F.sha2(F.concat_ws("\t", "id", "doc"), 256).alias("h")
        ).collect()
        if feedmod.combine(r["h"] for r in hashes) != self.model.digest():
            errors.append("mirror digest differs from the sequential model")
        if pipeline.mirror_doc_count(self.spark, self.mirror) != self.model.live_count:
            errors.append("mirror_doc_count differs from the model's live count")

        if "bm25" in oracles:
            errors += self._check_bm25(mirror)
        if "vector" in oracles:
            errors += self._check_vector(mirror)
        self.attempted += 2 + len(oracles)
        self.failed += len(errors)
        return errors

    def _check_bm25(self, mirror) -> list[str]:
        qtab, got = self.last_bm25
        corpus = mirror.select(
            F.col("id").alias("doc_id"), search_text(F.col("doc")).alias("text")
        )
        want = xsearch.bm25_topk_batch(corpus, qtab, k=TOP_K).collect()
        if _rows(got) != _rows(want):
            return ["bm25_topk_from_index differs from bm25_topk_batch"]
        return []

    def _check_vector(self, mirror) -> list[str]:
        vq, got = self.last_vector
        emb = mirror.select(
            F.col("id").alias("vec_id"),
            F.from_json(F.get_json_object("doc", "$.embedding"), "array<double>")
            .alias("embedding"),
        )
        want = xsim.cosine_topk(vq, emb, k=TOP_K).collect()
        if _rows(got) != _rows(want):
            return ["vector_topk_live differs from cosine_topk"]
        return []

    def state_bytes(self) -> int:
        return dir_bytes(self.mirror, self.sidx, self.vidx)


def _rows(rows) -> set:
    out = set()
    for r in rows:
        d = r.asDict()
        out.add(tuple(
            (k, round(float(v), 4) if k == "score" else v) for k, v in sorted(d.items())
        ))
    return out


# -- the workloads --------------------------------------------------------
def initial_sync(run: Run, seconds: float, sync) -> dict:
    """The backlog is one change file, so the drain is one trigger (the
    bulk path); the timed region ends with one read round."""
    docs = run.feed.inserts(INITIAL_SYNC_DOCS)
    run.add_file(docs)

    def timed():
        sync()
        start = run.mark()
        drain_s = run.drain()
        run.compact(fold_indexes=True)
        _, sync_cpu, sync_jobs = run.since(start)
        reads = run.mark()
        run.search_reads()
        searchable_s = run.since(start)[0]
        run.recipe_reads()
        round_s, round_cpu, round_jobs = run.since(reads)
        return {
            "sync_docs_per_s": len(docs) / drain_s,
            "searchable_s": searchable_s,
            "sync_cpu_s": sync_cpu,
            "sync_jobs": sync_jobs,
            "rounds": [(round_s, round_cpu, round_jobs)],
        }

    # the two search oracles are split over the workloads to fit the
    # run budget; each workload checks the mirror in full
    return {"setup": lambda: None, "timed": timed, "oracles": ("bm25",)}


def query_mix(run: Run, seconds: float, sync) -> dict:
    """Rounds of write, maintenance and reads until ``seconds`` are
    spent. Maintenance points are fixed by round number, never by a
    timer: ``compact_mirror`` every round, the index-debt check (and a
    fold over the daemon's threshold) every second round."""
    size = QUERY_MIX
    base = run.feed.inserts(size["docs"])
    rounds = [run.feed.churn(size["round_changes"]) for _ in range(size["max_rounds"])]
    build = {}

    def setup():
        run.add_file(base)
        start = run.mark()
        build["drain_s"] = run.drain()
        run.compact(fold_indexes=True)
        build["wall_s"], build["cpu_s"], build["jobs"] = run.since(start)
        run.batch_s.clear()  # the context's samples cover the timed region

    def timed():
        sync()
        t_end = time.perf_counter() + seconds
        done = []
        for i, changes in enumerate(rounds):
            start = run.mark()
            run.add_file(changes)
            run.drain()
            if i % 2:
                run.maintain()
            else:
                run.compact(fold_indexes=False)
            run.search_reads()
            run.recipe_reads()
            done.append(run.since(start))
            if time.perf_counter() >= t_end:
                break
        return {
            "sync_docs_per_s": len(base) / build["drain_s"],
            "searchable_s": build["wall_s"] + run.search_s[0],
            "sync_cpu_s": build["cpu_s"],
            "sync_jobs": build["jobs"],
            "rounds": done,
        }

    return {"setup": setup, "timed": timed, "oracles": ("vector",)}


WORKLOADS = {"initial_sync": initial_sync, "query_mix": query_mix}
