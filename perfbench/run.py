"""Benchmark entry point.

    python3 perfbench/run.py --workload initial_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the inputs from ``--seed``, starts
one local Spark session (``local[nproc]``), sets up the workload's
starting state through the engine, measures it, checks the engine's
answers against the generator's model and the batch oracles, and
prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
table of a separate traced run. A line before it (``"context"``)
records the host, the noise controls and the sample counts.

All state, Spark's scratch space and the event log live under
``.perfbench_work/`` in the checkout and are removed at exit. Exits
non-zero, without a result, when the engine package is not in the
checkout; exits 1 after printing the result when a check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _engine_or_exit() -> None:
    sys.path.insert(0, ROOT)
    try:
        import couch_to_postgres_spark
    except ImportError as e:
        sys.exit(f"perfbench: engine package not found in {ROOT}: {e}")
    pkg = os.path.realpath(couch_to_postgres_spark.__file__)
    if not pkg.startswith(os.path.realpath(ROOT) + os.sep):
        sys.exit(f"perfbench: engine imported from outside the checkout: {pkg}")


def _session(work: str, trace: bool):
    from couch_to_postgres_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", cpus=os.cpu_count(), extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it Spark's
    Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _install_tracing(rec, run) -> None:
    """Wrap each layer's public entry points where their callers look
    them up (see README.md for the layer -> metric map)."""
    from couch_to_postgres_spark.operators import cdc
    from couch_to_postgres_spark.streaming import partitioned as pm
    from couch_to_postgres_spark.streaming import pipeline
    from couch_to_postgres_spark.streaming import search_stream as ss
    from couch_to_postgres_spark.streaming import vector_stream as vs

    def mirror_state():
        delta = os.path.join(run.mirror, pm.DELTA_DIR)
        n = sum(len(files) for _, _, files in os.walk(delta))
        return pm.read_meta(run.mirror) is not None, n

    def upsert_mode(span, touched, state):
        existed, n_delta = state
        grew = mirror_state()[1] > n_delta
        mode = "delta" if grew else "rewrite" if existed else "bootstrap"
        span.extra[f"mode_{mode}"] = 1.0
        span.extra["touched_buckets"] = float(len(touched))

    def delta_rows(span, result, state):
        import pyarrow.parquet as pq

        delta = os.path.join(run.mirror, pm.DELTA_DIR)
        span.extra["delta_rows"] = float(sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _, files in os.walk(delta) for f in files if f.endswith(".parquet")
        ))

    def folded(span, buckets, state):
        span.extra["folded_buckets"] = float(len(buckets))

    def compact_mode(span, result, state):
        span.extra[f"mode_{result.get('mode')}"] = 1.0

    rec.wrap(pipeline, "read_change_stream", "sources.changes.read")
    rec.wrap(pm, "latest_changes", "operators.cdc.collapse")
    rec.wrap(cdc, "latest_changes", "operators.cdc.collapse")
    rec.wrap(pm, "upsert_partitioned_mirror", "streaming.partitioned.upsert",
             upsert_mode, before=mirror_state)
    rec.wrap(pm, "compact_mirror", "streaming.partitioned.compact", folded)
    rec.wrap(pm, "read_partitioned_mirror", "streaming.partitioned.read", delta_rows)
    rec.wrap(pm, "point_lookup_partitioned", "streaming.partitioned.read", delta_rows)
    rec.wrap(ss, "search_index_batch", "streaming.search_stream.index_batch")
    for attr in ("vector_index_batch", "append_pending", "flush_pending"):
        rec.wrap(vs, attr, "streaming.vector_stream.index_batch")
    rec.wrap(ss, "compact_index_incremental", "streaming.search_stream.compact", compact_mode)
    rec.wrap(vs, "compact_vector_index_incremental", "streaming.vector_stream.compact", compact_mode)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _engine_or_exit()
    sys.path.insert(0, HERE)
    import metrics
    import spans as tracemod
    import workloads

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # a fixed heap, so peak RSS does not follow the host's RAM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM, spark-submit's launcher too: temp files in the work dir,
    # no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    )
    try:
        return _run(args, work, metrics, tracemod, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))


def _run(args, work, metrics, tracemod, workloads) -> int:
    trace = bool(args.trace)
    rss = metrics.PeakRss().start()
    steal0 = metrics.steal_s()
    t0 = time.perf_counter()
    spark = _session(work, trace)
    session_s = time.perf_counter() - t0
    rec = tracemod.Recorder(spark) if trace else None
    run = workloads.Run(spark, os.path.join(work, "state"), args.seed, rec)
    plan = workloads.WORKLOADS[args.workload](run, args.seconds, os.sync)
    if rec is not None:
        _install_tracing(rec, run)
    errors: list[str] = []
    traced_from = time.time()
    try:
        t0 = time.perf_counter()
        plan["setup"]()
        setup_s = session_s + time.perf_counter() - t0
        t0 = time.perf_counter()
        phase = plan["timed"]()
        timed_s = time.perf_counter() - t0
        traced_to = time.time()
        if rec is not None:
            rec.restore()
        space = run.state_bytes() / run.model.live_bytes()
        t0 = time.perf_counter()
        errors = run.check(plan["oracles"])
        check_s = time.perf_counter() - t0
    except workloads.Failure as e:
        errors = [str(e)]
    finally:
        if rec is not None:
            rec.restore()
        _stop(spark)
        peak_rss = rss.stop()

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "host": metrics.host_info(work),
        "noise_controls": {
            "master": f"local[{os.cpu_count()}]",
            "state_dir": ".perfbench_work (inside the checkout)",
            "os_sync_before_timed_region": True,
            "warm_up": "query_mix: the set-up state build; initial_sync: none (measures the first sync of a fresh process)",
            "console_progress": False,
        },
        "steal_s": metrics.steal_s() - steal0,
        "peak_pss_mb": {k: v / 1024.0 for k, v in rss.peaks.items()},
        "errors": errors,
    }
    if errors:
        result = {"correct": False, "attempted": max(1, run.attempted),
                  "failed": max(1, run.failed), "metrics": {}}
        print(json.dumps({"context": context}))
        print(json.dumps(result))
        return 1

    samples = {"batch": run.batch_s, "query": run.query_s, "search": run.search_s}
    context["samples"] = {
        k: {"n": len(v), "p50_s": metrics.median(v), "tail": metrics.tail_percentile(v)}
        for k, v in samples.items()
    }
    context["rounds"] = len(phase["rounds"])
    context["timed_wall_s"] = timed_s
    context["check_s"] = check_s
    round_s, round_cpu_s, round_jobs = (
        metrics.median([r[i] for r in phase["rounds"]]) for i in range(3)
    )
    values = {
        "setup_s": setup_s,
        "sync_jobs": phase["sync_jobs"],
        "round_jobs": round_jobs,
        "space_amp": space,
        "peak_rss_mb": peak_rss,
        "searchable_s": phase["searchable_s"],
        "sync_docs_per_s": phase["sync_docs_per_s"],
        "round_s": round_s,
        "sync_cpu_s": phase["sync_cpu_s"],
        "round_cpu_s": round_cpu_s,
    }
    if trace:
        out = _per_layer(rec, run, work, tracemod, traced_from, traced_to)
        rc = context["trace"] = out.pop("reconcile")
        rc["tracing_overhead_s"] = out["trace.overhead_s"][0]
        missing = [l for l in LAYERS if out[f"{l}.calls"][0] < 1]
        if missing or rc["error"] > 0.01 or rc["negative_driver_gaps"]:
            print(json.dumps({"context": context}))
            sys.exit(f"perfbench: trace does not reconcile or misses layers {missing}")
        out.update({f"e2e.{k}": (values[k], E2E_UNITS[k]) for k in E2E_PER_LAYER})
        metric_values = out
    else:
        context["not_gated"] = {k: values[k] for k in E2E_PER_LAYER}
        metric_values = {k: (values[k], E2E_UNITS[k]) for k in END_TO_END}
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": True,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metric_values.items()},
    }))
    return 0


E2E_UNITS = {"setup_s": "s", "sync_jobs": "count", "round_jobs": "count",
             "space_amp": "ratio", "peak_rss_mb": "MB", "searchable_s": "s",
             "sync_docs_per_s": "docs/s", "round_s": "s", "sync_cpu_s": "s",
             "round_cpu_s": "s"}
#: the end-to-end metrics gated on (BENCHMARK.json "end_to_end") ...
END_TO_END = ("setup_s", "sync_jobs", "round_jobs", "space_amp")
#: ... and the time and memory ones, measured the same way but too noisy
#: on a shared host to gate on (hypervisor steal and co-tenant load move
#: wall and CPU time by up to 50% within a 10-run set; peak PSS is
#: bimodal), reported in the traced run's table as ``e2e.<name>``
E2E_PER_LAYER = ("searchable_s", "sync_docs_per_s", "round_s", "sync_cpu_s",
                 "round_cpu_s", "peak_rss_mb")

#: the per-layer table: every op reports these counters ...
BASE = ("calls", "wall_s", "self_s", "driver_gap_s", "jobs", "shuffle_bytes",
        "written_bytes")
#: ... plus these. task_cpu_s is listed only for ops that launch Spark
#: jobs on every workload; the others plan lazily or may be a no-op.
LAYERS = {
    "streaming.pipeline.batch": ("latestOffset_s", "addBatch_s", "walCommit_s"),
    "sources.changes.read": ("rows", "input_bytes"),
    "operators.cdc.collapse": ("ratio",),
    "streaming.partitioned.upsert": ("task_cpu_s", "touched_buckets", "mode_bootstrap",
                                     "mode_rewrite", "mode_delta"),
    "streaming.partitioned.compact": ("folded_buckets",),
    "streaming.partitioned.read": ("task_cpu_s", "delta_rows"),
    "streaming.search_stream.index_batch": ("task_cpu_s",),
    "streaming.vector_stream.index_batch": ("task_cpu_s",),
    "streaming.search_stream.compact": ("task_cpu_s", "mode_full", "mode_incremental", "mode_noop"),
    "streaming.vector_stream.compact": ("task_cpu_s", "mode_full", "mode_incremental", "mode_noop"),
    "streaming.search_stream.query": ("task_cpu_s",),
    "streaming.vector_stream.query": ("task_cpu_s",),
    "operators.query.read": ("task_cpu_s",),
}
UNITS = {"shuffle_bytes": "bytes", "written_bytes": "bytes", "input_bytes": "bytes",
         "ratio": "ratio"}


def per_layer_names() -> list[str]:
    names = [f"{layer}.{k}" for layer, extra in LAYERS.items() for k in BASE + extra]
    return names + ["perfbench.unattributed.self_s", "trace.wall_s", "trace.overhead_s"] + [
        f"e2e.{k}" for k in E2E_PER_LAYER
    ]


def _unit(name: str) -> str:
    if name.startswith("e2e."):
        return E2E_UNITS[name[4:]]
    k = name.rsplit(".", 1)[1]
    return UNITS.get(k, "s" if k.endswith("_s") else "count")


def _per_layer(rec, run, work, tracemod, start, end) -> dict:
    root = tracemod.Span("perfbench.unattributed", start, end, None)
    spans = [s for s in rec.spans if s.start >= start - tracemod.EPS]
    jobs = tracemod.job_table(tracemod.read_event_log(os.path.join(work, "eventlog")))
    table = tracemod.rollup(root, spans, jobs)
    n_in = sum(n for _, n in run.collapse)
    table["sources.changes.read"].update(rows=n_in, input_bytes=run.input_bytes)
    table["operators.cdc.collapse"]["ratio"] = sum(i for i, _ in run.collapse) / n_in
    wall = end - start
    flat = {f"{layer}.{k}": v for layer, row in table.items() for k, v in row.items()}
    flat["trace.wall_s"] = wall
    flat["trace.overhead_s"] = rec.bookkeeping_s
    out = {name: (float(flat.get(name, 0.0)), _unit(name)) for name in per_layer_names()}
    self_sum = sum(r["self_s"] for r in table.values())
    gaps = {k: v for k, v in flat.items() if k.endswith("driver_gap_s") and v < -0.05}
    out["reconcile"] = {"wall_s": wall, "self_sum_s": self_sum,
                        "error": abs(self_sum - wall) / wall,
                        "negative_driver_gaps": gaps}
    return out


if __name__ == "__main__":
    sys.exit(main())
