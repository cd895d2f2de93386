#!/usr/bin/env python3
"""Benchmark of the data_pipeline_spark package: one command, three seeded
workloads, output checks, and a traced run for per-layer numbers.

    python3 perfbench/run.py --workload refresh_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` installs span wrappers and the Spark
event log and reports the per-layer metrics instead.  A human-readable
report goes to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  See perfbench/README.md
for the workloads, every metric and how the figures were sized.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CATALOG_QUERIES = (
    "neardup_cluster_assignment_star", "pq_ann_topk", "ivfpq_ann_topk",
    "minhash_lsh_candidates", "jaccard_neardup_pairs", "incremental_dedup_gate",
    "duplicate_span_stats", "semantic_dedup_gate", "bigram_lm_perplexity",
    "multimodal_flac_roundtrip", "q1_pricing_summary", "revenue_by_nation",
    "q21_waiting_suppliers", "compaction_latest_per_key", "refresh_range_batches",
    "monitor_window_counts", "tailer_projection", "cdc_snapshot_apply",
)

# metrics of the one-line result, by mode; BENCHMARK.json lists the same.
# peak_rss_mb stays in the report only: the JVM's high-water mark follows
# its heap growth and spread 20% between runs of the same work.
END_TO_END = {"setup_s": "s", "wall_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "registry.register_s": "s", "registry.lookup_calls": "count", "registry.lookup_s": "s",
    "refresh.plan_ranges_s": "s", "refresh.run_s": "s", "refresh.jobs": "count",
    "producer.prepare_s": "s", "producer.publish_s_p50": "s", "producer.publish_s_p90": "s",
    "producer.jobs_per_publish": "count",
    "wire.encode_s_per_100k": "s", "wire.decode_s_per_100k": "s",
    "wire.encode_fast_share": "ratio", "wire.decode_fast_share": "ratio",
    "avro_codec.encode_s_per_100k": "s", "avro_codec.decode_s_per_100k": "s",
    "topic_store.publish_s_p50": "s", "topic_store.publish_s_p90": "s",
    "topic_store.jobs_per_publish": "count", "topic_store.high_watermarks_s": "s",
    "topic_store.read_s": "s", "topic_store.files": "count", "topic_store.bytes_per_msg": "B",
    "offset_ledger.commit_s": "s", "offset_ledger.committed_s": "s",
    "consumer.messages_s_per_100k": "s", "consumer.jobs": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.trigger_ms_p90": "ms",
    "streaming.add_batch_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.rows_per_trigger": "count", "streaming.backlog_msgs_max": "count",
    "cdc.generator_late_ms": "ms",
    **{
        f"catalog.{q}.{m}": ("count" if m == "jobs" else "s")
        for q in CATALOG_QUERIES
        for m in ("construct_s", "execute_s", "jobs")
    },
    "catalog.optimize_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_s": "s", "spark.gc_s": "s",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B", "spark.idle_core_share": "ratio",
    "spark.scaling_4c_over_1c": "ratio",
    "tracing.overhead_share": "ratio",
}
# the full end-to-end set, printed in the report (units for display)
REPORT_UNITS = {
    "setup_s": "s", "refresh_msgs_per_s": "msg/s", "tail_msgs_per_s": "msg/s",
    "cdc_latency_p50_ms": "ms", "cdc_latency_p99_ms": "ms", "cdc_within_limit_share": "ratio",
    "catalog_wall_s": "s", "error_rate": "ratio", "peak_rss_mb": "MB", "wall_s": "s",
}


def _workload(name: str, spark, work: str, seed: int):
    if name == "refresh_bulk":
        from wl_refresh import RefreshBulk

        return RefreshBulk(spark, work, seed)
    if name == "cdc_stream":
        from wl_cdc import CdcStream

        return CdcStream(spark, work, seed)
    from wl_catalog import CatalogBatch

    return CatalogBatch(spark, work, seed, CATALOG_QUERIES)


def _measure(args, work: str, cores: int) -> tuple[dict, dict]:
    """(result line, full report) for one run."""
    import harness

    t_session = time.time()
    spark = harness.start_session(work, cores, bool(args.trace))
    session_up = time.time()
    try:
        rss = harness.PeakRss(spark)
        wl = _workload(args.workload, spark, work, args.seed)
        wl.generate()
        wl.prepare()
        setup_s = time.time() - T_PROCESS

        tracer = None
        if args.trace:
            tracer = harness.Tracer(spark, f"{args.workload}-{args.seed}")
            harness.install_layer_wrappers(tracer)
            wl.install_tracing(tracer)
            # the same work untraced before and after the traced run: the
            # difference is the tracing overhead, with any warm-up left over
            # from set-up falling on an untraced side
            _, _, plain = wl.run(args.seconds)
            tracer.enabled = True
        t0, t1, units = wl.run(args.seconds)
        if tracer is not None:
            tracer.enabled = False
            plain += wl.run(args.seconds)[2]
        wl.check()
        e2e = wl.metrics(units)
        peak = rss.read_mb()
        layers: dict[str, float] = {}
        if tracer is not None:
            layers.update(harness.layer_metrics(tracer))
            layers.update(wl.layer_metrics(tracer, units))
            layers["session.start_s"] = session_up - t_session
            untraced = wl.metrics(plain)["wall_s"]
            layers["tracing.overhead_share"] = (
                e2e["wall_s"] / untraced - 1.0 if untraced else 0.0
            )
            os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
            tracer.dump(
                os.path.join(HERE, "results", f"spans-{args.workload}-{args.seed}.json")
            )
    finally:
        harness.stop_session(spark)
    if tracer is not None:
        layers.update(harness.event_log_totals(work, t0, t1, cores))
        if args.workload == "refresh_bulk":
            from wl_refresh import single_core_wall

            layers["spark.scaling_4c_over_1c"] = single_core_wall(
                os.path.abspath(__file__), args.seed
            ) / untraced

    attempted, failed = wl.attempted, wl.failed
    report = {
        "setup_s": setup_s,
        "peak_rss_mb": peak,
        "error_rate": failed / attempted if attempted else 1.0,
        **e2e,
    }
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(report[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    # per-unit timings for the results file; the cdc change lists stay out
    summary = [{k: v for k, v in u.items() if k != "changes"} for u in units]
    full = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "report": report, "layers": layers, "units": summary, "errors": wl.errors[:20]}
    return result, full


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("refresh_bulk", "cdc_stream", "catalog_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # local[N] with N = SPARK_GRAFT_CPUS (the traced refresh_bulk run's
    # single-core baseline sets it to 1) or the CPU count, at most 4
    cores = min(4, int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # read when the package loads
    # the package under test, this directory, and the oracle helpers
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    try:
        import data_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every scratch path of the package, Spark and its Python workers
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    tempfile.tempdir = None
    try:
        result, full = _measure(args, work, cores)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(
        HERE, "results", f"{args.workload}-{args.seed}-trace{args.trace}-{cores}c.json"
    ), "w") as fh:
        json.dump(full, fh, indent=1)
    for k, v in full["report"].items():
        print(f"{args.workload} {k} {v:.6g} {REPORT_UNITS.get(k, '')}")
    for k, v in sorted(full["layers"].items()):
        print(f"{args.workload} layer {k} {v:.6g} {PER_LAYER.get(k, '')}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
