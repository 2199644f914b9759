"""Repo benchmark entry point.

    python3 perfbench/run.py --workload {build,serve,batch,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and the
run's spans go to .perfbench/trace-<workload>-seed<N>.json. See
perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import traceback

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "index_bytes_per_content_byte": "ratio",
    "peak_pss_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "analysis.docs_per_s": "docs/s",
    "build.partials_s": "s",
    "build.partial_bytes": "bytes",
    "build.merge_s": "s",
    "build.shuffle_bytes": "bytes",
    "build.publish_s": "s",
    "compress.bytes_per_posting": "bytes",
    "search.plan_ms": "ms",
    "search.probe_ms": "ms",
    "search.probe_bytes": "bytes",
    "search.probe_rows": "count",
    "search.score_ms": "ms",
    "search.candidates_per_query": "count",
    "search.useful_ratio": "ratio",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.executor_ms_per_query": "ms",
    "spark.wait_ms_per_query": "ms",
    "searcher.warm_s": "s",
    "searcher.cached_mb": "MB",
    "incremental.append_s": "s",
    "incremental.publish_s": "s",
    "snapshot.postings_files": "count",
    "trace.overhead_ms": "ms",
}

# a run must end within 180 s; one still running after DEADLINE_S is killed
DEADLINE_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("build", "serve", "batch", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "spidey_search_engine_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (the engine package "
              "spidey_search_engine_spark/ is missing here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Context

    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    harness.rmtree(work)
    harness.configure_env(root, work)

    def abort():
        print(f"perfbench: run exceeded {DEADLINE_S}s, aborting",
              file=sys.stderr)
        harness.kill_jvm()
        harness.rmtree(work)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, abort)
    watchdog.daemon = True
    watchdog.start()
    mem = harness.MemSampler().start()
    prepare, run = WORKLOADS[args.workload]

    # input generation and the reference scorer overlap the JVM start
    prepared: dict = {}

    def _prepare():
        try:
            prepared["inputs"] = prepare(args.seed)
        except BaseException as e:  # re-raised on the main thread
            prepared["error"] = e

    gen = threading.Thread(target=_prepare, daemon=True)
    gen.start()
    spark = None
    try:
        spark = harness.start_spark()
        harness.log("spark started")
        gen.join()
        harness.log("inputs ready")
        if "error" in prepared:
            raise prepared["error"]
        ctx = Context(spark=spark,
                      tracer=harness.Tracer(spark, bool(args.trace)),
                      work=work, seed=args.seed, seconds=args.seconds,
                      trace=bool(args.trace))
        values = run(ctx, prepared["inputs"])
        harness.log("workload done")
        if args.trace:
            dump = ctx.tracer.dump()
            dump.update(workload=args.workload, seed=args.seed,
                        layers=ctx.layers, **ctx.extra)
    except Exception:
        traceback.print_exc()
        harness.stop_spark(spark)
        harness.rmtree(work)
        return 1
    harness.stop_spark(spark)
    harness.log("spark stopped")
    values["peak_pss_mb"] = mem.stop()
    harness.rmtree(work)
    watchdog.cancel()

    if args.trace:
        path = os.path.join(out_dir,
                            f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(dump, fh, indent=1)
        metrics = {k: {"value": float(ctx.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": ctx.failed == 0 and ctx.attempted > 0,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
