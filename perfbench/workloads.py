"""The four workloads: build, serve, batch and ingest.

Each workload has a `prepare` step (input generation and the reference
scorer, run on a thread while the JVM starts; never timed) and a `run` step
that sets the engine up SETUP_REPEATS times (`setup_s` is the median), then
measures a closed loop with one client for `seconds`, then checks every
answer. `run` returns the end-to-end metrics; with tracing on it also fills
`ctx.layers` with the per-layer metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from statistics import median

import pandas as pd

from perfbench.harness import cached_mb, dir_bytes, log, rmtree
from perfbench.oracle import (SHAPES, Bm25Oracle, query_mix, query_terms,
                              term_classes, topk_ok)

K = 10
SETUP_REPEATS = 2

# build / serve / batch: one corpus, one index layout
N_DOCS = 2000
BUILD_ARGS = dict(profile="code", seg_bits=10, n_buckets=4, salt_factor=2)

# serve: queries cycled from one seeded mix, after N_WARM_QUERIES untimed
# ones; batch: requests of BATCH_SIZE
N_SERVE_QUERIES = 64
N_WARM_QUERIES = 7
BATCH_SIZE = 64
N_BATCH_REQUESTS = 16
N_SCORE_REQUESTS = 3  # traced: batch bags scored by the kernel alone

# ingest: a stream-built base index, then micro-batches landing one by one
INGEST_BASE = 1024
INGEST_BATCH = 256
INGEST_MAX_BATCHES = 4
INGEST_ARGS = dict(profile="code", seg_bits=8, n_buckets=4)
INGEST_COMPACT_FILES = 16
N_INGEST_QUERIES = 4

MIN_OPS = {"build": 2, "serve": 12, "batch": 4, "ingest": 2}

INDEX_TABLES = ("postings", "docs", "terms")


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    trace: bool
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)  # trace-file-only details

    def check(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"wrong answer: {what}")
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def loop(self, workload: str):
        """Closed-loop request counter: runs for `seconds` and at least
        MIN_OPS[workload] requests."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < MIN_OPS[workload] or time.perf_counter() < deadline:
            yield i
            i += 1


@dataclass
class Inputs:
    corpus: pd.DataFrame
    oracle: Bm25Oracle | None = None
    doc_ids: list | None = None  # corpus row -> doc_id the build assigns


# ----------------------------------------------------------------- inputs

def _corpus(n: int, seed: int) -> pd.DataFrame:
    # the driver-side twin of sources.corpus.generate_corpus_df: identical
    # rows for a seed, and it can run while the JVM boots
    from spidey_search_engine_spark.sources.corpus import generate_corpus_pdf
    return generate_corpus_pdf(n, seed=seed)


def prepare_indexed(seed: int) -> Inputs:
    """Corpus plus a reference scorer keyed by the doc ids build_index
    assigns: dense, in (repo, path) order."""
    pdf = _corpus(N_DOCS, seed)
    order = sorted(range(len(pdf)), key=lambda i: (pdf.at[i, "repo"],
                                                   pdf.at[i, "path"]))
    doc_ids = [0] * len(pdf)
    oracle = Bm25Oracle(BUILD_ARGS["profile"])
    for doc_id, row in enumerate(order):
        doc_ids[row] = doc_id
        oracle.add(doc_id, pdf.at[row, "content"])
    return Inputs(pdf, oracle, doc_ids)


def prepare_ingest(seed: int) -> Inputs:
    n = INGEST_BASE + INGEST_BATCH * INGEST_MAX_BATCHES
    pdf = _corpus(n, seed)
    pdf.insert(0, "doc_id", range(n))  # producer-assigned, monotonic
    return Inputs(pdf)


def _write_corpus(ctx: Context, pdf: pd.DataFrame, name: str) -> str:
    path = ctx.path(name)
    ctx.spark.createDataFrame(pdf).repartition(4).write.parquet(path)
    return path


def _content_bytes(contents) -> int:
    return sum(len(c.encode()) for c in contents)


def _bytes_per_posting(index: dict) -> float:
    from pyspark.sql import functions as F
    row = index["postings"].agg(F.sum(F.length("bin")),
                                F.sum("n_docs")).collect()[0]
    return float(row[0]) / float(row[1])


# ----------------------------------------------------------------- set-up

def _build_and_warm(ctx: Context, corpus_dir: str, inputs: Inputs):
    """SETUP_REPEATS times: build_index into a fresh dir + Searcher warm.
    Returns (searcher, index_dir, setup samples, warm samples, build
    spans)."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.search import Searcher
    searcher, samples, warms, spans = None, [], [], []
    for i in range(SETUP_REPEATS):
        if searcher is not None:
            searcher.close()  # a Searcher holds codegen off session-wide
        out = ctx.path(f"index{i}")
        t0 = time.perf_counter()
        with ctx.tracer.span("build.build_index") as rec:
            build_index(ctx.spark, ctx.spark.read.parquet(corpus_dir), out,
                        **BUILD_ARGS)
        t1 = time.perf_counter()
        with ctx.tracer.span("searcher.warm"):
            searcher = Searcher(ctx.spark, load_index(ctx.spark, out))
        t2 = time.perf_counter()
        samples.append(t2 - t0)
        warms.append(t2 - t1)
        spans.append(rec)
        log(f"set-up {i}: build {t1 - t0:.2f}s, warm {t2 - t1:.2f}s")
    return searcher, out, samples, warms, spans


def _check_dictionary(ctx: Context, searcher, oracle: Bm25Oracle) -> None:
    """The built dictionary and stats against the reference scorer's."""
    stats = searcher.index["stats"]
    ctx.check(int(stats["n_docs"]) == oracle.n_docs
              and abs(float(stats["avgdl"]) - oracle.total_len
                      / oracle.n_docs) < 1e-9
              and searcher.index["idf_cache"]["df"] == {
                  t: float(v) for t, v in oracle.df().items()})


def _index_ratio(out: str, contents) -> float:
    return (sum(dir_bytes(os.path.join(out, t)) for t in INDEX_TABLES)
            / _content_bytes(contents))


# ------------------------------------------------------------- query runs

def _query_layers(ctx: Context, traced: list, untraced_ms: list,
                  per_request: int) -> None:
    """spark.* per query from the traced query spans, and the tracing
    overhead as traced minus untraced p50."""
    n = len(traced) * per_request
    sums = {"jobs": 0, "tasks": 0, "executor_ms": 0}
    wall_ms = 0.0
    for rec in traced:
        m = ctx.tracer.metrics_of(rec)
        for key in sums:
            sums[key] += m[key]
        wall_ms += (rec["end"] - rec["start"]) * 1e3
    ctx.layers.update({
        "spark.jobs_per_query": sums["jobs"] / n,
        "spark.tasks_per_query": sums["tasks"] / n,
        "spark.executor_ms_per_query": sums["executor_ms"] / n,
        "spark.wait_ms_per_query": max(0.0, wall_ms - sums["executor_ms"]) / n,
    })
    if untraced_ms:
        traced_ms = [(r["end"] - r["start"]) * 1e3 for r in traced]
        ctx.layers["trace.overhead_ms"] = median(traced_ms) - median(
            untraced_ms)


def _batch_requests(classes: dict, seed: int, n: int) -> list[dict]:
    """n batch requests of BATCH_SIZE seeded queries each."""
    return [{f"q{j}": q for j, q in enumerate(
        query_mix(classes, f"{seed}/{r}", BATCH_SIZE))} for r in range(n)]


def _decompose_queries(ctx: Context, searcher, queries: list[str]) -> None:
    """search.plan_* and search.probe_*: planning and the posting probe of
    each solo query, each forced on its own."""
    from pyspark.sql import functions as F
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_colocated_tokens, query_term_postings)
    index = searcher.index
    n_buckets = int(index["stats"]["n_buckets"])
    plan, probe, rows, nbytes = [], [], [], []
    for qid, q in enumerate(queries):
        terms = query_terms(q)
        t0 = time.perf_counter()
        with ctx.tracer.span("search.plan", qid):
            bm25_topk_colocated_tokens(ctx.spark, index, terms, K)
        t1 = time.perf_counter()
        with ctx.tracer.span("search.probe", qid):
            rows.append(query_term_postings(index["postings"], terms,
                                            n_buckets).count())
        t2 = time.perf_counter()
        nbytes.append(index["postings"].filter(F.col("term").isin(terms))
                      .agg(F.sum(F.length("bin"))).collect()[0][0] or 0)
        plan.append(t1 - t0)
        probe.append(t2 - t1)
    ctx.layers.update({
        "search.plan_ms": median(plan) * 1e3,
        "search.probe_ms": median(probe) * 1e3,
        "search.probe_rows": median(rows),
        "search.probe_bytes": median(nbytes),
    })


def _score_layers(ctx: Context, searcher, requests: list[dict]) -> None:
    """search.score_*: the colocated decode/score kernel alone over
    batch-shaped bags of BATCH_SIZE queries, forced with count(); its
    output rows are the candidates the final top-k reduces."""
    from spidey_search_engine_spark.operators.search import \
        bm25_scores_batch_colocated
    score, cands = [], []
    for rid, req in enumerate(requests):
        bags = {qid: query_terms(q) for qid, q in req.items()}
        t0 = time.perf_counter()
        with ctx.tracer.span("search.score", rid):
            cands.append(bm25_scores_batch_colocated(searcher.index, bags,
                                                     K).count())
        score.append(time.perf_counter() - t0)
    per_q = median(cands) / BATCH_SIZE
    ctx.layers.update({
        "search.score_ms": median(score) * 1e3,
        "search.candidates_per_query": per_q,
        "search.useful_ratio": min(K, per_q) / per_q,
    })


def _warm_queries(searcher, classes: dict, seed: int) -> None:
    """Untimed queries of the same mix (another draw) before the timed
    loop: the first queries of a JVM take up to twice as long as later
    ones."""
    for q in query_mix(classes, f"{seed}/warm", N_WARM_QUERIES):
        searcher.bm25(q, K).collect()


def _setup_layers(ctx: Context, searcher, warms) -> None:
    ctx.layers.update({
        "searcher.warm_s": median(warms),
        "searcher.cached_mb": cached_mb(ctx.spark),
    })


def run_serve(ctx: Context, inputs: Inputs) -> dict:
    corpus_dir = _write_corpus(ctx, inputs.corpus, "corpus")
    searcher, out, samples, warms, build_spans = _build_and_warm(
        ctx, corpus_dir, inputs)
    classes = term_classes(searcher.index["idf_cache"]["df"], N_DOCS)
    queries = query_mix(classes, ctx.seed, N_SERVE_QUERIES)
    _warm_queries(searcher, classes, ctx.seed)

    answers, lat, traced, untraced_ms = [], [], [], []
    t_start = time.perf_counter()
    for i in ctx.loop("serve"):
        q = queries[i % len(queries)]
        t0 = time.perf_counter()
        if ctx.trace and i % 2:
            with ctx.tracer.span("serve.query", i) as rec:
                rows = searcher.bm25(q, K).collect()
            traced.append(rec)
        else:
            rows = searcher.bm25(q, K).collect()
            if ctx.trace:
                untraced_ms.append((time.perf_counter() - t0) * 1e3)
        lat.append(time.perf_counter() - t0)
        answers.append((q, [(r["doc_id"], r["score"]) for r in rows]))
    elapsed = time.perf_counter() - t_start

    _check_dictionary(ctx, searcher, inputs.oracle)
    expected = {q: inputs.oracle.scores(q) for q in set(queries)}
    for q, got in answers:
        ctx.check(topk_ok(got, expected[q], K))
    if ctx.trace:
        _setup_layers(ctx, searcher, warms)
        _query_layers(ctx, traced, untraced_ms, 1)
        # one query of every shape, and the kernel on batch-shaped bags
        _decompose_queries(ctx, searcher, queries[:len(SHAPES)])
        _score_layers(ctx, searcher, _batch_requests(classes, ctx.seed,
                                                     N_SCORE_REQUESTS))
    searcher.close()
    if ctx.trace:
        # the build layers of the set-up's index, with the Searcher closed
        # (it holds whole-stage codegen off); publish time from the warm
        # (last) set-up build
        _build_layers(ctx, corpus_dir, inputs, build_spans[-1:],
                      searcher.index)
    return {"setup_s": median(samples),
            "latency_p50_ms": median(lat) * 1e3,
            "throughput_per_s": len(lat) / elapsed,
            "index_bytes_per_content_byte": _index_ratio(
                out, inputs.corpus["content"])}


def run_batch(ctx: Context, inputs: Inputs) -> dict:
    corpus_dir = _write_corpus(ctx, inputs.corpus, "corpus")
    searcher, out, samples, warms, _ = _build_and_warm(ctx, corpus_dir,
                                                       inputs)
    classes = term_classes(searcher.index["idf_cache"]["df"], N_DOCS)
    requests = _batch_requests(classes, ctx.seed, N_BATCH_REQUESTS)
    _warm_queries(searcher, classes, ctx.seed)

    answers, lat, traced = [], [], []
    t_start = time.perf_counter()
    for i in ctx.loop("batch"):
        req = requests[i % len(requests)]
        t0 = time.perf_counter()
        with ctx.tracer.span("batch.request", i) as rec:
            rows = searcher.bm25_batch(req, K).collect()
        lat.append(time.perf_counter() - t0)
        if rec is not None:
            traced.append(rec)
        got: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append((r["doc_id"],
                                                      r["score"]))
        answers.append((req, got))
    elapsed = time.perf_counter() - t_start

    _check_dictionary(ctx, searcher, inputs.oracle)
    expected: dict[str, dict] = {}
    for req, got in answers:
        ok = True
        for qid, q in req.items():
            if q not in expected:
                expected[q] = inputs.oracle.scores(q)
            ok &= topk_ok(got.get(qid, []), expected[q], K)
        ctx.check(ok)
    if ctx.trace:
        _setup_layers(ctx, searcher, warms)
        _query_layers(ctx, traced, [], BATCH_SIZE)
        _score_layers(ctx, searcher, requests[:N_SCORE_REQUESTS])
    searcher.close()
    n_queries = len(lat) * BATCH_SIZE
    return {"setup_s": median(samples),
            "latency_p50_ms": median(lat) * 1e3,
            "throughput_per_s": n_queries / elapsed,
            "index_bytes_per_content_byte": _index_ratio(
                out, inputs.corpus["content"])}


# ------------------------------------------------------------------ build

def run_build(ctx: Context, inputs: Inputs) -> dict:
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.diffing import index_diff
    from spidey_search_engine_spark.operators.maintenance import \
        index_verify_summary
    spark = ctx.spark
    corpus_dir = _write_corpus(ctx, inputs.corpus, "corpus")

    def build(out: str) -> float:
        t0 = time.perf_counter()
        with ctx.tracer.span("build.build_index") as rec:
            build_index(spark, spark.read.parquet(corpus_dir), out,
                        **BUILD_ARGS)
        if rec is not None:
            spans.append(rec)
        return time.perf_counter() - t0

    spans: list = []
    samples = [build(ctx.path(f"ref{i}")) for i in range(SETUP_REPEATS)]
    ref_dir = ctx.path(f"ref{SETUP_REPEATS - 1}")
    ref = load_index(spark, ref_dir)

    times, outs = [], []
    for i in ctx.loop("build"):
        outs.append(ctx.path(f"build{i}"))
        times.append(build(outs[-1]))

    # the reference against the independent scorer, every timed build
    # against the reference and against its source rows
    oracle = inputs.oracle
    ctx.check(int(ref["stats"]["n_docs"]) == oracle.n_docs
              and {r["term"]: r["df"] for r in
                   ref["terms"].select("term", "df").collect()}
              == oracle.df())
    source = spark.createDataFrame(
        inputs.corpus.assign(doc_id=inputs.doc_ids))
    for out in outs:
        built = load_index(spark, out)
        verify = {r["status"]: r["n_docs"] for r in index_verify_summary(
            built["docs"], source).collect()}
        ctx.check(index_diff(ref, built)["equal"]
                  and verify == {"ok": N_DOCS})
        rmtree(out)

    if ctx.trace:
        _build_layers(ctx, corpus_dir, inputs, spans[SETUP_REPEATS:], ref)
    return {"setup_s": median(samples),
            "latency_p50_ms": median(times) * 1e3,
            "throughput_per_s": N_DOCS * len(times) / sum(times),
            "index_bytes_per_content_byte": _index_ratio(
                ref_dir, inputs.corpus["content"])}


def _build_layers(ctx: Context, corpus_dir: str, inputs: Inputs,
                  build_spans: list, ref: dict) -> None:
    """The build's stages forced one at a time: corpus scan, tokenizer,
    partial postings (materialized), merge of those partials; publish is
    the build_index time after its heaviest (tokenize-merge-write) job."""
    from pyspark.sql import functions as F
    from spidey_search_engine_spark.functions.analysis import tokenize_series
    from spidey_search_engine_spark.operators.build import (build_partials,
                                                            merge_partials,
                                                            prepare_docs)
    spark = ctx.spark
    t0 = time.perf_counter()
    with ctx.tracer.span("sources.scan"):
        spark.read.parquet(corpus_dir).write.format("noop") \
            .mode("overwrite").save()
    t1 = time.perf_counter()
    with ctx.tracer.span("analysis.tokenize_series"):
        tokenize_series(inputs.corpus["content"], BUILD_ARGS["profile"])
    t2 = time.perf_counter()
    docs = prepare_docs(spark.read.parquet(corpus_dir))
    partials = build_partials(docs, profile=BUILD_ARGS["profile"],
                              seg_bits=BUILD_ARGS["seg_bits"]).persist()
    t3 = time.perf_counter()
    with ctx.tracer.span("build.partials"):
        partials.count()
    t4 = time.perf_counter()
    with ctx.tracer.span("build.merge") as merge:
        merge_partials(partials, n_buckets=BUILD_ARGS["n_buckets"],
                       salt_factor=BUILD_ARGS["salt_factor"],
                       doclen_bucket=BUILD_ARGS["n_buckets"]) \
            .write.format("noop").mode("overwrite").save()
    t5 = time.perf_counter()
    partial_bytes = partials.agg(F.sum(F.length("bin"))).collect()[0][0]
    partials.unpersist()

    publish = []
    for rec in build_spans:
        jobs = ctx.tracer.metrics_of(rec)["jobs_detail"]
        heavy = max(jobs, key=lambda j: j["executor_ms"])
        publish.append(rec["end"] - heavy["end"])
    ctx.layers.update({
        "sources.scan_s": t1 - t0,
        "analysis.docs_per_s": len(inputs.corpus) / (t2 - t1),
        "build.partials_s": t4 - t3,
        "build.partial_bytes": partial_bytes,
        "build.merge_s": t5 - t4,
        "build.shuffle_bytes": ctx.tracer.metrics_of(merge)[
            "shuffle_write_bytes"],
        "build.publish_s": median(publish),
        "compress.bytes_per_posting": _bytes_per_posting(ref),
    })


# ----------------------------------------------------------------- ingest

class _IngestIndex:
    """One stream-fed index: its landing dir, checkpoint and output."""

    def __init__(self, ctx: Context, name: str, schema):
        self.ctx, self.schema = ctx, schema
        self.src = ctx.path(name, "landing")
        self.out = ctx.path(name, "index")
        self.ckpt = ctx.path(name, "checkpoint")
        os.makedirs(self.src)
        self.n_landed = 0

    def land(self, pdf: pd.DataFrame) -> float:
        """Atomically drop one parquet file of docs into the landing dir;
        returns the landing time."""
        tmp = self.ctx.path("tmp", f"landing-{os.getpid()}.parquet")
        pdf.to_parquet(tmp, index=False)
        os.replace(tmp, os.path.join(self.src,
                                     f"part-{self.n_landed:05d}.parquet"))
        self.n_landed += 1
        return time.perf_counter()

    def append(self) -> None:
        from spidey_search_engine_spark.streaming.incremental import \
            append_index_stream
        stream = (self.ctx.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        query = append_index_stream(self.ctx.spark, stream, self.out,
                                    checkpoint=self.ckpt, **INGEST_ARGS)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))

    def publish(self) -> None:
        from spidey_search_engine_spark.streaming.incremental import \
            publish_index
        publish_index(self.ctx.spark, self.out,
                      compact_files_threshold=INGEST_COMPACT_FILES,
                      **INGEST_ARGS)

    def searcher(self):
        from spidey_search_engine_spark.operators.search import Searcher
        from spidey_search_engine_spark.plans.lineage import \
            load_index_resumable
        return Searcher(self.ctx.spark,
                        load_index_resumable(self.ctx.spark, self.out))


def run_ingest(ctx: Context, inputs: Inputs) -> dict:
    from spidey_search_engine_spark.plans.snapshot import parquet_file_count
    pdf = inputs.corpus
    schema = ctx.spark.createDataFrame(pdf.head(1)).schema
    os.makedirs(ctx.path("tmp"), exist_ok=True)

    # set-up: the serving state before writes arrive -- the base index
    # through the stream path and a Searcher on it -- SETUP_REPEATS times,
    # each into a fresh index dir and checkpoint (so every run starts from
    # the same state); the last one is the live index
    samples, searcher = [], None
    for i in range(SETUP_REPEATS):
        if searcher is not None:
            searcher.close()
        live = _IngestIndex(ctx, f"ingest{i}", schema)
        live.land(pdf.iloc[:INGEST_BASE])
        t0 = time.perf_counter()
        live.append()
        live.publish()
        searcher = live.searcher()
        samples.append(time.perf_counter() - t0)
        log(f"set-up {i}: base index + Searcher {samples[-1]:.2f}s")
    queries = query_mix(term_classes(searcher.index["idf_cache"]["df"],
                                     INGEST_BASE), ctx.seed, N_INGEST_QUERIES)

    cycles = []
    for c in ctx.loop("ingest"):
        if c == INGEST_MAX_BATCHES:
            break
        lo = INGEST_BASE + c * INGEST_BATCH
        # publish_index re-reads the postings through the same plan an open
        # Searcher has cached, and would compute df from the stale cache
        searcher.close()
        # the micro-batch's span is the parent of its steps' spans
        with ctx.tracer.span("ingest.micro_batch", c):
            t_land = live.land(pdf.iloc[lo:lo + INGEST_BATCH])
            with ctx.tracer.span("incremental.append", c):
                live.append()
            t_app = time.perf_counter()
            with ctx.tracer.span("incremental.publish", c):
                live.publish()
            t_pub = time.perf_counter()
            files = parquet_file_count(os.path.join(live.out, "postings"))
            with ctx.tracer.span("searcher.warm", c):
                searcher = live.searcher()
            t_warm = time.perf_counter()
            cached = cached_mb(ctx.spark) if ctx.trace else 0.0
            answers = []
            for q in queries:
                with ctx.tracer.span("ingest.query", c) as rec:
                    rows = searcher.bm25(q, K).collect()
                answers.append((q, [(r["doc_id"], r["score"])
                                    for r in rows], time.perf_counter(), rec))
        cycles.append({"land": t_land, "append_s": t_app - t_land,
                       "publish_s": t_pub - t_app, "warm_s": t_warm - t_pub,
                       "files": files, "cached_mb": cached,
                       "hi": lo + INGEST_BATCH, "answers": answers})
    if ctx.trace:
        bytes_per_posting = _bytes_per_posting(searcher.index)
    searcher.close()

    # expected answers: the reference scorer over the same doc prefix
    oracle, n_added, visible = Bm25Oracle(INGEST_ARGS["profile"]), 0, []
    for cyc in cycles:
        for doc_id, content in zip(pdf["doc_id"].iloc[n_added:cyc["hi"]],
                                   pdf["content"].iloc[n_added:cyc["hi"]]):
            oracle.add(int(doc_id), content)
        n_added = cyc["hi"]
        first_ok = None
        for q, got, t_done, _ in cyc["answers"]:
            want = oracle.scores(q)
            if ctx.check(topk_ok(got, want, K),
                         f"{q!r} after {n_added} docs: got {got[:3]}, want "
                         f"{sorted(want.items(), key=lambda kv: -kv[1])[:3]}"
                         ) and first_ok is None:
                first_ok = t_done
        visible.append((first_ok or cyc["answers"][-1][2]) - cyc["land"])

    if ctx.trace:
        recs = [a[3] for cyc in cycles for a in cyc["answers"]]
        _query_layers(ctx, recs, [], 1)
        ctx.layers.update({
            "incremental.append_s": median([c["append_s"] for c in cycles]),
            "incremental.publish_s": median([c["publish_s"]
                                             for c in cycles]),
            "snapshot.postings_files": median([c["files"] for c in cycles]),
            "searcher.warm_s": median([c["warm_s"] for c in cycles]),
            "searcher.cached_mb": median([c["cached_mb"] for c in cycles]),
            "compress.bytes_per_posting": bytes_per_posting,
        })
        ctx.extra["postings_files_by_batch"] = [c["files"] for c in cycles]
    appended = INGEST_BATCH * len(cycles)
    return {"setup_s": median(samples),
            "latency_p50_ms": median(visible) * 1e3,
            "throughput_per_s": appended / sum(c["append_s"]
                                               for c in cycles),
            "index_bytes_per_content_byte": _index_ratio(
                live.out, pdf["content"].iloc[:INGEST_BASE + appended])}


WORKLOADS = {
    "build": (prepare_indexed, run_build),
    "serve": (prepare_indexed, run_serve),
    "batch": (prepare_indexed, run_batch),
    "ingest": (prepare_ingest, run_ingest),
}
