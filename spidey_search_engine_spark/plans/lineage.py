"""Resumable index build with per-chunk lineage + metrics (SURVEY.md §4
custom #5; north_rule: "resumable from checkpoint with per-partition lineage
and metrics tables").

The doc-id space is split into contiguous CHUNKS (each a whole number of
posting segments, so no (term, segment) row ever spans chunks). Each chunk
builds and commits independently:

    out_dir/
      docs/                    # doc store, written once
      postings/chunk=<c>/...   # per-chunk partitioned postings (atomic dir)
      lineage/                 # one parquet row per finished chunk:
                               # (build_id, chunk, n_docs, n_postings_rows,
                               #  wall_sec, finished_at) — LINEAGE_SCHEMA
      terms/, stats/           # published after all chunks are done

Resume = anti-join the chunk list against the lineage table and build only
the missing chunks; a crashed run leaves at most one unfinished chunk dir,
which is overwritten on retry (postings for chunk c are written with
mode=overwrite into their own directory → idempotent). This mirrors the
reference's batch-of-500 + commit-thread design (Indexer.java:29,656-663)
with Spark-native atomicity instead of MySQL transactions.
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..operators.build import (DOCLEN_TERM, SENTINEL_PREFIX,
                               build_partials, doc_lengths,
                               doc_stats, merge_partials, prepare_docs,
                               term_stats, write_stats_json)


# every column a lineage row may carry, in on-disk order. Each writer fills
# the ones it knows: min_doc/max_doc and the per-step milliseconds are the
# streaming append's (streaming/incremental.py), whose rows written before
# the step columns existed simply lack them.
LINEAGE_SCHEMA = StructType([
    StructField("build_id", StringType()),
    StructField("chunk", IntegerType()),
    StructField("n_docs", LongType()),
    StructField("n_postings_rows", LongType()),
    StructField("min_doc", LongType()),
    StructField("max_doc", LongType()),
    StructField("wall_sec", DoubleType()),
    StructField("finished_at", DoubleType()),
    # the batch's min/max/count job
    StructField("probe_ms", DoubleType()),
    # partials + merge + postings write
    StructField("postings_ms", DoubleType()),
    StructField("docs_ms", DoubleType()),
    # the replay-guard read (the row's own write is not in the row)
    StructField("lineage_ms", DoubleType()),
])


def append_lineage_row(spark: SparkSession, lin_dir: str,
                       row: dict) -> None:
    """Append one lineage row holding the LINEAGE_SCHEMA columns `row`
    names, in that order (KeyError on any other). The row travels as a
    pandas frame with an explicit StructType — an Arrow LocalRelation whose
    write runs no Python worker (``createDataFrame(list, ddl)`` ran one:
    ≈0.45–0.55 s per row against ≈0.16–0.2 s, measured)."""
    schema = StructType([LINEAGE_SCHEMA[c] for c in row])
    spark.createDataFrame(pd.DataFrame([row]), schema) \
        .write.mode("append").parquet(lin_dir)


def _done_chunks(spark: SparkSession, out_dir: str) -> set[int]:
    path = os.path.join(out_dir, "lineage")
    try:
        return {int(r["chunk"]) for r in
                spark.read.parquet(path).select("chunk").distinct().collect()}
    except Exception:
        return set()


def build_index_resumable(spark: SparkSession, corpus: DataFrame,
                          out_dir: str, profile: str = "code",
                          seg_bits: int = 10, chunk_segments: int = 16,
                          n_buckets: int = 32,
                          fail_after_chunks: int | None = None) -> dict:
    """Chunked, resumable build. `fail_after_chunks` injects a crash after
    N chunks (test hook for the resume invariant).

    Returns the published stats dict."""
    build_id = uuid.uuid4().hex[:12]
    docs_path = os.path.join(out_dir, "docs")
    if not os.path.exists(docs_path):
        docs = prepare_docs(corpus)
        partials0 = build_partials(docs, profile=profile, seg_bits=seg_bits)
        (docs.drop("content").join(doc_lengths(partials0), "doc_id")
         .select("doc_id", "repo", "path", "commit", "lang",
                 "content_sha256", "n_tokens")
         .write.mode("overwrite").parquet(docs_path + ".tmp"))
        os.rename(docs_path + ".tmp", docs_path)
    docs_w = spark.read.parquet(docs_path)
    stats = doc_stats(docs_w)
    n_docs = stats["n_docs"]

    chunk_docs = chunk_segments << seg_bits
    n_chunks = (n_docs + chunk_docs - 1) // chunk_docs
    done = _done_chunks(spark, out_dir)
    skipped = sorted(done)

    # corpus must carry doc_id for chunk slicing; re-derive deterministically
    docs_full = prepare_docs(corpus)
    built = 0
    for c in range(n_chunks):
        if c in done:
            continue
        lo, hi = c * chunk_docs, min((c + 1) * chunk_docs, n_docs)
        t0 = time.monotonic()
        chunk = docs_full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        partials = build_partials(chunk, profile=profile, seg_bits=seg_bits) \
            .filter(~F.col("term").startswith(SENTINEL_PREFIX))
        postings = merge_partials(partials, n_buckets=n_buckets,
                                  n_docs=hi - lo)
        chunk_dir = os.path.join(out_dir, "postings", f"chunk={c}")
        (postings.write.mode("overwrite")
         .partitionBy("bucket").parquet(chunk_dir))
        n_rows = spark.read.parquet(chunk_dir).count()
        append_lineage_row(spark, os.path.join(out_dir, "lineage"), {
            "build_id": build_id, "chunk": c, "n_docs": hi - lo,
            "n_postings_rows": n_rows,
            "wall_sec": round(time.monotonic() - t0, 3),
            "finished_at": time.time()})
        built += 1
        if fail_after_chunks is not None and built >= fail_after_chunks:
            raise RuntimeError(f"injected failure after {built} chunks")

    # publish: global dictionary + stats over all chunks
    postings_all = spark.read.option("basePath", os.path.join(out_dir, "postings")) \
        .parquet(os.path.join(out_dir, "postings"))
    terms = term_stats(postings_all)
    terms.write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
    stats_row = dict(stats, profile=profile, seg_bits=seg_bits,
                     n_buckets=n_buckets, k1=1.2, b=0.75,
                     build_id=build_id, n_chunks=n_chunks,
                     skipped_chunks=len(skipped))
    write_stats_json(spark, out_dir, stats_row)
    # wildcard dictionary projections from a PREVIOUS build of this dir
    # are stale against the fresh terms — refresh whichever exist (same
    # contract as the non-resumable build)
    from ..operators.wildcard import refresh_aux_terms
    refresh_aux_terms(spark, out_dir)
    return stats_row


def load_index_resumable(spark: SparkSession, out_dir: str) -> dict:
    stats = spark.read.json(os.path.join(out_dir, "stats")).collect()[0].asDict()
    return {
        "docs": spark.read.parquet(os.path.join(out_dir, "docs")),
        "postings": spark.read.option(
            "basePath", os.path.join(out_dir, "postings"))
        .parquet(os.path.join(out_dir, "postings")),
        "terms": spark.read.parquet(os.path.join(out_dir, "terms")),
        "stats": stats,
        "lineage": spark.read.parquet(os.path.join(out_dir, "lineage")),
    }
