"""Resumable index build with per-chunk lineage + metrics (SURVEY.md §4
custom #5; north_rule: "resumable from checkpoint with per-partition lineage
and metrics tables").

The doc-id space is split into contiguous CHUNKS (each a whole number of
posting segments, so no (term, segment) row ever spans chunks). Each chunk
is written and committed independently by `write_chunk`, the one chunk
writer — the streaming append (streaming/incremental.py) calls it once per
micro-batch:

    out_dir/
      postings/chunk=<c>/...   # per-chunk partitioned postings (atomic dir)
      docs/chunk=<c>/...       # the chunk's doc rows, n_tokens included
      lineage/                 # one parquet row per finished chunk
                               # (LINEAGE_SCHEMA)
      terms/, stats/           # published after all chunks are done
                               # (incremental.publish_index)

Resume = anti-join the chunk list against the lineage table and build only
the missing chunks; a crashed run leaves at most one unfinished chunk,
whose postings and docs dirs are overwritten on retry (mode=overwrite into
their own directories → idempotent). This mirrors the reference's
batch-of-500 + commit-thread design (Indexer.java:29,656-663) with
Spark-native atomicity instead of MySQL transactions.
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..operators.build import (SENTINEL_PREFIX, build_partials,
                               doc_lengths, load_index, merge_partials,
                               prepare_docs)


# every column a lineage row may carry, in on-disk order. write_chunk
# fills the chunk's own columns, its caller the rest; stream rows written
# before the step columns existed simply lack them.
LINEAGE_SCHEMA = StructType([
    StructField("build_id", StringType()),
    StructField("chunk", IntegerType()),
    StructField("n_docs", LongType()),
    StructField("n_postings_rows", LongType()),
    StructField("min_doc", LongType()),
    StructField("max_doc", LongType()),
    StructField("wall_sec", DoubleType()),
    StructField("finished_at", DoubleType()),
    # the stream's min/max/count job
    StructField("probe_ms", DoubleType()),
    # partials + merge + postings write
    StructField("postings_ms", DoubleType()),
    StructField("docs_ms", DoubleType()),
    # the stream's replay-guard read (the row's own write is not in the row)
    StructField("lineage_ms", DoubleType()),
])


def _ms(seconds: float) -> float:
    return round(seconds * 1e3, 1)


def append_lineage_row(spark: SparkSession, lin_dir: str,
                       row: dict) -> None:
    """Append one lineage row holding the LINEAGE_SCHEMA columns `row`
    names, in LINEAGE_SCHEMA order (KeyError on any other). The row
    travels as a pandas frame with an explicit StructType — an Arrow
    LocalRelation whose write runs no Python worker
    (``createDataFrame(list, ddl)`` ran one: ≈0.45–0.55 s per row against
    ≈0.16–0.2 s, measured)."""
    fields = [f for f in LINEAGE_SCHEMA.fields if f.name in row]
    if len(fields) != len(row):
        raise KeyError(sorted(set(row) - set(LINEAGE_SCHEMA.names)))
    spark.createDataFrame(pd.DataFrame([row])[[f.name for f in fields]],
                          StructType(fields)) \
        .write.mode("append").parquet(lin_dir)


def write_chunk(spark: SparkSession, docs: DataFrame, out_dir: str,
                chunk: str, n_docs: int, lo: int, hi: int, lineage: dict,
                profile: str = "code", seg_bits: int = 10,
                n_buckets: int = 32, t0: float | None = None) -> None:
    """Write one chunk of the chunked tree and commit it with its lineage
    row — the one chunk writer of the resumable build and the streaming
    append.

    `docs` holds the chunk's (doc_id, repo, path, commit, lang, content,
    content_sha256) rows: `n_docs` of them, doc ids `lo`..`hi` inclusive,
    a whole number of segments apart from any other chunk's. The partials
    are tokenized once and persisted: their non-sentinel rows merge into
    ``postings/chunk=<chunk>`` (the exchange sized from `n_docs`, the
    rows counted by an Observation on the write — no re-read job) and
    their DOCLEN sentinels give ``docs/chunk=<chunk>`` its n_tokens. Both
    dirs are written with overwrite, so redoing a chunk whose lineage row
    never committed is idempotent.

    The lineage row is the caller's `lineage` columns (build_id, chunk
    number, its own step milliseconds) plus n_docs, n_postings_rows,
    min_doc, max_doc, postings_ms, docs_ms, finished_at and wall_sec,
    counted from `t0` (default: the call)."""
    t_start = time.monotonic()
    partials = build_partials(docs, profile=profile, seg_bits=seg_bits)
    partials.persist()
    postings = merge_partials(
        partials.filter(~F.col("term").startswith(SENTINEL_PREFIX)),
        n_buckets=n_buckets, n_docs=int(n_docs))
    written = Observation()
    (postings.observe(written, F.count(F.lit(1)).alias("rows"))
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(out_dir, "postings", f"chunk={chunk}")))
    t_postings = time.monotonic()
    (docs.drop("content").join(doc_lengths(partials), "doc_id")
     .select("doc_id", "repo", "path", "commit", "lang",
             "content_sha256", "n_tokens")
     .write.mode("overwrite")
     .parquet(os.path.join(out_dir, "docs", f"chunk={chunk}")))
    partials.unpersist()
    t_end = time.monotonic()
    append_lineage_row(spark, os.path.join(out_dir, "lineage"), dict(
        lineage, n_docs=int(n_docs),
        n_postings_rows=int(written.get["rows"]),
        min_doc=int(lo), max_doc=int(hi),
        wall_sec=round(t_end - (t_start if t0 is None else t0), 3),
        finished_at=time.time(),
        postings_ms=_ms(t_postings - t_start),
        docs_ms=_ms(t_end - t_postings)))


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
                          n_buckets: int = 32) -> dict:
    """Chunked, resumable build: `write_chunk` for every chunk of
    ``chunk_segments`` segments the lineage table does not hold yet, then
    one publish_index over the whole tree.

    Returns publish_index's stats plus build_id, n_chunks and
    skipped_chunks (finished chunks of an earlier run)."""
    from ..streaming.incremental import publish_index

    build_id = uuid.uuid4().hex[:12]
    docs = prepare_docs(corpus)
    n_docs = docs.count()
    chunk_docs = chunk_segments << seg_bits
    n_chunks = (n_docs + chunk_docs - 1) // chunk_docs
    done = _done_chunks(spark, out_dir)
    for c in range(n_chunks):
        if c in done:
            continue
        lo, hi = c * chunk_docs, min((c + 1) * chunk_docs, n_docs)
        write_chunk(spark, docs.filter((F.col("doc_id") >= lo)
                                       & (F.col("doc_id") < hi)),
                    out_dir, str(c), hi - lo, lo, hi - 1,
                    {"build_id": build_id, "chunk": c},
                    profile=profile, seg_bits=seg_bits, n_buckets=n_buckets)
    stats = publish_index(spark, out_dir, profile=profile,
                          seg_bits=seg_bits, n_buckets=n_buckets)
    return dict(stats, build_id=build_id, n_chunks=n_chunks,
                skipped_chunks=len(done))


def load_index_resumable(spark: SparkSession, out_dir: str) -> dict:
    """load_index of a chunked tree, plus its `lineage` table."""
    idx = load_index(spark, out_dir)
    idx["lineage"] = spark.read.parquet(os.path.join(out_dir, "lineage"))
    return idx
