"""Incremental index append via Structured Streaming.

The reference "recrawls" in batch loops (Crawler.java:308-414) and re-indexes
changed pages (Indexer.java:788-808); the Spark-native equivalent is a
stream of new/changed docs appended to the index incrementally:

    readStream(docs source) → foreachBatch:
        micro-batch  = one chunk, written by plans/lineage.write_chunk
                       (the function the resumable build calls per chunk)
        postings     → out_dir/postings/chunk=stream_<epoch>/
        docs         → out_dir/docs/chunk=stream_<epoch>/
        lineage row  → out_dir/lineage

Requirements at scale: incoming docs carry pre-assigned doc_ids (id
assignment is an upstream concern in a streaming world — a dense global
row_number is not streamable); doc ranges of distinct batches must be
disjoint for segment-level isolation, which holds when ids are
monotonically assigned by the producer. Stats/terms are republished after
the stream stops (or periodically) — BM25 idf/avgdl drift within an epoch
is the standard trade-off of incremental indexing.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import doc_stats, term_stats, write_stats_json
from ..plans.lineage import _ms, write_chunk


def append_index_stream(spark: SparkSession, docs_stream: DataFrame,
                        out_dir: str,
                        profile: str = "code", seg_bits: int = 10,
                        n_buckets: int = 32, checkpoint: str | None = None,
                        publish_every: int | None = None,
                        compact_files_threshold: int | None = None):
    """Start a foreachBatch stream appending per-batch postings chunks.

    docs_stream must provide (doc_id, repo, path, commit, lang, content).
    Block-max metadata is avgdl-independent (max_tf/min_dl), so appended
    chunks stay valid as corpus-wide avgdl drifts. Returns the
    StreamingQuery.

    A micro-batch costs O(batch), not O(index): its one min/max/count job
    gives the doc count that sizes the merge exchange (merge_partials
    ``n_docs`` — a batch of up to DOCS_PER_MERGE_TASK docs merges in ONE
    task and writes at most ``n_buckets`` files), and an empty batch
    writes nothing. Its lineage row (plans/lineage.LINEAGE_SCHEMA) records
    the step milliseconds: ``probe_ms`` (that job), ``postings_ms``
    (partials + merge + write), ``docs_ms`` and ``lineage_ms`` (the
    replay-guard read).

    ``publish_every=N`` republishes terms/stats automatically at every Nth
    micro-batch id (G6 parity: the reference recomputes PageRank + stats
    once per 500-page batch, Indexer.java:746-748) — idf/avgdl freshness
    then lags at most N batches. Cadence derives from the CHECKPOINTED
    ``batch_id`` (``(batch_id+1) % N == 0``), not an in-memory counter, so
    it survives driver restarts and foreachBatch at-least-once replays.
    Left None, publishing stays manual (batch-append-then-publish).

    ``compact_files_threshold=M`` (with publish_every set) makes the
    publish step ALSO consolidate the chunked postings tree in place
    (compact_stream_chunks) whenever it holds more than M parquet files —
    the small-file growth of long-running appends is then
    self-maintaining (the BENCH_COMPACTION 1.81x warm-read win) instead
    of an operator chore. See publish_index / compact_stream_chunks."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        t0 = time.monotonic()
        lo, hi, n_batch_docs = batch_df.select(
            F.min("doc_id"), F.max("doc_id"), F.count("*")).collect()[0]
        if not n_batch_docs:
            return
        t_probe = time.monotonic()

        def _publish_if_due():
            if publish_every and (int(batch_id) + 1) % publish_every == 0:
                publish_index(spark, out_dir, profile=profile,
                              seg_bits=seg_bits, n_buckets=n_buckets,
                              compact_files_threshold=compact_files_threshold)

        # at-least-once replay guard: a batch whose lineage row committed
        # is DONE — rewriting its chunk was harmless while the chunk dir
        # still existed (overwrite idempotency), but once compaction has
        # consumed it a replay would duplicate those postings. The row is
        # matched on build_id AND the batch's doc-id range: a FRESH
        # checkpoint restarts batch ids at 0 over the same out_dir, and
        # silently skipping (or overwriting) someone else's chunk under a
        # colliding id must fail fast, not lose data. Replays still re-run
        # a due publish — it is overwrite-idempotent and a crash INSIDE a
        # previous publish (after the lineage row) must be retried.
        lin_dir = os.path.join(out_dir, "lineage")
        try:
            prior = (spark.read.parquet(lin_dir)
                     .filter(F.col("build_id") == f"stream_{batch_id}")
                     .head(1))
        except Exception:
            prior = []  # no lineage yet (first batch ever)
        if prior:
            row = prior[0].asDict()
            same_range = ("min_doc" in row
                          and row["min_doc"] == lo and row["max_doc"] == hi)
            if not same_range:
                raise RuntimeError(
                    f"lineage already holds build_id=stream_{batch_id} for "
                    f"a different doc range "
                    f"({row.get('min_doc')}-{row.get('max_doc')} vs "
                    f"{lo}-{hi}): this out_dir was written under another "
                    f"checkpoint. Resume with the original checkpoint or "
                    f"use a fresh output dir.")
            _publish_if_due()
            return
        docs = batch_df.withColumn("content_sha256",
                                   F.sha2(F.col("content"), 256))
        write_chunk(spark, docs, out_dir, f"stream_{batch_id}",
                    n_batch_docs, lo, hi,
                    {"build_id": f"stream_{batch_id}",
                     "chunk": int(batch_id),
                     "probe_ms": _ms(t_probe - t0),
                     "lineage_ms": _ms(time.monotonic() - t_probe)},
                    profile=profile, seg_bits=seg_bits,
                    n_buckets=n_buckets, t0=t0)
        _publish_if_due()

    writer = docs_stream.writeStream.foreachBatch(process) \
        .trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def publish_index(spark: SparkSession, out_dir: str, profile: str = "code",
                  seg_bits: int = 10, n_buckets: int = 32,
                  compact_files_threshold: int | None = None) -> dict:
    """Recompute exact terms/stats over all appended chunks.

    With ``compact_files_threshold=M``, the publish also consolidates
    the live chunked tree in place (compact_stream_chunks) whenever it
    exceeds M parquet files — bounding per-query file-open fan-out under
    continuous appends. The check is one directory walk; below the
    threshold the publish is unchanged."""
    # finish any compaction a previous publish crashed inside BEFORE
    # reading the tree (no-op when there is no journal)
    _recover_compaction(out_dir)
    docs_w = spark.read.parquet(os.path.join(out_dir, "docs"))
    stats = doc_stats(docs_w)
    postings_dir = os.path.join(out_dir, "postings")
    # a Searcher open on this index caches a plan equal to the read below,
    # holding the file list of its own warm: without the refresh, df would
    # come from that stale cache while n_docs comes from disk. (The
    # Searcher's driver-side dictionary stays as it was warmed.)
    spark.catalog.refreshByPath(postings_dir)
    postings_all = spark.read.option("basePath", postings_dir) \
        .parquet(postings_dir)
    terms = term_stats(postings_all)
    terms.write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
    stats_row = dict(stats, profile=profile, seg_bits=seg_bits,
                     n_buckets=n_buckets, k1=1.2, b=0.75)
    if compact_files_threshold:
        from ..plans.snapshot import parquet_file_count
        n_files = parquet_file_count(postings_dir)
        if n_files > int(compact_files_threshold):
            done = compact_stream_chunks(spark, out_dir,
                                         n_buckets=n_buckets)
            stats_row["compacted_from_files"] = int(n_files)
            stats_row["compacted_chunks"] = int(done["n_chunks_in"])
            stats_row["compacted_to_files"] = int(done["n_files_out"])
    # stats persist LAST so the on-disk record carries the compaction
    # outcome, not just the transient return value
    write_stats_json(spark, out_dir, stats_row)
    # wildcard dictionary projections from an earlier publish are stale
    # against the fresh terms — refresh whichever exist
    # (vocabulary-bounded)
    from ..operators.wildcard import refresh_aux_terms
    refresh_aux_terms(spark, out_dir)
    return stats_row


def compact_stream_chunks(spark: SparkSession, out_dir: str,
                          n_buckets: int = 32,
                          files_per_bucket: int = 1) -> dict:
    """Consolidate ALL postings/chunk=* dirs of a streaming index into one
    `chunk=compact_<n>` dir, in place — the live-tree maintenance that
    keeps per-query file fan-out bounded while appends continue.

    Pure re-layout, no posting-byte decode: streamed chunks carry
    disjoint segment ranges (incremental.py's producer contract), so a
    (term, segment) row lives in exactly one chunk and concatenation IS
    the merge — the same argument as plans/snapshot.compact_postings,
    which remains the COPY-ON-WRITE alternative when pinned readers need
    older versions: this one mutates the live tree, which streaming
    appends mutate anyway. Output files carry contiguous term ranges
    (range exchange + in-file sort), so term-pushdown scans skip whole
    files on parquet footer min/max.

    Crash discipline (journaled, resumable): (1) the consolidated data is
    fully written OUTSIDE the tree; (2) a journal file recording the new
    chunk name and the consumed dirs is atomically published (the COMMIT
    POINT); (3) consumed dirs are removed; (4) the new dir is renamed in;
    (5) the journal is removed. A crash before (2) leaves the tree
    untouched (the orphan tmp dir is rewritten next time); a crash after
    (2) is finished by _recover_compaction — which runs at the start of
    every compaction AND every publish — by replaying (3)–(5), both of
    which are idempotent. Without the journal, a crash mid-(3) made the
    tmp dir the ONLY copy of the removed chunks and the next run deleted
    it. A query racing (3)–(4) on a shared filesystem can still see a
    partial tree — serve from snapshots (plans/snapshot) if readers and
    maintenance share storage."""
    import shutil

    from ..plans.snapshot import parquet_file_count, write_relayout
    _recover_compaction(out_dir)
    src = os.path.join(out_dir, "postings")
    consumed = sorted(d for d in os.listdir(src)
                      if d.startswith("chunk="))
    if len(consumed) <= 1:
        return {"n_chunks_in": len(consumed), "n_files_out": 0,
                "skipped": True}
    nums = [int(d.split("compact_")[1]) for d in consumed
            if "chunk=compact_" in d]
    new_chunk = f"compact_{max(nums) + 1 if nums else 0}"
    raw = spark.read.option("basePath", src).parquet(
        *[os.path.join(src, d) for d in consumed]).drop("chunk")
    n_out = max(1, int(files_per_bucket)) * int(n_buckets)
    tmp = os.path.join(out_dir, "_compacting")
    shutil.rmtree(tmp, ignore_errors=True)
    write_relayout(raw, n_out, tmp)
    _journal_write(out_dir, {"new_chunk": new_chunk, "consumed": consumed})
    _compaction_swap(out_dir, new_chunk, consumed)
    return {"n_chunks_in": len(consumed), "chunk": new_chunk,
            "n_files_out": parquet_file_count(src)}


def _journal_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_compact_journal.json")


def _journal_write(out_dir: str, payload: dict) -> None:
    import json
    tmp = _journal_path(out_dir) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
    os.replace(tmp, _journal_path(out_dir))


def _compaction_swap(out_dir: str, new_chunk: str,
                     consumed: list[str]) -> None:
    """Steps (3)–(5) of the compaction protocol; idempotent, so a crash
    anywhere inside is finished by re-running it from the journal."""
    import shutil
    src = os.path.join(out_dir, "postings")
    dst = os.path.join(src, f"chunk={new_chunk}")
    for d in consumed:
        if d != f"chunk={new_chunk}":
            shutil.rmtree(os.path.join(src, d), ignore_errors=True)
    tmp = os.path.join(out_dir, "_compacting")
    if not os.path.isdir(dst):
        os.replace(tmp, dst)
    os.remove(_journal_path(out_dir))


def _recover_compaction(out_dir: str) -> None:
    """Finish a compaction a previous process crashed inside (journal
    present): replay the swap from the journal. No journal → no-op."""
    import json
    jp = _journal_path(out_dir)
    if not os.path.exists(jp):
        return
    with open(jp, encoding="utf-8") as fh:
        j = json.load(fh)
    _compaction_swap(out_dir, j["new_chunk"], list(j["consumed"]))
