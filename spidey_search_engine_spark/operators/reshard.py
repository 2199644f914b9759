"""Reshard — re-layout built indexes across N shards WITHOUT a rebuild.

The Elasticsearch split/shrink (and Lucene addIndexes) analog: shard
topology is an operational choice that changes over an index's life — a
corpus grows past one shard's maintenance window, or many small crawl-epoch
shards deserve consolidation — and re-tokenizing 10^12 files to change it
would dwarf the actual work. This operator rewrites only the COMPRESSED
postings tree:

* **Never touches the corpus.** Inputs are built indexes; content bytes,
  tokenization, stemming are not re-run.
* **Bytes-only data movement.** Postings rows (term, segment, bin) route to
  their new shard by SEGMENT (segments are doc-id-range aligned:
  segment = doc_id >> seg_bits, operators/build.py) through one
  (bucket, salt) exchange of compressed binaries — the build's own merge
  shuffle, re-used (`merge_partials` also reassigns dictionary buckets, so
  inputs with different n_buckets consolidate cleanly).
* **Boundary segments merge, not duplicate.** When input doc ranges are not
  segment-aligned, two inputs hold rows for the same (term, segment);
  `_merge_group`'s fast path byte-slices them together (disjoint doc sets,
  position bytes never decoded) into the exact row a fresh build would
  produce. DOCLEN/DOCSHA sentinel rows ride the same path, so the new
  shards keep the doc-length table and the sha256 audit trail.
* **Invariant (the test and the oracle): resharding is invisible** —
  FederatedSearch over the new shards is byte-identical to the old
  topology, because federation computes all statistics globally
  (operators/federate.py) and the posting bytes are preserved.

Per-shard dictionaries/stats are recomputed from the routed postings
(one `term_stats` aggregation per shard — df/cf ride the posting rows,
no decode), and each shard's wildcard/aux projections refresh from its
new dictionary. Assignment is deterministic from the segment number:
``mod`` (round-robin — balances hot doc ranges) or ``range`` (contiguous
stripes — preserves doc-id locality for range-heavy workloads).

Scale shape: one filtered scan of each input postings tree + one merge
exchange + one partitioned write, all on compressed bytes; then one
df-bounded dictionary aggregation and one docs-table filter per shard.
Reference parity: none — the reference is single-node/single-index
(one MySQL db, create_database.sql); this is the at-scale operational
complement of operators/federate.py.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (doc_stats, load_index, merge_partials, term_stats,
                    write_stats_json, K1, B)


def _shard_expr(seg_col, n_shards: int, n_segments: int, assign: str):
    if assign == "mod":
        return F.pmod(seg_col, F.lit(int(n_shards))).cast("int")
    if assign == "range":
        stripe = max(1, -(-n_segments // n_shards))  # ceil
        return F.least(F.floor(seg_col / F.lit(stripe)).cast("int"),
                       F.lit(int(n_shards) - 1))
    raise ValueError(f"assign must be 'mod' or 'range', got {assign!r}")


def reshard_index(spark: SparkSession, in_dirs: list[str], out_dir: str,
                  n_shards: int, n_buckets: int | None = None,
                  assign: str = "mod",
                  salt_factor: int = 8) -> list[dict]:
    """Rewrite the index(es) at `in_dirs` as `n_shards` shard indexes
    under ``out_dir/shard_<k>`` (the `build --shards` layout — query them
    with repeatable ``query --index``). Returns each shard's stats row.

    All inputs must share seg_bits and profile (segment routing and the
    analyzer contract depend on them); doc_id disjointness across inputs
    is the same federation contract the inputs already live under."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    if not in_dirs:
        raise ValueError("at least one input index required")
    if "://" in out_dir:
        raise ValueError("reshard_index writes the shard tree via "
                         "local-filesystem renames; give a local out_dir "
                         "and sync to remote storage afterwards")
    idxs = [load_index(spark, d) for d in in_dirs]
    seg_bits = int(idxs[0]["stats"]["seg_bits"])
    profile = str(idxs[0]["stats"].get("profile", "code"))
    for d, ix in zip(in_dirs, idxs):
        st = ix["stats"]
        if int(st["seg_bits"]) != seg_bits:
            raise ValueError(
                f"seg_bits mismatch: {d} has {st['seg_bits']}, "
                f"expected {seg_bits} — segment routing would split docs")
        if str(st.get("profile", "code")) != profile:
            raise ValueError(
                f"analyzer profile mismatch: {d} has "
                f"{st.get('profile')!r}, expected {profile!r}")
    nb_out = int(n_buckets if n_buckets is not None
                 else max(int(ix["stats"]["n_buckets"]) for ix in idxs))

    # docs tables may differ in auxiliary columns across builders (e.g. a
    # streaming-published delta carries chunk metadata) — union on the
    # COMMON columns, in the first input's order
    common = [c for c in idxs[0]["docs"].columns
              if all(c in ix["docs"].columns for ix in idxs)]
    if "doc_id" not in common or "n_tokens" not in common:
        raise ValueError("input docs tables must share doc_id and "
                         f"n_tokens columns (common: {common})")
    docs_all = reduce(DataFrame.unionByName,
                      [ix["docs"].select(*common) for ix in idxs])

    # full postings INCLUDING the sentinel partitions (bucket == input
    # n_buckets): doc lengths and shas must follow their doc ranges
    def _full_postings(d: str) -> DataFrame:
        p = os.path.join(d, "postings")
        return (spark.read.option("basePath", p).parquet(p)
                .select("term", "segment", "bin"))

    rows = reduce(DataFrame.unionByName,
                  [_full_postings(d) for d in in_dirs])
    if assign == "range":
        # contiguous stripes need the real segment-space extent (doc ids
        # may be sparse across inputs); one max() over parquet footers
        n_segments = int(rows.agg(F.max("segment")).collect()[0][0]) + 1
    else:
        n_segments = 1  # unused by 'mod'
    shard_of_seg = _shard_expr(F.col("segment"), n_shards, n_segments,
                               assign)

    # ONE merge exchange + ONE partitioned write for every output shard:
    # (term, segment) groups are atomic under the shard split (a segment
    # maps to exactly one shard), so the build's own merge machinery
    # consolidates duplicates/buckets and the write fans out by shard
    merged = merge_partials(rows, n_buckets=nb_out,
                            salt_factor=salt_factor, doclen_bucket=nb_out)
    tmp = os.path.join(out_dir, "_reshard_tmp")
    try:
        (merged.withColumn("shard", shard_of_seg)
         .write.mode("overwrite").partitionBy("shard", "bucket")
         .parquet(tmp))
        # every shard must hold segments BEFORE the first rename, so a
        # failure leaves no renamed shard behind
        empty = [k for k in range(n_shards)
                 if not os.path.isdir(os.path.join(tmp, f"shard={k}"))]
        if empty:
            raise ValueError(
                f"shards {empty} received no segments — the corpus spans "
                f"fewer populated segments than {n_shards} shards; "
                f"lower n_shards")
        out_stats: list[dict] = []
        for k in range(n_shards):
            sdir = os.path.join(out_dir, f"shard_{k}")
            pdir = os.path.join(sdir, "postings")
            os.makedirs(sdir, exist_ok=True)
            if os.path.isdir(pdir):
                shutil.rmtree(pdir)
            os.rename(os.path.join(tmp, f"shard={k}"), pdir)
            shard_docs = docs_all.filter(
                _shard_expr(F.shiftright("doc_id", seg_bits), n_shards,
                            n_segments, assign) == k)
            shard_docs.write.mode("overwrite").parquet(
                os.path.join(sdir, "docs"))
            stats = doc_stats(spark.read.parquet(os.path.join(sdir, "docs")))
            postings_k = (spark.read.option("basePath", pdir).parquet(pdir)
                          .filter(F.col("bucket") < nb_out))
            term_stats(postings_k).write.mode(
                "overwrite").parquet(os.path.join(sdir, "terms"))
            stats_row = dict(stats, avgdl=float(stats["avgdl"]),
                             profile=profile, seg_bits=seg_bits,
                             n_buckets=nb_out, k1=K1, b=B)
            write_stats_json(spark, sdir, stats_row)
            from .wildcard import refresh_aux_terms
            refresh_aux_terms(spark, sdir)
            out_stats.append(stats_row)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_stats
