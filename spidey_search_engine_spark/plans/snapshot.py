"""Snapshot manifests for concurrent read / maintain (round-2 verdict #6).

A maintenance publish (delete / re-index) that rewrites `postings/` in
place races concurrent readers: a reader listing the directory mid-publish
sees a mix of old and new files. Iceberg solves this with immutable data
files + a tiny versioned metadata tree; the same shape here, minimally:

    out_dir/
      postings/ terms/ stats/ docs/    # v1 data (as written by build_index)
      v2/postings ... v3/postings ...  # copy-on-write maintenance publishes
      snapshots/
        v1.json   {"version": 1, "postings": "postings", "terms": "terms",
                   "stats": "stats", "docs": "docs", "created_at": ...}
        v2.json   {... "postings": "v2/postings" ...}
        LATEST    "2"          (os.replace — atomic pointer flip)

Data directories are IMMUTABLE once a manifest references them: a publish
writes a fresh `v<N>/` tree, then flips LATEST. Readers pin the manifest
they opened with (`load_snapshot(version=...)` or just the dict they got),
so a query planned against snapshot N returns identical results while N+1
publishes — the N files are never touched. Old versions are reclaimed by
an explicit `expire_snapshots`, never by a publish.

The reference has no analog (MySQL transactions serialize its maintenance,
Indexer.java:656-663); this is the Spark-native replacement for that
isolation.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _snap_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "snapshots")


def parquet_file_count(root: str) -> int:
    """Recursive count of .parquet data files under `root` — the
    before/after metric of `compact_postings` (shared by its test, the
    plan capture, and scripts/bench_compaction.py)."""
    return sum(1 for _, _, fs in os.walk(root)
               for f in fs if f.endswith(".parquet"))


def latest_version(out_dir: str) -> int | None:
    try:
        with open(os.path.join(_snap_dir(out_dir), "LATEST")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def read_manifest(out_dir: str, version: int | None = None) -> dict:
    v = latest_version(out_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {out_dir}")
    with open(os.path.join(_snap_dir(out_dir), f"v{v}.json")) as f:
        return json.load(f)


def _write_manifest(out_dir: str, manifest: dict) -> None:
    sd = _snap_dir(out_dir)
    os.makedirs(sd, exist_ok=True)
    v = int(manifest["version"])
    path = os.path.join(sd, f"v{v}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)
    ptr_tmp = os.path.join(sd, "LATEST.tmp")
    with open(ptr_tmp, "w") as f:
        f.write(str(v))
    os.replace(ptr_tmp, os.path.join(sd, "LATEST"))


def init_snapshots(out_dir: str) -> dict:
    """Adopt a plain build_index layout as snapshot v1 (idempotent)."""
    if latest_version(out_dir) is not None:
        return read_manifest(out_dir)
    manifest = {"version": 1, "postings": "postings", "terms": "terms",
                "stats": "stats", "docs": "docs",
                "created_at": time.time()}
    _write_manifest(out_dir, manifest)
    return manifest


def load_snapshot(spark: SparkSession, out_dir: str,
                  version: int | None = None) -> dict:
    """Index dict (same shape as build.load_index) pinned to one snapshot.
    The returned DataFrames reference only that snapshot's immutable data
    dirs — later publishes cannot change their results."""
    m = read_manifest(out_dir, version)
    stats = spark.read.json(
        os.path.join(out_dir, m["stats"])).collect()[0].asDict()
    postings_raw = spark.read.parquet(os.path.join(out_dir, m["postings"]))
    postings = postings_raw
    if "n_buckets" in stats:
        postings = postings_raw.filter(
            F.col("bucket") < int(stats["n_buckets"]))
    return {"docs": spark.read.parquet(os.path.join(out_dir, m["docs"])),
            "postings": postings, "postings_raw": postings_raw,
            "terms": spark.read.parquet(os.path.join(out_dir, m["terms"])),
            "stats": stats, "snapshot_version": int(m["version"])}


def publish_delete(spark: SparkSession, out_dir: str,
                   victims: "DataFrame | list[int]") -> dict:
    """Copy-on-write delete: rewrite only victim segments of the CURRENT
    snapshot's full postings table (sentinels included) into a fresh
    v<N+1>/ tree, republish stats (n_docs/avgdl from rewritten DOCLEN
    sentinels) + term df/cf + the docs table, then flip LATEST. Readers
    pinned to N are untouched. Returns the new manifest."""
    from ..operators.build import (doc_lengths, doc_stats, term_stats,
                                   write_stats_json)
    from ..operators.maintenance import delete_docs_postings

    cur = read_manifest(out_dir)
    stats = spark.read.json(
        os.path.join(out_dir, cur["stats"])).collect()[0].asDict()
    n_buckets = int(stats["n_buckets"])
    seg_bits = int(stats["seg_bits"])
    raw = spark.read.parquet(os.path.join(out_dir, cur["postings"]))

    # Chunked/streaming appends strip the DOCLEN/DOCSHA sentinel rows
    # (lineage.py filters bucket == n_buckets out of resumable chunks);
    # stats republish below derives n_docs/avgdl FROM those sentinels, so
    # without them it would silently publish n_docs=0/avgdl=0. Fail loudly
    # before writing anything instead.
    if not raw.filter(F.col("bucket") == n_buckets).head(1):
        raise ValueError(
            f"{out_dir}: snapshot v{cur['version']} has no sentinel rows "
            "(bucket == n_buckets) — chunked/streaming appends strip "
            "them, so stats cannot be republished after a delete. "
            "Publish stats from the source corpus (streaming "
            "publish_index) or rebuild with build_index first.")

    new_v = int(cur["version"]) + 1
    vdir = os.path.join(out_dir, f"v{new_v}")
    cleaned = delete_docs_postings(raw, victims, seg_bits)
    (cleaned.write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(vdir, "postings")))

    cleaned_w = spark.read.parquet(os.path.join(vdir, "postings"))
    sent = cleaned_w.filter(F.col("bucket") == n_buckets)
    new_stats = doc_stats(doc_lengths(sent))
    query_view = cleaned_w.filter(F.col("bucket") < n_buckets)
    terms = term_stats(query_view)
    terms.write.mode("overwrite").parquet(os.path.join(vdir, "terms"))

    docs = spark.read.parquet(os.path.join(out_dir, cur["docs"]))
    if isinstance(victims, DataFrame):
        kept = docs.join(victims.select("doc_id"), "doc_id", "left_anti")
    else:
        kept = docs.filter(~F.col("doc_id").isin([int(d) for d in victims]))
    kept.write.mode("overwrite").parquet(os.path.join(vdir, "docs"))

    stats_row = dict(stats)
    stats_row.update(new_stats)
    write_stats_json(spark, vdir, stats_row)

    manifest = {"version": new_v,
                "postings": f"v{new_v}/postings",
                "terms": f"v{new_v}/terms",
                "stats": f"v{new_v}/stats",
                "docs": f"v{new_v}/docs",
                "parent": int(cur["version"]),
                "created_at": time.time()}
    _write_manifest(out_dir, manifest)
    return manifest


def write_relayout(postings: DataFrame, n_out: int, path: str) -> None:
    """Write `postings` (chunk column dropped) to `path` as `n_out`
    range-partitioned, (bucket, term, segment)-sorted files, partitioned
    by bucket: the compacted layout of both compact_postings and the
    in-place streaming compaction (incremental.compact_stream_chunks)."""
    (postings.repartitionByRange(n_out, "bucket", "term", "segment")
     .sortWithinPartitions("bucket", "term", "segment")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def compact_postings(spark: SparkSession, out_dir: str,
                     files_per_bucket: int = 1) -> dict:
    """Compact a chunked postings tree into the fresh-build layout,
    published copy-on-write as a new snapshot.

    Incremental appends (streaming/incremental.py) and resumable builds
    (plans/lineage.py) accumulate ``postings/chunk=<c>/bucket=<b>/part-*``:
    after K appends every query-term probe opens K× the files, and
    term-sorted locality holds only within one chunk. Compaction rewrites
    all chunks into one range-laid-out, term-sorted file set per bucket —
    the OPTIMIZE / rewrite_data_files of lakehouse table formats. The
    reference never needs this because MySQL B-trees re-sort on every
    insert (create_database.sql primary keys); that price is paid here
    once per compaction instead of per write.

    Pure re-layout, no posting-byte decode: chunk doc-id ranges are
    segment-aligned (build_index_resumable's ``chunk_segments << seg_bits``;
    the streaming append's disjoint-range contract), so a (term, segment)
    row lives in exactly one chunk and concatenation IS the merge. The range exchange samples (bucket, term, segment) — cheap
    here because the input is materialized parquet, unlike merge_partials
    where a sampling pass would re-run the tokenize lineage. Output files
    then carry contiguous term ranges, so a term-pushdown scan skips whole
    FILES on parquet footer min/max, not just row groups.

    terms/stats/docs are carried over from the parent snapshot unchanged —
    shared immutable dirs; expire_snapshots reclaims them only when no
    live manifest references them. Requires published stats (run the
    build's publish or streaming publish_index first). Readers pinned to
    the parent snapshot are untouched. Returns the new manifest."""
    cur = init_snapshots(out_dir)
    stats = spark.read.json(
        os.path.join(out_dir, cur["stats"])).collect()[0].asDict()
    src = os.path.join(out_dir, cur["postings"])
    raw = spark.read.option("basePath", src).parquet(src)
    if "chunk" in raw.columns:
        raw = raw.drop("chunk")
    n_buckets = int(stats["n_buckets"])
    # +1: single-dir builds keep DOCLEN/DOCSHA sentinels in bucket n_buckets
    n_out = max(1, int(files_per_bucket)) * (n_buckets + 1)
    new_v = int(cur["version"]) + 1
    write_relayout(raw, n_out, os.path.join(out_dir, f"v{new_v}", "postings"))
    manifest = {"version": new_v,
                "postings": f"v{new_v}/postings",
                "terms": cur["terms"],
                "stats": cur["stats"],
                "docs": cur["docs"],
                "parent": int(cur["version"]),
                "compacted_from": int(cur["version"]),
                "created_at": time.time()}
    _write_manifest(out_dir, manifest)
    return manifest


def expire_snapshots(out_dir: str, keep_last: int = 2) -> list[int]:
    """Drop data dirs of snapshots older than the newest `keep_last`
    versions (never the latest). Explicit, like Iceberg's
    expire_snapshots — a publish never deletes anything a pinned reader
    might hold."""
    latest = latest_version(out_dir)
    if latest is None:
        return []
    sd = _snap_dir(out_dir)
    versions = sorted(int(f[1:-5]) for f in os.listdir(sd)
                      if f.startswith("v") and f.endswith(".json"))
    expired = [v for v in versions[:-keep_last]] if keep_last > 0 \
        else versions[:-1]
    live_dirs: set[str] = set()
    for v in versions:
        if v in expired:
            continue
        m = read_manifest(out_dir, v)
        for k in ("postings", "terms", "stats", "docs"):
            live_dirs.add(m[k].split("/")[0])
    for v in expired:
        m = read_manifest(out_dir, v)
        for k in ("postings", "terms", "stats", "docs"):
            top = m[k].split("/")[0]
            if top not in live_dirs:
                shutil.rmtree(os.path.join(out_dir, top),
                              ignore_errors=True)
        os.remove(os.path.join(sd, f"v{v}.json"))
    return expired
