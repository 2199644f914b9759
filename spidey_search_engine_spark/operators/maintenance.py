"""Index maintenance (SURVEY.md §2.3 A8, §2.4 Q13, §2.2 F8/F10).

The reference maintains its index in place: on re-index of a changed page it
deletes that page's postings/positions/connections, decrements df, and
re-inserts (Indexer.java:502-525, 650-654); crawl freshness is decided by
round-tripping RFC-1123 date strings (Indexer.java:788-808, Crawler.java:59);
URLs are normalized before dedup (Crawler.java:282-306); the serving side
upserts user history counts (ApiController.java:60-77).

Spark-native shapes:

* A8 delete/re-index — postings are segmented by doc-id range, so removing
  or replacing docs touches ONLY the segments whose [first_doc, last_doc]
  ranges intersect the victim set; every other row passes through without
  being decoded (at 10^12 files that is the difference between rewriting a
  few MB and rewriting the index). df/cf/stats are recomputed from the
  surviving postings with plain associative aggregates.
* Q13 upsert — a full-outer DataFrame merge, times = old + new visit count.
* F8/F10 — pure column-expression chains (JVM-side, codegen'd, no UDF).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.sql import functions as F

from .build import (BLOCK_SIZE, DOCLEN_TERM, K1, B, POSTING_SCHEMA,
                    SENTINEL_PREFIX,
                    _decode_partial, _encode_partial, build_partials,
                    merge_partials)

# ---------------------------------------------------------------------------
# F8 — URL normalization (Crawler.java:282-306), as a column expression
# ---------------------------------------------------------------------------


def normalize_url(url: Column) -> Column:
    """Exact reference chain: collapse runs of 2+ slashes to one, strip an
    existing http:/ or https:/ scheme prefix (post-collapse), force http://,
    drop one trailing slash, lowercase everything. One Catalyst expression
    tree, whole-stage-codegen'd — no UDF."""
    c = F.regexp_replace(url, "/{2,}", "/")
    stripped = (F.when(c.startswith("http:/"), c.substr(F.lit(7), F.length(c)))
                .when(c.startswith("https:/"), c.substr(F.lit(8), F.length(c)))
                .otherwise(c))
    forced = F.concat(F.lit("http://"), stripped)
    no_trail = (F.when(forced.endswith("/"),
                       forced.substr(F.lit(1), F.length(forced) - 1))
                .otherwise(forced))
    return F.lower(no_trail)


def with_normalized_url(df: DataFrame, url_col: str = "url",
                        out_col: str = "url_norm") -> DataFrame:
    return df.withColumn(out_col, normalize_url(F.col(url_col)))


# ---------------------------------------------------------------------------
# F10 — RFC-1123 date round-trip + freshness state (Indexer.java:771-817)
# ---------------------------------------------------------------------------

RFC1123 = "EEE, dd MMM yyyy HH:mm:ss 'GMT'"


def to_rfc1123(ts: Column) -> Column:
    """Format a timestamp the way the reference stores crawl/index times
    (Crawler.java:59: "E, dd MMM yyyy HH:mm:ss z" in GMT)."""
    return F.date_format(F.to_utc_timestamp(ts, "UTC"), RFC1123)


def parse_rfc1123(s: Column) -> Column:
    # Spark >= 3.0 refuses day-of-week in *parse* patterns
    # (INCONSISTENT_BEHAVIOR_CROSS_VERSION); "EEE, " is redundant for the
    # instant, so strip the 5-char prefix and parse the rest
    return F.to_timestamp(F.substring(s, 6, 1 << 20),
                          "dd MMM yyyy HH:mm:ss 'GMT'")


def index_state(crawled: Column, indexed: Column) -> Column:
    """Reference freshness decision (Indexer.java:788-808): never indexed →
    INDEX; SKIP only when indexed STRICTLY AFTER last crawl
    (Indexer.java:797 ``indexed > crawled → SKIP``), so equality — common
    with second-truncated timestamps — re-indexes. Inputs are the stored
    RFC-1123 strings."""
    c, i = parse_rfc1123(crawled), parse_rfc1123(indexed)
    return (F.when(i.isNull(), F.lit("INDEX"))
            .when(i <= c, F.lit("REINDEX"))
            .otherwise(F.lit("SKIP")))


# ---------------------------------------------------------------------------
# Q13 — history upsert (ApiController.java:60-77)
# ---------------------------------------------------------------------------


def upsert_history(history: DataFrame, visits: DataFrame) -> DataFrame:
    """INSERT IGNORE + times += 1 per new visit, as one outer merge.

    history: (user_id, doc_id, times); visits: (user_id, doc_id) one row per
    click. Serving-side tables are tiny — but the merge is still expressed
    as a keyed aggregate + full-outer join so it holds at any size."""
    inc = visits.groupBy("user_id", "doc_id").agg(F.count("*").alias("_inc"))
    return (history.join(inc, ["user_id", "doc_id"], "full_outer")
            .select("user_id", "doc_id",
                    (F.coalesce(F.col("times"), F.lit(0))
                     + F.coalesce(F.col("_inc"), F.lit(0))).alias("times")))


# ---------------------------------------------------------------------------
# A8 — delete / re-index docs against an existing postings table
# ---------------------------------------------------------------------------


def _reencode_without(buf: bytes, victims: set):
    """Decode one segment, drop victim docs, re-encode + fresh block-max.
    Returns None if the segment becomes empty."""
    doc_ids, tf_packed, dls, pos_gaps = _decode_partial(buf)
    keep = np.array([d not in victims for d in doc_ids], dtype=bool)
    if keep.all():
        return "unchanged"
    if not keep.any():
        return None
    tfs_all = (tf_packed >> 1).astype(np.int64)
    starts = np.zeros(doc_ids.size, dtype=np.int64)
    np.cumsum(tfs_all[:-1], out=starts[1:])
    pos_parts = [pos_gaps[starts[i]:starts[i] + tfs_all[i]]
                 for i in np.flatnonzero(keep)]
    pos_new = (np.concatenate(pos_parts) if pos_parts
               else np.zeros(0, np.uint64))
    doc_ids, tf_packed, dls = doc_ids[keep], tf_packed[keep], dls[keep]
    buf2 = _encode_partial(doc_ids, tf_packed, dls, pos_new.astype(np.uint64))
    from .build import _block_meta
    bfirst, blast, bmaxtf, bmindl, cf = _block_meta(
        doc_ids, tf_packed.astype(np.int64), dls.astype(np.int64))
    return (int(doc_ids.size), cf, buf2, bfirst, blast, bmaxtf, bmindl)


def _reencode_sha_without(buf: bytes, victims: set):
    """DOCSHA sentinel rows carry their own fixed 32-byte-payload layout
    (build._encode_sha_block) — re-encode dropping victim docs."""
    from .build import _decode_sha_block, _encode_sha_block
    doc_ids, payload = _decode_sha_block(buf)
    keep = np.array([d not in victims for d in doc_ids], dtype=bool)
    if keep.all():
        return "unchanged"
    if not keep.any():
        return None
    mat = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 32)
    doc_ids = doc_ids[keep]
    buf2 = _encode_sha_block(doc_ids, mat[keep].tobytes())
    return (int(doc_ids.size), 0, buf2, [], [], [], [])


def delete_docs_postings(postings: DataFrame,
                         doc_ids: "list[int] | DataFrame",
                         seg_bits: int) -> DataFrame:
    """Remove a set of docs from the postings table.

    Only rows whose segment contains a victim doc are decoded; the rest
    stream through untouched — the filter is on the `segment` column, so at
    scale Catalyst prunes with parquet min/max stats and the overwhelming
    majority of the index is never read into Python.

    ``doc_ids`` is either a Python list (maintenance-sized deletes) or a
    DataFrame with a `doc_id` column (bulk GDPR-style deletes): the
    DataFrame path NEVER collects victims to the driver — victims are
    grouped per segment (collect_list bounded by 2^seg_bits docs/segment),
    joined to the affected rows on `segment` (AQE picks broadcast vs
    shuffle by actual size), and each kernel row reads its own segment's
    victim set from the joined column.

    Sentinel rows are handled by layout: DOCLEN rows share the partial
    layout (victims' dl entries drop with the normal path); DOCSHA rows use
    their own 32-byte-payload layout and get their own re-encode — so the
    function accepts either the query-facing postings view (sentinel bucket
    pruned out by load_index) or the full on-disk table. NOTE: global stats
    (n_docs/avgdl) and the docs table are derived artifacts — republish
    them after a delete (doc_lengths + doc_stats over the rewritten
    sentinels, build.term_stats for df/cf), as build_index does. A
    caller that persists the new terms over an index dir's `terms` table
    must also call wildcard.refresh_aux_terms(spark, index_dir): the
    prefix/suffix/n-gram projections derive from `terms` and would
    otherwise serve the pre-maintenance vocabulary."""
    out_cols = [f.name for f in POSTING_SCHEMA.fields] + ["bucket"]
    from .build import DOCSHA_TERM

    if isinstance(doc_ids, DataFrame):
        v_seg = (doc_ids.select(F.col("doc_id").cast("long"))
                 .groupBy(F.shiftright("doc_id", seg_bits).alias("segment"))
                 .agg(F.collect_set("doc_id").alias("seg_victims")))
        untouched = postings.join(v_seg.select("segment"), "segment",
                                  "left_anti")
        affected = postings.select(*out_cols).join(v_seg, "segment", "inner")
        shared_victims = None
        in_cols = out_cols + ["seg_victims"]
    else:
        victim_segs = sorted({int(d) >> seg_bits for d in doc_ids})
        shared_victims = set(int(d) for d in doc_ids)
        untouched = postings.filter(~F.col("segment").isin(victim_segs))
        affected = postings.filter(
            F.col("segment").isin(victim_segs)).select(*out_cols)
        in_cols = out_cols

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                victims = (shared_victims if shared_victims is not None
                           else set(int(d) for d in r.seg_victims))
                if r.term == DOCSHA_TERM:
                    res = _reencode_sha_without(bytes(r.bin), victims)
                else:
                    res = _reencode_without(bytes(r.bin), victims)
                if res is None:
                    continue
                if res == "unchanged":
                    rows.append((r.term, r.segment, r.n_docs, r.cf, r.bin,
                                 list(r.block_first_doc),
                                 list(r.block_last_doc),
                                 list(r.block_max_tf),
                                 list(r.block_min_dl), r.bucket))
                else:
                    n, cf, buf, bf, bl, bmt, bmd = res
                    rows.append((r.term, r.segment, n, cf, buf, bf, bl,
                                 bmt, bmd, r.bucket))
            yield pd.DataFrame(rows, columns=out_cols)

    schema = StructType(list(POSTING_SCHEMA.fields)
                        + [StructField("bucket", IntegerType())])
    rewritten = affected.select(*in_cols).mapInPandas(rewrite, schema=schema)
    return untouched.select(*out_cols).unionByName(rewritten)


def reindex_docs(spark: SparkSession, postings: DataFrame,
                 changed_docs: DataFrame, seg_bits: int,
                 n_buckets: int, profile: str = "code") -> DataFrame:
    """A8 full shape: replace the postings of `changed_docs` (docs whose
    content changed) inside an existing postings table.

    delete (segment-pruned rewrite) → build fresh partials for just the
    changed docs → merge → union. Segments are doc-range-disjoint, so the
    union stays per-(term, segment) unique. The victim set stays a
    DataFrame end-to-end (bulk-delete path) — nothing is collected."""
    cleaned = delete_docs_postings(postings, changed_docs.select("doc_id"),
                                   seg_bits)
    fresh_parts = build_partials(changed_docs, profile=profile,
                                 seg_bits=seg_bits) \
        .filter(~F.col("term").startswith(SENTINEL_PREFIX))
    fresh = merge_partials(fresh_parts, n_buckets=n_buckets)
    out_cols = [f.name for f in POSTING_SCHEMA.fields] + ["bucket"]
    both = cleaned.select(*out_cols).unionByName(fresh.select(*out_cols))
    # a changed doc stays in its segment, so its old and new postings can
    # share a (term, segment) key → re-merge those pairs' binaries
    return _remerge_duplicate_keys(both)


def _remerge_duplicate_keys(postings: DataFrame) -> DataFrame:
    """Collapse duplicate (term, segment) rows (old-kept + freshly-rebuilt
    postings of a changed doc's segment) back to one row per key.

    repartition co-locates a key's rows on one partition, but mapInPandas
    slices each partition into ~10k-row Arrow batches — a key straddling a
    batch boundary must NOT pass through unmerged, so rows are additionally
    sortWithinPartitions'd (duplicates become adjacent) and the current
    group is carried ACROSS batch boundaries, exactly like
    build.merge_partials' merge_stream."""
    from .build import _merge_group
    out_cols = [f.name for f in POSTING_SCHEMA.fields] + ["bucket"]

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur: tuple | None = None      # (term, segment, bucket)
        grp_rows: list[tuple] = []    # full row tuples of the current key
        rows: list[tuple] = []

        def flush():
            if cur is None:
                return
            if len(grp_rows) == 1:
                rows.append(grp_rows[0])
            else:
                merged = _merge_group(cur[0], int(cur[1]),
                                      [bytes(r[4]) for r in grp_rows])
                rows.append(merged + (int(cur[2]),))

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                k = (r.term, r.segment, r.bucket)
                if k != cur:
                    flush()
                    cur, grp_rows = k, []
                grp_rows.append((r.term, r.segment, int(r.n_docs), int(r.cf),
                                 r.bin, list(r.block_first_doc),
                                 list(r.block_last_doc), list(r.block_max_tf),
                                 list(r.block_min_dl), int(r.bucket)))
            if len(rows) >= 2000:
                yield pd.DataFrame(rows, columns=out_cols)
                rows = []
        flush()
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    schema = StructType(list(POSTING_SCHEMA.fields)
                        + [StructField("bucket", IntegerType())])
    return (postings.repartition("term", "segment")
            .sortWithinPartitions("term", "segment")
            .select(*out_cols).mapInPandas(merge, schema=schema))


# ---------------------------------------------------------------------------
# Index <-> source integrity audit (the north-rule per-row invariant)
# ---------------------------------------------------------------------------


def index_verify(index_docs: DataFrame, source: DataFrame,
                 id_col: str = "doc_id", text_col: str = "content",
                 sha_col: str = "content_sha256") -> DataFrame:
    """Per-row sha256 equality of the index against its source table.

    The build pipeline carries each document's content sha256 through the
    DOCSHA sentinel partials into the index `docs` table (build.doc_shas)
    precisely so the index can later PROVE it still matches the corpus it
    claims to serve — the per-row invariant the engine's contract names.
    This operator is that proof as data: one full-outer join on the doc
    id (unique uniform key, no skew — the same single corpus-scale
    exchange corpus_diff uses) between the index's STORED sha and the
    source's in-scan ``sha2(content, 256)``:

        (doc_id, status)   status ∈
        ok        indexed and the stored sha equals the source content
        stale     indexed but the source content changed underneath
        missing   in the source, never indexed (or dropped by a delete)
        orphaned  in the index, gone from the source

    ``stale ∪ missing`` is exactly maintenance.reindex_docs' input and
    ``orphaned`` is delete_docs_postings' — verify once, repair on the
    delta. The source scan prunes to (id, content); nothing here decodes
    postings, so the audit costs one docs-table read + one source read
    regardless of index size. NULL-content rows hash to NULL on the
    source side; presence markers (not sha nullability) decide
    missing/orphaned and eqNullSafe compares NULL==NULL stored shas as
    equal — the corpus_diff lesson applied here from the start.
    """
    left = index_docs.select(
        F.col(id_col), F.col(sha_col).alias("_sha_idx"),
        F.lit(True).alias("_in_idx"))
    right = source.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("_sha_src"),
        F.lit(True).alias("_in_src"))
    j = left.join(right, id_col, "full_outer")
    status = (F.when(F.col("_in_idx").isNull(), "missing")
              .when(F.col("_in_src").isNull(), "orphaned")
              .when(F.col("_sha_idx").eqNullSafe(F.col("_sha_src")), "ok")
              .otherwise("stale"))
    return j.select(id_col, status.alias("status"))


def index_verify_summary(index_docs: DataFrame, source: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "content",
                         sha_col: str = "content_sha256") -> DataFrame:
    """(status, n_docs) counts — the one-line audit for the build log;
    a clean index reads as a single ``ok`` row."""
    return (index_verify(index_docs, source, id_col, text_col, sha_col)
            .groupBy("status").agg(F.count("*").alias("n_docs")))
