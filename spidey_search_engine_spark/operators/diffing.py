"""Corpus version diff — what changed between two snapshots of a table.

Training-data pipelines re-pull their sources continuously; before
re-running an expensive clean/dedup/index build over a new snapshot, the
first question is always "what actually changed?" — and the reference
engine's recrawl delta (A8: URL-keyed add/delete) is the same question
asked of a crawl. This operator answers it at corpus scale:

    corpus_diff(old, new) -> (doc_id, status)   status ∈
        added      id only in the new snapshot
        removed    id only in the old snapshot
        changed    id in both, content sha256 differs
        unchanged  id in both, content byte-identical

One full-outer join on the id — the only corpus-scale exchange, on a
unique uniform key (no skew) — comparing sha256 fingerprints computed
in-scan (the same per-row invariant column the build pipeline carries,
so a snapshot that already HAS content_sha256 can pass `sha_col=` and
skip hashing entirely). `corpus_diff_summary` collapses the statuses to
counts (+ optional per-column breakdown) for the pipeline log line.

The incremental-build composition: `changed ∪ added` is exactly the
re-index set for maintenance.reindex_docs / the re-clean set for the
pipeline — diff once, then every downstream stage runs on the delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "content",
                sha_col: str | None = None) -> DataFrame:
    """(id_col, status) for every id in either snapshot. `sha_col` names
    a precomputed sha256 column (both sides) to skip in-scan hashing."""

    def keyed(df: DataFrame, side: str) -> DataFrame:
        sha = (F.col(sha_col) if sha_col
               else F.sha2(F.col(text_col), 256))
        # explicit presence marker: sha2(NULL) is NULL, so "sha is NULL"
        # cannot distinguish an absent row from a NULL-content row — a
        # NULL-content doc present in both snapshots must compare as
        # unchanged (eqNullSafe), not masquerade as added/removed
        return df.select(F.col(id_col), sha.alias(f"_sha_{side}"),
                         F.lit(True).alias(f"_in_{side}"))

    j = keyed(old, "o").join(keyed(new, "n"), id_col, "full_outer")
    status = (F.when(F.col("_in_o").isNull(), "added")
              .when(F.col("_in_n").isNull(), "removed")
              .when(F.col("_sha_o").eqNullSafe(F.col("_sha_n")),
                    "unchanged")
              .otherwise("changed"))
    return j.select(id_col, status.alias("status"))


def corpus_diff_summary(old: DataFrame, new: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "content",
                        sha_col: str | None = None,
                        by: "list[str] | None" = None) -> DataFrame:
    """(status[, *by], n_docs) counts. With `by`, the breakdown columns
    come from the NEW snapshot (removed docs have no new-side row, so
    their breakdown values are NULL — visible, not silently dropped)."""
    d = corpus_diff(old, new, id_col, text_col, sha_col)
    if by:
        d = d.join(new.select(id_col, *by), id_col, "left")
    return (d.groupBy("status", *(by or []))
            .agg(F.count("*").alias("n_docs")))


def changed_ids(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "content",
                sha_col: str | None = None) -> DataFrame:
    """The re-process set: ids whose content is new or different — the
    input to an incremental re-index / re-clean over the delta only."""
    d = corpus_diff(old, new, id_col, text_col, sha_col)
    return d.filter(F.col("status").isin("added", "changed")) \
        .select(id_col)


def index_diff(a: dict, b: dict) -> dict:
    """Semantic index-equivalence check — the validation counterpart of
    every migration this engine performs (reshard, compaction, NRT
    consolidation, a rebuilt snapshot): are two indexes the SAME index?

    Compares, cheapest first:
    * stats     — n_docs / avgdl / seg_bits (seg_bits must match for the
                  postings comparison to be meaningful: segments are
                  doc-range aligned only at equal seg_bits),
    * dictionary — (term, df, cf) full-outer join; any row present on
                  one side only, or disagreeing on df/cf, counts,
    * documents — (doc_id, n_tokens, content_sha256) rows of the docs
                  tables, compared both ways; a doc on one side only, or
                  with another length or content hash, counts (the DOCLEN/
                  DOCSHA sentinel rows that carry these are pruned from
                  the query-facing postings view, so the postings
                  comparison never sees them),
    * postings  — (term, segment) -> sha2(bin) full-outer join; the
                  compressed bytes themselves must agree (reshard and
                  compaction preserve them; a fresh build reproduces
                  them — pinned by the reshard tests).

    Returns {"equal": bool, "stats_equal": bool, "term_mismatches": int,
    "doc_mismatches": int, "posting_mismatches": int, ...}. Cost: one
    dictionary join + one three-column docs comparison + one
    postings-metadata join (term/segment/bin-hash — position bytes ride
    inside `bin` and are hashed in-scan, never decoded). Bucket layout
    and file layout are deliberately IGNORED: n_buckets is a physical
    routing choice, not index content."""
    sa, sb = a["stats"], b["stats"]
    stats_equal = (int(sa["n_docs"]) == int(sb["n_docs"])
                   and float(sa["avgdl"]) == float(sb["avgdl"])
                   and int(sa["seg_bits"]) == int(sb["seg_bits"]))
    out = {"stats_equal": stats_equal,
           "n_docs": [int(sa["n_docs"]), int(sb["n_docs"])],
           "seg_bits": [int(sa["seg_bits"]), int(sb["seg_bits"])]}
    ta = a["terms"].select("term", "df", "cf")
    tb = b["terms"].select("term", F.col("df").alias("df_b"),
                           F.col("cf").alias("cf_b"))
    tm = (ta.join(tb, "term", "full_outer")
          .filter(F.col("df").isNull() | F.col("df_b").isNull()
                  | (F.col("df") != F.col("df_b"))
                  | (F.col("cf") != F.col("cf_b")))
          .count())
    out["term_mismatches"] = int(tm)
    cols = ["doc_id", "n_tokens", "content_sha256"]
    da, db = a["docs"].select(*cols), b["docs"].select(*cols)
    # EXCEPT compares NULLs as equal; a doc differing in either column,
    # or present on one side only, counts once
    dm = (da.subtract(db).unionByName(db.subtract(da))
          .select("doc_id").distinct().count())
    out["doc_mismatches"] = int(dm)
    if int(sa["seg_bits"]) == int(sb["seg_bits"]):
        pa = a["postings"].select("term", "segment",
                                 F.sha2("bin", 256).alias("h"))
        pb = b["postings"].select("term", "segment",
                                 F.sha2("bin", 256).alias("h_b"))
        pm = (pa.join(pb, ["term", "segment"], "full_outer")
              .filter(F.col("h").isNull() | F.col("h_b").isNull()
                      | (F.col("h") != F.col("h_b")))
              .count())
        out["posting_mismatches"] = int(pm)
    else:
        out["posting_mismatches"] = None  # incomparable layouts
    out["equal"] = bool(stats_equal and tm == 0 and dm == 0
                        and out["posting_mismatches"] == 0)
    return out
