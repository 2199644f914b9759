"""Block-max pruned BM25 top-k (SURVEY.md §4 custom #3).

Classic block-max WAND is a document-at-a-time sequential algorithm; a
bulk-synchronous engine prunes with the same *bound structure* in two
distributed phases instead:

Phase 1 (bounds, metadata only): per query, compute for each global
doc-range ``UB = Σ_t w_t·idf_t·(k1+1)·f(max_tf, min_dl)`` from the
``block_first_doc``/``block_max_tf``/``block_min_dl`` arrays recorded at
build, where f is the BM25 impact (monotone ↑ in tf, ↓ in dl, so
f(max_tf, min_dl) bounds every doc in a 128-entry block; avgdl enters only
here, at query time). The posting binaries are never touched in this
phase.

Phase 2 (threshold + prune): exactly score ONLY the top-`probe_ranges`
ranges by bound → threshold θ = k-th best exact score; every range with
UB < θ cannot contain a top-k doc (each doc's score ≤ its range's UB → no
false dismissals). Exactly score only surviving ranges.

**Nothing UNBOUNDED ever lands on the driver.** A hot term (`import` —
stopwords stay in the index) touches every doc range: n_docs/2^range_bits
rows, ~10⁹ at the 10¹²-file north star. So:

* when the whole bound table fits the ``max_mask_ranges`` driver cap
  (metadata — 2^16 rows by default) it is collected ONCE and probe/θ/
  fraction/surviving all derive from literals with zero extra jobs; past
  the cap the probe set comes from ``orderBy(ub).limit(probe_ranges+1)``
  — a bounded collect of ≤ probe_ranges+1 rows;
* surviving ranges stay a DataFrame (``bounds.filter(ub >= θ)``) and reach
  the segment scan through an EQUI left-semi join on the derived segment id
  (ranges map to segments by a constant shift — no non-equi/broadcast-
  nested-loop join); the segment side carries a broadcast hint ONLY when
  the surviving set fit the ``max_mask_ranges`` driver cap — past the cap
  AQE picks the join strategy, so nothing unbounded is ever shipped to the
  driver or broadcast from it;
* the intra-segment doc mask (ranges are finer than segments) is a bounded
  refinement: surviving rngs are collected only up to ``max_mask_ranges``;
  past that cap the kernel scores every doc of surviving segments — a
  SUPERSET of the surviving ranges, which keeps the top-k exact (extra
  exactly-scored docs can never displace a true top-k doc, and no doc is
  ever skipped whose range survived).

``bm25_topk_pruned`` returns the IDENTICAL top-k as the exhaustive path —
asserted for every test query (tests/test_wand.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import B, K1, decode_segment_nopos
from .search import EXPLODE_SCHEMA, bm25_scores, empty_frame, query_bag
from .search import _pruned_postings as _pruned_meta


def query_range_bounds(index: dict, q_terms: list[str],
                       range_bits: int) -> DataFrame:
    """Per doc-range score upper bounds from block metadata. Blocks slice the
    POSTING LIST (128 entries), not doc space — a sparse term's block can
    span many ranges, so its bound is charged to every range in
    [first_doc>>rb, last_doc>>rb] (bounded by the segment's range count)."""
    from .search import _term_weight_map, query_term_weights

    n_buckets = int(index["stats"]["n_buckets"])
    iw = query_term_weights(index, q_terms)
    if not iw:
        spark = SparkSession.getActiveSession()
        return empty_frame(spark, "rng long, ub double")
    m = _term_weight_map(iw)
    # impact upper bound reconstructed from avgdl-independent block stats:
    # tf/(tf+k1(1-b+b·dl/avgdl)) is increasing in tf, decreasing in dl, so
    # f(max_tf, min_dl) bounds every doc in the block (build.POSTING_SCHEMA)
    avgdl = max(float(index["stats"]["avgdl"]), 1e-9)
    impact_ub = (F.col("max_tf")
                 / (F.col("max_tf")
                    + K1 * (1 - B + B * F.col("min_dl") / F.lit(avgdl))))
    blocks = (_pruned_meta(index["postings"], q_terms, n_buckets)
              .select("term",
                      F.explode(F.arrays_zip("block_first_doc",
                                             "block_last_doc",
                                             "block_max_tf",
                                             "block_min_dl")).alias("z"))
              .select("term", F.col("z.block_first_doc").alias("bfd"),
                      F.col("z.block_last_doc").alias("bld"),
                      F.col("z.block_max_tf").cast("double").alias("max_tf"),
                      F.col("z.block_min_dl").cast("double").alias("min_dl"))
              .withColumn("block_ub", m[F.col("term")] * (K1 + 1) * impact_ub)
              .filter(F.col("block_ub").isNotNull()))
    spans = blocks.select(
        F.explode(F.sequence(F.shiftright("bfd", range_bits),
                             F.shiftright("bld", range_bits))).alias("rng"),
        "term", "block_ub")
    return (spans.groupBy("rng", "term").agg(F.max("block_ub").alias("term_ub"))
            .groupBy("rng").agg(F.sum("term_ub").alias("ub")))


def _segments_of_ranges(ranges_df: DataFrame, seg_bits: int,
                        range_bits: int) -> DataFrame:
    """Distinct segment ids covered by a set of doc-ranges — a constant
    shift (seg_bits ≥ range_bits: many ranges per segment) or a bounded
    2^(range_bits-seg_bits)-way sequence explode (coarse ranges)."""
    if seg_bits >= range_bits:
        seg = F.shiftright(F.col("rng"), seg_bits - range_bits)
        return ranges_df.select(seg.alias("segment")).distinct()
    d = range_bits - seg_bits
    return (ranges_df.select(F.explode(F.sequence(
        F.shiftleft(F.col("rng"), d),
        F.shiftleft(F.col("rng") + 1, d) - 1)).alias("segment"))
        .distinct())


def query_term_postings_in_ranges(index: dict, q_terms: list[str],
                                  ranges, range_bits: int,
                                  max_mask_ranges: int = 1 << 16) -> DataFrame:
    """Decode q-term postings restricted to the given doc-ranges.

    ``ranges`` is a list[int] (probe path — tiny by construction) or a
    DataFrame with column ``rng`` (surviving set — potentially huge, never
    collected). Segment rows whose doc-span misses every range are skipped
    WITHOUT decoding via an equi left-semi join on the derived segment id;
    inside surviving segments a vectorized mask drops out-of-range docs —
    the mask rng set is driver-bounded at ``max_mask_ranges`` and simply
    omitted past the cap (correctness unaffected: see module docstring)."""
    n_buckets = int(index["stats"]["n_buckets"])
    seg_bits = int(index["stats"]["seg_bits"])
    pruned = _pruned_meta(index["postings"], q_terms, n_buckets)
    spark = SparkSession.getActiveSession()
    if isinstance(ranges, DataFrame):
        rdf = ranges.select("rng")
        mask_rows = rdf.limit(max_mask_ranges + 1).collect()
        rng_mask = (sorted(int(r["rng"]) for r in mask_rows)
                    if len(mask_rows) <= max_mask_ranges else None)
        if rng_mask is not None:
            # the surviving set fit the driver cap — rebuild the join side
            # from the collected literals so the bounds lineage (a scan +
            # two groupBys over q-term metadata) is not re-evaluated inside
            # the semi-join
            rdf = spark.createDataFrame([(r,) for r in rng_mask], "rng long")
    else:
        rng_mask = sorted({int(r) for r in ranges})
        rdf = spark.createDataFrame([(r,) for r in rng_mask], "rng long")
    segs = _segments_of_ranges(rdf, seg_bits, range_bits)
    # broadcast the segment set only when the surviving ranges fit the
    # driver cap (then |segs| ≤ max_mask_ranges·2^max(0,rb−sb) by
    # construction); past the cap the set can be ~10⁹ rows at the north
    # star, so the hint is dropped and AQE picks the join strategy
    # (shuffle semi-join) instead of materializing it driver-side
    join_segs = F.broadcast(segs) if rng_mask is not None else segs
    surviving = pruned.join(join_segs, "segment", "left_semi")

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rngs = (np.array(rng_mask, dtype=np.int64)
                if rng_mask is not None else None)
        for pdf in batches:
            cols = {k: [] for k in ["term", "doc_id", "tf", "important", "dl"]}
            for term, buf, bfd, bld in zip(pdf["term"], pdf["bin"],
                                           pdf["block_first_doc"],
                                           pdf["block_last_doc"]):
                if rngs is not None and len(bfd):
                    # block-level pre-check from the 128-doc block metadata:
                    # a block [bfd, bld] intersects the surviving rng set
                    # iff some rng lies in [bfd>>rb, bld>>rb] — searchsorted
                    # over the sorted rng array, no decode needed. A row
                    # none of whose blocks intersect (sparse term inside a
                    # surviving segment) is skipped without touching its
                    # posting bytes.
                    lo = np.asarray(bfd, dtype=np.int64) >> range_bits
                    hi = np.asarray(bld, dtype=np.int64) >> range_bits
                    pos = np.searchsorted(rngs, lo, side="left")
                    ok = (pos < rngs.size) & (rngs[np.minimum(
                        pos, rngs.size - 1)] <= hi)
                    if not ok.any():
                        continue
                doc_ids, tfs, imp, dls = decode_segment_nopos(bytes(buf))
                if rngs is not None:
                    mask = np.isin(doc_ids >> range_bits, rngs)
                    if not mask.any():
                        continue
                    doc_ids, tfs = doc_ids[mask], tfs[mask]
                    imp, dls = imp[mask], dls[mask]
                cols["term"].append(np.repeat(term, doc_ids.size))
                cols["doc_id"].append(doc_ids)
                cols["tf"].append(tfs.astype(np.int32))
                cols["important"].append(imp)
                cols["dl"].append(dls.astype(np.int32))
            yield pd.DataFrame({k: (np.concatenate(v) if v else
                                    np.array([], dtype=object if k == "term" else np.int64))
                                for k, v in cols.items()})

    return surviving.select("term", "segment", "bin", "block_first_doc",
                            "block_last_doc").mapInPandas(
        explode, schema=EXPLODE_SCHEMA)


def bm25_topk_pruned_terms(spark: SparkSession, index: dict,
                           q_terms: list[str], k: int = 10,
                           range_bits: int = 10, probe_ranges: int = 32,
                           max_mask_ranges: int = 1 << 16,
                           prune_frac: float = 0.5) -> DataFrame:
    """Pruned top-k over already-analyzed terms; identical to the exhaustive
    scorer by construction.

    Two auto-fallbacks to the exhaustive plan (identical result either
    way): (1) the bound table has ≤ probe_ranges rows — probing would score
    everything; (2) after θ is known, the surviving-range fraction is ≥
    ``prune_frac`` — score distributions too flat for range pruning to pay
    for its extra driver rounds (one extra metadata-only aggregate decides
    this; on a uniform-score corpus the fraction is ~1.0 and pruning would
    only add overhead, measured +4–8 s per hot query at 2.4M docs)."""
    if not q_terms:
        return empty_frame(spark, "doc_id long, score double")

    def exhaustive():
        from .search import query_term_postings as _qtp
        rows = _qtp(index["postings"], q_terms,
                    int(index["stats"]["n_buckets"]))
        return (bm25_scores(rows, index, q_terms)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .select("doc_id", "score"))

    bounds = query_range_bounds(index, q_terms, range_bits)

    def theta_from_probe(probe: list[int]) -> float:
        probe_rows_df = query_term_postings_in_ranges(index, q_terms, probe,
                                                      range_bits)
        seed = (bm25_scores(probe_rows_df, index, q_terms)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .collect())
        return seed[-1]["score"] if len(seed) >= k else 0.0

    # bounded collect: when the whole bound table fits the driver cap
    # (common — it is metadata, n_docs/2^range_bits rows), ONE collect
    # drives probe selection, θ-fraction fallback and the surviving set
    # from literals: the bounds lineage is evaluated exactly once
    head = bounds.limit(max_mask_ranges + 1).collect()
    if len(head) <= max_mask_ranges:
        if not head:
            return empty_frame(spark, "doc_id long, score double")
        if len(head) <= probe_ranges:
            return exhaustive()  # probing would already score every range
        ranked = sorted(head, key=lambda r: (-r["ub"], r["rng"]))
        theta = theta_from_probe(
            [int(r["rng"]) for r in ranked[:probe_ranges]])
        surviving_rngs = [int(r["rng"]) for r in head
                          if r["ub"] >= theta]
        if len(surviving_rngs) >= prune_frac * len(head):
            return exhaustive()
        rows = query_term_postings_in_ranges(index, q_terms, surviving_rngs,
                                             range_bits, max_mask_ranges)
        return (bm25_scores(rows, index, q_terms)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .select("doc_id", "score"))

    # past the cap (~10⁹ ranges at the north star): the bound table NEVER
    # lands on the driver — probe via bounded orderBy-limit, the fraction
    # via one metadata-only aggregate, the surviving set via semi-join
    probe_rows = (bounds.orderBy(F.desc("ub"), F.asc("rng"))
                  .limit(probe_ranges + 1).collect())
    if len(probe_rows) <= probe_ranges:
        return exhaustive()
    theta = theta_from_probe([int(r["rng"]) for r in
                              probe_rows[:probe_ranges]])
    frac = bounds.agg(
        F.count("*").alias("n"),
        F.sum((F.col("ub") >= F.lit(float(theta))).cast("long")).alias("s")
    ).collect()[0]
    if frac["s"] >= prune_frac * frac["n"]:
        return exhaustive()

    surviving = bounds.filter(F.col("ub") >= F.lit(float(theta)))
    rows = query_term_postings_in_ranges(index, q_terms, surviving,
                                         range_bits, max_mask_ranges)
    return (bm25_scores(rows, index, q_terms)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .select("doc_id", "score"))


def bm25_topk_pruned(spark: SparkSession, index: dict, query: str,
                     k: int = 10, range_bits: int = 10,
                     probe_ranges: int = 32,
                     max_mask_ranges: int = 1 << 16,
                     prune_frac: float = 0.5) -> DataFrame:
    """Top-k BM25 with block-max range pruning; provably identical to
    search.bm25_topk (no false dismissals)."""
    return bm25_topk_pruned_terms(spark, index, query_bag(query), k,
                                  range_bits, probe_ranges, max_mask_ranges,
                                  prune_frac)
