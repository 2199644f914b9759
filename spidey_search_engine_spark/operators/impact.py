"""Impact-ordered postings + early-terminated exact BM25 top-k (round-5
"attack the warm single-query floor" path).

The reference engine scores every posting of every query term
(`src/ranker/QueryResultsFetcher.java:175-242` — the per-word join fans
out the full posting list unconditionally). Block-max range pruning
(wand.py) prunes by DOC PLACEMENT and is provably blind to uniform /
hot-only score shapes: tf saturation flattens every range's bound, the
surviving fraction stays ~1 and the fraction fallback correctly punts to
exhaustive (measured across rounds 3-4, BENCH_CROSSOVER). The standard
next tool is impact ORDERING (Anh & Moffat 2006 impact-sorted indexes;
the JASS score-at-a-time family): organize each term's postings by score
impact instead of doc id, process the high-impact prefix, and stop when
the tail's bound proves no unseen document can reach the top-k.

This implementation keeps the top-k EXACT (rank-identical to
search.bm25_topk_tokens, pinned by test):

* **Aux projection** (`write_impact_index`): each (term, segment)
  posting binary re-partitions its docs into BANDS by tf-saturation
  ``s = tf/(tf + k1·(1-b+b·dl/avgdl))`` quantized at fixed thresholds —
  band 0 is the highest-impact slice. Rows keep the segment granularity
  (doc-range aligned, ascending doc ids → the same LEB128 layout as the
  main index, positions omitted) and land ``partitionBy(band, bucket)``
  so a probe's prefix read is PartitionFilters + term pushdown. A tiny
  (term, band) meta table carries (n_docs, max_tf, min_dl): the band's
  score bound is RECOMPUTED at query time from (max_tf, min_dl) — the
  same avgdl-independence trick as the block-max metadata
  (build.POSTING_SCHEMA), so bounds stay valid when deltas drift avgdl.

* **Query** (`bm25_impact_topk_tokens`), driver-bounded rounds:
  1. collect the query terms' band meta (≤ |q|·n_bands rows, pushdown);
  2. score the current prefix (top bands of each term) with the
     segment-colocated kernel → θ = k-th best prefix partial (job 1);
  3. tail bound T = Σ_t w_t·(k1+1)·max over t's UNPROCESSED bands of
     f(max_tf, min_dl): any document never seen in the prefix scores
     ≤ T. If θ > T, the top-k is inside the seen set: collect the
     candidates with partial ≥ θ − T (job 2; any doc below that has
     full score ≤ partial + T < θ), then exactly rescore ONLY the
     candidates — partial(prefix, already bitwise-known) is completed
     by decoding the unprocessed bands under a doc_filter (job 3);
  4. else widen the prefix by one band per term and repeat (bounded
     rounds); if the prefix would cover ≥ prune_frac of the postings,
     fall back to the exhaustive plan (identical result, one job) —
     the same measured-fraction discipline as wand.py.

Scale: every job is prefix- or candidate-bounded; meta is
query-term-bounded; nothing unbounded lands on the driver (candidate
set capped, over-cap widens or falls back). The prefix read prunes
partitions by (band, bucket) and the candidate rescore decodes only
(term, band, segment) rows — at a 10^12-doc corpus the win grows with
the skew, and the uniform corpus falls back for the cost of one
metadata collect.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import K1, B, decode_segment_nopos, _encode_partial
from .search import (_buckets_of, _decode_posting_rows, _pruned_postings,
                     _term_weight_map, bm25_score_rows, bm25_topk_tokens,
                     empty_frame, query_bag, query_term_weights)

# ascending tf-saturation cut points; band = (#thresholds) - (#cuts <= s),
# so band 0 collects s >= 0.95 (high-tf / short-doc postings) and the
# last band the tf=1 long-doc mass. At avgdl-length docs s(tf)=tf/(tf+1.2):
# 1 -> .455, 2 -> .625, 3 -> .714, 5 -> .806, 10 -> .893, 25 -> .954.
IMPACT_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9, 0.95)

_EMPTY_POS = np.array([], dtype=np.uint64)


def _sat(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return tf / (tf + K1 * (1 - B + B * dl.astype(np.float64) / avgdl))


def write_impact_index(spark: SparkSession, index: dict, out_dir: str,
                       thresholds: tuple = IMPACT_THRESHOLDS) -> None:
    """Materialize the impact-band projection of an index's postings.

    One pass over the compressed segments (no shuffle before the
    partitioned write): each (term, segment) binary splits into ≤
    n_bands band rows, re-encoded with the SAME varint layout (positions
    omitted — the scoring paths never read them). Build-time avgdl only
    picks the band ASSIGNMENT; query-time bounds come from each band's
    (max_tf, min_dl), so a drifted avgdl costs band quality, never
    correctness."""
    stats = index["stats"]
    avgdl = max(float(stats["avgdl"]), 1e-9)
    thr = np.array(sorted(thresholds), dtype=np.float64)
    nb1 = len(thr)

    posts = index["postings"].select("bucket", "term", "segment", "bin")
    schema = ("bucket int, term string, segment long, band int, "
              "n_docs int, max_tf long, min_dl long, bin binary")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for bucket, term, seg, buf in zip(pdf["bucket"], pdf["term"],
                                              pdf["segment"], pdf["bin"]):
                doc_ids, tfs, imp, dls = decode_segment_nopos(bytes(buf))
                band = nb1 - np.searchsorted(
                    thr, _sat(tfs, dls, avgdl), side="right")
                tf_packed = ((tfs.astype(np.uint64) << np.uint64(1))
                             | imp.astype(np.uint64))
                for b in np.unique(band):
                    m = band == b
                    rows.append((
                        int(bucket), term, int(seg), int(b),
                        int(m.sum()), int(tfs[m].max()), int(dls[m].min()),
                        _encode_partial(doc_ids[m], tf_packed[m], dls[m],
                                        _EMPTY_POS)))
            yield pd.DataFrame(rows, columns=[
                "bucket", "term", "segment", "band", "n_docs", "max_tf",
                "min_dl", "bin"])

    rows_df = posts.mapInPandas(kernel, schema=schema)
    rows_dir = os.path.join(out_dir, "rows")
    (rows_df.repartition("band", "bucket")
     .sortWithinPartitions("band", "bucket", "term", "segment")
     .write.mode("overwrite").partitionBy("band", "bucket")
     .parquet(rows_dir))
    # (term, band) meta — the bound table the query rounds collect from;
    # derived from the WRITTEN rows so it can never desync from them
    w = spark.read.option("basePath", rows_dir).parquet(rows_dir)
    (w.groupBy("term", "band")
     .agg(F.sum("n_docs").cast("long").alias("n_docs"),
          F.max("max_tf").alias("max_tf"),
          F.min("min_dl").alias("min_dl"))
     .coalesce(1)
     .write.mode("overwrite").parquet(os.path.join(out_dir, "meta")))
    with open(os.path.join(out_dir, "meta.json"), "w",
              encoding="utf-8") as fh:
        json.dump({"thresholds": [float(t) for t in thr],
                   "n_bands": nb1 + 1,
                   "avgdl_at_build": float(avgdl)}, fh)


def load_impact_index(spark: SparkSession, out_dir: str) -> dict:
    with open(os.path.join(out_dir, "meta.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    rows_dir = os.path.join(out_dir, "rows")
    return {"rows": spark.read.option("basePath", rows_dir)
                         .parquet(rows_dir),
            "meta": spark.read.parquet(os.path.join(out_dir, "meta")),
            **meta}


def _colocated_partials(rows_df: DataFrame, iw: dict[str, float],
                        avgdl: float, seg_bits: int, *,
                        topk: int | None = None,
                        candidates: dict | None = None) -> DataFrame:
    """(doc_id, partial) over impact-band rows, scored segment-at-a-time
    (the bm25_scores_batch_colocated pattern for ONE query): repartition
    on `segment` co-locates every selected band row of a doc range, and
    per-doc accumulation folds rows in (segment, term, band) order —
    bitwise-identical partials between the θ job and the candidate job.

    ``topk``: emit the per-segment top-k partials (θ discovery).
    ``candidates``: ``{"theta": θ, "tails": {term: tail_t}}`` — emit
    every doc whose PER-DOC upper bound clears θ:
    ``partial + Σ_{t NOT seen for this doc} tail_t >= θ``. The kernel
    tracks a per-doc term bitmask, so a doc already seen in the prefix
    for EVERY query term competes on its exact partial alone — the
    candidate set collapses to the genuine θ contenders instead of
    everything above the doc-agnostic ``θ − Σ tails`` floor (round-5
    first cut measured 23k candidates where ~k survive). Past 16 query
    terms the mask degrades to the doc-agnostic bound (a SUPERSET —
    correctness unaffected). Exactly one mode must be set."""
    if (topk is None) == (candidates is None):
        raise ValueError("set exactly one of topk / candidates")
    seg_size = 1 << seg_bits
    wmap = dict(iw)
    kk = int(topk) if topk is not None else 0
    terms_sorted = sorted(wmap)
    tidx = {t: i for i, t in enumerate(terms_sorted)}
    use_mask = candidates is not None and len(terms_sorted) <= 16
    if candidates is not None:
        theta = float(candidates["theta"])
        tails_arr = np.array([float(candidates["tails"].get(t, 0.0))
                              for t in terms_sorted])
        t_total = float(tails_arr.sum())
        if use_mask:
            n_t = len(terms_sorted)
            mask_tail = np.zeros(1 << n_t)
            for m in range(1 << n_t):
                mask_tail[m] = tails_arr[[i for i in range(n_t)
                                          if m >> i & 1]].sum()

    pruned = (rows_df.select("term", "segment", "band", "bin")
              .repartition("segment")
              .sortWithinPartitions("segment", "term", "band")
              .select("term", "segment", "bin"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_seg = -1
        acc = None
        msk = None

        def flush():
            if acc is None:
                return None
            base = cur_seg << seg_bits
            nz = np.flatnonzero(acc)
            if nz.size == 0:
                return None
            vals = acc[nz]
            if topk is not None:
                order = np.lexsort((nz, -vals))[:kk]
                sel = nz[order]
            else:
                # per-doc bound: exact prefix partial + the tail of the
                # terms this doc was NOT seen for (1e-12 slack so a float
                # rounding of the BOUND can only ADD candidates)
                unseen = (t_total - mask_tail[msk[nz]]) if use_mask \
                    else t_total
                sel = nz[vals + unseen >= theta - 1e-12]
            if sel.size == 0:
                return None
            return pd.DataFrame({"doc_id": base + sel.astype(np.int64),
                                 "partial": acc[sel]})

        for pdf in batches:
            for term, seg, buf in zip(pdf["term"], pdf["segment"],
                                      pdf["bin"]):
                w = wmap.get(term)
                if w is None:
                    continue
                seg = int(seg)
                if seg != cur_seg:
                    res = flush()
                    if res is not None:
                        yield res
                    cur_seg = seg
                    acc = np.zeros(seg_size, dtype=np.float64)
                    if use_mask:
                        msk = np.zeros(seg_size, dtype=np.int32)
                doc_ids, tfs, _imp, dls = decode_segment_nopos(bytes(buf))
                off = doc_ids - (seg << seg_bits)
                tf = tfs.astype(np.float64)
                impact = (tf * (K1 + 1)) / (
                    tf + K1 * (1 - B + B * dls.astype(np.float64) / avgdl))
                acc[off] += w * impact
                if use_mask:
                    msk[off] |= 1 << tidx[term]
        res = flush()
        if res is not None:
            yield res

    return pruned.mapInPandas(kernel, schema="doc_id long, partial double")


def bm25_impact_topk_tokens(spark: SparkSession, index: dict, impact: dict,
                            q_terms: list[str], k: int = 10, *,
                            max_rounds: int = 3, prune_frac: float = 0.5,
                            cand_cap: int = 1 << 17,
                            route_info: dict | None = None) -> DataFrame:
    """Exact BM25 top-k via impact-ordered early termination; identical
    ranking contract to bm25_topk_tokens (score DESC, doc_id ASC). See
    module docstring for the algorithm and the proof sketch; `route_info`
    (optional dict) records which path answered — "impact" (terminated),
    "all_bands" (prefix grew to everything: partials ARE exact),
    "exhaustive" (fraction or round fallback) — plus rounds/candidates,
    for tests and benchmarks."""
    info = route_info if route_info is not None else {}
    info.update({"route": "exhaustive", "rounds": 0, "candidates": None})
    stats = index["stats"]
    avgdl = max(float(stats["avgdl"]), 1e-9)
    seg_bits = int(stats["seg_bits"])
    n_buckets = int(stats["n_buckets"])
    if not q_terms:
        return empty_frame(spark, "doc_id long, score double")
    iw = query_term_weights(index, q_terms)
    if not iw:
        return empty_frame(spark, "doc_id long, score double")
    terms = sorted(iw)

    def exhaustive():
        return bm25_topk_tokens(spark, index, list(q_terms), k)

    # band meta for the query terms: ≤ |q|·n_bands rows, term pushdown
    meta = (impact["meta"].filter(F.col("term").isin(terms))
            .collect())
    # two valid band bounds, take the min:
    #  * f(max_tf, min_dl) at QUERY avgdl — valid at any avgdl drift;
    #  * the band's own saturation threshold, transported to query avgdl:
    #    every posting in band b satisfied s < thr_hi at BUILD avgdl, so
    #    its dl obeys x > max_tf·(1−thr)/thr − k1(1−b_c) and the query-
    #    avgdl saturation is ≤ max_tf/(max_tf + k1(1−b_c) + ρ·x_min)
    #    with ρ = avgdl_build/avgdl_query — applied only when ρ ≤ 1
    #    (g is increasing in tf there; at ρ=1 it is exactly thr_hi).
    #    This is what makes the tail bound TIGHT: f(max_tf, min_dl)
    #    pairs the band's heaviest tf with its globally shortest doc, a
    #    combination the saturation banding itself rules out.
    thr_asc = [float(t) for t in impact.get("thresholds", [])]
    nb1 = len(thr_asc)
    avgdl_build = float(impact.get("avgdl_at_build", avgdl))
    rho = avgdl_build / avgdl
    per_term: dict[str, list[tuple[int, float, int]]] = {}
    for r in meta:
        mt = float(r["max_tf"])
        band = int(r["band"])
        f_ub = mt / (mt + K1 * (1 - B + B * float(r["min_dl"]) / avgdl))
        if thr_asc and 1 <= band <= nb1 and rho <= 1.0:
            th = thr_asc[nb1 - band]
            x_min = mt * (1 - th) / th - K1 * (1 - B)
            if x_min >= 0:
                f_ub = min(f_ub, mt / (mt + K1 * (1 - B) + rho * x_min))
        per_term.setdefault(r["term"], []).append(
            (band, iw[r["term"]] * (K1 + 1) * f_ub, int(r["n_docs"])))
    if set(per_term) != set(terms):
        # a query term the impact projection doesn't know (stale aux
        # index): its tail bound would silently be wrong — never guess
        return exhaustive()
    for t in per_term:
        per_term[t].sort()  # ascending band number
    total = sum(nd for bands in per_term.values() for _, _, nd in bands)
    cuts = {t: 1 for t in terms}  # prefix = first `cuts[t]` present bands

    def term_tails() -> dict[str, float]:
        out = {}
        for t in terms:
            rest = per_term[t][cuts[t]:]
            out[t] = max((ub for _, ub, _ in rest), default=0.0)
        return out

    buckets = sorted(set(_buckets_of(terms, n_buckets).values()))
    for rnd in range(1, max_rounds + 1):
        info["rounds"] = rnd
        processed = sum(nd for t in terms
                        for _, _, nd in per_term[t][:cuts[t]])
        if processed >= prune_frac * total:
            return exhaustive()
        cut_band = {t: per_term[t][cuts[t] - 1][0] for t in terms}
        mcut = _term_weight_map({t: float(b) for t, b in cut_band.items()})
        prefix = (impact["rows"]
                  .filter(F.col("band") <= max(cut_band.values()))
                  .filter(F.col("bucket").isin(buckets)
                          & F.col("term").isin(terms))
                  .filter(F.col("band") <= mcut[F.col("term")]))
        top = (_colocated_partials(prefix, iw, avgdl, seg_bits, topk=k)
               .orderBy(F.desc("partial"), F.asc("doc_id")).limit(k)
               .collect())
        theta = top[-1]["partial"] if len(top) >= k else float("-inf")
        tails = term_tails()
        t_bound = sum(tails.values())
        if not any(per_term[t][cuts[t]:] for t in terms):
            # prefix covers every band: the partials ARE the full scores
            # and `top` already holds the global top-k of them
            info["route"] = "all_bands"
            return spark.createDataFrame(
                [(int(r["doc_id"]), float(r["partial"])) for r in top],
                "doc_id long, score double")
        if theta > t_bound:
            cand = (_colocated_partials(
                prefix, iw, avgdl, seg_bits,
                candidates={"theta": theta, "tails": tails})
                .limit(cand_cap + 1).collect())
            if len(cand) <= cand_cap:
                info["route"] = "impact"
                info["candidates"] = len(cand)
                c_ids = np.array(sorted(int(r["doc_id"]) for r in cand),
                                 dtype=np.int64)
                # rescore reads ONLY the segments that hold a candidate:
                # the candidate set is driver-bounded (cand_cap), so the
                # segment list is a literal pushdown filter and every
                # other (term, segment) binary is skipped undecoded
                c_segs = sorted({int(d) >> seg_bits for d in c_ids})
                pruned_main = (_pruned_postings(index["postings"], terms,
                                                n_buckets)
                               .filter(F.col("segment").isin(c_segs)))
                rows = _decode_posting_rows(pruned_main,
                                            doc_filter=c_ids)
                return (bm25_score_rows(rows, iw, avgdl)
                        .orderBy(F.desc("score"), F.asc("doc_id"))
                        .limit(k))
        for t in terms:  # widen: one more band per term with bands left
            if cuts[t] < len(per_term[t]):
                cuts[t] += 1
    return exhaustive()


def bm25_impact_topk(spark: SparkSession, index: dict, impact: dict,
                     query: str, k: int = 10, **kw) -> DataFrame:
    return bm25_impact_topk_tokens(spark, index, impact, query_bag(query),
                                   k, **kw)
