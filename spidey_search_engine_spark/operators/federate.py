"""Federated (sharded) search — BM25 top-k over MANY shard indexes with
GLOBAL statistics.

At 10^12 files one monolithic index is neither buildable in one job nor
maintainable under churn: production engines shard the corpus (by repo
hash, by crawl epoch, by language...), build each shard independently
with `build_index`, and answer queries across shards. The reference is a
single-node single-index engine (one MySQL database,
QueryResultsFetcher.java scores against the one `word` table); this
module is its at-scale generalization, governed by one invariant:

    **federation is invisible in the scores** — the federated top-k over
    a disjoint sharding of a corpus equals the single-index top-k over
    the union corpus, byte for byte.

That holds iff every score input is computed GLOBALLY:

* N (corpus size) = Σ shard n_docs,
* avgdl = Σ shard total_tokens / Σ shard n_docs,
* df(term) = Σ shard df(term)  → search.bm25_idf(df, N), the same
  query-time function the single-index path applies to its own df.

The k query terms' df rows are fetched per shard (the same Q1 pushdown
lookup the single-index path does — k tiny scans, never a dictionary
scan), summed driver-side, and the global idf×multiplicity weights
enter the scoring stage as one literal map.

Execution shape: per shard, the standard bucket-partition-pruned probe +
vectorized segment decode (query_term_postings — each shard keeps its
own n_buckets); the decoded row DataFrames union (no shuffle: union is
plan-level concatenation); ONE per-doc term-ordered fold
(search.bm25_score_rows) and ONE TakeOrderedAndProject produce the top-k.
Cost = Σ per-shard probe bytes, identical to what a single index over the
union would read.

Sharding contract: shards must be DISJOINT on doc_id — a doc present in
two shards would sum its own partials twice. Operationally that means
doc_ids are assigned ONCE, upstream of the sharding (build.assign_doc_ids
over the whole corpus, or disjoint id ranges per shard): build_index
assigns its own dense 0..N ids when the column is absent, which WOULD
collide across independently built shards. `verify_disjoint=True`
checks exactly the violation that can corrupt THIS query ((term, doc_id)
decoded from more than one shard) for one extra query-bounded
aggregation; at known-disjoint layouts leave it off.

Federation also gives near-real-time serving for free (the Lucene-NRT /
main+delta pattern): a big immutable BASE index plus a small DELTA index
built by the streaming append path (streaming/incremental.py) federate
into one query surface — new docs serve seconds after arrival without
touching the base, and the delta periodically compacts into a new base
snapshot (plans/snapshot.py). Pinned end-to-end by
test_federated_base_plus_streaming_delta.

Reference parity: QueryResultsFetcher.java:239-268 (single-index BM25
semantics, bag weights, tie-breaks) — unchanged here; sharding has no
reference analog, invariant-tested against the monolithic build instead.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .search import (BATCH_CHUNK_QUERIES, BATCH_TOPK_SCHEMA,
                     MAX_BROADCAST_CANDIDATES, TOPK_SCHEMA, _analyze_bags,
                     _bag_weights, _candidate_bound, _topk_after,
                     batch_term_weights, bm25_score_rows,
                     bm25_scores_batch_colocated, empty_frame,
                     filter_doc_ids, local_frame, query_bag, query_df,
                     query_term_postings, rank_candidates,
                     resident_candidates)


def federated_stats(indexes: list[dict]) -> dict:
    """Global (n_docs, total_tokens, avgdl) across shards — the stats
    record the monolithic build over the union corpus would have
    written. Pure driver arithmetic over each shard's stats line."""
    if not indexes:
        raise ValueError("federated_stats needs at least one shard")
    n_docs = sum(int(i["stats"]["n_docs"]) for i in indexes)
    total_tokens = sum(int(i["stats"]["total_tokens"]) for i in indexes)
    if n_docs <= 0:
        raise ValueError("federated shards are all empty")
    return {"n_docs": n_docs, "total_tokens": total_tokens,
            "avgdl": total_tokens / n_docs}


def federated_df(indexes: list[dict],
                 q_terms: list[str]) -> dict[str, float]:
    """Global df for the k query terms: per-shard df pushdown lookups
    (query_df — the same k-term Q1 scan, one per shard), summed. Terms
    absent from EVERY shard drop (df=0 contributes nothing, same
    contract as the single-index lookup)."""
    df_sum: dict[str, float] = {}
    for idx in indexes:
        for t, d in query_df(idx["terms"], q_terms,
                             idx.get("idf_cache")).items():
            df_sum[t] = df_sum.get(t, 0.0) + d
    return df_sum


def federated_posting_rows(indexes: list[dict], q_terms: list[str],
                           verify_disjoint: bool = False) -> DataFrame:
    """Union of every shard's decoded posting rows for the query terms —
    each shard probed with ITS OWN bucket layout (partition pruning per
    shard), concatenated plan-level (union shuffles nothing)."""
    rows = [query_term_postings(idx["postings"], q_terms,
                                int(idx["stats"]["n_buckets"]))
            for idx in indexes]
    out = reduce(DataFrame.unionByName, rows)
    if verify_disjoint:
        # a (term, doc_id) pair decoded from >1 shard is exactly the
        # overlap that would double-count THIS query's partials; the
        # check is query-bounded (runs over the already-pruned rows)
        dup = (out.groupBy("term", "doc_id").count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"shards overlap: doc_id={dup[0]['doc_id']} carries "
                f"term={dup[0]['term']!r} in more than one shard — "
                f"federated scores would double-count; fix the sharding")
    return out


def federated_bm25_topk_tokens(spark: SparkSession, indexes: list[dict],
                               q_terms: list[str], k: int = 10,
                               important_weight: float = 1.0,
                               verify_disjoint: bool = False,
                               gstats: dict | None = None,
                               filters: dict | None = None,
                               after: tuple[float, int] | None = None
                               ) -> DataFrame:
    """Federated twin of search.bm25_topk_tokens: global-stats BM25
    top-k over an analyzed term bag across shards. Bag semantics
    (duplicate terms weight by multiplicity) and tie-breaks (score DESC,
    doc_id ASC) match the single-index path exactly — they must, the
    invariant test diffs the two. `gstats` lets a warm
    serving tier (FederatedSearcher) pass the once-computed global stats
    instead of re-deriving them per query. `filters` is the facets
    drill-down across shards: each shard's docs table gets the SAME
    predicate-pushed two-column scan the single-index path uses
    (search.filter_doc_ids), unioned plan-level and applied LEFT SEMI
    before the top-k — per-shard pruning, one semi-join, no extra
    postings decode.

    `after` is a search_after cursor (search._topk_after): every page
    costs Σ per-shard probe bytes regardless of depth. Scores fold
    per-doc partials in TERM order (bm25_score_rows), so the page-N+1
    recompute is bitwise the page-N score the cursor carries."""
    if not indexes:
        raise ValueError("federated query needs at least one shard")
    if not q_terms:
        return empty_frame(spark, "doc_id long, score double")
    if gstats is None:
        gstats = federated_stats(indexes)
    iw = _bag_weights(q_terms, federated_df(indexes, q_terms),
                      gstats["n_docs"])
    rows = federated_posting_rows(indexes, q_terms,
                                  verify_disjoint=verify_disjoint)
    scores = bm25_score_rows(rows, iw, gstats["avgdl"],
                             important_weight=important_weight)
    if filters:
        keep = reduce(DataFrame.unionByName,
                      [filter_doc_ids(idx["docs"], filters)
                       for idx in indexes])
        # global candidate bound = Σ per-shard df sums (each a cached
        # dictionary lookup); under the budget, stream the unioned
        # predicate-pushed docs scans and broadcast the candidates into
        # them so the corpus-bounded side never shuffles (the
        # _metadata_filtered plan, across shards)
        bound = sum(_candidate_bound(idx, q_terms) for idx in indexes)
        if bound <= MAX_BROADCAST_CANDIDATES:
            scores = (keep.join(F.broadcast(scores), "doc_id")
                      .select(*scores.columns))
        else:
            scores = scores.join(keep, "doc_id", "left_semi")
    return _topk_after(scores, k, after)


def federated_bm25_topk_batch_tokens(
        spark: SparkSession, indexes: list[dict],
        bags: dict[str, list[str]], k: int = 10,
        verify_disjoint: bool = False,
        gstats: dict | None = None) -> DataFrame:
    """Token-level federated batch scorer (the bm25_topk/bm25_topk_tokens
    split, applied to the batch shape), on the SEGMENT-COLOCATED kernel:
    each shard runs search.bm25_scores_batch_colocated with the GLOBAL
    per-(query, term) weights and global avgdl (shard-local statistics
    never touch a score), the per-shard candidate sets union plan-level,
    and one per-query window ranks n_shards × n_segments × |Q| × k
    candidate rows. Byte-identical to bm25_topk_batch over the
    monolithic union index BY CONSTRUCTION: a doc's postings live
    wholly in its shard, the kernel folds them in the same term order
    with the same weights/avgdl, so every partial sum is bitwise equal —
    the CLI round-trip test diffs raw floats. Batches past
    BATCH_CHUNK_QUERIES chunk exactly like the single-index path. The
    string wrapper and the oracle-paired entry both call THIS — one
    pipeline, no copy to drift."""
    if not indexes:
        raise ValueError("federated query needs at least one shard")
    bags = {qid: bag for qid, bag in bags.items() if bag}
    if not bags:
        return empty_frame(
            spark, "query_id string, doc_id long, score double, rank int")
    union_terms = sorted({t for bag in bags.values() for t in bag})
    if gstats is None:
        gstats = federated_stats(indexes)
    qrows = batch_term_weights(bags, federated_df(indexes, union_terms),
                               gstats["n_docs"])
    if verify_disjoint:
        # the overlap check is a standalone query-bounded job over the
        # decoded union rows (the colocated kernel never materializes
        # per-(term, doc) rows to check against)
        federated_posting_rows(indexes, union_terms, verify_disjoint=True)
    qids = sorted(bags)
    chunks = [dict((q, bags[q]) for q in qids[i:i + BATCH_CHUNK_QUERIES])
              for i in range(0, len(qids), BATCH_CHUNK_QUERIES)]
    parts = [bm25_scores_batch_colocated(idx, chunk, k, qrows=qrows,
                                         avgdl=float(gstats["avgdl"]))
             for chunk in chunks for idx in indexes]
    cand = reduce(DataFrame.unionByName, parts)
    wnd = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                 F.asc("doc_id"))
    return (cand.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= k))


def federated_bm25_topk_batch(spark: SparkSession, indexes: list[dict],
                              queries: dict[str, str], k: int = 10,
                              verify_disjoint: bool = False) -> DataFrame:
    """Federated twin of search.bm25_topk_batch — the eval-workload
    shape over a sharded corpus: analyze each query string to a term
    bag, then one shared scoring pass (see ..._batch_tokens). Shared
    hot terms decode once per shard regardless of how many queries use
    them. Same invariant as the single-query path: byte-identical to
    bm25_topk_batch over the monolithic union index."""
    return federated_bm25_topk_batch_tokens(
        spark, indexes, _analyze_bags(queries), k=k,
        verify_disjoint=verify_disjoint)


def federated_bm25_topk(spark: SparkSession, indexes: list[dict],
                        query: str, k: int = 10,
                        important_weight: float = 1.0,
                        verify_disjoint: bool = False) -> DataFrame:
    """Analyze → federated prune/decode → global-stats score → top-k.
    Phrase words enter the bag like the single-index bm25_topk."""
    return federated_bm25_topk_tokens(
        spark, indexes, query_bag(query), k=k,
        important_weight=important_weight, verify_disjoint=verify_disjoint)


class FederatedSearcher:
    """Warm federated serving tier: one search.Searcher per shard plus
    the once-computed global stats.

    What federation adds per query over a single warmed index is (a) the
    global-stats derivation and (b) one df lookup per shard — this class
    removes both from the steady state: global (N, total_tokens, avgdl)
    are computed once at open, and each shard's Searcher preloads its
    dictionary's df column into idf_cache, so federated_df's per-shard
    lookup is a dict hit (zero Spark jobs).
    A warm federated query then plans exactly one job, the same as the
    single-index Searcher. When every shard's warm kept its postings
    resident, bm25 / bm25_tokens / batch plan none: each shard runs the
    kernel in process with the global weights and avgdl, and the
    per-shard top-k merge on the driver (shard doc ids are disjoint), so
    answers equal the monolithic Searcher's bit for bit. `after` and
    `filtered` stay on Spark.

    Searcher kwargs (cache_postings, preload_dict, coalesce_to) pass
    through to every shard; each shard's codegen suppression is
    refcounted session-wide, so nesting is safe. Construction is
    exception-safe:
    a shard failing to warm closes the shards already opened."""

    def __init__(self, spark: SparkSession, indexes: list[dict],
                 **searcher_kwargs):
        from .search import Searcher
        if not indexes:
            raise ValueError("FederatedSearcher needs at least one shard")
        self.spark = spark
        self._searchers: list = []
        try:
            for idx in indexes:
                self._searchers.append(
                    Searcher(spark, idx, **searcher_kwargs))
        except BaseException:
            self.close()
            raise
        self.shards = [s.index for s in self._searchers]
        self.gstats = federated_stats(self.shards)

    def _resident_topk(self, bags: dict[str, list[str]], k: int,
                       important_weight: float = 1.0):
        """(query_id, doc_id, score, rank) pandas rows scored in process
        on every shard's resident postings, or None when a shard's
        postings stayed on Spark."""
        if any(s._resident is None for s in self._searchers):
            return None
        union_terms = sorted({t for bag in bags.values() for t in bag})
        qrows = batch_term_weights(bags,
                                   federated_df(self.shards, union_terms),
                                   self.gstats["n_docs"])
        parts = [resident_candidates(s._resident, s.index, bags, k,
                                     important_weight, qrows=qrows,
                                     avgdl=float(self.gstats["avgdl"]))
                 for s in self._searchers]
        # global qrows give every shard the same query ids and indices
        return rank_candidates(parts[0][0],
                               *(np.concatenate([p[i] for p in parts])
                                 for i in (1, 2, 3)), k)

    def bm25_tokens(self, q_terms: list[str], k: int = 10,
                    important_weight: float = 1.0) -> DataFrame:
        pdf = self._resident_topk({"q": list(q_terms)}, k,
                                  important_weight)
        if pdf is not None:
            return local_frame(self.spark, pdf[["doc_id", "score"]],
                               TOPK_SCHEMA)
        return federated_bm25_topk_tokens(
            self.spark, self.shards, q_terms, k=k,
            important_weight=important_weight, gstats=self.gstats)

    def filtered(self, q_terms: list[str], filters: dict,
                 k: int = 10,
                 important_weight: float = 1.0) -> DataFrame:
        """Facets drill-down across the warmed shards — same global-
        stats scoring, each shard's docs scan predicate-pushed."""
        return federated_bm25_topk_tokens(
            self.spark, self.shards, q_terms, k=k,
            important_weight=important_weight, gstats=self.gstats,
            filters=filters)

    def bm25(self, query: str, k: int = 10,
             important_weight: float = 1.0) -> DataFrame:
        return self.bm25_tokens(query_bag(query), k=k,
                                important_weight=important_weight)

    def after(self, q_terms: list[str], k: int = 10,
              after: tuple[float, int] | None = None,
              important_weight: float = 1.0) -> DataFrame:
        """search_after pagination across the warmed shards — after=None
        is page 1. A cursor is valid from any page these shards served
        (bm25, bm25_tokens or after): every route folds the same
        partials in the same order. Cached global stats + per-shard
        idf_cache keep a warm deep page at one planned job, same as
        page 1."""
        return federated_bm25_topk_tokens(
            self.spark, self.shards, q_terms, k=k, after=after,
            important_weight=important_weight, gstats=self.gstats)

    def batch(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        bags = _analyze_bags(queries)
        pdf = self._resident_topk(bags, k)
        if pdf is not None:
            return local_frame(self.spark, pdf, BATCH_TOPK_SCHEMA)
        return federated_bm25_topk_batch_tokens(
            self.spark, self.shards, bags, k=k, gstats=self.gstats)

    def close(self) -> None:
        for s in self._searchers:
            s.close()
        self._searchers = []

    def __enter__(self) -> "FederatedSearcher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
