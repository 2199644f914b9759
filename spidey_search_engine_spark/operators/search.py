"""Query-time scoring (SURVEY.md §2.4 Q1–Q10, §2.6).

Two rankers over the same postings:

* **BM25** (the north_star primary): k1=1.2, b=0.75,
  ``idf = ln((N-df+0.5)/(df+0.5)+1)``, disjunctive top-k, with an optional
  **block-max pruning** pass (see wand.py) that provably returns the
  identical top-k.
* **Reference-parity scorer**: per word per doc
  ``tf·(1+ln tf)·ln(1+N/df)`` — the tf multiplier reproduces the
  reference's one-row-per-occurrence join fan-out
  (QueryResultsFetcher.java:232-242, SURVEY.md Q3 quirk); phrases score
  ``(1+ln m)·ln(1+N/df_phrase)`` with m = adjacent-position match count
  (QueryResultsFetcher.java:259-289); candidate selection and final
  ordering follow the two-stage top-k (Q8) with documented `doc_id ASC`
  tie-break.

Plan shape: the q-term filter prunes postings partitions by `bucket`
(Q1 — the MySQL hash-index analog), a pandas UDF decodes segments to
(doc_id, tf, dl[, positions]) Arrow batches, scores are built-in column
expressions (JVM/codegen), per-doc rollup is a hash agg, and the top-k is
TakeOrderedAndProject — no driver-side per-row loops, no full-corpus pass
beyond the q-term postings themselves.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

from ..functions.analysis import analyze_query
from ..functions.compress import delta_decode as _delta_decode
from .build import (K1, B, decode_segment, decode_segment_nopos,
                    positions_of)

EXPLODE_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("doc_id", LongType()),
    StructField("tf", IntegerType()),
    StructField("important", BooleanType()),
    StructField("dl", IntegerType()),
])

EXPLODE_POS_SCHEMA = StructType(EXPLODE_SCHEMA.fields + [
    StructField("positions", ArrayType(IntegerType())),
])

# hand-back schemas of the resident tier, as StructTypes: a DDL string
# would be parsed by the JVM on every query
TOPK_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("score", DoubleType()),
])
BATCH_TOPK_SCHEMA = StructType([
    StructField("query_id", StringType()),
    *TOPK_SCHEMA.fields,
    StructField("rank", IntegerType()),
])


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty DataFrame of `schema` that collects without running a
    task: it is backed by an empty RDD (no partitions). The obvious
    `createDataFrame([], schema)` parallelizes the empty list through a
    Python-worker job on every collect (~300 ms vs ~40 ms measured)."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _pruned_postings(postings: DataFrame, terms: list[str],
                     n_buckets: int) -> DataFrame:
    """Q1 dictionary pruning: `bucket` partition filter + `term` pushdown."""
    buckets = sorted({_bucket_of(t, n_buckets) for t in terms})
    return postings.filter(F.col("bucket").isin(buckets)
                           & F.col("term").isin(list(set(terms))))


def _decode_posting_rows(pruned: DataFrame, with_positions: bool = False,
                         doc_filter: np.ndarray | None = None) -> DataFrame:
    """Vectorized segment decode → posting rows. With `doc_filter` (a sorted
    int64 doc-id array, driver-bounded by the caller) non-matching docs are
    dropped INSIDE the decode kernel — before their position arrays are
    materialized or shipped through Arrow."""
    schema = EXPLODE_POS_SCHEMA if with_positions else EXPLODE_SCHEMA

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"term": [], "doc_id": [], "tf": [], "important": [], "dl": []}
            if with_positions:
                out["positions"] = []
            for term, buf in zip(pdf["term"], pdf["bin"]):
                if with_positions:
                    doc_ids, tfs, imp, dls, pos_gaps = \
                        decode_segment(bytes(buf))
                else:
                    # scoring path: the position section (the largest)
                    # is never scanned
                    doc_ids, tfs, imp, dls = decode_segment_nopos(bytes(buf))
                if doc_filter is not None:
                    keep = np.isin(doc_ids, doc_filter)
                    if not keep.any():
                        continue
                    if with_positions:
                        starts = np.concatenate(
                            ([0], np.cumsum(tfs)))[:-1].astype(np.int64)
                        for i in np.flatnonzero(keep):
                            s, tf_i = int(starts[i]), int(tfs[i])
                            p = _delta_decode(pos_gaps[s:s + tf_i])
                            out["positions"].append(p.astype(np.int32))
                    doc_ids, tfs = doc_ids[keep], tfs[keep]
                    imp, dls = imp[keep], dls[keep]
                elif with_positions:
                    out["positions"].extend(
                        [p.astype(np.int32) for p in positions_of(tfs, pos_gaps)])
                out["term"].append(np.repeat(term, doc_ids.size))
                out["doc_id"].append(doc_ids)
                out["tf"].append(tfs.astype(np.int32))
                out["important"].append(imp)
                out["dl"].append(dls.astype(np.int32))
            res = pd.DataFrame({
                "term": np.concatenate(out["term"]) if out["term"] else [],
                "doc_id": np.concatenate(out["doc_id"]) if out["doc_id"] else [],
                "tf": np.concatenate(out["tf"]) if out["tf"] else [],
                "important": np.concatenate(out["important"]) if out["important"] else [],
                "dl": np.concatenate(out["dl"]) if out["dl"] else [],
            })
            if with_positions:
                res["positions"] = out["positions"]
            yield res

    return pruned.select("term", "bin").mapInPandas(explode, schema=schema)


def query_term_postings(postings: DataFrame, terms: list[str],
                        n_buckets: int, with_positions: bool = False) -> DataFrame:
    """Q1 dictionary lookup: bucket partition-pruning + term filter, then
    vectorized segment decode → posting rows."""
    if not terms:
        raise ValueError("empty analyzed query")
    return _decode_posting_rows(_pruned_postings(postings, terms, n_buckets),
                                with_positions)


def binary_postings(postings: DataFrame) -> DataFrame:
    """A6 binary (tf/position-free) postings table: (term, doc_id) decoded
    from the compressed index — the reference's `word_image` parallel index
    shape (create_database.sql:100-124). Only the doc-gap section of each
    segment is decoded; tf/dl/positions bytes are skipped. Writing this
    DataFrame partitioned by bucket materializes the image-style index; the
    Q11 OR-scorer (countDistinct term per doc) runs over it unchanged."""
    from ..functions.compress import decode_varints, delta_decode

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms_out, ids_out = [], []
            for term, buf in zip(pdf["term"], pdf["bin"]):
                b = bytes(buf)
                hdr, off = decode_varints(b, 0, 1)
                n = int(hdr[0])
                gaps, _ = decode_varints(b, off, n)
                doc_ids = delta_decode(gaps)
                terms_out.append(np.repeat(term, n))
                ids_out.append(doc_ids.astype(np.int64))
            yield pd.DataFrame({
                "term": (np.concatenate(terms_out) if terms_out
                         else np.array([], dtype=object)),
                "doc_id": (np.concatenate(ids_out) if ids_out
                           else np.array([], dtype=np.int64)),
            })

    return postings.select("term", "bin").mapInPandas(
        explode, "term string, doc_id long")


def _buckets_of(terms: list[str], n_buckets: int) -> dict[str, int]:
    """term → bucket for all query terms, one tiny JVM evaluation for the
    uncached ones (must equal F.pmod(F.xxhash64(term), n_buckets) — Spark's
    seeded xxhash64 is not worth reimplementing in python)."""
    missing = [t for t in set(terms) if (t, n_buckets) not in _bucket_cache]
    if missing:
        spark = SparkSession.getActiveSession()
        row = spark.range(1).select(*[
            F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets)).cast("int")
            .alias(f"b{i}") for i, t in enumerate(missing)]).collect()[0]
        for i, t in enumerate(missing):
            _bucket_cache[(t, n_buckets)] = int(row[i])
    return {t: _bucket_cache[(t, n_buckets)] for t in set(terms)}


def _bucket_of(term: str, n_buckets: int) -> int:
    return _buckets_of([term], n_buckets)[term]


_bucket_cache: dict[tuple[str, int], int] = {}


def _term_weight_map(values: dict[str, float]):
    """term → double literal map expression (no join, no broadcast
    exchange: k query terms become a constant in the scoring stage)."""
    from itertools import chain
    pairs = list(chain.from_iterable(
        (F.lit(t), F.lit(float(v))) for t, v in values.items()))
    return F.create_map(*pairs)


def query_idf(terms_df: DataFrame, query_terms: list[str],
              col: str = "idf_bm25",
              cache: dict[str, dict[str, float]] | None = None) -> dict[str, float]:
    """Q1 dictionary lookup, literally: fetch the k query terms' idf rows
    (filter pushed into the terms parquet scan). Terms absent from the
    dictionary (df=0) are dropped — they contribute no score.

    With a preloaded `cache` ({col: {term: idf}}, see Searcher) the lookup
    is a dict hit and the query plans exactly ONE Spark job. A HEAD-ONLY
    cache (cache["partial"] is True — Searcher(head_df_threshold=...)) holds
    just the high-df terms; cache misses there mean "tail or absent", so the
    missing terms fall back to the pushdown lookup (one tiny extra job) and
    the answer is memoized for the next query that repeats them."""
    if cache is not None and col in cache:
        c = cache[col]
        out = {t: c[t] for t in set(query_terms) if t in c}
        missing = [t for t in set(query_terms) if t not in c]
        if missing and cache.get("partial"):
            rows = terms_df.filter(F.col("term").isin(missing)) \
                .select("term", col).collect()
            for r in rows:
                out[r["term"]] = c[r["term"]] = float(r[col])
            for t in missing:
                if t not in out:
                    c[t] = None  # memoize the absence too
            return {t: v for t, v in out.items() if v is not None}
        return {t: v for t, v in out.items() if v is not None}
    rows = terms_df.filter(
        F.col("term").isin(list(set(query_terms)))).select("term", col).collect()
    return {r["term"]: float(r[col]) for r in rows}


def query_term_weights(terms_df: DataFrame, query_terms: list[str],
                       idf_cache: dict | None = None) -> dict[str, float]:
    """term → idf×bag-multiplicity — THE per-term weight derivation every
    single-index BM25 variant uses (plain/explain/proximity/pagination).
    One copy so a change to the multiplicity rule or idf column can never
    desync one ranker from the others; terms absent from the dictionary
    (df=0) drop here, which is also each caller's OOV early-exit test."""
    weights = pd.Series(query_terms).value_counts()
    idf = query_idf(terms_df, query_terms, "idf_bm25", idf_cache)
    return {t: idf[t] * float(weights[t]) for t in idf}


def bm25_scores(posting_rows: DataFrame, terms_df: DataFrame, avgdl: float,
                query_terms: list[str],
                idf_cache: dict | None = None,
                important_weight: float = 1.0,
                deterministic: bool = False) -> DataFrame:
    """Per-doc BM25 over decoded posting rows. Duplicate query terms weight
    by multiplicity (bag semantics, matching the reference's repeated
    OR-columns, QueryResultsFetcher.java:239-240).

    The k-term dictionary lookup happens driver-side first (Q1 — one tiny
    pushdown scan of `terms`); idf×weight then enters the scoring stage as
    a literal map, so the scoring plan is ONE job with no broadcast
    exchanges.

    `important_weight` is the BM25F-lite field boost: postings carrying the
    A3 `important` bit (title/path tokens, Indexer.java:385-415 — the
    reference's parity ranker orders on it but its BM25 never uses it) score
    with tf' = tf·w in BOTH the numerator and the saturation denominator —
    the one-field degenerate of BM25F's weighted-field tf (Robertson &
    Zaragoza 2009 §3.3). w=1.0 is byte-identical to unweighted BM25 (the
    expression is only added when w≠1, keeping the default plan
    unchanged)."""
    iw = query_term_weights(terms_df, query_terms, idf_cache)
    return bm25_score_rows(posting_rows, iw, avgdl,
                           important_weight=important_weight,
                           deterministic=deterministic)


def bm25_score_rows(posting_rows: DataFrame, iw: dict[str, float],
                    avgdl: float,
                    important_weight: float = 1.0,
                    deterministic: bool = False) -> DataFrame:
    """The scoring tail of bm25_scores with the per-term weights (idf ×
    bag multiplicity) supplied by the CALLER — the single-index path
    derives them from the shard's own dictionary; the federated path
    (operators/federate.py) derives them from GLOBAL df/N so shard-local
    statistics never leak into the score.

    ``deterministic=True`` folds each doc's per-term partials in TERM
    order (array_sort over the collected (term, partial) structs) instead
    of the plain hash-agg ``F.sum``, whose merge order follows shuffle
    fetch order and can move a double sum by 1 ulp between jobs. Bitwise-
    reproducible scores are what makes an exact-equality cursor sound —
    the search_after path requires it; every other ranker keeps the plain
    sum (one hash agg, no collect_list) because they never compare a
    recomputed score against a stored float. Per-doc group size is
    ≤ |query terms|, so the fold costs a few adds per doc either way."""
    if not iw:
        return empty_frame(posting_rows.sparkSession,
                           "doc_id long, score double")
    m = _term_weight_map(iw)
    tf_eff = F.col("tf").cast("double")
    if important_weight != 1.0:
        tf_eff = F.when(F.col("important"),
                        tf_eff * F.lit(float(important_weight))) \
            .otherwise(tf_eff)
    scored = posting_rows.withColumn(
        "partial",
        m[F.col("term")] * (tf_eff * (K1 + 1)) /
        (tf_eff + K1 * (1 - B + B * F.col("dl") / F.lit(avgdl)))
    ).filter(F.col("partial").isNotNull())
    if deterministic:
        # (term, doc) rows are unique post-merge, so term order is a
        # total order and the left fold is bitwise reproducible.
        return scored.groupBy("doc_id").agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("term", "partial"))),
                F.lit(0.0),
                lambda acc, x: acc + x["partial"]).alias("score"))
    return scored.groupBy("doc_id").agg(F.sum("partial").alias("score"))


def _bm25_scored_tokens(spark: SparkSession, index: dict,
                        q_terms: list[str],
                        important_weight: float = 1.0,
                        deterministic: bool = False) -> DataFrame:
    """Shared prune → decode → score prefix for every token-level BM25
    variant (plain, --fuzzy, --not, --must, wildcard, --boost-important) —
    one place for the idf-cache / bag-multiplicity behavior."""
    if not q_terms:
        return empty_frame(spark, "doc_id long, score double")
    rows = query_term_postings(index["postings"], q_terms,
                               int(index["stats"]["n_buckets"]))
    return bm25_scores(rows, index["terms"],
                       float(index["stats"]["avgdl"]), q_terms,
                       index.get("idf_cache"),
                       important_weight=important_weight,
                       deterministic=deterministic)


def bm25_topk_tokens(spark: SparkSession, index: dict,
                     q_terms: list[str], k: int = 10,
                     important_weight: float = 1.0) -> DataFrame:
    """The post-analysis tail of `bm25_topk`: prune → decode → score →
    TakeOrderedAndProject top-k over an already-analyzed term bag. Shared
    by the default and --fuzzy CLI paths so token rewriting (typo
    correction) composes with EXACTLY the scoring/tie-break/empty-query
    behavior the default path has — any change here changes both.
    `important_weight` is the BM25F-lite boost (see bm25_scores); 1.0
    (default) leaves the plan byte-identical to the unweighted ranker."""
    scores = _bm25_scored_tokens(spark, index, q_terms,
                                 important_weight=important_weight)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_after(spark: SparkSession, index: dict,
                    q_terms: list[str], k: int = 10,
                    after: tuple[float, int] | None = None,
                    important_weight: float = 1.0) -> DataFrame:
    """Stateless deep pagination (the Elasticsearch `search_after`
    pattern): page N+1 = the top-k rows STRICTLY AFTER the cursor — the
    (score, doc_id) of page N's last row — in the ranking order
    (score DESC, doc_id ASC). after=None is page 1 and is byte-identical
    to bm25_topk_tokens (pinned by test).

    The reference paginates by OFFSET (Q8/Q9 two-stage top-k + LIMIT/
    OFFSET in the serving SQL, QueryResultsFetcher.java) — fine at 10
    results a page on one box, but offset-k at page P sorts and discards
    P·k rows: page 1000 costs 1000× page 1 and the driver-side skip grows
    without bound. search_after instead filters the scored rows to
    (score, doc_id) beyond the cursor BEFORE the TakeOrderedAndProject,
    so EVERY page costs exactly one pruned probe + one top-k, independent
    of depth — the only pagination that survives a 10^12-doc corpus.

    The cursor compares a RECOMPUTED score against page N's stored float
    with exact equality, so this path scores with deterministic=True
    (term-ordered fold, bm25_score_rows): a plain hash-agg F.sum merges
    per-term partials in shuffle-fetch order, and a 1-ulp drift between
    the page-N and page-N+1 jobs would make a boundary-tied doc vanish
    (recomputes above s0: fails both branches) or duplicate (recomputes
    below: passes score<s0). With bitwise-reproducible scores the strict
    (score <, or ==score and doc_id >) composite comparison paginates
    ties without loss or duplication; page 1 stays rank-identical to
    bm25_topk_tokens with scores equal up to summation order (pinned at
    9 decimals by test)."""
    scores = _bm25_scored_tokens(spark, index, q_terms,
                                 important_weight=important_weight,
                                 deterministic=True)
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        scores = scores.filter(
            (F.col("score") < F.lit(s0))
            | ((F.col("score") == F.lit(s0))
               & (F.col("doc_id") > F.lit(d0))))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk(spark: SparkSession, index: dict, query: str, k: int = 10) -> DataFrame:
    """Analyze → prune → decode → score → TakeOrderedAndProject top-k.
    Ties break by doc_id ASC (documented deviation, SURVEY.md §7 risk 2)."""
    return bm25_topk_tokens(spark, index, query_bag(query), k)


def bm25_scores_batch(posting_rows: DataFrame, terms_df: DataFrame,
                      avgdl: float, term_bags: dict[str, list[str]],
                      idf_cache: dict | None = None) -> DataFrame:
    """(query_id, doc_id, score) — BM25 for MANY queries in one pass.

    `posting_rows` must cover the UNION of all bags' terms (one decode of
    each shared hot term serves every query that uses it). Per-query
    weights (idf × multiplicity, bag semantics as bm25_scores) form a tiny
    (query_id, term, w) DataFrame broadcast INTO the decoded rows — the
    batch analog of the single-query literal map. One shuffle on
    (query_id, doc_id) scores everything."""
    union_terms = sorted({t for bag in term_bags.values() for t in bag})
    idf = query_idf(terms_df, union_terms, "idf_bm25", idf_cache)
    return bm25_score_rows_batch(posting_rows,
                                 batch_term_weights(term_bags, idf), avgdl)


def batch_term_weights(term_bags: dict[str, list[str]],
                       idf: dict[str, float]) -> list[tuple]:
    """(query_id, term, idf×multiplicity) rows for a batch — bag
    semantics per query; terms absent from `idf` (df=0) drop."""
    qrows = []
    for qid, bag in term_bags.items():
        for term, mult in pd.Series(bag).value_counts().items():
            if term in idf:
                qrows.append((qid, term, float(idf[term]) * float(mult)))
    return qrows


def bm25_score_rows_batch(posting_rows: DataFrame, qrows: list[tuple],
                          avgdl: float) -> DataFrame:
    """The batch scoring tail with the per-(query, term) weights supplied
    by the CALLER — single-index callers derive them from the shard
    dictionary (bm25_scores_batch); the federated path derives them from
    global df/N (operators/federate.py). One broadcast of the tiny
    weights table, one (query_id, doc_id) aggregation."""
    spark = posting_rows.sparkSession
    if not qrows:
        return empty_frame(spark,
                           "query_id string, doc_id long, score double")
    qdf = spark.createDataFrame(qrows, "query_id string, term string, "
                                       "w double")
    return (posting_rows.join(F.broadcast(qdf), "term")
            .withColumn("partial",
                        F.col("w") * (F.col("tf") * (K1 + 1)) /
                        (F.col("tf") + K1 * (1 - B + B * F.col("dl")
                                             / F.lit(avgdl))))
            .groupBy("query_id", "doc_id")
            .agg(F.sum("partial").alias("score")))


def query_bag(query: str) -> list[str]:
    """The BM25 term bag of a query string: its analyzed terms plus the
    words of its quoted phrases (BM25 mode treats phrase words as bag
    terms)."""
    q_terms, phrases = analyze_query(query)
    for p in phrases:
        q_terms.extend(p)
    return q_terms


def _analyze_bags(queries: dict[str, str]) -> dict[str, list[str]]:
    bags = {qid: query_bag(qtext) for qid, qtext in queries.items()}
    return {qid: bag for qid, bag in bags.items() if bag}


def bm25_topk_batch_rowjoin(spark: SparkSession, index: dict,
                            queries: dict[str, str], k: int = 10) -> DataFrame:
    """The round-3 batch plan, kept for rank-identity tests and as the
    shape reference: one decode of the union terms, broadcast of the
    per-query weights fanned onto every decoded row, one
    (query_id, doc_id) aggregation, one per-query window rank. Correct at
    any scale, but the fan-out rows flow through TWO full exchanges —
    measured 1.06 s/q at 2.4M docs (BENCH_SERVE r4), only 1.6× better
    than solo. `bm25_topk_batch` (colocated kernel) replaces it."""
    bags = _analyze_bags(queries)
    if not bags:
        return empty_frame(
            spark, "query_id string, doc_id long, score double, rank int")
    union_terms = sorted({t for bag in bags.values() for t in bag})
    rows = query_term_postings(index["postings"], union_terms,
                               int(index["stats"]["n_buckets"]))
    scores = bm25_scores_batch(rows, index["terms"],
                               float(index["stats"]["avgdl"]), bags,
                               index.get("idf_cache"))
    wnd = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                 F.asc("doc_id"))
    return (scores.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= k))


# driver-side cap on queries scored per colocated job: the kernel's dense
# accumulator is n_queries × 2^seg_bits doubles per in-flight segment
# (~134 MB at 256 queries × seg_bits 16) — bigger batches split into
# unioned chunk plans instead of growing executor memory without bound
BATCH_CHUNK_QUERIES = 256


# term → [(query index, weight)]: which queries of a batch score a term
TermSubs = dict[str, list[tuple[int, float]]]


def colocated_weights(index: dict, bags: dict[str, list[str]],
                      qrows: list[tuple] | None = None
                      ) -> tuple[list[str], TermSubs]:
    """(sorted query ids, term → [(query index, idf×multiplicity)]) — the
    per-term subscriptions the colocated kernel scores. Single-index
    callers leave `qrows` None (weights from THIS index's dictionary);
    the federated path passes GLOBAL-stats qrows so shard-local statistics
    never leak into scores. Terms absent from the dictionary drop; both
    results are empty when no bag has a known term."""
    union_terms = {t for bag in bags.values() for t in bag}
    if qrows is None:
        idf = query_idf(index["terms"], sorted(union_terms), "idf_bm25",
                        index.get("idf_cache"))
        qrows = batch_term_weights(bags, idf)
    else:
        qrows = [r for r in qrows if r[0] in bags and r[1] in union_terms]
    qids = sorted({q for q, _, _ in qrows})
    qidx = {q: i for i, q in enumerate(qids)}
    term_subs: TermSubs = {}
    for q, t, w in qrows:
        term_subs.setdefault(t, []).append((qidx[q], w))
    return qids, term_subs


def score_segments(rows, term_subs: TermSubs, n_q: int, seg_bits: int,
                   avgdl: float, k: int, important_weight: float = 1.0):
    """THE colocated BM25 kernel, in plain numpy: for `rows` of
    (term, segment, bin) sorted by (segment, term), decode each row's
    segment, turn it into BM25 impacts, accumulate every subscribed
    query's per-doc partials into a dense (n_q, 2^seg_bits) array, and
    yield each segment's per-query top-k as (query index, doc_id, score)
    arrays. Both placements call it — the mapInPandas closure of
    bm25_scores_batch_colocated over a partition's Arrow batches, and the
    Searcher's driver-resident postings — so their scores are bitwise
    identical: each doc's sum is the same TERM-ORDERED fold."""
    seg_size = 1 << seg_bits
    cur_seg = -1
    acc = None

    def flush():
        base = cur_seg << seg_bits
        out_q, out_d, out_s = [], [], []
        for i in range(n_q):
            row = acc[i]
            nz = np.flatnonzero(row)
            if nz.size == 0:
                continue
            # (score DESC, doc_id ASC): lexsort's last key is primary
            order = np.lexsort((nz, -row[nz]))[:k]
            sel = nz[order]
            out_q.append(np.full(sel.size, i, dtype=np.int64))
            out_d.append(base + sel.astype(np.int64))
            out_s.append(row[sel])
        if out_q:
            return (np.concatenate(out_q), np.concatenate(out_d),
                    np.concatenate(out_s))
        return None

    for term, seg, buf in rows:
        subs = term_subs.get(term)
        if not subs:
            continue
        seg = int(seg)
        if seg != cur_seg:
            if acc is not None and (res := flush()) is not None:
                yield res
            cur_seg = seg
            acc = np.zeros((n_q, seg_size), dtype=np.float64)
        doc_ids, tfs, imp, dls = decode_segment_nopos(bytes(buf))
        off = doc_ids - (seg << seg_bits)
        tf = tfs.astype(np.float64)
        if important_weight != 1.0:  # BM25F-lite: tf' enters num AND denom
            tf = np.where(imp, tf * important_weight, tf)
        impact = (tf * (K1 + 1)) / (
            tf + K1 * (1 - B + B * dls.astype(np.float64) / avgdl))
        for qi, w in subs:
            acc[qi, off] += w * impact
    if acc is not None and (res := flush()) is not None:
        yield res


def bm25_scores_batch_colocated(index: dict, bags: dict[str, list[str]],
                                k: int = 10,
                                important_weight: float = 1.0,
                                qrows: list[tuple] | None = None,
                                avgdl: float | None = None) -> DataFrame:
    """(query_id, doc_id, score) top-k-per-segment candidates for a batch
    of term bags, scored SEGMENT-AT-A-TIME in one Arrow kernel
    (score_segments).

    Plan: prune the union terms' segment rows (bucket PartitionFilters +
    term pushdown) → ONE repartition on `segment` (doc-range co-location;
    the shuffle moves the COMPRESSED segment binaries — a few bytes per
    posting — never decoded rows) → kernel: decode each term's segment,
    accumulate every query's per-doc partials into a dense
    (n_queries, 2^seg_bits) array, emit the per-query top-k of the
    segment. The caller reduces n_segments × |Q| × k candidate rows to
    the global per-query top-k (tiny).

    Versus the row-join plan this removes BOTH full-row exchanges (the
    (query_id, doc_id) aggregation of the weight-fanned decode and the
    per-query window): per-doc accumulation happens in numpy inside the
    partition that already holds ALL of the doc's query-term postings —
    segments are doc-id-range aligned (build.py: segment = doc_id >>
    seg_bits), so a doc's postings for every term co-locate after the one
    bytes-shuffle. Accumulation iterates rows sorted (segment, term), so
    each doc's partial sum is a TERM-ORDERED fold — bitwise reproducible
    across runs and partitionings (same contract as the pagination
    fold)."""
    stats = index["stats"]
    if avgdl is None:
        avgdl = float(stats["avgdl"])
    seg_bits = int(stats["seg_bits"])
    n_buckets = int(stats["n_buckets"])
    qids, term_subs = colocated_weights(index, bags, qrows)
    spark = index["postings"].sparkSession
    schema = "query_id string, doc_id long, score double"
    if not qids:
        return empty_frame(spark, schema)
    qid_arr = np.asarray(qids, dtype=object)
    n_q, kk, w_imp = len(qids), int(k), float(important_weight)

    pruned = (_pruned_postings(index["postings"], sorted(term_subs),
                               n_buckets)
              .select("term", "segment", "bin")
              .repartition("segment")
              .sortWithinPartitions("segment", "term"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = (r for pdf in batches
                for r in zip(pdf["term"], pdf["segment"], pdf["bin"]))
        for q, d, s in score_segments(rows, term_subs, n_q, seg_bits,
                                      avgdl, kk, w_imp):
            yield pd.DataFrame({"query_id": qid_arr[q], "doc_id": d,
                                "score": s})

    return pruned.mapInPandas(kernel, schema=schema)


def bm25_topk_colocated_tokens(spark: SparkSession, index: dict,
                               q_terms: list[str], k: int = 10,
                               important_weight: float = 1.0) -> DataFrame:
    """Single-query face of the segment-colocated kernel: same ranking
    contract as bm25_topk_tokens (score DESC, doc_id ASC, k rows) with
    the per-doc aggregation folded into the decode partition — no
    decoded-row exchange at all. The candidate set entering the final
    TakeOrderedAndProject is n_segments × k rows. Scores match
    bm25_topk_tokens up to summation order (term-ordered numpy fold vs
    hash-agg; pinned at 9 decimals by test)."""
    if not q_terms:
        return empty_frame(spark, "doc_id long, score double")
    cand = bm25_scores_batch_colocated(index, {"q": list(q_terms)}, k,
                                       important_weight=important_weight)
    return (cand.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def bm25_topk_batch(spark: SparkSession, index: dict,
                    queries: dict[str, str], k: int = 10) -> DataFrame:
    """(query_id, doc_id, score, rank) — top-k for a BATCH of queries via
    the segment-colocated kernel (bm25_scores_batch_colocated): one
    bytes-only shuffle + kernel scoring + a per-query window over
    n_segments × |Q| × k CANDIDATE rows (thousands, not millions — the
    WindowGroupLimit input is already segment-top-k bounded). The eval-
    workload shape: shared hot terms decode once, per-query weights ride
    into the kernel as a closure, and per-doc aggregation never leaves
    numpy. Batches past BATCH_CHUNK_QUERIES split into unioned chunk
    plans to bound the kernel's dense accumulator. Ties break by doc_id
    ASC per query (same discipline as bm25_topk); rank-identity with the
    row-join plan is pinned by test."""
    bags = _analyze_bags(queries)
    if not bags:
        return empty_frame(
            spark, "query_id string, doc_id long, score double, rank int")
    qids = sorted(bags)
    chunks = [dict((q, bags[q]) for q in qids[i:i + BATCH_CHUNK_QUERIES])
              for i in range(0, len(qids), BATCH_CHUNK_QUERIES)]
    parts = [bm25_scores_batch_colocated(index, chunk, k)
             for chunk in chunks]
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)
    wnd = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                 F.asc("doc_id"))
    return (cand.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= k))


def resident_postings(postings: DataFrame
                      ) -> dict[str, list[tuple[int, bytes]]]:
    """term → [(segment, compressed segment bytes)] for a whole postings
    table, collected onto the driver in ONE job through Arrow (never Row
    objects). On a cached DataFrame the same job materializes the cache."""
    tbl = postings.select("term", "segment", "bin").toArrow()
    out: dict[str, list[tuple[int, bytes]]] = {}
    for term, seg, buf in zip(tbl.column("term").to_pylist(),
                              tbl.column("segment").to_pylist(),
                              tbl.column("bin").to_pylist()):
        out.setdefault(term, []).append((seg, buf))
    return out


def bm25_topk_resident(resident: dict[str, list[tuple[int, bytes]]],
                       index: dict, bags: dict[str, list[str]],
                       k: int = 10,
                       important_weight: float = 1.0) -> pd.DataFrame:
    """(query_id, doc_id, score, rank) — the per-bag top-k of the
    colocated route, scored in-process over driver-resident postings
    (resident_postings): no Spark job. Same weights (colocated_weights),
    same kernel (score_segments) fed the same (segment, term)-sorted rows,
    same (score DESC, doc_id ASC) tie-break — so answers equal the Spark
    colocated route bit for bit. Bags without a known term are absent;
    rows come ordered by (query_id, rank)."""
    seg_bits = int(index["stats"]["seg_bits"])
    avgdl = float(index["stats"]["avgdl"])
    names: list[str] = []
    qs, ds, ss = [], [], []
    ordered = sorted(bags)
    # chunked like bm25_topk_batch: bounds the dense accumulator
    for i in range(0, len(ordered), BATCH_CHUNK_QUERIES):
        chunk = {q: bags[q] for q in ordered[i:i + BATCH_CHUNK_QUERIES]}
        qids, term_subs = colocated_weights(index, chunk)
        rows = sorted(((t, seg, buf) for t in term_subs
                       for seg, buf in resident.get(t, ())),
                      key=lambda r: (r[1], r[0]))
        for q, d, sc in score_segments(rows, term_subs, len(qids), seg_bits,
                                       avgdl, int(k),
                                       float(important_weight)):
            qs.append(q + len(names))
            ds.append(d)
            ss.append(sc)
        names.extend(qids)
    if not qs:
        return pd.DataFrame({"query_id": pd.Series([], dtype=object),
                             "doc_id": np.zeros(0, np.int64),
                             "score": np.zeros(0, np.float64),
                             "rank": np.zeros(0, np.int32)})
    q, d, sc = np.concatenate(qs), np.concatenate(ds), np.concatenate(ss)
    order = np.lexsort((d, -sc, q))
    q, d, sc = q[order], d[order], sc[order]
    rank = np.arange(q.size) - np.searchsorted(q, q) + 1
    keep = rank <= k
    return pd.DataFrame({"query_id": np.asarray(names, dtype=object)[q[keep]],
                         "doc_id": d[keep], "score": sc[keep],
                         "rank": rank[keep].astype(np.int32)})


def local_frame(spark: SparkSession, pdf: pd.DataFrame,
                schema: StructType) -> DataFrame:
    """Hand driver-computed rows back as a DataFrame over Arrow: a
    LocalRelation, so collecting it runs no job (~17 ms measured for ten
    rows, vs ~300 ms for `createDataFrame(list)`, which ships the rows
    through a Python-worker job). An EMPTY pandas frame would take that
    Python-worker path too, so no rows means empty_frame."""
    if pdf.empty:
        return empty_frame(spark, schema)
    return spark.createDataFrame(pdf, schema)


# wholeStage-codegen suppression is a SESSION conf, so overlapping
# Searchers on one session must refcount it: the first to open saves the
# original value, the last to close restores it (a naive per-instance
# save/restore deadlocks at "false" when close() ordering interleaves)
_ws_holds: dict[int, list] = {}  # id(spark) -> [depth, original_value]


def _ws_acquire(spark: SparkSession) -> None:
    st = _ws_holds.get(id(spark))
    if st is None:
        orig = spark.conf.get("spark.sql.codegen.wholeStage", "true")
        _ws_holds[id(spark)] = [1, orig]
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
    else:
        st[0] += 1


def _ws_release(spark: SparkSession) -> None:
    st = _ws_holds.get(id(spark))
    if st is None:
        return
    st[0] -= 1
    if st[0] <= 0:
        spark.conf.set("spark.sql.codegen.wholeStage", st[1])
        del _ws_holds[id(spark)]


# Solo-query routing (the ROUTE discipline: one cached metadata number,
# never a measurement job). The segment-colocated kernel beat the
# row-join plan at EVERY corpus size measured, warm AND cold
# (BENCH_SOLO_ROUTE warm sweep: 5k 1.3 vs 1.9 s … 2.4M 0.39 vs 1.41 s;
# cold at 2.4M: 0.7-1.0 vs 1.3-4.7 s) — the plan it removes is the
# decoded-row exchange, which grows with df — so the floor only guards
# the degenerate tiny-index case where the extra bytes-shuffle stage is
# the whole cost. Env-overridable like the fuzzy crossover.
SOLO_COLOCATED_MIN_DOCS = 1000
SOLO_ROUTES = ("plain", "colocated")


def route_solo(stats: dict) -> str:
    """'plain' or 'colocated' for a solo BM25 query on Spark, from the
    index's STORED doc count (shared by the warm Searcher's fallback and
    the cold CLI default path; SPIDEY_SOLO_ROUTE forces, SPIDEY_COLO_MIN_DOCS
    moves the floor — a malformed value of either raises ValueError).
    Both routes are rank-identical (pinned by test)."""
    import os
    env = os.environ.get("SPIDEY_SOLO_ROUTE")
    if env:
        if env not in SOLO_ROUTES:
            raise ValueError(f"SPIDEY_SOLO_ROUTE must be one of "
                             f"{SOLO_ROUTES}, got {env!r}")
        return env
    raw = os.environ.get("SPIDEY_COLO_MIN_DOCS")
    floor = SOLO_COLOCATED_MIN_DOCS
    if raw is not None:
        try:
            floor = int(raw)
        except ValueError:
            raise ValueError(f"SPIDEY_COLO_MIN_DOCS must be an integer doc "
                             f"count, got {raw!r}") from None
    return "colocated" if int(stats["n_docs"]) >= floor else "plain"


class Searcher:
    """Warm serving wrapper — amortizes per-query fixed costs across a query
    stream, the shape a real serving tier runs (the reference serves from a
    warm MySQL buffer pool; BASELINE.md's <500 ms anchor is that steady
    state, not a cold per-query Spark job against fresh parquet listings).

    What it warms:
    * the dictionary (`terms`) is cached in executor memory — the per-query
      k-term idf lookup becomes an InMemoryTableScan instead of a parquet
      listing + scan;
    * optionally the postings table is cached the same way (`cache_postings`;
      at sandbox scale the whole table fits — at 10^12 files you would
      cache AFTER a hot-bucket filter instead, which Spark's lazy
      per-partition materialization supports with the same code path);
    * global stats floats and the term→bucket hash cache are primed once;
    * when the postings are cached, the whole dictionary is preloaded and
      the index holds at most RESIDENT_MAX_POSTINGS postings (Σ df, read
      from that dictionary — no extra job), the compressed postings also
      stay RESIDENT on the driver (resident_postings; the collect is the
      job that materializes the Spark cache, replacing its count()).

    With resident postings, bm25 / bm25_batch score in-process
    (bm25_topk_resident: the colocated kernel, score_segments, run on the
    driver) and hand the top-k back as a LocalRelation — no Spark job per
    query, answers equal to the Spark colocated route bit for bit. Over
    the budget, and for every other query kind (pruned, parity, boolean,
    filtered, …), queries run as ordinary jobs over the cached tables with
    the SAME operators the cold paths use."""

    # default driver-side dictionary-preload budget: above this many terms
    # the Searcher automatically switches to head-only preload (top df
    # terms) with per-query pushdown fallback for the tail — a 10^9-term
    # web vocabulary must never .collect() onto one driver by default
    AUTO_PRELOAD_MAX_TERMS = 1_000_000
    # driver-resident postings budget, in postings (Σ df): at the ≈7.5
    # compressed bytes/posting measured, 8M postings ≈ 60 MB of segment
    # bytes on the driver. Over it, queries stay on the Spark routes.
    RESIDENT_MAX_POSTINGS = 8_000_000

    def __init__(self, spark: SparkSession, index: dict,
                 cache_postings: bool = True, preload_dict: bool = True,
                 coalesce_to: int | None = None,
                 head_df_threshold: int | None = None,
                 max_preload_terms: int | None = None,
                 disable_wholestage_codegen: bool = True):
        self.spark = spark
        self.index = dict(index)
        self._cached = []
        # term → [(segment, bytes)] when the warm kept the postings on the
        # driver (see the class docstring), else None
        self._resident: dict[str, list[tuple[int, bytes]]] | None = None
        self._holds_ws = False
        if disable_wholestage_codegen:
            # Every query carries fresh literals (idf map, term list), so
            # whole-stage codegen compiles a NEW generated class per query
            # - pure planning overhead at serving row counts (the cached
            # postings a query touches are ~10^5 rows). Interpreted
            # expression eval over that is cheaper than the compile:
            # measured p50 0.48->0.42s, p95 0.66->0.46s at sf0.1
            # (order-controlled, both directions) - crossing the
            # reference's <500 ms warm anchor. Session-level knob,
            # refcounted across nested Searchers and restored when the
            # LAST one closes; build jobs sharing the session while a
            # Searcher is open would also run interpreted (don't do that -
            # builds want codegen).
            _ws_acquire(spark)
            self._holds_ws = True
        try:
            self._warm(index, cache_postings, preload_dict, coalesce_to,
                       head_df_threshold, max_preload_terms)
        except BaseException:
            # __init__ failing must not leave the session interpreted:
            # no object exists for the caller to close()
            if self._holds_ws:
                _ws_release(spark)
            raise

    def _warm(self, index, cache_postings, preload_dict, coalesce_to,
              head_df_threshold, max_preload_terms=None):
        self.index["terms"] = index["terms"].cache()
        self._cached.append(self.index["terms"])
        if preload_dict:
            # one pass over the dictionary loads idf values AND term→bucket
            # (the reference's always-resident MySQL dictionary). The k-term
            # lookup becomes a dict hit → each BM25 query plans exactly ONE
            # Spark job. At 10^12-file scale the whole vocabulary
            # (10^8–10^9 terms) cannot land on one driver: pass
            # `head_df_threshold` to preload ONLY the df>threshold head —
            # Zipf puts the overwhelming share of query-term hits there —
            # and the rare tail term falls back to the per-query pushdown
            # lookup (query_idf partial-cache path), memoized on first use.
            n_buckets = int(self.index["stats"]["n_buckets"])
            head = self.index["terms"]
            partial = head_df_threshold is not None
            if partial:
                head = head.filter(F.col("df") > int(head_df_threshold))
            else:
                # auto-select: the full-vocabulary collect is only the
                # default while it's provably bounded. One count over the
                # (cached) dictionary decides; past the budget, preload
                # the top-df head — Zipf puts the overwhelming share of
                # query-term hits there — and tail terms fall back to the
                # memoized per-query pushdown lookup (query_idf partial
                # path). The count doubles as the cache materialization
                # the old code paid inside collect().
                cap = (int(max_preload_terms) if max_preload_terms
                       is not None else self.AUTO_PRELOAD_MAX_TERMS)
                if head.count() > cap:
                    head = head.orderBy(F.col("df").desc(),
                                        "term").limit(cap)
                    partial = True
            rows = (head
                    .select("term", "idf_bm25", "idf_ref", "df",
                            F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                            .cast("int").alias("bucket")).collect())
            self.index["idf_cache"] = {
                "idf_bm25": {r["term"]: float(r["idf_bm25"]) for r in rows},
                "idf_ref": {r["term"]: float(r["idf_ref"]) for r in rows},
                "df": {r["term"]: float(r["df"]) for r in rows},
            }
            if partial:
                self.index["idf_cache"]["partial"] = True
            for r in rows:
                _bucket_cache[(r["term"], n_buckets)] = int(r["bucket"])
        else:
            self.index["terms"].count()
        if cache_postings:
            p = index["postings"]
            if coalesce_to:
                # a query touches k terms' segments — far less than the
                # build's write parallelism. Fewer, larger cached partitions
                # cut per-query task-scheduling overhead (measured ~0.2 s of
                # the warm p95 at sf0.1 came from ~40 near-empty tasks);
                # size coalesce_to ≈ cores the serving tier wants per query.
                p = p.coalesce(coalesce_to)
            self.index["postings"] = p.cache()
            self._cached.append(self.index["postings"])
            cache = self.index.get("idf_cache")
            if (cache is not None and not cache.get("partial")
                    and sum(cache["df"].values())
                    <= self.RESIDENT_MAX_POSTINGS):
                self._resident = resident_postings(self.index["postings"])
            else:
                self.index["postings"].count()

    def _solo_route(self) -> str:
        return route_solo(self.index["stats"])

    def bm25(self, query: str, k: int = 10,
             route: str | None = None) -> DataFrame:
        """Warm solo BM25. `route` None scores in-process when the warm
        kept the postings resident, else on the Spark route route_solo
        picks from the index's stored doc count; "plain" or "colocated"
        force that Spark route. All are rank-identical (plain vs
        colocated pinned at 9 decimals by test; resident equals colocated
        bit for bit)."""
        if route is None and self._resident is not None:
            pdf = bm25_topk_resident(self._resident, self.index,
                                     {"q": query_bag(query)}, k)
            return local_frame(self.spark, pdf[["doc_id", "score"]],
                               TOPK_SCHEMA)
        r = route or self._solo_route()
        if r not in SOLO_ROUTES:
            raise ValueError(f"unknown route {r!r}; expected one of "
                             f"{SOLO_ROUTES}")
        if r == "colocated":
            return self.bm25_colocated(query, k)
        return bm25_topk(self.spark, self.index, query, k)

    def bm25_batch(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """(query_id, doc_id, score, rank) for a batch of queries —
        scored in-process with resident postings, else bm25_topk_batch's
        Spark plan; the two agree bit for bit (pinned by test)."""
        if self._resident is not None:
            pdf = bm25_topk_resident(self._resident, self.index,
                                     _analyze_bags(queries), k)
            return local_frame(self.spark, pdf, BATCH_TOPK_SCHEMA)
        return bm25_topk_batch(self.spark, self.index, queries, k)

    def bm25_colocated(self, query: str, k: int = 10) -> DataFrame:
        """Segment-colocated solo ranker (bm25_topk_colocated_tokens):
        same ranking contract as bm25(); no decoded-row exchange."""
        return bm25_topk_colocated_tokens(self.spark, self.index,
                                          query_bag(query), k)

    def bm25_pruned(self, query: str, k: int = 10, **kw) -> DataFrame:
        from .wand import bm25_topk_pruned
        return bm25_topk_pruned(self.spark, self.index, query, k, **kw)

    def parity(self, query: str, **kw) -> DataFrame:
        return parity_search(self.spark, self.index, query, **kw)

    def boolean(self, q_terms: list[str], must: list[str] = (),
                exclude: list[str] = (), wildcards: list[str] = (),
                k: int = 10, max_terms: int = 64,
                important_weight: float = 1.0) -> DataFrame:
        """The full token-level query algebra over the warmed index —
        wildcards expand first (same bag-dedup contract as
        bm25_topk_wildcard; the projection probes are tiny and read
        cold), then must/exclude apply as semi/anti joins before the
        top-k. Composes the same operators the CLI's default path runs;
        the warmed dictionary/postings caches serve every piece."""
        terms = list(q_terms)
        seen = set(terms)
        for w in wildcards:
            # lowercase the pattern exactly as the CLI path does before
            # expansion — the dictionary stores lowercased terms, and a
            # verbatim "Ha*" would probe the p1=codepoint('H') partition
            # and silently expand to nothing
            for t in expand_wildcard(self.index, w.lower(), max_terms):
                if t not in seen:
                    terms.append(t)
                    seen.add(t)
        return bm25_topk_boolean(self.spark, self.index, terms,
                                 must=list(must), exclude=list(exclude),
                                 k=k, important_weight=important_weight)

    def filtered(self, q_terms: list[str], filters: dict[str, object],
                 k: int = 10, important_weight: float = 1.0) -> DataFrame:
        """Filtered search over the warmed index — the drill-down after a
        facet click, served by the same cached dictionary/postings; the
        docs-side predicate scan stays cold (it is one pruned two-column
        read, and caching the docs table would evict hotter postings)."""
        return bm25_filtered_topk(self.spark, self.index,
                                  self.index["docs"], q_terms, filters,
                                  k=k, important_weight=important_weight)

    def collapse(self, q_terms: list[str], collapse_col: str,
                 k: int = 10, important_weight: float = 1.0,
                 filters: dict[str, object] | None = None) -> DataFrame:
        """Field collapsing over the warmed index (optionally composed
        with a metadata filter) — same semantics as bm25_collapse_topk."""
        return bm25_collapse_topk(self.spark, self.index,
                                  self.index["docs"], q_terms,
                                  collapse_col, k=k,
                                  important_weight=important_weight,
                                  filters=filters)

    def synonym(self, groups: list[list[str]], k: int = 10) -> DataFrame:
        """Synonym-group scoring over the warmed index — the cached
        dictionary serves the per-group min-idf lookup (one driver dict
        hit per member instead of a parquet probe)."""
        return bm25_synonym_topk(self.spark, self.index, groups, k=k)

    def after(self, q_terms: list[str], k: int = 10,
              after: tuple[float, int] | None = None,
              important_weight: float = 1.0) -> DataFrame:
        """search_after pagination over the warmed index — after=None is
        page 1 (serve pagination sessions from HERE, not from bm25():
        the cursor filter recomputes the deterministic fold score and
        compares the cursor with exact equality, and the plain ranker's
        hash-agg sum can sit 1 ulp off). Same operator the CLI's
        `--after start`/`--after SCORE:DOC_ID` path runs; the warmed
        dictionary and postings caches serve every page, so deep pages
        cost exactly what page 1 costs."""
        return bm25_topk_after(self.spark, self.index, q_terms, k=k,
                               after=after,
                               important_weight=important_weight)

    def close(self) -> None:
        # unpersist ONLY what this instance cached — never a postings
        # DataFrame it left untouched (cache_postings=False), whose cache
        # the caller may own. NB: Spark caches by logical plan, so two
        # Searchers over the same index share the same InMemoryRelation and
        # closing one still evicts it for the other — callers sharing an
        # index should share one Searcher.
        for df in self._cached:
            df.unpersist()
        self._resident = None
        if self._holds_ws:
            self._holds_ws = False
            _ws_release(self.spark)

    def __enter__(self) -> "Searcher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


# ---------------------------------------------------------------------------
# Reference-parity ranker (Q3–Q9)
# ---------------------------------------------------------------------------

def parity_word_scores(posting_rows: DataFrame, terms_df: DataFrame,
                       n_docs: int, query_terms: list[str],
                       idf_cache: dict | None = None) -> DataFrame:
    """Q3/Q4 words sub-scorer: Σ_w  tf·(1+ln tf)·ln(1+N/df) with the
    occurrence-count multiplier quirk, + BIT_OR(important)."""
    weights = pd.Series(query_terms).value_counts()
    idf = query_idf(terms_df, query_terms, "idf_ref", idf_cache)
    iw = {t: idf[t] * float(weights[t]) for t in idf}
    if not iw:
        return empty_frame(
            posting_rows.sparkSession,
            "doc_id long, relevance double, important int, is_phrase int")
    m = _term_weight_map(iw)
    scored = posting_rows.withColumn(
        "partial",
        m[F.col("term")] * F.col("tf") * (1 + F.log(F.col("tf")))
    ).filter(F.col("partial").isNotNull())
    return (scored.groupBy("doc_id")
            .agg(F.sum("partial").alias("relevance"),
                 F.max(F.col("important").cast("int")).alias("important"),
                 F.lit(0).alias("is_phrase")))


def phrase_match_counts(posting_rows_pos: DataFrame, phrase: list[str],
                        slop: int = 0) -> DataFrame:
    """Q5 positional adjacency, generalized to ordered proximity: docs
    containing the phrase words IN ORDER with each consecutive gap ≤
    slop+1 (slop=0 = the exact-adjacency reference semantics; slop>0 is
    the Lucene-PhraseQuery-style tolerance, per-gap rather than
    total-moves). m = number of start positions from which a full chain
    exists.

    slop>0 uses BACKWARD reachability over the sorted position arrays
    (good_i = positions of word i with some good_{i+1} in (p, p+slop+1]),
    two searchsorteds per step — NOT the greedy earliest-next chain,
    which is WRONG for k ≥ 3: with slop=2, pos(w2)={5,7}, pos(w3)={9},
    start 4 → greedy picks 5 and dies at the (5,8] window, while the
    valid chain 4→7→9 exists. Reachability is exact.

    Physical shape: repartition(doc_id) + sortWithinPartitions + ONE
    streaming mapInPandas that carries the open doc's per-term position
    arrays across Arrow batch boundaries — NOT groupBy.applyInPandas, whose
    per-group pandas-DataFrame overhead dominates when candidate docs are
    many tiny groups (same argument, and measured 4.5× win, as
    build.merge_partials — round-1 review finding #5). The carry state is
    ≤ len(phrase) small arrays."""
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    k = len(phrase)
    terms_in_phrase = list(dict.fromkeys(phrase))
    sub = posting_rows_pos.filter(F.col("term").isin(terms_in_phrase)) \
        .select("doc_id", "term", "positions", "important")

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("m", LongType()),
        StructField("important", BooleanType()),
    ])

    def match_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_doc = None
        by_term: dict[str, tuple[np.ndarray, bool]] = {}
        out_doc: list[int] = []
        out_m: list[int] = []
        out_imp: list[bool] = []

        def flush():
            if cur_doc is None or any(t not in by_term for t in phrase):
                return
            if slop == 0:
                starts = by_term[phrase[0]][0]
                mask = np.ones(starts.shape, dtype=bool)
                for i in range(1, k):
                    mask &= np.isin(starts + i, by_term[phrase[i]][0])
                m = int(mask.sum())
            else:
                # backward reachability; position arrays are ascending by
                # construction (decoded from cumulative gaps)
                good = by_term[phrase[k - 1]][0]
                for i in range(k - 2, -1, -1):
                    cur = by_term[phrase[i]][0]
                    lo = np.searchsorted(good, cur, side="right")
                    hi = np.searchsorted(good, cur + slop + 1, side="right")
                    good = cur[lo < hi]
                    if good.size == 0:
                        break
                m = int(good.size)
            if m == 0:
                return
            # reference: important = AND over the phrase words (BIT_OR of
            # the per-word AND at rollup, QueryResultsFetcher.java:275-288)
            out_doc.append(int(cur_doc))
            out_m.append(m)
            out_imp.append(all(by_term[t][1] for t in phrase))

        for pdf in batches:
            for d, t, p, imp in zip(pdf["doc_id"], pdf["term"],
                                    pdf["positions"], pdf["important"]):
                if d != cur_doc:
                    flush()
                    cur_doc, by_term = d, {}
                by_term[t] = (np.asarray(p, dtype=np.int64), bool(imp))
            if len(out_doc) >= 4096:
                yield pd.DataFrame({"doc_id": np.asarray(out_doc, np.int64),
                                    "m": np.asarray(out_m, np.int64),
                                    "important": out_imp})
                out_doc, out_m, out_imp = [], [], []
        flush()
        if out_doc:
            yield pd.DataFrame({"doc_id": np.asarray(out_doc, np.int64),
                                "m": np.asarray(out_m, np.int64),
                                "important": out_imp})

    return (sub.repartition("doc_id").sortWithinPartitions("doc_id")
            .mapInPandas(match_stream, schema=out_schema))


def proximity_min_dist(posting_rows_pos: DataFrame,
                       q_terms: list[str]) -> DataFrame:
    """(doc_id, min_dist): the minimum absolute position distance between
    occurrences of two DISTINCT query terms in a doc — the proximity
    signal bm25_proximity_topk boosts by. Docs containing fewer than two
    distinct query terms emit no row (no cross-term pair exists).

    Kernel shape = phrase_match_counts': repartition(doc_id) +
    sortWithinPartitions + ONE streaming mapInPandas carrying the open
    doc's arrays across Arrow batch boundaries (never
    groupBy.applyInPandas — measured 4.5× worse on many tiny groups).
    Per doc: merge the ascending per-term position arrays, diff adjacent
    entries, min where the term ids differ — the minimum cross-term
    distance is always realized by an adjacent pair of the sorted union
    (any closer non-adjacent pair would straddle an occurrence forming a
    closer-or-equal cross pair with one of its ends), so the cost is
    O(P log P) in the doc's matched positions, never O(P²) pairs."""
    terms = list(dict.fromkeys(q_terms))
    tid_of = {t: i for i, t in enumerate(terms)}
    sub = posting_rows_pos.filter(F.col("term").isin(terms)) \
        .select("doc_id", "term", "positions")

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("min_dist", LongType()),
    ])

    def dist_stream(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        cur_doc = None
        arrs: list[tuple[int, np.ndarray]] = []
        out_doc: list[int] = []
        out_d: list[int] = []

        def flush():
            if cur_doc is None or len(arrs) < 2:
                return
            pos = np.concatenate([a for _, a in arrs])
            tid = np.concatenate([np.full(a.shape, t, dtype=np.int32)
                                  for t, a in arrs])
            order = np.argsort(pos, kind="stable")
            p, t = pos[order], tid[order]
            mask = t[1:] != t[:-1]  # ≥2 distinct tids ⇒ some boundary
            out_doc.append(int(cur_doc))
            out_d.append(int(np.diff(p)[mask].min()))

        for pdf in batches:
            for d, term, p in zip(pdf["doc_id"], pdf["term"],
                                  pdf["positions"]):
                if d != cur_doc:
                    flush()
                    cur_doc, arrs = d, []
                arrs.append((tid_of[term], np.asarray(p, dtype=np.int64)))
            if len(out_doc) >= 4096:
                yield pd.DataFrame(
                    {"doc_id": np.asarray(out_doc, np.int64),
                     "min_dist": np.asarray(out_d, np.int64)})
                out_doc, out_d = [], []
        flush()
        if out_doc:
            yield pd.DataFrame({"doc_id": np.asarray(out_doc, np.int64),
                                "min_dist": np.asarray(out_d, np.int64)})

    return (sub.repartition("doc_id").sortWithinPartitions("doc_id")
            .mapInPandas(dist_stream, schema=out_schema))


def bm25_proximity_topk(spark: SparkSession, index: dict,
                        q_terms: list[str], k: int = 10,
                        prox_weight: float = 1.0) -> DataFrame:
    """Proximity-boosted BM25 (the Lucene sloppy-proximity ranking idea
    for code search): score = BM25(doc) + prox_weight / (1 + min_dist),
    min_dist = closest co-occurrence of two DISTINCT query terms in the
    doc (docs without a co-occurring pair keep their plain BM25 score).
    `binary search` as adjacent tokens outranks a file that merely
    mentions both words k lines apart; prox_weight=0 is byte-identical
    to bm25_topk_tokens (pinned by test).

    ONE pruned probe decoded WITH positions feeds both the shared
    scoring tail (tf/dl/important ride the same rows) and the distance
    kernel — two passes over the df-bounded decoded rows, the phrase
    path's cost shape. Output: (doc_id, score, min_dist; min_dist NULL
    when no pair). Reference: no analog — the reference stores positions
    for phrase adjacency only (Indexer.java:385-415) and scores pure
    tf·idf; this is the natural ranking use of the same stored data."""
    if prox_weight < 0:
        raise ValueError(
            f"prox_weight must be >= 0, got {prox_weight}")
    empty = "doc_id long, score double, min_dist long"
    if not q_terms:
        return empty_frame(spark, empty)
    iw = query_term_weights(index["terms"], q_terms,
                            index.get("idf_cache"))
    if not iw:
        return empty_frame(spark, empty)
    need_pos = prox_weight > 0 and len(set(q_terms)) >= 2
    rows = query_term_postings(index["postings"], q_terms,
                               int(index["stats"]["n_buckets"]),
                               with_positions=need_pos)
    scores = bm25_score_rows(rows, iw, float(index["stats"]["avgdl"]))
    if not need_pos:
        out = scores.withColumn("min_dist",
                                F.lit(None).cast("long"))
    else:
        md = proximity_min_dist(rows, q_terms)
        bonus = F.when(
            F.col("min_dist").isNotNull(),
            F.lit(float(prox_weight)) / (F.lit(1.0) + F.col("min_dist"))
        ).otherwise(F.lit(0.0))
        out = (scores.join(md, "doc_id", "left")
               .withColumn("score", F.col("score") + bonus))
    return (out.select("doc_id", "score", "min_dist")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def phrase_posting_rows(index: dict, phrase: list[str],
                        max_filter_docs: int = 1 << 16) -> DataFrame:
    """Two-pass positional decode for a phrase (round-2 verdict #3).

    Pass 1 decodes ONLY the doc-gap section of each phrase-term segment
    (binary_postings — tf/dl/position bytes untouched) and intersects the
    per-term doc sets: a doc missing any phrase word cannot match. Pass 2
    decodes positions only for (term, segment) rows whose segment holds at
    least one intersection doc — skipped segments never even reach the
    decode kernel (equi left-semi join on `segment`, mirroring wand.py).
    When the intersection fits ``max_filter_docs`` it additionally becomes
    an in-kernel doc mask, so position arrays for non-intersection docs in
    surviving segments are never materialized and the semi-join sides are
    rebuilt from literals (the pass-1 lineage runs once, not per join).
    Past the cap the doc mask is dropped (segment-granularity only) and the
    intersection stays distributed — nothing large lands on the driver."""
    n_buckets = int(index["stats"]["n_buckets"])
    seg_bits = int(index["stats"]["seg_bits"])
    terms_in_phrase = list(dict.fromkeys(phrase))
    pruned = _pruned_postings(index["postings"], terms_in_phrase, n_buckets)
    cand = (binary_postings(pruned)
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nt"))
            .filter(F.col("nt") == len(terms_in_phrase))
            .select("doc_id"))
    spark = SparkSession.getActiveSession()
    cand_rows = cand.limit(max_filter_docs + 1).collect()
    if len(cand_rows) <= max_filter_docs:
        doc_filter = np.array(sorted(int(r["doc_id"]) for r in cand_rows),
                              dtype=np.int64)
        if doc_filter.size == 0:
            return _decode_posting_rows(
                pruned.filter(F.lit(False)), with_positions=True)
        segs = sorted({int(d) >> seg_bits for d in doc_filter})
        seg_df = F.broadcast(
            spark.createDataFrame([(s,) for s in segs], "segment long"))
        surviving = pruned.join(seg_df, "segment", "left_semi")
        return _decode_posting_rows(surviving, with_positions=True,
                                    doc_filter=doc_filter)
    # past the cap: restrict at segment granularity only — the doc-level
    # refinement would re-evaluate the pass-1 lineage a third time, and
    # phrase_match_counts already ignores docs missing any phrase word, so
    # the extra same-segment rows cost shuffle bytes, not correctness
    seg_df = cand.select(
        F.shiftright("doc_id", seg_bits).alias("segment")).distinct()
    surviving = pruned.join(seg_df, "segment", "left_semi")
    return _decode_posting_rows(surviving, with_positions=True)


# Two-pass phrase decode engages when it would skip position decoding for
# at least this many posting entries (Σ df − min df). Measured at 2.4M docs
# (local[16], crossover index): hot+mid phrase ("import char", df 2.4M+25k,
# saved ≈2.4M) 15.1 s → 6.1 s (2.5×); mid+mid ("long name", saved ≈25k)
# 1.8 s → 3.0 s — the two extra driver-synchronized jobs dominate when the
# saved decode volume is small, exactly the wand.py crossover shape.
PHRASE_TWO_PASS_MIN_SAVED = 500_000


def parity_phrase_scores(spark: SparkSession, index: dict, phrase: list[str],
                         query_terms_all: list[str],
                         two_pass: bool | None = None,
                         slop: int = 0) -> DataFrame:
    """Q5 scorer: relevance = ln(1+N/df_phrase)·(1+ln m); df_phrase = #docs
    with ≥1 match (computed exactly, two small jobs over q-term postings).

    Decode strategy auto-selects (`two_pass=None`) on per-term dfs — a
    dict hit under a Searcher (df rides the preloaded dictionary), one tiny
    pushdown scan otherwise: the two-pass gap-first decode
    (phrase_posting_rows) wins only when the skipped position volume
    clears PHRASE_TWO_PASS_MIN_SAVED. A phrase word absent from the
    dictionary short-circuits to empty — no doc can match."""
    n_docs = int(index["stats"]["n_docs"])
    empty = empty_frame(
        spark, "doc_id long, relevance double, important int, is_phrase int")
    dfs = query_idf(index["terms"], phrase, "df", index.get("idf_cache"))
    if any(t not in dfs for t in phrase):
        return empty
    if two_pass is None:
        vals = [dfs[t] for t in set(phrase)]
        two_pass = (sum(vals) - min(vals)) > PHRASE_TWO_PASS_MIN_SAVED
    if two_pass:
        rows = phrase_posting_rows(index, phrase)
    else:
        rows = query_term_postings(index["postings"], phrase,
                                   int(index["stats"]["n_buckets"]),
                                   with_positions=True)
    matches = phrase_match_counts(rows, phrase, slop).cache()
    df_phrase = matches.count()
    if df_phrase == 0:
        return empty_frame(
            spark,
            "doc_id long, relevance double, important int, is_phrase int")
    idf = float(np.log(1.0 + n_docs / df_phrase))
    return matches.select(
        "doc_id",
        (F.lit(idf) * (1 + F.log(F.col("m")))).alias("relevance"),
        F.col("important").cast("int").alias("important"),
        F.lit(1).alias("is_phrase"))


def parity_search(spark: SparkSession, index: dict, query: str,
                  page: int = 1, page_size: int = 20,
                  history: DataFrame | None = None,
                  user_id: int | None = None,
                  slop: int = 0) -> DataFrame:
    """Full reference pipeline: words ∪ phrases → history left join →
    two-stage top-k (Q6–Q9).

    Stage 1 (candidate selection): ORDER BY in_history DESC, important DESC,
    is_phrase DESC, relevance DESC LIMIT offset+page_size
    (QueryResultsFetcher.java:198-205); Stage 2: re-order the chosen page by
    relevance × page_rank under the same leading keys
    (QueryResultsFetcher.java:175-186). doc_id ASC breaks ties in both
    stages (documented deviation — MySQL order is unspecified)."""
    q_terms, phrases = analyze_query(query)
    parts: list[DataFrame] = []
    if q_terms:
        rows = query_term_postings(index["postings"], q_terms,
                                   int(index["stats"]["n_buckets"]))
        parts.append(parity_word_scores(rows, index["terms"],
                                        int(index["stats"]["n_docs"]), q_terms,
                                        index.get("idf_cache")))
    for ph in phrases:
        parts.append(parity_phrase_scores(spark, index, ph, q_terms,
                                           slop=slop))
    if not parts:
        return empty_frame(
            spark, "doc_id long, total_relevance double, score double")
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rolled = union.groupBy("doc_id").agg(
        F.sum("relevance").alias("total_relevance"),
        F.max("important").alias("important"),
        F.max("is_phrase").alias("is_phrase"))
    if history is not None and user_id is not None:
        h = history.filter(F.col("user_id") == user_id) \
            .select("doc_id", F.lit(1).alias("in_history"))
        rolled = rolled.join(F.broadcast(h), "doc_id", "left") \
            .na.fill({"in_history": 0})
    else:
        rolled = rolled.withColumn("in_history", F.lit(0))
    limit_n = page * page_size
    stage1 = rolled.orderBy(
        F.desc("in_history"), F.desc("important"), F.desc("is_phrase"),
        F.desc("total_relevance"), F.asc("doc_id")).limit(limit_n)
    extra = ["page_rank"] if "page_rank" in index["docs"].columns else []
    docs_dim = index["docs"].select("doc_id", "repo", "path", *extra)
    # broadcast the ≤ page·20-row candidate set INTO the doc-store scan
    # (right-outer keeps every candidate); broadcasting docs_dim would ship
    # the whole 10^12-row doc table
    stage2 = docs_dim.join(F.broadcast(stage1), "doc_id", "right")
    if "page_rank" in stage2.columns:
        stage2 = stage2.withColumn(
            "score", F.col("total_relevance") * F.coalesce(F.col("page_rank"), F.lit(1.0)))
    else:
        stage2 = stage2.withColumn("score", F.col("total_relevance"))
    offset = (page - 1) * page_size
    w = Window.orderBy(F.desc("in_history"), F.desc("important"),
                       F.desc("is_phrase"), F.desc("score"), F.asc("doc_id"))
    return (stage2.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") > offset) & (F.col("rn") <= limit_n))
            .drop("rn"))


def facet_counts(index: dict, docs: DataFrame, terms: list[str],
                 facet_cols: list[str],
                 mode: str = "any") -> DataFrame:
    """Search facets: per facet value, how many documents match the
    query (`mode="any"` = OR semantics, `"all"` = AND). The standard
    results-page sidebar ("source: 12, lang=en: 9, …") the reference's
    UI computes client-side over one page — here it is exact over the
    FULL match set, not the page.

    Scale shape: matching doc ids come from the gap-section-only decode
    (binary_postings — tf/dl/position bytes untouched) of the
    partition-pruned q-term postings; the facet join touches only the
    requested columns of the docs table (column pruning reaches the
    scan), keyed on doc_id; counts are one hash aggregate per facet
    column, unioned. Match-set size is query-df-bounded, never
    corpus-bounded."""
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    if not facet_cols:
        raise ValueError("facet_cols must name at least one column")
    uniq = list(dict.fromkeys(terms))
    pruned = _pruned_postings(index["postings"], uniq,
                              int(index["stats"]["n_buckets"]))
    hits = binary_postings(pruned)
    if mode == "all":
        matches = (hits.groupBy("doc_id")
                   .agg(F.count_distinct("term").alias("nt"))
                   .filter(F.col("nt") == len(uniq)).select("doc_id"))
    else:
        matches = hits.select("doc_id").distinct()
    j = matches.join(docs.select("doc_id", *facet_cols), "doc_id")
    parts = [j.groupBy(F.lit(c).alias("facet"),
                       F.col(c).cast("string").alias("value"))
             .agg(F.count("*").alias("n_docs"))
             for c in facet_cols]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def more_like_this(spark: SparkSession, index: dict, docs: DataFrame,
                   doc_id: int, k_terms: int = 5, k: int = 10,
                   id_col: str = "doc_id",
                   text_col: str = "content") -> DataFrame:
    """Related-documents query (the Lucene MoreLikeThis shape): the
    source document's top `k_terms` tf·idf keywords become a bag query,
    scored with EXACTLY the engine's BM25 tail (bm25_topk_tokens — same
    pruning, decode, tie-break and empty-query behavior as `query`),
    the source doc itself excluded.

    Keyword derivation is fully QUERY-SHAPED: the one
    source row is fetched (a doc_id-pushdown point lookup), tokenized
    driver-side with THE INDEX'S OWN analyzer (stats.profile — a
    code-profile index stems/splits identifiers, so deriving keywords
    with any other tokenizer would silently miss the dictionary), and
    the df lookup is query_idf's term-IN pushdown scan of the k distinct
    doc terms — the full vocabulary table is never streamed, unlike the
    distributed batch path (report.doc_keywords) which pays a dictionary
    join because it keywords EVERY doc. One doc's content on the driver
    is bounded by the analyzer's own field-truncation profiles."""
    import math

    from ..functions.analysis import PROFILES
    src_rows = (docs.filter(F.col(id_col) == doc_id)
                .select(text_col).limit(1).collect())
    empty = empty_frame(spark, "doc_id long, score double")
    if not src_rows or src_rows[0][0] is None:
        return empty
    profile = str(index["stats"].get("profile", "simple"))
    toks = PROFILES[profile](src_rows[0][0])
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    dfs = query_idf(index["terms"], list(tf), "df", index.get("idf_cache"))
    n_docs = int(index["stats"]["n_docs"])
    scored = sorted(
        ((-tf[t] * math.log(1.0 + n_docs / dfs[t]), t) for t in tf
         if t in dfs and dfs[t] > 0))
    terms = [t for _, t in scored[:k_terms]]
    if not terms:
        return empty
    res = bm25_topk_tokens(spark, index, terms, k + 1)
    return (res.filter(F.col("doc_id") != doc_id)
            .orderBy(F.col("score").desc(), "doc_id").limit(k))


def bm25_topk_excluding(spark: SparkSession, index: dict,
                        q_terms: list[str], exclude: list[str],
                        k: int = 10) -> DataFrame:
    """Boolean must-not: BM25 over `q_terms` minus any document
    containing ANY `exclude` term — the `-term` query operator.

    The exclusion set comes from the gap-section-only decode of the
    excluded terms' partition-pruned postings (tf/dl/position bytes
    untouched) and is removed by a LEFT ANTI join BEFORE the top-k, so
    the limit can't return fewer than k rows when k matches survive.
    Cost adds one df(excluded)-bounded decode + anti join to the normal
    query plan — query-shaped, like everything on this path. Unknown
    excluded terms exclude nothing; scoring semantics (ties, empty
    query) are bm25_topk_tokens' own."""
    return bm25_topk_boolean(spark, index, q_terms, exclude=exclude, k=k)


def bm25_topk_must(spark: SparkSession, index: dict,
                   q_terms: list[str], must: list[str],
                   k: int = 10) -> DataFrame:
    """Boolean must (`+term`): BM25 over `q_terms` restricted to documents
    containing EVERY `must` term — see bm25_topk_boolean."""
    return bm25_topk_boolean(spark, index, q_terms, must=must, k=k)


def bm25_topk_boolean(spark: SparkSession, index: dict,
                      q_terms: list[str],
                      must: list[str] | None = None,
                      exclude: list[str] | None = None,
                      k: int = 10,
                      important_weight: float = 1.0) -> DataFrame:
    """Composable boolean BM25: score `q_terms` (bag semantics), keep only
    docs containing EVERY `must` term (`+term`), drop docs containing ANY
    `exclude` term (`-term`), THEN take top-k — so the limit always fills
    with true survivors.

    Must terms are filter-only here (token-level contract): the CLI's
    `+term` adds the analyzed term to BOTH the scoring bag and this list
    (Lucene MUST is scored), while exclusions never score. Both filter
    sets come from the gap-section-only decode (binary_postings — tf/dl/
    position bytes untouched) of partition-pruned postings, so each adds
    one df-bounded decode: the must set is a count_distinct==n_must hash
    agg (the AND path facet_counts mode="all" proves) applied LEFT SEMI,
    the excluded set a distinct doc set applied LEFT ANTI. A must term
    absent from the dictionary matches nothing → empty result (the agg
    can never reach n_must), matching Lucene; unknown excluded terms
    exclude nothing. Scoring semantics (ties, empty query, bag
    multiplicity) are bm25_topk_tokens' own."""
    req = [t for t in dict.fromkeys(must or []) if t]
    ex = [t for t in dict.fromkeys(exclude or []) if t]
    if (not req and not ex) or not q_terms:
        return bm25_topk_tokens(spark, index, q_terms, k,
                                important_weight=important_weight)
    n_buckets = int(index["stats"]["n_buckets"])
    scores = _bm25_scored_tokens(spark, index, q_terms,
                                 important_weight=important_weight)
    if req:
        required = (binary_postings(
            _pruned_postings(index["postings"], req, n_buckets))
            .groupBy("doc_id")
            .agg(F.count_distinct("term").alias("nt"))
            .filter(F.col("nt") == len(req)).select("doc_id"))
        scores = scores.join(required, "doc_id", "left_semi")
    if ex:
        banned = (binary_postings(
            _pruned_postings(index["postings"], ex, n_buckets))
            .select("doc_id").distinct())
        scores = scores.join(banned, "doc_id", "left_anti")
    return scores.orderBy(F.col("score").desc(), "doc_id").limit(k)


def bm25f_topk_tokens(spark: SparkSession, index: dict,
                      q_terms: list[str], k: int = 10,
                      important_weight: float = 2.0) -> DataFrame:
    """BM25F-lite top-k: the plain token-level BM25 tail with the A3
    `important` field boost threaded through bm25_scores (tf' = tf·w for
    important postings). w=1.0 is byte-identical to bm25_topk_tokens —
    pinned by test — so this is a strict extension, not a fork, of the
    primary ranker."""
    if important_weight <= 0:
        raise ValueError(
            f"important_weight must be > 0, got {important_weight}")
    scores = _bm25_scored_tokens(spark, index, q_terms,
                                 important_weight=important_weight)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def filter_doc_ids(docs: DataFrame, filters: dict[str, object]) -> DataFrame:
    """doc_ids of documents matching EVERY equality predicate — the
    metadata side of filtered search. The predicates land in the docs
    parquet scan (PushedFilters + two-column ReadSchema), so the cost is
    one pruned scan of the docs table regardless of index size."""
    if not filters:
        raise ValueError("filters must name at least one column=value")
    keep = docs
    for c, v in filters.items():
        keep = keep.filter(F.col(c) == F.lit(v))
    return keep.select("doc_id")


# scored-candidate broadcast budget for the metadata drill-down: 2M
# (doc_id, score) rows ≈ 32 MB — comfortably under executor broadcast
# memory, far above any sane per-query candidate set
MAX_BROADCAST_CANDIDATES = 2_000_000


def _metadata_filtered(scores: DataFrame, docs: DataFrame,
                       filters: dict[str, object],
                       candidate_bound: int | None) -> DataFrame:
    """Apply the metadata drill-down to scored candidates, picking the
    join direction by which side is bounded.

    The predicate side is CORPUS-bounded (lang='en' can match half of
    10^12 docs) while the scored candidates are df(q)-bounded, so a
    plain left-semi join would shuffle the corpus-bounded side — the one
    shuffle a web-scale drill-down cannot afford. When the caller's
    candidate bound (Σ df over the query terms, a free driver-side
    dictionary lookup — never an extra job) fits the broadcast budget,
    the plan flips: stream the predicate-pushed docs scan and broadcast
    the candidates INTO it (inner join ≡ semi join because doc_id is
    unique in docs) — the corpus side never shuffles. Past the budget
    (or with no bound) it falls back to the semi-join and lets AQE
    choose the strategy from runtime sizes."""
    keep = filter_doc_ids(docs, filters)
    if (candidate_bound is not None
            and candidate_bound <= MAX_BROADCAST_CANDIDATES):
        return (keep.join(F.broadcast(scores), "doc_id")
                .select(*scores.columns))
    return scores.join(keep, "doc_id", "left_semi")


def bm25_filtered_topk(spark: SparkSession, index: dict, docs: DataFrame,
                       q_terms: list[str], filters: dict[str, object],
                       k: int = 10,
                       important_weight: float = 1.0) -> DataFrame:
    """Filtered search (the facets drill-down): BM25 over `q_terms`
    restricted to documents whose metadata matches EVERY `filters`
    equality predicate (lang='py', source='s1', …) — the standard
    "search within a facet value" the sidebar counts (facet_counts)
    invite, and the reference's per-site search lacks entirely.

    Scale shape: the filter applies AFTER scoring as a LEFT SEMI join of
    the df-bounded candidate set against the predicate-pushed docs scan —
    no extra postings decode, and the docs side never carries content
    (two-column ReadSchema). Filtering before the top-k means the limit
    always fills with true survivors (the bm25_topk_boolean discipline);
    filtering the CANDIDATES rather than pre-restricting the postings is
    the right order because a metadata predicate can match half the
    corpus (lang='en') while the query terms bound the candidates to
    df(q) docs. When Σ df over the query terms (a free dictionary
    lookup) fits the broadcast budget, the join flips so the corpus
    side never shuffles — see _metadata_filtered. Scoring semantics
    (ties, bag multiplicity, empty query) are bm25_topk_tokens' own; an
    impossible filter returns 0 rows."""
    scores = _bm25_scored_tokens(spark, index, q_terms,
                                 important_weight=important_weight)
    scores = _metadata_filtered(scores, docs, filters,
                                _candidate_bound(index, q_terms))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _candidate_bound(index: dict, q_terms: list[str]) -> int | None:
    """Σ df over the unique query terms — an upper bound on the scored
    candidate count, read from the dictionary (the same k-term lookup
    idf uses, served by the Searcher's cache when warm; never a job
    over the postings)."""
    if not q_terms:
        return 0
    dfm = query_idf(index["terms"], q_terms, "df",
                    index.get("idf_cache"))
    return int(sum(dfm.values()))


def bm25_collapse_topk(spark: SparkSession, index: dict, docs: DataFrame,
                       q_terms: list[str], collapse_col: str,
                       k: int = 10,
                       important_weight: float = 1.0,
                       filters: dict[str, object] | None = None
                       ) -> DataFrame:
    """Field collapsing (the Lucene/Elasticsearch `collapse` feature):
    top-k over the BEST-scoring document per `collapse_col` value — one
    hit per repo instead of ten files from the same repo filling the
    page. Output: (doc_id, score, <collapse_col>, group_size) where
    group_size counts the doc's collapsed-away siblings in the match set
    (the "+12 more from this repo" affordance).

    Scale shape: the df-bounded scored candidates join the docs table on
    doc_id for the collapse key (column-pruned two-column scan), then ONE
    window per key picks the representative (row_number) and sizes the
    group (count) in the same pass — window functions share a single
    (collapse_col) shuffle. Candidates, not corpus, flow through the
    window. NULL keys collapse into one group (SQL window semantics);
    ties inside a group break by doc_id ASC like every ranker here.
    `filters` (optional) composes the bm25_filtered_topk drill-down
    BEFORE the collapse — group sizes then count the FILTERED match
    set, which is what the sidebar shows after a facet click."""
    if not collapse_col:
        raise ValueError("collapse_col must name a docs column")
    scores = _bm25_scored_tokens(spark, index, q_terms,
                                 important_weight=important_weight)
    if filters:
        scores = _metadata_filtered(scores, docs, filters,
                                    _candidate_bound(index, q_terms))
    j = scores.join(docs.select("doc_id", collapse_col), "doc_id")
    w = Window.partitionBy(collapse_col).orderBy(F.desc("score"),
                                                 F.asc("doc_id"))
    return (j.withColumn("rn", F.row_number().over(w))
            .withColumn("group_size",
                        F.count("*").over(
                            Window.partitionBy(collapse_col)))
            .filter(F.col("rn") == 1)
            .select("doc_id", "score", collapse_col, "group_size")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def bm25_synonym_topk(spark: SparkSession, index: dict,
                      groups: list[list[str]], k: int = 10) -> DataFrame:
    """Synonym-group BM25 (Lucene SynonymQuery semantics): each group of
    terms scores as ONE pseudo-term — per doc tf = Σ member tf, and the
    group's idf is that of its most frequent member (df = max member df,
    so idf = min member idf; SynonymQuery.java uses exactly max docFreq).
    A document mentioning `fetch` twice and `get` once under the group
    [fetch, get, retrieve] scores tf=3 once — NOT three inflated
    independent terms, which is what naive bag expansion does and why
    Lucene added the blended query. Singleton groups reproduce plain
    BM25 exactly (pinned by test).

    Scale shape: one partition-pruned probe + decode of the UNION of all
    members, a term→group literal map (no join), then two df-bounded
    hash aggs — (doc_id, gid) to blend member tfs, (doc_id) to sum group
    scores. Groups with no dictionary member drop (df=0 discipline);
    partially-known groups blend over the known members. A term may
    appear in only one group — overlapping groups would make the blend
    ambiguous, so they raise."""
    groups = [list(dict.fromkeys(t for t in g if t)) for g in groups]
    groups = [g for g in groups if g]
    if not groups:
        return empty_frame(spark, "doc_id long, score double")
    term_gid: dict[str, int] = {}
    for gid, g in enumerate(groups):
        for t in g:
            if t in term_gid and term_gid[t] != gid:
                raise ValueError(
                    f"term {t!r} appears in more than one synonym group")
            term_gid[t] = gid
    all_terms = list(term_gid)
    idf = query_idf(index["terms"], all_terms, "idf_bm25",
                    index.get("idf_cache"))
    gw = {}
    for gid, g in enumerate(groups):
        known = [idf[t] for t in g if t in idf]
        if known:
            gw[gid] = min(known)  # max-df member's idf
    if not gw:
        return empty_frame(spark, "doc_id long, score double")
    avgdl = float(index["stats"]["avgdl"])
    rows = query_term_postings(
        index["postings"],
        [t for t in all_terms if term_gid[t] in gw],
        int(index["stats"]["n_buckets"]))
    from itertools import chain
    gmap = F.create_map(*chain.from_iterable(
        (F.lit(t), F.lit(g)) for t, g in term_gid.items()))
    wmap = F.create_map(*chain.from_iterable(
        (F.lit(g), F.lit(float(w))) for g, w in gw.items()))
    blended = (rows.withColumn("gid", gmap[F.col("term")])
               .groupBy("doc_id", "gid")
               .agg(F.sum("tf").cast("double").alias("tf"),
                    F.max("dl").alias("dl")))
    scored = blended.withColumn(
        "partial",
        wmap[F.col("gid")] * (F.col("tf") * (K1 + 1)) /
        (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(avgdl))))
    return (scored.groupBy("doc_id")
            .agg(F.sum("partial").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def bm25_explain_topk(spark: SparkSession, index: dict,
                      q_terms: list[str], k: int = 10,
                      important_weight: float = 1.0) -> DataFrame:
    """Score explanation (the Lucene `explain` analog): one row per
    (top-k doc, contributing query term) —

        (doc_id, score, rank, term, w, tf, important, tf_eff, dl, partial)

    where ``w`` = idf×bag-multiplicity (the literal-map weight the
    ranker used), ``tf_eff`` = the EFFECTIVE tf the formula consumed
    (tf·important_weight on important postings — without it a boosted
    row's (w, tf, dl) could not reproduce its own partial), ``partial``
    = that term's BM25 contribution, and Σ partial over a doc's rows ==
    its score EXACTLY (same expression, same plan shape — explanation is
    derived from the ranker's own decoded rows, never a parallel
    reimplementation that could drift).

    Cost: TWO passes over the same pruned decode (the candidate top-k
    pass, then the explanation join — the parity two-stage discipline,
    with the k-row candidate set broadcast INTO the second pass); at any
    corpus size the output is at most k×|q| rows. The reference has
    no analog (its per-word relevances live transiently in the serving
    SQL, QueryResultsFetcher.java:239-268) — this is the operational
    "why is this doc ranked here" surface a relevance engineer needs."""
    empty_schema = ("doc_id long, score double, rank int, term string, "
                    "w double, tf int, important boolean, tf_eff double, "
                    "dl int, partial double")
    if not q_terms:
        return empty_frame(spark, empty_schema)
    iw = query_term_weights(index["terms"], q_terms,
                            index.get("idf_cache"))
    if not iw:
        return empty_frame(spark, empty_schema)
    avgdl = float(index["stats"]["avgdl"])
    rows = query_term_postings(index["postings"], q_terms,
                               int(index["stats"]["n_buckets"]))
    m = _term_weight_map(iw)
    tf_eff = F.col("tf").cast("double")
    if important_weight != 1.0:
        tf_eff = F.when(F.col("important"),
                        tf_eff * F.lit(float(important_weight))) \
            .otherwise(tf_eff)
    detailed = rows.withColumn("tf_eff", tf_eff).withColumn(
        "partial",
        m[F.col("term")] * (F.col("tf_eff") * (K1 + 1)) /
        (F.col("tf_eff") + K1 * (1 - B + B * F.col("dl") / F.lit(avgdl)))
    ).filter(F.col("partial").isNotNull()) \
        .withColumn("w", m[F.col("term")])
    topk = (detailed.groupBy("doc_id")
            .agg(F.sum("partial").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("doc_id"))))
            .select("doc_id", "score", "rank"))
    # k rows broadcast INTO the detailed rows (two-stage discipline)
    return (detailed.join(F.broadcast(topk), "doc_id")
            .select("doc_id", "score", "rank", "term", "w", "tf",
                    "important", "tf_eff", "dl", "partial")
            .orderBy("rank", F.desc("partial"), "term"))


def expand_wildcard(index: dict, prefix: str,
                    max_terms: int = 64) -> list[str]:
    """`prefix*` term expansion: the dictionary terms starting with
    `prefix`, by descending df (the most selective useful expansions
    first), capped at `max_terms` — the Lucene-style rewrite bound that
    keeps a hot prefix ("a*") from turning one query into a
    full-vocabulary OR.

    `prefix` may also be a GLOB (`te*m`, `*term`, `*te*m` — the CLI
    passes starred tokens verbatim; plain prefixes keep the historical
    star-stripped form). wildcard.route_glob picks the projection: a
    leading literal prunes FORWARD (prefix path); a leading star with a
    literal tail prunes on the REVERSED term (suffix path — the Lucene
    ReversedWildcardFilter trick); the doubly-unanchored `*x*` probes
    the opt-in N-GRAM term index on its longest literal run (>= n
    chars required) and fails fast when the build didn't write one — an
    accidental infix query must never silently pay a |V| scan.

    When the index carries the matching partitioned dictionary
    projection (index["prefix_terms"] / index["suffix_terms"],
    operators/wildcard.py — written by default on CLI builds, attached
    by load_index), the expansion probes ONE first-char partition with
    row-group skipping inside it: the bytes read are pattern-bounded,
    never |V|-bounded. Without it this falls back to a dictionary SCAN
    (StartsWith pushed to the parquet reader on the forward path; an
    anchored-regex verify on the suffix path) — the honest cost every
    wildcard engine pays without a sorted term index."""
    from .wildcard import (expand_wildcard_ngram, expand_wildcard_pruned,
                           expand_wildcard_suffix, route_glob, split_glob)
    route = route_glob(prefix)
    if route == "ngram":
        nt = index.get("ngram_terms")
        if nt is None:
            # deliberately NO scan fallback here: an accidental `*x*` on
            # a 10^8-term dictionary must not silently pay a |V| scan
            raise ValueError(
                f"infix wildcard {prefix!r} needs the n-gram term index "
                f"(rebuild with --ngram-index); anchored patterns "
                f"(term*/*term) work without it")
        return expand_wildcard_ngram(nt, int(index["ngram_n"]), prefix,
                                     max_terms)
    if route == "suffix":
        st = index.get("suffix_terms")
        if st is not None:
            return expand_wildcard_suffix(st, prefix, max_terms)
        import re as _re
        parts = prefix.split("*")
        regex = "^" + ".*".join(_re.escape(p) for p in parts) + "$"
        cond = (F.col("term").endswith(parts[-1])
                & F.col("term").rlike(regex))
        rows = (index["terms"].filter(cond)
                .select("term", "df")
                .orderBy(F.col("df").desc(), "term")
                .limit(max_terms).collect())
        return [r["term"] for r in rows]
    pt = index.get("prefix_terms")
    if pt is not None:
        return expand_wildcard_pruned(pt, prefix, max_terms)
    head, regex = split_glob(prefix)
    cond = F.col("term").startswith(head)
    if regex is not None:
        cond = cond & F.col("term").rlike(regex)
    rows = (index["terms"].filter(cond)
            .select("term", "df")
            .orderBy(F.col("df").desc(), "term")
            .limit(max_terms).collect())
    return [r["term"] for r in rows]


def bm25_topk_wildcard(spark: SparkSession, index: dict,
                       q_terms: list[str], wildcards: list[str],
                       k: int = 10, max_terms: int = 64) -> DataFrame:
    """BM25 over already-analyzed `q_terms` plus the dictionary
    expansions of each `wildcards` prefix (each expanded term weighted
    once — OR semantics, not multiplicity). Token-level like
    bm25_topk_tokens, so the caller's analyzer choice — the CLI analyzes
    with the query chain, the simple-profile oracle passes raw tokens —
    can't silently diverge from the index inside this function; the
    wildcard PREFIX is matched against dictionary terms verbatim (a
    stemmed index stores stemmed terms: `runn*` matches what the index
    actually holds, the Lucene behavior)."""
    terms = list(q_terms)
    # dedupe ONLY the expansions against the bag: the caller's base
    # terms keep their multiplicity (bag semantics — a repeated query
    # term must score identically with or without an unrelated wildcard)
    seen = set(terms)
    for w in wildcards:
        for t in expand_wildcard(index, w, max_terms):
            if t not in seen:
                terms.append(t)
                seen.add(t)
    return bm25_topk_tokens(spark, index, terms, k)
