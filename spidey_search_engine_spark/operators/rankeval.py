"""Ranking-quality evaluation — nDCG@k / MRR@k / precision@k per query
against a graded judgment table (the Elasticsearch _rank_eval API / the
standard TREC evaluation shapes).

An engine that serves training-data pipelines and eval workloads (the
batch BM25 path) needs its OWN quality measured the same way: results
(query_id, doc_id, rank) from any ranker join a judgments table
(query_id, doc_id, grade ≥ 0) and reduce to the three standard metrics:

* nDCG@k  — Σ (2^grade − 1)/log2(rank+1) over the served page, divided
  by the same sum over the IDEAL page (the query's top-k grades sorted
  descending). 0 when the query has no positive judgments.
* MRR@k   — 1/rank of the first served doc with grade > 0, else 0.
* P@k     — fraction of the k served slots holding a doc with grade > 0
  (unserved slots count against, the standard convention).

Scale shape: results are page-bounded (|queries| × k rows); judgments
join on (query_id, doc_id) after one max-grade reduction per pair; the
ideal-DCG side is one windowed top-k over the judgments, never a corpus
scan. Everything reduces in hash aggregations over the results and the
judgments — evaluation cost is proportional to the judgment set, not
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ranking_eval(results: DataFrame, judgments: DataFrame,
                 k: int = 10) -> DataFrame:
    """(query_id, ndcg, mrr, precision) per query.

    `results`: (query_id, doc_id, rank) with rank 1-based — any ranker's
    page (rows past `rank > k` are ignored so a deeper page can be
    evaluated at several cutoffs). `judgments`: (query_id, doc_id,
    grade); missing (query, doc) pairs grade 0, and a pair judged more
    than once takes its max grade (a repeated row must not fan out the
    join or count twice in the ideal page). Queries present in
    `results` but absent from `judgments` score 0 across the board;
    queries only in `judgments` are not emitted (nothing was served)."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    r = (results.filter(F.col("rank") <= k)
         .select("query_id", "doc_id", "rank"))
    j = (judgments.groupBy("query_id", "doc_id")
         .agg(F.max(F.col("grade").cast("double")).alias("grade")))
    scored = (r.join(j, ["query_id", "doc_id"], "left")
              .withColumn("grade", F.coalesce("grade", F.lit(0.0))))
    gain = (F.pow(F.lit(2.0), F.col("grade")) - 1.0) / \
        F.log2(F.col("rank") + 1.0)
    per_q = (scored.groupBy("query_id").agg(
        F.sum(gain).alias("dcg"),
        F.min(F.when(F.col("grade") > 0, F.col("rank"))).alias("first_rel"),
        F.sum(F.when(F.col("grade") > 0, 1).otherwise(0)).alias("n_rel")))
    # ideal DCG: the judgment table's own top-k grades per query
    wnd = Window.partitionBy("query_id").orderBy(F.desc("grade"),
                                                 F.asc("doc_id"))
    ideal = (j.filter(F.col("grade") > 0)
             .withColumn("irank", F.row_number().over(wnd))
             .filter(F.col("irank") <= k)
             .groupBy("query_id")
             .agg(F.sum((F.pow(F.lit(2.0), F.col("grade")) - 1.0)
                        / F.log2(F.col("irank") + 1.0)).alias("idcg")))
    out = (per_q.join(ideal, "query_id", "left")
           .select(
               "query_id",
               F.when(F.col("idcg").isNotNull() & (F.col("idcg") > 0),
                      F.col("dcg") / F.col("idcg"))
               .otherwise(F.lit(0.0)).alias("ndcg"),
               F.when(F.col("first_rel").isNotNull(),
                      F.lit(1.0) / F.col("first_rel"))
               .otherwise(F.lit(0.0)).alias("mrr"),
               (F.col("n_rel") / F.lit(float(k))).alias("precision")))
    return out
