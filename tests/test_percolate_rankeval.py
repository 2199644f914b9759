"""Percolation (reverse search) and ranking-quality evaluation."""

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pdocs(spark):
    rows = [(0, "merge sort stable"),
            (1, "merge heap"),
            (2, "hash table lookup"),
            (3, "sort order key"),
            (4, "")]
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_percolate_any_all(spark, pdocs):
    from spidey_search_engine_spark.operators.percolate import percolate
    queries = spark.createDataFrame(
        [("alert_ms", ["merge", "sort"], "all"),
         ("alert_or", ["merge", "sort"], "any"),
         ("alert_dup", ["sort", "sort"], "all"),  # duplicates count once
         ("alert_none", ["zz_nope"], "any"),
         ("alert_empty", [], "any")],
        "query_id string, terms array<string>, mode string")
    got = {(r["doc_id"], r["query_id"]) for r in
           percolate(pdocs, queries, profile="simple").collect()}
    assert got == {
        (0, "alert_ms"),                       # only doc 0 has both
        (0, "alert_or"), (1, "alert_or"), (3, "alert_or"),
        (0, "alert_dup"), (3, "alert_dup"),    # 'sort' docs, dup folded
    }


def test_percolate_validation_and_streaming(spark, pdocs, tmp_path):
    from spidey_search_engine_spark.operators.percolate import (
        percolate, validate_stored_queries)
    bad = spark.createDataFrame([("q", ["a"], "sum")],
                                "query_id string, terms array<string>, "
                                "mode string")
    with pytest.raises(ValueError, match="unknown mode"):
        validate_stored_queries(bad)

    # stateless ⇒ per-micro-batch percolation in foreachBatch matches
    # the batch result exactly
    queries = spark.createDataFrame(
        [("alert_or", ["merge", "sort"], "any")],
        "query_id string, terms array<string>, mode string")
    src = str(tmp_path / "stream_src")
    pdocs.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(pdocs.schema).parquet(src)
    seen: list = []

    def sink(batch_df, _batch_id):
        seen.extend((r["doc_id"], r["query_id"]) for r in
                    percolate(batch_df, queries,
                              profile="simple").collect())

    q = (stream.writeStream.foreachBatch(sink)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination()
    batch = {(r["doc_id"], r["query_id"]) for r in
             percolate(pdocs, queries, profile="simple").collect()}
    assert set(seen) == batch == {(0, "alert_or"), (1, "alert_or"),
                                  (3, "alert_or")}


def test_ranking_eval_hand_computed(spark):
    from spidey_search_engine_spark.operators.rankeval import ranking_eval
    results = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
         ("q2", 20, 1), ("q2", 21, 2),
         ("q3", 30, 1)],
        "query_id string, doc_id long, rank int")
    judgments = spark.createDataFrame(
        [("q1", 11, 2), ("q1", 12, 1), ("q1", 99, 3),  # 99 unserved
         ("q2", 21, 1)],
        "query_id string, doc_id long, grade int")
    got = {r["query_id"]: r for r in
           ranking_eval(results, judgments, k=3).collect()}
    # q1: DCG = 0 + 3/log2(3) + 1/log2(4); IDCG = 7/log2(2) + 3/log2(3)
    #      + 1/log2(4)
    dcg = 3 / math.log2(3) + 1 / math.log2(4)
    idcg = 7 / math.log2(2) + 3 / math.log2(3) + 1 / math.log2(4)
    assert got["q1"]["ndcg"] == pytest.approx(dcg / idcg, abs=1e-12)
    assert got["q1"]["mrr"] == pytest.approx(0.5)
    assert got["q1"]["precision"] == pytest.approx(2 / 3)
    # q2: single relevant at rank 2 of k=3
    assert got["q2"]["ndcg"] == pytest.approx(
        (1 / math.log2(3)) / (1 / math.log2(2)), abs=1e-12)
    assert got["q2"]["mrr"] == pytest.approx(0.5)
    assert got["q2"]["precision"] == pytest.approx(1 / 3)
    # q3: no judgments at all → zeros, still emitted
    assert (got["q3"]["ndcg"], got["q3"]["mrr"],
            got["q3"]["precision"]) == (0.0, 0.0, 0.0)


def test_ranking_eval_k_cutoff_and_guard(spark):
    from spidey_search_engine_spark.operators.rankeval import ranking_eval
    results = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        "query_id string, doc_id long, rank int")
    judgments = spark.createDataFrame(
        [("q", 3, 5)], "query_id string, doc_id long, grade int")
    # at k=2 the only relevant doc (rank 3) is beyond the cutoff
    row = ranking_eval(results, judgments, k=2).collect()[0]
    assert (row["ndcg"], row["mrr"], row["precision"]) == (0.0, 0.0, 0.0)
    row3 = ranking_eval(results, judgments, k=3).collect()[0]
    assert row3["ndcg"] == pytest.approx(
        (31 / math.log2(4)) / (31 / math.log2(2)), abs=1e-12)
    with pytest.raises(ValueError):
        ranking_eval(results, judgments, k=0)


def test_ranking_eval_duplicate_judgment(spark):
    """A (query, doc) pair judged twice counts once, at its max grade:
    the duplicate row must not fan out the join (dcg, n_rel) or take
    two slots of the ideal page (idcg)."""
    from spidey_search_engine_spark.operators.rankeval import ranking_eval
    results = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2)],
        "query_id string, doc_id long, rank int")
    judgments = spark.createDataFrame(
        [("q", 1, 1), ("q", 1, 2), ("q", 2, 1)],
        "query_id string, doc_id long, grade int")
    row = ranking_eval(results, judgments, k=2).collect()[0]
    # doc 1 at grade 2, doc 2 at grade 1: served in the ideal order
    assert (row["ndcg"], row["mrr"], row["precision"]) == \
        (pytest.approx(1.0, abs=1e-12), 1.0, 1.0)
    deduped = spark.createDataFrame(
        [("q", 1, 2), ("q", 2, 1)], "query_id string, doc_id long, grade int")
    assert ranking_eval(results, deduped, k=2).collect() == [row]
