"""Block-max pruned top-k must equal the exhaustive path on every query
(SURVEY.md §7 step 6)."""

import math

import pytest

from tests.test_search import QUERIES


@pytest.mark.parametrize("query", QUERIES)
def test_pruned_equals_exhaustive(spark, index, query):
    from spidey_search_engine_spark.operators.search import bm25_topk
    from spidey_search_engine_spark.operators.wand import bm25_topk_pruned
    exact = [(r["doc_id"], r["score"]) for r in
             bm25_topk(spark, index, query, k=10).collect()]
    pruned = [(r["doc_id"], r["score"]) for r in
              bm25_topk_pruned(spark, index, query, k=10, range_bits=6,
                               probe_ranges=2, prune_frac=1.1).collect()]
    assert [d for d, _ in pruned] == [d for d, _ in exact]
    for (pd_, ps), (ed, es) in zip(pruned, exact):
        assert math.isclose(ps, es, rel_tol=1e-12)


def test_bounds_are_sound(spark, index):
    """Every doc's exact score ≤ its range's UB."""
    from pyspark.sql import functions as F
    from spidey_search_engine_spark.operators.search import (bm25_scores,
                                                             query_term_postings)
    from spidey_search_engine_spark.operators.wand import query_range_bounds
    from spidey_search_engine_spark.functions.analysis import analyze_query
    q_terms, _ = analyze_query("merge sort import")
    range_bits = 6
    bounds = {r["rng"]: r["ub"] for r in
              query_range_bounds(index, q_terms, range_bits).collect()}
    rows = query_term_postings(index["postings"], q_terms,
                               int(index["stats"]["n_buckets"]))
    scores = bm25_scores(rows, index, q_terms).collect()
    assert scores
    for r in scores:
        rng = r["doc_id"] >> range_bits
        assert rng in bounds
        assert r["score"] <= bounds[rng] + 1e-9


@pytest.mark.parametrize("max_mask", [1 << 16, 0])
def test_pruned_many_ranges_no_driver_materialization(spark, index, max_mask):
    """range_bits=0 → one range per doc (400 ranges ≫ probe_ranges): the
    surviving set flows as a DataFrame semi-join. max_mask=0 disables the
    intra-segment refinement entirely (the superset path every query takes
    once surviving ranges exceed the driver cap) — top-k must be identical
    either way."""
    from spidey_search_engine_spark.operators.search import bm25_topk
    from spidey_search_engine_spark.operators.wand import bm25_topk_pruned
    q = "merge sort hash parse"
    exact = [(r["doc_id"], round(r["score"], 9)) for r in
             bm25_topk(spark, index, q, k=10).collect()]
    pruned = [(r["doc_id"], round(r["score"], 9)) for r in
              bm25_topk_pruned(spark, index, q, k=10, range_bits=0,
                               probe_ranges=4, max_mask_ranges=max_mask,
                               prune_frac=1.1)
              .collect()]
    assert pruned == exact


def test_pruned_coarse_ranges(spark, index):
    """range_bits > seg_bits (coarse ranges spanning multiple segments):
    the rng→segment mapping explodes a bounded sequence; results identical."""
    from spidey_search_engine_spark.operators.search import bm25_topk
    from spidey_search_engine_spark.operators.wand import bm25_topk_pruned
    q = "merge sort table scan"
    exact = [r["doc_id"] for r in bm25_topk(spark, index, q, k=10).collect()]
    pruned = [r["doc_id"] for r in
              bm25_topk_pruned(spark, index, q, k=10, range_bits=9,
                               probe_ranges=1, prune_frac=1.1).collect()]
    assert pruned == exact


def test_pruned_default_fallback_identical(spark, index):
    """Default prune_frac: on this flat-score corpus the surviving-fraction
    fallback engages and must still return the identical top-k."""
    from spidey_search_engine_spark.operators.search import bm25_topk
    from spidey_search_engine_spark.operators.wand import bm25_topk_pruned
    q = "merge sort hash parse"
    exact = [(r["doc_id"], round(r["score"], 9)) for r in
             bm25_topk(spark, index, q, k=10).collect()]
    pruned = [(r["doc_id"], round(r["score"], 9)) for r in
              bm25_topk_pruned(spark, index, q, k=10, range_bits=6,
                               probe_ranges=2).collect()]
    assert pruned == exact
