"""Warm solo BM25 on Spark: with the resident tier off, Searcher.bm25 and
the CLI default path run the block-max kernel's Spark placement
(bm25_topk_colocated_tokens) at every index size — no doc-count route —
and return the plain ranker's floats."""

import pytest


@pytest.fixture()
def searcher(spark, index, monkeypatch):
    from spidey_search_engine_spark.operators.search import Searcher
    monkeypatch.setattr(Searcher, "RESIDENT_MAX_POSTINGS", 0)
    s = Searcher(spark, index, cache_postings=True, coalesce_to=4)
    assert s._resident is None
    yield s
    s.close()


def _count_kernel_calls(monkeypatch):
    from spidey_search_engine_spark.operators import search as S
    calls = []
    real = S.bm25_topk_colocated_tokens

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(S, "bm25_topk_colocated_tokens", counting)
    return calls


def test_route_boundary_from_metadata(searcher, monkeypatch):
    """The 400-doc test index (below the old 1,000-doc floor) takes the
    kernel too."""
    assert int(searcher.index["stats"]["n_docs"]) == 400
    calls = _count_kernel_calls(monkeypatch)
    assert searcher.bm25("merge sort", k=5).collect()
    assert calls == [1]


def test_routes_rank_identical(spark, searcher):
    from spidey_search_engine_spark.operators.search import bm25_topk
    q = "merge sort lookup"
    plain = [(r["doc_id"], r["score"])
             for r in bm25_topk(spark, searcher.index, q, k=10).collect()]
    colo = [(r["doc_id"], r["score"])
            for r in searcher.bm25_colocated(q, k=10).collect()]
    auto = [(r["doc_id"], r["score"])
            for r in searcher.bm25(q, k=10).collect()]
    assert plain == colo == auto
    assert len(plain) == 10


def test_cli_default_path_routes_identically(spark, index, index_dir,
                                             capsys, monkeypatch):
    """The CLI default query path runs the kernel and prints the plain
    ranker's rows, exact floats."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_tokens, query_bag)

    calls = _count_kernel_calls(monkeypatch)
    assert main(["query", "--index", index_dir, "--q", "merge sort",
                 "--k", "8"]) == 0
    got = [(d["doc_id"], d["score"]) for d in
           (json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines())]
    assert calls == [1]
    plain = [(r["doc_id"], r["score"]) for r in bm25_topk_tokens(
        spark, index, query_bag("merge sort"), k=8).collect()]
    assert got == plain and len(plain) == 8
