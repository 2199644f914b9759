"""Warm solo-BM25 routing (Searcher.bm25 auto-selects plain vs the
segment-colocated kernel from the stored doc count — the ROUTE
discipline). Both routes return the same floats, so the route only
moves speed."""

import pytest


@pytest.fixture()
def searcher(spark, index):
    from spidey_search_engine_spark.operators.search import Searcher
    s = Searcher(spark, index, cache_postings=True, coalesce_to=4)
    yield s
    s.close()


def test_route_boundary_from_metadata(searcher, monkeypatch):
    from spidey_search_engine_spark.operators import search as S
    stats = searcher.index["stats"]
    # the 400-doc test index sits under the default floor → plain
    assert S.route_solo(stats) == "plain"
    monkeypatch.setattr(S, "SOLO_COLOCATED_MIN_DOCS", 400)
    assert S.route_solo(stats) == "colocated"
    monkeypatch.setattr(S, "SOLO_COLOCATED_MIN_DOCS", 401)
    assert S.route_solo(stats) == "plain"


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


def test_cli_default_path_routes_identically(spark, index_dir, capsys,
                                             monkeypatch):
    """The CLI default query path routes by the same metadata floor;
    forced plain and forced colocated print identical rows, exact floats
    (the 400-doc test index sits below the floor, so auto == plain
    there)."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators import search as S

    def rows():
        return [(d["doc_id"], d["score"]) for d in
                (json.loads(ln) for ln in
                 capsys.readouterr().out.strip().splitlines())]

    argv = ["query", "--index", index_dir, "--q", "merge sort", "--k", "8"]
    assert main(argv) == 0
    auto = rows()
    monkeypatch.setattr(S, "SOLO_COLOCATED_MIN_DOCS", 10 ** 9)
    assert main(argv) == 0
    plain = rows()
    monkeypatch.setattr(S, "SOLO_COLOCATED_MIN_DOCS", 0)
    assert main(argv) == 0
    colo = rows()
    assert auto == plain == colo and len(plain) == 8
