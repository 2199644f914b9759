"""Driver-resident warm serving: a Searcher whose warm kept the compressed
postings on the driver answers bm25 / bm25_batch in-process with the
colocated kernel — bit-for-bit the Spark colocated route's answers, with
no Spark job per query — and falls back to the Spark routes over the
RESIDENT_MAX_POSTINGS budget."""

import pytest

QUERIES = [
    "merge sort lookup",           # multi-term
    "merge merge sort",            # duplicated term: 2x idf weight
    '"merge sort" fast',           # quoted phrase: words join the bag
    "zzz_unknown_term",            # no postings
    "",                            # empty query
]


@pytest.fixture()
def searcher(spark, index):
    from spidey_search_engine_spark.operators.search import Searcher
    s = Searcher(spark, index, cache_postings=True, coalesce_to=4)
    yield s
    s.close()


def _hot_term(searcher):
    from spidey_search_engine_spark.functions.analysis import analyze_query
    dfs = searcher.index["idf_cache"]["df"]
    return max((t for t in dfs if analyze_query(t) == ([t], [])),
               key=lambda t: (dfs[t], t))


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _jobs_and_tasks(spark, group, fn):
    """(result, jobs, tasks) of running fn() under its own job group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        for sid in st.getJobInfo(j).stageIds:
            tasks += st.getStageInfo(sid).numTasks
    return out, len(jobs), tasks


def test_resident_equals_colocated_exactly(spark, searcher):
    assert searcher._resident is not None
    for q in [_hot_term(searcher)] + QUERIES:
        res = _rows(searcher.bm25(q, k=10))
        # exact floats, not rounded: the Spark colocated route
        assert res == _rows(searcher.bm25_colocated(q, k=10)), q
        assert bool(res) == (q not in ("", "zzz_unknown_term")), q


def test_resident_important_weight_equals_colocated(spark, searcher):
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_colocated_tokens, bm25_topk_resident, query_bag)
    bag = query_bag("merge sort lookup")
    for w in (2.0, 0.5):
        pdf = bm25_topk_resident(searcher._resident, searcher.index,
                                 {"q": bag}, k=10, important_weight=w)
        colo = _rows(bm25_topk_colocated_tokens(
            spark, searcher.index, bag, 10, important_weight=w))
        assert list(zip(pdf["doc_id"], pdf["score"])) == colo and colo
        assert list(pdf["rank"]) == list(range(1, len(colo) + 1))


def test_resident_batch_equals_spark_batch(spark, searcher):
    from spidey_search_engine_spark.operators.search import bm25_topk_batch
    queries = {f"q{i}": q for i, q in enumerate(
        [_hot_term(searcher)] + QUERIES)}

    def ranked(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in df.collect())

    res = ranked(searcher.bm25_batch(queries, k=7))
    assert res == ranked(bm25_topk_batch(spark, searcher.index, queries, 7))
    assert {r[0] for r in res} == {"q0", "q1", "q2", "q3"}


def test_over_budget_falls_back_to_spark(spark, index, searcher,
                                         monkeypatch):
    from spidey_search_engine_spark.operators.search import (
        Searcher, bm25_topk, bm25_topk_batch)
    resident = {q: _rows(searcher.bm25(q, k=8))
                for q in ["merge sort lookup", "merge merge sort"]}
    monkeypatch.setattr(Searcher, "RESIDENT_MAX_POSTINGS", 0)
    with Searcher(spark, index, cache_postings=True, coalesce_to=4) as s:
        assert s._resident is None
        for q, want in resident.items():
            # the 400-doc index routes plain; exact floats on every route
            fallback = _rows(s.bm25(q, k=8))
            assert fallback == _rows(bm25_topk(spark, s.index, q, 8))
            assert fallback == _rows(s.bm25_colocated(q, k=8)) == want
        queries = {"a": "merge sort lookup", "b": "hash join scan"}
        assert sorted(s.bm25_batch(queries, 8).collect()) == \
            sorted(bm25_topk_batch(spark, s.index, queries, 8).collect())


def test_resident_needs_full_preload(spark, index, monkeypatch):
    from spidey_search_engine_spark.operators.search import Searcher
    for kw in ({"cache_postings": False}, {"preload_dict": False}):
        with Searcher(spark, index, **kw) as s:
            assert s._resident is None, kw
    # a head-only dictionary (over the preload budget) keeps postings
    # on the Spark routes too
    monkeypatch.setattr(Searcher, "AUTO_PRELOAD_MAX_TERMS", 5)
    with Searcher(spark, index) as s:
        assert s.index["idf_cache"].get("partial") is True
        assert s._resident is None


def test_resident_query_runs_no_spark_task(spark, searcher):
    q = "merge sort lookup"
    searcher.bm25(q, k=10).collect()  # first call may import lazily
    rows, jobs, tasks = _jobs_and_tasks(
        spark, "resident-solo", lambda: searcher.bm25(q, k=10).collect())
    assert rows and jobs == 0 and tasks == 0
    rows, jobs, tasks = _jobs_and_tasks(
        spark, "resident-batch",
        lambda: searcher.bm25_batch({"a": q, "b": "hash"}, 10).collect())
    assert rows and jobs == 0 and tasks == 0
    # empty answers come from an empty RDD: no task either
    for i, empty_q in enumerate(["zzz_unknown_term", ""]):
        rows, _, tasks = _jobs_and_tasks(
            spark, f"resident-empty-{i}",
            lambda: searcher.bm25(empty_q, k=10).collect())
        assert rows == [] and tasks == 0


def test_close_drops_resident_postings(spark, index):
    from spidey_search_engine_spark.operators.search import Searcher
    s = Searcher(spark, index)
    assert s._resident
    s.close()
    assert s._resident is None


def test_empty_frame_runs_no_task(spark):
    from spidey_search_engine_spark.operators.pagerank import pagerank
    from spidey_search_engine_spark.operators.search import empty_frame
    df = empty_frame(spark, "doc_id long, score double")
    assert df.columns == ["doc_id", "score"]
    # an operator's empty answer (no docs to rank) takes the same path
    ranks = pagerank(spark, empty_frame(spark, "src long, dst long"), 0)
    assert ranks.columns == ["doc_id", "page_rank"]
    for i, frame in enumerate((df, ranks)):
        rows, _, tasks = _jobs_and_tasks(spark, f"empty-frame-{i}",
                                         frame.collect)
        assert rows == [] and tasks == 0
