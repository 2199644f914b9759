"""Block-max segment skipping inside the BM25 kernel
(search.score_segments): the top-k equals the unpruned ranker's bit for
bit on every query and both placements, every doc scores at most its
segment's bound, and a segment holding no possible top-k doc is never
decoded."""

import numpy as np
import pytest

from tests.test_search import QUERIES


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _resident_rows(searcher, bag, k, important_weight=1.0):
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_resident
    pdf = bm25_topk_resident(searcher._resident, searcher.index, {"q": bag},
                             k, important_weight=important_weight)
    return list(zip(pdf["doc_id"], pdf["score"]))


@pytest.fixture(scope="module")
def resident(spark, index):
    from spidey_search_engine_spark.operators.search import Searcher
    s = Searcher(spark, index)
    assert s._resident is not None
    yield s
    s.close()


@pytest.mark.parametrize("query", QUERIES)
def test_pruned_equals_exhaustive(spark, index, resident, query):
    """Both placements of the pruning kernel return the unpruned plain
    ranker's rows, exact floats."""
    from spidey_search_engine_spark.operators.search import (
        bm25_topk, bm25_topk_colocated_tokens, query_bag)
    exact = _rows(bm25_topk(spark, index, query, k=10))
    bag = query_bag(query)
    assert _rows(bm25_topk_colocated_tokens(spark, index, bag, 10)) == exact
    assert _resident_rows(resident, bag, 10) == exact


def test_bounds_are_sound(spark, index, resident):
    """Every doc's exact score ≤ its segment's bound — compared exactly,
    no tolerance — with and without the BM25F boost on either side of
    1."""
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_tokens, colocated_weights, segment_bounds)
    bag = ["merg", "sort", "import", "merg"]
    seg_bits = int(index["stats"]["seg_bits"])
    avgdl = float(index["stats"]["avgdl"])
    _, subs = colocated_weights(index, {"q": bag})
    segs = {}
    for t in sorted(subs):
        for seg, buf, max_tf, min_dl in resident._resident[t]:
            segs.setdefault(seg, []).append((t, buf, max_tf, min_dl))
    assert len(segs) > 1
    for w in (1.0, 2.5, 0.5):
        ub = {seg: segment_bounds(rows, subs, 1, avgdl, w)[0]
              for seg, rows in segs.items()}
        scores = _rows(bm25_topk_tokens(spark, index, bag, k=10 ** 6,
                                        important_weight=w))
        assert len(scores) > 100
        for doc_id, score in scores:
            assert score <= ub[doc_id >> seg_bits], (w, doc_id)


@pytest.mark.parametrize("max_mask", [1 << 16, 0])
def test_pruned_many_ranges_no_driver_materialization(spark, index,
                                                      monkeypatch,
                                                      max_mask):
    """`max_mask` is the resident budget in postings: 2^16 holds the
    test index on the driver, 0 keeps every posting on Spark (nothing
    collected). Either placement answers the warm Searcher's query with
    the unpruned ranker's exact floats."""
    from spidey_search_engine_spark.operators.search import (Searcher,
                                                             bm25_topk)
    monkeypatch.setattr(Searcher, "RESIDENT_MAX_POSTINGS", max_mask)
    q = "merge sort hash parse"
    with Searcher(spark, index, coalesce_to=4) as s:
        assert (s._resident is None) == (max_mask == 0)
        assert _rows(s.bm25(q, k=10)) == _rows(bm25_topk(spark, index, q,
                                                         k=10))


def test_pruned_coarse_ranges(spark, index, resident):
    """k past every segment's candidate count: θ never forms, nothing is
    skipped, and the kernel ranks every matching doc exactly."""
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_colocated_tokens, bm25_topk_tokens)
    bag = ["merg", "sort", "tabl", "scan"]
    exact = _rows(bm25_topk_tokens(spark, index, bag, k=500))
    assert 10 < len(exact) < 500
    assert _rows(bm25_topk_colocated_tokens(spark, index, bag, 500)) == exact
    assert _resident_rows(resident, bag, 500) == exact


def test_pruned_default_fallback_identical(spark, index, resident):
    """There is no unpruned fallback to route to: a batch of queries with
    different thresholds on one kernel pass (both placements) still
    returns each query's exact top-k, the BM25F boost included."""
    from spidey_search_engine_spark.operators.search import (
        bm25_scores_batch_colocated, bm25_topk_resident, bm25_topk_tokens)
    bags = {"a": ["merg", "sort"], "b": ["hash", "pars"],
            "c": ["import", "return", "merg"], "d": ["fast"]}
    for w in (1.0, 2.5):
        want = {q: _rows(bm25_topk_tokens(spark, index, bag, k=5,
                                          important_weight=w))
                for q, bag in bags.items()}
        pdf = bm25_topk_resident(resident._resident, index, bags, 5,
                                 important_weight=w)
        got = {q: list(zip(g["doc_id"], g["score"]))
               for q, g in pdf.groupby("query_id")}
        assert got == want, w
        cand = bm25_scores_batch_colocated(index, bags, 5,
                                           important_weight=w).toPandas()
        spark_top = {
            q: [(d, s) for d, s in g.sort_values(
                ["score", "doc_id"], ascending=[False, True])
                [["doc_id", "score"]].itertuples(index=False)][:5]
            for q, g in cand.groupby("query_id")}
        assert spark_top == want, w


@pytest.fixture(scope="module")
def packed_index(spark, tmp_path_factory):
    """512 docs in 8 segments of 64: every doc says 'hot', and segment 3
    holds only heavy docs (hot ×30, no other word). For 'hot' the other
    segments' bounds fall below the k-th heavy score; for 'hot alpha'
    segment 3's bound falls below the alpha docs' scores. Either way the
    kernel must skip segments."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    rows = []
    for i in range(512):
        if 192 <= i < 256:
            body = "hot " * 30 + f"doc{i}"
        else:
            body = f"alpha beta gamma delta epsilon zeta hot doc{i}"
        rows.append((i, body, f"p{i}.py", "r", "c", "py"))
    out = str(tmp_path_factory.mktemp("packed_idx"))
    corpus = spark.createDataFrame(
        rows, "doc_id long, content string, path string, repo string, "
              "commit string, lang string").repartition(4)
    build_index(spark, corpus, out, profile="code", seg_bits=6,
                n_buckets=4)
    return load_index(spark, out)


def test_packed_skew_skips_segments(spark, packed_index, monkeypatch):
    """Heavy docs packed in one segment: the resident kernel decodes
    fewer rows than the query's rows, and the answers equal the
    unpruned ranker's on both placements."""
    from spidey_search_engine_spark.operators import search as S
    with S.Searcher(spark, packed_index) as s:
        assert s._resident is not None
        decoded = []
        real = S.decode_segment_nopos

        def counting(buf):
            decoded.append(1)
            return real(buf)

        monkeypatch.setattr(S, "decode_segment_nopos", counting)
        for bag in (["hot"], ["hot", "hot"], ["hot", "alpha"]):
            n_rows = sum(len(s._resident[t]) for t in set(bag))
            decoded.clear()
            got = _resident_rows(s, bag, 10)
            assert 0 < len(decoded) < n_rows, (bag, len(decoded), n_rows)
            monkeypatch.setattr(S, "decode_segment_nopos", real)
            want = _rows(S.bm25_topk_tokens(spark, packed_index, bag, k=10))
            assert got == want and len(want) == 10, bag
            assert all((192 <= d < 256) == (bag != ["hot", "alpha"])
                       for d, _ in got), bag
            assert _rows(S.bm25_topk_colocated_tokens(
                spark, packed_index, bag, 10)) == want, bag
            monkeypatch.setattr(S, "decode_segment_nopos", counting)


def test_missing_bound_never_skips(spark, packed_index):
    """A row whose bound inputs are missing (NaN, what a null block
    array reads as) is scored, never skipped: the answer is unchanged."""
    from spidey_search_engine_spark.operators.search import (
        colocated_weights, resident_postings, score_segments)
    res = resident_postings(packed_index["postings"])
    qids, subs = colocated_weights(packed_index, {"q": ["hot"]})
    stats = packed_index["stats"]

    def top(rows):
        out = [(int(d), float(sc)) for _, dd, ss in score_segments(
            rows, subs, 1, int(stats["seg_bits"]), float(stats["avgdl"]), 5)
            for d, sc in zip(dd, ss)]
        return sorted(out, key=lambda r: (-r[1], r[0]))[:5]

    rows = sorted((("hot", seg, buf, mt, md)
                   for seg, buf, mt, md in res["hot"]), key=lambda r: r[1])
    blind = [(t, seg, buf, np.nan, np.nan) for t, seg, buf, _, _ in rows]
    assert top(blind) == top(rows)
    n_blind = sum(1 for _ in score_segments(
        blind, subs, 1, int(stats["seg_bits"]), float(stats["avgdl"]), 5))
    assert n_blind == len(rows)  # every segment scored
