"""The tf-skewed shape the deleted impact-ordered ranker was built for —
a heavy doc in EVERY segment, so segment bounds cannot prune — served by
the block-max kernel: exact answers on both placements, stored bound
inputs that match the postings, and the CLI default path on the same
shape. These tests check exactness only; skipping is pinned on a shape
where bounds can prune (test_wand.test_packed_skew_skips_segments)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def skew_index(spark, tmp_path_factory):
    """800-doc corpus where EVERY doc mentions 'hot' once but every 16th
    repeats it 25x — one heavy doc in each 16-doc segment."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(800):
        body = base + " hot"
        if i % 16 == 0:
            body += " hot" * 24
        rows.append((i, body + f" doc{i}", f"p{i}.py", "r", "c", "py"))
    out = str(tmp_path_factory.mktemp("skew_idx"))
    corpus = spark.createDataFrame(
        rows, "doc_id long, content string, path string, repo string, "
              "commit string, lang string").repartition(8)
    build_index(spark, corpus, out, profile="code", seg_bits=4,
                n_buckets=8)
    return load_index(spark, out)


@pytest.fixture(scope="module")
def skew_searcher(spark, skew_index):
    from spidey_search_engine_spark.operators.search import Searcher
    s = Searcher(spark, skew_index)
    assert s._resident is not None
    yield s
    s.close()


def _both_placements(spark, searcher, bag, k=10, important_weight=1.0):
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_colocated_tokens, bm25_topk_resident)
    pdf = bm25_topk_resident(searcher._resident, searcher.index, {"q": bag},
                             k, important_weight=important_weight)
    colo = _rows(bm25_topk_colocated_tokens(
        spark, searcher.index, bag, k, important_weight=important_weight))
    return list(zip(pdf["doc_id"], pdf["score"])), colo


def test_impact_route_terminates_and_matches(spark, skew_index,
                                             skew_searcher):
    from spidey_search_engine_spark.operators.search import bm25_topk_tokens
    want = _rows(bm25_topk_tokens(spark, skew_index, ["hot"], k=10))
    assert len(want) == 10 and all(d % 16 == 0 for d, _ in want)
    res, colo = _both_placements(spark, skew_searcher, ["hot"])
    assert res == colo == want


def test_impact_multi_term_and_bag_semantics(spark, skew_index,
                                             skew_searcher):
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_colocated_tokens, bm25_topk_tokens)
    for bag in (["hot", "alpha"], ["hot", "hot"], ["alpha", "beta"],
                ["doc7"], ["zzz_absent"]):
        want = _rows(bm25_topk_tokens(spark, skew_index, bag, k=10))
        res, colo = _both_placements(spark, skew_searcher, bag)
        assert res == colo == want, bag
    assert bm25_topk_colocated_tokens(spark, skew_index, [], k=5) \
        .count() == 0


def test_all_bands_route(spark, skew_index, skew_searcher):
    """A uniform tf=1 term ('alpha' in every doc): every segment's bound
    ties the scores, so no segment can be skipped and every doc's score
    is exact."""
    from spidey_search_engine_spark.operators.search import bm25_topk_tokens
    want = _rows(bm25_topk_tokens(spark, skew_index, ["alpha"], k=10))
    res, colo = _both_placements(spark, skew_searcher, ["alpha"])
    assert res == colo == want and len(want) == 10


def test_stale_projection_falls_back(spark, skew_index, skew_searcher):
    """The BM25F boost on either side of 1 scales the bound's tf by
    max(1, w): answers stay exact on the skewed shape."""
    from spidey_search_engine_spark.operators.search import bm25_topk_tokens
    for w in (3.0, 0.25):
        want = _rows(bm25_topk_tokens(spark, skew_index, ["hot", "alpha"],
                                      k=10, important_weight=w))
        res, colo = _both_placements(spark, skew_searcher, ["hot", "alpha"],
                                     important_weight=w)
        assert res == colo == want, w


def test_band_rows_cover_postings_exactly(spark, skew_index):
    """The kernel's bound inputs are exact: per (term, segment) row,
    max(block_max_tf) is the largest decoded tf and min(block_min_dl)
    the smallest decoded dl."""
    from spidey_search_engine_spark.operators.build import (
        decode_segment_nopos)
    rows = (skew_index["postings"]
            .filter(F.col("term").isin("hot", "alpha", "doc7"))
            .select("term", "segment", "bin",
                    F.array_max("block_max_tf").alias("max_tf"),
                    F.array_min("block_min_dl").alias("min_dl"))
            .collect())
    assert len(rows) >= 100
    for r in rows:
        _, tfs, _, dls = decode_segment_nopos(bytes(r["bin"]))
        assert (int(np.max(tfs)), int(np.min(dls))) == \
            (r["max_tf"], r["min_dl"]), (r["term"], r["segment"])


def test_cli_impact_query(spark, tmp_path, capsys):
    """On a tf-skewed corpus the CLI default query path prints exactly
    the unpruned ranker's rows, and build writes no impact projection."""
    import json
    import os

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import load_index
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_tokens, query_bag)

    rows = []
    for i in range(64):
        body = "alpha beta hot" + (" hot" * 24 if i % 8 == 0 else "")
        rows.append((i, body + f" doc{i}", f"p{i}.py", "r", "c", "py"))
    src = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        rows, "doc_id long, content string, path string, repo string, "
              "commit string, lang string").coalesce(2).write.parquet(src)
    rc = main(["build", "--input", src, "--output", idx,
               "--profile", "code", "--seg-bits", "4", "--n-buckets", "4"])
    assert rc == 0
    capsys.readouterr()
    assert not os.path.exists(os.path.join(idx, "impact"))
    rc = main(["query", "--index", idx, "--q", "hot alpha", "--k", "5"])
    assert rc == 0
    got = [json.loads(ln) for ln in
           capsys.readouterr().out.strip().splitlines()]
    want = _rows(bm25_topk_tokens(spark, load_index(spark, idx),
                                  query_bag("hot alpha"), k=5))
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert len(want) == 5
