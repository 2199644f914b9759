"""BM25 / parity top-k rank equality vs the pure-Python oracle (SURVEY §5.4)
and build invariants (§5.3, §5.5)."""

import math

import pytest

from tests.oracle import OracleIndex

QUERIES = [
    "merge sort",
    "sorting algorithms",
    "binary search",
    "hash map lookup",
    "import return",           # hot stopword-ish terms kept in index
    "buildTreeNode",           # camelCase query identifier
    "the import of a return",  # stopword-heavy
    "nonexistentterm merge",
]


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    docs = list(zip(range(len(corpus_pdf)), corpus_pdf["path"], corpus_pdf["content"]))
    # doc_id assignment in the engine is row_number over (repo, path); build
    # the oracle on the same ordering
    ordered = corpus_pdf.sort_values(["repo", "path"]).reset_index(drop=True)
    docs = list(zip(range(len(ordered)), ordered["path"], ordered["content"]))
    return OracleIndex(docs, profile="code")


def test_doc_ids_dense_and_sha_invariant(spark, index, corpus_pdf):
    docs = index["docs"].toPandas().sort_values("doc_id").reset_index(drop=True)
    n = len(corpus_pdf)
    assert list(docs["doc_id"]) == list(range(n))  # dense contiguous
    # per-row content sha256 equality vs the source table (input_hint)
    import hashlib
    src = corpus_pdf.sort_values(["repo", "path"]).reset_index(drop=True)
    expected = [hashlib.sha256(c.encode()).hexdigest() for c in src["content"]]
    assert list(docs["content_sha256"]) == expected


def test_df_matches_oracle(index, oracle):
    terms = {r["term"]: (r["df"], r["cf"]) for r in index["terms"].collect()}
    assert set(terms) == set(oracle.df)
    for t, (df, cf) in terms.items():
        assert df == oracle.df[t], t
        assert cf == sum(c.get(t, 0) for c in oracle.tf.values()), t


def test_avgdl_matches_oracle(index, oracle):
    assert index["stats"]["n_docs"] == oracle.n_docs
    assert math.isclose(float(index["stats"]["avgdl"]), oracle.avgdl, rel_tol=1e-9)


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_rank_identical(spark, index, oracle, query):
    from spidey_search_engine_spark.operators.search import bm25_topk
    got = [(r["doc_id"], r["score"]) for r in bm25_topk(spark, index, query, k=10).collect()]
    exp = oracle.bm25_topk(query, k=10)
    assert [d for d, _ in got] == [d for d, _ in exp], query
    for (gd, gs), (ed, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9), (query, gd)


@pytest.mark.parametrize("query", [
    "merge sort", "import return", '"merge sort"',
    'tokenize "hash map" lookup', "sorting algorithms",
])
def test_parity_rank_identical(spark, index, oracle, query):
    from spidey_search_engine_spark.operators.search import parity_search
    got = parity_search(spark, index, query, page=1, page_size=20).collect()
    exp = oracle.parity_search(query, page=1, page_size=20)
    assert [r["doc_id"] for r in got] == [d for d, *_ in exp], query
    for r, e in zip(got, exp):
        assert math.isclose(r["total_relevance"], e[4], rel_tol=1e-9)
        assert math.isclose(r["score"], e[5], rel_tol=1e-9)


def test_merge_equivalence_partitions(spark, corpus_pdf, tmp_path):
    """SURVEY §5.3: k-partition build == 1-partition build."""
    from spidey_search_engine_spark.operators.build import build_index, load_index
    sub = corpus_pdf.head(120)
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_index(spark, spark.createDataFrame(sub).repartition(1), a,
                profile="code", seg_bits=6, n_buckets=4)
    build_index(spark, spark.createDataFrame(sub).repartition(7), b,
                profile="code", seg_bits=6, n_buckets=4)
    ia, ib = load_index(spark, a), load_index(spark, b)
    pa = {(r["term"], r["segment"]): bytes(r["bin"])
          for r in ia["postings"].collect()}
    pb = {(r["term"], r["segment"]): bytes(r["bin"])
          for r in ib["postings"].collect()}
    assert pa == pb  # byte-identical compressed postings


def test_positions_roundtrip_through_index(spark, index, oracle):
    """Positions stored in the index equal tokenizer ordinals."""
    from spidey_search_engine_spark.operators.search import query_term_postings
    rows = query_term_postings(index["postings"], ["merg"],
                               int(index["stats"]["n_buckets"]),
                               with_positions=True).collect()
    assert rows
    for r in rows[:50]:
        exp = oracle.positions[r["doc_id"]].get("merg")
        assert exp is not None
        assert list(r["positions"]) == exp
        assert r["tf"] == len(exp)
        assert r["dl"] == oracle.dl[r["doc_id"]]
        assert r["important"] == ("merg" in oracle.title_tokens[r["doc_id"]])


def test_searcher_matches_cold_paths(spark, index):
    """Warm serving tier: preloaded-dictionary + cached-postings queries
    must return exactly the cold-path results (exhaustive AND the pruning
    kernel), and close() must only unpersist what the instance cached."""
    from spidey_search_engine_spark.operators.search import (
        Searcher, bm25_topk, bm25_topk_colocated_tokens, query_bag)

    s = Searcher(spark, index, cache_postings=True, coalesce_to=4)
    try:
        for q in ["merge sort", "hash join scan", "zzz_unknown_term",
                  'fast "merge sort"']:
            cold = [(r["doc_id"], r["score"]) for r in
                    bm25_topk(spark, index, q, k=8).collect()]
            warm = [(r["doc_id"], r["score"]) for r in
                    s.bm25(q, k=8).collect()]
            assert warm == cold, q
        q = "merge sort parse"
        cold_p = [(r["doc_id"], r["score"]) for r in
                  bm25_topk_colocated_tokens(spark, index, query_bag(q),
                                             k=8).collect()]
        warm_p = [(r["doc_id"], r["score"]) for r in
                  s.bm25_colocated(q, k=8).collect()]
        assert warm_p == cold_p == [(r["doc_id"], r["score"]) for r in
                                    bm25_topk(spark, index, q,
                                              k=8).collect()]
        # the full token-level algebra over the warmed index == the
        # cold composition (wildcards expand into the bag, must/exclude
        # filter before top-k)
        from spidey_search_engine_spark.functions.analysis import \
            analyze_query
        from spidey_search_engine_spark.operators.search import (
            bm25_topk_boolean, expand_wildcard)
        q_terms, _ = analyze_query("merge sort")
        terms = list(q_terms)
        seen = set(terms)
        for t in expand_wildcard(index, "ha*"):
            if t not in seen:
                terms.append(t)
                seen.add(t)
        cold_b = [(r["doc_id"], r["score"]) for r in
                  bm25_topk_boolean(spark, index, terms, must=["merg"],
                                    exclude=["scan"], k=8).collect()]
        warm_b = [(r["doc_id"], r["score"]) for r in
                  s.boolean(q_terms, must=["merg"], exclude=["scan"],
                            wildcards=["ha*"], k=8).collect()]
        assert warm_b == cold_b and warm_b
        # wildcard patterns lowercase before expansion, same as the CLI
        # path — "HA*" must not silently expand to nothing
        warm_uc = [(r["doc_id"], r["score"]) for r in
                   s.boolean(q_terms, must=["merg"], exclude=["scan"],
                             wildcards=["HA*"], k=8).collect()]
        assert warm_uc == warm_b
        # the round-4 results-page algebra over the warmed index == cold
        from spidey_search_engine_spark.operators.search import (
            bm25_collapse_topk, bm25_filtered_topk, bm25_synonym_topk)
        cold_f = [(r["doc_id"], r["score"]) for r in
                  bm25_filtered_topk(spark, index, index["docs"],
                                     q_terms, {"lang": "py"},
                                     k=8).collect()]
        warm_f = [(r["doc_id"], r["score"]) for r in
                  s.filtered(q_terms, {"lang": "py"}, k=8).collect()]
        assert warm_f == cold_f and warm_f
        cold_c = [(r["doc_id"], r["score"], r["repo"],
                   r["group_size"]) for r in
                  bm25_collapse_topk(spark, index, index["docs"],
                                     q_terms, "repo", k=8).collect()]
        warm_c = [(r["doc_id"], r["score"], r["repo"],
                   r["group_size"]) for r in
                  s.collapse(q_terms, "repo", k=8).collect()]
        assert warm_c == cold_c and warm_c
        cold_s = [(r["doc_id"], r["score"]) for r in
                  bm25_synonym_topk(spark, index,
                                    [["merg", "sort"]], k=8).collect()]
        warm_s = [(r["doc_id"], r["score"]) for r in
                  s.synonym([["merg", "sort"]], k=8).collect()]
        assert warm_s == cold_s and warm_s
        # warm pagination: Searcher.after page 1 + cursor page 2 stitch
        # to exactly the cold ranker (bitwise — the fold makes the
        # cursor handoff reproducible across the warm/cold caches)
        from spidey_search_engine_spark.operators.search import \
            bm25_topk_tokens
        cold_a = [(r["doc_id"], r["score"]) for r in
                  bm25_topk_tokens(spark, index, q_terms,
                                   k=16).collect()]
        wp1 = s.after(q_terms, k=8).collect()
        wcur = (wp1[-1]["score"], wp1[-1]["doc_id"])
        wp2 = s.after(q_terms, k=8, after=wcur).collect()
        assert [(r["doc_id"], r["score"])
                for r in wp1 + wp2] == cold_a
    finally:
        s.close()
    # the caller's index DataFrames still work after close
    assert index["terms"].count() > 0
    assert index["postings"].count() > 0


def test_phrase_two_pass_equals_one_pass(spark, index):
    """The gap-first two-pass positional decode must return exactly the
    one-pass full decode's phrase scores, and an absent phrase word must
    short-circuit to empty."""
    from spidey_search_engine_spark.functions.analysis import analyze_query
    from spidey_search_engine_spark.operators.search import \
        parity_phrase_scores

    for q in ['"merge sort"', '"binary search"']:
        _, phrases = analyze_query(q)
        (ph,) = phrases
        one = sorted((r["doc_id"], r["relevance"])
                     for r in parity_phrase_scores(spark, index, ph, ph,
                                                   two_pass=False).collect())
        two = sorted((r["doc_id"], r["relevance"])
                     for r in parity_phrase_scores(spark, index, ph, ph,
                                                   two_pass=True).collect())
        assert one == two, q
        assert one  # the corpus plants these phrases — non-vacuous
    got = parity_phrase_scores(spark, index, ["merg", "zzzabsentword"],
                               [], two_pass=True).collect()
    assert got == []


def test_searcher_head_only_dict(spark, index, monkeypatch):
    """A preload budget below |V| keeps only the high-df dictionary head
    driver-side; a query mixing head terms, a TAIL term (absent from the
    cache) and an absent term must still equal the cold path exactly — the
    tail term resolves through the pushdown fallback, and both the tail hit
    and the absence are memoized on first use; the repeat returns the same
    floats."""
    from spidey_search_engine_spark.functions.analysis import analyze_query
    from spidey_search_engine_spark.operators.search import (Searcher,
                                                             bm25_topk)

    dfs = {r["term"]: r["df"] for r in index["terms"].collect()}
    thresh = sorted(dfs.values())[len(dfs) // 2]
    head_size = sum(1 for d in dfs.values() if d > thresh)
    assert 0 < head_size < len(dfs)

    def fixed_point(t):  # query analysis must reproduce the stored term
        return analyze_query(t) == ([t], [])

    def top(q):
        return [(r["doc_id"], r["score"]) for r in q.collect()]

    monkeypatch.setattr(Searcher, "AUTO_PRELOAD_MAX_TERMS", head_size)
    s = Searcher(spark, index, cache_postings=True, coalesce_to=4)
    try:
        cache = s.index["idf_cache"]
        assert cache.get("partial") is True
        head_terms = [t for t in sorted(cache["df"]) if fixed_point(t)]
        tail_terms = [t for t in sorted(dfs)
                      if t not in cache["df"] and fixed_point(t)]
        assert tail_terms and head_terms
        q = f"{head_terms[0]} {tail_terms[0]} zzz_unknown_term"
        cold = top(bm25_topk(spark, index, q, k=8))
        warm = top(s.bm25(q, k=8))
        assert warm == cold and warm
        # first use memoized both the tail hit and the absence
        assert cache["df"][tail_terms[0]] == float(dfs[tail_terms[0]])
        assert "zzz_unknown_term" in cache["df"] \
            and cache["df"]["zzz_unknown_term"] is None
        assert top(s.bm25(q, k=8)) == cold
    finally:
        s.close()


def test_searcher_auto_head_preload(spark, index, monkeypatch):
    """The full-dictionary driver collect is only the default while |V| is
    under the preload budget: past `AUTO_PRELOAD_MAX_TERMS` the Searcher
    auto-switches to head-only (top-df) preload + pushdown fallback — a
    huge-vocab index must never materialize its whole dictionary
    driver-side by default. Results stay exactly the cold path's."""
    from spidey_search_engine_spark.operators.search import (Searcher,
                                                             bm25_topk)

    dfs = {r["term"]: r["df"] for r in index["terms"].collect()}
    n_terms = len(dfs)
    cap = 5
    assert n_terms > cap

    def top(q):
        return [(r["doc_id"], r["score"]) for r in q.collect()]

    monkeypatch.setattr(Searcher, "AUTO_PRELOAD_MAX_TERMS", cap)
    s = Searcher(spark, index, cache_postings=True, coalesce_to=4)
    try:
        cache = s.index["idf_cache"]
        assert cache.get("partial") is True
        assert len(cache["df"]) == cap          # never the full |V|
        # the head really is the top-df slice
        ranked = sorted(dfs.values(), reverse=True)
        assert all(d >= ranked[cap] or d == ranked[cap - 1]
                   for d in cache["df"].values())
        for q in ["merge sort", "hash join scan zzz_unknown_term"]:
            warm = top(s.bm25(q, k=8))
            assert warm == top(bm25_topk(spark, index, q, k=8)) and warm, q
    finally:
        s.close()
    # under the budget nothing changes: full preload, no partial flag
    monkeypatch.setattr(Searcher, "AUTO_PRELOAD_MAX_TERMS", n_terms)
    s2 = Searcher(spark, index, cache_postings=False)
    try:
        assert "partial" not in s2.index["idf_cache"]
        assert len(s2.index["idf_cache"]["df"]) == n_terms
    finally:
        s2.close()


def test_bm25_batch_equals_per_query(spark, index):
    """bm25_topk_batch must return, per query, exactly the per-query
    bm25_topk result (ids, scores, rank order), including bag-semantics
    duplicate terms and a query with only unknown terms (absent from the
    output); via Searcher too."""
    from spidey_search_engine_spark.operators.search import (
        Searcher, bm25_topk, bm25_topk_batch)
    queries = {
        "q1": "merge sort",
        "q2": "hash join scan",
        "q3": "merge merge data",     # duplicate term -> 2x idf weight
        "q4": "zzz_unknown_term",     # analyzes to a term with no postings
    }
    batch = bm25_topk_batch(spark, index, queries, k=8).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    assert "q4" not in by_q
    for qid in ("q1", "q2", "q3"):
        got = sorted(by_q[qid], key=lambda r: r["rank"])
        assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
        single = bm25_topk(spark, index, queries[qid], k=8).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == \
            [(r["doc_id"], r["score"]) for r in single], qid

    s = Searcher(spark, index, cache_postings=False)
    try:
        warm = s.bm25_batch({"q1": queries["q1"]}, k=8).collect()
        assert [(r["doc_id"], r["score"])
                for r in sorted(warm, key=lambda r: r["rank"])] == \
            [(r["doc_id"], r["score"])
             for r in bm25_topk(spark, index, queries["q1"], k=8).collect()]
    finally:
        s.close()


def _term_ordered_sums(rows):
    """doc_id → its explain partials summed in term order (the rankers'
    fold), from 0.0 like the kernel's accumulator."""
    out: dict[int, float] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["term"])):
        out[r["doc_id"]] = out.get(r["doc_id"], 0.0) + r["partial"]
    return out


def test_bm25_explain(spark, index):
    """Explain rows: partials fold to the ranker's score per doc bit for
    bit, ranks and doc set equal the plain top-k, and the boosted
    variant explains the boosted ranker."""
    from spidey_search_engine_spark.operators.search import (
        bm25_explain_topk, bm25_topk_tokens)
    bag = ["merge", "sort", "merge"]  # bag multiplicity rides into w
    plain = [(r["doc_id"], r["score"]) for r in
             bm25_topk_tokens(spark, index, bag, k=8).collect()]
    rows = bm25_explain_topk(spark, index, bag, k=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, _ in plain}
    sums = _term_ordered_sums(rows)
    for doc_id, score in plain:
        assert sums[doc_id] == by_doc[doc_id][0]["score"] == score
    ranks = {r["doc_id"]: r["rank"] for r in rows}
    assert [ranks[d] for d, _ in plain] == list(range(1, len(plain) + 1))
    # boosted explanation matches the boosted ranker's scores
    boosted = {r["doc_id"]: r["score"] for r in
               bm25_topk_tokens(spark, index, bag, k=8,
                                important_weight=3.0).collect()}
    brows = bm25_explain_topk(spark, index, bag, k=8,
                              important_weight=3.0).collect()
    assert _term_ordered_sums(brows) == boosted
    # each row is self-explanatory: partial recomputable from the
    # emitted (w, tf_eff, dl) even under the boost (tf alone cannot)
    from spidey_search_engine_spark.operators.search import B, K1
    avgdl = float(index["stats"]["avgdl"])
    for r in brows:
        assert r["tf_eff"] == (r["tf"] * 3.0 if r["important"]
                               else float(r["tf"]))
        recomputed = r["w"] * (r["tf_eff"] * (K1 + 1) / (
            r["tf_eff"] + K1 * (1 - B + B * r["dl"] / avgdl)))
        assert recomputed == r["partial"]
    # empty / unknown-only bags explain to nothing
    assert bm25_explain_topk(spark, index, [], k=5).count() == 0
    assert bm25_explain_topk(spark, index, ["zz_nosuch"], k=5).count() == 0

def test_bm25_proximity(spark, index, tmp_path):
    """Proximity-boosted BM25: w=0 is byte-identical to the plain ranker;
    every boosted row's score = plain + w/(1+min_dist); a hand-built BM25
    tie is reordered by adjacency; degenerate bags degrade gracefully."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.search import (
        bm25_proximity_topk, bm25_topk_tokens)

    bag = ["merg", "sort"]  # analyzed (stemmed) terms, like every
    # token-level entry point
    plain = [(r["doc_id"], round(r["score"], 9)) for r in
             bm25_topk_tokens(spark, index, bag, k=10).collect()]
    w0 = [(r["doc_id"], round(r["score"], 9)) for r in
          bm25_proximity_topk(spark, index, bag, k=10,
                              prox_weight=0.0).collect()]
    assert w0 == plain

    # boosted: per-row score identity vs the plain ranker
    plain_all = {r["doc_id"]: r["score"] for r in
                 bm25_topk_tokens(spark, index, bag, k=10 ** 6).collect()}
    boosted = bm25_proximity_topk(spark, index, bag, k=10 ** 6,
                                  prox_weight=0.5).collect()
    assert {r["doc_id"] for r in boosted} == set(plain_all)
    checked = 0
    for r in boosted:
        base = plain_all[r["doc_id"]]
        if r["min_dist"] is None:
            assert round(r["score"], 9) == round(base, 9)
        else:
            assert r["min_dist"] >= 1
            assert round(r["score"], 9) == round(
                base + 0.5 / (1 + r["min_dist"]), 9)
            checked += 1
    assert checked > 0  # the synthetic corpus co-locates these terms

    # hand corpus: identical tf/dl so BM25 ties; adjacency must win
    rows = [
        ("r", "a/far.py", "c", "py",
         "merge alpha beta gamma delta epsilon zeta sort"),
        ("r", "b/near.py", "c", "py",
         "merge sort alpha beta gamma delta epsilon zeta"),
    ]
    cdf = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    out = str(tmp_path / "prox_idx")
    build_index(spark, cdf, out, profile="code", seg_bits=4, n_buckets=2)
    idx2 = load_index(spark, out)
    got = bm25_proximity_topk(spark, idx2, ["merg", "sort"], k=2,
                              prox_weight=1.0).collect()
    # doc_ids are (repo,path)-ordered: far=0, near=1
    assert [r["doc_id"] for r in got] == [1, 0]
    assert got[0]["min_dist"] == 1 and got[1]["min_dist"] == 7
    plain2 = bm25_topk_tokens(spark, idx2, ["merg", "sort"],
                              k=2).collect()
    assert plain2[0]["score"] == plain2[1]["score"]  # the tie is real

    # single-distinct-term and unknown-only bags degrade gracefully
    one = bm25_proximity_topk(spark, idx2, ["merg", "merg"], k=2,
                              prox_weight=1.0).collect()
    assert one and all(r["min_dist"] is None for r in one)
    assert bm25_proximity_topk(spark, idx2, ["zz_nope"], k=2).count() == 0
    assert bm25_proximity_topk(spark, idx2, [], k=2).count() == 0
    with pytest.raises(ValueError):
        bm25_proximity_topk(spark, idx2, ["merg"], prox_weight=-1)


def test_bm25_search_after(spark, index, tmp_path):
    """search_after pagination: page 1 (after=None) is the plain top-k,
    exact floats; stitched pages equal the exact top-N with no loss or
    duplication, including from a cursor the resident route served and
    across a hand-built tie boundary; non-finite CLI cursors are
    rejected."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.search import (
        Searcher, bm25_topk_tokens)

    bag = ["merg", "sort"]
    exact = [(r["doc_id"], r["score"]) for r in
             bm25_topk_tokens(spark, index, bag, k=30).collect()]
    p1 = bm25_topk_tokens(spark, index, bag, k=10, after=None).collect()
    assert [(r["doc_id"], r["score"]) for r in p1] == exact[:10]
    pages = [(r["doc_id"], r["score"]) for r in p1]
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    for _ in range(2):
        pn = bm25_topk_tokens(spark, index, bag, k=10,
                              after=cur).collect()
        pages += [(r["doc_id"], r["score"]) for r in pn]
        cur = (pn[-1]["score"], pn[-1]["doc_id"])
    assert pages == exact  # 3 stitched pages == exact top-30
    # a cursor from the driver-resident route is valid on the Spark path
    with Searcher(spark, index) as s:
        assert s._resident is not None
        r1 = s.bm25("merge sort", k=10).collect()
    r2 = bm25_topk_tokens(spark, index, bag, k=10,
                          after=(r1[-1]["score"], r1[-1]["doc_id"]))
    assert [(r["doc_id"], r["score"]) for r in r1 + r2.collect()] == \
        exact[:20]

    # tie boundary: 4 docs with identical scores, page size 2 — the
    # composite (score, doc_id) cursor must split the tie cleanly
    rows = [("r", f"{c}/t.py", "c", "py", "merge alpha beta")
            for c in "abcd"]
    cdf = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    out = str(tmp_path / "after_idx")
    build_index(spark, cdf, out, profile="code", seg_bits=4, n_buckets=2)
    idx2 = load_index(spark, out)
    a = bm25_topk_tokens(spark, idx2, ["merg"], k=2).collect()
    assert [r["doc_id"] for r in a] == [0, 1]
    b = bm25_topk_tokens(spark, idx2, ["merg"], k=2,
                         after=(a[-1]["score"], a[-1]["doc_id"])).collect()
    assert [r["doc_id"] for r in b] == [2, 3]
    assert b[0]["score"] == a[0]["score"]  # the tie is real
    assert bm25_topk_tokens(
        spark, idx2, ["merg"], k=2,
        after=(b[-1]["score"], b[-1]["doc_id"])).count() == 0

    # non-finite cursors fail fast at the CLI: nan compares false to
    # everything (silently-empty pages), inf re-serves page 1 forever
    import pytest as _pytest

    from spidey_search_engine_spark.cli import main as cli_main
    for cursor in ("nan:0", "inf:3", "-inf:1"):
        with _pytest.raises(SystemExit):
            cli_main(["query", "--index", out, "--q", "merge",
                      "--after", cursor])


def test_cli_after_start_stitch(spark, index, index_dir, capsys):
    """The CLI pagination contract end-to-end: page 1 comes from
    `--after start`, its printed cursor feeds page 2, and the stitch
    equals the operator's exact top-N; a cursor from the default
    (unpaginated) query output is just as valid — every route prints
    the same floats."""
    import json

    from spidey_search_engine_spark.cli import main as cli_main
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_tokens

    def run(argv):
        assert cli_main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    p1 = run(["query", "--index", index_dir, "--q", "merge sort",
              "--k", "10", "--after", "start"])
    cur = f"{p1[-1]['score']!r}:{p1[-1]['doc_id']}"
    p2 = run(["query", "--index", index_dir, "--q", "merge sort",
              "--after", cur, "--k", "10"])
    got = [(r["doc_id"], r["score"]) for r in p1 + p2]
    bag = ["merg", "sort"]
    exact = [(r["doc_id"], r["score"]) for r in
             bm25_topk_tokens(spark, index, bag, k=20).collect()]
    assert got == exact  # json float repr round-trips: stitch is exact
    plain = run(["query", "--index", index_dir, "--q", "merge sort",
                 "--k", "10"])
    assert plain == p1


def _full_scores(spark, index, bag):
    from spidey_search_engine_spark.operators.search import \
        _bm25_scored_tokens
    return {r["doc_id"]: r["score"]
            for r in _bm25_scored_tokens(spark, index, bag).collect()}


def test_bm25_filtered_topk(spark, index):
    """Filtered search == plain scoring restricted to the metadata
    predicate, recomputed independently from the full score set + the
    docs table; impossible filters return 0 rows; empty filters raise."""
    from spidey_search_engine_spark.operators.search import \
        bm25_filtered_topk

    bag = ["merg", "sort"]
    full = _full_scores(spark, index, bag)
    meta = {r["doc_id"]: (r["lang"], r["repo"])
            for r in index["docs"].select("doc_id", "lang",
                                          "repo").collect()}
    want = sorted(((d, s) for d, s in full.items()
                   if meta[d][0] == "py"),
                  key=lambda x: (-x[1], x[0]))[:10]
    got = [(r["doc_id"], r["score"]) for r in
           bm25_filtered_topk(spark, index, index["docs"], bag,
                              {"lang": "py"}, k=10).collect()]
    assert got == want and len(got) > 0
    assert all(meta[d][0] == "py" for d, _ in got)

    # conjunctive: lang AND repo of the top filtered hit
    repo0 = meta[got[0][0]][1]
    want2 = sorted(((d, s) for d, s in full.items()
                    if meta[d] == ("py", repo0)),
                   key=lambda x: (-x[1], x[0]))[:10]
    got2 = [(r["doc_id"], r["score"]) for r in
            bm25_filtered_topk(spark, index, index["docs"], bag,
                               {"lang": "py", "repo": repo0},
                               k=10).collect()]
    assert got2 == want2 and len(got2) > 0

    assert bm25_filtered_topk(spark, index, index["docs"], bag,
                              {"lang": "no_such_lang"}, k=10).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_filtered_topk(spark, index, index["docs"], bag, {}, k=10)

    # both join directions agree: the broadcast-candidates plan (bound
    # under budget — streams the docs scan) and the semi-join fallback
    # (bound=None) return identical rows; the captured plan shows which
    from spidey_search_engine_spark.operators.search import (
        _bm25_scored_tokens, _metadata_filtered)
    sc = _bm25_scored_tokens(spark, index, bag)
    bc = _metadata_filtered(sc, index["docs"], {"lang": "py"}, 100)
    semi = _metadata_filtered(sc, index["docs"], {"lang": "py"}, None)
    assert "BroadcastExchange" in bc._jdf.queryExecution().executedPlan() \
        .toString() or "broadcast" in bc._jdf.queryExecution() \
        .toString().lower()
    assert sorted((r["doc_id"], round(r["score"], 9))
                  for r in bc.collect()) == \
        sorted((r["doc_id"], round(r["score"], 9))
               for r in semi.collect())


def test_bm25_collapse_topk(spark, index):
    """Field collapsing: best doc per repo with the group size,
    recomputed independently; collapsing on a unique column is the
    plain top-k with group_size 1."""
    from spidey_search_engine_spark.operators.search import (
        bm25_collapse_topk, bm25_topk_tokens)

    bag = ["merg", "sort"]
    full = _full_scores(spark, index, bag)
    meta = {r["doc_id"]: r["repo"]
            for r in index["docs"].select("doc_id", "repo").collect()}
    groups: dict[str, list[tuple[int, float]]] = {}
    for d, s in full.items():
        groups.setdefault(meta[d], []).append((d, s))
    best = []
    for repo, members in groups.items():
        members.sort(key=lambda x: (-x[1], x[0]))
        best.append((members[0][0], members[0][1], repo, len(members)))
    best.sort(key=lambda x: (-x[1], x[0]))
    want = best[:10]
    got = [(r["doc_id"], r["score"], r["repo"], r["group_size"])
           for r in bm25_collapse_topk(spark, index, index["docs"], bag,
                                       "repo", k=10).collect()]
    assert got == want
    assert len({r for _, _, r, _ in got}) == len(got)  # one per repo

    # unique collapse key (path) == the plain ranker, every group size 1
    plain = [(r["doc_id"], r["score"]) for r in
             bm25_topk_tokens(spark, index, bag, k=10).collect()]
    by_path = [(r["doc_id"], r["score"], r["group_size"]) for r in
               bm25_collapse_topk(spark, index, index["docs"], bag,
                                  "path", k=10).collect()]
    assert [(d, s) for d, s, _ in by_path] == plain
    assert all(g == 1 for _, _, g in by_path)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_collapse_topk(spark, index, index["docs"], bag, "", k=10)


def test_bm25_synonym_topk(spark, index):
    """Synonym groups score as ONE blended pseudo-term (tf summed,
    max-df member's idf — Lucene SynonymQuery): verified against an
    independent pandas recompute from decoded postings; singleton
    groups reproduce plain BM25; overlapping groups raise."""
    from pyspark.sql import functions as F

    from spidey_search_engine_spark.operators.build import K1, B
    from spidey_search_engine_spark.operators.search import (
        bm25_idf, bm25_synonym_topk, bm25_topk_tokens, query_term_postings)

    # singleton groups == the plain ranker, bit for bit, whatever the
    # order the groups are given in
    bag = ["merg", "sort"]
    plain = [(r["doc_id"], r["score"]) for r in
             bm25_topk_tokens(spark, index, bag, k=10).collect()]
    for groups in ([["merg"], ["sort"]], [["sort"], ["merg"]]):
        single = [(r["doc_id"], r["score"]) for r in
                  bm25_synonym_topk(spark, index, groups, k=10).collect()]
        assert single == plain, groups

    # blended group: recompute independently
    groups = [["merg", "sort"], ["binari"]]
    n_docs = int(index["stats"]["n_docs"])
    idf = {r["term"]: bm25_idf(r["df"], n_docs) for r in
           index["terms"].filter(
               F.col("term").isin("merg", "sort", "binari")).collect()}
    rows = query_term_postings(index["postings"],
                               ["merg", "sort", "binari"],
                               int(index["stats"]["n_buckets"])).collect()
    avgdl = float(index["stats"]["avgdl"])
    agg: dict[tuple[int, int], list] = {}
    for r in rows:
        gid = 0 if r["term"] in ("merg", "sort") else 1
        cur = agg.setdefault((r["doc_id"], gid), [0, r["dl"]])
        cur[0] += r["tf"]
    gw = {0: min(idf["merg"], idf["sort"]), 1: idf["binari"]}
    docsc: dict[int, float] = {}
    for (d, gid), (tf, dl) in agg.items():
        p = gw[gid] * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))
        docsc[d] = docsc.get(d, 0.0) + p
    want = sorted(docsc.items(), key=lambda x: (-x[1], x[0]))[:10]
    got = bm25_synonym_topk(spark, index, groups, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in want]

    # unknown members blend over the known ones; all-unknown groups drop
    with_unk = bm25_synonym_topk(
        spark, index, [["merg", "zz_nope", "sort"], ["binari"]],
        k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in with_unk] == \
        [(d, round(s, 9)) for d, s in want]
    assert bm25_synonym_topk(spark, index, [["zz_nope"]], k=5).count() == 0
    assert bm25_synonym_topk(spark, index, [], k=5).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_synonym_topk(spark, index, [["merg", "sort"], ["sort"]])


def test_cli_filter_collapse_syn(spark, corpus_pdf, tmp_path, capsys):
    """CLI drill-down surface: --filter restricts to the predicate,
    --collapse returns one hit per group (composing with --filter),
    --syn blends synonym groups; contract violations fail fast."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import build_index

    src = str(tmp_path / "corpus")
    spark.createDataFrame(corpus_pdf.head(150)).repartition(4) \
        .write.parquet(src)
    out = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(src), out, profile="code",
                seg_bits=6, n_buckets=4)

    def run(argv):
        assert main(argv) == 0
        return [json.loads(l) for l in
                capsys.readouterr().out.strip().splitlines()
                if l.startswith("{")]

    base = ["query", "--index", out, "--q", "merge sort", "--k", "5"]
    langs = dict(zip(corpus_pdf.head(150).sort_values(["repo", "path"])
                     .reset_index(drop=True).index,
                     corpus_pdf.head(150).sort_values(["repo", "path"])
                     ["lang"]))
    rows = run(base + ["--filter", "lang=py"])
    assert rows and all(langs[r["doc_id"]] == "py" for r in rows)

    rows = run(base + ["--collapse", "repo"])
    assert rows and all(r["group_size"] >= 1 for r in rows)
    assert len({r["repo"] for r in rows}) == len(rows)

    both = run(base + ["--filter", "lang=py", "--collapse", "repo"])
    assert both and all(langs[r["doc_id"]] == "py" for r in both)

    # --syn: a group whose alt shares the canonical's stem is a no-op
    plain = run(base)
    syn_noop = run(base + ["--syn", "merge=merging"])
    assert [(r["doc_id"], r["score"]) for r in syn_noop] == \
        [(r["doc_id"], r["score"]) for r in plain]

    import pytest as _pytest
    for bad in (base + ["--filter", "lang"],
                base + ["--filter", "lang=py", "--filter", "lang=go"],
                base + ["--filter", "nosuch=x"],
                base + ["--syn", "a=b", "--parity"],
                base + ["--syn", "a=b", "--filter", "lang=py"],
                base + ["--syn", "a=b*"],
                base + ["--collapse", "repo", "--explain"],
                ["query", "--index", out, "--q", "mer*e sort",
                 "--filter", "lang=py"]):
        with _pytest.raises(SystemExit):
            main(bad)
    capsys.readouterr()


def test_bm25_batch_colocated_equals_per_query(spark, index, monkeypatch):
    """The segment-colocated batch kernel returns, per query, exactly the
    per-query bm25_topk_tokens rows (ids, exact scores, ranks) —
    including when the batch splits into unioned chunk plans (chunk cap
    forced to 2 so 4 queries exercise the union path)."""
    from spidey_search_engine_spark.operators import search as S
    queries = {
        "q1": "merge sort",
        "q2": "hash join scan",
        "q3": "merge merge data",
        "q4": "fast heap",
    }
    monkeypatch.setattr(S, "BATCH_CHUNK_QUERIES", 2)
    got = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                 for r in S.bm25_topk_batch(spark, index, queries,
                                            k=8).collect())
    want = sorted(
        (qid, rank, r["doc_id"], r["score"]) for qid, q in queries.items()
        for rank, r in enumerate(S.bm25_topk_tokens(
            spark, index, S.query_bag(q), k=8).collect(), start=1))
    assert got == want and got


@pytest.mark.parametrize("query", [
    "merge sort",                     # two terms
    "merge merge data",               # duplicate term: 2x idf weight
    '"merge sort" fast',              # phrase words join the bag
    "zzz_unknown_term",               # unknown only: empty everywhere
    "merge sort zzz_unknown_term",    # unknown term beside known ones
])
def test_routes_bit_identical(spark, index, query):
    """One BM25 arithmetic on every route: the plain Spark ranker, its
    page 1 (after=None), the segment-colocated kernel, the driver-
    resident kernel and the explain score column return the SAME floats
    — exact equality, no rounding — with and without the BM25F boost."""
    from spidey_search_engine_spark.operators.search import (
        Searcher, bm25_explain_topk, bm25_topk_colocated_tokens,
        bm25_topk_resident, bm25_topk_tokens, query_bag)
    bag = query_bag(query)
    k = 20

    def rows(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    with Searcher(spark, index) as s:
        assert s._resident is not None
        for w in (1.0, 2.5):
            plain = rows(bm25_topk_tokens(spark, index, bag, k,
                                          important_weight=w))
            assert bool(plain) == ("merge" in query), (query, w)
            assert rows(bm25_topk_tokens(spark, index, bag, k,
                                         important_weight=w,
                                         after=None)) == plain, w
            assert rows(bm25_topk_colocated_tokens(
                spark, index, bag, k, important_weight=w)) == plain, w
            pdf = bm25_topk_resident(s._resident, s.index, {"q": bag}, k,
                                     important_weight=w)
            assert list(zip(pdf["doc_id"], pdf["score"])) == plain, w
            explained = sorted({(r["rank"], r["doc_id"], r["score"])
                                for r in bm25_explain_topk(
                                    spark, index, bag, k,
                                    important_weight=w).collect()})
            assert [(d, sc) for _, d, sc in explained] == plain, w
        assert rows(s.bm25(query, k=k)) == rows(
            bm25_topk_tokens(spark, index, bag, k))


def test_bm25_colocated_solo_equals_plain(spark, index):
    """Solo colocated ranker: equal to bm25_topk_tokens bit for bit
    (both fold the same partials in term order), including the BM25F
    important-field boost and the empty-query / unknown-term edges; via
    Searcher too."""
    from spidey_search_engine_spark.operators.search import (
        Searcher, bm25_topk_colocated_tokens, bm25_topk_tokens)

    def rows(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    for bag in (["merg", "sort"], ["merg", "merg", "data"], ["fast"]):
        assert rows(bm25_topk_colocated_tokens(spark, index, bag, k=8)) \
            == rows(bm25_topk_tokens(spark, index, bag, k=8)), bag
    assert rows(bm25_topk_colocated_tokens(
        spark, index, ["merg", "sort"], k=8, important_weight=2.5)) == \
        rows(bm25_topk_tokens(spark, index, ["merg", "sort"], k=8,
                              important_weight=2.5))
    assert bm25_topk_colocated_tokens(spark, index, [], k=8).count() == 0
    assert bm25_topk_colocated_tokens(
        spark, index, ["zzz_unknown_term"], k=8).count() == 0
    with Searcher(spark, index, cache_postings=False) as s:
        assert rows(s.bm25_colocated("merge sort", k=8)) == \
            rows(s.bm25("merge sort", k=8))
