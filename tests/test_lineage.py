"""Resume test (SURVEY.md §5.7): kill after chunk i, rerun, assert identical
final index and that finished chunks were skipped."""

import pytest
from pyspark.sql import functions as F


def _postings_map(idx):
    return {(r["term"], r["segment"], r["chunk"]): bytes(r["bin"])
            for r in idx["postings"].collect()}


def test_resume_after_injected_failure(spark, corpus_pdf, index, tmp_path,
                                      monkeypatch):
    from spidey_search_engine_spark.operators import build
    from spidey_search_engine_spark.plans import lineage
    from spidey_search_engine_spark.plans.lineage import (
        build_index_resumable, load_index_resumable)

    corpus = spark.createDataFrame(corpus_pdf).repartition(8)
    # chunk = 2 segments of 64 docs → 128 docs/chunk → 4 chunks over 400 docs
    kw = dict(profile="code", seg_bits=6, chunk_segments=2, n_buckets=8)

    # the corpus is tokenized once per chunk and numbered once: no
    # whole-corpus pass for doc lengths, no second doc-id assignment
    calls = {"build_partials": 0, "assign_doc_ids": 0}

    def counted(mod, name):
        real = getattr(mod, name)

        def wrapper(*a, **k):
            calls[name] += 1
            return real(*a, **k)
        monkeypatch.setattr(mod, name, wrapper)

    counted(lineage, "build_partials")
    counted(build, "assign_doc_ids")
    clean_dir = str(tmp_path / "clean")
    clean_stats = build_index_resumable(spark, corpus, clean_dir, **kw)
    assert clean_stats["n_chunks"] == 4
    assert calls == {"build_partials": 4, "assign_doc_ids": 1}
    clean = load_index_resumable(spark, clean_dir)

    # the chunked docs table is the one build_index writes
    def doc_rows(idx):
        return sorted(tuple(r) for r in idx["docs"].select(
            "doc_id", "n_tokens", "content_sha256").collect())
    assert doc_rows(clean) == doc_rows(index)
    assert clean_stats["n_docs"] == index["stats"]["n_docs"]
    assert clean_stats["avgdl"] == index["stats"]["avgdl"]

    # crash after the second chunk committed
    real_write = lineage.write_chunk
    written = []

    def crashing_write(*a, **k):
        real_write(*a, **k)
        written.append(a[3])
        if len(written) >= 2:
            raise RuntimeError(f"injected failure after {written}")
    resume_dir = str(tmp_path / "resumed")
    monkeypatch.setattr(lineage, "write_chunk", crashing_write)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_resumable(spark, corpus, resume_dir, **kw)
    monkeypatch.setattr(lineage, "write_chunk", real_write)
    # rerun to completion
    stats = build_index_resumable(spark, corpus, resume_dir, **kw)
    assert stats["skipped_chunks"] == 2  # the 2 finished chunks were skipped
    resumed = load_index_resumable(spark, resume_dir)

    assert _postings_map(resumed) == _postings_map(clean)
    t_clean = {r["term"]: (r["df"], r["cf"]) for r in clean["terms"].collect()}
    t_res = {r["term"]: (r["df"], r["cf"]) for r in resumed["terms"].collect()}
    assert t_clean == t_res

    lin = resumed["lineage"].collect()
    assert {int(r["chunk"]) for r in lin} == {0, 1, 2, 3}

    # a wildcard projection that existed before the resume completed
    # must be refreshed by the republish, not left serving stale terms
    # (review finding: the resumable path skipped refresh_aux_terms)
    from spidey_search_engine_spark.operators.search import expand_wildcard
    from spidey_search_engine_spark.operators.wildcard import (
        load_ngram_terms, write_ngram_terms)
    stale = spark.createDataFrame([("zzzonlyterm", 1)], "term string, df long")
    write_ngram_terms(stale, resume_dir, n=3)
    build_index_resumable(spark, corpus, resume_dir, **kw)  # resume no-op
    ng, n = load_ngram_terms(spark, resume_dir)
    idx = {"ngram_terms": ng, "ngram_n": n}
    assert expand_wildcard(idx, "*zzo*", 10) == []  # stale term gone
    # re-read: the resume republished terms, invalidating the old scan
    fresh_terms = spark.read.parquet(resume_dir + "/terms")
    real = {r["term"] for r in fresh_terms
            .filter(F.col("term").rlike("^.*or.*$")
                    & (F.length("term") >= 3)).limit(1).collect()}
    if real:  # refreshed table serves the REAL dictionary
        t = next(iter(real))
        assert t in expand_wildcard(idx, f"*{t[:3]}*", 10_000)
    assert len({r["build_id"] for r in lin}) == 2  # two builds contributed
    assert all(r["wall_sec"] > 0 for r in lin)


def test_resumable_index_serves_queries(spark, corpus_pdf, tmp_path):
    from spidey_search_engine_spark.operators.search import bm25_topk
    from spidey_search_engine_spark.plans.lineage import (
        build_index_resumable, load_index_resumable)
    corpus = spark.createDataFrame(corpus_pdf).repartition(4)
    d = str(tmp_path / "idx")
    build_index_resumable(spark, corpus, d, profile="code", seg_bits=6,
                          chunk_segments=2, n_buckets=8)
    idx = load_index_resumable(spark, d)
    rows = bm25_topk(spark, idx, "merge sort", k=10).collect()
    assert len(rows) == 10
    # cross-check against the non-chunked build fixture path via oracle in
    # test_search.py; here assert determinism of the chunked index itself
    rows2 = bm25_topk(spark, idx, "merge sort", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == \
        [(r["doc_id"], r["score"]) for r in rows2]
