"""Micro-batch append (streaming/incremental.py): the merge exchange sized
from the batch, the per-step lineage profile, publish under an open
Searcher."""

import os
import shutil

import pytest
from pyspark.sql import functions as F


def _docs(spark, corpus_pdf, n=192):
    from spidey_search_engine_spark.operators.build import prepare_docs
    return prepare_docs(spark.createDataFrame(corpus_pdf.head(n))
                        .repartition(4)).select(
        "doc_id", "repo", "path", "commit", "lang", "content")


def _land(docs, src, lo, hi):
    """One arrival file holding docs [lo, hi)."""
    docs.filter(f"doc_id >= {lo} and doc_id < {hi}") \
        .coalesce(1).write.mode("append").parquet(src)


def _stream(spark, src, schema, out_dir, ckpt, **kw):
    from spidey_search_engine_spark.streaming.incremental import \
        append_index_stream
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = append_index_stream(spark, stream, out_dir, profile="code",
                            seg_bits=6, n_buckets=8, checkpoint=ckpt, **kw)
    q.awaitTermination(120)
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def _parquet_files(d):
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs)


def _mtimes(d):
    return {os.path.join(p, f): os.stat(os.path.join(p, f)).st_mtime_ns
            for p, _, fs in os.walk(d) for f in fs}


@pytest.fixture(scope="module")
def streamed(spark, corpus_pdf, tmp_path_factory):
    """Two 64-doc micro-batches appended and published (one merge task
    each), plus their landing dir and the 192 docs they were cut from.
    Tests copy the dirs before changing them."""
    from spidey_search_engine_spark.streaming.incremental import \
        publish_index
    root = tmp_path_factory.mktemp("incremental")
    src = str(root / "arrivals")
    docs = _docs(spark, corpus_pdf)
    _land(docs, src, 0, 64)
    _land(docs, src, 64, 128)
    out = str(root / "index")
    _stream(spark, src, docs.schema, out, str(root / "ckpt"))
    publish_index(spark, out, profile="code", seg_bits=6, n_buckets=8)
    return out, src, docs


def test_merge_partition_count_from_doc_count(spark, index):
    from spidey_search_engine_spark.operators.build import (
        DOCS_PER_MERGE_TASK, merge_partials, merge_partition_count)
    assert merge_partition_count(4, 8) == 32  # no count: full width
    assert merge_partition_count(4, 8, 0) == 1
    assert merge_partition_count(4, 8, 256) == 1
    assert merge_partition_count(4, 8, 1024) == 1
    assert merge_partition_count(4, 8, DOCS_PER_MERGE_TASK) == 1
    assert merge_partition_count(4, 8, DOCS_PER_MERGE_TASK + 1) == 2
    assert merge_partition_count(4, 8, 10 ** 9) == 32  # clamped
    rows = index["postings"].select("term", "segment", "bin")
    assert merge_partials(rows, n_buckets=4, n_docs=256) \
        .rdd.getNumPartitions() == 1
    assert merge_partials(rows, n_buckets=4,
                          n_docs=3 * DOCS_PER_MERGE_TASK) \
        .rdd.getNumPartitions() == 3


def test_one_task_chunks_equal_salt8_chunks(spark, corpus_pdf, tmp_path,
                                            streamed, monkeypatch):
    """A batch at or below the threshold writes at most n_buckets files
    per chunk, and its index is the one the full salt-8 exchange writes;
    an empty micro-batch writes nothing."""
    from spidey_search_engine_spark.operators import build
    from spidey_search_engine_spark.operators.diffing import index_diff
    from spidey_search_engine_spark.plans.lineage import load_index_resumable
    from spidey_search_engine_spark.streaming.incremental import \
        publish_index
    out, src0, docs = streamed
    schema = docs.schema
    src = str(tmp_path / "arrivals")
    shutil.copytree(src0, src)
    pdir = os.path.join(out, "postings")
    chunks = sorted(os.listdir(pdir))
    assert chunks == ["chunk=stream_0", "chunk=stream_1"]
    for c in chunks:
        assert _parquet_files(os.path.join(pdir, c)) <= 8

    # the same batches through the full n_buckets × salt exchange
    monkeypatch.setattr(build, "DOCS_PER_MERGE_TASK", 1)
    wide = str(tmp_path / "wide")
    _stream(spark, src, schema, wide, str(tmp_path / "ckpt_wide"))
    publish_index(spark, wide, profile="code", seg_bits=6, n_buckets=8)
    wide_files = _parquet_files(os.path.join(wide, "postings"))
    assert wide_files > _parquet_files(pdir)
    diff = index_diff(load_index_resumable(spark, wide),
                      load_index_resumable(spark, out))
    assert diff["equal"], diff

    # an empty arrival is a micro-batch of zero rows: no chunk, no docs,
    # no lineage row
    spark.createDataFrame([], schema).write.mode("append").parquet(src)
    n_lineage = spark.read.parquet(os.path.join(wide, "lineage")).count()
    _stream(spark, src, schema, wide, str(tmp_path / "ckpt_wide"))
    assert "2" in os.listdir(str(tmp_path / "ckpt_wide" / "commits"))
    assert not os.path.exists(os.path.join(wide, "postings",
                                           "chunk=stream_2"))
    assert not os.path.exists(os.path.join(wide, "docs", "chunk=stream_2"))
    assert _parquet_files(os.path.join(wide, "postings")) == wide_files
    assert spark.read.parquet(os.path.join(wide, "lineage")).count() \
        == n_lineage


def test_lineage_step_profile_old_rows_resume(spark, corpus_pdf, tmp_path,
                                              streamed):
    """Each micro-batch's lineage row carries its step milliseconds. A
    lineage dir mixing rows written before those columns existed with new
    rows still resumes, and the replay guard still fires on both."""
    from spidey_search_engine_spark.plans.lineage import load_index_resumable
    from spidey_search_engine_spark.streaming.incremental import \
        publish_index
    base, src0, docs = streamed
    schema = docs.schema
    lin = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "lineage"))
    for r in lin.collect():
        assert r["n_docs"] == 64
        for c in ("probe_ms", "postings_ms", "docs_ms", "lineage_ms"):
            assert r[c] > 0, (c, r)
        assert (r["probe_ms"] + r["postings_ms"] + r["docs_ms"]
                + r["lineage_ms"]) <= r["wall_sec"] * 1e3 + 1

    # batch 0's row rewritten in the old layout (no step columns)
    out = str(tmp_path / "index")
    shutil.copytree(base, out)
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "arrivals")
    shutil.copytree(src0, src)
    lin_dir = os.path.join(out, "lineage")
    old = lin.filter(F.col("build_id") == "stream_0").select(
        "build_id", "chunk", "n_docs", "n_postings_rows", "min_doc",
        "max_doc", "wall_sec", "finished_at")
    new = lin.filter(F.col("build_id") == "stream_1")
    rows_old, rows_new = old.collect(), new.collect()
    shutil.rmtree(lin_dir)
    spark.createDataFrame(rows_old, old.schema).coalesce(1).write \
        .parquet(lin_dir)
    spark.createDataFrame(rows_new, new.schema).coalesce(1).write \
        .mode("append").parquet(lin_dir)

    # replay of both batches under a fresh checkpoint: same doc ranges,
    # so both are recognised as done and nothing is rewritten
    pdir = os.path.join(out, "postings")
    written = _mtimes(pdir)
    _stream(spark, src, schema, out, ckpt)
    assert spark.read.parquet(lin_dir).count() == 2
    assert _mtimes(pdir) == written

    # resume: a third batch lands beside them
    _land(docs, src, 128, 192)
    _stream(spark, src, schema, out, ckpt)
    got = spark.read.option("mergeSchema", "true").parquet(lin_dir)
    assert sorted(r["build_id"] for r in got.collect()) == [
        "stream_0", "stream_1", "stream_2"]
    assert got.filter("build_id = 'stream_2'").first()["postings_ms"] > 0
    publish_index(spark, out, profile="code", seg_bits=6, n_buckets=8)
    assert int(load_index_resumable(spark, out)["stats"]["n_docs"]) == 192

    # the guard fires on the old-layout row: a fresh checkpoint whose
    # batch 0 covers another doc range
    src2 = str(tmp_path / "arrivals_other")
    _land(docs, src2, 160, 192)
    with pytest.raises(Exception, match="different doc range"):
        _stream(spark, src2, schema, out, str(tmp_path / "ckpt_other"))


def test_publish_with_open_searcher_equals_closed(spark, corpus_pdf,
                                                  tmp_path):
    """publish_index run while a Searcher holds the index cached reads
    the postings on disk, not the Searcher's cached plan; the published
    index exposes a wildcard projection written beside it."""
    from spidey_search_engine_spark.operators.search import Searcher
    from spidey_search_engine_spark.plans.lineage import load_index_resumable
    from spidey_search_engine_spark.streaming.incremental import \
        publish_index
    src = str(tmp_path / "arrivals")
    docs = _docs(spark, corpus_pdf, 128)
    _land(docs, src, 0, 64)
    out = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    _stream(spark, src, docs.schema, out, ckpt)
    publish_index(spark, out, profile="code", seg_bits=6, n_buckets=8)

    def terms():
        return {r["term"]: (r["df"], r["cf"]) for r in
                spark.read.parquet(os.path.join(out, "terms")).collect()}

    searcher = Searcher(spark, load_index_resumable(spark, out))
    try:
        _land(docs, src, 64, 128)
        _stream(spark, src, docs.schema, out, ckpt)
        publish_index(spark, out, profile="code", seg_bits=6, n_buckets=8)
        with_open = terms()
    finally:
        searcher.close()
    publish_index(spark, out, profile="code", seg_bits=6, n_buckets=8)
    assert with_open == terms()
    assert with_open["import"][0] > 64  # df spans both batches

    # the streamed index loads through build.load_index, so a wildcard
    # projection written beside it is served like a batch index's
    from spidey_search_engine_spark.operators.search import expand_wildcard
    from spidey_search_engine_spark.operators.wildcard import \
        write_prefix_terms
    write_prefix_terms(spark.read.parquet(os.path.join(out, "terms")), out)
    idx = load_index_resumable(spark, out)
    assert "prefix_terms" in idx and "lineage" in idx
    assert "import" in expand_wildcard(idx, "impor*", 100)
