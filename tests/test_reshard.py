"""Reshard (operators/reshard.py): re-layout without rebuild must be
invisible — federated scores over the new topology byte-identical to the
old; boundary segments from non-aligned inputs merge into exactly the
rows a fresh build produces."""

import os

import pytest
from pyspark.sql import functions as F


def _corpus(spark, n):
    rows = [("r", f"{i:03d}/f.py", "c", "py",
             f"merge sort data doc{i} " + ("merge merge" if i % 5 == 0
                                           else "fast scan"))
            for i in range(n)]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")


@pytest.fixture(scope="module")
def mono(spark, tmp_path_factory):
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    out = str(tmp_path_factory.mktemp("reshard_mono"))
    build_index(spark, _corpus(spark, 60), out, profile="code",
                seg_bits=3, n_buckets=4)
    return out, load_index(spark, out)


@pytest.mark.parametrize("assign", ["mod", "range"])
def test_reshard_mono_to_3_is_invisible(spark, tmp_path, mono, assign):
    from spidey_search_engine_spark.operators.build import load_index
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk
    from spidey_search_engine_spark.operators.reshard import reshard_index
    from spidey_search_engine_spark.operators.search import bm25_topk

    mono_dir, mono_idx = mono
    out = str(tmp_path / f"sharded_{assign}")
    stats = reshard_index(spark, [mono_dir], out, 3, assign=assign)
    assert len(stats) == 3
    assert sum(s["n_docs"] for s in stats) == 60
    shards = [load_index(spark, f"{out}/shard_{k}") for k in range(3)]
    # doc partition is disjoint and complete
    ids = sorted(r["doc_id"] for ix in shards
                 for r in ix["docs"].select("doc_id").collect())
    assert ids == list(range(60))
    for q in ("merge sort", "doc7 fast", "merge"):
        exact = [(r["doc_id"], r["score"]) for r in
                 bm25_topk(spark, mono_idx, q, k=15).collect()]
        fed = [(r["doc_id"], r["score"]) for r in
               federated_bm25_topk(spark, shards, q, k=15).collect()]
        assert fed == exact  # raw floats — byte identity, not approx


def test_reshard_consolidates_boundary_segments(spark, tmp_path):
    """Two inputs whose doc ranges split a segment (seg_bits=3, split at
    doc 20 ⇒ segment 2 spans both): reshard to ONE index must merge the
    boundary rows into exactly the fresh-build bytes."""
    from spidey_search_engine_spark.operators.build import (assign_doc_ids,
                                                            build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.reshard import reshard_index
    from spidey_search_engine_spark.operators.search import bm25_topk

    corpus = assign_doc_ids(_corpus(spark, 40))
    a = str(tmp_path / "in_a")
    b = str(tmp_path / "in_b")
    ref = str(tmp_path / "ref")
    build_index(spark, corpus.filter(F.col("doc_id") < 20), a,
                profile="code", seg_bits=3, n_buckets=4)
    build_index(spark, corpus.filter(F.col("doc_id") >= 20), b,
                profile="code", seg_bits=3, n_buckets=2)  # differing layout
    build_index(spark, corpus, ref, profile="code", seg_bits=3,
                n_buckets=4)
    out = str(tmp_path / "consolidated")
    stats = reshard_index(spark, [a, b], out, 1, n_buckets=4)
    assert stats[0]["n_docs"] == 40
    got = load_index(spark, f"{out}/shard_0")
    exp = load_index(spark, ref)
    # posting rows byte-identical to the fresh build (boundary segment 2
    # included) — compare (term, segment) -> sha2(bin)
    key = lambda df: {(r["term"], int(r["segment"])): r["h"]
                      for r in df.select(
                          "term", "segment",
                          F.sha2(F.col("bin"), 256).alias("h")).collect()}
    assert key(got["postings"]) == key(exp["postings"])
    # dictionary identical
    t = lambda df: {r["term"]: (r["df"], r["cf"])
                    for r in df.select("term", "df", "cf").collect()}
    assert t(got["terms"]) == t(exp["terms"])
    assert float(got["stats"]["avgdl"]) == float(exp["stats"]["avgdl"])
    q = [(r["doc_id"], r["score"]) for r in
         bm25_topk(spark, got, "merge sort", k=10).collect()]
    e = [(r["doc_id"], r["score"]) for r in
         bm25_topk(spark, exp, "merge sort", k=10).collect()]
    assert q == e


def test_reshard_guards(spark, tmp_path, mono):
    from spidey_search_engine_spark.operators.reshard import reshard_index
    mono_dir, _ = mono
    with pytest.raises(ValueError, match="n_shards"):
        reshard_index(spark, [mono_dir], str(tmp_path / "x"), 0)
    with pytest.raises(ValueError, match="assign"):
        reshard_index(spark, [mono_dir], str(tmp_path / "y"), 2,
                      assign="hash")
    with pytest.raises(ValueError, match="local"):
        reshard_index(spark, [mono_dir], "s3://bucket/x", 2)
    with pytest.raises(ValueError, match="no segments"):
        # 60 docs at seg_bits=3 → 8 segments; 64 shards can't all fill
        reshard_index(spark, [mono_dir], str(tmp_path / "z"), 64)
    # checked before the first shard moves in: nothing is left behind
    assert os.listdir(tmp_path / "z") == []


def test_reshard_consolidates_streamed_nrt_delta(spark, corpus_pdf,
                                                 tmp_path):
    """The NRT maintenance story closes with reshard: a base index plus a
    STREAMING-built delta (different bucket layout, doc range splitting a
    segment) consolidate into ONE index whose ranking equals the
    monolithic rebuild — the 'delta compacts into base' step is the same
    bytes-only re-layout as any other topology change."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index,
                                                            prepare_docs)
    from spidey_search_engine_spark.operators.reshard import reshard_index
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_tokens
    from spidey_search_engine_spark.streaming.incremental import (
        append_index_stream, publish_index)

    sub = corpus_pdf.head(200)
    docs = prepare_docs(spark.createDataFrame(sub).repartition(4)).select(
        "doc_id", "repo", "path", "commit", "lang", "content")
    mono_dir = str(tmp_path / "mono")
    build_index(spark, docs, mono_dir, profile="code", seg_bits=6,
                n_buckets=8)
    base_dir = str(tmp_path / "base")
    build_index(spark, docs.filter("doc_id < 150"), base_dir,
                profile="code", seg_bits=6, n_buckets=8)
    src = str(tmp_path / "arrivals")
    docs.filter("doc_id >= 150").coalesce(1) \
        .write.mode("append").parquet(src)
    delta_dir = str(tmp_path / "delta")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = append_index_stream(spark, stream, delta_dir, profile="code",
                            seg_bits=6, n_buckets=4,
                            checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    publish_index(spark, delta_dir, profile="code", seg_bits=6,
                  n_buckets=4)

    out = str(tmp_path / "consolidated")
    stats = reshard_index(spark, [base_dir, delta_dir], out, 1,
                          n_buckets=8)
    assert stats[0]["n_docs"] == 200
    got = load_index(spark, f"{out}/shard_0")
    mono = load_index(spark, mono_dir)
    bag = ["merge", "sort"]
    g = [(r["doc_id"], round(r["score"], 9)) for r in
         bm25_topk_tokens(spark, got, bag, k=12).collect()]
    m = [(r["doc_id"], round(r["score"], 9)) for r in
         bm25_topk_tokens(spark, mono, bag, k=12).collect()]
    assert g == m and g
    assert any(d >= 150 for d, _ in g)  # the delta contributes
    # dictionary equal to the rebuild's
    t = lambda df: {r["term"]: (r["df"], r["cf"])
                    for r in df.select("term", "df", "cf").collect()}
    assert t(got["terms"]) == t(mono["terms"])


def test_index_diff_and_cli_compare(spark, tmp_path, mono, capsys):
    """index_diff: a reshard-consolidated index compares EQUAL to the
    fresh build (stats + dictionary + posting bytes); a different corpus
    does not; the CLI `compare` face exits 0/1 accordingly."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.diffing import index_diff
    from spidey_search_engine_spark.operators.reshard import reshard_index

    mono_dir, mono_idx = mono
    out = str(tmp_path / "rs")
    reshard_index(spark, [mono_dir], out, 2)
    # consolidate the 2 shards back into one — must equal the original
    back = str(tmp_path / "back")
    reshard_index(spark, [f"{out}/shard_0", f"{out}/shard_1"], back, 1)
    res = index_diff(mono_idx, load_index(spark, f"{back}/shard_0"))
    assert res["equal"], res

    other_dir = str(tmp_path / "other")
    build_index(spark, _corpus(spark, 50), other_dir, profile="code",
                seg_bits=3, n_buckets=4)
    res2 = index_diff(mono_idx, load_index(spark, other_dir))
    assert not res2["equal"]
    assert not res2["stats_equal"] or res2["term_mismatches"] > 0

    assert main(["compare", "--a", mono_dir,
                 "--b", f"{back}/shard_0"]) == 0
    assert json.loads(capsys.readouterr().out.strip()
                      .splitlines()[-1])["equal"] is True
    assert main(["compare", "--a", mono_dir, "--b", other_dir]) == 1


def test_index_diff_compares_doc_lengths(mono):
    """Two indexes that differ only in one doc's length are not equal:
    the DOCLEN/DOCSHA sentinel rows are pruned from the query-facing
    postings, so index_diff compares the docs tables' (doc_id, n_tokens,
    content_sha256) rows."""
    from spidey_search_engine_spark.operators.diffing import index_diff

    _, idx = mono
    for col, edit in (("n_tokens", F.col("n_tokens") + 1),
                      ("content_sha256", F.lit("0" * 64))):
        other = dict(idx, docs=idx["docs"].withColumn(
            col, F.when(F.col("doc_id") == 7, edit).otherwise(F.col(col))))
        res = index_diff(idx, other)
        assert not res["equal"], col
        assert res["stats_equal"] and res["term_mismatches"] == 0
        assert res["posting_mismatches"] == 0 and res["doc_mismatches"] == 1
    assert index_diff(idx, idx)["doc_mismatches"] == 0


def test_reshard_cli_rejects_bad_ngram_flags(tmp_path, capsys):
    """`reshard` validates its n-gram flags the way `build` does, before
    any work: an n-gram projection needs the wildcard projections it
    rides with, and a gram narrower than 2 cannot serve an infix."""
    from spidey_search_engine_spark.cli import main
    base = ["reshard", "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"), "--shards", "2"]
    for extra, msg in ((["--ngram-index", "--no-wildcard-index"],
                        "conflicts with --no-wildcard-index"),
                       (["--ngram-index", "--ngram-size", "1"],
                        "--ngram-size must be >= 2")):
        with pytest.raises(SystemExit):
            main(base + extra)
        assert msg in capsys.readouterr().err
    assert not (tmp_path / "out").exists()
