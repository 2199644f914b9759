"""A8 delete/re-index, Q13 upsert, F8 URL normalize, F10 date round-trip.

The A8 invariant is the strong one: deleting docs from a built index (or
replacing changed docs) must produce byte-identical postings to a fresh
build over the corresponding corpus."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _postings_map(df):
    rows = df.select("term", "segment", "n_docs", "cf", "bin").collect()
    return {(r["term"], r["segment"]): (r["n_docs"], r["cf"], bytes(r["bin"]))
            for r in rows}


def test_delete_docs_equals_fresh_build(spark, corpus_pdf, tmp_path):
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index,
                                                            term_stats)
    from spidey_search_engine_spark.operators.maintenance import \
        delete_docs_postings

    out_full = str(tmp_path / "full")
    corpus = spark.createDataFrame(corpus_pdf).repartition(4)
    build_index(spark, corpus, out_full, profile="code", seg_bits=6,
                n_buckets=4)
    idx = load_index(spark, out_full)
    victims = [int(r["doc_id"]) for r in
               idx["docs"].filter(F.col("doc_id") % 7 == 0)
               .select("doc_id").collect()]

    cleaned = delete_docs_postings(idx["postings"], victims, seg_bits=6)

    # fresh build over the corpus minus the victims, with SAME doc_ids —
    # prepare_docs assigns by (repo,path) order so drop after assignment
    from spidey_search_engine_spark.operators.build import (
        SENTINEL_PREFIX, build_partials, merge_partials, prepare_docs)
    docs = prepare_docs(spark.createDataFrame(corpus_pdf).repartition(4))
    kept = docs.filter(~F.col("doc_id").isin(victims))
    fresh_parts = build_partials(kept, profile="code", seg_bits=6) \
        .filter(~F.col("term").startswith(SENTINEL_PREFIX))
    fresh = merge_partials(fresh_parts, n_buckets=4)

    assert _postings_map(cleaned) == _postings_map(fresh)

    # df reflects deletions exactly
    stats = term_stats(cleaned)
    assert stats.columns == ["term", "df", "cf"]
    df_after = {r["term"]: r["df"] for r in stats.collect()}
    df_fresh = {r["term"]: r["n"] for r in
                fresh.groupBy("term").agg(F.sum("n_docs").alias("n")).collect()}
    assert df_after == df_fresh


def test_bulk_delete_dataframe_victims(spark, index):
    """Bulk-delete path: the victim set is a 10^5-row DataFrame that is
    NEVER collected to a python list (GDPR-style deletes). Result must be
    identical to the list path over the ids actually present."""
    from spidey_search_engine_spark.operators.maintenance import \
        delete_docs_postings

    seg_bits = int(index["stats"]["seg_bits"])
    n_docs = int(index["stats"]["n_docs"])
    # 10^5 victims: every 3rd doc id up to 3*10^5 — only ids < n_docs exist
    victims_df = spark.range(0, 300_000, 3).select(
        F.col("id").alias("doc_id"))
    via_df = delete_docs_postings(index["postings"], victims_df, seg_bits)
    present = [i for i in range(0, 300_000, 3) if i < n_docs]
    via_list = delete_docs_postings(index["postings"], present, seg_bits)
    assert _postings_map(via_df) == _postings_map(via_list)


def test_reindex_changed_docs_equals_fresh_build(spark, corpus_pdf, tmp_path):
    from spidey_search_engine_spark.operators.build import (
        build_index, load_index, prepare_docs)
    from spidey_search_engine_spark.operators.maintenance import reindex_docs

    corpus = spark.createDataFrame(corpus_pdf).repartition(4)
    out_full = str(tmp_path / "orig")
    build_index(spark, corpus, out_full, profile="code", seg_bits=6,
                n_buckets=4)
    idx = load_index(spark, out_full)

    # change the content of docs ≡ 3 (mod 11)
    changed_pdf = corpus_pdf.copy()
    mask = changed_pdf.index % 11 == 3
    changed_pdf.loc[mask, "content"] = (
        changed_pdf.loc[mask, "content"] + "\nupdated_marker_token = 1\n")
    new_corpus = spark.createDataFrame(changed_pdf).repartition(4)
    new_docs = prepare_docs(new_corpus)

    changed_ids = [int(r["doc_id"]) for r in
                   new_docs.join(idx["docs"].select("doc_id", "content_sha256")
                                 .withColumnRenamed("content_sha256", "old_sha"),
                                 "doc_id")
                   .filter(F.col("content_sha256") != F.col("old_sha"))
                   .select("doc_id").collect()]
    assert changed_ids

    changed_docs = new_docs.filter(F.col("doc_id").isin(changed_ids))
    updated = reindex_docs(spark, idx["postings"], changed_docs, seg_bits=6,
                           n_buckets=4, profile="code")

    out_fresh = str(tmp_path / "fresh")
    build_index(spark, new_corpus, out_fresh, profile="code", seg_bits=6,
                n_buckets=4)
    fresh = load_index(spark, out_fresh)
    assert _postings_map(updated) == _postings_map(fresh["postings"])


def test_upsert_history(spark):
    from spidey_search_engine_spark.operators.maintenance import upsert_history
    hist = spark.createDataFrame(
        [(1, 10, 3), (1, 11, 1), (2, 10, 5)],
        "user_id int, doc_id int, times int")
    visits = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 12), (3, 99)], "user_id int, doc_id int")
    out = {(r["user_id"], r["doc_id"]): r["times"]
           for r in upsert_history(hist, visits).collect()}
    assert out == {(1, 10): 5, (1, 11): 1, (2, 10): 5, (1, 12): 1, (3, 99): 1}


@pytest.mark.parametrize("raw,expected", [
    ("http:////wWw.Fb.cOm////", "http://www.fb.com"),
    ("https://Example.COM/a//b///c/", "http://example.com/a/b/c"),
    ("www.plain.org/path", "http://www.plain.org/path"),
    ("http://already.ok", "http://already.ok"),
])
def test_normalize_url_reference_cases(spark, raw, expected):
    from spidey_search_engine_spark.operators.maintenance import with_normalized_url
    df = spark.createDataFrame([(raw,)], "url string")
    assert with_normalized_url(df).collect()[0]["url_norm"] == expected


def test_rfc1123_round_trip_and_state(spark):
    from spidey_search_engine_spark.operators.maintenance import (
        index_state, parse_rfc1123, to_rfc1123)
    df = spark.createDataFrame(
        [("2024-03-05 10:00:00", "2024-03-04 09:00:00"),   # indexed < crawled
         ("2024-03-05 10:00:00", "2024-03-06 09:00:00"),   # indexed fresh
         ("2024-03-05 10:00:00", None),                     # never indexed
         ("2024-03-05 10:00:00", "2024-03-05 10:00:00")],   # equal → REINDEX
        "crawled string, indexed string") \
        .select(to_rfc1123(F.col("crawled").cast("timestamp")).alias("c"),
                to_rfc1123(F.col("indexed").cast("timestamp")).alias("i"))
    row = df.collect()[0]
    assert row["c"] == "Tue, 05 Mar 2024 10:00:00 GMT"
    rt = df.select(parse_rfc1123(F.col("c")).cast("string").alias("back")) \
        .collect()[0]["back"]
    assert rt == "2024-03-05 10:00:00"
    states = [r["s"] for r in
              df.select(index_state(F.col("c"), F.col("i")).alias("s")).collect()]
    # equality re-indexes: the reference SKIPs only on indexed > crawled
    # (Indexer.java:797), and second-truncated timestamps tie often
    assert states == ["REINDEX", "SKIP", "INDEX", "REINDEX"]


def test_remerge_duplicate_keys_across_batch_boundary(spark, corpus_pdf):
    """A duplicate (term, segment) pair must merge even when its two rows
    land in different Arrow batches (maxRecordsPerBatch=1 forces that for
    EVERY pair)."""
    from spidey_search_engine_spark.operators.build import (
        SENTINEL_PREFIX, build_partials, merge_partials, prepare_docs)
    from spidey_search_engine_spark.operators.maintenance import (
        _remerge_duplicate_keys)

    docs = prepare_docs(spark.createDataFrame(corpus_pdf.head(40)))
    a = docs.filter(F.col("doc_id") < 20)
    b = docs.filter(F.col("doc_id") >= 20)
    # seg_bits=10 → every doc in segment 0 → shared terms duplicate keys
    pa = build_partials(a, profile="code", seg_bits=10) \
        .filter(~F.col("term").startswith(SENTINEL_PREFIX))
    pb = build_partials(b, profile="code", seg_bits=10) \
        .filter(~F.col("term").startswith(SENTINEL_PREFIX))
    both = merge_partials(pa, n_buckets=4).unionByName(
        merge_partials(pb, n_buckets=4))
    combined = merge_partials(pa.unionByName(pb), n_buckets=4)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        out = _remerge_duplicate_keys(both)
        assert _postings_map(out) == _postings_map(combined)
    finally:
        spark.conf.set(key, old)


def test_delete_docs_handles_sentinel_rows(spark, corpus_pdf, tmp_path):
    """delete_docs_postings over the FULL on-disk table (sentinel bucket
    included): DOCLEN/DOCSHA rows for victim docs must be rewritten so the
    republished doc-length/sha tables exclude the victims."""
    from spidey_search_engine_spark.operators.build import (
        build_index, doc_lengths, doc_shas)
    from spidey_search_engine_spark.operators.maintenance import (
        delete_docs_postings)
    import os

    out = str(tmp_path / "full_sent")
    corpus = spark.createDataFrame(corpus_pdf.head(60)).repartition(4)
    build_index(spark, corpus, out, profile="code", seg_bits=4, n_buckets=4)
    raw = spark.read.parquet(os.path.join(out, "postings"))  # all buckets
    victims = [0, 7, 14, 21]
    cleaned = delete_docs_postings(raw, victims, seg_bits=4)
    sent = cleaned.filter(F.col("bucket") == 4)
    kept_len_ids = {r["doc_id"] for r in doc_lengths(sent).collect()}
    kept_sha_ids = {r["doc_id"] for r in doc_shas(sent).collect()}
    assert kept_len_ids == kept_sha_ids == set(range(60)) - set(victims)


def test_index_verify_statuses(spark):
    from spidey_search_engine_spark.operators.maintenance import (
        index_verify, index_verify_summary)
    idx_docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "content_sha256": [
                # sha256("a"), sha256("b"), sha256("c"), and a NULL-content
                # doc whose stored sha is NULL (sha2(NULL) at build time)
                "ca978112ca1bbdcafac231b39a23dc4da786eff8147c4e72"
                "b9807785afee48bb",
                "3e23e8160039594a33894f6564e1b1348bbd7a0088d42c4a"
                "cb73eeaed59c009d",
                "2e7d2c03a9507ae265ecf5b5356885a53393a2029d241394"
                "997265a1a25aefc6",
                None,
            ]}))
    source = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 4, 5],
            # doc 1 unchanged, doc 2 edited, doc 3 gone (orphaned),
            # doc 4 NULL content on both sides (ok via eqNullSafe),
            # doc 5 never indexed (missing)
            "content": ["a", "B", None, "e"]}))
    got = {r["doc_id"]: r["status"]
           for r in index_verify(idx_docs, source).collect()}
    assert got == {1: "ok", 2: "stale", 3: "orphaned", 4: "ok",
                   5: "missing"}
    summary = {r["status"]: r["n_docs"]
               for r in index_verify_summary(idx_docs, source).collect()}
    assert summary == {"ok": 2, "stale": 1, "orphaned": 1, "missing": 1}


def test_index_verify_clean_index_is_all_ok(spark, corpus_pdf, tmp_path):
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.maintenance import (
        index_verify_summary)
    from spidey_search_engine_spark.operators.build import prepare_docs
    out = str(tmp_path / "verify_idx")
    corpus = spark.createDataFrame(corpus_pdf).repartition(4)
    build_index(spark, corpus, out, profile="code", seg_bits=6, n_buckets=4)
    idx = load_index(spark, out)
    # the source with the build's own id assignment (prepare_docs is
    # deterministic by (repo, path) order)
    source = prepare_docs(corpus).select("doc_id", "content")
    rows = index_verify_summary(idx["docs"], source).collect()
    assert [(r["status"], r["n_docs"]) for r in rows] == [
        ("ok", len(corpus_pdf))]


def test_cli_verify_audit(spark, corpus_pdf, tmp_path, capsys):
    """`verify --index --corpus`: all-ok ⇒ exit 0; a perturbed source
    (changed / dropped / added rows) ⇒ exit 1, the right per-status
    counts, and a --dump parquet holding exactly the non-ok rows."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import build_index

    src = str(tmp_path / "corpus")
    corpus = spark.createDataFrame(corpus_pdf).repartition(4)
    corpus.write.parquet(src)  # raw corpus: no doc_id column — the CLI
    # derives the build-identical assignment itself
    out = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(src), out, profile="code",
                seg_bits=6, n_buckets=4)
    assert main(["verify", "--index", out, "--corpus", src]) == 0
    ok = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ok == {"ok": len(corpus_pdf), "stale": 0, "missing": 0,
                  "orphaned": 0}

    # perturb with doc_id present (explicit id space): 2 stale, 1
    # orphaned (dropped), 1 missing (new id the index never saw)
    from spidey_search_engine_spark.operators.build import prepare_docs
    base = prepare_docs(spark.read.parquet(src)) \
        .select("doc_id", "content")
    pert = (base.filter(F.col("doc_id") != 0)
            .withColumn("content",
                        F.when(F.col("doc_id").isin(1, 2),
                               F.concat(F.col("content"), F.lit(" X")))
                        .otherwise(F.col("content"))))
    extra = base.filter(F.col("doc_id") == 3) \
        .withColumn("doc_id", F.lit(10 ** 9).cast("long"))
    psrc = str(tmp_path / "corpus_pert")
    pert.unionByName(extra).write.parquet(psrc)
    dump = str(tmp_path / "bad")
    assert main(["verify", "--index", out, "--corpus", psrc,
                 "--dump", dump]) == 1
    bad = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert bad == {"ok": len(corpus_pdf) - 3, "stale": 2, "missing": 1,
                   "orphaned": 1, "dump": dump}
    dumped = {(r["doc_id"], r["status"])
              for r in spark.read.parquet(dump).collect()}
    assert dumped == {(1, "stale"), (2, "stale"), (0, "orphaned"),
                      (10 ** 9, "missing")}

    # a subsequent CLEAN run with the same --dump must overwrite the
    # previous findings (a repair job fed DIR on each CI cycle would
    # otherwise re-apply last run's rows forever)
    assert main(["verify", "--index", out, "--corpus", src,
                 "--dump", dump]) == 0
    clean = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert clean["ok"] == len(corpus_pdf) and clean["dump"] == dump
    assert spark.read.parquet(dump).count() == 0
