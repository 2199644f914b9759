"""Federated (sharded) search — the invariant is byte-identical scores
vs the monolithic index over the union corpus (operators/federate.py)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fed(spark, corpus_pdf, tmp_path_factory):
    """One monolithic index over the 400-doc corpus plus two shard
    indexes over its doc_id-parity halves — the shards deliberately use
    DIFFERENT bucket counts (each shard owns its layout; federation must
    not assume a shared one)."""
    from spidey_search_engine_spark.operators.build import (
        assign_doc_ids, build_index, load_index)
    base = tmp_path_factory.mktemp("fed")
    # doc_ids must be assigned ONCE, upstream of the sharding — each
    # build assigns its own dense 0..N ids when the column is absent,
    # which would collide across shards (the federate.py contract)
    corpus = assign_doc_ids(
        spark.createDataFrame(corpus_pdf).repartition(8))
    out_all = str(base / "all")
    build_index(spark, corpus, out_all, profile="code", seg_bits=8,
                n_buckets=8)
    out_a = str(base / "a")
    build_index(spark, corpus.filter(F.col("doc_id") % 2 == 0), out_a,
                profile="code", seg_bits=8, n_buckets=4)
    out_b = str(base / "b")
    build_index(spark, corpus.filter(F.col("doc_id") % 2 == 1), out_b,
                profile="code", seg_bits=8, n_buckets=8)
    return {"all": load_index(spark, out_all),
            "shards": [load_index(spark, out_a), load_index(spark, out_b)]}


def _topk(df, n=10):
    return [(r["doc_id"], r["score"]) for r in df.collect()][:n]


def test_federated_stats_match_monolithic(fed):
    from spidey_search_engine_spark.operators.federate import \
        federated_stats
    g = federated_stats(fed["shards"])
    st = fed["all"]["stats"]
    assert g["n_docs"] == int(st["n_docs"])
    assert g["total_tokens"] == int(st["total_tokens"])
    assert g["avgdl"] == float(st["avgdl"])


def test_federated_idf_is_global(fed):
    """Global df is the sum of the shards' df — NOT any shard's own — so
    bm25_idf over it and global N equals the monolithic index's idf bit
    for bit for every present term; absent terms drop."""
    from spidey_search_engine_spark.operators.federate import (
        federated_df, federated_stats)
    from spidey_search_engine_spark.operators.search import (bm25_idf,
                                                             query_df)
    terms = ["merge", "sort", "hash", "nosuchterm_zz"]
    got = federated_df(fed["shards"], terms)
    want = query_df(fed["all"]["terms"], terms)
    assert got == want and "nosuchterm_zz" not in got
    shard0 = query_df(fed["shards"][0]["terms"], terms)
    assert any(shard0.get(t) != d for t, d in want.items())
    n_fed = federated_stats(fed["shards"])["n_docs"]
    n_mono = int(fed["all"]["stats"]["n_docs"])
    assert ({t: bm25_idf(d, n_fed) for t, d in got.items()}
            == {t: bm25_idf(d, n_mono) for t, d in want.items()})


def test_federated_topk_equals_monolithic(spark, fed):
    """The headline invariant: federated top-k over the disjoint
    sharding == single-index top-k over the union corpus, including bag
    multiplicity and the BM25F important-field boost."""
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk_tokens
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_tokens
    for bag, w in ([["merge", "sort"], 1.0],
                   [["merge", "merge", "sort"], 1.0],   # bag semantics
                   [["merge", "sort", "hash"], 2.5]):   # BM25F boost
        mono = _topk(bm25_topk_tokens(spark, fed["all"], bag, k=15,
                                      important_weight=w))
        feder = _topk(federated_bm25_topk_tokens(
            spark, fed["shards"], bag, k=15, important_weight=w))
        assert feder == mono and feder, (bag, w)


def test_federated_query_string_path(spark, fed):
    """The analyze-query wrapper matches the single-index bm25_topk on
    the same query text (phrase words enter the bag)."""
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk
    from spidey_search_engine_spark.operators.search import bm25_topk
    q = '"merge sort" fast'
    mono = _topk(bm25_topk(spark, fed["all"], q, k=10))
    feder = _topk(federated_bm25_topk(spark, fed["shards"], q, k=10))
    assert feder == mono and feder


def test_federated_single_shard_degenerate(spark, fed):
    """One shard federates to exactly that shard's own single-index
    answer (global stats == the shard's stats)."""
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk_tokens
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_tokens
    shard = fed["shards"][0]
    mono = _topk(bm25_topk_tokens(spark, shard, ["merge", "sort"], k=10))
    feder = _topk(federated_bm25_topk_tokens(spark, [shard],
                                             ["merge", "sort"], k=10))
    assert feder == mono and feder


def test_federated_verify_disjoint(spark, fed):
    """Overlapping shards (same doc in two) must raise under
    verify_disjoint=True — and the disjoint sharding must pass it."""
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk_tokens
    ok = federated_bm25_topk_tokens(spark, fed["shards"],
                                    ["merge", "sort"], k=5,
                                    verify_disjoint=True)
    assert ok.count() == 5
    with pytest.raises(ValueError, match="shards overlap"):
        federated_bm25_topk_tokens(
            spark, [fed["all"], fed["shards"][0]], ["merge", "sort"],
            k=5, verify_disjoint=True).collect()


def test_federated_empty_and_errors(spark, fed):
    from spidey_search_engine_spark.operators.federate import (
        federated_bm25_topk_tokens, federated_stats)
    assert federated_bm25_topk_tokens(spark, fed["shards"], [],
                                      k=5).count() == 0
    with pytest.raises(ValueError):
        federated_stats([])
    with pytest.raises(ValueError):
        federated_bm25_topk_tokens(spark, [], ["merge"], k=5)


def test_federated_cli_roundtrip(spark, corpus_pdf, tmp_path, capsys):
    """`query --index A --index B` federates and prints exactly what the
    monolithic `query --index ALL` prints; mode flags fail fast."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import assign_doc_ids

    corpus = assign_doc_ids(
        spark.createDataFrame(corpus_pdf).repartition(8))
    dirs = {}
    for tag, flt in (("all", None),
                     ("a", F.col("doc_id") % 2 == 0),
                     ("b", F.col("doc_id") % 2 == 1)):
        src = str(tmp_path / f"corpus_{tag}")
        (corpus if flt is None else corpus.filter(flt)).write.parquet(src)
        dirs[tag] = str(tmp_path / f"idx_{tag}")
        assert main(["build", "--input", src, "--output", dirs[tag],
                     "--profile", "code", "--seg-bits", "4",
                     "--n-buckets", "4"]) == 0
    capsys.readouterr()

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    mono = run(["query", "--index", dirs["all"], "--q", "merge sort",
                "--k", "7"])
    feder = run(["query", "--index", dirs["a"], "--index", dirs["b"],
                 "--q", "merge sort", "--k", "7", "--verify-disjoint"])
    assert feder == mono and len(feder) == 7

    # --filter federates: sharded drill-down == monolithic drill-down
    mono_f = run(["query", "--index", dirs["all"], "--q", "merge sort",
                  "--k", "7", "--filter", "lang=py"])
    fed_f = run(["query", "--index", dirs["a"], "--index", dirs["b"],
                 "--q", "merge sort", "--k", "7", "--filter",
                 "lang=py"])
    assert fed_f == mono_f and mono_f

    # --after federates: page 1 from '--after start', its cursor feeds
    # page 2, and both pages equal the monolithic pagination CLI
    mono_p1 = run(["query", "--index", dirs["all"], "--q", "merge sort",
                   "--k", "4", "--after", "start"])
    fed_p1 = run(["query", "--index", dirs["a"], "--index", dirs["b"],
                  "--q", "merge sort", "--k", "4", "--after", "start",
                  "--verify-disjoint"])
    assert fed_p1 == mono_p1 and len(fed_p1) == 4
    cur = f"{fed_p1[-1]['score']!r}:{fed_p1[-1]['doc_id']}"
    mono_p2 = run(["query", "--index", dirs["all"], "--q", "merge sort",
                   "--k", "4", "--after", cur])
    fed_p2 = run(["query", "--index", dirs["a"], "--index", dirs["b"],
                  "--q", "merge sort", "--k", "4", "--after", cur])
    assert fed_p2 == mono_p2 and len(fed_p2) == 4
    assert not ({r["doc_id"] for r in fed_p1}
                & {r["doc_id"] for r in fed_p2})

    # --batch FILE: eval workload in one pass, single-index == federated,
    # ids from TAB lines, q<lineno> otherwise, comments/blanks skipped
    bf = tmp_path / "queries.txt"
    bf.write_text("merge sort\n# comment\n\nhot\tbinary tree\n",
                  encoding="utf-8")
    mono_b = run(["query", "--index", dirs["all"],
                  "--batch", str(bf), "--k", "5"])
    fed_b = run(["query", "--index", dirs["a"], "--index", dirs["b"],
                 "--batch", str(bf), "--k", "5", "--verify-disjoint"])
    assert fed_b == mono_b and mono_b
    assert {r["query_id"] for r in mono_b} == {"q1", "hot"}
    assert all(set(r) == {"query_id", "doc_id", "score", "rank"}
               for r in mono_b)

    # mode flags / operators reject cleanly on the federated path
    import pytest as _pytest
    for argv in (["query", "--index", dirs["a"], "--index", dirs["b"],
                  "--q", "merge sort", "--collapse", "repo"],
                 ["query", "--index", dirs["a"], "--index", dirs["b"],
                  "--q", "merge sort", "--syn", "merge=combine"],
                 ["query", "--index", dirs["a"], "--index", dirs["b"],
                  "--q", "merge sort", "--pruned"],
                 ["query", "--index", dirs["a"], "--index", dirs["b"],
                  "--q", "merge sor*"],
                 ["query", "--index", dirs["a"], "--index", dirs["b"],
                  "--q", "merge", "--not", "scan"],
                 ["query", "--index", dirs["all"], "--q", "merge",
                  "--verify-disjoint"],
                 # --batch contract: no --q, no mode flags, no operator
                 # tokens inside the file, no empty file
                 ["query", "--index", dirs["all"], "--batch", str(bf),
                  "--q", "merge"],
                 ["query", "--index", dirs["all"], "--batch", str(bf),
                  "--pruned"],
                 ["query", "--index", dirs["all"], "--batch", str(bf),
                  "--explain"]):
        with _pytest.raises(SystemExit):
            main(argv)
    bad = tmp_path / "bad.txt"
    bad.write_text("merge sor*\n", encoding="utf-8")
    with _pytest.raises(SystemExit):
        main(["query", "--index", dirs["all"], "--batch", str(bad)])
    empty = tmp_path / "empty.txt"
    empty.write_text("# nothing\n", encoding="utf-8")
    with _pytest.raises(SystemExit):
        main(["query", "--index", dirs["all"], "--batch", str(empty)])
    capsys.readouterr()


def test_federated_batch_equals_monolithic(spark, fed):
    """Batch eval over shards == bm25_topk_batch over the union index —
    per-query ranks, scores, and empty-bag handling."""
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk_batch
    from spidey_search_engine_spark.operators.search import bm25_topk_batch
    queries = {"a": "merge sort", "b": "binary tree", "c": "merge",
               "d": '"merge sort" fast'}
    key = ["query_id", "rank"]
    mono = [(r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in bm25_topk_batch(spark, fed["all"], queries, k=7)
            .orderBy(*key).collect()]
    feder = [(r["query_id"], r["rank"], r["doc_id"], r["score"])
             for r in federated_bm25_topk_batch(spark, fed["shards"],
                                                queries, k=7)
             .orderBy(*key).collect()]
    assert feder == mono and feder
    assert federated_bm25_topk_batch(spark, fed["shards"], {},
                                     k=5).count() == 0


def test_federated_base_plus_streaming_delta(spark, corpus_pdf, tmp_path):
    """Near-real-time serving architecture: a big immutable BASE index
    plus a small DELTA index built by the streaming append path, queried
    as one federation — scores byte-identical to the monolithic index
    over all docs. This is the Lucene-NRT / main+delta pattern: new docs
    serve seconds after arrival without touching the base, and the delta
    periodically compacts/merges into a new base snapshot."""
    from spidey_search_engine_spark.operators.build import (
        build_index, load_index, prepare_docs)
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk_tokens
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_tokens
    from spidey_search_engine_spark.plans.lineage import \
        load_index_resumable
    from spidey_search_engine_spark.streaming.incremental import (
        append_index_stream, publish_index)

    sub = corpus_pdf.head(200)
    corpus = spark.createDataFrame(sub).repartition(4)
    docs = prepare_docs(corpus).select(
        "doc_id", "repo", "path", "commit", "lang", "content")

    mono_dir = str(tmp_path / "mono")
    build_index(spark, docs, mono_dir, profile="code", seg_bits=6,
                n_buckets=8)
    mono = load_index(spark, mono_dir)

    base_dir = str(tmp_path / "base")
    build_index(spark, docs.filter("doc_id < 150"), base_dir,
                profile="code", seg_bits=6, n_buckets=8)

    # the delta arrives as a stream (ids pre-assigned upstream — the
    # streaming contract — and disjoint from the base by construction)
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

    shards = [load_index(spark, base_dir),
              load_index_resumable(spark, delta_dir)]
    bag = ["merge", "sort"]
    mono_top = [(r["doc_id"], r["score"]) for r in
                bm25_topk_tokens(spark, mono, bag, k=12).collect()]
    fed_top = [(r["doc_id"], r["score"]) for r in
               federated_bm25_topk_tokens(spark, shards, bag, k=12,
                                          verify_disjoint=True).collect()]
    assert fed_top == mono_top and fed_top
    # the delta actually contributes (some top doc lives in it)
    assert any(d >= 150 for d, _ in fed_top)


def test_federated_search_after(spark, fed):
    """search_after federates: stitched federated pages equal the
    monolithic pagination path BITWISE (both fold partials in term
    order over bitwise-equal global-stats partials), so a cursor from a
    federated page is valid against the monolithic index and vice
    versa — the sharding can change between a user's page 1 and page 2
    (a compaction publishing delta into base) without breaking their
    cursor. 3-term bag so summation ORDER actually matters; exact
    floats, no rounding."""
    from spidey_search_engine_spark.operators.federate import (
        FederatedSearcher, federated_bm25_topk_tokens)
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_tokens
    bag = ["merge", "sort", "hash"]
    exact = [(r["doc_id"], r["score"]) for r in
             bm25_topk_tokens(spark, fed["all"], bag, k=18).collect()]
    fp1 = federated_bm25_topk_tokens(spark, fed["shards"], bag,
                                     k=6).collect()
    pages = [(r["doc_id"], r["score"]) for r in fp1]
    cur = (fp1[-1]["score"], fp1[-1]["doc_id"])
    # page 2 from the MONOLITHIC path with the FEDERATED cursor — the
    # cross-path validity the bitwise invariant buys
    mp2 = bm25_topk_tokens(spark, fed["all"], bag, k=6,
                           after=cur).collect()
    pages += [(r["doc_id"], r["score"]) for r in mp2]
    # page 3 federated again, cursor from the monolithic page
    fp3 = federated_bm25_topk_tokens(
        spark, fed["shards"], bag, k=6,
        after=(mp2[-1]["score"], mp2[-1]["doc_id"])).collect()
    pages += [(r["doc_id"], r["score"]) for r in fp3]
    assert pages == exact  # 3 stitched cross-path pages == exact top-18

    # warm tier: FederatedSearcher.after == the cold federated path
    with FederatedSearcher(spark, fed["shards"],
                           cache_postings=False) as fs:
        wp1 = fs.after(bag, k=6).collect()
        wcur = (wp1[-1]["score"], wp1[-1]["doc_id"])
        wp2 = fs.after(bag, k=6, after=wcur).collect()
        assert [(r["doc_id"], r["score"])
                for r in wp1 + wp2] == exact[:12]


def test_federated_searcher_warm_equals_cold(spark, fed):
    """FederatedSearcher: warmed shards (dictionary df in idf_cache,
    global stats cached at open) answer byte-identically to the cold
    federated path and to the monolithic index; close() restores the
    shards' usability."""
    from spidey_search_engine_spark.operators.federate import (
        FederatedSearcher, federated_bm25_topk_tokens)
    from spidey_search_engine_spark.operators.search import \
        bm25_topk_tokens
    bag = ["merge", "sort", "merge"]
    cold = [(r["doc_id"], r["score"]) for r in
            federated_bm25_topk_tokens(spark, fed["shards"], bag,
                                       k=9).collect()]
    mono = [(r["doc_id"], r["score"]) for r in
            bm25_topk_tokens(spark, fed["all"], bag, k=9).collect()]
    with FederatedSearcher(spark, fed["shards"],
                           cache_postings=False) as fs:
        warm = [(r["doc_id"], r["score"]) for r in
                fs.bm25_tokens(bag, k=9).collect()]
        assert warm == cold == mono and warm
        # the query-string surface analyzes first (stems merge->merg)
        # and must equal the token surface on the ANALYZED bag
        from spidey_search_engine_spark.functions.analysis import \
            analyze_query
        abag, _ = analyze_query("merge sort merge")
        warm_q = [(r["doc_id"], r["score"]) for r in
                  fs.bm25("merge sort merge", k=9).collect()]
        warm_t = [(r["doc_id"], r["score"]) for r in
                  fs.bm25_tokens(abag, k=9).collect()]
        assert warm_q == warm_t and warm_q
        b = fs.batch({"a": "merge sort"}, k=5).orderBy("rank").collect()
        assert [r["rank"] for r in b] == [1, 2, 3, 4, 5]
        assert fs.gstats["n_docs"] == int(fed["all"]["stats"]["n_docs"])
    # shards remain queryable after close (close unpersists, not drops)
    again = [(r["doc_id"], r["score"]) for r in
             federated_bm25_topk_tokens(spark, fed["shards"], bag,
                                        k=9).collect()]
    assert again == cold


def test_cli_sharded_build(spark, corpus_pdf, tmp_path, capsys):
    """`build --shards 3` assigns ids once, writes <out>/shard_<i>, and
    querying the shards together equals the monolithic build."""
    import json

    from spidey_search_engine_spark.cli import main

    src = str(tmp_path / "corpus")
    spark.createDataFrame(corpus_pdf).repartition(8).write.parquet(src)
    mono_dir = str(tmp_path / "mono")
    shard_base = str(tmp_path / "sharded")

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    mono_stats = run(["build", "--input", src, "--output", mono_dir,
                      "--profile", "code", "--seg-bits", "4",
                      "--n-buckets", "4"])[-1]
    sh = run(["build", "--input", src, "--output", shard_base,
              "--profile", "code", "--seg-bits", "4", "--n-buckets", "4",
              "--shards", "3"])[-1]
    assert sh["shards"] == 3 and len(sh["per_shard"]) == 3
    assert sh["n_docs"] == mono_stats["n_docs"]
    assert sh["total_tokens"] == mono_stats["total_tokens"]

    mono = run(["query", "--index", mono_dir, "--q", "merge sort",
                "--k", "6"])
    feder = run(["query", *sum((["--index", d] for d in sh["query_with"]),
                               []),
                 "--q", "merge sort", "--k", "6", "--verify-disjoint"])
    assert feder == mono and len(feder) == 6

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["build", "--input", src, "--output", shard_base,
              "--shards", "0"])
    with _pytest.raises(SystemExit):
        main(["build", "--input", src, "--output", shard_base,
              "--shards", "2", "--resumable"])
    capsys.readouterr()
