"""F11 snippet semantics: ±8-token windows around first-5 matches, '... '
joined, prefix match of raw token vs stemmed query term."""

from pyspark.sql import functions as F


def test_snippets_basic(spark):
    from spidey_search_engine_spark.operators.snippets import with_snippets
    # alphabetic-only filler (the code_raw profile splits letter/digit
    # boundaries, so w12 would become two tokens)
    content = " ".join(
        ["word%s" % chr(97 + i) for i in range(20)] + ["sorting"]
        + ["next%s" % chr(97 + i) for i in range(20)])
    docs = spark.createDataFrame([(1, content), (2, "nothing here at all")],
                                 "doc_id long, content string")
    res = spark.createDataFrame([(1,), (2,)], "doc_id long")
    out = {r["doc_id"]: r["snippet"] for r in
           with_snippets(res, docs, ["sort"]).collect()}
    # window = tokens pos-8 .. pos+7 (16 tokens) around 'sorting' (pos 20)
    toks = content.split()
    expected = " ".join(toks[12:28])
    assert out[1] == expected
    assert "sorting" in out[1]
    assert out[2] == ""  # no match → empty snippet


def test_snippets_max_five_and_join(spark):
    from spidey_search_engine_spark.operators.snippets import with_snippets
    content = " ".join(["merge"] * 7)  # 7 matches, only first 5 used
    docs = spark.createDataFrame([(1, content)], "doc_id long, content string")
    res = spark.createDataFrame([(1,)], "doc_id long")
    out = with_snippets(res, docs, ["merg"]).collect()[0]["snippet"]
    assert out.count("... ") == 4  # 5 windows joined


def test_snippet_prefix_match_rule(spark):
    """Raw token 'Sorting' matches stemmed query 'sort' via lowercase+prefix
    (QueryResultsFetcher.java:157)."""
    from spidey_search_engine_spark.operators.snippets import with_snippets
    docs = spark.createDataFrame([(1, "The Sorting Hat decides")],
                                 "doc_id long, content string")
    res = spark.createDataFrame([(1,)], "doc_id long")
    out = with_snippets(res, docs, ["sort"]).collect()[0]["snippet"]
    assert "Sorting" in out


def test_cli_snippets_result_page(spark, corpus_pdf, tmp_path, capsys):
    """`query --snippets --corpus`: rows keep their ranking order and
    gain a snippet column whose windows contain a query term (prefix
    rule); contract violations fail fast."""
    import json

    import pytest

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import build_index

    src = str(tmp_path / "corpus")
    spark.createDataFrame(corpus_pdf).repartition(4).write.parquet(src)
    out = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(src), out, profile="code",
                seg_bits=6, n_buckets=4)
    capsys.readouterr()

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    plain = run(["query", "--index", out, "--q", "merge sort", "--k", "5"])
    snipped = run(["query", "--index", out, "--q", "merge sort",
                   "--k", "5", "--snippets", "--corpus", src])
    # same docs, same order, same scores — plus a populated snippet
    assert [(r["doc_id"], r["score"]) for r in snipped] == \
        [(r["doc_id"], r["score"]) for r in plain]
    for r in snipped:
        low = r["snippet"].lower()
        assert low and ("merg" in low or "sort" in low)

    # boolean/wildcard composes; contract violations reject
    boo = run(["query", "--index", out, "--q", "merge sor*", "--k", "3",
               "--snippets", "--corpus", src])
    assert boo and all("snippet" in r for r in boo)
    for argv in (["query", "--index", out, "--q", "merge", "--snippets"],
                 ["query", "--index", out, "--q", "merge", "--snippets",
                  "--corpus", src, "--fuzzy"],
                 ["query", "--index", out, "--q", '"merge sort"',
                  "--snippets", "--corpus", src, "--parity"]):
        with pytest.raises(SystemExit):
            main(argv)
    capsys.readouterr()
