"""P37 SymSpell fuzzy term lookup: Column/python variant lockstep, brute
force equivalence, completeness at distance 1, write/load round trip."""

import pytest
from pyspark.sql import functions as F

from spidey_search_engine_spark.operators.fuzzy import (
    build_deletion_index, correct_tokens, deletion_variants, fuzzy_lookup,
    load_deletion_index, py_deletion_variants, write_deletion_index)

EDGE = ["", "a", "ab", "abc", "abca", "mergesort", "x" * 40, "héllo", "a_b0"]


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("max_del", [0, 1, 2])
def test_variants_column_matches_python(spark, max_del):
    df = spark.createDataFrame([(s,) for s in EDGE], "s string")
    got = {r["s"]: sorted(r["v"]) for r in df.select(
        "s", deletion_variants(F.col("s"), max_del).alias("v")).collect()}
    for s in EDGE:
        assert got[s] == py_deletion_variants(s, max_del), (s, max_del)


def test_variants_edge_shapes():
    assert py_deletion_variants("", 1) == [""]
    assert py_deletion_variants("a", 1) == ["", "a"]
    assert set(py_deletion_variants("ab", 1)) == {"ab", "a", "b"}
    # distance-2 neighborhood of "abc" includes every single char
    assert {"a", "b", "c"} <= set(py_deletion_variants("abc", 2))


VOCAB = [("merge", 40), ("merges", 25), ("merged", 10), ("mage", 3),
         ("sort", 50), ("sorts", 20), ("fort", 5), ("data", 60),
         ("dates", 8), ("scan", 30), ("scans", 12), ("span", 9),
         ("a", 2), ("ab", 4)]


@pytest.fixture(scope="module")
def del_idx(spark):
    terms = spark.createDataFrame(VOCAB, "term string, df long")
    return build_deletion_index(terms, max_del=1, n_buckets=8)


def _brute(tokens, max_d, k):
    want = {}
    for q in tokens:
        cand = [(d, -df, t) for t, df in VOCAB
                if (d := _levenshtein(q, t)) <= max_d]
        want[q] = [(t, d, ndf, i + 1)
                   for i, (d, ndf, t) in enumerate(sorted(cand)[:k])]
    return want


def test_fuzzy_lookup_equals_brute_force(spark, del_idx):
    tokens = ["merg", "sortt", "dsta", "scan", "spam", "zzz", "b"]
    got = fuzzy_lookup(del_idx, tokens, n_buckets=8, max_d=1, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q"], []).append(
            (r["term"], r["dist"], -r["df"], r["rk"]))
    for q in by_q:
        by_q[q].sort(key=lambda x: x[3])
    want = {q: v for q, v in _brute(tokens, 1, 3).items() if v}
    assert by_q == want
    assert "zzz" not in by_q  # nothing within distance 1


def test_fuzzy_completeness_distance1(spark, del_idx):
    # every vocab term within levenshtein 1 of the probe MUST be found
    # (SymSpell guarantee) — k large enough to not truncate
    got = {r["term"] for r in
           fuzzy_lookup(del_idx, ["scan"], n_buckets=8, max_d=1,
                        k=100).collect()}
    want = {t for t, _ in VOCAB if _levenshtein("scan", t) <= 1}
    assert got == want and "span" in got


def test_max_d_exceeding_index_raises(del_idx):
    with pytest.raises(ValueError, match="exceeds"):
        fuzzy_lookup(del_idx, ["merg"], n_buckets=8, index_max_del=1,
                     max_d=2)


def test_correct_tokens_semantics(spark, del_idx):
    known = {t for t, _ in VOCAB}
    fixed = correct_tokens(del_idx, ["merg", "sort", "zzz"], known,
                           n_buckets=8)
    # "sort" is a dictionary hit -> untouched; "zzz" has no candidate
    assert fixed == {"merg": "merge"}
    # empty-token-list and all-known short-circuit without a Spark job
    assert correct_tokens(del_idx, [], known, n_buckets=8) == {}
    assert correct_tokens(del_idx, ["sort"], known, n_buckets=8) == {}


def test_did_you_mean_report(spark, del_idx):
    from spidey_search_engine_spark.operators.fuzzy import did_you_mean
    got = {r["q"]: (r["suggestion"], r["dist"], r["df"])
           for r in did_you_mean(del_idx, ["merg", "sort", "zzz", "spam"],
                                 n_buckets=8).collect()}
    # typo -> best correction; exact hit -> itself at dist 0;
    # no candidate -> visible NULL row; tie broken by df DESC
    assert got["merg"] == ("merge", 1, 40)
    assert got["sort"] == ("sort", 0, 50)
    assert got["zzz"] == (None, None, None)
    assert got["spam"] == ("span", 1, 9)    # scan is distance 2 — excluded
    assert len(got) == 4


def test_write_load_round_trip(spark, tmp_path):
    terms = spark.createDataFrame(VOCAB, "term string, df long")
    out = str(tmp_path / "fuzzy")
    write_deletion_index(terms, out, max_del=1, n_buckets=8)
    idx = load_deletion_index(spark, out)
    assert idx["max_del"] == 1 and idx["n_buckets"] == 8
    got = fuzzy_lookup(idx["variants"], ["merg"],
                       n_buckets=idx["n_buckets"],
                       index_max_del=idx["max_del"], k=2).collect()
    assert [r["term"] for r in sorted(got, key=lambda r: r["rk"])] == \
        ["merge"]  # "merges"/"merged" are distance 2 — correctly absent
    # the probe plan prunes on the partition column
    plan = fuzzy_lookup(idx["variants"], ["merg"],
                        n_buckets=idx["n_buckets"],
                        index_max_del=idx["max_del"],
                        k=2)._jdf.queryExecution().executedPlan().toString()
    assert "vbucket" in plan


def test_cli_fuzzy_query(spark, tmp_path, capsys):
    """build --fuzzy-index materializes the SymSpell index; query --fuzzy
    corrects the OOV typo and returns exactly the corrected query's
    results; without a materialized index the inline fallback matches."""
    import json

    from spidey_search_engine_spark.cli import main

    rows = [(i, f"merge sort data fast scan doc{i} " +
             ("merge merge" if i < 2 else "sort"),
             f"src/f{i}.py", "r/r", "c0", "py")
            for i in range(6)]
    src = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        rows, "doc_id long, content string, path string, repo string, "
              "commit string, lang string") \
        .coalesce(2).write.parquet(src)
    rc = main(["build", "--input", src, "--output", idx,
               "--profile", "code", "--seg-bits", "4",
               "--n-buckets", "4", "--fuzzy-index", "--fuzzy-buckets", "8"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["fuzzy_buckets"] == 8

    # "merj" analyzes to the OOV stem "merj", distance 1 from the
    # dictionary's stemmed "merg" (code profile stems merge -> merg)
    rc = main(["query", "--index", idx, "--q", "merj", "--k", "3",
               "--fuzzy"])
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert lines[0] == {"corrected": {"merj": "merg"}}
    fuzzy_hits = [(r["doc_id"], round(r["score"], 9)) for r in lines[1:]]

    rc = main(["query", "--index", idx, "--q", "merge", "--k", "3"])
    assert rc == 0
    exact_hits = [(r["doc_id"], round(r["score"], 9)) for r in
                  (json.loads(ln) for ln in
                   capsys.readouterr().out.strip().splitlines())]
    assert fuzzy_hits == exact_hits and len(fuzzy_hits) == 3

    # inline fallback: same answer without the materialized index
    import shutil
    shutil.rmtree(str(tmp_path / "idx" / "fuzzy"))
    rc = main(["query", "--index", idx, "--q", "merj", "--k", "3",
               "--fuzzy"])
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert lines[0] == {"corrected": {"merj": "merg"}}
    assert [(r["doc_id"], round(r["score"], 9))
            for r in lines[1:]] == exact_hits

    # an in-dictionary query is untouched (no corrected line)
    rc = main(["query", "--index", idx, "--q", "sort", "--k", "2",
               "--fuzzy"])
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert "corrected" not in lines[0]

    # --fuzzy with --parity is rejected up front
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx, "--q", "merj", "--fuzzy",
              "--parity"])


def test_cli_suggest_report(spark, tmp_path, capsys):
    """query --suggest prints the did-you-mean report (one JSON line per
    analyzed token, misses visible as nulls) and never runs the search;
    illegal flag combinations fail fast."""
    import json

    import pytest as _pytest

    from spidey_search_engine_spark.cli import main

    rows = [(i, "merge sort data fast scan", f"src/f{i}.py", "r/r",
             "c0", "py") for i in range(4)]
    src = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        rows, "doc_id long, content string, path string, repo string, "
              "commit string, lang string") \
        .coalesce(2).write.parquet(src)
    rc = main(["build", "--input", src, "--output", idx,
               "--profile", "code", "--seg-bits", "4",
               "--n-buckets", "4", "--fuzzy-index", "--fuzzy-buckets", "8"])
    assert rc == 0
    capsys.readouterr()

    rc = main(["query", "--index", idx, "--q", "merge sortt zzzzzz",
               "--suggest"])
    assert rc == 0
    got = {r["q"]: (r["suggestion"], r["dist"])
           for r in (json.loads(ln) for ln in
                     capsys.readouterr().out.strip().splitlines())}
    # code profile stems merge -> merg (exact hit, dist 0); the typo's
    # stem "sortt" corrects to "sort"; the miss prints nulls
    assert got["merg"] == ("merg", 0)
    assert got["sortt"] == ("sort", 1)
    assert got["zzzzzz"] == (None, None)

    with _pytest.raises(SystemExit):
        main(["query", "--index", idx, "--q", "a", "--suggest",
              "--fuzzy"])
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx, "--q", "+a b", "--suggest"])
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx, "--suggest"])


def test_cli_rebuild_clears_stale_fuzzy_index(spark, tmp_path, capsys):
    """Rebuilding an index WITHOUT --fuzzy-index removes a fuzzy index
    left by a previous build — otherwise query --fuzzy would correct
    typos toward the OLD vocabulary (it reports the removal on the stats
    line and the query path falls back to inline derivation over the new
    dictionary)."""
    import json
    import os

    from spidey_search_engine_spark.cli import main

    def corpus(words, path):
        rows = [(i, f"{words} doc{i}", f"src/f{i}.py", "r/r", "c0", "py")
                for i in range(4)]
        spark.createDataFrame(
            rows, "doc_id long, content string, path string, repo string, "
                  "commit string, lang string") \
            .coalesce(2).write.mode("overwrite").parquet(path)

    src = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    corpus("merge sort scan", src)
    assert main(["build", "--input", src, "--output", idx,
                 "--profile", "code", "--seg-bits", "4", "--n-buckets", "4",
                 "--fuzzy-index", "--fuzzy-buckets", "8"]) == 0
    capsys.readouterr()
    assert os.path.exists(os.path.join(idx, "fuzzy", "meta.json"))

    # rebuild over a DIFFERENT corpus without --fuzzy-index
    corpus("tokenize stream batch", src)
    assert main(["build", "--input", src, "--output", idx,
                 "--profile", "code", "--seg-bits", "4",
                 "--n-buckets", "4"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats.get("stale_fuzzy_index_removed") is True
    assert not os.path.exists(os.path.join(idx, "fuzzy"))

    # --fuzzy now derives inline over the NEW dictionary: a typo of
    # "stream" corrects against the new vocab, never the old one
    assert main(["query", "--index", idx, "--q", "streem", "--k", "2",
                 "--fuzzy"]) == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert lines[0] == {"corrected": {"streem": "stream"}}


def test_brute_equals_probe(spark, del_idx):
    """Candidate-set identity across the route: the brute dictionary scan
    and the SymSpell probe return the same (q, term, dist, df, rk) rows
    for every query shape (typo / exact / miss / short token)."""
    from spidey_search_engine_spark.operators.fuzzy import fuzzy_lookup_brute
    tokens = ["merg", "sortt", "dsta", "scan", "spam", "zzz", "b"]
    terms = spark.createDataFrame(VOCAB, "term string, df long")
    key = lambda r: (r["q"], r["rk"])  # noqa: E731
    probe = sorted(([r["q"], r["term"], r["dist"], r["df"], r["rk"]]
                    for r in fuzzy_lookup(del_idx, tokens, n_buckets=8,
                                          max_d=1, k=3).collect()))
    brute = sorted(([r["q"], r["term"], r["dist"], r["df"], r["rk"]]
                    for r in fuzzy_lookup_brute(terms, tokens, max_d=1,
                                                k=3).collect()))
    assert probe == brute and probe


def test_route_fuzzy_boundary(monkeypatch):
    """probe at/above the crossover, brute below; env override wins."""
    from spidey_search_engine_spark.operators import fuzzy as fz
    assert fz.route_fuzzy(fz.DEFAULT_ROUTE_MIN_TERMS) == "probe"
    assert fz.route_fuzzy(fz.DEFAULT_ROUTE_MIN_TERMS - 1) == "brute"
    assert fz.route_fuzzy(10, min_terms=5) == "probe"
    assert fz.route_fuzzy(10, min_terms=11) == "brute"
    monkeypatch.setenv("SPARK_GRAFT_FUZZY_ROUTE_MIN_TERMS", "3")
    assert fz.route_fuzzy(3) == "probe"
    assert fz.route_fuzzy(2) == "brute"


def test_fuzzy_lookup_auto_routes(spark, tmp_path, monkeypatch):
    """auto picks brute below the threshold and probe above — visible in
    the physical plan (the probe prunes on the MATERIALIZED index's
    vbucket partition column; brute never mentions it) — with identical
    rows either way. No index dict forces brute."""
    from spidey_search_engine_spark.operators.fuzzy import (
        fuzzy_lookup_auto, load_deletion_index, write_deletion_index)
    terms = spark.createDataFrame(VOCAB, "term string, df long")
    out = str(tmp_path / "fz")
    write_deletion_index(terms, out, max_del=1, n_buckets=8)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    fzd = load_deletion_index(spark, out)
    assert fzd["n_terms"] == len(VOCAB)  # recorded at build time
    monkeypatch.setenv("SPARK_GRAFT_FUZZY_ROUTE_MIN_TERMS",
                       str(len(VOCAB) + 1))
    lo = fuzzy_lookup_auto(fzd, terms, ["merg"], k=2)
    assert "vbucket" not in plan(lo)  # routed brute
    monkeypatch.setenv("SPARK_GRAFT_FUZZY_ROUTE_MIN_TERMS",
                       str(len(VOCAB)))
    hi = fuzzy_lookup_auto(fzd, terms, ["merg"], k=2)
    assert "vbucket" in plan(hi)  # routed probe
    assert sorted(map(tuple, lo.collect())) == \
        sorted(map(tuple, hi.collect()))
    # a missing index can only brute — and must not crash on the route
    none_rows = fuzzy_lookup_auto(None, terms, ["merg"], k=2).collect()
    assert sorted(map(tuple, none_rows)) == sorted(map(tuple, lo.collect()))


def test_correct_tokens_routes_brute(spark, del_idx, monkeypatch):
    """correct_tokens with terms_df routes below the crossover (brute) and
    returns the same fixes as the probe-only call."""
    from spidey_search_engine_spark.operators.fuzzy import correct_tokens
    terms = spark.createDataFrame(VOCAB, "term string, df long")
    known = {t for t, _ in VOCAB}
    monkeypatch.setenv("SPARK_GRAFT_FUZZY_ROUTE_MIN_TERMS", "1000000")
    got = correct_tokens(None, ["merg", "sort", "zzz"], known,
                         n_buckets=0, terms_df=terms,
                         n_terms=len(VOCAB))
    assert got == {"merg": "merge"}
