"""Results-page analytics (operators/aggregations.py): significant terms
vs a brute-force recompute, histogram facet counts, term vectors."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def agg_setup(spark, tmp_path_factory):
    """Tiny simple-profile index with a planted association: every doc
    containing `merge` also contains `quicksort`, which is rare
    elsewhere — the significant-terms target."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    rows = []
    for i in range(30):
        if i < 8:
            body = f"merge sort quicksort stable d{i}"
        elif i < 12:
            body = f"merge heap quicksort partition d{i}"
        elif i < 14:
            body = f"quicksort pivot d{i}"  # background quicksort, no merge
        else:
            body = f"hash table lookup chain d{i}"
        rows.append(("r", f"{i:03d}/f.py", "c", "py", body))
    spark_rows = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    out = str(tmp_path_factory.mktemp("agg_idx"))
    build_index(spark, spark_rows, out, profile="simple", seg_bits=4,
                n_buckets=4)
    idx = load_index(spark, out)
    # docs table with content + a numeric column (doc_id is (repo,path)
    # row_number order == the i-order here by construction)
    docs = spark.createDataFrame(
        [(i, rows[i][4], len(rows[i][4])) for i in range(30)],
        "doc_id long, content string, n_chars long")
    return idx, docs, [r[4] for r in rows]


def _brute_significant(texts, q_terms, k_docs, n_docs_total):
    """Independent JLH recompute: foreground = BM25 is overkill here —
    the test only uses queries where the top-k equals the full match set,
    so foreground = docs matching any q_term (checked by the caller)."""
    from spidey_search_engine_spark.functions.analysis import tokenize_simple
    toks = [set(tokenize_simple(t)) for t in texts]
    fg_ids = [i for i, ts in enumerate(toks) if any(q in ts for q in q_terms)]
    n_fg = len(fg_ids)
    vocab = set().union(*(toks[i] for i in fg_ids))
    out = []
    for t in sorted(vocab - set(q_terms)):
        fg = sum(1 for i in fg_ids if t in toks[i])
        df = sum(1 for ts in toks if t in ts)
        fg_pct, bg_pct = fg / n_fg, df / n_docs_total
        if fg_pct > bg_pct:
            out.append((t, fg, df, (fg_pct - bg_pct) * (fg_pct / bg_pct)))
    out.sort(key=lambda r: (-r[3], r[0]))
    return out


def test_significant_terms_matches_brute(spark, agg_setup):
    from spidey_search_engine_spark.operators.aggregations import \
        significant_terms
    idx, docs, texts = agg_setup
    # `merge` matches 12 docs; k_docs=12 ⇒ foreground == full match set,
    # so the brute recompute's foreground is identical by construction
    got = significant_terms(spark, idx, docs, ["merge"], k_docs=12,
                            top_terms=5).collect()
    exp = _brute_significant(texts, ["merge"], 12, 30)[:5]
    assert [(r["term"], r["fg_df"], r["df"]) for r in got] == \
        [(t, fg, df) for t, fg, df, _ in exp]
    for r, (_, _, _, s) in zip(got, exp):
        assert r["score_r"] == round(s, 6)
    # quicksort: in all 12 foreground docs but only 14/30 overall —
    # must outrank every uniform filler term
    assert got[0]["term"] == "quicksort"
    assert got[0]["fg_df"] == 12 and got[0]["df"] == 14


def test_significant_terms_excludes_query_terms_by_default(spark, agg_setup):
    from spidey_search_engine_spark.operators.aggregations import \
        significant_terms
    idx, docs, _ = agg_setup
    got = significant_terms(spark, idx, docs, ["merge"], k_docs=12,
                            top_terms=20).collect()
    assert "merge" not in {r["term"] for r in got}
    kept = significant_terms(spark, idx, docs, ["merge"], k_docs=12,
                             top_terms=20,
                             exclude_query_terms=False).collect()
    by_term = {r["term"]: r for r in kept}
    # the query term trivially dominates its own result set: fg_pct=1
    assert by_term["merge"].fg_df == 12


def test_significant_terms_empty_and_oov(spark, agg_setup):
    from spidey_search_engine_spark.operators.aggregations import \
        significant_terms
    idx, docs, _ = agg_setup
    assert significant_terms(spark, idx, docs, ["zz_nope"]).count() == 0
    assert significant_terms(spark, idx, docs, []).count() == 0


def test_facet_histogram_counts(spark, agg_setup):
    from spidey_search_engine_spark.functions.analysis import tokenize_simple
    from spidey_search_engine_spark.operators.aggregations import \
        facet_histogram
    idx, docs, texts = agg_setup
    got = {r["bin_lo"]: r["n_docs"] for r in
           facet_histogram(idx, docs, ["merge", "pivot"], "n_chars",
                           10).collect()}
    exp = {}
    for i, t in enumerate(texts):
        if {"merge", "pivot"} & set(tokenize_simple(t)):
            b = (len(t) // 10) * 10
            exp[b] = exp.get(b, 0) + 1
    assert got == exp
    # mode="all" intersects; no doc holds both merge and pivot
    assert facet_histogram(idx, docs, ["merge", "pivot"], "n_chars", 10,
                           mode="all").count() == 0
    with pytest.raises(ValueError):
        facet_histogram(idx, docs, ["merge"], "n_chars", 0)
    with pytest.raises(ValueError):
        facet_histogram(idx, docs, ["merge"], "n_chars", 10, mode="sum")


def test_term_vector(spark, agg_setup):
    from spidey_search_engine_spark.operators.aggregations import term_vector
    _, docs, texts = agg_setup
    got = {r["term"]: (r["tf"], r["first_pos"]) for r in
           term_vector(spark, docs, 0, profile="simple").collect()}
    # doc 0: "merge sort quicksort stable d0"
    assert got == {"merge": (1, 0), "sort": (1, 1), "quicksort": (1, 2),
                   "stable": (1, 3), "d0": (1, 4)}
    # repeated tokens: tf counts, first_pos is the first occurrence
    extra = spark.createDataFrame([(99, "a b a a b")],
                                  "doc_id long, content string")
    got2 = {r["term"]: (r["tf"], r["first_pos"]) for r in
            term_vector(spark, extra, 99, profile="simple").collect()}
    assert got2 == {"a": (3, 0), "b": (2, 1)}
    # missing doc → empty
    assert term_vector(spark, docs, 12345, profile="simple").count() == 0


def test_cli_analytics_roundtrip(spark, tmp_path, capsys):
    """CLI faces: --sig-terms / --histogram (incl. the derived `length`
    pseudo-column) / --term-vector produce the operators' rows; the
    analytics flags are mode-exclusive and corpus-requiring."""
    import json

    import pytest

    from spidey_search_engine_spark.cli import main

    rows = [("r", f"{i:02d}/f.py", "c", "py",
             ("merge sort quicksort " if i < 4 else "hash table ")
             + f"filler{i}")
            for i in range(10)]
    src = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string").coalesce(2).write.parquet(src)
    # code profile: the CLI's query analyzer stems (`merge` → `merg`),
    # so a simple-profile index would miss the dictionary entirely
    assert main(["build", "--input", src, "--output", idx,
                 "--profile", "code", "--seg-bits", "4",
                 "--n-buckets", "4"]) == 0
    capsys.readouterr()

    assert main(["query", "--index", idx, "--q", "merge",
                 "--sig-terms", "3", "--corpus", src]) == 0
    sig = [json.loads(ln) for ln in
           capsys.readouterr().out.strip().splitlines()]
    assert sig and sig[0]["term"] == "quicksort"
    assert sig[0]["fg_df"] == 4 and sig[0]["df"] == 4

    assert main(["query", "--index", idx, "--q", "merge",
                 "--histogram", "length:10", "--corpus", src]) == 0
    hist = {json.loads(ln)["bin_lo"]: json.loads(ln)["n_docs"]
            for ln in capsys.readouterr().out.strip().splitlines()}
    exp = {}
    for i in range(4):  # the 4 merge docs
        b = (len(rows[i][4]) // 10) * 10
        exp[b] = exp.get(b, 0) + 1
    assert hist == exp

    assert main(["query", "--index", idx, "--term-vector", "0",
                 "--corpus", src]) == 0
    tv = {json.loads(ln)["term"]: json.loads(ln)["tf"]
          for ln in capsys.readouterr().out.strip().splitlines()}
    from spidey_search_engine_spark.functions.analysis import PROFILES
    exp_tv = {}
    for t in PROFILES["code"](rows[0][4]):  # the index's own analyzer
        exp_tv[t] = exp_tv.get(t, 0) + 1
    assert tv == exp_tv and "quicksort" in tv

    # contract violations fail fast
    for bad in (
        ["query", "--index", idx, "--q", "merge", "--sig-terms", "3"],
        ["query", "--index", idx, "--term-vector", "0"],
        ["query", "--index", idx, "--q", "m", "--histogram", "length",
         "--corpus", src],
        ["query", "--index", idx, "--q", "m", "--histogram", "length:0",
         "--corpus", src],
        ["query", "--index", idx, "--q", "m", "--sig-terms", "2",
         "--corpus", src, "--histogram", "length:10"],
        ["query", "--index", idx, "--q", "m", "--sig-terms", "2",
         "--corpus", src, "--parity"],
    ):
        with pytest.raises(SystemExit):
            main(bad)
        capsys.readouterr()
