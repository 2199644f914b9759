"""CLI `stats` — index introspection surface."""

import json


def test_cli_stats(spark, index_dir, index, capsys):
    from spidey_search_engine_spark.cli import main
    assert main(["stats", "--index", index_dir, "--buckets"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == int(index["stats"]["n_docs"])
    assert out["n_terms"] == index["terms"].count()
    assert out["posting_rows"] == index["postings"].count()
    assert out["posting_bin_bytes"] > 0
    assert out["segments"][0] >= 0 and out["segments"][1] >= out["segments"][0]
    # per-bucket balance rows sum to the total
    assert sum(v[0] for v in out["buckets"].values()) == out["posting_rows"]
    assert set(out["aux"]) <= {"prefix_terms", "suffix_terms",
                               "ngram_terms", "fuzzy"}
