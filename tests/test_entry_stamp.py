"""The cached entry index (entry_queries.entry_index) is reused only when
the package code is unchanged: its dir carries a digest of every package
source, and a missing or stale stamp rebuilds it together with the
artifacts cached inside it and the indexes derived beside it."""

import os


def test_stale_stamp_rebuilds_entry_index(spark, tmp_path, monkeypatch):
    from spidey_search_engine_spark import entry_queries as EQ

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, f"merge sort data fast scan {i}", "en", "s", 30)
         for i in range(24)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long").coalesce(1).write.parquet(
            os.path.join(sf, "documents.parquet"))
    out = str(tmp_path / "entry_idx")
    monkeypatch.setattr(EQ, "entry_index_dir", lambda sf_dir: out)
    monkeypatch.setattr(EQ, "_IDX_CACHE", {})
    builds = []
    real = EQ.B.build_index

    def counting(*a, **kw):
        builds.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(EQ.B, "build_index", counting)
    stamp = os.path.join(out, EQ.WRITERS_STAMP)

    def entry():
        EQ._IDX_CACHE.clear()
        return EQ.entry_index(spark, sf)

    assert entry()["stats"]["n_docs"] == 24
    assert len(builds) == 1
    with open(stamp) as f:
        assert f.read() == EQ.writers_digest()
    entry()  # fresh stamp: reused
    assert len(builds) == 1

    derived = out + "_fuzzy"
    os.makedirs(derived)
    inside = os.path.join(out, "ann_lsh")  # reused while _SUCCESS exists
    os.makedirs(inside)
    open(os.path.join(inside, "_SUCCESS"), "w").close()
    with open(stamp, "w") as f:
        f.write("written-by-older-code")
    assert entry()["stats"]["n_docs"] == 24
    assert len(builds) == 2
    assert not os.path.exists(derived)
    assert not os.path.exists(inside)
    with open(stamp) as f:
        assert f.read() == EQ.writers_digest()

    os.remove(stamp)  # an index from before stamping
    entry()
    assert len(builds) == 3


def test_digest_covers_every_package_module(tmp_path, monkeypatch):
    """A module outside the index build proper (similarity.py writes the
    ann_* artifacts inside the entry dir) still moves the stamp."""
    from spidey_search_engine_spark import entry_queries as EQ

    pkg = tmp_path / "pkg"
    (pkg / "operators").mkdir(parents=True)
    (pkg / "entry_queries.py").write_text("# entry\n")
    sim = pkg / "operators" / "similarity.py"
    sim.write_text("X = 1\n")
    (pkg / "operators" / "notes.txt").write_text("not a source\n")
    monkeypatch.setattr(EQ, "__file__", str(pkg / "entry_queries.py"))
    before = EQ.writers_digest()
    (pkg / "operators" / "notes.txt").write_text("edited\n")
    assert EQ.writers_digest() == before
    sim.write_text("X = 2\n")
    assert EQ.writers_digest() != before
