"""Property tests: the vectorized partial-build kernel is byte-identical to
a naive per-token reference implementation, for arbitrary content."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


def _naive_partials(pdf: pd.DataFrame, tokenizer, title_tokenizer,
                    seg_bits: int):
    """Straight-line reimplementation of A1–A3 + doclen sentinel (the
    pre-vectorization algorithm), used as the oracle."""
    import hashlib
    from itertools import chain

    from spidey_search_engine_spark.operators.build import (
        DOCLEN_TERM, DOCSHA_TERM, _encode_partial, _encode_sha_block)
    acc: dict = {}
    sha_acc: dict = {}
    for doc_id, content, path in zip(pdf["doc_id"], pdf["content"],
                                     pdf["path"]):
        sha_acc.setdefault(int(doc_id) >> seg_bits, []).append(
            (int(doc_id), hashlib.sha256(
                content.encode() if isinstance(content, str) else b""
            ).digest()))
        toks = tokenizer(content) if isinstance(content, str) else []
        dl = len(toks)
        title_set = set(title_tokenizer(path)) if isinstance(path, str) else set()
        seg = int(doc_id) >> seg_bits
        per_term: dict = {}
        for pos, t in enumerate(toks):
            e = per_term.get(t)
            if e is None:
                per_term[t] = [pos, pos]
            else:
                e.append(pos - e[0])
                e[0] = pos
        did = int(doc_id)
        for t, e in per_term.items():
            acc.setdefault((t, seg), []).append(
                (did, len(e) - 1, t in title_set, dl, e[1:]))
        acc.setdefault((DOCLEN_TERM, seg), []).append((did, 1, False, dl, [0]))
    rows = {}
    for (t, seg), entries in acc.items():
        entries.sort(key=lambda e: e[0])
        doc_ids = np.array([e[0] for e in entries], dtype=np.int64)
        tfs = np.array([e[1] for e in entries], dtype=np.int64)
        imp = np.array([e[2] for e in entries], dtype=np.int64)
        dls = np.array([e[3] for e in entries], dtype=np.int64)
        total = int(tfs.sum())
        pos_flat = np.fromiter(chain.from_iterable(e[4] for e in entries),
                               dtype=np.uint64, count=total)
        rows[(t, seg)] = (int(doc_ids.size), total,
                          _encode_partial(doc_ids, (tfs << 1) | imp, dls,
                                          pos_flat))
    for seg, entries in sha_acc.items():
        entries.sort()
        ids = np.array([d for d, _ in entries], dtype=np.int64)
        rows[(DOCSHA_TERM, seg)] = (
            ids.size, 0,
            _encode_sha_block(ids, b"".join(h for _, h in entries)))
    return rows


_chunk = st.sampled_from(
    list("abcXYZ019_ .,;()؀ۿ؁\n\t/\\-=+\"'") + ["fooBar", "do_re ", "import "])
_content = st.lists(_chunk, max_size=60).map("".join)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 1 << 20), _content,
                          st.text(max_size=20)),
                min_size=0, max_size=12, unique_by=lambda x: x[0]))
def test_kernel_matches_naive_on_random_docs(rows):
    from spidey_search_engine_spark.functions.analysis import (PROFILES,
                                                               tokenize_title)
    from spidey_search_engine_spark.operators.build import (
        _encoder_for, _partials_from_batch)

    pdf = pd.DataFrame(rows, columns=["doc_id", "content", "path"])
    expected = _naive_partials(pdf, PROFILES["code"], tokenize_title,
                               seg_bits=7)
    enc = _encoder_for("code")
    got = {(t, s): (n, cf, b)
           for t, s, n, cf, b in _partials_from_batch(pdf, enc, 7)}
    assert got == expected


def test_kernel_simple_profile_matches_naive():
    from spidey_search_engine_spark.functions.analysis import (PROFILES,
                                                               tokenize_title)
    from spidey_search_engine_spark.operators.build import (
        _encoder_for, _partials_from_batch)
    from spidey_search_engine_spark.sources.corpus import generate_corpus_pdf

    pdf = generate_corpus_pdf(150, seed=77)
    pdf["doc_id"] = np.arange(150)[::-1].copy()  # reverse order on purpose
    expected = _naive_partials(pdf, PROFILES["simple"], tokenize_title,
                               seg_bits=5)
    enc = _encoder_for("simple")
    got = {(t, s): (n, cf, b)
           for t, s, n, cf, b in _partials_from_batch(pdf, enc, 5)}
    assert got == expected


def test_vectorized_merge_equals_legacy(spark, corpus_pdf):
    """The Spark merge (whole-batch numpy kernel) must produce
    BYTE-identical rows (bins + block metadata + counts + bucket) to
    _merge_group applied per (term, segment) group of the sorted partials
    in plain Python, with sentinels included and with a batch size small
    enough to force cross-batch group carries."""
    from itertools import groupby

    from pyspark.sql import functions as F
    from spidey_search_engine_spark.operators.build import (
        SENTINEL_PREFIX, _merge_group, build_partials, merge_partials,
        prepare_docs)

    docs = prepare_docs(spark.createDataFrame(corpus_pdf.head(120))
                        .repartition(6))
    parts = build_partials(docs, profile="code", seg_bits=4)
    bucket = F.when(F.col("term").startswith(SENTINEL_PREFIX), F.lit(4)) \
        .otherwise(F.pmod(F.xxhash64("term"), F.lit(4)).cast("int"))
    rows = sorted((r["term"], r["segment"], bytes(r["bin"]), r["bucket"])
                  for r in parts.withColumn("bucket", bucket).collect())
    ref = []
    for (term, seg), grp in groupby(rows, key=lambda r: (r[0], r[1])):
        grp = list(grp)
        t, sg, n, cf, b, bf, bl, bm, bd = _merge_group(
            term, seg, [g[2] for g in grp])
        ref.append((t, sg, n, cf, b, tuple(bf), tuple(bl), tuple(bm),
                    tuple(bd), grp[0][3]))
    ref.sort()

    def snap(df):
        rows = df.collect()
        return sorted(
            (r["term"], r["segment"], r["n_docs"], r["cf"], bytes(r["bin"]),
             tuple(r["block_first_doc"]), tuple(r["block_last_doc"]),
             tuple(r["block_max_tf"]), tuple(r["block_min_dl"]), r["bucket"])
            for r in rows)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for batch in ("10000", "3"):
            spark.conf.set(key, batch)
            vec = snap(merge_partials(parts, n_buckets=4, doclen_bucket=4))
            assert vec == ref
            assert len(vec) > 0
    finally:
        spark.conf.set(key, old)


def test_vectorized_merge_randomized_pure_python():
    """Property-style check of merge_batch_vectorized against per-group
    _merge_group on randomized partials: disjoint and INTERLEAVED doc
    ranges (slow-path fallback), multi-part groups, DOCSHA sentinel rows,
    singleton groups — no Spark needed."""
    import numpy as np
    from spidey_search_engine_spark.operators.build import (
        DOCSHA_TERM, _encode_partial, _encode_sha_block, _merge_group)
    from spidey_search_engine_spark.operators.merge_vec import (
        merge_batch_vectorized)

    rng = np.random.Generator(np.random.PCG64(11))

    def make_part(doc_ids):
        doc_ids = np.sort(np.asarray(doc_ids, dtype=np.int64))
        n = doc_ids.size
        tfs = rng.integers(1, 5, size=n)
        imp = rng.integers(0, 2, size=n)
        dls = rng.integers(5, 300, size=n)
        pos = []
        for tf in tfs:
            p = np.sort(rng.choice(1000, size=int(tf), replace=False))
            gaps = np.diff(np.r_[0, p])
            gaps[0] = p[0]
            pos.append(gaps)
        return _encode_partial(doc_ids, (tfs << 1) | imp, dls,
                               np.concatenate(pos).astype(np.uint64))

    for trial in range(20):
        terms, segs, bins = [], [], []
        n_groups = int(rng.integers(1, 8))
        for g in range(n_groups):
            term = f"t{trial}_{g}"
            seg = int(rng.integers(0, 3))
            n_parts = int(rng.integers(1, 4))
            if rng.random() < 0.3:
                # interleaved doc ranges → slow-path fallback
                all_ids = rng.choice(500, size=n_parts * 5, replace=False)
                chunks = [all_ids[i::n_parts] for i in range(n_parts)]
            else:
                # disjoint contiguous ranges → fast path
                base = rng.choice(100, size=n_parts, replace=False) * 50
                chunks = [b + np.arange(int(rng.integers(1, 6)))
                          for b in np.sort(base)]
            for ch in chunks:
                terms.append(term)
                segs.append(seg)
                bins.append(make_part(ch))
        if rng.random() < 0.5:
            ids = np.sort(rng.choice(300, size=4, replace=False))
            terms.append(DOCSHA_TERM)
            segs.append(0)
            bins.append(_encode_sha_block(
                ids.astype(np.int64), rng.bytes(32 * 4)))
        # input must arrive sorted by (term, segment) like the real stream
        order = sorted(range(len(terms)), key=lambda i: (terms[i], segs[i]))
        terms = [terms[i] for i in order]
        segs = [segs[i] for i in order]
        bins = [bins[i] for i in order]

        got = merge_batch_vectorized(np.asarray(terms, dtype=object),
                                     np.asarray(segs, dtype=np.int64),
                                     bins, _merge_group)
        # expected: _merge_group per group, same group order
        exp = []
        i = 0
        while i < len(terms):
            j = i
            while (j + 1 < len(terms) and terms[j + 1] == terms[i]
                   and segs[j + 1] == segs[i]):
                j += 1
            exp.append(_merge_group(terms[i], segs[i], bins[i:j + 1]))
            i = j + 1
        assert len(got) == len(exp), trial
        for a, b in zip(got, exp):
            assert a == b, (trial, a[0], a[1])
