"""Training-data pipeline operators: dedup, ANN, text stats, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Corpus with planted exact + near duplicates."""
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to find some food for winter")
    near = base.replace("winter", "summer")          # high jaccard
    near2 = base.replace("quick", "slow").replace("lazy", "busy")
    other = ("completely different text about spark dataframes shuffles "
             "partitions joins aggregations and columnar parquet readers "
             "running on large clusters with many executors")
    rows = [(0, base), (1, base), (2, near), (3, near2), (4, other),
            (5, other + " extended with a few more words here")]
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_exact_dedup(spark, dup_docs):
    from spidey_search_engine_spark.operators.dedup import exact_dedup
    out = {r["id"]: r["keep"] for r in exact_dedup(dup_docs).collect()}
    assert out[0] is True and out[1] is False  # same sha → keep lowest id
    assert all(out[i] for i in (2, 3, 4, 5))


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    from spidey_search_engine_spark.operators.dedup import minhash_lsh_dedup
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_dedup(dup_docs, num_hashes=32, bands=16,
                                        threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert not any({a, b} == {0, 4} for a, b in pairs)


def test_lsh_candidates_superset_check(spark, dup_docs):
    """LSH+verify results ⊆ exact jaccard results at same threshold, and
    identical-docs pairs are always found (sig equality is deterministic)."""
    from spidey_search_engine_spark.operators.dedup import (jaccard_pairs,
                                                            minhash_lsh_dedup,
                                                            shingles_df)
    sh = shingles_df(dup_docs)
    exact = {(r["id_a"], r["id_b"]) for r in
             jaccard_pairs(sh, None, 0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_dedup(dup_docs, threshold=0.5).collect()}
    assert lsh <= exact
    assert (0, 1) in lsh


def test_simhash_near_pairs(spark, dup_docs):
    from spidey_search_engine_spark.operators.dedup import (
        simhash_fingerprints, simhash_near_pairs)
    fp = simhash_fingerprints(dup_docs)
    vals = {r["id"]: r["simhash"] for r in fp.collect()}
    assert vals[0] == vals[1]  # identical text → identical fingerprint
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_pairs(fp, hamming_max=8).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs  # one-token change → small hamming distance
    assert not any({a, b} == {0, 4} for a, b in pairs)


def test_simhash_matches_numpy_oracle(spark, dup_docs):
    """Column-algebra simhash == straightforward numpy implementation."""
    from spidey_search_engine_spark.operators.dedup import simhash_fingerprints
    import pandas as pd
    got = {r["id"]: r["simhash"] for r in
           simhash_fingerprints(dup_docs).collect()}
    pdf = dup_docs.toPandas()
    sp = spark
    for _, row in pdf.iterrows():
        toks = [t for t in __import__("re").split(
            r"[^a-z0-9_]+", row["content"].lower()) if t]
        from collections import Counter
        tf = Counter(toks)
        # xxhash64 must match Spark's — fetch via Spark for the oracle
        hs = {t: h for t, h in
              sp.createDataFrame([(t,) for t in tf], "tok string")
              .select("tok", F.xxhash64("tok").alias("h")).collect()}
        acc = np.zeros(64)
        for t, c in tf.items():
            h = np.int64(hs[t])
            for i in range(64):
                bit = (int(h) >> i) & 1
                acc[i] += c * (1 if bit else -1)
        val = 0
        for i in range(64):
            if acc[i] > 0:
                val |= (1 << i)
        # interpret as signed 64-bit like Spark's long
        if val >= (1 << 63):
            val -= (1 << 64)
        assert got[row["doc_id"]] == val


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.Generator(np.random.PCG64(3))
    vecs = rng.standard_normal((60, 16)).astype(np.float32)
    vecs[7] = vecs[3] + rng.standard_normal(16).astype(np.float32) * 0.01
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    return (spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
            vecs)


def test_brute_force_cosine_matches_numpy(spark, emb_df):
    from spidey_search_engine_spark.operators.similarity import \
        brute_force_cosine_topk
    df, vecs = emb_df
    q = vecs[3].astype(np.float64)
    got = [(r["id"], r["cos"]) for r in
           brute_force_cosine_topk(df, q, k=5).collect()]
    v = vecs.astype(np.float64)
    cos = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    order = sorted(range(60), key=lambda i: (-cos[i], i))[:5]
    assert [i for i, _ in got] == order
    for (gid, gcos), i in zip(got, order):
        assert abs(gcos - cos[i]) < 1e-9


def test_sampling_deterministic_quota_and_growth_stable(spark):
    """stratified_sample: exactly min(n, |stratum|) per stratum, same
    rows on re-run. hash_fraction_sample: a doc's keep/drop never changes
    when the corpus grows (incremental re-mix stability)."""
    from spidey_search_engine_spark.operators.sampling import (
        hash_fraction_sample, stratified_sample)
    rows = [(i, "en" if i % 3 else "de") for i in range(90)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    s1 = stratified_sample(d, ["lang"], 5, seed=23)
    got = s1.collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert len(by_lang["en"]) == 5 and len(by_lang["de"]) == 5
    assert sorted(r["smp_rank"] for r in got if r["lang"] == "en") == \
        [1, 2, 3, 4, 5]
    # re-run identical; tiny stratum returns all its rows
    assert sorted((r["lang"], r["doc_id"]) for r in
                  stratified_sample(d, ["lang"], 5, seed=23).collect()) == \
        sorted((r["lang"], r["doc_id"]) for r in got)
    tiny = spark.createDataFrame([(1, "fr"), (2, "fr")],
                                 "doc_id long, lang string")
    assert stratified_sample(tiny, ["lang"], 5).count() == 2
    # fraction path: sample of first 60 docs == restriction of sample of 90
    small = {r["doc_id"] for r in hash_fraction_sample(
        d.filter(F.col("doc_id") < 60), 0.3, seed=23).collect()}
    big = {r["doc_id"] for r in
           hash_fraction_sample(d, 0.3, seed=23).collect()}
    assert small == {i for i in big if i < 60}
    assert 0 < len(big) < 90


def test_stratified_fraction_sample_quota_table(spark):
    """Per-stratum fractions via the broadcast quota table: strata in the
    dict sample at their own rate, absent strata drop (default=0), and the
    result equals applying hash_fraction_sample per stratum."""
    from spidey_search_engine_spark.operators.sampling import (
        hash_fraction_sample, stratified_fraction_sample)
    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(120)]
    d = spark.createDataFrame(rows, "doc_id long, lang string")
    got = stratified_fraction_sample(d, "lang", {"en": 0.5, "de": 0.1},
                                     seed=23).collect()
    assert all(r["lang"] != "fr" for r in got)
    for lang, frac in (("en", 0.5), ("de", 0.1)):
        want = {r["doc_id"] for r in hash_fraction_sample(
            d.filter(F.col("lang") == lang), frac, seed=23).collect()}
        assert {r["doc_id"] for r in got if r["lang"] == lang} == want
    assert "_thresh" not in spark.createDataFrame(got).columns


def test_contamination_and_repetition(spark):
    """contamination_check flags the doc containing a benchmark passage
    (and not the unrelated doc); repetition_stats scores a phrase-looping
    doc near 1 and a no-repeat doc at 1/n_grams."""
    from spidey_search_engine_spark.operators.dedup import (
        contamination_check, repetition_stats, shingles_df)
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, content string")
    corpus = spark.createDataFrame(
        [(1, "intro text then the quick brown fox jumps over the lazy "
             "dog today and more"),
         (2, "completely different words about spark shuffles and joins"),
         (3, "spam spam spam spam spam spam spam spam spam spam")],
        "doc_id long, content string")
    got = {r["id"]: (r["shared_shingles"], r["contaminated"]) for r in
           contamination_check(shingles_df(corpus), shingles_df(bench),
                               min_shared=5).collect()}
    assert got[1][1] == 1 and got[1][0] >= 5
    assert 2 not in got  # zero shared shingles -> no row at all
    rep = {r["id"]: (r["n_grams"], r["max_gram_count"],
                     round(r["rep_ratio"], 6)) for r in
           repetition_stats(corpus).collect()}
    assert rep[3] == (8, 8, 1.0)          # 10 tokens -> 8 identical grams
    assert rep[2][1] == 1                 # no repeated gram
    assert rep[2][2] == round(1 / rep[2][0], 6)


def test_token_budget_sample_respects_budgets(spark):
    """Per-stratum running totals never exceed the budget; the crossing
    doc is excluded; strata without a budget are dropped; deterministic."""
    from spidey_search_engine_spark.operators.sampling import (
        token_budget_sample)
    rows = [(i, ["en", "de", "fr"][i % 3], 10 + (i % 7)) for i in range(90)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    from spidey_search_engine_spark.functions.hashing import M1, P1, poly_hash

    def py_poly(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * M1 + ord(ch)) % P1
        return acc

    got = token_budget_sample(d, "lang", {"en": 100, "de": 37}, seed=23,
                              hash_expr=poly_hash).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) <= {"en", "de"}
    # expected = the maximal budget-fitting PREFIX in (hash, id) order,
    # replicated with the same polynomial hash in pure python
    for lang, budget in (("en", 100), ("de", 37)):
        order = sorted(((py_poly(f"{i}:23"), i, w) for i, lg, w in rows
                        if lg == lang))
        cum, expect = 0, {}
        for _, i, w in order:
            cum += w
            if cum > budget:
                break
            expect[i] = cum
        assert {r["doc_id"]: r["cum_tokens"]
                for r in by_lang[lang]} == expect
        assert max(expect.values()) <= budget


def test_cosine_zero_norm_vector_ranks_last_everywhere(spark):
    """A zero embedding must score cos=0 (not NaN, which Spark sorts above
    every real value) in the exact path AND the batch kernel."""
    from spidey_search_engine_spark.operators.similarity import (
        brute_force_cosine_topk, brute_force_cosine_topk_batch)
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    solo = [(r["id"], round(r["cos"], 6)) for r in
            brute_force_cosine_topk(d, [1.0, 0.0], k=3).collect()]
    assert solo[0][0] == 1 and solo[-1] == (2, 0.0)
    batch = sorted(
        ((r["id"], round(r["cos"], 6)) for r in
         brute_force_cosine_topk_batch(d, {"q": [1.0, 0.0]}, k=3).collect()),
        key=lambda t: -t[1])
    assert batch == solo


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check: on seeded random graphs (varying density, isolated
    nodes included) the propagation result must equal a pure-python
    union-find's min-id components."""
    from spidey_search_engine_spark.operators.dedup import dedup_clusters
    rng = np.random.Generator(np.random.PCG64(41))
    for trial in range(3):
        n = 40 + 20 * trial
        m = int(n * (0.5 + 0.7 * trial))
        edges = [(int(rng.integers(n)), int(rng.integers(n)))
                 for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        pairs = spark.createDataFrame(edges or [(0, 0)],
                                      "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n)],
                                      "doc_id long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup_clusters(nodes, pairs).collect()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_connected_components_raises_past_max_iter(spark):
    """Exceeding max_iter must fail loudly, never return split clusters."""
    import pytest as _pt
    from spidey_search_engine_spark.operators.dedup import (
        connected_components)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 206)], "id_a long, id_b long")
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_connected_components_chain_and_singletons(spark):
    """Min-label propagation must close transitive CHAINS (A-B, B-C with
    no A-C pair — multiple hops), keep disjoint clusters apart, and give
    isolated docs singleton clusters with canon=1."""
    from spidey_search_engine_spark.operators.dedup import (
        connected_components, dedup_clusters)
    # chain 1-2-3-4, clique 10-11, singletons 20, 21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 20, 21)], "doc_id long")
    out = {r["doc_id"]: (r["cluster_id"], r["canon"])
           for r in dedup_clusters(docs, pairs).collect()}
    assert out == {1: (1, 1), 2: (1, 0), 3: (1, 0), 4: (1, 0),
                   10: (10, 1), 11: (10, 0), 20: (20, 1), 21: (21, 1)}
    # components alone (no node list): only edge endpoints appear
    comp = {r["id"]: r["label"] for r in
            connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # long chain needs > 2 rounds: 8-node path, reversed pair order
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(100, 107)], "id_a long, id_b long")
    cc = {r["id"]: r["label"] for r in
          connected_components(chain).collect()}
    assert set(cc.values()) == {100}


def test_batch_cosine_equals_per_query(spark, emb_df):
    """brute_force_cosine_topk_batch (one scan, Q queries) must return
    exactly the per-query brute_force_cosine_topk results — same ids,
    same order, cos within float tolerance — including a k > batch-rows
    edge (local top-k takes min(k, len))."""
    from spidey_search_engine_spark.operators.similarity import (
        brute_force_cosine_topk, brute_force_cosine_topk_batch)
    df, vecs = emb_df
    queries = {f"q{i}": [float(x) for x in vecs[i]] for i in (0, 3, 11)}
    batch = brute_force_cosine_topk_batch(df, queries, k=7).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == ["q0", "q11", "q3"]
    for qid, qv in queries.items():
        rows = sorted(by_q[qid], key=lambda r: r["rank"])
        solo = brute_force_cosine_topk(df, qv, k=7).collect()
        assert [r["id"] for r in rows] == [r["id"] for r in solo]
        assert [r["rank"] for r in rows] == list(range(1, 8))
        for b, s in zip(rows, solo):
            assert abs(b["cos"] - s["cos"]) < 1e-9
    # k larger than the table: every row comes back, still ranked
    big = brute_force_cosine_topk_batch(df, {"q": queries["q0"]}, k=100)
    assert big.count() == 60


def test_ann_lsh_finds_planted_neighbor(spark, emb_df):
    from spidey_search_engine_spark.operators.similarity import ann_topk_lsh
    df, vecs = emb_df
    got = [r["id"] for r in
           ann_topk_lsh(df, vecs[3].astype(float), dim=16, k=3,
                        n_bits=6, probe_hamming=1).collect()]
    assert got[0] == 3        # the vector itself
    assert 7 in got[:2]       # the planted near-duplicate shares the bucket


def test_ann_lsh_materialized_index(spark, emb_df, tmp_path):
    """write_lsh_index → partition-pruned probe must equal the inline path
    AND the probe plan must show PartitionFilters on bucket (round-2
    verdict #1: no per-query re-hash of the embedding table)."""
    from spidey_search_engine_spark.operators.similarity import (
        ann_topk_lsh, load_lsh_index, write_lsh_index)
    df, vecs = emb_df
    q = vecs[3].astype(float)
    out = str(tmp_path / "lsh_idx")
    write_lsh_index(df, out, dim=16, n_bits=6, seed=5)
    idx = load_lsh_index(spark, out)
    inline = [(r["id"], round(r["cos"], 9)) for r in
              ann_topk_lsh(df, q, dim=16, k=3, n_bits=6,
                           probe_hamming=1).collect()]
    probe = ann_topk_lsh(None, q, dim=16, k=3, n_bits=6, probe_hamming=1,
                         signatures=idx)
    mat = [(r["id"], round(r["cos"], 9)) for r in probe.collect()]
    assert mat == inline
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_ann_lsh_batch_equals_per_query(spark, emb_df, tmp_path):
    """ann_topk_lsh_batch (one pruned scan, Q queries) must return, for
    each query, exactly the single-query materialized-index probe's ids
    and cosines; the union scan must still partition-prune on bucket."""
    from spidey_search_engine_spark.operators.similarity import (
        ann_topk_lsh, ann_topk_lsh_batch, load_lsh_index, write_lsh_index)
    df, vecs = emb_df
    out = str(tmp_path / "lsh_idx_b")
    write_lsh_index(df, out, dim=16, n_bits=6, seed=5)
    idx = load_lsh_index(spark, out)
    queries = {f"q{i}": vecs[i].astype(float) for i in (3, 9, 14)}
    batch = ann_topk_lsh_batch(idx, queries, dim=16, k=4, n_bits=6,
                               probe_hamming=1)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["id"], round(r["cos"], 9)))
    assert sorted(got) == ["q14", "q3", "q9"]
    for i in (3, 9, 14):
        solo = [(n + 1, r["id"], round(r["cos"], 9)) for n, r in enumerate(
            ann_topk_lsh(None, vecs[i].astype(float), dim=16, k=4,
                         n_bits=6, probe_hamming=1,
                         signatures=idx).collect())]
        assert sorted(got[f"q{i}"]) == solo
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_ivf_kmeans_matches_numpy_lloyd(spark, emb_df):
    """Spark-native Lloyd training must reproduce a pure-numpy reference
    (same deterministic init, same assignment/update rules) and reduce
    inertia; ivf_topk over the trained quantizer still finds the planted
    neighbor."""
    from spidey_search_engine_spark.operators.similarity import (
        ivf_topk, ivf_train_kmeans)
    df, vecs = emb_df
    k, iters = 4, 4
    got = ivf_train_kmeans(df, k=k, n_iters=iters)

    v = vecs.astype(np.float64)
    cent = v[:k].copy()  # same init: lowest k ids
    for _ in range(iters):
        d2 = ((v[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        asg = np.argmin(d2, axis=1)
        new = cent.copy()
        for c in range(k):
            if (asg == c).any():
                new[c] = v[asg == c].mean(axis=0)
        if np.allclose(new, cent, rtol=0, atol=1e-12):
            cent = new
            break
        cent = new
    assert np.allclose(got, cent, atol=1e-9)

    def inertia(c):
        return float(((v[:, None, :] - c[None, :, :]) ** 2)
                     .sum(axis=2).min(axis=1).sum())
    assert inertia(got) <= inertia(v[:k]) + 1e-9

    top = [r["id"] for r in
           ivf_topk(df, got, vecs[3].astype(float), k=3, n_probe=2)
           .collect()]
    assert top[0] == 3 and 7 in top[:2]


def test_rrf_fuse_math_and_ties(spark):
    """rrf_fuse must reproduce Σ 1/(kc+rank) exactly, ignore ids missing
    from a list, count list membership, and tie-break by lowest id."""
    from spidey_search_engine_spark.operators.fusion import rrf_fuse
    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "id long, rank int")
    b = spark.createDataFrame([(20, 1), (40, 2), (50, 3)], "id long, rank int")
    got = {r["id"]: (r["rrf"], r["n_lists"]) for r in
           rrf_fuse([a, b], k=10, kc=60).collect()}
    assert got[20] == (1 / 62 + 1 / 61, 2)
    assert got[10] == (1 / 61, 1)
    assert got[40] == (1 / 62, 1)
    # 10 (rank 1 in a only) and 20's components are exact float sums
    order = [r["id"] for r in rrf_fuse([a, b], k=10, kc=60).collect()]
    assert order[0] == 20          # in both lists, wins
    assert order[1:3] == [10, 40]  # same 1/61? no: 10=1/61 > 40=1/62
    # equal-rrf tie → lowest id first: 30 and 50 both rank 3 in one list
    i30, i50 = order.index(30), order.index(50)
    assert i30 < i50
    assert [r["id"] for r in rrf_fuse([a, b], k=2).collect()] == order[:2]


def test_pq_encode_and_adc_match_numpy(spark, emb_df):
    """pq_encode must pick the numpy per-subspace argmin codeword; the ADC
    scan must rank by the numpy LUT distances; the rescore path must
    return the exact-cosine order over the ADC candidate set."""
    from spidey_search_engine_spark.operators.similarity import (
        pq_adc_topk, pq_codebooks_sampled, pq_encode)
    df, vecs = emb_df
    m, ksub = 4, 8
    dsub = vecs.shape[1] // m
    cb = pq_codebooks_sampled(df, m=m, ksub=ksub)
    v = vecs.astype(np.float64)
    assert np.allclose(
        cb, np.stack([v[:ksub, j * dsub:(j + 1) * dsub] for j in range(m)]))

    codes = {r["id"]: list(r["code"]) for r in pq_encode(df, cb).collect()}
    for i in range(60):
        for j in range(m):
            d2 = ((v[i, j * dsub:(j + 1) * dsub][None, :] - cb[j]) ** 2) \
                .sum(axis=1)
            assert codes[i][j] == int(np.argmin(d2)), (i, j)

    q = v[3]
    lut = ((q.reshape(m, 1, dsub) - cb) ** 2).sum(axis=2)
    adc_ref = {i: float(sum(lut[j, codes[i][j]] for j in range(m)))
               for i in range(60)}
    got = [(r["id"], r["adc"]) for r in
           pq_adc_topk(pq_encode(df, cb), cb, q, k=10).collect()]
    expect = sorted(adc_ref.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    assert [i for i, _ in got] == [i for i, _ in expect]
    assert np.allclose([d for _, d in got], [d for _, d in expect])

    # rescore: exact cosine over the ADC top-c candidates, planted
    # neighbor 7 (≈ vec 3) must surface at rank 2 behind 3 itself
    top = [r["id"] for r in
           pq_adc_topk(pq_encode(df, cb), cb, q, k=5, rescore_emb=df,
                       rescore_c=20).collect()]
    cand = [i for i, _ in sorted(adc_ref.items(),
                                 key=lambda kv: (kv[1], kv[0]))[:20]]
    cos = {i: float(v[i] @ q / (np.linalg.norm(v[i]) * np.linalg.norm(q)))
           for i in cand}
    assert top == [i for i, _ in sorted(cos.items(),
                                        key=lambda kv: (-kv[1], kv[0]))[:5]]
    assert top[0] == 3


def test_pq_train_kmeans_matches_numpy_lloyd(spark, emb_df):
    """Per-subspace Lloyd training must reproduce a numpy reference with
    the same sampled init / empty-code rule, and reduce quantization
    error vs the sampled codebooks."""
    from spidey_search_engine_spark.operators.similarity import (
        pq_codebooks_sampled, pq_train_kmeans)
    df, vecs = emb_df
    m, ksub, iters = 2, 6, 3
    dsub = vecs.shape[1] // m
    got = pq_train_kmeans(df, m=m, ksub=ksub, n_iters=iters)

    v = vecs.astype(np.float64)
    cb = np.stack([v[:ksub, j * dsub:(j + 1) * dsub] for j in range(m)])
    for _ in range(iters):
        new = cb.copy()
        for j in range(m):
            sub = v[:, j * dsub:(j + 1) * dsub]
            d2 = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
            asg = np.argmin(d2, axis=1)
            for c in range(ksub):
                if (asg == c).any():
                    new[j, c] = sub[asg == c].mean(axis=0)
        if np.allclose(new, cb, rtol=0, atol=1e-12):
            cb = new
            break
        cb = new
    assert np.allclose(got, cb, atol=1e-9)

    def qerr(codebooks):
        tot = 0.0
        for j in range(m):
            sub = v[:, j * dsub:(j + 1) * dsub]
            d2 = ((sub[:, None, :] - codebooks[j][None, :, :]) ** 2) \
                .sum(axis=2)
            tot += float(d2.min(axis=1).sum())
        return tot
    assert qerr(got) <= qerr(pq_codebooks_sampled(df, m=m, ksub=ksub)) + 1e-9


def test_ivfpq_residual_encode_and_adc_match_numpy(spark, emb_df, tmp_path):
    """ivf_residuals / write_ivfpq_index / ivfpq_adc_topk vs a numpy
    reference: residual = v − nearest centroid, codes = per-subspace
    argmin over residual codebooks, ADC uses the PER-CLUSTER lut of
    (q − centroid_c); rescore returns exact-cosine order."""
    import os

    from spidey_search_engine_spark.operators.similarity import (
        ivf_residuals, ivfpq_adc_topk, pq_codebooks_sampled,
        write_ivfpq_index)
    df, vecs = emb_df
    v = vecs.astype(np.float64)
    cent = v[:3].copy()
    m, ksub = 2, 4
    dsub = v.shape[1] // m

    # numpy reference: assignment + residuals
    d2 = ((v[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    asg = np.argmin(d2, axis=1)
    res = v - cent[asg]

    got_res = {r["id"]: (r["cluster"], np.array(r["residual"]))
               for r in ivf_residuals(df, cent).collect()}
    for i in range(60):
        assert got_res[i][0] == int(asg[i]), i
        assert np.allclose(got_res[i][1], res[i], atol=1e-6), i

    # residual codebooks sampled from the residuals of the lowest ids
    rdf = ivf_residuals(df, cent)
    cb = pq_codebooks_sampled(rdf, m=m, ksub=ksub, id_col="id",
                              vec_col="residual")
    assert np.allclose(
        cb, np.stack([res[:ksub, j * dsub:(j + 1) * dsub]
                      for j in range(m)]), atol=1e-6)

    out = str(tmp_path / "ivfpq_res")
    write_ivfpq_index(df, cent, cb, out)
    assert any(d.startswith("cluster=") for d in os.listdir(out))
    codes = spark.read.parquet(out)

    # numpy codes over float32-roundtripped residuals (parquet stores
    # float32), same argmin rule
    res32 = res.astype(np.float32).astype(np.float64)
    ref_codes = np.empty((60, m), dtype=int)
    for j in range(m):
        sub = res32[:, j * dsub:(j + 1) * dsub]
        dd = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
        ref_codes[:, j] = np.argmin(dd, axis=1)
    got_codes = {r["id"]: list(r["code"]) for r in codes.collect()}
    for i in range(60):
        assert got_codes[i] == list(ref_codes[i]), i

    q = v[3]
    qd2 = ((cent - q[None, :]) ** 2).sum(axis=1)
    probes = sorted(int(x) for x in np.argsort(qd2, kind="stable")[:2])
    ref_adc = {}
    for i in range(60):
        if int(asg[i]) not in probes:
            continue
        lut = ((q - cent[asg[i]]).reshape(m, 1, dsub) - cb) ** 2
        lut = lut.sum(axis=2)
        ref_adc[i] = float(sum(lut[j, ref_codes[i, j]] for j in range(m)))
    got = [(r["id"], r["adc"]) for r in
           ivfpq_adc_topk(codes, cent, cb, q, k=8, n_probe=2).collect()]
    expect = sorted(ref_adc.items(), key=lambda kv: (kv[1], kv[0]))[:8]
    assert [i for i, _ in got] == [i for i, _ in expect]
    assert np.allclose([d for _, d in got], [d for _, d in expect])

    # rescore: exact cosine over the ADC top-c; planted neighbor first
    top = [r["id"] for r in
           ivfpq_adc_topk(codes, cent, cb, q, k=3, n_probe=3,
                          rescore_emb=df, rescore_c=30).collect()]
    assert top[0] == 3 and 7 in top


def test_pq_index_ivfpq_layout(spark, emb_df, tmp_path):
    """write_pq_index with coarse centroids produces cluster-partitioned
    codes (IVF-PQ); reading one cluster back gives the same codes as
    encoding its members directly."""
    import os

    from spidey_search_engine_spark.operators.similarity import (
        ivf_assignments, pq_codebooks_sampled, pq_encode, write_pq_index)
    df, vecs = emb_df
    cb = pq_codebooks_sampled(df, m=4, ksub=8)
    cent = vecs[:3].astype(np.float64)
    out = str(tmp_path / "ivfpq")
    write_pq_index(df, cb, out, coarse_centroids=cent)
    assert any(d.startswith("cluster=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert set(back.columns) == {"id", "code", "cluster"}
    direct_codes = {r["id"]: list(r["code"])
                    for r in pq_encode(df, cb).collect()}
    direct_asg = {r["id"]: r["cluster"]
                  for r in ivf_assignments(df, cent).collect()}
    for r in back.collect():
        assert list(r["code"]) == direct_codes[r["id"]]
        assert r["cluster"] == direct_asg[r["id"]]


def test_ann_ivf_materialized_index(spark, emb_df, tmp_path):
    from spidey_search_engine_spark.operators.similarity import (
        ivf_topk, load_ivf_index, write_ivf_index)
    df, vecs = emb_df
    cent = vecs[:4].astype(np.float64)
    q = vecs[3].astype(float)
    out = str(tmp_path / "ivf_idx")
    write_ivf_index(df, cent, out)
    idx = load_ivf_index(spark, out)
    inline = [(r["id"], round(r["cos"], 9)) for r in
              ivf_topk(df, cent, q, k=5, n_probe=2).collect()]
    probe = ivf_topk(None, cent, q, k=5, n_probe=2, assignments=idx)
    mat = [(r["id"], round(r["cos"], 9)) for r in probe.collect()]
    assert mat == inline
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


def test_embedding_cosine_dedup(spark, emb_df):
    from spidey_search_engine_spark.operators.similarity import \
        embedding_cosine_dedup_pairs
    df, vecs = emb_df
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_cosine_dedup_pairs(df, dim=16, threshold=0.99,
                                          n_bits=4).collect()}
    assert (3, 7) in pairs


def test_textstats(spark):
    from spidey_search_engine_spark.functions.textstats import (
        with_bpe_token_estimate, with_fingerprint, with_lang_id,
        with_quality_score, with_token_count)
    rows = [
        (0, "the quick brown fox is in the barn and it is warm"),
        (1, "el perro corre por la calle y los gatos duermen en un sofa"),
        (2, "x!!! ??? ###"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    tc = {r["doc_id"]: r["n_tokens"] for r in with_token_count(df).collect()}
    assert tc[0] == 12 and tc[2] == 1
    lang = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(df).collect()}
    assert lang[0] == "en" and lang[1] == "es" and lang[2] == "und"
    q = {r["doc_id"]: r["quality_score"] for r in
         with_quality_score(df).collect()}
    assert q[0] > q[2]
    bpe = {r["doc_id"]: r["n_bpe_est"] for r in
           with_bpe_token_estimate(df).collect()}
    assert bpe[2] >= 7  # punctuation chars count as subword units
    fp = with_fingerprint(df).collect()
    assert all(r["fingerprint"] is not None for r in fp)
    # fingerprint is whitespace-normalization stable
    df2 = spark.createDataFrame(
        [(0, "the   quick Brown fox is in the barn and it is warm")],
        "doc_id long, content string")
    assert (with_fingerprint(df2).collect()[0]["fingerprint"]
            == [r for r in fp if r["doc_id"] == 0][0]["fingerprint"])


def test_png_roundtrip_and_filters():
    """encode_png → decode_png must round-trip gray/RGB/RGBA arrays, and
    the decoder must invert every PNG filter type. Filtered streams are
    built here with an INDEPENDENT forward-filter implementation (spec
    formulas), not the decoder's own code."""
    import struct
    import zlib

    from spidey_search_engine_spark.operators.multimodal import (
        PNG_SIG, decode_png, encode_png)

    rng = np.random.Generator(np.random.PCG64(11))
    for shape in [(7, 5), (6, 4, 3), (5, 3, 4)]:
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(arr)), arr), shape

    # hand-build a PNG whose scanlines use filters 1..4 (forward-filtered
    # per the spec), decode, compare to the raw image
    h, w, ch = 5, 6, 3
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    flat = img.reshape(h, w * ch).astype(np.int16)
    lines = []
    filters = [0, 1, 2, 3, 4]
    for y, f in enumerate(filters):
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * ch, dtype=np.int16)
        left = np.concatenate([np.zeros(ch, np.int16), cur[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int16), prev[:-ch]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ul))
            enc = cur - pred
        lines.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body \
            + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (PNG_SIG + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"".join(lines)))
           + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


def test_image_features_real_png_kernel(spark):
    """PNG payloads flow through image_features with the REAL decoder even
    in strict (fake=False) mode: true dims + per-channel means."""
    from spidey_search_engine_spark.operators.multimodal import (
        encode_png, image_features)
    rng = np.random.Generator(np.random.PCG64(5))
    rows, expect = [], {}
    for i in range(6):
        w, h = 4 + i, 3 + i
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((i, bytearray(encode_png(arr))))
        expect[i] = (w, h, arr.mean(axis=(0, 1)) / 255.0)
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in
           image_features(df, fake=False).collect()}
    for i, (w, h, mean) in expect.items():
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert np.allclose(r["feature"], mean, atol=1e-6)


def test_multimodal_plumbing(spark):
    from spidey_search_engine_spark.operators.multimodal import (
        frame_sample_plan, image_features, text_as_binary)
    rows = [(i, f"payload-{i}-" + "z" * (i * 500)) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bin_df = text_as_binary(df)
    feats = image_features(bin_df, fake=True).collect()
    assert len(feats) == 5
    for r in feats:
        assert r["n_bytes"] > 0 and len(r["sha256"]) == 64
        assert 16 <= r["width"] < 80 and len(r["feature"]) == 8
    # strict mode raises (the stub is honest about the missing codec)
    with pytest.raises(Exception):
        image_features(bin_df, fake=False).collect()
    frames = frame_sample_plan(bin_df, every_n=1).groupBy("doc_id").count()
    got = {r["doc_id"]: r["count"] for r in frames.collect()}
    assert got[4] > got[0] >= 1


def test_jaccard_candidate_first_matches_full_join(spark, dup_docs):
    """The candidate-first intersection path must equal the full self-join
    path restricted to the same pairs — including with a hot shingle shared
    by EVERY doc (the case that turned the old join order quadratic)."""
    from spidey_search_engine_spark.operators.dedup import (jaccard_pairs,
                                                            shingles_df)
    hot = dup_docs.select(
        "doc_id",
        F.concat(F.lit("common license header boilerplate text here "),
                 F.col("content")).alias("content"))
    sh = shingles_df(hot)
    full = {(r["id_a"], r["id_b"]): round(r["jaccard"], 12)
            for r in jaccard_pairs(sh, None, 0.0).collect()}
    pairs = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(a + 1, 6)],
        "id_a long, id_b long")
    cand = {(r["id_a"], r["id_b"]): round(r["jaccard"], 12)
            for r in jaccard_pairs(sh, pairs, 0.0).collect()}
    assert cand == {k: v for k, v in full.items() if k in cand}
    assert set(cand) == {k for k in full}  # hot prefix co-shingles all pairs


def test_jaccard_max_shingle_df_cap(spark, dup_docs):
    from spidey_search_engine_spark.operators.dedup import (jaccard_pairs,
                                                            shingles_df)
    sh = shingles_df(dup_docs)
    # cap=1 drops every shared shingle → no pairs survive
    assert jaccard_pairs(sh, None, 0.0, max_shingle_df=1).count() == 0


def test_simhash_polyhash_profile_matches_sql_math(spark, dup_docs):
    """hash_expr injection: fingerprints with the polynomial hash equal a
    straightforward python reimplementation of the same definition."""
    from spidey_search_engine_spark.functions.hashing import (M1, M2, P1, P2,
                                                              poly_hash64)
    from spidey_search_engine_spark.operators.dedup import simhash_fingerprints
    import re as _re
    from collections import Counter

    got = {r["id"]: r["simhash"] for r in
           simhash_fingerprints(dup_docs, hash_expr=poly_hash64).collect()}

    def poly(s, m, p):
        acc = 0
        for ch in s:
            acc = (acc * m + ord(ch)) % p
        return acc

    for row in dup_docs.collect():
        tf = Counter(t for t in _re.split(r"[^a-z0-9_]+",
                                          row["content"].lower()) if t)
        acc = np.zeros(64, dtype=np.int64)
        for t, c in tf.items():
            h = poly(t, M1, P1) | ((poly(t, M2, P2) & ((1 << 31) - 1)) << 32)
            for i in range(64):
                acc[i] += c * (1 if (h >> i) & 1 else -1)
        val = sum(1 << i for i in range(64) if acc[i] > 0)
        assert got[row["doc_id"]] == val


def test_minhash_polyhash_profile_still_finds_dups(spark, dup_docs):
    from spidey_search_engine_spark.functions.hashing import poly_hash
    from spidey_search_engine_spark.operators.dedup import minhash_lsh_dedup
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_dedup(dup_docs, num_hashes=8, bands=4,
                                        threshold=0.5, hash_expr=poly_hash,
                                        band_hash_expr=poly_hash).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0


def test_ivf_topk_planted_neighbor(spark, emb_df):
    """IVF-flat with sampled centroids: the planted near-duplicate of
    vector 3 must appear in the probed top-k, and candidates must be the
    union of the probed clusters only."""
    from spidey_search_engine_spark.operators.similarity import (
        brute_force_cosine_topk, ivf_assignments, ivf_topk)
    df, vecs = emb_df
    centroids = vecs[:8].astype(np.float64)
    q = vecs[3].astype(np.float64)
    got = [r["id"] for r in ivf_topk(df, centroids, q, k=5, n_probe=3).collect()]
    assert 3 in got and 7 in got  # vec 7 is the planted neighbor of 3

    # with n_probe = all clusters, IVF == brute force exactly
    full = [r["id"] for r in ivf_topk(df, centroids, q, k=10, n_probe=8).collect()]
    exact = [r["id"] for r in brute_force_cosine_topk(df, q, k=10).collect()]
    assert full == exact

    # assignment: every vector lands in its numpy-argmin cluster
    asg = {r["id"]: r["cluster"] for r in ivf_assignments(df, centroids).collect()}
    v = vecs.astype(np.float64)
    d2 = ((v[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    for i in range(60):
        assert asg[i] == int(np.argmin(d2[i]))


def test_ivf_batch_equals_per_query(spark, emb_df, tmp_path):
    """ivf_topk_batch (one pruned union-cluster scan) must return, per
    query, exactly the single-query materialized-lists probe."""
    from spidey_search_engine_spark.operators.similarity import (
        ivf_topk, ivf_topk_batch, load_ivf_index, write_ivf_index)
    df, vecs = emb_df
    centroids = vecs[:8].astype(np.float64)
    out = str(tmp_path / "ivf_idx_b")
    write_ivf_index(df, centroids, out)
    lists = load_ivf_index(spark, out)
    queries = {f"q{i}": vecs[i].astype(float) for i in (3, 9, 14)}
    batch = ivf_topk_batch(lists, centroids, queries, k=4, n_probe=3)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["id"], round(r["cos"], 9)))
    for i in (3, 9, 14):
        solo = [(n + 1, r["id"], round(r["cos"], 9)) for n, r in enumerate(
            ivf_topk(None, centroids, vecs[i].astype(float), k=4,
                     n_probe=3, assignments=lists).collect())]
        assert sorted(got[f"q{i}"]) == solo
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


def test_multimodal_resize_and_audio(spark):
    from spidey_search_engine_spark.operators.multimodal import (
        audio_features, resize_images, text_as_binary)
    import pytest as _pytest
    df = spark.createDataFrame(
        [(1, "some fake image payload bytes"), (2, "another payload")],
        "doc_id long, text string")
    bin_df = text_as_binary(df)
    resized = {r["doc_id"]: r for r in
               resize_images(bin_df, 8, 4, fake=True).collect()}
    assert all(r["width"] == 8 and r["height"] == 4
               and len(bytes(r["payload"])) == 32
               for r in resized.values())
    # deterministic: same payload → same pseudo-bitmap
    again = resize_images(bin_df, 8, 4, fake=True).collect()
    assert {r["doc_id"]: bytes(r["payload"]) for r in again} == \
        {k: bytes(v["payload"]) for k, v in resized.items()}

    au = {r["doc_id"]: r for r in audio_features(bin_df, fake=True).collect()}
    assert all(len(r["mfcc"]) == 13 and r["sample_rate"] in
               (8000, 16000, 22050, 44100) for r in au.values())
    with _pytest.raises(Exception):
        audio_features(bin_df, fake=False).collect()


def test_resize_png_real_kernel(spark):
    """PNG payloads flow through resize_images with the REAL
    nearest-neighbor kernel even in strict (fake=False) mode; output is a
    decodable PNG matching an index-sampling reference."""
    from spidey_search_engine_spark.operators.multimodal import (
        decode_png, encode_png, resize_images)
    rng = np.random.Generator(np.random.PCG64(31))
    imgs = {i: rng.integers(0, 256, size=(10 + i, 14 - i, 3),
                            dtype=np.uint8) for i in range(3)}
    df = spark.createDataFrame(
        [(i, bytearray(encode_png(a))) for i, a in imgs.items()],
        "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in
           resize_images(df, 6, 4, fake=False).collect()}
    for i, arr in imgs.items():
        h, w = arr.shape[:2]
        ys = np.minimum(((np.arange(4) + 0.5) * h / 4).astype(int), h - 1)
        xs = np.minimum(((np.arange(6) + 0.5) * w / 6).astype(int), w - 1)
        out = decode_png(bytes(got[i]["payload"]))
        assert out.shape == (4, 6, 3)
        assert np.array_equal(out, arr[ys][:, xs]), i


def test_wav_roundtrip_and_8bit_decode():
    """encode_wav → decode_wav must round-trip PCM16 mono/stereo exactly;
    the 8-bit path is checked against a hand-built RIFF stream (spec
    layout, not the encoder's code); unsupported formats raise."""
    import struct

    import pytest as _pytest

    from spidey_search_engine_spark.operators.multimodal import (
        decode_wav, encode_wav)

    rng = np.random.Generator(np.random.PCG64(17))
    mono = rng.integers(-32768, 32768, size=777, dtype=np.int16)
    sr, bits, raw = decode_wav(encode_wav(mono, 22050))
    assert (sr, bits) == (22050, 16)
    assert np.array_equal(raw[:, 0], mono.astype(np.int32))

    stereo = rng.integers(-32768, 32768, size=(300, 2), dtype=np.int16)
    sr, bits, raw = decode_wav(encode_wav(stereo, 8000))
    assert (sr, bits, raw.shape) == (8000, 16, (300, 2))
    assert np.array_equal(raw, stereo.astype(np.int32))

    # hand-built 8-bit unsigned mono WAV with an ODD data chunk (word
    # alignment padding must be honored by the chunk walk)
    samples8 = rng.integers(0, 256, size=333, dtype=np.uint8)
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 16000, 1, 8)
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 333) + samples8.tobytes() + b"\x00"
            + extra)
    wav8 = b"RIFF" + struct.pack("<I", len(body)) + body
    sr, bits, raw = decode_wav(wav8)
    assert (sr, bits) == (16000, 8)
    assert np.array_equal(raw[:, 0], samples8.astype(np.int32) - 128)

    # a truncated data chunk must raise in the decoder (strict contract:
    # header-declared length is truth), never return a short sample array
    whole = encode_wav(np.arange(100, dtype=np.int16), 8000)
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(whole[:-50])

    # float PCM (format 3) must refuse, not mis-decode
    fmt3 = struct.pack("<HHIIHH", 3, 1, 16000, 64000, 4, 32)
    bad = (b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
           + struct.pack("<I", len(fmt3)) + fmt3
           + b"data" + struct.pack("<I", 0))
    with _pytest.raises(NotImplementedError):
        decode_wav(bad)
    with _pytest.raises(ValueError):
        decode_wav(b"not a wav at all")


def test_mfcc_matches_independent_reference():
    """mfcc_features vs an independently-written reference (explicit DFT
    sums per bin, loop-built mel triangles, loop DCT — spec formulas, none
    of the kernel's code), plus tone-discrimination sanity."""
    from spidey_search_engine_spark.operators.multimodal import mfcc_features

    sr, frame, hop, n_mels, n_mfcc = 8000, 512, 256, 26, 13
    t = np.arange(1500)
    sig = 0.6 * np.sin(2 * np.pi * 440.0 * t / sr) \
        + 0.3 * np.sin(2 * np.pi * 1370.0 * t / sr)

    def ref_mfcc(x):
        x = np.asarray(x, dtype=np.float64)
        win = np.hanning(frame)
        n_frames = 1 + (len(x) - frame) // hop
        n_bins = frame // 2 + 1
        mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
        imel = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)  # noqa: E731
        pts = imel(np.linspace(0.0, mel(sr / 2.0), n_mels + 2))
        coefs = []
        for fi in range(n_frames):
            seg = x[fi * hop:fi * hop + frame] * win
            power = np.empty(n_bins)
            n = np.arange(frame)
            for k in range(n_bins):
                re = (seg * np.cos(2 * np.pi * k * n / frame)).sum()
                im = (seg * np.sin(2 * np.pi * k * n / frame)).sum()
                power[k] = (re * re + im * im) / frame
            mels = np.empty(n_mels)
            bin_hz = np.arange(n_bins) * sr / frame
            for m in range(n_mels):
                lo, mid, hi = pts[m], pts[m + 1], pts[m + 2]
                wgt = np.clip(np.minimum((bin_hz - lo) / (mid - lo),
                                         (hi - bin_hz) / (hi - mid)),
                              0.0, None)
                mels[m] = (wgt * power).sum()
            logm = np.log(mels + 1e-10)
            cc = np.empty(n_mfcc)
            for k in range(n_mfcc):
                scale = np.sqrt(1.0 / n_mels) if k == 0 \
                    else np.sqrt(2.0 / n_mels)
                cc[k] = scale * (logm * np.cos(
                    np.pi * (np.arange(n_mels) + 0.5) * k / n_mels)).sum()
            coefs.append(cc)
        return np.mean(coefs, axis=0)

    got = mfcc_features(sig, sr)
    assert got.shape == (13,) and got.dtype == np.float32
    assert np.allclose(got, ref_mfcc(sig), rtol=1e-4, atol=1e-4)

    # different tones → different cepstra (the feature carries signal, not
    # just energy): compare against a 2600 Hz tone at the same amplitude
    other = mfcc_features(0.6 * np.sin(2 * np.pi * 2600.0 * t / sr), sr)
    assert np.abs(got - other).max() > 1.0


def test_y4m_roundtrip_and_chroma_skip():
    """encode_y4m → decode_y4m round-trips luma exactly (mono AND 420 —
    chroma planes must be skipped with the right stride); a hand-built
    C422 stream (spec layout, independent of the encoder) decodes too;
    bad colorspace and truncated frames raise."""
    import pytest as _pytest

    from spidey_search_engine_spark.operators.multimodal import (
        decode_y4m, encode_y4m)
    rng = np.random.Generator(np.random.PCG64(41))
    y = rng.integers(0, 256, size=(7, 6, 8), dtype=np.uint8)
    w, h, fn, fd, back = decode_y4m(encode_y4m(y, fps=(30, 1)))
    assert (w, h, fn, fd) == (8, 6, 30, 1)
    assert np.array_equal(back, y)

    ch = rng.integers(0, 256, size=(7, 2, 3, 4), dtype=np.uint8)
    w, h, fn, fd, back = decode_y4m(encode_y4m(y, chroma=ch))
    assert (w, h, fn, fd) == (8, 6, 25, 1)
    assert np.array_equal(back, y)  # chroma correctly skipped over

    # hand-built C422: Y(4x2) + U,V at half width
    y422 = rng.integers(0, 256, size=(2, 4), dtype=np.uint8)
    uv = rng.integers(0, 256, size=(2 * 2 * 2,), dtype=np.uint8)
    raw = (b"YUV4MPEG2 W4 H2 F24:1 C422\n"
           + b"FRAME\n" + y422.tobytes() + uv.tobytes())
    w, h, fn, fd, back = decode_y4m(raw)
    assert (w, h, fn, fd, back.shape) == (4, 2, 24, 1, (1, 2, 4))
    assert np.array_equal(back[0], y422)

    with _pytest.raises(NotImplementedError):
        decode_y4m(b"YUV4MPEG2 W4 H2 C410\nFRAME\n" + bytes(9))
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W4 H2 Cmono\nFRAME\n" + bytes(3))
    with _pytest.raises(ValueError):
        decode_y4m(b"not video")
    # FRAME marker with NO trailing newline must raise, not loop forever
    # (and must never decode garbage sliced from the wrong offset)
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W10 H10 Cmono\n" + b"FRAME" + bytes(71)
                   + b"FRAME")
    # the fake-mode video pipeline falls back on the same corrupt payload
    # instead of wedging the executor
    from spidey_search_engine_spark.operators.multimodal import _video_frames
    rows = _video_frames(b"YUV4MPEG2 W10 H10 Cmono\n" + b"FRAME" + bytes(71)
                         + b"FRAME", every_n=5, fake=True)
    assert rows and all(r[3] % 5 == 0 for r in rows)


def test_video_frame_features_real_y4m_kernel(spark):
    """Y4M payloads flow through video_frame_features with the REAL
    decoder even in strict (fake=False) mode: true dims/frame counts and
    exact per-sampled-frame luma sums; non-Y4M strict raises."""
    import pytest as _pytest

    from spidey_search_engine_spark.operators.multimodal import (
        encode_y4m, video_frame_features)
    rng = np.random.Generator(np.random.PCG64(43))
    vids = {i: rng.integers(0, 256, size=(4 + 3 * i, 5, 6), dtype=np.uint8)
            for i in range(3)}
    df = spark.createDataFrame(
        [(i, bytearray(encode_y4m(v))) for i, v in vids.items()],
        "doc_id long, payload binary")
    got = video_frame_features(df, every_n=3, fake=False).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, v in vids.items():
        rows = sorted(by_doc[i], key=lambda r: r["frame_no"])
        n = v.shape[0]
        assert [r["frame_no"] for r in rows] == list(range(0, n, 3))
        for r in rows:
            assert (r["width"], r["height"], r["n_frames"]) == (6, 5, n)
            assert r["y_sum"] == int(v[r["frame_no"]].astype(np.int64).sum())

    bad = spark.createDataFrame([(9, bytearray(b"mp4 blob"))],
                                "doc_id long, payload binary")
    with _pytest.raises(Exception):
        video_frame_features(bad, fake=False).collect()
    fake_rows = video_frame_features(bad, every_n=5, fake=True).collect()
    assert fake_rows and all(r["frame_no"] % 5 == 0 for r in fake_rows)


def test_audio_features_real_wav_kernel(spark):
    """WAV payloads flow through audio_features with the REAL decoder even
    in strict (fake=False) mode: exact sample rate/duration, MFCCs equal
    to calling the kernel directly."""
    from spidey_search_engine_spark.operators.multimodal import (
        audio_features, encode_wav, mfcc_features)
    rng = np.random.Generator(np.random.PCG64(23))
    rows, expect = [], {}
    for i in range(4):
        sr = (8000, 16000, 22050, 44100)[i % 4]
        n = 600 + 50 * i
        s = rng.integers(-20000, 20000, size=n, dtype=np.int16)
        rows.append((i, bytearray(encode_wav(s, sr))))
        expect[i] = (sr, n / sr, mfcc_features(s / 32768.0, sr))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in audio_features(df, fake=False).collect()}
    for i, (sr, dur, mf) in expect.items():
        r = got[i]
        assert r["sample_rate"] == sr
        assert abs(r["duration_sec"] - dur) < 1e-6
        assert np.allclose(r["mfcc"], mf, atol=1e-5)


def test_redact_pii(spark):
    from spidey_search_engine_spark.functions.redact import redact_pii_df
    rows = [
        (0, "reach me at a.b+c@test.org or admin@sub.example.co today"),
        (1, "server 10.0.200.13 token deadbeefcafebabe0123456789abcdef00 ok"),
        (2, "call +1-555-0100-1234 plain text no pii here"),
        (3, "nothing sensitive in this line at all"),
        (4, "not-an-ip 1.2.3 short hex deadbeef not-an-email foo@bar"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = {r["doc_id"]: r for r in redact_pii_df(df).collect()}
    assert out[0]["content"] == "reach me at <EMAIL> or <EMAIL> today"
    assert out[0]["n_email"] == 2 and out[0]["n_ipv4"] == 0
    assert out[1]["content"] == "server <IPV4> token <SECRET> ok"
    assert out[1]["n_ipv4"] == 1 and out[1]["n_secret"] == 1
    assert out[2]["content"] == "call <PHONE> plain text no pii here"
    assert out[2]["n_phone"] == 1
    # clean text and near-miss shapes pass through untouched, all counts 0
    for i in (3, 4):
        assert out[i]["content"] == rows[i][1]
        assert all(out[i][c] == 0 for c in out[i].asDict()
                   if c.startswith("n_"))


def test_line_dedup(spark):
    from spidey_search_engine_spark.operators.dedup import line_dedup
    boiler = "// copyright megacorp"
    rows = [(i, f"{boiler}\nunique line {i}\n   \nshared pair line"
             if i < 2 else f"{boiler}\nunique line {i}")
            for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    # boiler in 5 docs > max_docs=3 → dropped; "shared pair line" in 2 → kept;
    # whitespace-only line dropped; order preserved
    out = {r["doc_id"]: r["content"]
           for r in line_dedup(df, max_docs=3).collect()}
    assert out[0] == "unique line 0\nshared pair line"
    assert out[1] == "unique line 1\nshared pair line"
    assert out[4] == "unique line 4"
    # doc whose every line is boilerplate disappears
    only_boiler = spark.createDataFrame(
        [(9, boiler)], "doc_id long, content string")
    both = df.unionByName(only_boiler)
    ids = {r["doc_id"] for r in line_dedup(both, max_docs=3).collect()}
    assert 9 not in ids and ids == {0, 1, 2, 3, 4}


def test_line_dedup_occurrence_mode(spark):
    """count_distinct_docs=False counts repetitions inside one doc too."""
    from spidey_search_engine_spark.operators.dedup import line_dedup
    df = spark.createDataFrame(
        [(0, "spam\nspam\nspam\nkeep me"), (1, "keep me too")],
        "doc_id long, content string")
    per_doc = {r["doc_id"]: r["content"]
               for r in line_dedup(df, max_docs=2,
                                   count_distinct_docs=True).collect()}
    assert per_doc[0] == "spam\nspam\nspam\nkeep me"  # 1 distinct doc ≤ 2
    per_occ = {r["doc_id"]: r["content"]
               for r in line_dedup(df, max_docs=2,
                                   count_distinct_docs=False).collect()}
    assert per_occ[0] == "keep me"                    # 3 occurrences > 2


def test_linear_quality_model(spark):
    """Model score == python replica (injected length-hash makes bucket
    assignment trivially replicable); quality_filter keep/drop semantics."""
    import math
    from pyspark.sql import functions as F
    from spidey_search_engine_spark.functions.quality_model import (
        WEIGHT_A, WEIGHT_M, deterministic_weights, linear_quality_scores,
        quality_filter)
    rows = [(0, "aa bbb c aa"), (1, "dddd ee"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    dim = 7
    hash_len = lambda c: F.length(c)
    out = {r["doc_id"]: r for r in
           linear_quality_scores(df, deterministic_weights(spark, dim),
                                 dim, hash_expr=hash_len).collect()}
    w = lambda b: ((b * WEIGHT_A) % WEIGHT_M) / 1e6 - 1.0
    for doc_id, text in rows[:2]:
        toks = [t for t in text.split() if t]
        exp_s = sum(w(len(t) % dim) for t in toks) / len(toks)
        exp_q = 1.0 / (1.0 + math.exp(-exp_s))
        assert out[doc_id]["n_tokens"] == len(toks)
        assert abs(out[doc_id]["q_score"] - exp_q) < 1e-12
    assert 2 not in out  # zero-token doc produces no row
    # filter: keep docs clearing the threshold, semantics via planted
    # weights — one row per bucket ("ee" shares bucket 2 with "aa", so
    # doc 1's negative dddd weight must dominate its mean)
    wdf = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 5.0), (4, -20.0)], "bucket int, w double")
    kept = {r["doc_id"] for r in
            quality_filter(df, wdf, dim, threshold=0.5,
                           hash_expr=hash_len).collect()}
    assert kept == {0}
    # sparse table: tokens in missing buckets weigh 0.0 and still count —
    # an all-OOV doc scores sigmoid(0) = 0.5, not "no row"
    oov = spark.createDataFrame([(7, "zz zz zz")],
                                "doc_id long, content string")
    row = linear_quality_scores(
        oov, spark.createDataFrame([(0, 9.9)], "bucket int, w double"),
        dim, hash_expr=hash_len).collect()[0]
    assert row["n_tokens"] == 3 and abs(row["q_score"] - 0.5) < 1e-12


def test_merge_spans(spark):
    from spidey_search_engine_spark.operators.dedup import merge_spans
    spans = spark.createDataFrame(
        [(0, 1, 10), (0, 5, 12), (0, 13, 20), (0, 30, 35),
         (1, 2, 4)], "id long, start int, end int")
    out = sorted((r["id"], r["start"], r["end"])
                 for r in merge_spans(spans).collect())
    # 1-10 ∪ 5-12 overlap, 13-20 adjacent → one island 1-20; 30-35 apart
    assert out == [(0, 1, 20), (0, 30, 35), (1, 2, 4)]


def test_remove_spans_edges(spark):
    from spidey_search_engine_spark.operators.dedup import remove_spans
    docs = spark.createDataFrame(
        [(0, "abcdefghij"), (1, "untouched"), (2, "gone")],
        "doc_id long, content string")
    spans = spark.createDataFrame(
        [(0, 3, 5), (0, 8, 9), (2, 1, 4)], "id long, start int, end int")
    out = {r["doc_id"]: r["content"]
           for r in remove_spans(docs, spans).collect()}
    assert out[0] == "abfgj"       # cut cde and hi
    assert out[1] == "untouched"   # no spans → byte-identical
    assert out[2] == ""            # fully covered → empty, row kept
    # id_col literally named "id" must not collide with the span side
    docs_id = docs.withColumnRenamed("doc_id", "id")
    out_id = {r["id"]: r["content"]
              for r in remove_spans(docs_id, spans, id_col="id").collect()}
    assert out_id == out


def test_substring_dedup_keep_first(spark):
    from spidey_search_engine_spark.operators.dedup import substring_dedup
    blk = "0123456789" * 6  # 60 chars, aperiodic at window scale
    rows = [(0, "AAAA" + blk + "ZZZZ"), (1, "BBBB" + blk + "YYYY"),
            (2, "totally unique text with no shared windows anywhere at"),
            (3, "CCCC" + blk + "XXXX")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    out = {r["doc_id"]: r["content"]
           for r in substring_dedup(df, k=20, stride=10,
                                    min_count=2).collect()}
    assert out[2] == rows[2][1]
    # copies lose the interior of the block; the first occurrence holds on
    # to strictly more of it than the copies do
    assert len(out[0]) > len(out[1]) and out[1] == out[3].replace(
        "CCCC", "BBBB").replace("XXXX", "YYYY")
    assert blk not in out[1] and blk not in out[3]


def test_substring_dedup_distinct_docs_mode(spark):
    """A block repeated only WITHIN one doc: occurrence mode excises the
    repeats, distinct-docs mode leaves the doc alone."""
    from spidey_search_engine_spark.operators.dedup import substring_dedup
    blk = "qwertyuiopasdfghjklz" * 2  # 40 chars
    df = spark.createDataFrame(
        [(0, blk + blk + blk), (1, "some other unrelated padding text")],
        "doc_id long, content string")
    occ = {r["doc_id"]: r["content"] for r in
           substring_dedup(df, k=20, stride=20, min_count=2,
                           count_distinct_docs=False).collect()}
    dis = {r["doc_id"]: r["content"] for r in
           substring_dedup(df, k=20, stride=20, min_count=2,
                           count_distinct_docs=True).collect()}
    assert len(occ[0]) < len(blk) * 3
    assert dis[0] == blk + blk + blk and dis[1] == occ[1]


def test_table_format_switch(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_TABLE_FORMAT flips engine-table IO at call time;
    requesting iceberg in a jar-less JVM raises the documented error
    instead of a bare ClassNotFound."""
    from spidey_search_engine_spark.sources import tables as T
    monkeypatch.delenv("SPARK_GRAFT_TABLE_FORMAT", raising=False)
    df = spark.range(5).select(F.col("id").alias("doc_id"))
    # write → load round-trips by (dir, name): the module owns the
    # format-dependent on-disk naming
    assert T.write_table(df, str(tmp_path), "t").endswith("t.parquet")
    assert T.load_table(spark, str(tmp_path), "t").count() == 5
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    assert T.table_path(str(tmp_path), "t") == str(tmp_path / "t")
    if T.format_available(spark, "iceberg"):  # real Iceberg runtime present
        T.write_table(df, str(tmp_path), "t_ice")
        assert T.load_table(spark, str(tmp_path), "t_ice").count() == 5
    else:
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            T.load_table(spark, str(tmp_path), "t")
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            T.write_table(df, str(tmp_path), "t_ice")


def test_substring_dedup_matches_python_reference(spark):
    """Pin the whole window→count→keep-first→merge→excise pipeline to an
    independent pure-python replica on seeded random corpora (alphabet of
    4 chars makes accidental window collisions common — the hard case)."""
    import random
    from spidey_search_engine_spark.operators.dedup import substring_dedup

    def reference(docs, k, stride, min_count):
        wins = []  # (doc, off0) -> text, in (doc, off) order
        for did in sorted(docs):
            t = docs[did]
            offs = range(0, max(len(t) - k, 0) + 1, stride) \
                if len(t) >= k else [0]
            for off in offs:
                wins.append((did, off, t[off:off + k]))
        counts = {}
        for _, _, w in wins:
            counts[w] = counts.get(w, 0) + 1
        first = {}
        for did, off, w in sorted(wins):
            first.setdefault(w, (did, off))
        cut = {did: set() for did in docs}
        for did, off, w in wins:
            if counts[w] >= min_count and first[w] != (did, off):
                end = min(off + k, len(docs[did]))
                cut[did].update(range(off, end))
        return {did: "".join(c for i, c in enumerate(t) if i not in cut[did])
                for did, t in docs.items()}

    rng = random.Random(42)
    for trial in range(3):
        docs = {}
        shared = "".join(rng.choice("abcd") for _ in range(30))
        for did in range(12):
            body = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 60)))
            # half the docs embed the shared block at a stride-aligned spot
            docs[did] = (body[:10] + shared + body[10:]
                         if did % 2 == 0 else body)
        df = spark.createDataFrame(list(docs.items()),
                                   "doc_id long, content string")
        got = {r["doc_id"]: r["content"]
               for r in substring_dedup(df, k=10, stride=5,
                                        min_count=2).collect()}
        assert got == reference(docs, 10, 5, 2), f"trial {trial}"


def test_cli_clean_pipeline(spark, tmp_path, capsys):
    """The `clean` CLI subcommand runs the composed pipeline end to end:
    planted whole-doc copies vanish via exact dedup, the shared block via
    substring dedup, PII via redaction — one stats JSON line out."""
    import json
    from spidey_search_engine_spark.cli import main

    blk = "SHARED LICENSE BLOCK " * 4  # 84 chars, > k
    rows = [(0, "intro text one " + blk + "body zero user0@example.com"),
            (1, "intro text two " + blk + "body one distinct"),
            (2, "a fully unique document body with nothing planted"),
            (3, "a fully unique document body with nothing planted")]
    src, dst = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, content string") \
        .coalesce(1).write.parquet(src)
    rc = main(["clean", "--input", src, "--output", dst,
               "--substring-min-count", "2", "--substring-k", "20",
               "--substring-stride", "10", "--redact-pii",
               "--exact-dedup"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # substring dedup excises doc 3 (whole-doc copy of 2) down to a
    # boundary residue BEFORE exact dedup runs, so all 4 ids survive but
    # the chars shrink; the shared block survives in at most one doc
    assert stats["docs_in"] == 4 and stats["docs_out"] == 4
    assert stats["chars_out"] < stats["chars_in"]
    out = {r["doc_id"]: r["content"]
           for r in spark.read.parquet(dst).collect()}
    assert len(out[3]) < len(out[2])
    assert all("@example.com" not in t for t in out.values())
    assert any("<EMAIL>" in t for t in out.values())
    assert sum(blk in t for t in out.values()) <= 1
    # exact dedup alone: the whole-doc copy (3) is dropped outright
    dst2 = str(tmp_path / "out2")
    rc = main(["clean", "--input", src, "--output", dst2, "--exact-dedup"])
    assert rc == 0
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["docs_out"] == 3
    assert {r["doc_id"] for r in spark.read.parquet(dst2).collect()} \
        == {0, 1, 2}


# ---------------------------------------------------------------------------
# chunking / shard assignment / incremental cross-corpus dedup (P24-P26)
# ---------------------------------------------------------------------------

def test_chunk_documents_windows(spark):
    from spidey_search_engine_spark.operators.chunking import chunk_documents
    long = " ".join(f"tok{i}" for i in range(25))
    rows = [(1, "a short doc"), (2, long), (3, "   "), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=8, overlap=2)
    got = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
           for r in out.collect()}
    # short doc: one whole chunk
    assert got[(1, 0)] == ("a short doc", 3)
    # empty / whitespace docs: no chunks at all
    assert not any(k[0] in (3, 4) for k in got)
    # long doc: python-reference stride windows (stride = 8 - 2 = 6)
    toks = long.split()
    starts = [0, 6, 12, 18]           # 18 + 8 > 25 -> last window
    for ci, s in enumerate(starts):
        w = toks[s:s + 8]
        assert got[(2, ci)] == (" ".join(w), len(w))
    assert len([k for k in got if k[0] == 2]) == len(starts)
    # coverage + overlap properties
    assert got[(2, len(starts) - 1)][1] == 25 - 18
    for ci in range(len(starts) - 1):
        a = got[(2, ci)][0].split()
        b = got[(2, ci + 1)][0].split()
        assert a[-2:] == b[:2]        # consecutive chunks share `overlap`


def test_chunk_documents_rejects_bad_overlap(spark):
    from spidey_search_engine_spark.operators.chunking import chunk_documents
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_assign_shards_partition_of_corpus(spark, tmp_path):
    from spidey_search_engine_spark.operators.sampling import (
        assign_shards, write_training_shards)
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"),
                                    F.concat(F.lit("doc "), "id")
                                    .alias("text"))
    a = assign_shards(df, 8, seed=3).collect()
    b = assign_shards(df, 8, seed=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert sorted(r["doc_id"] for r in a) == list(range(500))  # a partition
    by_shard = {}
    for r in a:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))  # dense 0..k-1
    # uniformity sanity: no empty shard at 500/8
    assert len(by_shard) == 8
    # materialized shards: read-back equals the assignment, pos-ordered
    out = str(tmp_path / "shards")
    write_training_shards(df, out, 8, seed=3)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.select(*a[0].__fields__).collect())) \
        == sorted(map(tuple, a))


def test_incremental_lsh_matches_full_dedup(spark, dup_docs, tmp_path):
    from spidey_search_engine_spark.operators.dedup import (
        incremental_lsh_pairs, load_minhash_index, minhash_lsh_dedup,
        write_minhash_index)
    params = dict(n=3, num_hashes=16, bands=8, threshold=0.2, seed=7)
    # incoming batch: a near copy of base doc 0, an exact copy of doc 4,
    # and a novel doc that matches nothing
    inc_rows = [(100, dup_docs.filter("doc_id = 0").first()["content"]
                 + " tail words appended"),
                (101, dup_docs.filter("doc_id = 4").first()["content"]),
                (102, "nothing in common with any base document "
                      "entirely novel tokens everywhere")]
    inc = spark.createDataFrame(inc_rows, "doc_id long, content string")
    out = str(tmp_path / "mh_idx")
    write_minhash_index(dup_docs, out, n_buckets=16, **{
        k: v for k, v in params.items() if k != "threshold"})
    idx = load_minhash_index(spark, out)
    got = sorted(map(tuple, incremental_lsh_pairs(
        inc, dup_docs, idx, n_buckets=16, **params)
        .select("id_a", "id_b", "jaccard").collect()))
    # reference: full-corpus LSH dedup restricted to cross pairs
    full = minhash_lsh_dedup(dup_docs.unionByName(inc), **params)
    want = sorted(map(tuple, full.filter((F.col("id_a") < 100)
                                         & (F.col("id_b") >= 100))
                      .select("id_a", "id_b", "jaccard").collect()))
    assert got == want and len(got) >= 2   # planted near + exact recovered
    assert not any(r[1] == 102 for r in got)
    # the index landed bucket-partitioned on disk
    import os
    assert any(d.startswith("bucket=") for d in os.listdir(out))


def test_incremental_lsh_minhash_verify(spark, dup_docs, tmp_path):
    """verify='minhash': candidates verify by signature agreement carried
    on the index rows — no base_df, no base-text access. Exact copies
    estimate jaccard 1.0; the pair set agrees with exact-verify at a
    threshold loose enough for the estimator's granularity."""
    from spidey_search_engine_spark.operators.dedup import (
        incremental_lsh_pairs, load_minhash_index, write_minhash_index)
    params = dict(n=3, num_hashes=16, bands=8, seed=7)
    inc_rows = [(101, dup_docs.filter("doc_id = 4").first()["content"]),
                (102, "nothing in common with any base document "
                      "entirely novel tokens everywhere")]
    inc = spark.createDataFrame(inc_rows, "doc_id long, content string")
    out = str(tmp_path / "mh_idx_sig")
    write_minhash_index(dup_docs, out, n_buckets=16, **params)
    idx = load_minhash_index(spark, out)
    assert "sig" in idx.columns
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in incremental_lsh_pairs(
               inc, None, idx, n_buckets=16, threshold=0.2,
               verify="minhash", **params).collect()}
    assert got[(4, 101)] == 1.0          # exact copy: all components agree
    assert not any(b == 102 for (_, b) in got)
    exact = {(r["id_a"], r["id_b"])
             for r in incremental_lsh_pairs(
                 inc, dup_docs, idx, n_buckets=16, threshold=0.2,
                 verify="exact", **params).collect()}
    assert set(got) >= exact             # estimator keeps every real pair


def test_semdedup_keep_rule(spark):
    """SemDeDup keeps the pair member FARTHER from its centroid; exact
    ties (planted identical vectors) drop the higher id; every duplicate
    clique keeps at least its min-ccos member."""
    import numpy as np
    from spidey_search_engine_spark.operators.similarity import (
        semdedup_survivors)
    # cluster 0 = e0-ish, cluster 1 = e1-ish (8-dim)
    def v(axis, eps):
        x = [0.0] * 8
        x[axis] = 1.0
        x[(axis + 2) % 8] = eps
        return x
    rows = [(0, v(0, 0.0)),      # prototypical: ccos max -> loses
            (1, v(0, 0.2)),      # farther from centroid -> survives
            (2, v(1, 0.0)),
            (3, v(1, 0.5)),      # far: cos(2,3) < thr, both survive
            (4, v(0, 0.2))]      # identical to 1: tie -> higher id drops
    emb = spark.createDataFrame(
        [(i, [float(x) for x in xs]) for i, xs in rows],
        "vec_id long, embedding array<float>")
    cent = np.array([v(0, 0.0), v(1, 0.0)], dtype=np.float64)
    sur = semdedup_survivors(emb, cent, threshold=0.98)
    got = sorted(r["id"] for r in sur.collect())
    # pair (0,1): cos≈0.981 dup, 0 is the centroid itself (ccos=1) -> drops
    # pair (1,4): identical, tie -> 4 drops; pair (0,4) same as (0,1)
    # pair (2,3): cos≈0.894 < 0.98 -> no dup, both stay
    assert got == [1, 2, 3]
    clusters = {r["id"]: r["cluster"] for r in sur.collect()}
    assert clusters[1] == 0 and clusters[2] == 1 and clusters[3] == 1


def test_pack_sequences_invariants(spark):
    """Packing is a partition of the chunk table; every sequence fits the
    budget unless it is a single oversize chunk; pos is dense per
    sequence; re-runs are byte-identical."""
    from spidey_search_engine_spark.operators.chunking import pack_sequences
    rows = [(d, c, 30 + 7 * ((d * 3 + c) % 9)) for d in range(40)
            for c in range(2)] + [(99, 0, 500)]   # oversize chunk
    ch = spark.createDataFrame(rows, "doc_id long, chunk_id int, "
                                     "n_tokens int")
    got = pack_sequences(ch, budget=128, n_shards=4).toPandas()
    assert len(got) == len(rows)
    assert set(zip(got["doc_id"], got["chunk_id"])) == {
        (d, c) for d, c, _ in rows}
    for (sh, sq), grp in got.groupby(["shard", "seq"]):
        assert sorted(grp["pos"]) == list(range(len(grp)))
        if grp["n_tokens"].sum() > 128:      # only an oversize singleton
            assert len(grp) == 1
    big = got[got["doc_id"] == 99]
    assert len(big) == 1
    again = pack_sequences(ch, budget=128, n_shards=4).toPandas()
    key = ["doc_id", "chunk_id"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True))
    import pytest
    with pytest.raises(ValueError):
        pack_sequences(ch, budget=0, n_shards=4)


def test_minhash_index_keep_sig_false(spark, dup_docs, tmp_path):
    """keep_sig=False writes the lean (no-signature) index: exact verify
    still works against it; verify='minhash' fails fast with an
    actionable error instead of an AnalysisException mid-plan."""
    from spidey_search_engine_spark.operators.dedup import (
        incremental_lsh_pairs, load_minhash_index, write_minhash_index)
    params = dict(n=3, num_hashes=16, bands=8, seed=7)
    out = str(tmp_path / "mh_idx_lean")
    write_minhash_index(dup_docs, out, n_buckets=16, keep_sig=False,
                        **params)
    idx = load_minhash_index(spark, out)
    assert "sig" not in idx.columns
    inc = spark.createDataFrame(
        [(101, dup_docs.filter("doc_id = 4").first()["content"])],
        "doc_id long, content string")
    exact = incremental_lsh_pairs(inc, dup_docs, idx, n_buckets=16,
                                  threshold=0.2, verify="exact", **params)
    assert {(r["id_a"], r["id_b"]) for r in exact.collect()} >= {(4, 101)}
    for h in getattr(exact, "_persisted", []):
        h.unpersist()
    import pytest
    with pytest.raises(ValueError, match="keep_sig"):
        incremental_lsh_pairs(inc, None, idx, n_buckets=16, threshold=0.2,
                              verify="minhash", **params)


def test_semdedup_max_cluster_size(spark):
    """The skew guard sub-splits oversize clusters: with a cap >= the
    cluster size results are identical to the exact mode; with a tiny cap
    the survivor set can only GROW (pairs straddling sub-buckets are no
    longer compared), never lose non-duplicates; re-runs deterministic."""
    import numpy as np
    from spidey_search_engine_spark.operators.similarity import (
        semdedup_survivors)
    rng = np.random.default_rng(11)
    base = np.zeros(8); base[0] = 1.0
    rows = [(i, [float(x) for x in base + 0.01 * rng.standard_normal(8)])
            for i in range(30)]                 # one dense cluster
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = np.array([rows[0][1]], dtype=np.float64)

    def run(**kw):
        out = semdedup_survivors(emb, cent, threshold=0.9995, **kw)
        got = sorted(r["id"] for r in out.collect())
        for h in getattr(out, "_persisted", []):
            h.unpersist()
        return got

    exact = run()
    assert run(max_cluster_size=100) == exact    # cap above size: no-op
    capped = run(max_cluster_size=5)
    assert set(capped) >= set(exact)             # only fewer comparisons
    assert run(max_cluster_size=5) == capped     # deterministic
    import pytest
    with pytest.raises(ValueError):
        run(max_cluster_size=1)


def test_read_jsonl_docs_quarantine(spark, tmp_path):
    """JSONL ingest: corrupt lines land in quarantine with the raw line
    attached; schema-valid rows missing a required field quarantine too;
    valid rows round-trip exactly (unicode, quotes, newlines)."""
    import json
    from spidey_search_engine_spark.sources.ingest import read_jsonl_docs
    tricky = 'quote " backslash \\ newline \n tab \t arabic م'
    lines = [json.dumps({"doc_id": 1, "text": "plain"}),
             json.dumps({"doc_id": 2, "text": tricky}),
             '{"doc_id": 3, "text": "unterminated',          # corrupt
             json.dumps({"doc_id": 4, "text": None}),        # null required
             json.dumps({"doc_id": None, "text": "x"}),      # null required
             json.dumps({"doc_id": 6})]                      # missing field
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(lines) + "\n", encoding="utf-8")
    valid, quar = read_jsonl_docs(spark, str(src),
                                  "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in valid.collect()}
    assert got == {1: "plain", 2: tricky}
    q = quar.collect()
    assert len(q) == 4
    raw = [r["_corrupt_record"] for r in q if r["_corrupt_record"]]
    assert any("unterminated" in x for x in raw)   # raw line kept
    import pytest
    with pytest.raises(ValueError, match="required"):
        read_jsonl_docs(spark, str(src), "doc_id long, text string",
                        required=("nope",))


def test_apply_bpe(spark):
    """Distributed BPE application matches the pure-python reference
    word-for-word; merge priority follows rank order; untrained pairs
    stay single characters; round-trip: concat(tokens) == pretoken
    concat == original text."""
    from spidey_search_engine_spark.functions.bpe import (apply_bpe,
                                                          bpe_tokenize,
                                                          bpe_word)
    merges = [("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er"),
              (" ", "l"), (" l", "ower")]
    ranks = {m: i for i, m in enumerate(merges)}
    # rank order decides: 'l o w' -> 'lo w' -> 'low' (not 'l ow')
    assert bpe_word("low", ranks) == ["low"]
    assert bpe_word("lower", ranks) == ["lower"]
    assert bpe_word("lowest", ranks) == ["low", "e", "s", "t"]
    texts = ["low lower lowest", "", "unrelated xyz", "low\nlower",
             "lower lower lower"]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["bpe_tokens"], r["bpe_tokens_n"])
           for r in apply_bpe(df, merges).collect()}
    for i, t in enumerate(texts):
        ref = bpe_tokenize(t, ranks)
        assert got[i][0] == ref, (t, got[i][0], ref)
        assert got[i][1] == len(ref)
        assert "".join(got[i][0]) == t         # lossless round-trip
    # rank 0 merges 'l o' before (' ', 'l') can ever fire, so the leading
    # space stays its own token: greedy-by-rank, not left-to-right
    assert got[0][0] == ["low", " ", "lower", " ", "low", "e", "s", "t"]
    import pytest
    with pytest.raises(ValueError):
        apply_bpe(df, [("a", "b"), ("a", "b")])


def test_train_bpe(spark):
    """Trained merges match a brute-force reference trainer (full rescan
    per merge) on the same corpus; train -> apply compresses repeated
    words to single tokens; incremental pair bookkeeping survives
    overlapping pairs (aaa) and multi-occurrence words."""
    from spidey_search_engine_spark.functions.bpe import (
        _PRETOKEN, apply_bpe, train_bpe)
    texts = ["the quick brown fox the quick", "aaa aaa the the the",
             "quickest quicker quick", "fox box fox"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = train_bpe(df, n_merges=12)

    # brute-force reference: recount every pair over all words each round
    counts = {}
    for t in texts:
        for w in _PRETOKEN.findall(t):
            counts[w] = counts.get(w, 0) + 1
    seqs = {w: list(w) for w in counts}
    ref = []
    for _ in range(12):
        pn = {}
        for w, seq in seqs.items():
            for p in zip(seq, seq[1:]):
                pn[p] = pn.get(p, 0) + counts[w]
        cand = min(((-n, p) for p, n in pn.items() if n >= 2),
                   default=None)
        if cand is None:
            break
        bp = cand[1]
        ref.append(bp)
        for w, seq in seqs.items():
            new, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and (seq[i], seq[i + 1]) == bp:
                    new.append(bp[0] + bp[1]); i += 2
                else:
                    new.append(seq[i]); i += 1
            seqs[w] = new
    assert got == ref
    out = {r["doc_id"]: r["bpe_tokens"]
           for r in apply_bpe(df, got).collect()}
    assert "the" in out[0]                    # hot word fully merged
    assert len(got) <= 12 and len(got) > 0


def test_bpe_pack_compose(spark):
    """End-to-end tokenizer pipeline: train merges on the corpus, apply
    them, pack documents into sequences by REAL BPE token counts —
    every sequence fits the budget measured in trained-tokenizer tokens."""
    from spidey_search_engine_spark.functions.bpe import apply_bpe, train_bpe
    from spidey_search_engine_spark.operators.chunking import pack_sequences
    texts = [("doc %d the quick brown fox jumps over the lazy dog " % i) * 3
             for i in range(20)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    merges = train_bpe(df, n_merges=50)
    tok = (apply_bpe(df, merges)
           .select("doc_id", F.lit(0).alias("chunk_id"),
                   F.col("bpe_tokens_n").alias("n_tokens")))
    packed = pack_sequences(tok, budget=100, n_shards=2,
                            tokens_col="n_tokens").toPandas()
    assert len(packed) == 20
    for (_, _), grp in packed.groupby(["shard", "seq"]):
        assert grp["n_tokens"].sum() <= 100 or len(grp) == 1


def test_cli_prepare_pipeline(spark, tmp_path, capsys):
    """The `prepare` CLI subcommand: JSONL ingest (quarantine aside) ->
    chunk -> trained-BPE budget -> pack -> (shard, seq, pos)-laid-out
    sequence table; every multi-chunk sequence fits the budget."""
    import json
    from spidey_search_engine_spark.cli import main

    src = tmp_path / "dumps"
    src.mkdir()
    lines = [json.dumps({"doc_id": i,
                         "content": ("alpha beta gamma " * (4 + i % 5))
                         .strip()}) for i in range(30)]
    lines.append('{"doc_id": 77, "content": "broken')
    (src / "d.jsonl").write_text("\n".join(lines) + "\n", encoding="utf-8")
    dst = str(tmp_path / "prep")
    rc = main(["prepare", "--input", str(src), "--output", dst, "--jsonl",
               "--chunk-tokens", "8", "--overlap", "2", "--budget", "32",
               "--n-shards", "4", "--bpe-merges", "50"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_in"] == 30 and stats["quarantined"] == 1
    assert stats["chunks"] > 30 and stats["sequences"] >= 1
    seqs = spark.read.parquet(dst + "/sequences")
    import pandas as pd
    pdf = seqs.toPandas()
    assert len(pdf) == stats["chunks"]
    for (_, _), g in pdf.groupby(["shard", "seq"]):
        assert g["n_tokens"].sum() <= 32 or len(g) == 1
        assert sorted(g["pos"]) == list(range(len(g)))
    assert (pdf["chunk_text"].str.len() > 0).all()
    # ON-DISK order inside each shard file is (seq, pos) — a sequential
    # trainer read must stream sequences contiguously, in order
    import glob
    import pyarrow.parquet as pq
    for f in glob.glob(dst + "/sequences/shard=*/*.parquet"):
        tb = pq.read_table(f, columns=["seq", "pos"]).to_pandas()
        assert list(tb.itertuples(index=False)) == sorted(
            tb.itertuples(index=False))


def test_bpe_long_junk_run(spark):
    """A megabyte uniform junk run must not stall the tokenizer: pretokens
    past MAX_WORD_LEN bypass the quadratic merge loop and emit as
    characters (= BPE with no applicable merges)."""
    import time
    from spidey_search_engine_spark.functions.bpe import apply_bpe
    junk = "a" * 1_000_000
    df = spark.createDataFrame([(0, junk), (1, "aaa aaa normal")],
                               "doc_id long, text string")
    merges = [("a", "a"), ("aa", "aa"), ("aaaa", "aaaa")]
    t0 = time.monotonic()
    got = {r["doc_id"]: r["bpe_tokens_n"]
           for r in apply_bpe(df, merges).collect()}
    assert time.monotonic() - t0 < 60          # would be hours unguarded
    assert got[0] == 1_000_000                 # raw characters
    assert got[1] < 15                         # short words still merge


def test_unigram_lm_perplexity(spark):
    """Perplexity ranks reference-like text below gibberish; OOV mass is
    a proper probability (vocab ∪ OOV sums to 1); empty docs score NULL
    and are dropped by the filter; head-cut vocab folds rare tokens into
    OOV."""
    import math
    from spidey_search_engine_spark.functions.lm import (lm_perplexity,
                                                         perplexity_filter,
                                                         train_unigram_lm)
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in
         range(5)], "doc_id long, text string")
    vocab, oov = train_unigram_lm(ref, max_vocab=4)   # head cut: 4 of 8
    rows = {r["token"]: r["logp"] for r in vocab.collect()}
    assert len(rows) == 4 and "the" in rows           # 'the' is hottest
    # distribution check: sum of vocab probs + oov prob <= 1 (strictly,
    # = 1 minus the folded tail mass share over the same denominator)
    assert sum(math.exp(x) for x in rows.values()) + math.exp(oov) <= 1.0
    cand = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "zzz qqq xxx www"), (2, "   ")],
        "doc_id long, text string")
    ppl = {r["id"]: r["ppl"] for r in
           lm_perplexity(cand, vocab, oov, text_col="text").collect()}
    assert ppl[0] < ppl[1]                            # ref-like beats junk
    assert ppl[2] is None                             # empty -> NULL
    kept = perplexity_filter(cand, vocab, oov,
                             max_ppl=(ppl[0] + ppl[1]) / 2)
    assert [r["doc_id"] for r in kept.collect()] == [0]


def test_cli_clean_max_ppl(spark, tmp_path, capsys):
    """clean --max-ppl: the self-trained unigram LM drops the gibberish
    outlier and keeps the reference-like majority."""
    import json
    from spidey_search_engine_spark.cli import main
    rows = [(i, "the quick brown fox jumps over the lazy dog again")
            for i in range(9)] + [(9, "zq9 xv7 qqj wkz bbp mmt rrn vvx")]
    src, dst = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, content string") \
        .coalesce(1).write.parquet(src)
    rc = main(["clean", "--input", src, "--output", dst,
               "--max-ppl", "50"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_out"] == 9
    assert 9 not in {r["doc_id"] for r in spark.read.parquet(dst).collect()}


def test_vocab_and_ids(spark):
    """build_vocab ranks by frequency with deterministic ties and
    reserved specials; tokens_to_ids maps through the closure dict with
    OOV fallback; BPE -> vocab -> ids composes losslessly (id sequence
    decodes back to the token sequence)."""
    from spidey_search_engine_spark.functions.bpe import (apply_bpe,
                                                          build_vocab,
                                                          tokens_to_ids)
    df = spark.createDataFrame(
        [(0, "low low low lower"), (1, "lowest low")],
        "doc_id long, text string")
    tok = apply_bpe(df, [("l", "o"), ("lo", "w")])
    vocab = build_vocab(tok, max_vocab=3, reserve=2)   # ids from 2
    v = {r["token"]: r["id"] for r in vocab.collect()}
    assert min(v.values()) == 2 and len(v) == 3
    assert v["low"] == 2                                # hottest token
    ids = {r["doc_id"]: r["token_ids"]
           for r in tokens_to_ids(tok, vocab, oov_id=0).collect()}
    rev = {i: t for t, i in v.items()}
    toks = {r["doc_id"]: r["bpe_tokens"] for r in tok.collect()}
    for d in (0, 1):
        assert len(ids[d]) == len(toks[d])
        for i, t in zip(ids[d], toks[d]):
            assert (rev.get(i) == t) or (i == 0 and t not in v)
    assert 0 in ids[1]                                  # OOV hit


def test_dedup_clusters_prefer_col_keeps_best(spark):
    """P34 quality-aware canonical pick: prefer_col makes the cluster
    argmax win (not the min id), ties resolve to the lowest id, NULL
    preference ranks below every value, and singletons always keep."""
    from spidey_search_engine_spark.operators.dedup import dedup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        # cluster {1,2,3}: 3 has the top score -> wins over min-id 1
        # cluster {10,11}: tie on score -> lowest id 10 wins
        # cluster {20,21}: 20 is NULL -> 21 wins despite higher id
        # 30: singleton, NULL score, still canon=1
        [(1, 0.2), (2, 0.5), (3, 0.9), (10, 1.0), (11, 1.0),
         (20, None), (21, 0.1), (30, None)],
        "doc_id long, q double")
    out = {r["doc_id"]: (r["cluster_id"], r["canon"])
           for r in dedup_clusters(docs, pairs, prefer_col="q").collect()}
    assert out == {1: (1, 0), 2: (1, 0), 3: (1, 1),
                   10: (10, 1), 11: (10, 0),
                   20: (20, 0), 21: (20, 1), 30: (30, 1)}
    # every cluster keeps exactly one member
    kept = [d for d, (_, c) in out.items() if c == 1]
    assert sorted(kept) == [3, 10, 21, 30]


def test_cli_clean_audit_trail(spark, tmp_path, capsys):
    """P35 --audit: every dropped doc lands in the (doc_id, stage) trail
    labeled with the FIRST stage that rejected it, per-stage counts ride
    the stats line, and surviving docs are untouched by the bookkeeping."""
    import json
    from spidey_search_engine_spark.cli import main

    rows = [(0, "shared banner line\nunique zero content"),
            (1, "shared banner line\nunique one content"),
            (2, "shared banner line"),          # banner-only -> line_dedup
            (3, "dup body text"),
            (4, "dup body text")]               # exact twin -> exact_dedup
    src, dst, audit = (str(tmp_path / d) for d in ("in", "out", "audit"))
    spark.createDataFrame(rows, "doc_id long, content string") \
        .coalesce(1).write.parquet(src)
    rc = main(["clean", "--input", src, "--output", dst,
               "--line-max-docs", "2", "--exact-dedup", "--audit", audit])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_in"] == 5 and stats["docs_out"] == 3
    assert stats["dropped"] == {"line_dedup": 1, "exact_dedup": 1}
    trail = {r["doc_id"]: r["stage"]
             for r in spark.read.parquet(audit).collect()}
    assert trail == {2: "line_dedup", 4: "exact_dedup"}
    out = {r["doc_id"]: r["content"]
           for r in spark.read.parquet(dst).collect()}
    # the banner line is stripped from survivors; doc 3 keeps its text
    assert out == {0: "unique zero content", 1: "unique one content",
                   3: "dup body text"}


def test_cli_clean_audit_empty_when_nothing_drops(spark, tmp_path, capsys):
    """--audit with only text-rewriting stages writes an EMPTY trail with
    the contract schema (doc_id long, stage string)."""
    import json
    from spidey_search_engine_spark.cli import main

    src, dst, audit = (str(tmp_path / d) for d in ("in", "out", "audit"))
    spark.createDataFrame([(0, "plain body")], "doc_id long, content string") \
        .coalesce(1).write.parquet(src)
    rc = main(["clean", "--input", src, "--output", dst,
               "--redact-pii", "--audit", audit])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["dropped"] == {}
    log = spark.read.parquet(audit)
    assert log.count() == 0
    assert dict(log.dtypes) == {"doc_id": "bigint", "stage": "string"}


def test_corpus_report_grouped_quantiles(spark):
    """P36 corpus report: one-row-per-group totals and exact interpolated
    quantiles; approx mode stays within the value range; empty group_cols
    rejected."""
    import pytest as _pytest
    from spidey_search_engine_spark.operators.report import corpus_report
    # group (a): token counts 1,2,3,4 -> p50 = 2.5, p90 = 3.7 (linear
    # interpolation at rank p*(n-1)); group (b): single 2-token doc
    rows = [("a", "one"), ("a", "one two"), ("a", "one two three"),
            ("a", "one two three four"), ("b", "solo doc")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r for r in corpus_report(df).collect()}
    a, b = out["a"], out["b"]
    assert (a["n_docs"], a["total_tokens"], a["avg_tokens"]) == (4, 10, 2.5)
    assert a["total_chars"] == sum(len(t) for s, t in rows if s == "a")
    assert (a["q50_tokens"], a["q90_tokens"]) == (2.5, 3.7)
    assert (b["n_docs"], b["q50_tokens"], b["q90_tokens"]) == (1, 2.0, 2.0)
    # sketch mode: discrete values from the data, same single-doc answer
    approx = {r["source"]: r for r in corpus_report(df, exact=False).collect()}
    assert approx["a"]["q50_tokens"] in (2.0, 3.0)
    assert approx["b"]["q90_tokens"] == 2.0
    with _pytest.raises(ValueError):
        corpus_report(df, group_cols=())
    # sub-percent fractions keep distinct labels instead of rounding into
    # a collision (0.999 must not alias q100 = max)
    sub = corpus_report(df, quantiles=(0.999, 1.0)).columns
    assert "q99_9_tokens" in sub and "q100_tokens" in sub
    with _pytest.raises(ValueError, match="duplicate"):
        corpus_report(df, quantiles=(0.5, 0.5))
    with _pytest.raises(ValueError, match="outside"):
        corpus_report(df, quantiles=(1.5,))


def test_vocab_coverage(spark):
    """P38: class-interpolated coverage equals the brute-force per-term
    ranking, including sizes splitting a tie class and the |V| clamp."""
    from spidey_search_engine_spark.operators.report import vocab_coverage
    counts = [100, 50, 50, 50, 10, 10, 1]
    df = spark.createDataFrame(
        [(f"t{i}", c) for i, c in enumerate(counts)], "term string, cf long")
    got = {r["vocab_size"]: (r["covered_tokens"], r["total_tokens"],
                             round(r["coverage"], 9))
           for r in vocab_coverage(df, [1, 2, 4, 6, 7, 100]).collect()}
    total = sum(counts)
    srt = sorted(counts, reverse=True)
    for r in [1, 2, 4, 6, 7, 100]:
        cov = sum(srt[:min(r, len(srt))])
        assert got[r] == (cov, total, round(cov / total, 9)), r
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        vocab_coverage(df, [])
    with _pytest.raises(ValueError, match="positive"):
        vocab_coverage(df, [0, 5])
    with _pytest.raises(ValueError, match="duplicate"):
        vocab_coverage(df, [5, 5])


def test_vocab_coverage_random_property(spark):
    """Random tied counts: class interpolation == explicit sorted prefix
    at every rank 1..|V|."""
    import random
    from spidey_search_engine_spark.operators.report import vocab_coverage
    rng = random.Random(11)
    counts = [rng.choice([1, 2, 3, 5, 5, 8, 13, 13, 13, 40])
              for _ in range(37)]
    df = spark.createDataFrame(
        [(f"w{i}", c) for i, c in enumerate(counts)], "term string, cf long")
    sizes = list(range(1, len(counts) + 1))
    got = {r["vocab_size"]: r["covered_tokens"]
           for r in vocab_coverage(df, sizes).collect()}
    srt = sorted(counts, reverse=True)
    want = {r: sum(srt[:r]) for r in sizes}
    assert got == want


def test_vocab_coverage_fractional_counts(spark):
    """Counts are grouped on their EXACT value — fractional (smoothed /
    weighted) frequencies must rank and sum exactly, not collapse into
    truncated integer classes (2.9 and 2.1 are different classes and 2.9
    outranks 2.1)."""
    from spidey_search_engine_spark.operators.report import vocab_coverage
    counts = [2.9, 2.1, 2.1, 1.0, 0.5]
    df = spark.createDataFrame(
        [(f"t{i}", c) for i, c in enumerate(counts)],
        "term string, cf double")
    got = {r["vocab_size"]: (round(r["covered_tokens"], 9),
                             round(r["total_tokens"], 9))
           for r in vocab_coverage(df, [1, 2, 3, 4, 5, 9]).collect()}
    srt = sorted(counts, reverse=True)
    total = round(sum(srt), 9)
    for r in [1, 2, 3, 4, 5, 9]:
        assert got[r] == (round(sum(srt[:min(r, len(srt))]), 9), total), r


def test_repetition_features(spark):
    """P39: run-length fold == brute-force python on a fixture matrix,
    plus the documented edge semantics (NULL for token-less docs, clamp
    at 1.0, count ties -> longest gram)."""
    from spidey_search_engine_spark.functions.textstats import (
        with_repetition_features)
    df = spark.createDataFrame([
        (0, "a b\nc d\na b\ne"),          # one dup line of four
        (1, "x y x y x y x y"),           # overlap clamp: dup mass > 1
        (2, ""),                          # no tokens -> NULL fractions
        (3, "one two three four five"),   # all counts 1, tie -> longest
        (4, "p q p q r\np q p q r"),      # identical lines
    ], "doc_id long, content string")
    got = {r["doc_id"]: r.asDict() for r in with_repetition_features(
        df, top_ns=(2,), dup_ns=(2,)).collect()}
    assert got[0]["dup_line_frac"] == 0.25          # 4 lines, 3 distinct
    assert got[0]["dup_line_char_frac"] == 0.3      # 3 dup chars of 10
    assert abs(got[0]["top_2gram_char_frac"] - 6 / 13) < 1e-12
    assert got[1]["top_2gram_char_frac"] == 0.8     # "x y" 4x of 15 chars
    assert got[1]["dup_2gram_char_frac"] == 1.0     # 21/15 clamped
    assert got[2]["dup_line_char_frac"] is None
    assert got[2]["top_2gram_char_frac"] is None
    assert got[2]["dup_2gram_char_frac"] is None    # NOT a fabricated 1.0
    # doc 3: every 2-gram count 1, tie resolves to LONGEST ("three four")
    assert abs(got[3]["top_2gram_char_frac"] - 10 / 23) < 1e-12
    assert got[3]["dup_2gram_char_frac"] == 0.0
    assert got[4]["dup_line_frac"] == 0.5
    assert got[4]["dup_line_char_frac"] == 0.5


def test_repetition_features_random_property(spark):
    """Random docs: fold kernel == explicit Counter reference for every
    signal (top ties included)."""
    import random
    from collections import Counter

    from spidey_search_engine_spark.functions.textstats import (
        with_repetition_features)
    rng = random.Random(23)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    docs = []
    for i in range(30):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
        docs.append((i, " ".join(toks)))
    got = {r["doc_id"]: r.asDict() for r in with_repetition_features(
        spark.createDataFrame(docs, "doc_id long, content string"),
        top_ns=(3,), dup_ns=(3,)).collect()}
    for i, text in docs:
        toks = text.split()
        grams = [" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)]
        tok_chars = len(" ".join(toks))
        want_top = want_dup = None
        if grams:
            cnt = Counter(grams)
            mc = max(cnt.values())
            want_top = max(c * len(g) for g, c in cnt.items()
                           if c == mc) / tok_chars
            want_dup = min(1.0, sum(c * len(g) for g, c in cnt.items()
                                    if c >= 2) / tok_chars)
        if want_top is None:
            # tokens but no 3-grams: no top gram exists (NULL), and the
            # duplicated-gram char mass is genuinely zero
            assert got[i]["top_3gram_char_frac"] is None, i
            assert got[i]["dup_3gram_char_frac"] == 0.0, i
        else:
            assert abs(got[i]["top_3gram_char_frac"] - want_top) < 1e-12, i
            assert abs(got[i]["dup_3gram_char_frac"] - want_dup) < 1e-12, i


def test_decontaminate(spark):
    """P40: flagging, distinct-gram counting, case/punct invariance,
    anti-join removal, and the reverse coverage audit (too-short bench
    items report 0 grams, not vanish)."""
    from spidey_search_engine_spark.operators.decontaminate import (
        benchmark_coverage, contamination_hits, decontaminate)
    docs = spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "a quick brown fox appears"),
        (2, "completely unrelated text here now"),
        (3, "quick brown fox stuff quick brown fox stuff"),  # repeats
    ], "doc_id long, content string")
    bench = spark.createDataFrame([
        (100, "Quick, brown FOX jumps!"),   # case/punct-invariant match
        (101, "lazy dog sleeps"),
        (102, "xy"),                        # too short for any 3-gram
    ], "bench_id long, text string")
    hits = {r["doc_id"]: (r["n_hit"], r["first_gram"]) for r in
            contamination_hits(docs, bench, n=3).collect()}
    assert hits[0] == (2, "brown fox jumps")   # + "quick brown fox"
    assert hits[1] == (1, "quick brown fox")
    assert 2 not in hits
    # doc 3 repeats the gram 2x but n_hit counts DISTINCT shared grams
    assert hits[3] == (1, "quick brown fox")
    kept = [r["doc_id"] for r in
            decontaminate(docs, bench, n=3).orderBy("doc_id").collect()]
    assert kept == [2]
    cov = {r["bench_id"]: (r["n_grams"], r["n_leaked"], r["leak_frac"])
           for r in benchmark_coverage(docs, bench, n=3).collect()}
    assert cov[100] == (2, 2, 1.0)
    assert cov[101][0] == 1 and cov[101][1] == 0  # "lazy dog sleeps" novel
    assert cov[102] == (0, 0, None)               # reported, not dropped
    import pytest as _pytest
    with _pytest.raises(ValueError, match=">= 1"):
        contamination_hits(docs, bench, n=0).collect()


def test_token_ngrams_lockstep(spark):
    """zip_with n-gram fold == python sliding window, including docs
    shorter than n (empty, not an error)."""
    from pyspark.sql import functions as F

    from spidey_search_engine_spark.functions.textstats import (
        _token_ngrams, _tokens)
    rows = [(0, "alpha beta gamma delta"), (1, "one two"), (2, ""),
            (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    for n in (1, 2, 3, 5):
        got = {r["doc_id"]: r["g"] for r in df.select(
            "doc_id", _token_ngrams(_tokens(F.col("content")), n)
            .alias("g")).collect()}
        for i, text in rows:
            toks = text.split()
            want = [" ".join(toks[j:j + n])
                    for j in range(len(toks) - n + 1)]
            assert got[i] == want, (i, n)


def test_cli_clean_repetition_and_decontam(spark, tmp_path, capsys):
    """P39/P40 clean stages: the Gopher repetition gate drops the
    degenerate doc, decontamination drops the benchmark-overlapping doc
    LAST, the audit trail labels each with its first rejecting stage,
    and bad N:F specs fail fast."""
    import json

    from spidey_search_engine_spark.cli import main

    docs = [
        (0, "spark shuffles data between stages when keys move around"),
        (1, "spam spam spam spam spam spam spam spam"),        # repetition
        (2, "the secret benchmark answer is forty two indeed"),  # contam
        (3, "an ordinary document about sorting and merging files"),
    ]
    src = str(tmp_path / "in")
    bench_dir = str(tmp_path / "bench")
    out = str(tmp_path / "out")
    audit = str(tmp_path / "audit")
    spark.createDataFrame(docs, "doc_id long, content string") \
        .coalesce(2).write.parquet(src)
    spark.createDataFrame([(0, "Secret benchmark ANSWER is forty-two!")],
                          "bench_id long, text string") \
        .write.parquet(bench_dir)

    rc = main(["clean", "--input", src, "--output", out,
               "--audit", audit, "--max-dup-ngram", "2:0.5",
               "--decontam-bench", bench_dir, "--decontam-n", "5"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_in"] == 4 and stats["docs_out"] == 2
    assert stats["dropped"] == {"repetition": 1, "decontam": 1}
    kept = sorted(r["doc_id"] for r in
                  spark.read.parquet(out).collect())
    assert kept == [0, 3]
    trail = {r["doc_id"]: r["stage"] for r in
             spark.read.parquet(audit).collect()}
    assert trail == {1: "repetition", 2: "decontam"}

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["clean", "--input", src, "--output", out,
              "--max-top-ngram", "nonsense"])


def test_dsir(spark):
    """P41: log_w equals a brute-force python bag-of-hashed-grams
    reference (poly-hash replica), token-less docs score exactly 0.0 and
    survive scoring, Gumbel-top-k selection replays key-for-key, a tiny
    temperature degenerates to deterministic order-by-weight, and the
    guard rails raise."""
    import math

    from spidey_search_engine_spark.functions.hashing import (M1, P1,
                                                              poly_hash)
    from spidey_search_engine_spark.operators.dsir import (
        dsir_logratios, dsir_scores, dsir_select, gram_bucket_counts)

    def py_poly(s):
        acc = 0
        for ch in s:
            acc = (acc * M1 + ord(ch)) % P1
        return acc

    import re

    def py_grams(text):
        toks = [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]
        return toks + [" ".join(toks[i:i + 2])
                       for i in range(len(toks) - 1)]

    docs = [
        (0, "spark merges sorted runs of data"),
        (1, "spark shuffles data between stages"),
        (2, "the cat sat on the mat"),
        (3, "merges sorted runs quickly merges sorted runs"),
        (4, ""),                       # no tokens at all
        (5, "!!! ??? ..."),            # punctuation only -> no tokens
        (6, "cat mat cat mat cat"),
    ]
    target_ids = {0, 3}
    B, ALPHA, SEED = 64, 1.0, 11
    d = spark.createDataFrame(docs, "doc_id long, content string")
    t = d.filter(F.col("doc_id").isin(*target_ids))
    lr = dsir_logratios(gram_bucket_counts(t, n_buckets=B,
                                           hash_fn=poly_hash),
                        gram_bucket_counts(d, n_buckets=B,
                                           hash_fn=poly_hash),
                        n_buckets=B, smoothing=ALPHA)
    got_w = {r["doc_id"]: r["log_w"]
             for r in dsir_scores(d, lr, n_buckets=B,
                                  hash_fn=poly_hash).collect()}
    assert set(got_w) == {i for i, _ in docs}

    # brute-force reference
    tc, rc = {}, {}
    for i, text in docs:
        for g in py_grams(text):
            b = py_poly(g) % B
            rc[b] = rc.get(b, 0) + 1
            if i in target_ids:
                tc[b] = tc.get(b, 0) + 1
    T, R = sum(tc.values()), sum(rc.values())
    ratio = {b: math.log((tc.get(b, 0) + ALPHA) / (T + ALPHA * B))
             - math.log((rc.get(b, 0) + ALPHA) / (R + ALPHA * B))
             for b in range(B)}
    want_w = {i: sum(ratio[py_poly(g) % B] for g in py_grams(text))
              for i, text in docs}
    for i, _ in docs:
        assert abs(got_w[i] - want_w[i]) < 1e-9, i
    assert got_w[4] == 0.0 and got_w[5] == 0.0
    # target-slice docs must outweigh the unrelated ones
    assert min(want_w[0], want_w[3]) > max(want_w[2], want_w[6])

    # Gumbel-top-k replays key-for-key
    def py_key(i, temp=1.0):
        u = (py_poly(f"{SEED}:{i}") % (1 << 20) + 0.5) / float(1 << 20)
        return want_w[i] / temp - math.log(-math.log(u))

    sel = dsir_select(d, lr, k=3, n_buckets=B, seed=SEED,
                      hash_fn=poly_hash).collect()
    want_order = sorted(((-py_key(i), i) for i, _ in docs))[:3]
    assert [r["doc_id"] for r in sel] == [i for _, i in want_order]
    for r in sel:
        assert abs(r["sel_key"] - py_key(r["doc_id"])) < 1e-9

    # tiny temperature: weight dominates noise -> deterministic argmax
    cold = dsir_select(d, lr, k=2, n_buckets=B, seed=SEED,
                       temperature=1e-9, hash_fn=poly_hash).collect()
    want_cold = sorted(docs, key=lambda p: (-want_w[p[0]], p[0]))[:2]
    assert [r["doc_id"] for r in cold] == [i for i, _ in want_cold]

    # k past corpus size returns everything; guards raise
    assert dsir_select(d, lr, k=100, n_buckets=B,
                       hash_fn=poly_hash).count() == len(docs)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must"):
        dsir_select(d, lr, k=0, n_buckets=B)
    with _pytest.raises(ValueError, match="temperature"):
        dsir_select(d, lr, k=1, n_buckets=B, temperature=0.0)
    with _pytest.raises(ValueError, match="smoothing"):
        dsir_logratios(gram_bucket_counts(t, n_buckets=B),
                       gram_bucket_counts(d, n_buckets=B),
                       n_buckets=B, smoothing=0.0)


def test_cli_clean_dsir(spark, tmp_path, capsys):
    """clean --dsir-target/--dsir-k: near-zero temperature keeps exactly
    the target-like docs, the audit trail labels DSIR drops, the output
    schema stays (doc_id, content), and a missing --dsir-k fails fast."""
    import json

    from spidey_search_engine_spark.cli import main

    docs = [
        (0, "gradient descent updates model weights each step"),
        (1, "gradient descent updates model weights each step"),
        # same token count as docs 0/1: the bag log-weight is a sum over
        # grams, so a shorter unrelated doc would accumulate LESS negative
        # mass and sneak past the target-like docs
        (2, "the cafeteria menu lists soup and bread"),
        (3, "quarterly revenue grew steadily across both regions"),
    ]
    src, tgt, out, audit = (str(tmp_path / n)
                            for n in ("in", "tgt", "out", "audit"))
    spark.createDataFrame(docs, "doc_id long, content string") \
        .write.parquet(src)
    spark.createDataFrame(
        [(0, "gradient descent updates model weights"),],
        "doc_id long, content string").write.parquet(tgt)

    rc = main(["clean", "--input", src, "--output", out,
               "--audit", audit, "--dsir-target", tgt, "--dsir-k", "2",
               "--dsir-temperature", "1e-9"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_in"] == 4 and stats["docs_out"] == 2
    assert stats["dropped"] == {"dsir": 2}
    got = spark.read.parquet(out)
    assert got.columns == ["doc_id", "content"]
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 1]

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["clean", "--input", src, "--output", out,
              "--dsir-target", tgt])


def test_grouped_split(spark):
    """P42: group-atomic assignment (every member of a group on one
    side), python hash-interval replay, NULL groups -> rest under BOTH
    hash choices, fraction plausibility on many groups, label stability
    under corpus growth, and guard rails."""
    from spidey_search_engine_spark.functions.hashing import (M1, P1,
                                                              poly_hash)
    from spidey_search_engine_spark.operators.sampling import grouped_split

    def py_poly(s):
        acc = 0
        for ch in s:
            acc = (acc * M1 + ord(ch)) % P1
        return acc

    # group names vary in the PREFIX: the oracle poly hash mixes by
    # modular wraparound of the leading characters, so shared-prefix
    # short names ("grp0".."grp39") would cluster in a narrow band of
    # the low bits and starve a label (production xxhash64 is immune)
    rows = [(i, f"{i % 40}grp" if i % 13 else None) for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, grp string")
    fr = {"val": 0.15, "test": 0.25}
    got = {r["doc_id"]: r["split"] for r in
           grouped_split(d, "grp", fr, seed=10,
                         hash_expr=poly_hash).collect()}

    D = 1 << 30
    def py_label(g):
        if g is None:
            return "train"
        u = py_poly(f"{g}:10") % D
        if u < round(0.15 * D):
            return "val"
        if u < round(0.40 * D):
            return "test"
        return "train"

    for i, g in rows:
        assert got[i] == py_label(g), (i, g)
    # group-atomicity + every label actually appears at 40 groups
    sides = {}
    for i, g in rows:
        sides.setdefault(g, set()).add(got[i])
    assert all(len(s) == 1 for s in sides.values())
    assert {lbl for s in sides.values() for lbl in s} == \
        {"train", "val", "test"}
    # NULL groups -> rest under the DEFAULT hash too
    null_default = {r["doc_id"]: r["split"] for r in
                    grouped_split(d, "grp", fr, seed=10).collect()}
    for i, g in rows:
        if g is None:
            assert null_default[i] == "train", i
    # stability: adding docs never moves an existing group's side
    grown = spark.createDataFrame(rows + [(900, "3grp"), (901, "newgrp")],
                                  "doc_id long, grp string")
    got2 = {r["doc_id"]: r["split"] for r in
            grouped_split(grown, "grp", fr, seed=10,
                          hash_expr=poly_hash).collect()}
    for i, g in rows:
        assert got2[i] == got[i]
    assert got2[900] == py_label("3grp")

    import pytest as _pytest
    for bad in ({}, {"train": 0.1}, {"val": 0.0}, {"val": 1.0},
                {"val": 0.6, "test": 0.4}):
        with _pytest.raises(ValueError):
            grouped_split(d, "grp", bad)


def test_leakage_safe_split(spark):
    """P42 composition: near-dup clusters from dedup_clusters stay on
    one side; unclustered docs are singleton groups that still split."""
    from spidey_search_engine_spark.operators.dedup import (
        dedup_clusters, exact_dedup)
    from spidey_search_engine_spark.operators.sampling import (
        leakage_safe_split)

    # 30 docs in 10 exact-dup triples + 60 unique docs
    rows = ([(i, f"dup text number {i % 10}") for i in range(30)]
            + [(100 + i, f"unique text {i}") for i in range(60)])
    d = spark.createDataFrame(rows, "doc_id long, content string")
    sha = exact_dedup(d)
    mins = sha.groupBy("content_sha").agg(F.min("id").alias("id_b"))
    pairs = (sha.join(mins, "content_sha")
             .filter(F.col("id") != F.col("id_b"))
             .select(F.col("id").alias("id_a"), "id_b"))
    clusters = dedup_clusters(d, pairs).select("doc_id", "cluster_id")
    # production hash here: this test asserts STRUCTURE (atomicity,
    # both labels present), not oracle replay, and the poly hash's weak
    # low-bit mixing on shared-suffix "id:NNN" strings would lump every
    # singleton into one band
    got = {r["doc_id"]: r["split"] for r in leakage_safe_split(
        d, clusters, {"val": 0.3}, seed=9, id_col="doc_id",
        cluster_col="cluster_id").collect()}
    assert len(got) == 90
    # each dup triple {i, i+10, i+20} on ONE side
    for i in range(10):
        assert len({got[i], got[i + 10], got[i + 20]}) == 1, i
    # the singletons actually split (both labels present)
    singles = {got[100 + i] for i in range(60)}
    assert singles == {"train", "val"}


def test_codeclean_strip_comments(spark):
    """P43: per-family fixture matrix (block-before-line ordering, tidy
    collapse, string-literal casualty documented), unknown/NULL lang
    passthrough, fixed-lang mode == per-row dispatch, and the arg
    contract."""
    from spidey_search_engine_spark.functions.codeclean import (
        with_comments_stripped)
    rows = [
        (0, "java", "int a; /* x // y */ int b; // tail"),
        (1, "py", "x = 1  # c\ny = 2"),
        (2, "sql", "SELECT a /* c */ FROM t -- note"),
        (3, "html", "<b>hi</b><!-- note --><i>z</i>"),
        (4, "brainfck", "++ // keep # keep -- keep"),
        (5, None, "// keep"),
        (6, "java", 'u = "http://x"; // gone'),
        (7, "java", "a;\n/* big\n\ncomment */\n\nb;"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, content string")
    got = {r["doc_id"]: r["content"] for r in
           with_comments_stripped(d, lang_col="lang").collect()}
    assert got[0] == "int a;  int b; "         # block died as ONE unit
    assert got[1] == "x = 1\ny = 2"
    assert got[2] == "SELECT a  FROM t "
    assert got[3] == "<b>hi</b><i>z</i>"
    assert got[4] == rows[4][2]                 # unknown lang untouched
    assert got[5] == rows[5][2]                 # NULL lang untouched
    assert got[6] == 'u = "http:'               # documented URL casualty
    assert got[7] == "a;\n\n\nb;"[:3] + "\nb;"  # 3+ newlines collapse to 2
    # fixed-lang mode agrees with dispatch for a single-language table
    only_java = d.filter(F.col("lang") == "java")
    a = {r["doc_id"]: r["content"] for r in
         with_comments_stripped(only_java, lang="java").collect()}
    assert a == {k: v for k, v in got.items() if k in (0, 6, 7)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exactly one"):
        with_comments_stripped(d)
    with _pytest.raises(ValueError, match="exactly one"):
        with_comments_stripped(d, lang="java", lang_col="lang")
    # a FIXED user-named language fails fast on a typo (per-row dispatch
    # keeps unknown-passthrough: there the value is data, not a claim)
    with _pytest.raises(ValueError, match="unknown language"):
        with_comments_stripped(d, lang="jav")


def test_codeclean_license_header(spark):
    """P43: the leading comment goes ONLY when it carries a license
    marker; line-comment runs count as one header; deeper doc comments
    survive; adversarial unclosed-comment input completes (the linear
    block pattern, not the backtracking non-greedy one)."""
    from spidey_search_engine_spark.functions.codeclean import (
        with_license_header_stripped)
    rows = [
        (0, "java", "/* Copyright 2024 X */\nint a; /* keep */"),
        (1, "java", "/* just a file banner */\nint a;"),
        (2, "py", "# copyright me\n# SPDX-License-Identifier: MIT\nx=1"),
        (3, "py", "# plain comment\nx=1"),
        (4, "sql", "-- Licensed under MIT\nSELECT 1 /* keep */"),
        (5, "java", "int a;\n/* Copyright later, keep */"),
        # genuinely unclosed: no '*' + '/' pair anywhere after the opener
        # ("/*"*N would NOT be unclosed — '/*/' contains a closing '*/')
        (6, "java", "/* unclosed copyright " + "/x" * 5000),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, content string")
    got = {r["doc_id"]: r["content"] for r in
           with_license_header_stripped(d, lang_col="lang").collect()}
    assert got[0] == "\nint a; /* keep */"
    assert got[1] == rows[1][2]                 # no marker -> keep header
    assert got[2] == "x=1"
    assert got[3] == rows[3][2]
    # line-run headers consume their own trailing newline (the \n? in
    # the lead pattern); block headers leave it (pattern ends at */)
    assert got[4] == "SELECT 1 /* keep */"
    assert got[5] == rows[5][2]                 # not leading -> keep
    assert got[6] == rows[6][2]                 # unclosed: no match, kept


def test_cli_clean_strip_comments(spark, tmp_path, capsys):
    """P43 clean stages: --strip-license + --strip-comments with
    per-row --lang-col dispatch, char accounting reflects the strip,
    and the exactly-one-language-source contract fails fast."""
    import json

    from spidey_search_engine_spark.cli import main

    docs = [
        (0, "java", "/* Copyright 2024 */\nint a; // note"),
        (1, "py", "# plain banner\nx = 1  # c"),
        (2, "weird", "// untouched /* lang unknown */"),
    ]
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(docs, "doc_id long, lang string, content string") \
        .write.parquet(src)
    rc = main(["clean", "--input", src, "--output", out,
               "--strip-comments", "--lang-col", "lang",
               "--strip-license"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_in"] == 3 and stats["docs_out"] == 3
    assert stats["chars_out"] < stats["chars_in"]
    got = {r["doc_id"]: r["content"] for r in
           spark.read.parquet(out).collect()}
    assert got[0] == "\nint a; "
    assert got[1] == "\nx = 1  "    # header kept (no marker) but # c gone
    assert got[2] == docs[2][2]
    # lang-col is consumed by the strip stage, not leaked to the output
    assert spark.read.parquet(out).columns == ["doc_id", "content"]
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["clean", "--input", src, "--output", out,
              "--strip-comments"])
    with _pytest.raises(SystemExit):
        main(["clean", "--input", src, "--output", out,
              "--strip-comments", "java", "--lang-col", "lang"])
    with _pytest.raises(SystemExit, match="unknown language"):
        main(["clean", "--input", src, "--output", out,
              "--strip-comments", "jav"])
    for bad in (["--max-top-ngram", "0:0.2"],
                ["--max-dup-ngram", "2:0.1", "--max-dup-ngram", "2:0.9"]):
        with _pytest.raises(SystemExit):
            main(["clean", "--input", src, "--output", out] + bad)


def test_fork_detection(spark):
    """P44: exact file-set Jaccard against a python reference on planted
    forks (incl. a shared hot file in EVERY repo — the LICENSE shape),
    LSH mode == exact mode above threshold, within-repo duplicate files
    count once, and fork_clusters keeps the largest member of each
    transitive family."""
    from spidey_search_engine_spark.operators.forks import (
        fork_clusters, fork_pairs)

    def repo(name, files):
        return [(name, f) for f in files]

    license_txt = "MIT license text shared by everyone"
    base = [f"file body {i}" for i in range(10)]
    rows = (
        repo("upstream", base + [license_txt])
        + repo("fork_a", base[:8] + ["fork_a extra"] + [license_txt])
        + repo("fork_b", base[:7] + ["fork_b x", "fork_b y"] + [license_txt])
        # duplicate file WITHIN the repo must count once
        + repo("selfdup", base[:2] + base[:2] + ["selfdup own"] + [license_txt])
        + repo("unrelated", [f"other {i}" for i in range(9)] + [license_txt])
    )
    files = spark.createDataFrame(rows, "repo string, content string")

    # python reference over distinct sets
    sets = {}
    for r, c in rows:
        sets.setdefault(r, set()).add(c)
    def jac(a, b):
        i = len(sets[a] & sets[b])
        return i / (len(sets[a]) + len(sets[b]) - i)

    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             fork_pairs(files, threshold=0.5, exact=True).collect()}
    names = sorted(sets)
    want = {(a, b): jac(a, b) for ai, a in enumerate(names)
            for b in names[ai + 1:] if jac(a, b) >= 0.5}
    assert set(exact) == set(want)
    for k, v in want.items():
        assert abs(exact[k] - v) < 1e-12, k
    assert ("fork_a", "upstream") in exact          # planted forks found
    assert not any("unrelated" in k for k in exact)  # hot file != fork
    # LSH mode returns the same verified pairs (16 hashes, 8 bands ->
    # bands of 2: candidate recall at J>=0.5 is essentially certain)
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           fork_pairs(files, threshold=0.5, num_hashes=16,
                      bands=8).collect()}
    assert lsh == exact

    cl = {r["repo"]: (r["cluster_id"], r["canon"]) for r in
          fork_clusters(files, fork_pairs(files, threshold=0.5,
                                          exact=True)).collect()}
    assert len(cl) == 5
    fam = {cl["upstream"][0], cl["fork_a"][0], cl["fork_b"][0]}
    assert len(fam) == 1                     # one transitive family
    assert cl["unrelated"][0] not in fam
    # canonical = largest file set (upstream: 11 distinct)
    assert cl["upstream"][1] == 1
    assert cl["fork_a"][1] == 0 and cl["fork_b"][1] == 0
    assert cl["selfdup"][1] == 1 and cl["unrelated"][1] == 1


def test_doc_keywords(spark):
    """P45: tf·idf top-k against a python reference (ties -> term asc),
    OOV terms drop via the dictionary join, k guard, and the physical
    plan actually contains WindowGroupLimit (per-partition top-k, not a
    full sort of the (doc, term) space)."""
    import math

    from spidey_search_engine_spark.operators.report import doc_keywords

    docs = [
        (0, "alpha alpha beta gamma"),
        (1, "beta beta beta delta alpha"),
        (2, "gamma gamma zeta"),            # zeta is OOV in the dict
        (3, ""),
    ]
    # dictionary: df as if from a larger index (n=10)
    terms = spark.createDataFrame(
        [("alpha", 5), ("beta", 2), ("gamma", 1), ("delta", 9)],
        "term string, df long")
    d = spark.createDataFrame(docs, "doc_id long, content string")
    kw = doc_keywords(d, terms, n_docs=10, k=2)
    got = {}
    for r in kw.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["rank"], r["term"], r["tf"], r["score"]))
    dfs = {"alpha": 5, "beta": 2, "gamma": 1, "delta": 9}
    def score(t, tf):
        return tf * math.log(1 + 10 / dfs[t])
    for i, text in docs:
        toks = [t for t in text.split() if t in dfs]
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        want = sorted(((-score(t, c), t) for t, c in cnt.items()))[:2]
        have = sorted(got.get(i, []))
        assert [h[1] for h in have] == [t for _, t in want], i
        for (rk, t, tf, s), (ns, wt) in zip(have, want):
            assert tf == cnt[t] and abs(s - (-ns)) < 1e-12, (i, t)
    assert 3 not in got                       # empty doc -> no rows
    assert all(t != "zeta" for rows in got.values() for _, t, _, _ in rows)
    plan = kw._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must"):
        doc_keywords(d, terms, n_docs=10, k=0)


def test_phrase_slop(spark):
    """P46: backward-reachability proximity matching == brute-force
    python chain search on random position sets, the documented greedy
    counterexample is matched correctly, slop=0 equals the adjacency
    path, and the guard raises."""
    import itertools
    import random

    from spidey_search_engine_spark.operators.search import (
        phrase_match_counts)

    def rows_for(doc_positions):
        rows = []
        for d, per_term in doc_positions.items():
            for t, pos in per_term.items():
                rows.append((d, t, [int(p) for p in sorted(pos)], False))
        return spark.createDataFrame(
            rows, "doc_id long, term string, positions array<long>, "
                  "important boolean")

    def brute(per_term, phrase, slop):
        if any(t not in per_term for t in phrase):
            return 0
        def chain(prev, i):
            if i == len(phrase):
                return True
            return any(prev < p <= prev + slop + 1 and chain(p, i + 1)
                       for p in per_term[phrase[i]])
        return sum(1 for p0 in per_term[phrase[0]] if chain(p0, 1))

    # the greedy counterexample from the kernel docstring: slop=2,
    # start 4 -> window (4,7] holds {5,7}; greedy 5 dies at (5,8],
    # but 4 -> 7 -> 9 is valid
    cx = {0: {"a": [4], "b": [5, 7], "c": [9]}}
    got = {r["doc_id"]: r["m"] for r in
           phrase_match_counts(rows_for(cx), ["a", "b", "c"],
                               slop=2).collect()}
    assert got == {0: 1}

    rng = random.Random(31)
    docs = {}
    for d in range(40):
        per = {}
        for t in "abc":
            per[t] = sorted(rng.sample(range(30), rng.randint(1, 6)))
        docs[d] = per
    rdf = rows_for(docs)
    for phrase, slop in itertools.product(
            [["a", "b"], ["a", "b", "c"], ["c", "a"]], [0, 1, 3]):
        got = {r["doc_id"]: r["m"] for r in
               phrase_match_counts(rdf, phrase, slop=slop).collect()}
        want = {d: brute(per, phrase, slop) for d, per in docs.items()}
        want = {d: m for d, m in want.items() if m > 0}
        assert got == want, (phrase, slop)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="slop"):
        phrase_match_counts(rdf, ["a", "b"], slop=-1)


def test_facet_counts(spark, tmp_path):
    """P47: OR vs AND match sets against a python reference over a tiny
    built index, multi-facet union shape, NULL facet values counted
    under their own bucket, and guards."""
    from spidey_search_engine_spark.operators import build as B
    from spidey_search_engine_spark.operators.search import facet_counts

    rows = [
        (0, "alpha beta gamma", "en", "s1"),
        (1, "alpha alpha delta", "en", "s2"),
        (2, "beta beta beta", "de", "s1"),
        (3, "gamma delta", "de", None),
        (4, "epsilon zeta", "fr", "s3"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, lang string, source string")
    out = str(tmp_path / "idx")
    corpus = docs.select(
        "doc_id", F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string"))
        .alias("path"), F.lit("c0").alias("commit"), "lang", "content")
    B.build_index(spark, corpus, out,
                  profile="simple", seg_bits=4, n_buckets=4)
    idx = B.load_index(spark, out)
    dmeta = docs.select("doc_id", "lang", "source")

    def facets(ids, col_i, col):
        c = {}
        for r in rows:
            if r[0] in ids:
                c[(col, str(r[col_i]) if r[col_i] is not None else None)] \
                    = c.get((col, str(r[col_i]) if r[col_i] is not None
                             else None), 0) + 1
        return c

    terms = ["alpha", "gamma"]
    any_ids = {0, 1, 3}     # doc 3: NULL source, matches gamma
    all_ids = {0}
    got_any = {(r["facet"], r["value"]): r["n_docs"] for r in
               facet_counts(idx, dmeta, terms, ["lang", "source"]).collect()}
    want = {**facets(any_ids, 2, "lang"), **facets(any_ids, 3, "source")}
    assert got_any == want
    assert got_any[("source", None)] == 1     # NULL facet value counted
    got_all = {(r["facet"], r["value"]): r["n_docs"] for r in
               facet_counts(idx, dmeta, terms, ["lang"],
                            mode="all").collect()}
    assert got_all == facets(all_ids, 2, "lang")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        facet_counts(idx, dmeta, terms, ["lang"], mode="or")
    with _pytest.raises(ValueError, match="facet_cols"):
        facet_counts(idx, dmeta, terms, [])


def test_more_like_this(spark, tmp_path):
    """P48: the composed MLT result equals keywords-then-bm25 done by
    hand through the same public APIs, the source doc never appears,
    and an all-OOV source returns empty."""
    from spidey_search_engine_spark.operators import build as B
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_tokens, more_like_this)
    from spidey_search_engine_spark.operators.report import doc_keywords

    rows = [(i, " ".join(
        ["spark"] * (1 + i % 3) + ["merge"] * (i % 2) +
        [f"word{i % 5}", f"word{(i + 1) % 5}", "tail"]))
        for i in range(30)] + [(99, "zzz qqq xxx")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path / "idx")
    corpus = docs.select(
        "doc_id", F.lit("r").alias("repo"),
        F.concat(F.lit("d/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"), F.lit("en").alias("lang"), "content")
    B.build_index(spark, corpus, out, profile="simple", seg_bits=4,
                  n_buckets=4)
    idx = B.load_index(spark, out)

    got = more_like_this(spark, idx, docs, doc_id=4, k_terms=3,
                         k=5).collect()
    kw = doc_keywords(docs.filter(F.col("doc_id") == 4), idx["terms"],
                      int(idx["stats"]["n_docs"]), k=3)
    terms = [r["term"] for r in kw.orderBy("rank").collect()]
    assert len(terms) == 3
    want = [r for r in bm25_topk_tokens(spark, idx, terms, 6).collect()
            if r["doc_id"] != 4][:5]
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in want]
    assert all(r["doc_id"] != 4 for r in got)
    # doc 99's vocabulary IS indexed (it's in the corpus), so it has
    # keywords; a doc absent from the docs table yields no terms/rows
    empty = more_like_this(spark, idx, docs, doc_id=12345, k_terms=3, k=5)
    assert empty.count() == 0


def test_cli_query_facets_mlt_slop(spark, tmp_path, capsys):
    """CLI surface for P46-P48: --facets prints per-facet counts from
    the index docs table, --more-like ranks related docs from --corpus,
    --slop reaches the parity phrase path, and the arg contracts fail
    fast."""
    import json

    from spidey_search_engine_spark.cli import main

    rows = [(i, " ".join(["alpha"] * (1 + i % 2) + ["beta", f"w{i % 4}"]))
            for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    src, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    docs.write.parquet(src)
    corpus = docs.select(
        "doc_id", F.concat(F.lit("r"), (F.col("doc_id") % 3).cast("string"))
        .alias("repo"),
        F.concat(F.lit("d/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"), F.lit("en").alias("lang"), "content")
    corpus.write.mode("overwrite").parquet(str(tmp_path / "c2"))
    from spidey_search_engine_spark.operators.build import build_index
    build_index(spark, corpus, idx, profile="simple", seg_bits=4,
                n_buckets=4)

    def run(argv):
        rc = main(argv)
        assert rc == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    fac_all = run(["query", "--index", idx, "--q", "alpha beta",
                   "--facets", "lang", "--facets-mode", "all"])
    fac_any = run(["query", "--index", idx, "--q", "alpha beta",
                   "--facets", "lang", "--facets-mode", "any"])
    assert (sum(r["n_docs"] for r in fac_all)
            <= sum(r["n_docs"] for r in fac_any))
    fac = run(["query", "--index", idx, "--q", "alpha", "--facets",
               "repo,lang"])
    by = {(r["facet"], r["value"]): r["n_docs"] for r in fac}
    assert by[("lang", "en")] == 12
    assert sum(v for (f, _), v in by.items() if f == "repo") == 12

    mlt = run(["query", "--index", idx, "--more-like", "0", "--corpus",
               src, "--k", "3"])
    assert len(mlt) == 3 and all(r["doc_id"] != 0 for r in mlt)

    exact = run(["query", "--index", idx, "--q", '"alpha w1"',
                 "--parity", "--k", "12"])
    sloppy = run(["query", "--index", idx, "--q", '"alpha w1"',
                  "--parity", "--k", "12", "--slop", "1"])
    # slop widens (or keeps) the phrase match set
    assert {r["doc_id"] for r in exact if r["is_phrase"]} <= \
        {r["doc_id"] for r in sloppy if r["is_phrase"]}

    import pytest as _pytest
    for bad in (["query", "--index", idx, "--more-like", "0"],
                ["query", "--index", idx, "--q", "x", "--slop", "1"],
                ["query", "--index", idx],
                ["query", "--index", idx, "--more-like", "0", "--corpus",
                 src, "--facets", "repo"],
                ["query", "--index", idx, "--q", "x", "--facets", "repo",
                 "--fuzzy"],
                ["query", "--index", idx, "--more-like", "0", "--corpus",
                 src, "--parity"],
                ["query", "--index", idx, "--q", "x", "--corpus", src]):
        with _pytest.raises(SystemExit):
            main(bad)


def test_cli_more_like_raw_corpus(spark, tmp_path, capsys):
    """--more-like on a RAW (repo,path,...,content) corpus parquet with
    no doc_id column: the CLI derives the same dense (repo,path)-ordered
    ids the build assigned, so --more-like N names the document the
    index knows as N (regression: this used to raise UNRESOLVED_COLUMN
    on exactly the spark-submit corpus shape from BASELINE.json)."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import (assign_doc_ids,
                                                            build_index)
    from spidey_search_engine_spark.operators.search import more_like_this

    rows = [(f"r{i % 3}", f"d/{i}", "c0", "py",
             " ".join(["alpha"] * (1 + i % 2) + ["beta", f"w{i % 4}"]))
            for i in range(12)]
    raw = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    src, idx = str(tmp_path / "raw_corpus"), str(tmp_path / "idx")
    raw.write.parquet(src)
    build_index(spark, raw, idx, profile="simple", seg_bits=4, n_buckets=4)

    rc = main(["query", "--index", idx, "--more-like", "2", "--corpus",
               src, "--k", "3"])
    assert rc == 0
    got = [json.loads(line) for line in
           capsys.readouterr().out.strip().splitlines()
           if line.startswith("{")]
    assert len(got) == 3 and all(r["doc_id"] != 2 for r in got)

    # byte-equal to calling the operator on the explicitly re-derived ids
    from spidey_search_engine_spark.operators.build import load_index
    want = more_like_this(spark, load_index(spark, idx),
                          assign_doc_ids(spark.read.parquet(src)),
                          2, k=3).collect()
    assert [(r["doc_id"], r["score"]) for r in want] == \
        [(r["doc_id"], r["score"]) for r in got]


def test_token_grams_kernel_lockstep(spark):
    """The Arrow gram kernel (with_token_grams) is token-for-token equal
    to the JVM expression form across n, multi-n concat order, distinct
    mode, NULL text, and unicode — the contract that lets the
    gram-heavy operators swap construction paths without semantic
    drift."""
    from pyspark.sql import functions as F

    from spidey_search_engine_spark.functions.textstats import (
        _token_ngrams, _tokens, with_token_grams)
    rows = [(0, "Alpha beta-GAMMA_1 alpha beta"), (1, ""), (2, None),
            (3, "solo"), (4, "Ünïcode stays ascii_only 123 split"),
            (5, "a a a a a")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    for ns in [(1,), (3,), (1, 2), (2, 5)]:
        toks = _tokens(F.col("content"))
        parts = [_token_ngrams(toks, n) for n in ns]
        expr = F.concat(*parts) if len(parts) > 1 else parts[0]
        want = {r["doc_id"]: r["g"] for r in
                df.select("doc_id", expr.alias("g")).collect()}
        got = {r["doc_id"]: r["_grams"] for r in
               with_token_grams(df, "content", "_grams", ns=ns).collect()}
        assert got == want, ns
    # distinct mode: first-occurrence order
    got_d = {r["doc_id"]: r["_grams"] for r in
             with_token_grams(df, "content", "_grams", ns=(1,),
                              distinct=True).collect()}
    assert got_d[0] == ["alpha", "beta", "gamma_1"]
    assert got_d[5] == ["a"]
    import pytest as _pytest
    with _pytest.raises(ValueError, match=">= 1"):
        with_token_grams(df, "content", "_grams", ns=(0,))
    with _pytest.raises(ValueError, match="already exists"):
        with_token_grams(df, "content", "content")


def test_shingles_kernel_matches_expression(spark):
    """shingles_df's Arrow kernel path is row-identical to the original
    tokens_col/ngrams_col expression chain (incl. docs shorter than n,
    empty, and within-doc duplicate shingles deduped)."""
    from spidey_search_engine_spark.operators.dedup import (
        ngrams_col, tokens_col, shingles_df)
    rows = [(0, "Alpha beta gamma alpha beta gamma"), (1, "two toks"),
            (2, ""), (3, "a b c d e a b c")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    for n in (1, 2, 3):
        t = tokens_col("content")
        expr = (df.withColumn("_t", t).filter(F.size("_t") >= n)
                .select(F.col("doc_id").alias("id"),
                        F.explode(ngrams_col(F.col("_t"), n))
                        .alias("shingle")).distinct())
        got = shingles_df(df, n=n)
        assert got.exceptAll(expr).count() == 0, n
        assert expr.exceptAll(got).count() == 0, n


def test_corpus_diff(spark):
    """P49: all four statuses against a hand-built fixture, sha_col
    fast path ≡ in-scan hashing, summary breakdown keeps removed docs
    visible as NULL, and changed_ids is exactly added ∪ changed."""
    from spidey_search_engine_spark.operators.diffing import (
        changed_ids, corpus_diff, corpus_diff_summary)
    old = spark.createDataFrame(
        [(1, "same"), (2, "was this"), (3, "gone")],
        "doc_id long, content string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "now this"), (4, "brand new")],
        "doc_id long, content string")
    got = {r["doc_id"]: r["status"] for r in
           corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added"}
    # precomputed-sha fast path gives the identical answer
    o2 = old.withColumn("sha", F.sha2("content", 256))
    n2 = new.withColumn("sha", F.sha2("content", 256))
    got2 = {r["doc_id"]: r["status"] for r in
            corpus_diff(o2, n2, sha_col="sha").collect()}
    assert got2 == got
    assert sorted(r["doc_id"] for r in
                  changed_ids(old, new).collect()) == [2, 4]
    new_by = new.withColumn("lang", F.lit("en"))
    s = {(r["status"], r["lang"]): r["n_docs"] for r in
         corpus_diff_summary(old, new_by, by=["lang"]).collect()}
    assert s[("removed", None)] == 1      # no new-side row -> NULL lang
    assert s[("changed", "en")] == 1 and s[("added", "en")] == 1
    # NULL content is inside the corpus contract: presence markers, not
    # sha nullability, decide added/removed; NULL==NULL is unchanged
    o3 = spark.createDataFrame([(1, None), (2, "x"), (3, None)],
                               "doc_id long, content string")
    n3 = spark.createDataFrame([(1, None), (2, None), (4, None)],
                               "doc_id long, content string")
    got3 = {r["doc_id"]: r["status"] for r in
            corpus_diff(o3, n3).collect()}
    assert got3 == {1: "unchanged", 2: "changed", 3: "removed",
                    4: "added"}


def test_token_grams_kernel_unicode_property(spark):
    """Property: the Arrow kernel and the JVM expression tokenize
    IDENTICALLY across adversarial unicode — case-mapping expansion
    (İ -> i+combining dot), final sigma, ligatures, astral plane,
    controls — because the kernel's python str.lower() must keep parity
    with Spark's UTF8String lowercase or every gram-derived score
    silently drifts on non-ASCII corpora."""
    import random

    from pyspark.sql import functions as F

    from spidey_search_engine_spark.functions.textstats import (
        _token_ngrams, _tokens, with_token_grams)
    rng = random.Random(47)
    alphabet = list("abz09_ ") + ["İ", "ı", "ß", "Σ", "ς", "Ω", "ﬁ",
                                  "Ａ", "𝔘", "😀", "\t", "\n", "é", "Ç",
                                  "İ", "ß", "ẞ"]
    rows = [(i, "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(0, 40))))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    want = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", _token_ngrams(_tokens(F.col("content")), 2)
        .alias("g")).collect()}
    got = {r["doc_id"]: r["_g"] for r in
           with_token_grams(df, "content", "_g", ns=(2,)).collect()}
    assert got == want


def test_cli_report(spark, tmp_path, capsys):
    """`report` subcommand: whole-corpus and grouped stats, repetition
    summary bounds, vocab coverage from a real index, and quantile
    validation."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators.build import build_index

    rows = [(i, ["en", "de"][i % 2],
             " ".join(f"w{j % 9}" for j in range(10 + i % 5)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, "
                                       "content string")
    src, idx = str(tmp_path / "c"), str(tmp_path / "i")
    docs.write.parquet(src)
    corpus = docs.select(
        "doc_id", F.lit("r").alias("repo"),
        F.concat(F.lit("d/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"), "lang", "content")
    build_index(spark, corpus, idx, profile="simple", seg_bits=4,
                n_buckets=4)

    rc = main(["report", "--input", src, "--index", idx,
               "--vocab-sizes", "3,9,100000"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["groups"]) == 1
    g = out["groups"][0]
    assert g["n_docs"] == 40 and "_all" not in g
    assert g["total_tokens"] == sum(10 + i % 5 for i in range(40))
    assert 0 < out["repetition"]["mean_dup_5gram_char_frac"] <= 1
    assert out["vocab_coverage"]["100000"] == 1.0
    assert out["vocab_coverage"]["3"] < out["vocab_coverage"]["9"] <= 1.0

    rc = main(["report", "--input", src, "--group-by", "lang"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(r["lang"] for r in out2["groups"]) == ["de", "en"]
    assert sum(r["n_docs"] for r in out2["groups"]) == 40

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["report", "--input", src, "--quantiles", "bogus"])


def test_cli_forks_and_diff(spark, tmp_path, capsys):
    """`forks` and `diff` subcommands: fork families + canonical pick
    survive the write/read round trip with a correct summary line, and
    diff counts all four statuses (with --output persisting per-doc
    statuses)."""
    import json

    from spidey_search_engine_spark.cli import main

    base = [f"file body {i}" for i in range(10)]
    rows = ([("up", f) for f in base]
            + [("fk", f) for f in base[:9]]
            + [("other", f"different {i}") for i in range(8)])
    src = str(tmp_path / "files")
    spark.createDataFrame(rows, "repo string, content string") \
        .write.parquet(src)
    out = str(tmp_path / "forks")
    rc = main(["forks", "--input", src, "--output", out,
               "--threshold", "0.5"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"repos": 3, "fork_pairs": 1, "canonical_repos": 2,
                     "forks_dropped": 1, "threshold": 0.5, "mode": "lsh"}
    cl = {r["repo"]: r["canon"] for r in
          spark.read.parquet(out + "/clusters").collect()}
    assert cl == {"up": 1, "fk": 0, "other": 1}

    old_d, new_d, diff_out = (str(tmp_path / n)
                              for n in ("old", "new", "diffout"))
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                          "doc_id long, content string").write.parquet(old_d)
    spark.createDataFrame([(1, "a"), (2, "B2"), (4, "d")],
                          "doc_id long, content string").write.parquet(new_d)
    rc = main(["diff", "--old", old_d, "--new", new_d,
               "--output", diff_out])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s == {"added": 1, "removed": 1, "changed": 1, "unchanged": 1}
    per_doc = {r["doc_id"]: r["status"] for r in
               spark.read.parquet(diff_out).collect()}
    assert per_doc[4] == "added" and per_doc[3] == "removed"


def test_bm25_exclude_and_wildcard(spark, tmp_path, capsys):
    """P50: must-not anti-join and wildcard expansion against hand
    references over a tiny index, expansion cap by df, unknown exclusion
    is a no-op, and the CLI paths (--not, token*) incl. the
    default-path-only contract."""
    import json

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators import build as B
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_excluding, bm25_topk_tokens, bm25_topk_wildcard,
        expand_wildcard)

    rows = [
        (0, "sort merge join plan"),
        (1, "sort merge spill disk"),
        (2, "sortkey stuff and things"),
        (3, "merge only document here"),
        (4, "sorted sorting sorts"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    idx_dir = str(tmp_path / "idx")
    corpus = docs.select(
        "doc_id", F.lit("r").alias("repo"),
        F.concat(F.lit("d/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"), F.lit("en").alias("lang"), "content")
    # CODE profile: the CLI analyzes --q/--not with the query chain
    # (stemming), so the index must be the matching profile — a simple
    # index would store "merge" while the CLI probes "merg"
    B.build_index(spark, corpus, idx_dir, profile="code", seg_bits=4,
                  n_buckets=4)
    idx = B.load_index(spark, idx_dir)

    # token-level ops take ANALYZED terms: "merg" is the stored stem
    base = {r["doc_id"] for r in
            bm25_topk_tokens(spark, idx, ["merg"], 10).collect()}
    assert base == {0, 1, 3}
    got = {r["doc_id"] for r in bm25_topk_excluding(
        spark, idx, ["merg"], ["spill"], k=10).collect()}
    assert got == {0, 3}                       # doc 1 contains spill
    # scores of survivors are UNCHANGED by exclusion
    s_base = {r["doc_id"]: r["score"] for r in
              bm25_topk_tokens(spark, idx, ["merg"], 10).collect()}
    for r in bm25_topk_excluding(spark, idx, ["merg"], ["spill"],
                                 k=10).collect():
        assert r["score"] == s_base[r["doc_id"]]
    assert {r["doc_id"] for r in bm25_topk_excluding(
        spark, idx, ["merg"], ["zzzz"], k=10).collect()} == base

    # wildcard prefixes match the STORED (stemmed) dictionary:
    # sorted/sorting/sorts all stem to "sort" (df 3), sortkey stays
    exp = expand_wildcard(idx, "sort", max_terms=10)
    assert set(exp) == {"sort", "sortkey"}
    assert exp[0] == "sort"                    # df-descending order
    assert len(expand_wildcard(idx, "sort", max_terms=1)) == 1
    wc = {r["doc_id"] for r in bm25_topk_wildcard(
        spark, idx, ["plan"], ["sort"], k=10).collect()}
    assert wc == {0, 1, 2, 4}                  # every sort* doc + plan's

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    cli_ex = run(["query", "--index", idx_dir, "--q", "merge",
                  "--not", "spill", "--k", "10"])
    assert {r["doc_id"] for r in cli_ex} == {0, 3}
    cli_wc = run(["query", "--index", idx_dir, "--q", "plan sort*",
                  "--k", "10"])
    assert {r["doc_id"] for r in cli_wc} == {0, 1, 2, 4}
    # bag multiplicity survives exclusion and wildcard composition:
    # a repeated term scores identically with/without a vacuous --not
    # or an unrelated wildcard (review finding: dedup must only apply
    # to the expansions, never the caller's bag)
    dbl = {r["doc_id"]: r["score"] for r in
           bm25_topk_tokens(spark, idx, ["merg", "merg"], 10).collect()}
    dbl_ex = {r["doc_id"]: r["score"] for r in bm25_topk_excluding(
        spark, idx, ["merg", "merg"], ["zzzz"], k=10).collect()}
    assert dbl_ex == dbl
    dbl_wc = {r["doc_id"]: r["score"] for r in bm25_topk_wildcard(
        spark, idx, ["merg", "merg"], ["zzznope"], k=10).collect()}
    assert dbl_wc == dbl

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx_dir, "--q", "merge", "--not", "x",
              "--parity"])
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx_dir, "--q", "sort*", "--parity"])
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx_dir, "--q", 'a "bar* baz"'])
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx_dir, "--q", "merge",
              "--not", '"sort merge"'])


def test_bm25_must_and_bm25f(spark, tmp_path, capsys):
    """Boolean must (+term) and the BM25F-lite important boost: semi-join
    before top-k, unknown must term -> empty, must+not composition,
    w=1 byte-identical to the plain ranker, and the CLI +term /
    --boost-important paths incl. fail-fast contracts."""
    import json

    import pytest as _pytest

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators import build as B
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_boolean, bm25_topk_must, bm25_topk_tokens,
        bm25f_topk_tokens)

    rows = [
        (0, "sort merge join plan", "d/0"),
        (1, "sort merge spill disk", "d/1"),
        (2, "stuff merge and things", "x/stuff"),  # 'stuff' = title token
        (3, "merge only document here", "d/3"),
        (4, "spill plan merge disk", "d/4"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string, "
                                       "path string")
    idx_dir = str(tmp_path / "idx")
    corpus = docs.select(
        "doc_id", F.lit("r").alias("repo"), "path",
        F.lit("c0").alias("commit"), F.lit("en").alias("lang"), "content")
    B.build_index(spark, corpus, idx_dir, profile="code", seg_bits=4,
                  n_buckets=4)
    idx = B.load_index(spark, idx_dir)

    base = {r["doc_id"]: r["score"] for r in
            bm25_topk_tokens(spark, idx, ["merg"], 10).collect()}
    assert set(base) == {0, 1, 2, 3, 4}
    # +spill: only docs containing spill survive; survivor scores are
    # UNCHANGED (must is a filter on the same scored set)
    got = {r["doc_id"]: r["score"] for r in bm25_topk_must(
        spark, idx, ["merg"], ["spill"], k=10).collect()}
    assert set(got) == {1, 4} and all(got[d] == base[d] for d in got)
    # two must terms = AND of both
    assert {r["doc_id"] for r in bm25_topk_must(
        spark, idx, ["merg"], ["spill", "plan"], k=10).collect()} == {4}
    # unknown must term matches nothing (Lucene MUST-on-unknown)
    assert bm25_topk_must(
        spark, idx, ["merg"], ["zzzz"], k=10).count() == 0
    # vacuous must preserves bag multiplicity (same invariance contract
    # as --not / wildcard)
    dbl = {r["doc_id"]: r["score"] for r in
           bm25_topk_tokens(spark, idx, ["merg", "merg"], 10).collect()}
    assert {r["doc_id"]: r["score"] for r in bm25_topk_must(
        spark, idx, ["merg", "merg"], [], k=10).collect()} == dbl
    # must + not compose: spill docs minus plan docs
    both = {r["doc_id"] for r in bm25_topk_boolean(
        spark, idx, ["merg"], must=["spill"], exclude=["plan"],
        k=10).collect()}
    assert both == {1}

    # BM25F-lite: w=1 is byte-identical to the plain ranker
    f1 = {r["doc_id"]: r["score"] for r in bm25f_topk_tokens(
        spark, idx, ["merg", "stuff"], k=10,
        important_weight=1.0).collect()}
    plain = {r["doc_id"]: r["score"] for r in bm25_topk_tokens(
        spark, idx, ["merg", "stuff"], 10).collect()}
    assert f1 == plain
    # w=2 raises ONLY the doc whose matched posting carries the
    # important bit ('stuff' is a path token of doc 2)
    f2 = {r["doc_id"]: r["score"] for r in bm25f_topk_tokens(
        spark, idx, ["merg", "stuff"], k=10,
        important_weight=2.0).collect()}
    assert f2[2] > plain[2]
    assert all(f2[d] == plain[d] for d in plain if d != 2)
    with _pytest.raises(ValueError):
        bm25f_topk_tokens(spark, idx, ["merg"], important_weight=0.0)

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    # CLI: +spill filters AND scores (doc 4 has 2 q-term hits ->
    # outranks its plain-'merge' score ordering)
    cli_must = run(["query", "--index", idx_dir, "--q", "merge +spill",
                    "--k", "10"])
    assert {r["doc_id"] for r in cli_must} == {1, 4}
    cli_boost = run(["query", "--index", idx_dir, "--q", "merge stuff",
                     "--boost-important", "1.0", "--k", "10"])
    cli_plain = run(["query", "--index", idx_dir, "--q", "merge stuff",
                     "--k", "10"])
    assert cli_boost == cli_plain
    cli_b2 = {r["doc_id"]: r["score"] for r in
              run(["query", "--index", idx_dir, "--q", "merge stuff",
                   "--boost-important", "2.0", "--k", "10"])}
    assert cli_b2[2] > dict((r["doc_id"], r["score"])
                            for r in cli_plain)[2]
    # composition: +term with --not on the default path
    cli_combo = run(["query", "--index", idx_dir,
                     "--q", "merge +spill", "--not", "plan", "--k", "10"])
    assert {r["doc_id"] for r in cli_combo} == {1}

    for bad in (
        ["query", "--index", idx_dir, "--q", "merge +spill", "--parity"],
        ["query", "--index", idx_dir, "--q", "merge +"],
        ["query", "--index", idx_dir, "--q", "merge +spill*"],
        ["query", "--index", idx_dir, "--q", 'merge +"a b"'],
        ["query", "--index", idx_dir, "--q", "merge",
         "--boost-important", "0"],
        ["query", "--index", idx_dir, "--q", "merge",
         "--boost-important", "2", "--parity"],
    ):
        with _pytest.raises(SystemExit):
            main(bad)


def test_wildcard_prefix_index(spark, tmp_path, capsys):
    """P50 scale path: the prefix-partitioned dictionary projection —
    expansion equality with the scan path, PartitionFilters on p1 in the
    probe plan, default CLI-build materialization, and stale-table
    removal under --no-wildcard-index."""
    import json
    import os

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators import build as B
    from spidey_search_engine_spark.operators.search import expand_wildcard
    from spidey_search_engine_spark.operators.wildcard import (
        expand_wildcard_pruned, prefix_terms_dir, write_prefix_terms)

    rows = [
        (0, "sort merge join plan"),
        (1, "sort merge spill disk"),
        (2, "sortkey stuff and things"),
        (3, "merge only document here"),
        (4, "sorted sorting sorts"),
    ]
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "doc_id long, content string").select(
        "doc_id", F.lit("r").alias("repo"),
        F.concat(F.lit("d/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"), F.lit("en").alias("lang"),
        "content").write.parquet(corpus_dir)
    idx_dir = str(tmp_path / "idx")

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    # CLI build materializes <output>/prefix by default
    run(["build", "--input", corpus_dir, "--output", idx_dir,
         "--profile", "code", "--seg-bits", "4", "--n-buckets", "4"])
    assert os.path.isdir(prefix_terms_dir(idx_dir))
    idx = B.load_index(spark, idx_dir)
    assert "prefix_terms" in idx

    # pruned expansion == scan expansion (same terms, same df-desc order)
    scan_idx = {k: v for k, v in idx.items() if k != "prefix_terms"}
    for pfx, cap in (("sort", 10), ("sort", 1), ("s", 10), ("zz", 10)):
        assert (expand_wildcard(idx, pfx, cap)
                == expand_wildcard(scan_idx, pfx, cap))
    assert set(expand_wildcard(idx, "sort", 10)) == {"sort", "sortkey"}

    # the probe plan prunes partitions on p1 (one directory read);
    # p1 is the first char's CODEPOINT — int partition values survive
    # non-UTF8 JVM file.encoding (Arabic terms under spark-submit)
    probe = idx["prefix_terms"].filter(
        (F.col("p1") == F.ascii(F.lit("s")))
        & F.col("term").startswith("sort"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "p1" in plan.split(
        "PartitionFilters")[1][:200]

    # CLI wildcard query runs over the pruned path
    got = run(["query", "--index", idx_dir, "--q", "plan sort*",
               "--k", "10"])
    assert {r["doc_id"] for r in got} == {0, 1, 2, 4}

    # mid-token globs: literal head prunes, anchored regex verifies;
    # pruned path == scan path; leading/bare stars fail fast
    import pytest as _pytest

    from spidey_search_engine_spark.operators.wildcard import split_glob
    assert split_glob("so") == ("so", None)
    assert split_glob("s*t") == ("s", "^s.*t$")
    assert split_glob("a*b*c") == ("a", "^a.*b.*c$")
    with _pytest.raises(ValueError):
        split_glob("*abc")
    with _pytest.raises(ValueError):
        split_glob("")
    # glob expansion over the stemmed dictionary: s*t matches the terms
    # starting 's' and ending 't' ("sort" — sortkey ends 'y')
    assert expand_wildcard(idx, "s*t", 10) == ["sort"]
    assert (expand_wildcard(idx, "s*t", 10)
            == expand_wildcard(scan_idx, "s*t", 10))
    cli_mid = run(["query", "--index", idx_dir, "--q", "plan s*t",
                   "--k", "10"])
    assert {r["doc_id"] for r in cli_mid} == {0, 1, 4}  # sort docs + plan
    for bad in ("plan *or*", "plan *", "plan **", "plan +s*t"):
        with _pytest.raises(SystemExit):
            main(["query", "--index", idx_dir, "--q", bad])

    # rebuild with --no-wildcard-index removes the now-stale tables
    # (both projections)
    from spidey_search_engine_spark.operators.wildcard import \
        suffix_terms_dir
    out = run(["build", "--input", corpus_dir, "--output", idx_dir,
               "--profile", "code", "--seg-bits", "4", "--n-buckets", "4",
               "--no-wildcard-index"])
    assert out[-1].get("stale_wildcard_index_removed") is True
    assert not os.path.isdir(prefix_terms_dir(idx_dir))
    assert not os.path.isdir(suffix_terms_dir(idx_dir))
    reloaded = B.load_index(spark, idx_dir)
    assert "prefix_terms" not in reloaded
    assert "suffix_terms" not in reloaded


def test_wildcard_stale_layout_guard(spark, tmp_path, capsys):
    """A projection written under the PRE-codepoint layout (p1 = raw
    first CHAR, a string partition column) must load as None — probing
    it with int codepoints would silently match nothing — and a
    write.mode('overwrite') heal must restore full service. Also pins
    that non-ASCII (Arabic) first characters land in plain-int
    partition directories, the bug that motivated the codepoint
    layout."""
    from spidey_search_engine_spark.operators.wildcard import (
        expand_wildcard_pruned, load_prefix_terms, prefix_terms_dir,
        write_prefix_terms)

    idx_dir = str(tmp_path / "idx")
    terms = spark.createDataFrame(
        [("sort", 3), ("sortkey", 1), ("merge", 2), ("كتب", 1)],
        "term string, df int")

    # simulate the old layout: p1 = raw first character (string)
    out = prefix_terms_dir(idx_dir)
    (terms.withColumn("p1", F.substring("term", 1, 1))
     .write.mode("overwrite").partitionBy("p1").parquet(out))
    capsys.readouterr()
    assert load_prefix_terms(spark, idx_dir) is None
    assert "stale p1 partition layout" in capsys.readouterr().err

    # the dtype check's blind spot: an old layout over all-digit-leading
    # terms writes dirs p1=0..9, which partition inference reads as INT —
    # the sampled-row codepoint check must still reject it ('0' is
    # codepoint 48, stored value 0)
    digit_terms = spark.createDataFrame(
        [("0day", 2), ("3sum", 1), ("9patch", 1)], "term string, df int")
    (digit_terms.withColumn("p1", F.substring("term", 1, 1))
     .write.mode("overwrite").partitionBy("p1").parquet(out))
    capsys.readouterr()
    assert load_prefix_terms(spark, idx_dir) is None
    assert "stale p1 partition values" in capsys.readouterr().err

    # heal: overwrite with the codepoint layout, loader accepts it
    write_prefix_terms(terms, idx_dir)
    pt = load_prefix_terms(spark, idx_dir)
    assert pt is not None and dict(pt.dtypes)["p1"] == "int"
    assert expand_wildcard_pruned(pt, "sort*", 10) == ["sort", "sortkey"]
    # the Arabic term's partition directory is a plain int, safe under
    # any JVM file.encoding
    import os as _os
    dirs = {d for d in _os.listdir(out) if d.startswith("p1=")}
    assert f"p1={ord('ك')}" in dirs
    assert all(d.split("=", 1)[1].isdigit() for d in dirs)
    assert expand_wildcard_pruned(pt, "كت*", 10) == ["كتب"]


def test_wildcard_suffix_index(spark, tmp_path, capsys):
    """Leading wildcards over the reversed-term (suffix) projection:
    routing, bijection with a brute-force fnmatch reference, expansion
    equality with the scan fallback, PartitionFilters in the probe
    plan, default CLI-build materialization, and the CLI surface."""
    import fnmatch
    import json
    import os

    import pytest as _pytest

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators import build as B
    from spidey_search_engine_spark.operators.search import expand_wildcard
    from spidey_search_engine_spark.operators.wildcard import (
        expand_wildcard_suffix, route_glob, suffix_terms_dir)

    # routing: forward literals stay on the prefix path, a leading star
    # with a literal tail goes to the suffix path, unanchored forms fail
    assert route_glob("sort") == "prefix"
    assert route_glob("so*t") == "prefix"
    assert route_glob("*ort") == "suffix"
    assert route_glob("*o*t") == "suffix"
    assert route_glob("*x*") == "ngram"
    assert route_glob("*a*b*") == "ngram"
    for bad in ("", "*", "**"):
        with _pytest.raises(ValueError):
            route_glob(bad)

    rows = [
        (0, "sort merge join plan"),
        (1, "sort merge spill disk"),
        (2, "sortkey stuff and things"),
        (3, "merge only document here"),
        (4, "sorted sorting sorts"),
    ]
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "doc_id long, content string").select(
        "doc_id", F.lit("r").alias("repo"),
        F.concat(F.lit("d/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"), F.lit("en").alias("lang"),
        "content").write.parquet(corpus_dir)
    idx_dir = str(tmp_path / "idx")

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    # CLI build materializes <output>/suffix by default
    run(["build", "--input", corpus_dir, "--output", idx_dir,
         "--profile", "code", "--seg-bits", "4", "--n-buckets", "4"])
    assert os.path.isdir(suffix_terms_dir(idx_dir))
    idx = B.load_index(spark, idx_dir)
    assert "suffix_terms" in idx

    # bijection vs a brute-force fnmatch reference over the full
    # dictionary, and suffix-path == scan-fallback equality (same terms,
    # same df-desc/term order, same cap behavior)
    vocab = [(r["term"], r["df"])
             for r in idx["terms"].select("term", "df").collect()]
    scan_idx = {k: v for k, v in idx.items() if k != "suffix_terms"}
    for pat, cap in (("*ort", 10), ("*t", 10), ("*o*n", 10),
                     ("*zz", 10), ("*ort", 1)):
        expected = [t for t, _ in sorted(
            ((t, d) for t, d in vocab if fnmatch.fnmatchcase(t, pat)),
            key=lambda td: (-td[1], td[0]))][:cap]
        assert expand_wildcard(idx, pat, cap) == expected
        assert expand_wildcard(scan_idx, pat, cap) == expected
    assert set(expand_wildcard(idx, "*ort", 10)) == {"sort"}
    assert set(expand_wildcard(idx, "*o*n", 10)) == {"join"}

    # direct-module misuse fails fast
    with _pytest.raises(ValueError):
        expand_wildcard_suffix(idx["suffix_terms"], "sort*")

    # the probe plan prunes partitions on p1 (one directory read per
    # last-character codepoint)
    probe = idx["suffix_terms"].filter(
        (F.col("p1") == F.ascii(F.lit("t")))
        & F.col("term_rev").startswith("tro"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "p1" in plan.split(
        "PartitionFilters")[1][:200]

    # CLI leading-wildcard query runs end-to-end: *ort expands to sort
    got = run(["query", "--index", idx_dir, "--q", "plan *ort",
               "--k", "10"])
    assert {r["doc_id"] for r in got} == {0, 1, 4}
    # ... and scores identically to spelling the expansion out
    spelled = run(["query", "--index", idx_dir, "--q", "plan sort",
                   "--k", "10"])
    assert ({r["doc_id"]: r["score"] for r in got}
            == {r["doc_id"]: r["score"] for r in spelled})

    # exclusion wildcards EXPAND: --not sort* drops the sortkey doc too
    # (previously the analyzer silently dropped the star and excluded
    # only 'sort'); leading-star exclusions ride the suffix projection
    ex = run(["query", "--index", idx_dir, "--q", "merge plan",
              "--not", "sort*", "--k", "10"])
    assert {r["doc_id"] for r in ex} == {3}
    ex2 = run(["query", "--index", idx_dir, "--q", "stuff merge",
               "--not", "*ort", "--k", "10"])
    assert {r["doc_id"] for r in ex2} == {2, 3}
    with _pytest.raises(SystemExit):
        main(["query", "--index", idx_dir, "--q", "merge",
              "--not", "*"])


def test_wildcard_ngram_index(spark, tmp_path, capsys):
    """Infix wildcards (`*x*`) over the opt-in n-gram term projection:
    bijection with a brute-force fnmatch reference, fail-fast contracts
    (short literal run, missing table, flag conflict), PartitionFilters
    in the probe plan, refresh-in-place on rebuild, and the CLI
    surface."""
    import fnmatch
    import json
    import os

    import pytest as _pytest

    from spidey_search_engine_spark.cli import main
    from spidey_search_engine_spark.operators import build as B
    from spidey_search_engine_spark.operators.search import expand_wildcard
    from spidey_search_engine_spark.operators.wildcard import (
        expand_wildcard_ngram, ngram_terms_dir)

    rows = [
        (0, "sort merge join plan"),
        (1, "sort merge spill disk"),
        (2, "sortkey stuff and things"),
        (3, "merge only document here"),
        (4, "sorted sorting sorts"),
    ]
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, "doc_id long, content string").select(
        "doc_id", F.lit("r").alias("repo"),
        F.concat(F.lit("d/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"), F.lit("en").alias("lang"),
        "content").write.parquet(corpus_dir)
    idx_dir = str(tmp_path / "idx")

    def run(argv):
        assert main(argv) == 0
        return [json.loads(line) for line in
                capsys.readouterr().out.strip().splitlines()
                if line.startswith("{")]

    # opt-in build flag materializes <output>/ngram (+ meta with n)
    out = run(["build", "--input", corpus_dir, "--output", idx_dir,
               "--profile", "code", "--seg-bits", "4", "--n-buckets", "4",
               "--ngram-index"])
    assert out[-1].get("ngram_size") == 3
    assert os.path.isdir(ngram_terms_dir(idx_dir))
    idx = B.load_index(spark, idx_dir)
    assert "ngram_terms" in idx and idx["ngram_n"] == 3

    # bijection vs brute-force fnmatch over the dictionary, incl. the
    # cap and the no-match case
    vocab = [(r["term"], r["df"])
             for r in idx["terms"].select("term", "df").collect()]
    for pat, cap in (("*ort*", 10), ("*ill*", 10), ("*xyz*", 10),
                     ("*ort*", 1)):
        expected = [t for t, _ in sorted(
            ((t, d) for t, d in vocab if fnmatch.fnmatchcase(t, pat)),
            key=lambda td: (-td[1], td[0]))][:cap]
        assert expand_wildcard(idx, pat, cap) == expected
    assert set(expand_wildcard(idx, "*ort*", 10)) == {"sort", "sortkey"}

    # fail-fast contracts: literal run shorter than the gram size;
    # infix on an index without the table (NO silent |V| scan); module
    # misuse; flag conflict
    with _pytest.raises(ValueError, match="shorter than"):
        expand_wildcard(idx, "*or*", 10)
    no_ng = {k: v for k, v in idx.items()
             if k not in ("ngram_terms", "ngram_n")}
    with _pytest.raises(ValueError, match="ngram"):
        expand_wildcard(no_ng, "*ort*", 10)
    with _pytest.raises(ValueError):
        expand_wildcard_ngram(idx["ngram_terms"], 3, "sort*")
    with _pytest.raises(SystemExit):
        main(["build", "--input", corpus_dir, "--output", idx_dir,
              "--ngram-index", "--no-wildcard-index"])

    # the probe plan prunes partitions on g1 (one directory per gram
    # first-char codepoint)
    probe = idx["ngram_terms"].filter(
        (F.col("g1") == F.ascii(F.lit("o"))) & (F.col("gram") == "ort"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "g1" in plan.split(
        "PartitionFilters")[1][:200]

    # CLI infix query end-to-end: *ort* expands to {sort, sortkey}
    got = run(["query", "--index", idx_dir, "--q", "plan *ort*",
               "--k", "10"])
    assert {r["doc_id"] for r in got} == {0, 1, 2, 4}
    # unservable CLI patterns exit cleanly, not with a traceback
    for bad in ("plan *or*",):
        with _pytest.raises(SystemExit):
            main(["query", "--index", idx_dir, "--q", bad])

    # rebuild WITHOUT the flag refreshes the existing table in place
    # (never stale, never silently dropped)
    run(["build", "--input", corpus_dir, "--output", idx_dir,
         "--profile", "code", "--seg-bits", "4", "--n-buckets", "4"])
    idx2 = B.load_index(spark, idx_dir)
    assert "ngram_terms" in idx2
    assert set(expand_wildcard(idx2, "*ort*", 10)) == {"sort", "sortkey"}

    # --no-wildcard-index removes all three projections
    out = run(["build", "--input", corpus_dir, "--output", idx_dir,
               "--profile", "code", "--seg-bits", "4", "--n-buckets", "4",
               "--no-wildcard-index"])
    assert out[-1].get("stale_wildcard_index_removed") is True
    assert not os.path.isdir(ngram_terms_dir(idx_dir))
    assert "ngram_terms" not in B.load_index(spark, idx_dir)
