"""Driver-contract query implementations (__spark_entry__.py backend).

Each entry runs the REAL engine (index build → compressed postings → decode
→ score) and is paired with an ANSI-SQL oracle in ORACLE_SQL that DuckDB
runs on the same parquet — so the driver's correctness gate exercises
build_partials/merge_partials/compress/query_term_postings/bm25, not a toy
reimplementation.

Because the DuckDB oracle has no Porter2 stemmer (fts extension can't load
offline), these paired entries use the `simple` analyzer profile
(lowercase + split on [^a-z0-9_]+) — stemming parity is covered by the
pytest suite (tests/test_analysis.py, tests/test_search.py) and by the
rows-only entries. All floats are rounded to 6 decimals AND cast to double
on both sides; ties always break by doc_id/key ASC.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import build as B
from .operators import search as S
from .operators.pagerank import pagerank
from .sources.tables import documents_as_corpus, load_table

# fixed query-term sets (present in the driver's synthetic documents table)
QT = ["merge", "sort", "data", "fast", "scan"]
PHRASE = ["key", "order"]

_IDX_CACHE: dict[str, dict] = {}


def entry_index_dir(sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    return os.path.join("/tmp/spidey_entry_idx",
                        key.strip("/").replace("/", "_"))


WRITERS_STAMP = "_writers.sha256"
# indexes the entries derive from the cached one, beside it
_DERIVED_SUFFIXES = ("_chunked", "_fuzzy", "_resharded", "_fed_*")


def writers_digest() -> str:
    """sha256 over every package source: any code that writes the
    cached index, its derived siblings or the artifacts inside its dir
    is covered, with no module list to keep in step."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _stamp_of(out: str) -> str | None:
    try:
        with open(os.path.join(out, WRITERS_STAMP)) as f:
            return f.read().strip()
    except OSError:
        return None


def entry_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build (once per sf_dir) the simple-profile index over `documents`.
    A cached index is reused only when its stamp matches writers_digest;
    otherwise it, the artifacts cached inside it (ann_*, minhash_poly_sig,
    ingest_jsonl) and the indexes derived beside it are rebuilt, so the
    oracle gate never checks output older code wrote."""
    key = os.path.abspath(sf_dir)
    if key in _IDX_CACHE:
        return _IDX_CACHE[key]
    out = entry_index_dir(sf_dir)
    digest = writers_digest()
    if (_stamp_of(out) != digest
            or not os.path.exists(os.path.join(out, "stats"))):
        for d in [out] + [p for suf in _DERIVED_SUFFIXES
                          for p in glob.glob(glob.escape(out) + suf)]:
            shutil.rmtree(d, ignore_errors=True)
        corpus = documents_as_corpus(spark, sf_dir)
        B.build_index(spark, corpus, out, profile="simple", seg_bits=8,
                      n_buckets=8)
        with open(os.path.join(out, WRITERS_STAMP), "w") as f:
            f.write(digest)
    from .operators.wildcard import (load_ngram_terms, load_prefix_terms,
                                     load_suffix_terms, write_ngram_terms,
                                     write_prefix_terms, write_suffix_terms)
    # probe via the loaders, not isdir: a projection left by an older
    # layout (e.g. pre-codepoint string partitions) loads as None, and
    # write.mode("overwrite") self-heals it — the wildcard entries must
    # never run degraded against a cached /tmp index
    if load_prefix_terms(spark, out) is None:
        # bm25_wildcard_topk then runs over the partition-pruned
        # expansion path (the CLI-build default), same oracle
        write_prefix_terms(B.load_index(spark, out)["terms"], out)
    if load_suffix_terms(spark, out) is None:
        # ... and bm25_wildcard_suffix_topk over the reversed-term path
        write_suffix_terms(B.load_index(spark, out)["terms"], out)
    if load_ngram_terms(spark, out) is None:
        # ... and bm25_wildcard_infix_topk over the n-gram path
        write_ngram_terms(B.load_index(spark, out)["terms"], out, n=3)
    idx = B.load_index(spark, out)
    _IDX_CACHE[key] = idx
    return idx


def _r(col, n: int = 6):
    return F.round(col, n).cast("double")


# --- index/search family ---------------------------------------------------

def a1_term_freq(spark, sf_dir):
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT, int(idx["stats"]["n_buckets"]))
    return rows.select("term", "doc_id", F.col("tf").cast("long").alias("tf"))


def a3_important_flag(spark, sf_dir):
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT + ["doc"],
                                 int(idx["stats"]["n_buckets"]))
    return rows.select("term", "doc_id",
                       F.col("important").cast("int").alias("important"))


def a5_doc_freq(spark, sf_dir):
    idx = entry_index(spark, sf_dir)
    return idx["terms"].select("term", "df", "cf")


def stats_global(spark, sf_dir):
    idx = entry_index(spark, sf_dir)
    return spark.createDataFrame(
        [(int(idx["stats"]["n_docs"]), float(idx["stats"]["avgdl"]))],
        "n_docs long, avgdl double").select(
            "n_docs", _r(F.col("avgdl")).alias("avgdl_r"))


def a2_positions(spark, sf_dir):
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], ["merge"],
                                 int(idx["stats"]["n_buckets"]),
                                 with_positions=True)
    return rows.select("doc_id", F.explode("positions").alias("pos")) \
        .select("doc_id", F.col("pos").cast("long").alias("pos"))


def bm25_topk_fixed(spark, sf_dir):
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT, int(idx["stats"]["n_buckets"]))
    scores = S.bm25_scores(rows, idx, QT)
    return (scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
            .select("doc_id", _r(F.col("score")).alias("score_r")))


def bm25_pruned_topk(spark, sf_dir):
    """Same oracle as bm25_topk_fixed — proves block-max pruning exactness
    against an independent engine: the segment kernel
    (search.score_segments, via bm25_topk_colocated_tokens) skips every
    segment whose bound cannot beat the running k-th score, and has no
    fallback that could route around that machinery."""
    idx = entry_index(spark, sf_dir)
    out = S.bm25_topk_colocated_tokens(spark, idx, QT, k=20)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"))


def parity_relevance_fixed(spark, sf_dir):
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT, int(idx["stats"]["n_buckets"]))
    scored = S.parity_word_scores(rows, idx, QT)
    return scored.select("doc_id", _r(F.col("relevance")).alias("relevance_r"),
                         "important")


def phrase_match_fixed(spark, sf_dir):
    """Phrase adjacency through the two-pass decode (phrase_posting_rows):
    doc-gap pass → per-term doc-set intersection → positions decoded only
    for surviving segments/docs. Same result as the one-pass full decode."""
    idx = entry_index(spark, sf_dir)
    rows = S.phrase_posting_rows(idx, PHRASE)
    m = S.phrase_match_counts(rows, PHRASE)
    return m.select("doc_id", "m")


def two_stage_topk(spark, sf_dir):
    """Q8 two-stage shape with a SQL-expressible static score (1000/n_chars
    stands in for page_rank): stage-1 candidates by relevance, stage-2
    reorder by relevance × static."""
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT, int(idx["stats"]["n_buckets"]))
    rel = S.parity_word_scores(rows, idx, QT).select("doc_id", "relevance")
    stage1 = rel.orderBy(F.desc("relevance"), F.asc("doc_id")).limit(20)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # broadcast the 20-row candidate set into the doc-dim scan, not vice versa
    stage2 = (docs.join(F.broadcast(stage1), "doc_id")
              .withColumn("score", F.col("relevance") * 1000.0 / F.col("n_chars")))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (stage2.withColumn("rank", F.row_number().over(w))
            .select("doc_id", _r(F.col("score")).alias("score_r"), "rank"))


def snippet_first_match(spark, sf_dir):
    """F11 snippet: ±2-token window around the FIRST 'merge' occurrence."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                    lambda x: x != F.lit(""))
    d = d.select("doc_id", toks.alias("t")) \
        .withColumn("p", F.array_position(F.col("t"), "merge")) \
        .filter(F.col("p") > 0)
    start = F.greatest(F.lit(1), F.col("p") - 2)
    end = F.least(F.size("t"), F.col("p") + 2)
    return d.select(
        "doc_id",
        F.array_join(F.slice("t", start, end - start + 1), " ").alias("snippet"))


# --- relational family (generic operators used inside the engine) ----------

def tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(_r(F.sum("l_quantity")).alias("sum_qty"),
                 _r(F.sum("l_extendedprice")).alias("sum_base_price"),
                 _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    ).alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


def top_customers(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
           .groupBy("c_custkey", "c_name")
           .agg(_r(F.sum("o_totalprice")).alias("revenue_r"),
                F.count("*").alias("n_orders")))
    return rev.orderBy(F.desc("revenue_r"), F.asc("c_custkey")).limit(10)


def window_running_sum(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select("event_id", "user_id",
                    _r(F.sum("value").over(w)).alias("running_r"))


def pagerank_2iter(spark, sf_dir):
    """G3 power iteration (2 fixed rounds, reference damping quirk) over a
    deterministic graph derived from lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select((F.col("l_orderkey") % 50).alias("src_doc_id"),
                      (F.col("l_partkey") % 50).alias("dst_doc_id"))
    nodes = spark.range(50).select(F.col("id").alias("doc_id"))
    ranks = pagerank(spark, edges, 50, mode="reference", tol=-1.0,
                     max_iter=2, all_doc_ids=nodes)
    return ranks.select("doc_id", _r(F.col("page_rank"), 9).alias("pr_r"))


# --- training-data pipeline family ------------------------------------------

def dedup_exact(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy(F.sha2(F.col("text"), 256).alias("content_sha"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_doc_id")))


def _planted_docs(spark, sf_dir):
    """Deterministic near/exact-duplicate-planted corpus derived from the
    documents table — both engines rebuild it identically, so the dedup
    oracles compare NON-EMPTY pair sets (the round-1 ngram entry matched on
    0 vs 0 rows, proving nothing)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = (d.filter(F.col("doc_id") < 20)
            .select((F.col("doc_id") + 10000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" near duplicate suffix tokens appended"))
                    .alias("text")))
    exact = (d.filter(F.col("doc_id") < 10)
             .select((F.col("doc_id") + 20000).alias("doc_id"), "text"))
    return (d.filter(F.col("doc_id") < 60)
            .unionByName(near).unionByName(exact))


_PLANTED_SQL_BODY = """planted AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 10000, text || ' near duplicate suffix tokens appended'
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 20000, text FROM documents WHERE doc_id < 10
)"""

# tokens + distinct 3-gram shingles over the planted corpus (DuckDB form of
# dedup.shingles_df: same split regex, same slice/concat, same >=3 filter)
_SHINGLE_SQL = """toks AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM planted
), sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id, unnest(list_transform(range(len(t) - 2),
                      i -> array_to_string(t[i+1:i+3], ' '))) AS shingle
    FROM toks WHERE len(t) >= 3)
)"""


def dedup_ngram_jaccard(spark, sf_dir):
    """3-gram token-shingle Jaccard over the duplicate-planted corpus,
    pairs with jaccard ≥ 0.05 — exercises the engine's shingles_df +
    jaccard_pairs operators and is guaranteed non-vacuous (the planted
    exact copies alone yield jaccard-1.0 pairs)."""
    from .operators.dedup import jaccard_pairs, shingles_df
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    sh = shingles_df(d)
    jac = jaccard_pairs(sh, None, threshold=0.05)
    return jac.select(F.col("id_a").alias("doc_a"),
                      F.col("id_b").alias("doc_b"),
                      _r(F.col("jaccard")).alias("jaccard_r"))


def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-20 vs vec_id=0 (the exact baseline the LSH
    path must recall-match)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")).collect()[0]["qv"]
    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(F.zip_with(F.col("embedding"), qlit,
                                 lambda a, b: a.cast("double") * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(
        F.transform(c, lambda a: a.cast("double") * a.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (norm(F.col("embedding")) * norm(qlit))
    return (e.filter(F.col("vec_id") != 0)
            .select("vec_id", _r(cos).alias("cos_r"), cos.alias("_c"))
            .orderBy(F.desc("_c"), F.asc("vec_id")).limit(20)
            .select("vec_id", "cos_r"))


def ann_batch_topk(spark, sf_dir):
    """Batch exact cosine: THREE query vectors scored in ONE scan
    (operators/similarity.brute_force_cosine_topk_batch — per-Arrow-batch
    (B×dim)·(dim×Q) matmul, local top-k per query, one global window
    rank). The eval-workload analog of bm25_batch_topk: at Q queries the
    embedding table is read once, not Q times."""
    from .operators.similarity import brute_force_cosine_topk_batch
    e = load_table(spark, sf_dir, "embeddings")
    qrows = (e.filter(F.col("vec_id").isin(0, 1, 2))
             .select("vec_id", "embedding").collect())
    queries = {f"v{r['vec_id']}": [float(x) for x in r["embedding"]]
               for r in qrows}
    res = brute_force_cosine_topk_batch(e, queries, k=10)
    # cos rounded at 5 (not 6) decimals: the batch kernel's numpy matmul
    # sums pairwise/SIMD while DuckDB's list_cosine_similarity folds
    # sequentially — last-ulp differences straddle the 1e-6 boundary on
    # ~1/50 values. 1e-5 granularity is summation-order-stable; ranks
    # still come from the unrounded scores.
    return res.select("query_id", F.col("id").alias("vec_id"),
                      _r(F.col("cos"), 5).alias("cos_r"),
                      F.col("rank").cast("int").alias("rank"))


def text_quality(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                    lambda x: x != F.lit(""))
    alpha = F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        _r(alpha / F.length("text")).alias("alpha_ratio_r"))


def lang_markers(spark, sf_dir):
    """n-gram-free language-ID heuristic: marker-word hit counts."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                    lambda x: x != F.lit(""))
    en = ["the", "and", "of", "to", "in", "is"]
    es = ["el", "la", "de", "que", "y", "los"]
    hits = lambda ws: F.size(F.filter(toks, lambda x: x.isin(ws))).cast("long")
    return d.select("doc_id", hits(en).alias("en_hits"), hits(es).alias("es_hits"))


_BATCH_BAGS = {
    "b1": ["merge", "sort"],
    "b2": ["data", "fast", "scan"],
    "b3": ["merge", "data", "merge"],  # duplicate term: 2× idf weight
}


def bm25_batch_topk(spark, sf_dir):
    """Batch BM25: three queries scored in ONE job on the segment-
    colocated kernel bm25_topk_batch runs (union-term probe, bytes-only
    shuffle, per-segment top-k — operators/search.
    bm25_scores_batch_colocated) + per-query window rank. The bags are
    already-analyzed tokens of the simple-profile index, so they enter
    the kernel directly rather than through bm25_topk_batch's query
    analyzer. The eval-workload shape: shared terms decode once for all
    queries. Oracle-paired with the same (query_id, term) VALUES bag,
    duplicates carrying bag-semantics multiplicity on both sides."""
    idx = entry_index(spark, sf_dir)
    scores = S.bm25_scores_batch_colocated(idx, _BATCH_BAGS, k=10)
    wnd = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                 F.asc("doc_id"))
    return (scores.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= 10)
            .select("query_id", "doc_id", _r(F.col("score"))
                    .alias("score_r"), F.col("rank").cast("int")
                    .alias("rank")))


def multimodal_meta(spark, sf_dir):
    """Opaque-binary plumbing check: byte length + sha256 of the payload
    column treated as binary (decode itself is stubbed, operators/multimodal)."""
    d = load_table(spark, sf_dir, "documents")
    bin_col = F.encode(F.col("text"), "UTF-8")
    return d.select("doc_id",
                    F.octet_length(bin_col).cast("long").alias("n_bytes"),
                    F.sha2(bin_col, 256).alias("payload_sha"))


def multimodal_png_decode(spark, sf_dir):
    """REAL PNG decode as an oracle-paired entry (round-2 verdict #7 —
    stub label removed for PNG): deterministic synthetic RGB PNGs
    (pixel(r,c,ch) = (doc_id·31 + r·7 + c·3 + ch·11) mod 256, w=8+id%9,
    h=8+id%7) are ENCODED to real PNG bytes (encode_png) and decoded back
    through the production stdlib-zlib decoder (decode_png — zlib inflate
    + scanline unfilter), then reduced to exact integer per-channel pixel
    sums. DuckDB recomputes the sums from the same closed-form pixel rule
    without ever seeing a PNG byte — so a decoder bug (wrong unfilter,
    wrong stride, channel swap) breaks the hash match."""
    from .operators.multimodal import decode_png, encode_png

    def gen(batches):
        import pandas as _pd
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 8 + i % 9, 8 + i % 7
                r = np.arange(h)[:, None, None]
                c = np.arange(w)[None, :, None]
                k = np.arange(3)[None, None, :]
                arr = ((i * 31 + r * 7 + c * 3 + k * 11) % 256) \
                    .astype(np.uint8)
                px = decode_png(encode_png(arr))
                s = px.astype(np.int64).sum(axis=(0, 1))
                rows.append((i, w, h, int(s[0]), int(s[1]), int(s[2])))
            yield _pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "sum_r", "sum_g", "sum_b"])

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        gen, "doc_id long, width int, height int, "
             "sum_r long, sum_g long, sum_b long")


def multimodal_resize_png(spark, sf_dir):
    """REAL PNG resize as an oracle-paired entry: the same closed-form
    synthetic RGB PNGs as multimodal_png_decode are encoded, resized to
    6×4 through the production nearest-neighbor kernel (resize_png:
    decode_png → index sampling → encode_png), decoded back, and reduced
    to exact per-channel pixel sums. DuckDB recomputes the sums by
    applying the pixel-center sampling rule floor((i+0.5)·src/dst)
    directly to the closed-form pixel formula — wrong sampling indices,
    a re-encode bug, or channel swap breaks the hash match."""
    from .operators.multimodal import decode_png, encode_png, resize_png

    def gen(batches):
        import pandas as _pd
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 8 + i % 9, 8 + i % 7
                r = np.arange(h)[:, None, None]
                c = np.arange(w)[None, :, None]
                k = np.arange(3)[None, None, :]
                arr = ((i * 31 + r * 7 + c * 3 + k * 11) % 256) \
                    .astype(np.uint8)
                out = decode_png(resize_png(encode_png(arr), 6, 4))
                s = out.astype(np.int64).sum(axis=(0, 1))
                rows.append((i, int(s[0]), int(s[1]), int(s[2])))
            yield _pd.DataFrame(rows, columns=[
                "doc_id", "rsum_r", "rsum_g", "rsum_b"])

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        gen, "doc_id long, rsum_r long, rsum_g long, rsum_b long")


def multimodal_y4m_frames(spark, sf_dir):
    """REAL video frame-sampling as an oracle-paired entry: deterministic
    synthetic mono Y4M clips (w = 4+2·(id%5), h = 4+2·(id%3),
    n = 3+id%9 frames, luma(f,r,c) = (id·13 + f·17 + r·5 + c·3) mod 256)
    are ENCODED to real YUV4MPEG2 bytes (encode_y4m) and run through the
    production video_frame_features operator in STRICT mode (every 2nd
    frame, decode_y4m kernel), then rolled up per doc: frame count,
    sampled-frame count, total sampled luma. DuckDB recomputes all three
    from the closed-form rule without seeing a Y4M byte — a header-parse,
    frame-stride or sampling bug breaks the hash match."""
    from .operators.multimodal import encode_y4m, video_frame_features

    def gen(batches):
        import pandas as _pd
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h, n = 4 + 2 * (i % 5), 4 + 2 * (i % 3), 3 + i % 9
                f = np.arange(n)[:, None, None]
                r = np.arange(h)[None, :, None]
                c = np.arange(w)[None, None, :]
                y = ((i * 13 + f * 17 + r * 5 + c * 3) % 256) \
                    .astype(np.uint8)
                rows.append((i, encode_y4m(y)))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    payloads = d.mapInPandas(gen, "doc_id long, payload binary")
    frames = video_frame_features(payloads, every_n=2, fake=False)
    return (frames.groupBy("doc_id")
            .agg(F.max("n_frames").alias("n_frames"),
                 F.count("*").cast("int").alias("frames_sampled"),
                 F.sum("y_sum").alias("ysum_total")))


def multimodal_wav_decode(spark, sf_dir):
    """REAL WAV decode as an oracle-paired entry (stub label removed for
    WAV, mirroring multimodal_png_decode): deterministic synthetic PCM16
    mono fixtures (sr cycles {8000,16000,22050,44100} by doc_id%4,
    n = 500 + (doc_id%37)·16 samples, s[t] = (doc_id·7 + t·13) mod 2003
    − 1001) are ENCODED to real RIFF/WAVE bytes (encode_wav) and decoded
    back through the production stdlib-struct decoder (decode_wav), then
    reduced to exact integers: decoded sample rate, sample count, raw PCM
    sum, byte length. DuckDB recomputes all four from the closed-form rule
    without ever seeing a WAV byte — a header-parse or sample-decode bug
    breaks the hash match."""
    from .operators.multimodal import decode_wav, encode_wav

    def gen(batches):
        import pandas as _pd
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                sr = (8000, 16000, 22050, 44100)[i % 4]
                n = 500 + (i % 37) * 16
                t = np.arange(n, dtype=np.int64)
                s = ((i * 7 + t * 13) % 2003 - 1001).astype(np.int16)
                wav = encode_wav(s, sr)
                dsr, _bits, raw = decode_wav(wav)
                rows.append((i, int(dsr), int(raw.shape[0]),
                             int(raw.sum()), len(wav)))
            yield _pd.DataFrame(rows, columns=[
                "doc_id", "sample_rate", "n_samples", "pcm_sum", "n_bytes"])

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        gen, "doc_id long, sample_rate int, n_samples long, "
             "pcm_sum long, n_bytes long")


QUERIES = {
    "a1_term_freq": a1_term_freq,
    "a2_positions": a2_positions,
    "a3_important_flag": a3_important_flag,
    "a5_doc_freq": a5_doc_freq,
    "stats_global": stats_global,
    "bm25_topk_fixed": bm25_topk_fixed,
    "bm25_pruned_topk": bm25_pruned_topk,
    "parity_relevance_fixed": parity_relevance_fixed,
    "phrase_match_fixed": phrase_match_fixed,
    "two_stage_topk": two_stage_topk,
    "snippet_first_match": snippet_first_match,
    "tpch_q1": tpch_q1,
    "top_customers": top_customers,
    "window_running_sum": window_running_sum,
    "pagerank_2iter": pagerank_2iter,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_batch_topk": ann_batch_topk,
    "text_quality": text_quality,
    "lang_markers": lang_markers,
    "bm25_batch_topk": bm25_batch_topk,
    "multimodal_meta": multimodal_meta,
    "multimodal_png_decode": multimodal_png_decode,
    "multimodal_resize_png": multimodal_resize_png,
    "multimodal_wav_decode": multimodal_wav_decode,
    "multimodal_y4m_frames": multimodal_y4m_frames,
}

_TOKS = ("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), "
         "x -> x <> '')")
_QT_SQL = "('merge'),('sort'),('data'),('fast'),('scan')"

_BASE_CTES = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), occ AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
  FROM toks
), tfc AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM occ GROUP BY 1, 2
), dl AS (
  SELECT doc_id, len(t)::BIGINT AS dl FROM toks
), st AS (
  SELECT count(*)::BIGINT AS n, avg(dl)::DOUBLE AS avgdl FROM dl
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tfc GROUP BY 1
)"""

ORACLE_SQL = {
    "a1_term_freq": _BASE_CTES + f"""
SELECT term, doc_id, tf FROM tfc WHERE term IN (VALUES {_QT_SQL})""",

    "a2_positions": _BASE_CTES + """
SELECT doc_id, pos::BIGINT AS pos FROM occ WHERE term = 'merge'""",

    "a3_important_flag": _BASE_CTES + f"""
SELECT term, doc_id,
       CASE WHEN term = 'doc' OR term = CAST(doc_id AS VARCHAR)
            THEN 1 ELSE 0 END AS important
FROM tfc WHERE term IN (VALUES {_QT_SQL}) OR term = 'doc'""",

    "a5_doc_freq": _BASE_CTES + """
SELECT term, df, cf FROM dfreq""",

    "stats_global": _BASE_CTES + """
SELECT n AS n_docs, CAST(round(avgdl, 6) AS DOUBLE) AS avgdl_r FROM st""",

    "bm25_topk_fixed": _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, CAST(round(s, 6) AS DOUBLE) AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20""",

    "parity_relevance_fixed": _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL})
SELECT tfc.doc_id,
       CAST(round(sum(tfc.tf * (1 + ln(tfc.tf)) * ln(1 + st.n / dfreq.df)), 6)
            AS DOUBLE) AS relevance_r,
       max(CASE WHEN tfc.term = 'doc'
                 OR tfc.term = CAST(tfc.doc_id AS VARCHAR)
            THEN 1 ELSE 0 END)::INT AS important
FROM tfc JOIN q USING (term) JOIN dfreq USING (term) CROSS JOIN st
GROUP BY tfc.doc_id""",

    "phrase_match_fixed": _BASE_CTES + """
SELECT a.doc_id, count(*)::BIGINT AS m
FROM occ a JOIN occ b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'key' AND b.term = 'order'
GROUP BY a.doc_id""",

    "two_stage_topk": _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
rel AS (
  SELECT tfc.doc_id,
         sum(tfc.tf * (1 + ln(tfc.tf)) * ln(1 + st.n / dfreq.df)) AS relevance
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term) CROSS JOIN st
  GROUP BY tfc.doc_id
),
stage1 AS (
  SELECT * FROM rel ORDER BY relevance DESC, doc_id ASC LIMIT 20
),
stage2 AS (
  SELECT s.doc_id, s.relevance * 1000.0 / d.n_chars AS score
  FROM stage1 s JOIN documents d USING (doc_id)
)
SELECT doc_id, CAST(round(score, 6) AS DOUBLE) AS score_r,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM stage2""",

    "snippet_first_match": _BASE_CTES + """
SELECT doc_id,
       array_to_string(
         t[greatest(1, list_position(t, 'merge') - 2) :
           least(len(t), list_position(t, 'merge') + 2)], ' ') AS snippet
FROM toks WHERE list_position(t, 'merge') IS NOT NULL
          AND list_position(t, 'merge') > 0""",

    "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 6) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 6) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 6) AS DOUBLE)
         AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "top_customers": """
SELECT c_custkey, c_name,
       CAST(round(sum(o_totalprice), 6) AS DOUBLE) AS revenue_r,
       count(*)::BIGINT AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue_r DESC, c_custkey ASC LIMIT 10""",

    "window_running_sum": """
SELECT event_id, user_id,
       CAST(round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING), 6) AS DOUBLE)
         AS running_r
FROM events""",

    "pagerank_2iter": """
WITH e AS (
  SELECT DISTINCT l_orderkey % 50 AS src, l_partkey % 50 AS dst
  FROM lineitem WHERE l_orderkey % 50 <> l_partkey % 50
), outdeg AS (
  SELECT src, count(*)::DOUBLE AS od FROM e GROUP BY 1
), nodes AS (
  SELECT range AS doc_id FROM range(50)
), r0 AS (
  SELECT doc_id, 1.0 / 50 AS r FROM nodes
), it1 AS (
  SELECT n.doc_id,
         0.85 * coalesce(sum(r0.r / outdeg.od), 0) + (1.0 - 0.85 / 50) AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.doc_id
  LEFT JOIN outdeg ON outdeg.src = e.src
  LEFT JOIN r0 ON r0.doc_id = e.src
  GROUP BY n.doc_id
), it2 AS (
  SELECT n.doc_id,
         0.85 * coalesce(sum(it1.r / outdeg.od), 0) + (1.0 - 0.85 / 50) AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.doc_id
  LEFT JOIN outdeg ON outdeg.src = e.src
  LEFT JOIN it1 ON it1.doc_id = e.src
  GROUP BY n.doc_id
)
SELECT doc_id, CAST(round(r, 9) AS DOUBLE) AS pr_r FROM it2""",

    "dedup_exact": """
SELECT sha256(text) AS content_sha, count(*)::BIGINT AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1""",

    "dedup_ngram_jaccard": f"""
WITH {_PLANTED_SQL_BODY},
{_SHINGLE_SQL}
, cnt AS (
  SELECT id, count(*)::BIGINT AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.id AS doc_a, b.id AS doc_b, count(*)::BIGINT AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(round(i * 1.0 / (ca.n + cb.n - i), 6) AS DOUBLE) AS jaccard_r
FROM inter
JOIN cnt ca ON ca.id = doc_a
JOIN cnt cb ON cb.id = doc_b
WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.05""",

    "ann_cosine_topk": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       CAST(round(list_cosine_similarity(embedding, q.qv), 6) AS DOUBLE)
         AS cos_r
FROM embeddings, q WHERE vec_id <> 0
ORDER BY list_cosine_similarity(embedding, q.qv) DESC, vec_id ASC LIMIT 20""",

    "ann_batch_topk": """
WITH q AS (
  SELECT 'v' || vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding, q.qv) AS c
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(round(c, 5) AS DOUBLE) AS cos_r,
       rank::INT AS rank
FROM ranked WHERE rank <= 10""",

    "text_quality": f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS t FROM documents
)
SELECT doc_id, len(t)::BIGINT AS n_tokens,
       CAST(round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  * 1.0 / length(text), 6) AS DOUBLE) AS alpha_ratio_r
FROM toks""",

    "lang_markers": f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
)
SELECT doc_id,
       len(list_filter(t, x -> x IN ('the','and','of','to','in','is')))::BIGINT
         AS en_hits,
       len(list_filter(t, x -> x IN ('el','la','de','que','y','los')))::BIGINT
         AS es_hits
FROM toks""",

    "bm25_batch_topk": _BASE_CTES + """,
q(query_id, term) AS (VALUES
  ('b1','merge'),('b1','sort'),
  ('b2','data'),('b2','fast'),('b2','scan'),
  ('b3','merge'),('b3','data'),('b3','merge')),
scores AS (
  SELECT q.query_id, tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY q.query_id, tfc.doc_id
), ranked AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT query_id, doc_id, CAST(round(s, 6) AS DOUBLE) AS score_r,
       rank::INT AS rank
FROM ranked WHERE rank <= 10""",
    "multimodal_meta": """
SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
       sha256(text) AS payload_sha
FROM documents""",
    "multimodal_png_decode": """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, k.k,
         ((d.doc_id*31 + r.r*7 + c.c*3 + k.k*11) % 256)::BIGINT AS v
  FROM dims d
  JOIN (SELECT unnest(generate_series(0, 13)) AS r) r ON r.r < d.h
  JOIN (SELECT unnest(generate_series(0, 16)) AS c) c ON c.c < d.w
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS k) k
)
SELECT doc_id, max(w)::INT AS width, max(h)::INT AS height,
       sum(CASE WHEN k = 0 THEN v ELSE 0 END)::BIGINT AS sum_r,
       sum(CASE WHEN k = 1 THEN v ELSE 0 END)::BIGINT AS sum_g,
       sum(CASE WHEN k = 2 THEN v ELSE 0 END)::BIGINT AS sum_b
FROM px GROUP BY doc_id""",
    "multimodal_resize_png": """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents
), px AS (
  SELECT d.doc_id, k.k,
         ((d.doc_id * 31
           + LEAST(floor((ro.r + 0.5) * d.h / 4)::BIGINT, d.h - 1) * 7
           + LEAST(floor((co.c + 0.5) * d.w / 6)::BIGINT, d.w - 1) * 3
           + k.k * 11) % 256)::BIGINT AS v
  FROM dims d
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r) ro
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS c) co
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS k) k
)
SELECT doc_id,
       sum(CASE WHEN k = 0 THEN v ELSE 0 END)::BIGINT AS rsum_r,
       sum(CASE WHEN k = 1 THEN v ELSE 0 END)::BIGINT AS rsum_g,
       sum(CASE WHEN k = 2 THEN v ELSE 0 END)::BIGINT AS rsum_b
FROM px GROUP BY doc_id""",
    "multimodal_y4m_frames": """
WITH g AS (
  SELECT doc_id, 4 + 2 * (doc_id % 5) AS w, 4 + 2 * (doc_id % 3) AS h,
         3 + doc_id % 9 AS n
  FROM documents
), s AS (
  SELECT g.doc_id, g.n, f.f,
         ((g.doc_id * 13 + f.f * 17 + r.r * 5 + c.c * 3) % 256)::BIGINT AS v
  FROM g
  JOIN (SELECT unnest(generate_series(0, 11)) AS f) f
    ON f.f < g.n AND f.f % 2 = 0
  JOIN (SELECT unnest(generate_series(0, 9)) AS r) r ON r.r < g.h
  JOIN (SELECT unnest(generate_series(0, 13)) AS c) c ON c.c < g.w
)
SELECT doc_id, max(n)::INT AS n_frames,
       count(DISTINCT f)::INT AS frames_sampled,
       sum(v)::BIGINT AS ysum_total
FROM s GROUP BY doc_id""",
    "multimodal_wav_decode": """
WITH g AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               WHEN 2 THEN 22050 ELSE 44100 END) AS sr,
         500 + (doc_id % 37) * 16 AS n
  FROM documents
), s AS (
  SELECT g.doc_id, g.sr, g.n,
         ((g.doc_id * 7 + t.t * 13) % 2003) - 1001 AS v
  FROM g JOIN (SELECT unnest(generate_series(0, 1075)) AS t) t ON t.t < g.n
)
SELECT doc_id, max(sr)::INT AS sample_rate, max(n)::BIGINT AS n_samples,
       sum(v)::BIGINT AS pcm_sum, (44 + 2 * max(n))::BIGINT AS n_bytes
FROM s GROUP BY doc_id""",
}

ORACLE_SQL["bm25_pruned_topk"] = ORACLE_SQL["bm25_topk_fixed"]


# --- additional operator coverage (round 1 extension) -----------------------

def q11_or_match(spark, sf_dir):
    """Q11 image-search-style OR scorer: #matched query terms per doc, no tf
    (QueryResultsFetcher.java:326-349)."""
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT,
                                 int(idx["stats"]["n_buckets"]))
    return (rows.groupBy("doc_id")
            .agg(F.countDistinct("term").alias("hits"))
            .orderBy(F.desc("hits"), F.asc("doc_id")).limit(20))


def q12_prefix_search(spark, sf_dir):
    """Q12 suggestion prefix search (QueryRepository.java:14-15) over the
    part-name dimension (the testdata analog of the `queries` table)."""
    p = load_table(spark, sf_dir, "part")
    return (p.filter(F.col("p_name").startswith("s"))
            .select("p_partkey", "p_name")
            .orderBy("p_name", "p_partkey").limit(5))


def q7_history_join(spark, sf_dir):
    """Q7 personalization left join: history derived from events
    (user_id=7, doc_id = event_id mod 500), BIT_OR-style in_history flag."""
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT,
                                 int(idx["stats"]["n_buckets"]))
    rel = S.parity_word_scores(rows, idx, QT).select("doc_id", "relevance")
    ev = load_table(spark, sf_dir, "events")
    hist = (ev.filter(F.col("user_id") == 7)
            .select((F.col("event_id") % 500).alias("doc_id"))
            .distinct().withColumn("in_history", F.lit(1)))
    out = (rel.join(F.broadcast(hist), "doc_id", "left")
           .na.fill({"in_history": 0}))
    return (out.orderBy(F.desc("in_history"), F.desc("relevance"),
                        F.asc("doc_id")).limit(20)
            .select("doc_id", _r(F.col("relevance")).alias("relevance_r"),
                    "in_history"))


def quality_features(spark, sf_dir):
    from .functions.textstats import with_quality_score
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    q = with_quality_score(d)
    return q.select("doc_id", "n_tokens",
                    _r(F.col("alpha_ratio")).alias("alpha_ratio_r"),
                    _r(F.col("punct_ratio")).alias("punct_ratio_r"),
                    _r(F.col("stopword_ratio")).alias("stopword_ratio_r"))


def lang_id_pred(spark, sf_dir):
    from .functions.textstats import with_lang_id
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    return with_lang_id(d).select("doc_id", "lang_pred")


def bpe_token_estimate(spark, sf_dir):
    from .functions.textstats import with_bpe_token_estimate
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    return with_bpe_token_estimate(d).select("doc_id", "n_bpe_est")


def minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs + exact-Jaccard verify, oracle-paired:
    the SQL-expressible polynomial hash (functions/hashing.py) is injected
    on BOTH sides so DuckDB runs the identical LSH math (signatures,
    banding, candidate join, verify). 8 hashes × 4 bands over the planted
    corpus; the planted exact copies guarantee non-empty output."""
    from .functions.hashing import poly_hash
    from .operators.dedup import minhash_lsh_dedup
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    return minhash_lsh_dedup(d, num_hashes=8, bands=4, threshold=0.2,
                             hash_expr=poly_hash,
                             band_hash_expr=poly_hash).select(
        "id_a", "id_b", _r(F.col("jaccard")).alias("jaccard_r"))


def stratified_sample_docs(spark, sf_dir):
    """Deterministic training-mix quota draw: exactly 3 docs per lang,
    ranked by the salted injectable hash (operators/sampling.
    stratified_sample) — oracle-paired row-for-row, not statistically."""
    from .functions.hashing import poly_hash
    from .operators.sampling import stratified_sample
    d = load_table(spark, sf_dir, "documents")
    return (stratified_sample(d, ["lang"], 3, hash_expr=poly_hash)
            .select("doc_id", "lang", "smp_rank"))


def hash_sample_docs(spark, sf_dir):
    """Shuffle-free deterministic ~10% sample (operators/sampling.
    hash_fraction_sample): pure scan-local hash-threshold filter — the
    100-TB sampling path; stable under corpus growth."""
    from .functions.hashing import poly_hash
    from .operators.sampling import hash_fraction_sample
    d = load_table(spark, sf_dir, "documents")
    return (hash_fraction_sample(d, 0.1, hash_expr=poly_hash)
            .select("doc_id", "lang"))


def mix_sample_docs(spark, sf_dir):
    """Training-mix recipe: per-language fractions (50% en, 20% zh, rest
    dropped) via the broadcast quota table (operators/sampling.
    stratified_fraction_sample) — corpus never shuffles; deterministic,
    oracle-paired row-for-row."""
    from .functions.hashing import poly_hash
    from .operators.sampling import stratified_fraction_sample
    d = load_table(spark, sf_dir, "documents")
    return (stratified_fraction_sample(d, "lang", {"en": 0.5, "zh": 0.2},
                                       hash_expr=poly_hash)
            .select("doc_id", "lang"))


def token_budget_docs(spark, sf_dir):
    """Per-language TOKEN budgets (operators/sampling.token_budget_sample):
    docs taken in salted-hash order while the stratum's running char total
    stays within its budget — mixes specified the way trainers specify
    them. Deterministic, oracle-paired row-for-row."""
    from .functions.hashing import poly_hash
    from .operators.sampling import token_budget_sample
    d = load_table(spark, sf_dir, "documents")
    return (token_budget_sample(d, "lang", {"en": 5000, "zh": 2000},
                                weight_col="n_chars", hash_expr=poly_hash)
            .select("doc_id", "lang", "cum_tokens"))


def contamination_docs(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.contamination_check):
    flag planted-corpus docs sharing ≥5 distinct 3-gram shingles with a
    small 'benchmark' set (docs 0-4) — the train/test-leak guard. The
    planted exact copies (+20000) and near-dups (+10000) of those docs
    are guaranteed hits, so the entry is non-vacuous."""
    from .operators.dedup import contamination_check, shingles_df
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    bench = (load_table(spark, sf_dir, "documents")
             .filter(F.col("doc_id") < 5)
             .select("doc_id", F.col("text").alias("content")))
    out = contamination_check(shingles_df(d), shingles_df(bench),
                              min_shared=5)
    return out.select(F.col("id").alias("doc_id"),
                      F.col("shared_shingles"), "contaminated")


def repetition_docs(spark, sf_dir):
    """Degenerate-text detector (operators/dedup.repetition_stats): the
    fraction of each doc's 3-grams occupied by its most repeated 3-gram."""
    from .operators.dedup import repetition_stats
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", F.col("text").alias("content")))
    out = repetition_stats(d)
    return out.select(F.col("id").alias("doc_id"), "n_grams",
                      "max_gram_count",
                      _r(F.col("rep_ratio")).alias("rep_ratio_r"))


def dedup_cluster_assign(spark, sf_dir):
    """Near-dup CLUSTERS from the verified MinHash-LSH pair list:
    connected components (min-label propagation, operators/dedup.
    connected_components) + canonical min-id pick — the keep/drop
    decision a training-data dedup pipeline actually applies (filter
    canon = 1 → deduplicated corpus). Oracle: recursive-CTE transitive
    closure (min reachable id per node) over the SAME oracle-verified
    pair set, singletons included."""
    from .functions.hashing import poly_hash
    from .operators.dedup import dedup_clusters, minhash_lsh_dedup
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    pairs = minhash_lsh_dedup(d, num_hashes=8, bands=4, threshold=0.2,
                              hash_expr=poly_hash, band_hash_expr=poly_hash)
    return dedup_clusters(d, pairs, id_col="doc_id")


def simhash_pairs(spark, sf_dir):
    """SimHash fingerprints (single-pass kernel) + pigeonhole near-pair
    search, oracle-paired via the injected 63-bit polynomial token hash."""
    from .functions.hashing import poly_hash64
    from .operators.dedup import simhash_fingerprints, simhash_near_pairs
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    fp = simhash_fingerprints(d, hash_expr=poly_hash64)
    return simhash_near_pairs(fp, hamming_max=8)


def _ann_lsh_index(spark, sf_dir, dim: int):
    """Materialize (once per sf_dir) the bucket-partitioned RHP signature
    table over the non-query embeddings — the serving-path ANN index."""
    from .operators.similarity import load_lsh_index, write_lsh_index
    out = os.path.join(entry_index_dir(sf_dir), "ann_lsh")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
        write_lsh_index(e, out, dim=dim, n_bits=6, seed=5)
    return load_lsh_index(spark, out)


def ann_lsh_topk(spark, sf_dir):
    """RHP-LSH approximate top-k over the MATERIALIZED bucket-partitioned
    signature table (write_lsh_index → partition-pruned probe + exact
    rescore; no per-query re-hash of the embedding table — round-2 verdict
    #1). Oracle-paired: the DuckDB oracle inlines the SAME seeded
    hyperplanes as literals and reproduces bucket assignment, Hamming-2
    multiprobe and the exact cosine rescore."""
    from .operators.similarity import ann_topk_lsh
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    dim = len(q)
    sig = _ann_lsh_index(spark, sf_dir, dim)
    return (ann_topk_lsh(None, [float(x) for x in q],
                         dim=dim, k=20, n_bits=6, probe_hamming=2,
                         signatures=sig)
            .select("id", _r(F.col("cos")).alias("cos_r")))


def ann_batch_lsh_topk(spark, sf_dir):
    """Batch ANN on the SERVING path: three queries probe the materialized
    bucket-partitioned LSH index in ONE partition-pruned scan (union of
    probe buckets; each candidate scored only against the queries probing
    its bucket — operators/similarity.ann_topk_lsh_batch). Oracle: the
    inlined-hyperplane bucket assignment + per-query Hamming-2 multiprobe
    + exact cosine, over the same vec_id<>0 index universe."""
    from .operators.similarity import ann_topk_lsh_batch
    e = load_table(spark, sf_dir, "embeddings")
    qrows = (e.filter(F.col("vec_id").isin(0, 1, 2))
             .select("vec_id", "embedding").collect())
    queries = {f"v{r['vec_id']}": [float(x) for x in r["embedding"]]
               for r in qrows}
    dim = len(qrows[0]["embedding"])
    sig = _ann_lsh_index(spark, sf_dir, dim)
    res = ann_topk_lsh_batch(sig, queries, dim=dim, k=10, n_bits=6,
                             probe_hamming=2)
    # 1e-5 rounding: numpy pairwise matmul vs DuckDB sequential fold — see
    # ann_batch_topk
    return res.select("query_id", F.col("id").alias("vec_id"),
                      _r(F.col("cos"), 5).alias("cos_r"),
                      F.col("rank").cast("int").alias("rank"))


def _ann_ivf_index(spark, sf_dir, centroids):
    """Materialize (once per sf_dir) the cluster-partitioned IVF inverted
    lists over the non-query embeddings."""
    from .operators.similarity import load_ivf_index, write_ivf_index
    out = os.path.join(entry_index_dir(sf_dir), "ann_ivf")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
        write_ivf_index(e, centroids, out)
    return load_ivf_index(spark, out)


def ann_ivf_topk(spark, sf_dir):
    """IVF-flat approximate top-k over the MATERIALIZED cluster-partitioned
    inverted lists (write_ivf_index → n_probe partition-pruned scans +
    exact rescore). Oracle-paired: the deterministic sampled-centroid
    quantizer (centroids = vectors 1..32) keeps assignment and probing
    SQL-expressible, so DuckDB reproduces the whole path."""
    from .operators.similarity import ivf_topk
    import numpy as np
    e = load_table(spark, sf_dir, "embeddings")
    head = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in e.filter(F.col("vec_id") <= 32).collect()}
    q = head[0]
    centroids = np.array([head[i] for i in range(1, 33)], dtype=np.float64)
    lists = _ann_ivf_index(spark, sf_dir, centroids)
    return (ivf_topk(None, centroids, q, k=20, n_probe=4, assignments=lists)
            .select("id", _r(F.col("cos")).alias("cos_r")))


def ann_batch_ivf_topk(spark, sf_dir):
    """Batch IVF on the serving path: three queries, each probing its own
    4 nearest clusters, resolved in ONE partition-pruned scan of the
    union clusters (operators/similarity.ivf_topk_batch — shared batch
    kernel with ann_batch_lsh_topk). Sampled-centroid quantizer keeps the
    whole path SQL-expressible for the oracle."""
    import numpy as np
    from .operators.similarity import ivf_topk_batch
    e = load_table(spark, sf_dir, "embeddings")
    head = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in e.filter(F.col("vec_id") <= 32).collect()}
    centroids = np.array([head[i] for i in range(1, 33)], dtype=np.float64)
    queries = {f"v{i}": head[i] for i in (0, 1, 2)}
    lists = _ann_ivf_index(spark, sf_dir, centroids)
    res = ivf_topk_batch(lists, centroids, queries, k=10, n_probe=4)
    # 1e-5 rounding: numpy matmul vs DuckDB fold — see ann_batch_topk
    return res.select("query_id", F.col("id").alias("vec_id"),
                      _r(F.col("cos"), 5).alias("cos_r"),
                      F.col("rank").cast("int").alias("rank"))


def ann_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC approximate top-k (the memory-bound ANN
    path: codes are m=4 ints per 64-float vector; the scan reads ONLY the
    codes table and scores Σ_j LUT[j][code[j]] in pure JVM expressions).
    Oracle-paired: sampled codebooks (codeword c of subspace j = slice j
    of vector c+1 — SQL-expressible like the IVF sampled centroids), so
    DuckDB reproduces encode (per-subspace argmin by list_distance over
    slices) and the ADC rollup exactly; ties to the lowest id."""
    from .operators.similarity import (pq_adc_topk, pq_codebooks_sampled,
                                       pq_encode)
    e = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    cb = pq_codebooks_sampled(e.filter(F.col("vec_id") >= 1), m=4, ksub=16)
    codes = pq_encode(e.filter(F.col("vec_id") != 0), cb)
    return (pq_adc_topk(codes, cb, q, k=20)
            .select("id", _r(F.col("adc")).alias("adc_r")))


def _ann_ivfpq_index(spark, sf_dir, centroids, rcb):
    """Materialize (once per sf_dir) the cluster-partitioned IVF-PQ
    residual codes over the non-query embeddings."""
    from .operators.similarity import write_ivfpq_index
    out = os.path.join(entry_index_dir(sf_dir), "ann_ivfpq")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        e = load_table(spark, sf_dir, "embeddings") \
            .filter(F.col("vec_id") != 0)
        write_ivfpq_index(e, centroids, rcb, out)
    return spark.read.parquet(out)


def ann_ivfpq_topk(spark, sf_dir):
    """Canonical residual IVF-PQ top-k over the MATERIALIZED
    cluster-partitioned codes table: coarse centroids = vectors 1..8,
    residual codebooks sampled from the float32 residuals of vectors
    9..16 (m=4, ksub=8), ADC against per-cluster lookup tables of
    (q − centroid_c), n_probe=3. Oracle-paired: DuckDB reproduces
    assignment, the float32 residual rounding (CAST AS REAL), per-subspace
    argmin encoding, probing and the ADC rollup from the same closed
    forms — nothing about the index is opaque to the oracle."""
    from .operators.similarity import ivf_residuals, ivfpq_adc_topk, \
        pq_codebooks_sampled
    import numpy as np
    e = load_table(spark, sf_dir, "embeddings")
    head = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in e.filter(F.col("vec_id") <= 16).collect()}
    q = head[0]
    centroids = np.array([head[i] for i in range(1, 9)], dtype=np.float64)
    res_sample = ivf_residuals(e.filter(F.col("vec_id").between(9, 16)),
                               centroids)
    rcb = pq_codebooks_sampled(res_sample, m=4, ksub=8, id_col="id",
                               vec_col="residual")
    codes = _ann_ivfpq_index(spark, sf_dir, centroids, rcb)
    return (ivfpq_adc_topk(codes, centroids, rcb, q, k=15, n_probe=3)
            .select("id", _r(F.col("adc")).alias("adc_r")))


def hybrid_rrf_topk(spark, sf_dir):
    """Hybrid lexical+vector retrieval: the BM25 top-20 (bm25_topk_fixed)
    and the exact-cosine ANN top-20 (ann_cosine_topk) fused by
    reciprocal-rank fusion (operators/fusion.rrf_fuse, kc=60). Ranks are
    derived from the ROUNDED scores both entries already hash-match on
    (score_r/cos_r), so cross-engine float ulps cannot flip a rank; the
    doc/vec id spaces coincide in the testdata. DuckDB reproduces the
    whole fusion by nesting the two already-verified oracles as CTEs."""
    from .operators.fusion import rrf_fuse
    lex = bm25_topk_fixed(spark, sf_dir)
    vec = ann_cosine_topk(spark, sf_dir)
    wl = Window.orderBy(F.desc("score_r"), F.asc("doc_id"))
    wv = Window.orderBy(F.desc("cos_r"), F.asc("vec_id"))
    a = (lex.withColumn("rank", F.row_number().over(wl))
         .select(F.col("doc_id").alias("id"), "rank"))
    b = (vec.withColumn("rank", F.row_number().over(wv))
         .select(F.col("vec_id").alias("id"), "rank"))
    return (rrf_fuse([a, b], k=15)
            .select("id", _r(F.col("rrf")).alias("rrf_r"), "n_lists"))


def doc_fingerprint(spark, sf_dir):
    """Winnowing-style min-hash fingerprint per doc, oracle-paired via the
    injected polynomial gram hash."""
    from .functions.hashing import poly_hash
    from .functions.textstats import with_fingerprint
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    return with_fingerprint(d, hash_expr=poly_hash) \
        .select("doc_id", "fingerprint")


def a6_binary_postings(spark, sf_dir):
    """A6/S8 analog: the tf/position-free binary postings table — the
    reference keeps a parallel `word_image(word, image_id)` index
    (create_database.sql:100-124); here it materializes as (term, doc_id)
    decoded from the compressed index (doc-id section only; the Q11
    OR-scorer runs over this shape)."""
    from .operators.search import binary_postings
    idx = entry_index(spark, sf_dir)
    return binary_postings(idx["postings"])


# --- maintenance family (A8 / Q13 / F8 / F10) -------------------------------

def f8_url_normalize(spark, sf_dir):
    """F8 URL normalization (Crawler.java:282-306) over URLs synthesized
    from the documents table."""
    from .operators.maintenance import normalize_url
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(F.lit("HTTPS:////Example.COM//"), F.col("source"),
                   F.lit("///doc//"), F.col("doc_id").cast("string"),
                   F.lit("/"))
    return d.select("doc_id", normalize_url(raw).alias("url_norm"))


def f10_date_state(spark, sf_dir):
    """F10 RFC-1123 round-trip + freshness state (Indexer.java:788-808)
    over crawl/index times derived from events."""
    from .operators.maintenance import index_state, to_rfc1123
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    crawled = to_rfc1123(F.date_trunc("second", F.col("ts")))
    indexed_ts = F.when(F.col("event_id") % 5 == 0, F.lit(None)) \
        .otherwise(F.date_trunc("second",
                                F.col("ts") + F.make_interval(
                                    days=F.col("event_id") % 3 - 1)))
    indexed = to_rfc1123(indexed_ts)
    d = e.select("event_id", crawled.alias("crawled_time"),
                 indexed.alias("indexed_time"))
    return d.withColumn("state", index_state(F.col("crawled_time"),
                                             F.col("indexed_time")))


def q13_history_upsert(spark, sf_dir):
    """Q13 history upsert (ApiController.java:60-77): existing counts from
    even events, new visits from odd events, merged."""
    from .operators.maintenance import upsert_history
    e = load_table(spark, sf_dir, "events")
    base = (e.filter(F.col("event_id") % 2 == 0)
            .groupBy("user_id", (F.col("event_id") % 40).alias("doc_id"))
            .agg(F.count("*").cast("int").alias("times")))
    visits = (e.filter(F.col("event_id") % 2 == 1)
              .select("user_id", (F.col("event_id") % 40).alias("doc_id")))
    out = upsert_history(base, visits)
    return out.select("user_id", F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("times").cast("long").alias("times"))


def a8_df_after_delete(spark, sf_dir):
    """A8 delete-docs maintenance: drop docs ≡0 (mod 7) from the built
    postings (segment-pruned decode/re-encode), then report per-term df for
    the query terms — checked against a from-scratch SQL recount."""
    from .operators.maintenance import delete_docs_postings
    idx = entry_index(spark, sf_dir)
    victims = [int(r["doc_id"]) for r in
               idx["docs"].filter(F.col("doc_id") % 7 == 0)
               .select("doc_id").collect()]
    cleaned = delete_docs_postings(idx["postings"], victims,
                                   int(idx["stats"]["seg_bits"]))
    return (cleaned.filter(F.col("term").isin(QT))
            .groupBy("term").agg(F.sum("n_docs").alias("df"),
                                 F.sum("cf").alias("cf")))


QUERIES.update({
    "f8_url_normalize": f8_url_normalize,
    "f10_date_state": f10_date_state,
    "q13_history_upsert": q13_history_upsert,
    "a8_df_after_delete": a8_df_after_delete,
    "q11_or_match": q11_or_match,
    "q12_prefix_search": q12_prefix_search,
    "q7_history_join": q7_history_join,
    "quality_features": quality_features,
    "lang_id_pred": lang_id_pred,
    "bpe_token_estimate": bpe_token_estimate,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_cluster_assign": dedup_cluster_assign,
    "stratified_sample_docs": stratified_sample_docs,
    "hash_sample_docs": hash_sample_docs,
    "mix_sample_docs": mix_sample_docs,
    "token_budget_docs": token_budget_docs,
    "contamination_docs": contamination_docs,
    "repetition_docs": repetition_docs,
    "simhash_pairs": simhash_pairs,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_pq_adc_topk": ann_pq_adc_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "hybrid_rrf_topk": hybrid_rrf_topk,
    "doc_fingerprint": doc_fingerprint,
})

ORACLE_SQL["ann_ivfpq_topk"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8
), asg AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
  FROM e CROSS JOIN cent c WHERE e.vec_id <> 0
), a1 AS (
  SELECT vec_id, cid FROM asg WHERE rn = 1
), res AS (
  -- float32-rounded residual, exactly as the materialized index stores it
  SELECT a.vec_id, a.cid,
         list_transform(generate_series(1, 64),
                        i -> CAST(CAST(e.v[i] - c.cv[i] AS REAL) AS DOUBLE))
           AS r
  FROM a1 a JOIN e ON e.vec_id = a.vec_id JOIN cent c ON c.cid = a.cid
), cb AS (
  -- sampled residual codebooks: codeword k = residual of vector 9+k
  SELECT vec_id - 9 AS code, r AS cbr FROM res WHERE vec_id BETWEEN 9 AND 16
), subs AS (
  SELECT * FROM (VALUES (0, 1, 16), (1, 17, 32),
                        (2, 33, 48), (3, 49, 64)) AS t(j, lo, hi)
), enc AS (
  SELECT res.vec_id, s.j, cb.code,
         row_number() OVER (
           PARTITION BY res.vec_id, s.j
           ORDER BY list_sum(list_transform(generate_series(s.lo, s.hi),
                      i -> power(res.r[i] - cb.cbr[i], 2))), cb.code) AS rn
  FROM res CROSS JOIN subs s CROSS JOIN cb
), probes AS (
  SELECT cid FROM cent, q ORDER BY list_distance(cv, qv), cid LIMIT 3
), adc AS (
  SELECT en.vec_id,
         sum(list_sum(list_transform(generate_series(s.lo, s.hi),
               i -> power((q.qv[i] - c.cv[i]) - cb.cbr[i], 2)))) AS d2
  FROM enc en
  JOIN a1 ON a1.vec_id = en.vec_id
  JOIN probes p ON p.cid = a1.cid
  JOIN cent c ON c.cid = a1.cid
  JOIN subs s ON s.j = en.j
  JOIN cb ON cb.code = en.code
  CROSS JOIN q
  WHERE en.rn = 1
  GROUP BY en.vec_id
)
SELECT vec_id AS id, CAST(round(d2, 6) AS DOUBLE) AS adc_r
FROM adc ORDER BY d2 ASC, vec_id ASC LIMIT 15"""

# nest the two already-verified oracles as CTE bodies (DuckDB allows a
# WITH inside a parenthesized CTE definition) and fuse exactly as
# operators/fusion.rrf_fuse does
ORACLE_SQL["hybrid_rrf_topk"] = f"""
WITH lex AS ({ORACLE_SQL["bm25_topk_fixed"]}),
vec AS ({ORACLE_SQL["ann_cosine_topk"]}),
lr AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY score_r DESC, doc_id ASC) AS rank
  FROM lex
), vr AS (
  SELECT vec_id AS id,
         row_number() OVER (ORDER BY cos_r DESC, vec_id ASC) AS rank
  FROM vec
), u AS (
  SELECT * FROM lr UNION ALL SELECT * FROM vr
), f AS (
  SELECT id, sum(1.0 / (60.0 + rank)) AS rrf, count(*) AS n_lists
  FROM u GROUP BY id
)
SELECT id, CAST(round(rrf, 6) AS DOUBLE) AS rrf_r, n_lists::INT AS n_lists
FROM f ORDER BY rrf DESC, id ASC LIMIT 15"""

ORACLE_SQL["ann_pq_adc_topk"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), cb AS (
  SELECT vec_id - 1 AS code, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 16
), subs AS (
  SELECT * FROM (VALUES (0, 1, 16), (1, 17, 32),
                        (2, 33, 48), (3, 49, 64)) AS t(j, lo, hi)
), enc AS (
  SELECT e.vec_id, s.j, cb.code,
         row_number() OVER (
           PARTITION BY e.vec_id, s.j
           ORDER BY list_distance(e.v[s.lo:s.hi], cb.cv[s.lo:s.hi]),
                    cb.code) AS rn
  FROM e CROSS JOIN subs s CROSS JOIN cb WHERE e.vec_id <> 0
), adc AS (
  SELECT en.vec_id,
         sum(power(list_distance(q.qv[s.lo:s.hi], cb.cv[s.lo:s.hi]), 2))
           AS d2
  FROM enc en
  JOIN subs s ON en.j = s.j
  JOIN cb ON cb.code = en.code
  CROSS JOIN q
  WHERE en.rn = 1
  GROUP BY en.vec_id
)
SELECT vec_id AS id, CAST(round(d2, 6) AS DOUBLE) AS adc_r
FROM adc ORDER BY d2 ASC, vec_id ASC LIMIT 20"""

ORACLE_SQL.update({
    "f8_url_normalize": """
WITH raw AS (
  SELECT doc_id,
         'HTTPS:////Example.COM//' || source || '///doc//'
           || CAST(doc_id AS VARCHAR) || '/' AS url
  FROM documents
), c AS (
  SELECT doc_id, regexp_replace(url, '/{2,}', '/', 'g') AS u FROM raw
), s AS (
  SELECT doc_id, CASE WHEN u LIKE 'http:/%' THEN substring(u, 7)
                      WHEN u LIKE 'https:/%' THEN substring(u, 8)
                      ELSE u END AS u2 FROM c
), f AS (SELECT doc_id, 'http://' || u2 AS u3 FROM s)
SELECT doc_id,
       lower(CASE WHEN u3 LIKE '%/' THEN substring(u3, 1, length(u3) - 1)
                  ELSE u3 END) AS url_norm
FROM f""",

    "f10_date_state": """
WITH e AS (
  SELECT event_id, date_trunc('second', ts) AS cts,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE date_trunc('second',
                              ts + to_days((event_id % 3 - 1)::INT)) END AS its
  FROM events WHERE event_id < 200
)
SELECT event_id,
       strftime(cts, '%a, %d %b %Y %H:%M:%S GMT') AS crawled_time,
       strftime(its, '%a, %d %b %Y %H:%M:%S GMT') AS indexed_time,
       CASE WHEN its IS NULL THEN 'INDEX'
            WHEN its <= cts THEN 'REINDEX'
            ELSE 'SKIP' END AS state
FROM e""",

    "q13_history_upsert": """
WITH base AS (
  SELECT user_id, event_id % 40 AS doc_id, count(*)::BIGINT AS times
  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
), inc AS (
  SELECT user_id, event_id % 40 AS doc_id, count(*)::BIGINT AS inc
  FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2
)
SELECT user_id, doc_id::BIGINT AS doc_id,
       (coalesce(b.times, 0) + coalesce(i.inc, 0))::BIGINT AS times
FROM base b FULL OUTER JOIN inc i USING (user_id, doc_id)""",

    "a8_df_after_delete": f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id % 7 <> 0
), tfc AS (
  SELECT doc_id, unnest(t) AS term FROM toks
), agg AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
  FROM tfc GROUP BY 1
)
SELECT term, df, cf FROM agg WHERE term IN (VALUES {_QT_SQL})""",

    "q11_or_match": _BASE_CTES + f"""
SELECT doc_id, count(DISTINCT term)::BIGINT AS hits
FROM tfc WHERE term IN (VALUES {_QT_SQL})
GROUP BY doc_id ORDER BY hits DESC, doc_id ASC LIMIT 20""",

    "q12_prefix_search": """
SELECT p_partkey, p_name FROM part WHERE p_name LIKE 's%'
ORDER BY p_name, p_partkey LIMIT 5""",

    "q7_history_join": _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
rel AS (
  SELECT tfc.doc_id,
         sum(tfc.tf * (1 + ln(tfc.tf)) * ln(1 + st.n / dfreq.df)) AS relevance
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term) CROSS JOIN st
  GROUP BY tfc.doc_id
),
hist AS (
  SELECT DISTINCT event_id % 500 AS doc_id, 1 AS in_history
  FROM events WHERE user_id = 7
)
SELECT r.doc_id, CAST(round(r.relevance, 6) AS DOUBLE) AS relevance_r,
       coalesce(h.in_history, 0)::INT AS in_history
FROM rel r LEFT JOIN hist h USING (doc_id)
ORDER BY in_history DESC, r.relevance DESC, r.doc_id ASC LIMIT 20""",

    "quality_features": f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS t FROM documents
)
SELECT doc_id, len(t)::BIGINT AS n_tokens,
  CAST(round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
             * 1.0 / greatest(length(text), 1), 6) AS DOUBLE) AS alpha_ratio_r,
  CAST(round(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
             * 1.0 / greatest(length(text), 1), 6) AS DOUBLE) AS punct_ratio_r,
  CAST(round(len(list_filter(t, x -> x IN
             ('the','and','of','to','in','is','that','for','it','with')))
             * 1.0 / greatest(len(t), 1), 6) AS DOUBLE) AS stopword_ratio_r
FROM toks""",

    "lang_id_pred": f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), hits AS (
  SELECT doc_id,
    len(list_filter(t, x -> x IN ('the','and','of','to','in','is','that','for','it','with'))) AS h_en,
    len(list_filter(t, x -> x IN ('el','la','de','que','y','los','en','un','una','por'))) AS h_es,
    len(list_filter(t, x -> x IN ('le','la','de','et','les','des','un','une','est','dans'))) AS h_fr,
    len(list_filter(t, x -> x IN ('der','die','und','das','von','zu','mit','den','ist','ein'))) AS h_de
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(h_en,h_es,h_fr,h_de) <= 0 THEN 'und'
       WHEN h_en = greatest(h_en,h_es,h_fr,h_de) THEN 'en'
       WHEN h_es = greatest(h_en,h_es,h_fr,h_de) THEN 'es'
       WHEN h_fr = greatest(h_en,h_es,h_fr,h_de) THEN 'fr'
       ELSE 'de' END AS lang_pred
FROM hits""",

    "bpe_token_estimate": r"""
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Z]?[a-z]+|[A-Z]+|[0-9]{1,3}|[^A-Za-z0-9\s]'))::BIGINT
         AS n_bpe_est
FROM documents""",
})


# --- round-2: DuckDB oracles for the LSH/hash family --------------------------
# The production operators hash with JVM xxhash64; these oracle profiles
# inject the SQL-expressible polynomial hash (functions/hashing.py) on BOTH
# sides, so DuckDB runs the *identical* LSH math — signatures, banding,
# candidate joins, verification — and the driver's value-hash gate covers
# the whole pipeline, not just row counts.

def _duck_plane_lit(planes, col: int) -> str:
    """Plane column as a DuckDB DOUBLE[] literal (shared by every RHP
    oracle so Spark-side bucketing changes break ONE SQL builder)."""
    return "[" + ", ".join(repr(float(v)) for v in planes[:, col]) + "]"


def _duck_bucket_expr(planes, vec: str) -> str:
    """DuckDB form of similarity.rhp_signatures' sign-bit bucket."""
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec}, {_duck_plane_lit(planes, b)}) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(planes.shape[1]))


def _build_lsh_oracles() -> dict[str, str]:
    from .functions.hashing import duck_poly, duck_poly64
    from .operators.dedup import _MERSENNE, minhash_coeffs
    from .operators.similarity import _planes

    m31 = (1 << 31) - 1
    a, b = minhash_coeffs(8, seed=7)

    mins = ",\n  ".join(
        f"min((x * {int(a[i])} + {int(b[i])}) % {_MERSENNE}) AS h{i}"
        for i in range(8))
    bands = "\n  UNION ALL\n".join(
        f"  SELECT id, {bnd} AS band, "
        + duck_poly(f"(h{2*bnd}::VARCHAR || ',' || h{2*bnd+1}::VARCHAR)")
        + " AS bh FROM sig"
        for bnd in range(4))

    minhash_sql = f"""
WITH {_PLANTED_SQL_BODY},
{_SHINGLE_SQL},
xs AS (
  SELECT id, {duck_poly('shingle')} % {m31} AS x FROM sh
), sig AS (
  SELECT id,
  {mins}
  FROM xs GROUP BY id
), banded AS (
{bands}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
), cnt AS (
  SELECT id, count(*)::BIGINT AS n FROM sh GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS i
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(round(i * 1.0 / (ca.n + cb.n - i), 6) AS DOUBLE) AS jaccard_r
FROM inter
JOIN cnt ca ON ca.id = id_a
JOIN cnt cb ON cb.id = id_b
WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2"""

    simhash_sql = f"""
WITH {_PLANTED_SQL_BODY},
toks AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM planted
), tf AS (
  SELECT id, tok, count(*)::BIGINT AS tf
  FROM (SELECT id, unnest(t) AS tok FROM toks) GROUP BY 1, 2
), hashed AS (
  SELECT id, tf, {duck_poly64('tok')} AS h FROM tf
), bits AS (
  SELECT id, bb.b AS bit, sum(tf * (2 * ((h >> bb.b) & 1) - 1)) AS s
  FROM hashed, (SELECT unnest(range(64)) AS b) bb GROUP BY 1, 2
), fp AS (
  SELECT id, sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
         AS simhash
  FROM bits GROUP BY 1
), chunks AS (
  SELECT id, simhash, cc.c AS chunk, (simhash >> (cc.c * 7)) & 127 AS ch
  FROM fp, (SELECT unnest(range(9)) AS c) cc
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.ch = b.ch AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 8"""

    planes = _planes(64, 6, seed=5)  # same seed/shape as ann_lsh_topk

    def _bucket_expr(vec: str) -> str:
        return _duck_bucket_expr(planes, vec)

    ann_sql = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), qb AS (
  SELECT {_bucket_expr('qv')} AS b FROM q
), sig AS (
  SELECT vec_id, {_bucket_expr('v')} AS b FROM e WHERE vec_id <> 0
), cand AS (
  SELECT s.vec_id FROM sig s, qb
  WHERE bit_count(xor(s.b::BIGINT, qb.b::BIGINT)) <= 2
)
SELECT e.vec_id AS id,
       CAST(round(list_cosine_similarity(e.v, q.qv), 6) AS DOUBLE) AS cos_r
FROM e JOIN cand USING (vec_id), q
ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id ASC LIMIT 20"""

    ann_batch_sql = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT 'v' || vec_id AS query_id, v AS qv
  FROM e WHERE vec_id IN (0, 1, 2)
), qb AS (
  SELECT query_id, qv, {_bucket_expr('qv')} AS b FROM q
), sig AS (
  SELECT vec_id, v, {_bucket_expr('v')} AS b FROM e WHERE vec_id <> 0
), cand AS (
  SELECT qb.query_id, s.vec_id,
         list_cosine_similarity(s.v, qb.qv) AS c
  FROM sig s, qb
  WHERE bit_count(xor(s.b::BIGINT, qb.b::BIGINT)) <= 2
), ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, vec_id, CAST(round(c, 5) AS DOUBLE) AS cos_r,
       rank::INT AS rank
FROM ranked WHERE rank <= 10"""

    gram = "array_to_string(t[i+1:i+5], ' ')"
    fingerprint_sql = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
)
SELECT doc_id,
       list_min(list_transform(range(greatest(len(t) - 5, 0) + 1),
                i -> {duck_poly(gram)})) AS fingerprint
FROM toks"""

    return {
        "minhash_lsh_pairs": minhash_sql,
        "simhash_pairs": simhash_sql,
        "ann_lsh_topk": ann_sql,
        "ann_batch_lsh_topk": ann_batch_sql,
        "doc_fingerprint": fingerprint_sql,
    }


QUERIES["a6_binary_postings"] = a6_binary_postings
QUERIES["ann_batch_lsh_topk"] = ann_batch_lsh_topk
QUERIES["ann_batch_ivf_topk"] = ann_batch_ivf_topk

ORACLE_SQL.update(_build_lsh_oracles())

from .functions.hashing import duck_poly as _duck_poly  # noqa: E402

# same salted polynomial hash as operators/sampling with hash_expr=poly_hash
_SAMPLE_KEY = _duck_poly("doc_id::VARCHAR || ':17'")

ORACLE_SQL["stratified_sample_docs"] = f"""
WITH keyed AS (
  SELECT doc_id, lang, {_SAMPLE_KEY} AS k FROM documents
), ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY k ASC, doc_id ASC) AS smp_rank
  FROM keyed
)
SELECT doc_id, lang, smp_rank::INT AS smp_rank
FROM ranked WHERE smp_rank <= 3"""

ORACLE_SQL["hash_sample_docs"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_SAMPLE_KEY} % 1073741824 < 107374182"""

ORACLE_SQL["contamination_docs"] = f"""
WITH {_PLANTED_SQL_BODY},
{_SHINGLE_SQL},
btoks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id < 5
), bsh AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_transform(range(len(t) - 2),
                  i -> array_to_string(t[i+1:i+3], ' '))) AS shingle
    FROM btoks WHERE len(t) >= 3)
)
SELECT id AS doc_id, count(*)::BIGINT AS shared_shingles,
       (CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END)::INT AS contaminated
FROM sh JOIN bsh USING (shingle)
GROUP BY id"""

ORACLE_SQL["repetition_docs"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
                 i -> array_to_string(t[i+1:i+3], ' '))) AS gram
  FROM toks WHERE len(t) >= 3
), pg AS (
  SELECT doc_id, gram, count(*)::BIGINT AS c FROM g GROUP BY 1, 2
)
SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c)::BIGINT AS max_gram_count,
       CAST(round(max(c) * 1.0 / sum(c), 6) AS DOUBLE) AS rep_ratio_r
FROM pg GROUP BY doc_id"""

ORACLE_SQL["token_budget_docs"] = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars, {_SAMPLE_KEY} AS k FROM documents
  WHERE lang IN ('en', 'zh')
), cum AS (
  SELECT doc_id, lang,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY k ASC, doc_id ASC
                            ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM keyed
)
SELECT doc_id, lang, cum_tokens::BIGINT AS cum_tokens FROM cum
WHERE cum_tokens <= CASE lang WHEN 'en' THEN 5000 ELSE 2000 END"""

# int(0.5 * 2^30) = 536870912, int(0.2 * 2^30) = 214748364, default 0
ORACLE_SQL["mix_sample_docs"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_SAMPLE_KEY} % 1073741824 <
      CASE lang WHEN 'en' THEN 536870912
                WHEN 'zh' THEN 214748364 ELSE 0 END"""

# transitive closure of the SAME verified pair set (nested-CTE trick as
# hybrid_rrf_topk): min reachable id per node = cluster id; canonical =
# the node that IS its cluster id. Singletons seed from the planted list.
ORACLE_SQL["dedup_cluster_assign"] = f"""
WITH RECURSIVE pairs AS ({ORACLE_SQL["minhash_lsh_pairs"]}),
{_PLANTED_SQL_BODY},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
walk(id, label) AS (
  SELECT doc_id, doc_id FROM planted
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.id
)
SELECT id AS doc_id, min(label)::BIGINT AS cluster_id,
       (CASE WHEN min(label) = id THEN 1 ELSE 0 END)::INT AS canon
FROM walk GROUP BY id"""

# the composed pipeline: cluster closure → canon → quality → lang mix.
# int(0.8*2^30)=858993459, int(0.5*2^30)=536870912
ORACLE_SQL["training_corpus"] = f"""
WITH RECURSIVE pairs AS ({ORACLE_SQL["minhash_lsh_pairs"]}),
{_PLANTED_SQL_BODY},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
walk(id, label) AS (
  SELECT doc_id, doc_id FROM planted
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.id
),
canon AS (
  SELECT id AS doc_id FROM walk GROUP BY id HAVING min(label) = id
),
toks AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                         x -> x <> ''))::BIGINT AS n_tokens
  FROM planted
),
kept AS (
  SELECT t.doc_id, t.n_tokens, dl.lang
  FROM toks t
  JOIN canon USING (doc_id)
  JOIN documents dl ON dl.doc_id = t.doc_id % 10000
  WHERE t.n_tokens >= 15
)
SELECT doc_id, lang, n_tokens FROM kept
WHERE {_SAMPLE_KEY} % 1073741824 <
      CASE lang WHEN 'en' THEN 858993459
                WHEN 'de' THEN 536870912
                WHEN 'es' THEN 536870912 ELSE 0 END"""
ORACLE_SQL["a6_binary_postings"] = _BASE_CTES + """
SELECT term, doc_id FROM tfc"""


QUERIES["ann_ivf_topk"] = ann_ivf_topk

ORACLE_SQL["ann_ivf_topk"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 32
), probes AS (
  SELECT cid FROM cent, q ORDER BY list_distance(cv, qv), cid LIMIT 4
), asg AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, cv), cid) AS rn
  FROM e, cent WHERE vec_id <> 0
), cand AS (
  SELECT a.vec_id FROM asg a JOIN probes p ON a.cid = p.cid WHERE a.rn = 1
)
SELECT e.vec_id AS id,
       CAST(round(list_cosine_similarity(e.v, q.qv), 6) AS DOUBLE) AS cos_r
FROM e JOIN cand USING (vec_id), q
ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id ASC LIMIT 20"""

ORACLE_SQL["ann_batch_ivf_topk"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT 'v' || vec_id AS query_id, v AS qv
  FROM e WHERE vec_id IN (0, 1, 2)
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 32
), probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_distance(c.cv, q.qv), c.cid)
             AS pr
    FROM cent c, q)
  WHERE pr <= 4
), asg AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, cv), cid) AS rn
  FROM e, cent WHERE vec_id <> 0
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM asg a JOIN probes p ON a.cid = p.cid WHERE a.rn = 1
), scored AS (
  SELECT c.query_id, c.vec_id,
         list_cosine_similarity(e.v, q.qv) AS cs
  FROM cand c JOIN e ON e.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
), ranked AS (
  SELECT query_id, vec_id, cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(round(cs, 5) AS DOUBLE) AS cos_r,
       rank::INT AS rank
FROM ranked WHERE rank <= 10"""


def q14_user_create(spark, sf_dir):
    """Q14 user create (ApiController.java signup): INSERT IGNORE on the
    unique name key — existing users keep their ids, new distinct names get
    ids above the current max (auto-increment analog, deterministic
    name-ordered). Derived from events: existing users = user_id<50,
    registrations = names from odd events (some colliding, some new)."""
    e = load_table(spark, sf_dir, "events")
    existing = (e.filter(F.col("user_id") < 50).select("user_id").distinct()
                .select(F.concat(F.lit("user_"),
                                 F.col("user_id")).alias("name"),
                        F.col("user_id").cast("long").alias("user_id")))
    regs = (e.filter(F.col("event_id") % 2 == 1)
            .select(F.concat(F.lit("user_"), (F.col("event_id") % 80))
                    .alias("name")).distinct())
    new = regs.join(existing.select("name"), "name", "left_anti")
    max_id = existing.agg(F.max("user_id").alias("m"))
    w = Window.orderBy("name")
    new_ids = (new.withColumn("rn", F.row_number().over(w))
               .crossJoin(F.broadcast(max_id))
               .select("name", (F.col("m") + F.col("rn")).alias("user_id")))
    return existing.unionByName(new_ids)


QUERIES["q14_user_create"] = q14_user_create

ORACLE_SQL["q14_user_create"] = """
WITH existing AS (
  SELECT DISTINCT 'user_' || CAST(user_id AS VARCHAR) AS name,
         user_id::BIGINT AS user_id
  FROM events WHERE user_id < 50
), regs AS (
  SELECT DISTINCT 'user_' || CAST(event_id % 80 AS VARCHAR) AS name
  FROM events WHERE event_id % 2 = 1
), new AS (
  SELECT name FROM regs WHERE name NOT IN (SELECT name FROM existing)
), mx AS (
  SELECT max(user_id) AS m FROM existing
)
SELECT name, user_id FROM existing
UNION ALL
SELECT name, (m + row_number() OVER (ORDER BY name))::BIGINT AS user_id
FROM new, mx"""


def serve_page(spark, sf_dir):
    """End-to-end serving pipeline (Q3→Q8→Q10 composed): word relevance
    from the real index, two-stage top-20 with the static-score reorder,
    candidate set broadcast INTO the doc-store scan, and an F11-style ±2
    token snippet around the first 'merge' occurrence (null when absent) —
    one result page exactly as the reference's /get-results returns it."""
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT,
                                 int(idx["stats"]["n_buckets"]))
    rel = S.parity_word_scores(rows, idx, QT).select("doc_id", "relevance")
    stage1 = rel.orderBy(F.desc("relevance"), F.asc("doc_id")).limit(20)
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "n_chars", "text")
    stage2 = (docs.join(F.broadcast(stage1), "doc_id")
              .withColumn("score",
                          F.col("relevance") * 1000.0 / F.col("n_chars")))
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                    lambda x: x != F.lit(""))
    p = F.array_position(toks, "merge")
    start = F.greatest(F.lit(1), p - 2)
    end = F.least(F.size(toks), p + 2)
    snippet = F.when(p > 0, F.array_join(
        F.slice(toks, start, end - start + 1), " "))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (stage2.withColumn("rank", F.row_number().over(w))
            .select("doc_id", "rank", _r(F.col("score")).alias("score_r"),
                    snippet.alias("snippet")))


QUERIES["serve_page"] = serve_page

ORACLE_SQL["serve_page"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
rel AS (
  SELECT tfc.doc_id,
         sum(tfc.tf * (1 + ln(tfc.tf)) * ln(1 + st.n / dfreq.df)) AS relevance
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term) CROSS JOIN st
  GROUP BY tfc.doc_id
),
stage1 AS (
  SELECT * FROM rel ORDER BY relevance DESC, doc_id ASC LIMIT 20
),
stage2 AS (
  SELECT s.doc_id, s.relevance * 1000.0 / d.n_chars AS score
  FROM stage1 s JOIN documents d USING (doc_id)
),
snip AS (
  SELECT doc_id,
         CASE WHEN list_position(t, 'merge') > 0 THEN
           array_to_string(
             t[greatest(1, list_position(t, 'merge') - 2) :
               least(len(t), list_position(t, 'merge') + 2)], ' ')
         END AS snippet
  FROM toks
)
SELECT s.doc_id,
       row_number() OVER (ORDER BY s.score DESC, s.doc_id ASC)::INT AS rank,
       CAST(round(s.score, 6) AS DOUBLE) AS score_r,
       sn.snippet
FROM stage2 s LEFT JOIN snip sn USING (doc_id)"""


def a8_requery_after_delete(spark, sf_dir):
    """Full maintenance cycle, end to end: delete docs ≡0 (mod 7) from the
    FULL on-disk postings (sentinel DOCLEN/DOCSHA rows rewritten too),
    republish stats (n_docs/avgdl from the rewritten sentinels) and term
    df/cf, then run BM25 top-20 against the maintained index — checked
    against a from-scratch SQL build over the surviving documents."""
    from .operators.build import doc_lengths, doc_stats, term_stats
    from .operators.maintenance import delete_docs_postings
    idx = entry_index(spark, sf_dir)
    raw = spark.read.parquet(os.path.join(entry_index_dir(sf_dir),
                                          "postings"))
    n_buckets = int(idx["stats"]["n_buckets"])
    # victim set stays a DataFrame — the bulk-delete path (never collected)
    victims = idx["docs"].filter(F.col("doc_id") % 7 == 0).select("doc_id")
    cleaned_all = delete_docs_postings(raw, victims,
                                       int(idx["stats"]["seg_bits"]))
    sent = cleaned_all.filter(F.col("bucket") == n_buckets)
    stats = doc_stats(doc_lengths(sent))
    cleaned = cleaned_all.filter(F.col("bucket") < n_buckets)
    terms2 = term_stats(cleaned)
    rows = S.query_term_postings(cleaned, QT, n_buckets)
    scores = S.bm25_scores(rows, {"terms": terms2, "stats": stats}, QT)
    return (scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
            .select("doc_id", _r(F.col("score")).alias("score_r")))


QUERIES["a8_requery_after_delete"] = a8_requery_after_delete

ORACLE_SQL["a8_requery_after_delete"] = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id % 7 <> 0
), tfc AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2
), dl AS (
  SELECT doc_id, len(t)::BIGINT AS dl FROM toks
), st AS (
  SELECT count(*)::BIGINT AS n, avg(dl)::DOUBLE AS avgdl FROM dl
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY 1
), q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, CAST(round(s, 6) AS DOUBLE) AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20"""


def a7_compact_requery(spark, sf_dir):
    """Chunked-append → compaction cycle, end to end: build the index in
    128-doc chunks (plans/lineage.py — the incremental-append layout,
    postings/chunk=<c>/bucket=<b>/), compact all chunks into one
    term-sorted file set per bucket published as snapshot v2
    (plans/snapshot.compact_postings), then run BM25 top-20 against the
    COMPACTED snapshot — checked against the same from-scratch SQL oracle
    as bm25_topk_fixed. Proves the re-layout is lossless: same scores,
    same ranks, zero chunk dirs left on the query path."""
    from .plans.lineage import build_index_resumable
    from .plans.snapshot import (compact_postings, init_snapshots,
                                 latest_version, load_snapshot)
    out = entry_index_dir(sf_dir) + "_chunked"
    if not os.path.exists(os.path.join(out, "stats")):
        corpus = documents_as_corpus(spark, sf_dir)
        build_index_resumable(spark, corpus, out, profile="simple",
                              seg_bits=7, chunk_segments=1, n_buckets=8)
    init_snapshots(out)
    if latest_version(out) == 1:
        compact_postings(spark, out)
    idx = load_snapshot(spark, out)
    assert "chunk" not in idx["postings_raw"].columns
    rows = S.query_term_postings(idx["postings"], QT,
                                 int(idx["stats"]["n_buckets"]))
    scores = S.bm25_scores(rows, idx, QT)
    return (scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
            .select("doc_id", _r(F.col("score")).alias("score_r")))


QUERIES["a7_compact_requery"] = a7_compact_requery

# lossless re-layout ⇒ the plain from-scratch BM25 oracle must match
ORACLE_SQL["a7_compact_requery"] = ORACLE_SQL["bm25_topk_fixed"]


def crawl_frontier(spark, sf_dir):
    """S1/S2 crawl-loop analog, oracle-paired: BFS first-visit depths from
    seeds {0,1,2} over the deterministic lineitem-derived link graph (same
    graph family as pagerank_2iter), depth ≤ 3 — the frontier/visited/
    dedupe control structure of the reference crawler, checked against a
    DuckDB recursive CTE."""
    from .operators.crawl import bfs_frontier
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select((F.col("l_orderkey") % 50).alias("src"),
                      (F.col("l_partkey") % 50).alias("dst")) \
        .filter(F.col("src") != F.col("dst"))
    seeds = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    out = bfs_frontier(spark, edges, seeds, max_depth=3)
    return out.select(F.col("id").alias("doc_id"),
                      F.col("depth").cast("int").alias("depth"))


QUERIES["crawl_frontier"] = crawl_frontier

ORACLE_SQL["crawl_frontier"] = """
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % 50 AS src, l_partkey % 50 AS dst
  FROM lineitem WHERE l_orderkey % 50 <> l_partkey % 50
), reach(id, depth) AS (
  SELECT * FROM (VALUES (0, 0), (1, 0), (2, 0)) s(id, depth)
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN e ON e.src = r.id
  WHERE r.depth < 3
)
SELECT id AS doc_id, min(depth)::INT AS depth FROM reach GROUP BY id"""


def emb_cosine_dedup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.55 within an RHP-LSH
    bucket), oracle-paired: the DuckDB oracle inlines the same seeded
    hyperplanes and reproduces bucket assignment + the bounded same-bucket
    pairwise verify. Exact-copy vectors are planted (vec_id+10000 for
    vec_id<10) so both sides return NON-EMPTY pair sets — random sf0.01
    embeddings alone share no bucket above the threshold, and a 0-vs-0
    match proves nothing (round-1 lesson)."""
    from .operators.similarity import embedding_cosine_dedup_pairs
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.unionByName(
        e.filter(F.col("vec_id") < 10)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding"))
    out = embedding_cosine_dedup_pairs(planted, dim=64, threshold=0.55,
                                       n_bits=6, seed=5)
    return out.select("id_a", "id_b", _r(F.col("cos")).alias("cos_r"))


def clean_corpus(spark, sf_dir):
    """Composed training-data cleaning pipeline over `documents`: exact
    dedup (keep lowest doc_id per sha), quality gate (≥20 tokens and
    alpha_ratio ≥ 0.5), language gate (marker-argmax == 'en') — the
    keep-set a pretraining pipeline would feed downstream, one row per
    surviving doc with its features."""
    from .functions.textstats import with_lang_id, with_quality_score
    from .operators.dedup import exact_dedup
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    keep = exact_dedup(d).filter(F.col("keep")) \
        .select(F.col("id").alias("doc_id"))
    feats = with_lang_id(with_quality_score(d))
    out = (feats.join(keep, "doc_id")
           .filter((F.col("n_tokens") >= 20)
                   & (F.col("alpha_ratio") >= 0.5)
                   & (F.col("lang_pred") == "en")))
    return out.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                      _r(F.col("alpha_ratio")).alias("alpha_ratio_r"))


def training_corpus(spark, sf_dir):
    """THE canonical LLM-pretraining pipeline, composed end-to-end from
    the verified operators: planted corpus → near-dup CLUSTER resolution
    (MinHash-LSH pairs → connected components → keep canon only; removes
    both exact copies and near-dup edits transitively) → quality gate
    (≥15 tokens) → per-language mix (broadcast quota table: 80% en, 50%
    de/es, rest dropped). Every stage is individually oracle-paired
    (dedup_cluster_assign, text_quality, mix_sample_docs); this entry
    pins their COMPOSITION with a single nested-CTE oracle."""
    from .functions.hashing import poly_hash
    from .operators.dedup import dedup_clusters, minhash_lsh_dedup
    from .operators.sampling import stratified_fraction_sample
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    pairs = minhash_lsh_dedup(d, num_hashes=8, bands=4, threshold=0.2,
                              hash_expr=poly_hash, band_hash_expr=poly_hash)
    canon = (dedup_clusters(d, pairs).filter(F.col("canon") == 1)
             .select("doc_id"))
    toks = F.filter(F.split(F.lower(F.col("content")), "[^a-z0-9_]+"),
                    lambda x: x != F.lit(""))
    langs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("orig_id"), "lang")
    kept = (d.join(canon, "doc_id")
            .withColumn("n_tokens", F.size(toks).cast("long"))
            .filter(F.col("n_tokens") >= 15)
            .withColumn("orig_id", F.col("doc_id") % 10000)
            .join(langs, "orig_id"))
    out = stratified_fraction_sample(
        kept, "lang", {"en": 0.8, "de": 0.5, "es": 0.5},
        hash_expr=poly_hash)
    return out.select("doc_id", "lang", "n_tokens")


QUERIES["emb_cosine_dedup"] = emb_cosine_dedup
QUERIES["clean_corpus"] = clean_corpus
QUERIES["training_corpus"] = training_corpus


def _emb_dedup_oracle() -> str:
    from .operators.similarity import _planes
    planes = _planes(64, 6, seed=5)
    bucket = _duck_bucket_expr(planes, "v")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings
  WHERE vec_id < 10
), sig AS (
  SELECT vec_id, {bucket} AS b FROM e
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(round(list_cosine_similarity(ea.v, eb.v), 6) AS DOUBLE) AS cos_r
FROM sig a JOIN sig b ON a.b = b.b AND a.vec_id < b.vec_id
JOIN e ea ON ea.vec_id = a.vec_id
JOIN e eb ON eb.vec_id = b.vec_id
WHERE list_cosine_similarity(ea.v, eb.v) >= 0.55"""


ORACLE_SQL["emb_cosine_dedup"] = _emb_dedup_oracle()

ORACLE_SQL["clean_corpus"] = f"""
WITH d AS (
  SELECT doc_id, text, {_TOKS} AS t,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM documents
), feats AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
           * 1.0 / greatest(length(text), 1) AS alpha_ratio,
         len(list_filter(t, x -> x IN ('the','and','of','to','in','is','that','for','it','with'))) AS h_en,
         len(list_filter(t, x -> x IN ('el','la','de','que','y','los','en','un','una','por'))) AS h_es,
         len(list_filter(t, x -> x IN ('le','la','de','et','les','des','un','une','est','dans'))) AS h_fr,
         len(list_filter(t, x -> x IN ('der','die','und','das','von','zu','mit','den','ist','ein'))) AS h_de
  FROM d WHERE rn = 1
)
SELECT doc_id, n_tokens,
       CAST(round(alpha_ratio, 6) AS DOUBLE) AS alpha_ratio_r
FROM feats
WHERE n_tokens >= 20 AND alpha_ratio >= 0.5
  AND greatest(h_en, h_es, h_fr, h_de) > 0
  AND h_en = greatest(h_en, h_es, h_fr, h_de)"""


# --- P20 PII redaction + P21 line-level dedup -------------------------------

def _pii_docs(spark, sf_dir):
    """Deterministic PII-planted corpus: both engines append the same
    synthetic email / phone / IPv4 / hex-secret suffixes keyed off doc_id,
    so the redaction oracle compares non-vacuous match sets."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    tag = lambda m, col: F.when(i % m == 0, col).otherwise(F.lit(""))
    planted = F.concat(
        F.col("text"),
        tag(3, F.concat(F.lit(" mail user"), i.cast("string"),
                        F.lit("@example.com"))),
        tag(5, F.concat(F.lit(" tel +1-555-"),
                        F.lpad((i % 10000).cast("string"), 4, "0"),
                        F.lit("-0000"))),
        tag(7, F.concat(F.lit(" host 10."), (i % 200).cast("string"),
                        F.lit(".0."), (i % 250).cast("string"))),
        tag(11, F.concat(F.lit(" key "),
                         F.substring(F.sha2(F.col("text"), 256), 1, 40))))
    return d.select("doc_id", planted.alias("content"))


def pii_redact_docs(spark, sf_dir):
    """P20 PII redaction (functions/redact.py): regexp-tag emails, phones,
    IPv4s and long hex secrets over the PII-planted corpus; per-type match
    counts from the raw text. Pure JVM column expressions — the 100-TB
    shape is one codegen'd scan."""
    from .functions.redact import redact_pii_df
    out = redact_pii_df(_pii_docs(spark, sf_dir))
    return out.select(
        "doc_id", F.col("content").alias("redacted"),
        *[F.col(c).cast("int").alias(c)
          for c in out.columns if c.startswith("n_")])


def _multiline_docs(spark, sf_dir):
    """Deterministic multi-line corpus: a header shared by every doc, a
    unique line, a 50%-share generated banner vs a unique 'rare' line, and
    a blank line vs a ~19-doc-share tail line — covers drop-everywhere,
    keep-unique, threshold-boundary and blank-drop in one table."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    i = F.col("doc_id")
    text = F.concat_ws(
        "\n",
        F.lit("// shared copyright header"),
        F.concat(F.lit("unique "), i.cast("string"), F.lit(" "),
                 F.substring(F.col("text"), 1, 40)),
        F.when(i % 2 == 0, F.lit("generated by tool v1"))
         .otherwise(F.concat(F.lit("rare line "), i.cast("string"))),
        F.when(i % 3 == 0, F.lit("   "))
         .otherwise(F.concat(F.lit("tail "), (i % 7).cast("string"))))
    return d.select("doc_id", text.alias("content"))


def line_dedup_docs(spark, sf_dir):
    """P21 CCNet-style line-level dedup (operators/dedup.line_dedup):
    lines occurring in > 30 distinct docs are boilerplate and dropped,
    whitespace-only lines dropped, docs reassembled in original line
    order. The 200-doc planted corpus drops its shared header and the
    100-doc banner, keeps the ~19-doc tail lines and every unique line."""
    from .operators.dedup import line_dedup
    out = line_dedup(_multiline_docs(spark, sf_dir), max_docs=30)
    return out.select("doc_id", F.col("content").alias("text"))


QUERIES["pii_redact_docs"] = pii_redact_docs
QUERIES["line_dedup_docs"] = line_dedup_docs

from .functions.redact import PII_PATTERNS as _PII_PATTERNS  # noqa: E402

_PII_RED_SQL = "content"
for _n, _p, _r_ in _PII_PATTERNS:
    _PII_RED_SQL = f"regexp_replace({_PII_RED_SQL}, '{_p}', '{_r_}', 'g')"
_PII_CNT_SQL = ",\n       ".join(
    f"len(regexp_extract_all(content, '{_p}'))::INT AS n_{_n}"
    for _n, _p, _r_ in _PII_PATTERNS)

ORACLE_SQL["pii_redact_docs"] = f"""
WITH pii AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0
         THEN ' mail user' || doc_id || '@example.com' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0
         THEN ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              || '-0000' ELSE '' END ||
    CASE WHEN doc_id % 7 = 0
         THEN ' host 10.' || (doc_id % 200) || '.0.' || (doc_id % 250)
         ELSE '' END ||
    CASE WHEN doc_id % 11 = 0
         THEN ' key ' || substr(sha256(text), 1, 40) ELSE '' END AS content
  FROM documents
)
SELECT doc_id, {_PII_RED_SQL} AS redacted,
       {_PII_CNT_SQL}
FROM pii"""

ORACLE_SQL["line_dedup_docs"] = """
WITH ml AS (
  SELECT doc_id,
         '// shared copyright header' || chr(10) ||
         'unique ' || doc_id || ' ' || substr(text, 1, 40) || chr(10) ||
         CASE WHEN doc_id % 2 = 0 THEN 'generated by tool v1'
              ELSE 'rare line ' || doc_id END || chr(10) ||
         CASE WHEN doc_id % 3 = 0 THEN '   '
              ELSE 'tail ' || (doc_id % 7) END AS content
  FROM documents WHERE doc_id < 200
), lines AS (
  SELECT doc_id, unnest(string_split(content, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(content, chr(10)))))
           AS pos
  FROM ml
), kept AS (
  SELECT * FROM lines WHERE trim(line) <> ''
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS n_docs FROM kept GROUP BY line
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
FROM kept JOIN freq USING (line)
WHERE n_docs <= 30
GROUP BY doc_id"""


# --- P22 hashed linear quality classifier -----------------------------------

def quality_model_docs(spark, sf_dir):
    """P22 model-based quality gate (functions/quality_model.py):
    sigmoid(mean hashed-token weight) per doc — fastText-style inference
    as a broadcast join, weights regenerated from the deterministic
    formula on both sides, bucket math via the injectable poly hash."""
    from .functions.hashing import poly_hash
    from .functions.quality_model import (deterministic_weights,
                                          linear_quality_scores)
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", F.col("text").alias("content")))
    out = linear_quality_scores(d, deterministic_weights(spark, 1024),
                                1024, hash_expr=poly_hash)
    return out.select("doc_id", "n_tokens",
                      _r(F.col("q_score")).alias("q_score_r"))


QUERIES["quality_model_docs"] = quality_model_docs

from .functions.hashing import duck_poly as _duck_poly_qm  # noqa: E402
from .functions.quality_model import (WEIGHT_A as _QM_A,   # noqa: E402
                                      WEIGHT_M as _QM_M)

ORACLE_SQL["quality_model_docs"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), b AS (
  SELECT doc_id, {_duck_poly_qm('tok')} % 1024 AS bucket FROM toks
), w AS (
  SELECT i::INT AS bucket,
         (i * {_QM_A}) % {_QM_M} / 1000000.0 - 1.0 AS w
  FROM range(1024) t(i)
), s AS (
  SELECT doc_id, avg(w.w) AS s_raw, count(*)::BIGINT AS n_tokens
  FROM b JOIN w USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(round(1.0 / (1.0 + exp(-s_raw)), 6) AS DOUBLE) AS q_score_r
FROM s"""


# --- P23 exact substring-span dedup ------------------------------------------

_LICENSE_BLOCK = (" BEGIN LICENSE apache license version two point zero"
                  " all rights reserved END ")


def _blockdup_docs(spark, sf_dir):
    """Corpus with a shared license block injected at char offset 81 of
    every even doc — fixed offset keeps the strided windows of every copy
    on the same alignment grid, the case substring dedup targets."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    content = F.concat(
        F.substring(F.col("text"), 1, 80),
        F.when(i % 2 == 0, F.lit(_LICENSE_BLOCK)).otherwise(F.lit(" ")),
        F.expr("substring(text, 81)"))
    return d.select("doc_id", content.alias("content"))


def substring_dedup_docs(spark, sf_dir):
    """P23 exact substring-span dedup (operators/dedup.substring_dedup):
    strided 40-char windows, >= 5 corpus-wide occurrences, corpus-first
    occurrence kept, overlapping windows merged to spans and excised.
    The planted license block vanishes from every even doc but the
    first; odd docs pass through byte-identical."""
    from .operators.dedup import substring_dedup
    out = substring_dedup(_blockdup_docs(spark, sf_dir),
                          k=40, stride=20, min_count=5)
    return out.select("doc_id", F.col("content").alias("text"))


QUERIES["substring_dedup_docs"] = substring_dedup_docs

def _ssd_sql_chain(k: int, stride: int, min_count: int) -> str:
    """DuckDB CTE chain replicating operators/dedup.substring_dedup over a
    CTE ``d(doc_id, content)``; terminates with ``cleaned(doc_id,
    content)``. Factored so composed-pipeline oracles can reuse it."""
    return f"""win AS (
  SELECT doc_id, content,
         unnest(generate_series(1, greatest(length(content) - {k} + 1, 1),
                                {stride})) AS off
  FROM d
), wtext AS (
  SELECT doc_id, off, substr(content, off, {k}) AS wtxt,
         least(off + {k} - 1, length(content)) AS e
  FROM win
), marked AS (
  SELECT doc_id, off, e,
         count(*) OVER (PARTITION BY wtxt) AS n,
         row_number() OVER (PARTITION BY wtxt
                            ORDER BY doc_id, off) AS rn
  FROM wtext
), dup AS (
  SELECT doc_id, off AS s, e FROM marked WHERE n >= {min_count} AND rn > 1
), isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS brk
  FROM dup
), isl2 AS (
  SELECT doc_id, s, e,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
), merged AS (
  SELECT doc_id, min(s) AS s, max(e) AS e FROM isl2 GROUP BY doc_id, island
), gaps AS (
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
           AS gs,
         s - 1 AS ge
  FROM merged
  UNION ALL
  SELECT doc_id, max(e) + 1, NULL FROM merged GROUP BY doc_id
), rebuilt AS (
  SELECT g.doc_id,
         string_agg(substr(d.content, g.gs::INT,
                    (coalesce(g.ge, length(d.content)) - g.gs + 1)::INT),
                    '' ORDER BY g.gs) AS txt
  FROM gaps g JOIN d USING (doc_id)
  WHERE coalesce(g.ge, length(d.content)) >= g.gs
  GROUP BY g.doc_id
), cleaned AS (
  SELECT d.doc_id,
         CASE WHEN m.doc_id IS NULL THEN d.content
              ELSE coalesce(r.txt, '') END AS content
  FROM d
  LEFT JOIN (SELECT DISTINCT doc_id FROM merged) m USING (doc_id)
  LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
)"""


ORACLE_SQL["substring_dedup_docs"] = f"""
WITH d AS (
  SELECT doc_id,
         substr(text, 1, 80) ||
         CASE WHEN doc_id % 2 = 0 THEN '{_LICENSE_BLOCK}' ELSE ' ' END ||
         substr(text, 81) AS content
  FROM documents
), {_ssd_sql_chain(40, 20, 5)}
SELECT doc_id, content AS text FROM cleaned"""


# --- P15+ composed pipeline v2: the full modern cleaning chain ---------------

def _pipeline_docs(spark, sf_dir):
    """Corpus with BOTH a shared license block (fixed offset 81, even
    docs) AND planted PII suffixes — the input shape for the composed v2
    pipeline; each engine rebuilds it identically."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    base = F.concat(
        F.substring(F.col("text"), 1, 80),
        F.when(i % 2 == 0, F.lit(_LICENSE_BLOCK)).otherwise(F.lit(" ")),
        F.expr("substring(text, 81)"))
    content = F.concat(
        base,
        F.when(i % 3 == 0,
               F.concat(F.lit(" mail user"), i.cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(i % 7 == 0,
               F.concat(F.lit(" host 10."), (i % 200).cast("string"),
                        F.lit(".0."), (i % 250).cast("string")))
         .otherwise(F.lit("")))
    return d.select("doc_id", content.alias("content"))


def training_corpus_v2(spark, sf_dir):
    """The full modern training-data cleaning chain composed end to end —
    substring-span dedup (license block excised, P23) → PII redaction
    (P20) → hashed-linear quality gate at sigmoid ≥ 0.5 (P22) → exact
    dedup keep-first on the CLEANED text — verified by ONE nested-CTE
    oracle. Each stage is individually oracle-paired elsewhere; this
    entry pins their composition (stage ordering, column threading, the
    gate applying to post-redaction text)."""
    from .functions.hashing import poly_hash
    from .functions.quality_model import (deterministic_weights,
                                          linear_quality_scores)
    from .functions.redact import redact_pii
    from .operators.dedup import substring_dedup
    d = _pipeline_docs(spark, sf_dir)
    cleaned = substring_dedup(d, k=40, stride=20, min_count=5)
    red = cleaned.select("doc_id", redact_pii("content").alias("content"))
    scores = linear_quality_scores(red, deterministic_weights(spark, 1024),
                                   1024, hash_expr=poly_hash)
    kept = red.join(scores.filter(F.col("q_score") >= 0.5)
                    .select("doc_id", "q_score"), "doc_id")
    w = Window.partitionBy(F.sha2(F.col("content"), 256)).orderBy("doc_id")
    uniq = (kept.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    return uniq.select("doc_id", F.col("content").alias("text"),
                       _r(F.col("q_score")).alias("q_score_r"))


QUERIES["training_corpus_v2"] = training_corpus_v2

_PIPE_TOKS = _TOKS.replace("lower(text)", "lower(content)")

ORACLE_SQL["training_corpus_v2"] = f"""
WITH d AS (
  SELECT doc_id,
         substr(text, 1, 80) ||
         CASE WHEN doc_id % 2 = 0 THEN '{_LICENSE_BLOCK}' ELSE ' ' END ||
         substr(text, 81) ||
         CASE WHEN doc_id % 3 = 0
              THEN ' mail user' || doc_id || '@example.com' ELSE '' END ||
         CASE WHEN doc_id % 7 = 0
              THEN ' host 10.' || (doc_id % 200) || '.0.' || (doc_id % 250)
              ELSE '' END AS content
  FROM documents
), {_ssd_sql_chain(40, 20, 5)},
red AS (
  SELECT doc_id, {_PII_RED_SQL} AS content FROM cleaned
), qtoks AS (
  SELECT doc_id, unnest({_PIPE_TOKS}) AS tok FROM red
), qb AS (
  SELECT doc_id, {_duck_poly_qm('tok')} % 1024 AS bucket FROM qtoks
), qw AS (
  SELECT i::INT AS bucket,
         (i * {_QM_A}) % {_QM_M} / 1000000.0 - 1.0 AS w
  FROM range(1024) t(i)
), qs AS (
  SELECT qb.doc_id, avg(coalesce(qw.w, 0.0)) AS s_raw
  FROM qb LEFT JOIN qw USING (bucket) GROUP BY qb.doc_id
), keepq AS (
  SELECT doc_id, 1.0 / (1.0 + exp(-s_raw)) AS q FROM qs
  WHERE 1.0 / (1.0 + exp(-s_raw)) >= 0.5
), j AS (
  SELECT red.doc_id, red.content, keepq.q
  FROM red JOIN keepq USING (doc_id)
), rnq AS (
  SELECT doc_id, content, q,
         row_number() OVER (PARTITION BY sha256(content)
                            ORDER BY doc_id) AS rnn
  FROM j
)
SELECT doc_id, content AS text, CAST(round(q, 6) AS DOUBLE) AS q_score_r
FROM rnq WHERE rnn = 1"""


# --- round-3: chunking, shard assignment, incremental cross-corpus dedup ----

def chunk_docs(spark, sf_dir):
    """Pretraining chunk pre-pass (operators/chunking.chunk_documents):
    16-token windows with 4-token overlap over the documents table — pure
    split/explode/slice column expressions, one scan, NO shuffle.
    Oracle-paired per chunk (text + token count)."""
    from .operators.chunking import chunk_documents
    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=16, overlap=4)


def shard_assign(spark, sf_dir):
    """Deterministic training-shard layout (operators/sampling.
    assign_shards): shard = pmod(salted hash, 8) computed in the scan, pos
    = dense rank within the shard in hash order — one shuffle on a uniform
    key, never a global row_number. Oracle-paired row-for-row via the
    injectable polynomial hash."""
    from .functions.hashing import poly_hash
    from .operators.sampling import assign_shards
    d = load_table(spark, sf_dir, "documents")
    return (assign_shards(d, 8, seed=17, hash_expr=poly_hash)
            .select("doc_id", "shard", "pos"))


def _planted_incoming(spark, sf_dir):
    """Deterministic incoming batch for the incremental-dedup entry: near
    copies of base docs <12, exact copies of base docs <6, plus ten docs
    the base corpus (doc_id < 60) has never seen."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = (d.filter(F.col("doc_id") < 12)
            .select((F.col("doc_id") + 30000).alias("doc_id"),
                    F.concat(F.col("text"),
                             F.lit(" incremental batch near duplicate "
                                   "suffix")).alias("text")))
    exact = (d.filter(F.col("doc_id") < 6)
             .select((F.col("doc_id") + 40000).alias("doc_id"), "text"))
    novel = d.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 70))
    return near.unionByName(exact).unionByName(novel)


def incremental_dedup_pairs(spark, sf_dir):
    """Incremental ingest dedup (operators/dedup.write_minhash_index +
    incremental_lsh_pairs): the base corpus's MinHash band table is
    MATERIALIZED bucket-partitioned once; each incoming batch minhashes
    only itself, prunes the index scan to its probe buckets
    (PartitionFilters — the Q1 trick), and exact-verifies candidate-first.
    The base corpus is never re-minhashed per batch — the ingest-side
    answer to the round-2 ANN re-hash verdict. Oracle: DuckDB rebuilds
    both corpora's band tables with the injected polynomial hash and
    cross-joins them, reproducing the identical pair set + Jaccard."""
    idx, base = _planted_minhash_index(spark, sf_dir)
    from .functions.hashing import poly_hash
    from .operators.dedup import incremental_lsh_pairs
    inc = _planted_incoming(spark, sf_dir).withColumnRenamed("text",
                                                             "content")
    raw = incremental_lsh_pairs(inc, base, idx, num_hashes=8, bands=4,
                                threshold=0.2, seed=7, n_buckets=16,
                                hash_expr=poly_hash,
                                band_hash_expr=poly_hash)
    out = raw.select("id_a", "id_b",
                     _r(F.col("jaccard")).alias("jaccard_r"))
    out._persisted = getattr(raw, "_persisted", [])  # keep releasable
    return out


def _planted_minhash_index(spark, sf_dir):
    """Materialize (once per sf_dir) the bucket-partitioned MinHash band
    index over the base slice (doc_id < 60), signatures included."""
    from .functions.hashing import poly_hash
    from .operators.dedup import load_minhash_index, write_minhash_index
    base = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 60)
            .select("doc_id", F.col("text").alias("content")))
    out = os.path.join(entry_index_dir(sf_dir), "minhash_poly_sig")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        write_minhash_index(base, out, num_hashes=8, bands=4, seed=7,
                            n_buckets=16, hash_expr=poly_hash,
                            band_hash_expr=poly_hash)
    return load_minhash_index(spark, out), base


def incremental_dedup_mh_pairs(spark, sf_dir):
    """The 100-TB verify mode of the incremental probe: candidates verify
    by SIGNATURE AGREEMENT carried on the index rows (standard MinHash
    Jaccard estimator, join-free, base text never read). Oracle: DuckDB
    rebuilds both signature sets with the injected polynomial hash and
    counts agreeing components per candidate pair."""
    idx, _ = _planted_minhash_index(spark, sf_dir)
    from .functions.hashing import poly_hash
    from .operators.dedup import incremental_lsh_pairs
    inc = _planted_incoming(spark, sf_dir).withColumnRenamed("text",
                                                             "content")
    raw = incremental_lsh_pairs(inc, None, idx, num_hashes=8, bands=4,
                                threshold=0.2, seed=7, n_buckets=16,
                                verify="minhash", hash_expr=poly_hash,
                                band_hash_expr=poly_hash)
    out = raw.select("id_a", "id_b",
                     _r(F.col("jaccard")).alias("jaccard_r"))
    out._persisted = getattr(raw, "_persisted", [])  # keep releasable
    return out


QUERIES["chunk_docs"] = chunk_docs
QUERIES["shard_assign"] = shard_assign
QUERIES["incremental_dedup_pairs"] = incremental_dedup_pairs

# stride = 16 - 4 = 12; DuckDB list slice t[a:b] is 1-based inclusive and
# clamps past the end, same as Spark F.slice(t, start, 16)
ORACLE_SQL["chunk_docs"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 16 THEN 1
              ELSE CAST(ceil((len(t) - 16) / 12.0) AS BIGINT) + 1 END AS nch
  FROM toks WHERE len(t) > 0
), ex AS (
  SELECT doc_id, t, n, unnest(range(nch)) AS ci FROM sized
)
SELECT doc_id, ci::INT AS chunk_id,
       array_to_string(t[ci*12+1 : ci*12+16], ' ') AS chunk_text,
       least(16, n - ci*12)::INT AS n_tokens
FROM ex"""

ORACLE_SQL["shard_assign"] = f"""
WITH keyed AS (
  SELECT doc_id, {_SAMPLE_KEY} AS k FROM documents
)
SELECT doc_id, (k % 8)::INT AS shard,
       (row_number() OVER (PARTITION BY k % 8 ORDER BY k ASC, doc_id ASC)
        - 1)::BIGINT AS pos
FROM keyed"""


def _build_incremental_oracle() -> "dict[str, str]":
    from .operators.dedup import _MERSENNE, minhash_coeffs
    m31 = (1 << 31) - 1
    a, b = minhash_coeffs(8, seed=7)
    mins = ",\n  ".join(
        f"min((x * {int(a[i])} + {int(b[i])}) % {_MERSENNE}) AS h{i}"
        for i in range(8))

    def chain(src: str, p: str) -> str:
        bands = "\n  UNION ALL\n".join(
            f"  SELECT id, {bnd} AS band, "
            + _duck_poly(f"(h{2*bnd}::VARCHAR || ',' || h{2*bnd+1}::VARCHAR)")
            + f" AS bh FROM {p}sig"
            for bnd in range(4))
        return f"""{p}toks AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM {src}
), {p}sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id, unnest(list_transform(range(len(t) - 2),
                      i -> array_to_string(t[i+1:i+3], ' '))) AS shingle
    FROM {p}toks WHERE len(t) >= 3)
), {p}xs AS (
  SELECT id, {_duck_poly('shingle')} % {m31} AS x FROM {p}sh
), {p}sig AS (
  SELECT id,
  {mins}
  FROM {p}xs GROUP BY id
), {p}banded AS (
{bands}
)"""

    corpora = """WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 60
), inc AS (
  SELECT doc_id + 30000 AS doc_id,
         text || ' incremental batch near duplicate suffix' AS text
  FROM documents WHERE doc_id < 12
  UNION ALL
  SELECT doc_id + 40000, text FROM documents WHERE doc_id < 6
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id >= 60 AND doc_id < 70
),
""" + chain('base', 'b_') + ",\n" + chain('inc', 'q_') + """,
cand AS (
  SELECT DISTINCT b.id AS id_a, q.id AS id_b
  FROM b_banded b JOIN q_banded q
    ON b.band = q.band AND b.bh = q.bh AND b.id <> q.id
)"""

    exact_sql = corpora + """, allsh AS (
  SELECT * FROM b_sh UNION ALL SELECT * FROM q_sh
), cnt AS (
  SELECT id, count(*)::BIGINT AS n FROM allsh GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS i
  FROM cand c
  JOIN b_sh a ON a.id = c.id_a
  JOIN q_sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(round(i * 1.0 / (ca.n + cb.n - i), 6) AS DOUBLE) AS jaccard_r
FROM inter
JOIN cnt ca ON ca.id = id_a
JOIN cnt cb ON cb.id = id_b
WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2"""

    # selection-debiased estimator (rows_per_band = 2, band of h_i =
    # i // 2): agreement counted only over components of UNMATCHED bands;
    # all-bands-matched pairs score 1.0 — mirrors incremental_lsh_pairs
    agree_x = " + ".join(
        f"(CASE WHEN NOT list_contains(c.mb, {i // 2}) "
        f"AND bs.h{i} = qs.h{i} THEN 1 ELSE 0 END)" for i in range(8))
    est = (f"CASE WHEN 8 - 2 * len(c.mb) > 0 THEN ({agree_x}) * 1.0 / "
           f"(8 - 2 * len(c.mb)) ELSE 1.0 END")
    mh_sql = corpora + f""", candm AS (
  SELECT b.id AS id_a, q.id AS id_b, list(DISTINCT b.band) AS mb
  FROM b_banded b JOIN q_banded q
    ON b.band = q.band AND b.bh = q.bh AND b.id <> q.id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       CAST(round({est}, 6) AS DOUBLE) AS jaccard_r
FROM candm c
JOIN b_sig bs ON bs.id = c.id_a
JOIN q_sig qs ON qs.id = c.id_b
WHERE {est} >= 0.2"""
    return {"incremental_dedup_pairs": exact_sql,
            "incremental_dedup_mh_pairs": mh_sql}


QUERIES["incremental_dedup_mh_pairs"] = incremental_dedup_mh_pairs
ORACLE_SQL.update(_build_incremental_oracle())


def semdedup_docs(spark, sf_dir):
    """Semantic dedup (SemDeDup, Abbas et al. 2023) over the embeddings
    table (operators/similarity.semdedup_survivors): k-means-cluster the
    vectors, same-cluster pairs with cos ≥ 0.99 are semantic duplicates,
    each pair drops the member CLOSER to its centroid (the paper's
    diversity-preserving keep-rule; exact ties drop the higher id).
    Exact-copy vectors are planted (vec_id+10000 for vec_id<10) so the
    drop set is non-empty — survivors = N rows from N+10 planted inputs.
    Oracle-paired end-to-end: the deterministic sampled-centroid
    quantizer (centroids = vectors 1..32) keeps assignment, centroid-
    cosine, and the pairwise verify SQL-expressible in DuckDB."""
    import numpy as np
    from .operators.similarity import semdedup_survivors
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.unionByName(
        e.filter(F.col("vec_id") < 10)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding"))
    head = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in e.filter(F.col("vec_id").between(1, 32)).collect()}
    centroids = np.array([head[i] for i in range(1, 33)], dtype=np.float64)
    raw = semdedup_survivors(planted, centroids, threshold=0.99)
    out = raw.select(F.col("id").alias("vec_id"), "cluster",
                     _r(F.col("ccos")).alias("ccos_r"))
    out._persisted = getattr(raw, "_persisted", [])  # keep releasable
    return out


def pack_chunks(spark, sf_dir):
    """Training-sequence packing (operators/chunking.pack_sequences) over
    the P24 chunk table: shard = pmod(hash(doc:chunk,seed), 8) in the
    scan, then NEXT-FIT greedy per shard in salted-hash order — every
    (shard, seq) group sums to ≤ 64 tokens. Oracle-paired row-for-row:
    the injectable polynomial hash reproduces the shard + order, and a
    DuckDB recursive CTE replays the running-total recurrence exactly."""
    from .functions.hashing import poly_hash
    from .operators.chunking import chunk_documents, pack_sequences
    d = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(d, chunk_tokens=16, overlap=4)
    return pack_sequences(ch, budget=64, n_shards=8, hash_expr=poly_hash)


QUERIES["semdedup_docs"] = semdedup_docs
QUERIES["pack_chunks"] = pack_chunks

ORACLE_SQL["semdedup_docs"] = """
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), e AS (
  SELECT vec_id, v FROM e0
  UNION ALL
  SELECT vec_id + 10000, v FROM e0 WHERE vec_id < 10
), cent AS (
  SELECT vec_id - 1 AS cluster, v AS cv FROM e0 WHERE vec_id BETWEEN 1 AND 32
), asg AS (
  SELECT e.vec_id, c.cluster, e.v,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_distance(e.v, c.cv), c.cluster)
           AS rn
  FROM e, cent c
), scored AS (
  SELECT a.vec_id, a.cluster, a.v,
         list_cosine_similarity(a.v, c.cv) AS ccos
  FROM asg a JOIN cent c ON c.cluster = a.cluster WHERE a.rn = 1
), pairs AS (
  SELECT x.vec_id AS ia, y.vec_id AS ib, x.ccos AS ca, y.ccos AS cb
  FROM scored x JOIN scored y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE list_cosine_similarity(x.v, y.v) >= 0.99
), losers AS (
  SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND ia > ib)
                       THEN ia ELSE ib END AS vec_id
  FROM pairs
)
SELECT s.vec_id, s.cluster::INT AS cluster,
       CAST(round(s.ccos, 6) AS DOUBLE) AS ccos_r
FROM scored s WHERE s.vec_id NOT IN (SELECT vec_id FROM losers)"""

_PACK_KEY = _duck_poly("doc_id::VARCHAR || ':' || chunk_id::VARCHAR || ':17'")

ORACLE_SQL["pack_chunks"] = f"""
WITH RECURSIVE chunks AS (
  SELECT doc_id, chunk_id, n_tokens FROM ({ORACLE_SQL["chunk_docs"]})
), ordered AS (
  SELECT doc_id, chunk_id, n_tokens, (k % 8)::INT AS shard,
         row_number() OVER (PARTITION BY k % 8
                            ORDER BY k ASC, doc_id ASC, chunk_id ASC) AS rn
  FROM (SELECT *, {_PACK_KEY} AS k FROM chunks)
), r AS (
  SELECT shard, rn, doc_id, chunk_id, n_tokens,
         0::BIGINT AS seq, 0::BIGINT AS pos, n_tokens::BIGINT AS acc
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.chunk_id, o.n_tokens,
         CASE WHEN r.acc + o.n_tokens > 64 THEN r.seq + 1 ELSE r.seq END,
         CASE WHEN r.acc + o.n_tokens > 64 THEN 0::BIGINT ELSE r.pos + 1 END,
         CASE WHEN r.acc + o.n_tokens > 64 THEN o.n_tokens::BIGINT
              ELSE r.acc + o.n_tokens END
  FROM r JOIN ordered o ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT doc_id, chunk_id, n_tokens, shard, seq, pos FROM r"""


def jsonl_ingest_docs(spark, sf_dir):
    """JSONL ingest with quarantine (sources/ingest.read_jsonl_docs): the
    documents table is dumped to a real JSONL file ONCE per sf_dir with
    deterministically planted damage — doc_id % 97 == 3 lines are
    syntactically corrupted, % 97 == 5 lines get a null text — then read
    back through the schema-enforced PERMISSIVE reader. Returns the
    VALID half (id, lang, content sha); the oracle reproduces the
    expected keep-set straight from the documents view, pinning (a) the
    JSON round-trip is byte-exact (sha match), (b) corrupt and
    null-required rows are quarantined, (c) no valid row is lost."""
    from .sources.ingest import read_jsonl_docs
    dump = os.path.join(entry_index_dir(sf_dir), "ingest_jsonl")
    if not os.path.exists(os.path.join(dump, "_SUCCESS")):
        d = load_table(spark, sf_dir, "documents")
        line = F.to_json(F.struct(
            F.col("doc_id"),
            F.when(F.col("doc_id") % 97 != 5, F.col("text")).alias("text"),
            F.col("lang")))
        damaged = F.when(F.col("doc_id") % 97 == 3,
                         F.concat(F.lit("{corrupt!"), line)).otherwise(line)
        (d.select(damaged.alias("value")).coalesce(4)
         .write.mode("overwrite").text(dump))
    valid, _quar = read_jsonl_docs(
        spark, dump, "doc_id long, text string, lang string",
        required=("doc_id", "text"))
    return valid.select("doc_id", "lang",
                        F.sha2(F.col("text"), 256).alias("content_sha"))


QUERIES["jsonl_ingest_docs"] = jsonl_ingest_docs

ORACLE_SQL["jsonl_ingest_docs"] = """
SELECT doc_id, lang, sha256(text) AS content_sha
FROM documents
WHERE doc_id % 97 <> 3 AND doc_id % 97 <> 5"""


def lm_ppl_docs(spark, sf_dir):
    """CCNet-style unigram-LM perplexity scoring (functions/lm.py): train
    add-1-smoothed token log-probs on the reference slice (doc_id % 5 ==
    0) with a 500-token head vocab (rarer tokens fold into OOV), score
    every document's perplexity under it, flag the keeps at ppl <= 600.
    Whitespace-only docs (NULL ppl) are excluded on both sides. Fully
    SQL-expressible (counts, ln, exp) — value-hash oracle-paired."""
    from .functions.lm import lm_perplexity, train_unigram_lm
    d = load_table(spark, sf_dir, "documents")
    vocab, oov = train_unigram_lm(d.filter(F.col("doc_id") % 5 == 0),
                                  text_col="text", max_vocab=500)
    ppl = lm_perplexity(d, vocab, oov, text_col="text")
    return (ppl.filter(F.col("ppl").isNotNull())
            .select(F.col("id").alias("doc_id"), "n_tokens",
                    _r(F.col("avg_logp")).alias("avg_logp_r"),
                    _r(F.col("ppl"), 4).alias("ppl_r"),
                    (F.col("ppl") <= 600).cast("int").alias("keep")))


QUERIES["lm_ppl_docs"] = lm_ppl_docs

ORACLE_SQL["lm_ppl_docs"] = r"""
WITH rtoks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents WHERE doc_id % 5 = 0
), counts AS (
  SELECT token, count(*)::BIGINT AS c FROM rtoks GROUP BY 1
  ORDER BY c DESC, token ASC LIMIT 500
), tot AS (
  SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM counts
), vocab AS (
  SELECT token, ln((c + 1.0) / (n + (v + 1))) AS logp FROM counts, tot
), oov AS (
  SELECT ln(1.0 / (n + (v + 1))) AS lp FROM tot
), dtoks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), scored AS (
  SELECT d.doc_id, count(*)::BIGINT AS n_tokens,
         avg(coalesce(v.logp, o.lp)) AS al
  FROM dtoks d LEFT JOIN vocab v USING (token), oov o
  GROUP BY 1
)
SELECT doc_id, n_tokens,
       CAST(round(al, 6) AS DOUBLE) AS avg_logp_r,
       CAST(round(exp(-al), 4) AS DOUBLE) AS ppl_r,
       (exp(-al) <= 600)::INT AS keep
FROM scored"""


def token_ids_docs(spark, sf_dir):
    """Trainer-ready token ids (functions/bpe.build_vocab/tokens_to_ids):
    frequency-ranked 300-token vocab (id 0 reserved for OOV) over the
    whitespace tokens of `documents`, every doc's token sequence mapped
    to ids through the closure dict. Output exploded to (doc_id, pos,
    token_id) scalar rows so the value-hash pins every position. DuckDB
    reproduces the rank and the lookup with a zipped unnest + left join."""
    from .functions.bpe import build_vocab, tokens_to_ids
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                 lambda x: x != F.lit("")).alias("toks"))
    vocab = build_vocab(toks, tokens_col="toks", max_vocab=300, reserve=1)
    ids = tokens_to_ids(toks, vocab, tokens_col="toks", oov_id=0)
    return (ids.select("doc_id", F.posexplode("token_ids")
                       .alias("pos", "token_id"))
            .select("doc_id", F.col("pos").cast("int").alias("pos"),
                    "token_id"))


QUERIES["token_ids_docs"] = token_ids_docs

ORACLE_SQL["token_ids_docs"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
), flat AS (
  SELECT doc_id, unnest(t) AS token,
         unnest(range(len(t))) AS pos
  FROM toks
), vocab AS (
  SELECT token,
         row_number() OVER (ORDER BY count(*) DESC, token ASC)::INT AS id
  FROM flat GROUP BY token
  ORDER BY count(*) DESC, token ASC LIMIT 300
)
SELECT f.doc_id, f.pos::INT AS pos,
       coalesce(v.id, 0)::INT AS token_id
FROM flat f LEFT JOIN vocab v USING (token)"""


def normalize_docs(spark, sf_dir):
    """P33 unicode normalization (functions/normalize.normalize_text):
    plant decomposed-combining / control-char / compose-less suffixes onto
    the ASCII synthetic corpus with a pure SQL-expressible concat (the
    oracle replays the identical chr() planting), then NFC-normalize
    (Arrow-batched, ASCII rows skipped inside the kernel) and strip
    C0/DEL controls JVM-side. `changed` audits which rows the pass
    touched: %4==0 composes e+U+0301 -> é, %4==1 loses two control bytes,
    %4==2 keeps the compose-less e+U+030A but drops DEL, %4==3 is
    untouched ASCII."""
    from .functions.normalize import normalize_text
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 4
    suffix = (F.when(m == 0, F.lit(" caf" + chr(101) + chr(769)))
              .when(m == 1, F.lit(" x" + chr(1) + "y" + chr(31) + "z"))
              .when(m == 2, F.lit(" e" + chr(778) + chr(127) + "q"))
              .otherwise(F.lit("")))
    d = d.withColumn("content", F.concat(F.col("text"), suffix))
    out = normalize_text(d, "content", out_col="content_norm",
                         form="NFC", with_changed=True)
    return out.select("doc_id", "content_norm",
                      F.col("content_norm_changed").alias("changed"))


QUERIES["normalize_docs"] = normalize_docs


def _duck_norm_oracle():
    from .functions.normalize import duck_normalize_sql
    norm = duck_normalize_sql("content")
    return f"""
WITH planted AS (
  SELECT doc_id, text ||
    CASE doc_id % 4
      WHEN 0 THEN ' caf' || chr(101) || chr(769)
      WHEN 1 THEN ' x' || chr(1) || 'y' || chr(31) || 'z'
      WHEN 2 THEN ' e' || chr(778) || chr(127) || 'q'
      ELSE '' END AS content
  FROM documents)
SELECT doc_id, {norm} AS content_norm,
       (CASE WHEN {norm} <> content THEN 1 ELSE 0 END)::INT AS changed
FROM planted"""


ORACLE_SQL["normalize_docs"] = _duck_norm_oracle()


def dedup_cluster_best(spark, sf_dir):
    """P34 quality-aware canonical pick: same planted near-dup clusters as
    dedup_cluster_assign, but the keep policy is argmax(content length,
    ties -> min id) instead of min id — the planted near-dups carry an
    appended suffix, so they are LONGER than their base doc and win the
    pick, proving the policy actually diverges from min-id on this corpus.
    One hash agg (struct-max) + one join back on cluster_id; no window,
    no per-cluster sort (operators/dedup.dedup_clusters prefer_col path).
    Oracle: recursive-CTE closure + row_number window replay."""
    from .functions.hashing import poly_hash
    from .operators.dedup import dedup_clusters, minhash_lsh_dedup
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    pairs = minhash_lsh_dedup(d, num_hashes=8, bands=4, threshold=0.2,
                              hash_expr=poly_hash, band_hash_expr=poly_hash)
    d = d.withColumn("pref", F.length("content"))
    return dedup_clusters(d, pairs, id_col="doc_id", prefer_col="pref")


QUERIES["dedup_cluster_best"] = dedup_cluster_best

ORACLE_SQL["dedup_cluster_best"] = f"""
WITH RECURSIVE pairs AS ({ORACLE_SQL["minhash_lsh_pairs"]}),
{_PLANTED_SQL_BODY},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
walk(id, label) AS (
  SELECT doc_id, doc_id FROM planted
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.id
),
clusters AS (
  SELECT id AS doc_id, min(label)::BIGINT AS cluster_id
  FROM walk GROUP BY id
),
scored AS (
  SELECT c.doc_id, c.cluster_id, length(p.text) AS pref
  FROM clusters c JOIN planted p USING (doc_id)
),
rn AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY pref DESC, doc_id ASC) AS r
  FROM scored
)
SELECT doc_id, cluster_id,
       (CASE WHEN r = 1 THEN 1 ELSE 0 END)::INT AS canon
FROM rn"""


def clean_audit_docs(spark, sf_dir):
    """P35 rejection audit trail (operators/audit.drop_log): run a two-
    stage cleaning chain — min-token gate (>= 15 tokens, same split as
    training_corpus) then exact dedup (keep min id per content sha) — over
    the planted corpus plus two identical TINY docs, and return the
    (doc_id, stage) trail of every dropped document labeled with the FIRST
    stage that rejected it. The tiny twins prove the first-stage
    semantics: both fail the token gate, so both log 'min_tokens' and
    NEITHER logs 'exact_dedup' even though they are also exact dupes; the
    planted exact copies (+20000 ids) log 'exact_dedup'. Each log is one
    left-anti join of stage-boundary id sets."""
    from .functions.textstats import with_token_count
    from .operators.audit import drop_log, union_logs
    from .operators.dedup import exact_dedup
    d = _planted_docs(spark, sf_dir).withColumnRenamed("text", "content")
    tiny = spark.range(2).select(
        (F.col("id") + 30000).alias("doc_id"),
        F.lit("tiny dup doc").alias("content"))
    d0 = d.unionByName(tiny)
    d1 = (with_token_count(d0, "content")
          .filter(F.col("n_tokens") >= 15).select("doc_id", "content"))
    keep = (exact_dedup(d1).filter(F.col("keep"))
            .select(F.col("id").alias("doc_id")))
    d2 = d1.join(keep, "doc_id", "left_semi")
    return union_logs([drop_log(d0, d1, "min_tokens"),
                       drop_log(d1, d2, "exact_dedup")])


QUERIES["clean_audit_docs"] = clean_audit_docs

ORACLE_SQL["clean_audit_docs"] = f"""
WITH {_PLANTED_SQL_BODY},
corpus AS (
  SELECT doc_id, text FROM planted
  UNION ALL
  SELECT 30000 + i, 'tiny dup doc'
  FROM generate_series(0, 1) AS t(i)
),
toks AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                         x -> x <> ''))::BIGINT AS n_tokens
  FROM corpus
),
short AS (SELECT doc_id FROM toks WHERE n_tokens < 15),
kept1 AS (
  SELECT c.doc_id, c.text FROM corpus c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM short)
),
dups AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS r
    FROM kept1) WHERE r > 1
)
SELECT doc_id, 'min_tokens' AS stage FROM short
UNION ALL
SELECT doc_id, 'exact_dedup' AS stage FROM dups"""


def corpus_report_docs(spark, sf_dir):
    """P36 corpus statistics report (operators/report.corpus_report): per
    (source, lang) slice — doc count, char/token totals, mean and exact
    p50/p90 token quantiles — in ONE hash aggregation over the corpus scan
    (no join/window; quantile state is bounded by DISTINCT doc lengths,
    exact=False switches to the t-digest sketch for unbounded domains).
    Oracle: DuckDB quantile_cont, the same linear interpolation as Spark's
    exact percentile."""
    from .operators.report import corpus_report
    d = load_table(spark, sf_dir, "documents")
    rep = corpus_report(d, group_cols=("source", "lang"), text_col="text")
    return rep.select(
        "source", "lang", "n_docs", "total_chars", "total_tokens",
        _r(F.col("avg_tokens")).alias("avg_tokens_r"),
        _r(F.col("q50_tokens")).alias("q50_tokens_r"),
        _r(F.col("q90_tokens")).alias("q90_tokens_r"))


QUERIES["corpus_report_docs"] = corpus_report_docs

ORACLE_SQL["corpus_report_docs"] = """
WITH toks AS (
  SELECT source, lang, length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                         x -> x <> ''))::BIGINT AS n
  FROM documents)
SELECT source, lang, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n)::BIGINT AS total_tokens,
       round(avg(n), 6)::DOUBLE AS avg_tokens_r,
       round(quantile_cont(n, 0.5), 6)::DOUBLE AS q50_tokens_r,
       round(quantile_cont(n, 0.9), 6)::DOUBLE AS q90_tokens_r
FROM toks GROUP BY source, lang"""


def fuzzy_term_lookup(spark, sf_dir):
    """P37 SymSpell fuzzy dictionary lookup (operators/fuzzy.py): top-5
    terms within levenshtein 1 of each (typo'd) query token, ranked
    (dist ASC, df DESC, term ASC), served from the MATERIALIZED
    bucket-partitioned delete-neighborhood index — one equi-join probe
    with partition pruning, never a full-vocabulary distance scan. The
    reference has no typo tolerance (QueryRepository.java:14-15 is
    prefix-LIKE only); this is the gap-closing operator. Oracle: DuckDB
    brute-force levenshtein over the full dfreq vocabulary — equality
    proves the SymSpell neighborhood join is COMPLETE at distance 1."""
    from .operators.fuzzy import (fuzzy_lookup, load_deletion_index,
                                  write_deletion_index)
    idx = entry_index(spark, sf_dir)
    out = entry_index_dir(sf_dir) + "_fuzzy"
    if not os.path.exists(os.path.join(out, "meta.json")):
        write_deletion_index(idx["terms"], out, max_del=1, n_buckets=16)
    fz = load_deletion_index(spark, out)
    # engineered over the sf vocab: multi-candidate typos (hast -> fast
    # AND hash; sart -> part AND sort; spart -> part AND spark; ag -> a
    # AND agg), one exact hit (scan, dist 0) and one miss (zzz, absent)
    toks = ["hast", "sart", "spart", "ag", "merg", "scan", "zzz"]
    return fuzzy_lookup(fz["variants"], toks, n_buckets=fz["n_buckets"],
                        index_max_del=fz["max_del"], max_d=1, k=5)


QUERIES["fuzzy_term_lookup"] = fuzzy_term_lookup

ORACLE_SQL["fuzzy_term_lookup"] = _BASE_CTES + """,
fq(q) AS (VALUES ('hast'), ('sart'), ('spart'), ('ag'), ('merg'),
                 ('scan'), ('zzz')),
cand AS (
  SELECT fq.q, dfreq.term,
         levenshtein(fq.q, dfreq.term)::INT AS dist, dfreq.df
  FROM fq CROSS JOIN dfreq
  WHERE levenshtein(fq.q, dfreq.term) <= 1
)
SELECT q, term, dist, df, rk FROM (
  SELECT q, term, dist, df,
         row_number() OVER (PARTITION BY q
                            ORDER BY dist ASC, df DESC, term ASC)::INT AS rk
  FROM cand
) WHERE rk <= 5"""


def vocab_coverage_terms(spark, sf_dir):
    """P38 vocabulary coverage curve (operators/report.vocab_coverage)
    over the REAL index dictionary's collection frequencies: token mass
    covered by the top-r terms at tokenizer-sizing ranks, computed via
    frequency-class aggregation + interpolation (state bounded by
    distinct counts, never a |V|-row global sort). Sizes split tie
    classes (the sf0.01 vocab has large equal-cf classes) and overshoot
    |V| (clamp). Oracle: DuckDB per-term row_number ranking — equality
    proves the class interpolation exact and tie-order invariant."""
    from .operators.report import vocab_coverage
    idx = entry_index(spark, sf_dir)
    cov = vocab_coverage(idx["terms"], [1, 5, 10, 31, 100], count_col="cf")
    return cov.select("vocab_size", "covered_tokens", "total_tokens",
                      _r(F.col("coverage")).alias("coverage_r"))


QUERIES["vocab_coverage_terms"] = vocab_coverage_terms

ORACLE_SQL["vocab_coverage_terms"] = _BASE_CTES + """,
ranked AS (
  SELECT row_number() OVER (ORDER BY cf DESC, term) AS rn,
         sum(cf) OVER (ORDER BY cf DESC, term
                       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
  FROM dfreq
),
tot AS (SELECT count(*)::BIGINT AS nt, sum(cf)::BIGINT AS total FROM dfreq),
sz(s) AS (VALUES (1), (5), (10), (31), (100))
SELECT s::BIGINT AS vocab_size, r.cum AS covered_tokens,
       tot.total AS total_tokens,
       round(r.cum::DOUBLE / tot.total, 6)::DOUBLE AS coverage_r
FROM sz CROSS JOIN tot JOIN ranked r ON r.rn = least(sz.s, tot.nt)"""


def gopher_repetition(spark, sf_dir):
    """P39 Gopher repetition signals (functions/textstats.
    with_repetition_features) over the documents table with line
    structure PLANTED expressibly on both sides (first-8-token head +
    newline + full text + newline + head again — so every doc has one
    duplicated line of three). n-gram repetition needs no planting: the
    generator's tiny vocabulary makes 2-gram/5-gram repeats organic.
    Oracle: DuckDB recomputes every fraction from per-(doc, value) counts
    — proving the shuffle-free sorted-array run-length kernel equals the
    explicit groupBy formulation."""
    from .functions.textstats import with_repetition_features
    d = load_table(spark, sf_dir, "documents")
    head = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " ")
    planted = d.select(
        "doc_id",
        F.concat(head, F.lit("\n"), F.col("text"), F.lit("\n"), head)
        .alias("content"))
    r = with_repetition_features(planted, top_ns=(2,), dup_ns=(5,))
    return r.select(
        "doc_id",
        _r(F.col("dup_line_frac")).alias("dup_line_frac_r"),
        _r(F.col("dup_line_char_frac")).alias("dup_line_char_frac_r"),
        _r(F.col("top_2gram_char_frac")).alias("top_2gram_r"),
        _r(F.col("dup_5gram_char_frac")).alias("dup_5gram_r"))


QUERIES["gopher_repetition"] = gopher_repetition

_PLANTED_CTE = """
planted AS (
  SELECT doc_id,
         array_to_string(string_split(text, ' ')[1:8], ' ') || chr(10) ||
         text || chr(10) ||
         array_to_string(string_split(text, ' ')[1:8], ' ') AS content
  FROM documents
)"""

ORACLE_SQL["gopher_repetition"] = "WITH" + _PLANTED_CTE + f""",
lines AS (
  SELECT doc_id, unnest(string_split(content, chr(10))) AS line FROM planted
),
lruns AS (SELECT doc_id, line, count(*)::BIGINT AS c
          FROM lines GROUP BY 1, 2),
lagg AS (
  SELECT doc_id, sum(c) AS n_lines, count(*) AS n_distinct,
         sum(c * length(line)) AS line_chars,
         sum((c - 1) * length(line)) AS dup_line_chars
  FROM lruns GROUP BY 1
),
ptoks AS (SELECT doc_id, {_PIPE_TOKS} AS t FROM planted),
tchars AS (SELECT doc_id, length(array_to_string(t, ' ')) AS tok_chars
           FROM ptoks),
g2c AS (
  SELECT doc_id, g, count(*)::BIGINT AS c FROM (
    SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM ptoks)) GROUP BY 1, 2
),
top2 AS (
  SELECT doc_id, max(c * length(g)) FILTER (WHERE c = mc) AS top_chars
  FROM (SELECT doc_id, g, c, max(c) OVER (PARTITION BY doc_id) AS mc
        FROM g2c)
  GROUP BY 1
),
dup5 AS (
  SELECT doc_id,
         coalesce(sum(c * length(g)) FILTER (WHERE c >= 2), 0) AS dup_chars
  FROM (
    SELECT doc_id, g, count(*)::BIGINT AS c FROM (
      SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
            FROM ptoks)) GROUP BY 1, 2)
  GROUP BY 1
)
SELECT l.doc_id,
  round((l.n_lines - l.n_distinct)::DOUBLE / l.n_lines, 6)::DOUBLE
    AS dup_line_frac_r,
  round(l.dup_line_chars::DOUBLE / l.line_chars, 6)::DOUBLE
    AS dup_line_char_frac_r,
  round(t2.top_chars::DOUBLE / tc.tok_chars, 6)::DOUBLE AS top_2gram_r,
  round(least(d5.dup_chars::DOUBLE / tc.tok_chars, 1.0), 6)::DOUBLE
    AS dup_5gram_r
FROM lagg l
JOIN tchars tc USING (doc_id)
JOIN top2 t2 USING (doc_id)
JOIN dup5 d5 USING (doc_id)"""


def decontam_hits_docs(spark, sf_dir):
    """P40 benchmark decontamination (operators/decontaminate.
    contamination_hits): the "benchmark" is synthesized deterministically
    from the corpus itself — tokens 3..9 of every doc_id % 100 == 7
    document — so the source docs are guaranteed contaminated and the
    tiny generator vocabulary makes ORGANIC cross-document 3-gram
    collisions too (non-vacuous beyond the planted hits). Returns
    (doc_id, n_hit DISTINCT shared grams, lexicographically-first gram).
    Oracle: DuckDB replays the explode/semi-join/count exactly."""
    from .operators.decontaminate import contamination_hits
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    bench = d.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(F.split(F.col("content"), " "), 3, 7), " ")
        .alias("text"))
    return contamination_hits(d, bench, n=3)


QUERIES["decontam_hits_docs"] = decontam_hits_docs

_BENCH_GRAMS_CTE = f"""
btoks AS (
  SELECT {_TOKS.replace("lower(text)",
                        "lower(array_to_string(string_split(text, ' ')[3:9], ' '))")} AS t
  FROM documents WHERE doc_id % 100 = 7
),
bgrams AS (
  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS gram
  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i FROM btoks)
),
dtoks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dgrams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM dtoks)
)"""

ORACLE_SQL["decontam_hits_docs"] = "WITH" + _BENCH_GRAMS_CTE + """
SELECT doc_id, count(*)::BIGINT AS n_hit, min(gram) AS first_gram
FROM dgrams JOIN bgrams USING (gram) GROUP BY 1"""


def decontam_bench_coverage(spark, sf_dir):
    """P40 reverse audit (operators/decontaminate.benchmark_coverage):
    per benchmark item, the fraction of ITS 3-grams leaked anywhere in
    the corpus — 1.0 for every item here by construction (each is a
    verbatim corpus slice), which is exactly what the audit must report
    before doc-level dropping is trusted."""
    from .operators.decontaminate import benchmark_coverage
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    bench = d.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(F.split(F.col("content"), " "), 3, 7), " ")
        .alias("text"))
    cov = benchmark_coverage(d, bench, n=3)
    return cov.select("bench_id", "n_grams", "n_leaked",
                      _r(F.col("leak_frac")).alias("leak_frac_r"))


QUERIES["decontam_bench_coverage"] = decontam_bench_coverage

ORACLE_SQL["decontam_bench_coverage"] = f"""
WITH btoks AS (
  SELECT doc_id AS bench_id,
         {_TOKS.replace("lower(text)",
                        "lower(array_to_string(string_split(text, ' ')[3:9], ' '))")} AS t
  FROM documents WHERE doc_id % 100 = 7
),
-- zero-gram items must SURVIVE as (bench_id, 0, 0, NULL) — mirror the
-- Spark side's explode_outer with a NULL-element placeholder list
bitems AS (
  SELECT bench_id,
         unnest(CASE WHEN len(t) < 3 THEN [NULL]
                ELSE list_distinct(list_transform(
                    range(len(t) - 2),
                    i -> array_to_string(t[i + 1:i + 3], ' '))) END) AS gram
  FROM btoks
),
dtoks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dgrams AS (
  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS gram
  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM dtoks)
)
SELECT b.bench_id,
       count(b.gram)::BIGINT AS n_grams,
       count(d.gram)::BIGINT AS n_leaked,
       round(count(d.gram)::DOUBLE / nullif(count(b.gram), 0), 6)::DOUBLE
           AS leak_frac_r
FROM bitems b LEFT JOIN dgrams d USING (gram)
GROUP BY 1"""


def dsir_select_docs(spark, sf_dir):
    """P41 DSIR importance resampling (operators/dsir): the TARGET is the
    deterministic doc_id % 7 == 3 slice of the documents table, the RAW
    pool is the whole table; hashed unigram+bigram bag models (B=512,
    add-1 smoothing, injectable poly hash) give every doc a log
    importance weight, and Gumbel-top-50 (seed 7, deterministic
    hash-derived noise) selects without replacement. Oracle: DuckDB
    rebuilds the bucket counts, the smoothed log-ratio table over ALL
    512 buckets, the per-doc weight sum, and the exact Gumbel keys —
    proving selection end-to-end, not just scoring."""
    from .functions.hashing import poly_hash
    from .operators.dsir import (dsir_logratios, dsir_select,
                                 gram_bucket_counts)
    d = load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content").select("doc_id", "content")
    target = d.filter(F.col("doc_id") % 7 == 3)
    B = 512
    lr = dsir_logratios(
        gram_bucket_counts(target, n_buckets=B, hash_fn=poly_hash),
        gram_bucket_counts(d, n_buckets=B, hash_fn=poly_hash),
        n_buckets=B)
    sel = dsir_select(d, lr, k=50, n_buckets=B, seed=7,
                      hash_fn=poly_hash)
    return sel.select("doc_id", _r(F.col("log_w")).alias("log_w_r"),
                      _r(F.col("sel_key")).alias("sel_key_r"))


QUERIES["dsir_select_docs"] = dsir_select_docs

from .functions.hashing import duck_poly as _dp  # noqa: E402

ORACLE_SQL["dsir_select_docs"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_concat(
      t, list_transform(range(greatest(len(t) - 1, 0)),
                        i -> t[i + 1] || ' ' || t[i + 2]))) AS gram
  FROM toks
),
bg AS (SELECT doc_id, {_dp('gram')} % 512 AS bucket FROM grams),
tc AS (SELECT bucket, count(*)::DOUBLE AS c FROM bg
       WHERE doc_id % 7 = 3 GROUP BY 1),
rc AS (SELECT bucket, count(*)::DOUBLE AS c FROM bg GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM bg WHERE doc_id % 7 = 3)::DOUBLE AS tt,
               (SELECT count(*) FROM bg)::DOUBLE AS rt),
lr AS (
  SELECT b.bucket,
         ln((coalesce(tc.c, 0) + 1.0) / (tot.tt + 512.0))
         - ln((coalesce(rc.c, 0) + 1.0) / (tot.rt + 512.0)) AS log_ratio
  FROM (SELECT unnest(range(512)) AS bucket) b
  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tot
),
scores AS (
  SELECT d.doc_id, coalesce(sum(lr.log_ratio), 0)::DOUBLE AS log_w
  FROM documents d LEFT JOIN bg USING (doc_id)
  LEFT JOIN lr USING (bucket) GROUP BY 1
),
keyed AS (
  SELECT doc_id, log_w,
         log_w - ln(-ln((({_dp("'7:' || doc_id::VARCHAR")}) % 1048576
                         + 0.5) / 1048576.0)) AS sel_key
  FROM scores
)
SELECT doc_id, round(log_w, 6)::DOUBLE AS log_w_r,
       round(sel_key, 6)::DOUBLE AS sel_key_r
FROM keyed ORDER BY sel_key DESC, doc_id LIMIT 50"""


def grouped_split_docs(spark, sf_dir):
    """P42 leakage-safe grouped split (operators/sampling.grouped_split):
    documents split train/val/test at the SOURCE level — every doc of a
    source lands on the same side, the eval-leak guarantee a row-level
    split cannot give. Oracle: DuckDB replays the hash-interval
    assignment per source, and the GROUP BY shape of the SQL itself
    re-proves the invariant (one split label per source)."""
    from .functions.hashing import poly_hash
    from .operators.sampling import grouped_split
    d = load_table(spark, sf_dir, "documents")
    s = grouped_split(d, "source", {"val": 0.1, "test": 0.2}, seed=43,
                      hash_expr=poly_hash)
    return s.select("doc_id", "source", "split")


QUERIES["grouped_split_docs"] = grouped_split_docs

ORACLE_SQL["grouped_split_docs"] = f"""
WITH g AS (
  SELECT source,
         {_dp("source || ':43'")} % {1 << 30} AS u
  FROM (SELECT DISTINCT source FROM documents)
),
lab AS (
  SELECT source,
         CASE WHEN u < round(0.1 * {1 << 30})::BIGINT THEN 'val'
              WHEN u < round(0.3 * {1 << 30})::BIGINT THEN 'test'
              ELSE 'train' END AS split
  FROM g
)
SELECT d.doc_id, d.source, coalesce(lab.split, 'train') AS split
FROM documents d LEFT JOIN lab USING (source)"""


def strip_comments_docs(spark, sf_dir):
    """P43 source-code comment + license-header stripping (functions/
    codeclean): documents get a synthetic language (py/java/sql by
    doc_id % 3), a license header, and planted inline/block/trailing
    comments wrapped around the real text; the entry strips the header
    (marker-gated) then all comments, per-row dispatched on the lang
    column. Oracle: DuckDB replays the identical Java≡RE2 regex chains
    with regexp_replace(...,'g') — value-hash on the exact strings, no
    rounding."""
    from .functions.codeclean import (with_comments_stripped,
                                      with_license_header_stripped)
    d = load_table(spark, sf_dir, "documents")
    lang = F.element_at(F.array(F.lit("py"), F.lit("java"), F.lit("sql")),
                        (F.col("doc_id") % 3 + 1).cast("int"))
    w1 = F.split(F.col("text"), " ").getItem(0)
    content = (
        F.when(lang == "java",
               F.concat(F.lit("/* Copyright 2024 Example Corp */\n"),
                        F.lit("int v; // note\n"), F.col("text"),
                        F.lit(" /* tail "), w1, F.lit(" */")))
        .when(lang == "py",
              F.concat(F.lit("# copyright 2024\n# spdx: mit\n"),
                       F.lit("v = 1  # note\n"), F.col("text")))
        .otherwise(
            F.concat(F.lit("-- Copyright 2024\n"),
                     F.lit("SELECT 1; /* note */\n"), F.col("text"),
                     F.lit(" -- trail"))))
    planted = d.select("doc_id", lang.alias("lang"),
                       content.alias("content"))
    r = with_license_header_stripped(planted, lang_col="lang")
    r = with_comments_stripped(r, lang_col="lang")
    return r.select("doc_id", "lang", "content")


QUERIES["strip_comments_docs"] = strip_comments_docs

# the oracle replays the ENGINE's own patterns — imported, not copied,
# so an edit in codeclean.py can never leave the gate testing a stale chain
from .functions.codeclean import _BLOCK as _CC_BLOCK  # noqa: E402
from .functions.codeclean import _LEAD as _CC_LEAD  # noqa: E402
from .functions.codeclean import _LICENSE_MARK as _CC_MARK  # noqa: E402
from .functions.codeclean import _LINE_DASH as _CC_LINE_DASH  # noqa: E402
from .functions.codeclean import _LINE_HASH as _CC_LINE_HASH  # noqa: E402
from .functions.codeclean import _LINE_SLASH as _CC_LINE_SLASH  # noqa: E402

_CC_LEAD_C = _CC_LEAD["c"]
_CC_LEAD_HASH = _CC_LEAD["hash"]
_CC_LEAD_SQL = _CC_LEAD["sql"]


def _cc_chain(expr, pats):
    for p in pats:
        expr = f"regexp_replace({expr}, '{p}', '', 'g')"
    for p, rep in (("[ \\t]+\\n", "\\n"), ("\\n{3,}", "\\n\\n")):
        expr = f"regexp_replace({expr}, '{p}', e'{rep}', 'g')"
    return expr


def _cc_delead(lead):
    return (f"CASE WHEN length(regexp_extract(content, '{lead}', 0)) > 0 "
            f"AND regexp_matches(regexp_extract(content, '{lead}', 0), "
            f"'{_CC_MARK}') "
            f"THEN ltrim(substring(content, "
            f"length(regexp_extract(content, '{lead}', 0)) + 1, "
            f"length(content))) ELSE content END")


ORACLE_SQL["strip_comments_docs"] = f"""
WITH planted AS (
  SELECT doc_id,
         CASE (doc_id % 3)::INT WHEN 0 THEN 'py' WHEN 1 THEN 'java'
              ELSE 'sql' END AS lang,
         CASE (doc_id % 3)::INT
           WHEN 1 THEN '/* Copyright 2024 Example Corp */' || chr(10) ||
                'int v; // note' || chr(10) || text || ' /* tail ' ||
                string_split(text, ' ')[1] || ' */'
           WHEN 0 THEN '# copyright 2024' || chr(10) || '# spdx: mit' ||
                chr(10) || 'v = 1  # note' || chr(10) || text
           ELSE '-- Copyright 2024' || chr(10) ||
                'SELECT 1; /* note */' || chr(10) || text || ' -- trail'
         END AS content
  FROM documents
),
deheaded AS (
  SELECT doc_id, lang,
         CASE lang
           WHEN 'java' THEN {_cc_delead(_CC_LEAD_C)}
           WHEN 'py' THEN {_cc_delead(_CC_LEAD_HASH)}
           ELSE {_cc_delead(_CC_LEAD_SQL)}
         END AS content
  FROM planted
)
SELECT doc_id, lang,
       CASE lang
         WHEN 'java' THEN {_cc_chain("content", [_CC_BLOCK, _CC_LINE_SLASH])}
         WHEN 'py' THEN {_cc_chain("content", [_CC_LINE_HASH])}
         ELSE {_cc_chain("content", [_CC_BLOCK, _CC_LINE_DASH])}
       END AS content
FROM deheaded"""


def fork_pairs_docs(spark, sf_dir):
    """P44 repo-level fork detection (operators/forks): repo := source,
    file := text; a PLANTED fork of src3 carries its doc_id % 5 != 0
    files verbatim under the name 'src3_fork' (file-set Jaccard ~0.8
    against src3), exact mode so the oracle is a direct pairwise
    set-Jaccard recompute — the LSH path is pinned equal to exact mode
    by pytest on the same planted shape."""
    from .operators.forks import fork_pairs
    d = load_table(spark, sf_dir, "documents")
    base = d.select(F.col("source").alias("repo"),
                    F.col("text").alias("content"))
    fork = (d.filter((F.col("source") == "src3") & (F.col("doc_id") % 5 != 0))
            .select(F.lit("src3_fork").alias("repo"),
                    F.col("text").alias("content")))
    files = base.unionByName(fork)
    p = fork_pairs(files, threshold=0.4, exact=True)
    return p.select("id_a", "id_b", _r(F.col("jaccard")).alias("jaccard_r"))


QUERIES["fork_pairs_docs"] = fork_pairs_docs

ORACLE_SQL["fork_pairs_docs"] = """
WITH files AS (
  SELECT source AS repo, text AS content FROM documents
  UNION ALL
  SELECT 'src3_fork', text FROM documents
  WHERE source = 'src3' AND doc_id % 5 <> 0
),
sh AS (SELECT DISTINCT repo, sha256(content) AS sha FROM files),
cnt AS (SELECT repo, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.repo AS id_a, b.repo AS id_b, count(*)::BIGINT AS i
  FROM sh a JOIN sh b ON a.sha = b.sha AND a.repo < b.repo
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i::DOUBLE / (ca.n + cb.n - i), 6)::DOUBLE AS jaccard_r
FROM inter
JOIN cnt ca ON ca.repo = id_a
JOIN cnt cb ON cb.repo = id_b
WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.4"""


def doc_keywords_topk(spark, sf_dir):
    """P45 per-document keyword extraction (operators/report.
    doc_keywords): top-3 tf·idf terms per document against the REAL
    index dictionary (terms.df) and stats (n_docs). Oracle: DuckDB
    recomputes tf and df from the corpus (the same derivation the
    index-family oracles already prove equals the index tables) and
    replays score, tie order, and the rank cutoff."""
    from .operators.report import doc_keywords
    idx = entry_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents") \
        .select("doc_id", F.col("text").alias("content"))
    kw = doc_keywords(d, idx["terms"], int(idx["stats"]["n_docs"]), k=3)
    return kw.select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                     _r(F.col("score")).alias("score_r"),
                     F.col("rank").cast("long").alias("rank"))


QUERIES["doc_keywords_topk"] = doc_keywords_topk

ORACLE_SQL["doc_keywords_topk"] = _BASE_CTES + """,
scored AS (
  SELECT tfc.doc_id, tfc.term, tfc.tf,
         tfc.tf * ln(1.0 + st.n::DOUBLE / dfreq.df) AS score
  FROM tfc JOIN dfreq USING (term), st
),
ranked AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, round(score, 6)::DOUBLE AS score_r,
       rank::BIGINT AS rank
FROM ranked WHERE rank <= 3"""


def phrase_slop_topk(spark, sf_dir):
    """P46 ordered-proximity phrase (Q5 generalized, operators/search.
    phrase_match_counts(slop=2)): docs containing data→fast→scan in
    order with each consecutive gap <= 3, m = start positions with a
    full chain — computed by BACKWARD reachability over the decoded
    position arrays (the greedy earliest-next chain is provably wrong
    at k >= 3; see the kernel docstring). Oracle: DuckDB counts starts
    with an EXISTS chain over the positions CTE — arbitrary chains, so
    a reachability bug (either direction) cannot pass."""
    idx = entry_index(spark, sf_dir)
    terms = ["data", "fast", "scan"]
    rows = S.query_term_postings(idx["postings"], terms,
                                 int(idx["stats"]["n_buckets"]),
                                 with_positions=True)
    m = S.phrase_match_counts(rows, terms, slop=2)
    return m.select("doc_id", F.col("m").cast("long").alias("m"),
                    F.col("important").cast("int").alias("important"))


QUERIES["phrase_slop_topk"] = phrase_slop_topk

ORACLE_SQL["phrase_slop_topk"] = _BASE_CTES + """
SELECT o1.doc_id, count(DISTINCT o1.pos)::BIGINT AS m,
       0 AS important
FROM occ o1
WHERE o1.term = 'data' AND EXISTS (
  SELECT 1 FROM occ o2
  WHERE o2.doc_id = o1.doc_id AND o2.term = 'fast'
    AND o2.pos > o1.pos AND o2.pos <= o1.pos + 3
    AND EXISTS (
      SELECT 1 FROM occ o3
      WHERE o3.doc_id = o2.doc_id AND o3.term = 'scan'
        AND o3.pos > o2.pos AND o3.pos <= o2.pos + 3))
GROUP BY 1"""


def facet_counts_docs(spark, sf_dir):
    """P47 search facets (operators/search.facet_counts): for the fixed
    query terms, exact per-(source, lang) match counts over the FULL
    OR-match set, doc ids decoded from the gap section only. Oracle:
    DuckDB recomputes the match set from the corpus and aggregates both
    facet columns."""
    idx = entry_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    fc = S.facet_counts(idx, d, QT, ["source", "lang"], mode="any")
    return fc.select("facet", "value",
                     F.col("n_docs").cast("long").alias("n_docs"))


QUERIES["facet_counts_docs"] = facet_counts_docs

ORACLE_SQL["facet_counts_docs"] = _BASE_CTES + f""",
matches AS (
  SELECT DISTINCT doc_id FROM tfc WHERE term IN (VALUES {_QT_SQL})
)
SELECT 'source' AS facet, d.source AS value, count(*)::BIGINT AS n_docs
FROM matches JOIN documents d USING (doc_id) GROUP BY 2
UNION ALL
SELECT 'lang', d.lang, count(*)::BIGINT
FROM matches JOIN documents d USING (doc_id) GROUP BY 2"""


def more_like_this_docs(spark, sf_dir):
    """P48 related documents (operators/search.more_like_this): doc 7's
    top-5 tf·idf keywords become a BM25 bag query, source excluded,
    top-10. Oracle: DuckDB derives the SAME keyword set (row_number by
    score DESC, term) and replays the BM25 formula over it — the
    composition is proven end-to-end, keywords included, not just the
    scoring tail."""
    idx = entry_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents") \
        .select("doc_id", F.col("text").alias("content"))
    r = S.more_like_this(spark, idx, d, doc_id=7, k_terms=5, k=10)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["more_like_this_docs"] = more_like_this_docs

ORACLE_SQL["more_like_this_docs"] = _BASE_CTES + """,
kw AS (
  SELECT term,
         row_number() OVER (
           ORDER BY tfc.tf * ln(1.0 + st.n::DOUBLE / dfreq.df) DESC,
                    term) AS rk
  FROM tfc JOIN dfreq USING (term), st
  WHERE tfc.doc_id = 7
),
q AS (SELECT term FROM kw WHERE rk <= 5),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores WHERE doc_id <> 7
ORDER BY s DESC, doc_id ASC LIMIT 10"""


def corpus_diff_docs(spark, sf_dir):
    """P49 corpus version diff (operators/diffing.corpus_diff): the
    'old' snapshot is synthesized from documents deterministically —
    drop doc_id % 11 == 4 (those become `added`), rewrite the text of
    doc_id % 7 == 2 (those become `changed`) — and extra old-only rows
    doc_id >= 10^6 become `removed`; everything else is `unchanged`.
    Oracle: DuckDB rebuilds both snapshots and replays the
    sha-comparison CASE over the same full-outer join."""
    from .operators.diffing import corpus_diff
    new = load_table(spark, sf_dir, "documents") \
        .select("doc_id", F.col("text").alias("content"))
    old = (new.filter(F.col("doc_id") % 11 != 4)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 2,
                          F.concat(F.lit("OLD:"), F.col("content")))
                   .otherwise(F.col("content")).alias("content"))
           .unionByName(new.select(
               (F.col("doc_id") + 1000000).alias("doc_id"),
               F.col("content")).filter(F.col("doc_id") % 5 == 1)))
    return corpus_diff(old, new)


QUERIES["corpus_diff_docs"] = corpus_diff_docs

ORACLE_SQL["corpus_diff_docs"] = """
WITH newd AS (SELECT doc_id, text AS content FROM documents),
oldd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 2 THEN 'OLD:' || content
              ELSE content END AS content
  FROM newd WHERE doc_id % 11 <> 4
  UNION ALL
  SELECT doc_id + 1000000, content FROM newd
  WHERE (doc_id + 1000000) % 5 = 1
),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         sha256(o.content) AS so, sha256(n.content) AS sn
  FROM oldd o FULL OUTER JOIN newd n USING (doc_id)
)
SELECT doc_id,
       CASE WHEN so IS NULL THEN 'added'
            WHEN sn IS NULL THEN 'removed'
            WHEN so = sn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM j"""


def bm25_exclude_topk(spark, sf_dir):
    """P50 boolean must-not (operators/search.bm25_topk_excluding):
    BM25 for the fixed query terms minus every document containing
    'table' — exclusion via anti-join BEFORE the top-k limit. Oracle:
    DuckDB replays scoring and subtracts the excluded doc set with
    NOT EXISTS."""
    idx = entry_index(spark, sf_dir)
    r = S.bm25_topk_excluding(spark, idx, QT, ["table"], k=20)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_exclude_topk"] = bm25_exclude_topk

ORACLE_SQL["bm25_exclude_topk"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores sc
WHERE NOT EXISTS (SELECT 1 FROM tfc x
                  WHERE x.doc_id = sc.doc_id AND x.term = 'table')
ORDER BY s DESC, doc_id ASC LIMIT 20"""


def bm25_wildcard_topk(spark, sf_dir):
    """P50 wildcard expansion (operators/search.bm25_topk_wildcard):
    'merge so*' — 'so*' expands to the dictionary terms with that
    prefix (df-descending, capped), scored as an OR bag with 'merge'.
    Oracle: DuckDB derives the SAME expansion from dfreq (row_number by
    df DESC, term) and replays BM25 over the union."""
    idx = entry_index(spark, sf_dir)
    r = S.bm25_topk_wildcard(spark, idx, ["merge"], ["so"], k=20,
                             max_terms=8)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_wildcard_topk"] = bm25_wildcard_topk

ORACLE_SQL["bm25_wildcard_topk"] = _BASE_CTES + """,
expansion AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
    FROM dfreq WHERE term LIKE 'so%') WHERE rk <= 8
),
q AS (SELECT 'merge' AS term UNION SELECT term FROM expansion),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20"""


def bm25_must_topk(spark, sf_dir):
    """P50 boolean must (operators/search.bm25_topk_must): BM25 for the
    fixed query terms restricted to docs containing BOTH 'table' AND
    'data' — the required set is a count_distinct==n hash agg over the
    gap-only decode, applied as a LEFT SEMI join before the top-k.
    Oracle: DuckDB replays scoring with an EXISTS chain (one per must
    term)."""
    idx = entry_index(spark, sf_dir)
    r = S.bm25_topk_must(spark, idx, QT, ["table", "data"], k=20)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_must_topk"] = bm25_must_topk

ORACLE_SQL["bm25_must_topk"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores sc
WHERE EXISTS (SELECT 1 FROM tfc x
              WHERE x.doc_id = sc.doc_id AND x.term = 'table')
  AND EXISTS (SELECT 1 FROM tfc x
              WHERE x.doc_id = sc.doc_id AND x.term = 'data')
ORDER BY s DESC, doc_id ASC LIMIT 20"""


def bm25f_topk(spark, sf_dir):
    """BM25F-lite important-field boost (operators/search.bm25f_topk_tokens):
    the fixed query bag plus 'doc' (a title/path token, so its postings
    carry the A3 important bit) scored with tf' = tf·2 on important
    postings in numerator AND saturation denominator. Oracle: DuckDB
    replays the boosted formula with the simple-profile important rule
    (term ∈ tokenize_title('doc/<id>') = {'doc', '<id>'})."""
    idx = entry_index(spark, sf_dir)
    r = S.bm25f_topk_tokens(spark, idx, QT + ["doc"], k=20,
                            important_weight=2.0)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25f_topk"] = bm25f_topk

ORACLE_SQL["bm25f_topk"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL},('doc')),
boosted AS (
  SELECT tfc.doc_id, tfc.term,
         tfc.tf * (CASE WHEN tfc.term = 'doc'
                          OR tfc.term = CAST(tfc.doc_id AS VARCHAR)
                        THEN 2.0 ELSE 1.0 END) AS tfe
  FROM tfc
),
scores AS (
  SELECT b.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * b.tfe * 2.2
              / (b.tfe + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM boosted b JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY b.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20"""


def bm25_wildcard_mid_topk(spark, sf_dir):
    """P50 mid-token wildcard (operators/wildcard.split_glob +
    search.bm25_topk_wildcard): 's*t' — the literal head 's' prunes the
    prefix-partitioned dictionary, the anchored regex ^s.*t$ verifies
    the tail, expansion df-ranked and capped like the prefix form.
    Oracle: DuckDB derives the SAME expansion with LIKE 's%t' and
    replays BM25 over the union with 'merge'."""
    idx = entry_index(spark, sf_dir)
    r = S.bm25_topk_wildcard(spark, idx, ["merge"], ["s*t"], k=20,
                             max_terms=8)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_wildcard_mid_topk"] = bm25_wildcard_mid_topk


def bm25_wildcard_suffix_topk(spark, sf_dir):
    """Leading wildcards (operators/wildcard.route_glob +
    expand_wildcard_suffix): 'merge *er *a*t' — leading-star patterns
    probe the REVERSED-term dictionary projection (partitioned by the
    term's LAST character; the reversed pattern's literal head prunes,
    an anchored regex over term_rev verifies inner stars — reversal is
    a bijection between the two match problems). Expansions df-ranked,
    capped, deduped against the bag, scored as an OR bag with 'merge'.
    Oracle: DuckDB derives each expansion with the equivalent
    end-anchored LIKE ('%er', '%a%t') and replays BM25 over the union."""
    idx = entry_index(spark, sf_dir)
    r = S.bm25_topk_wildcard(spark, idx, ["merge"], ["*er", "*a*t"],
                             k=20, max_terms=8)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_wildcard_suffix_topk"] = bm25_wildcard_suffix_topk


def bm25_wildcard_infix_topk(spark, sf_dir):
    """Infix wildcards (operators/wildcard.expand_wildcard_ngram):
    'merge *par*' — a star-both-ends pattern probes the n-gram term
    projection on its longest literal run's first gram ('par':
    PartitionFilter g1=codepoint('p') + pushed gram equality), then verifies
    candidates with the anchored regex. At sf0.01 the expansion is
    {part, spark} — equal df, so the term tie-break is exercised.
    Oracle: DuckDB derives the expansion with the equivalent
    double-ended LIKE '%par%' and replays BM25 over the union."""
    idx = entry_index(spark, sf_dir)
    r = S.bm25_topk_wildcard(spark, idx, ["merge"], ["*par*"],
                             k=20, max_terms=8)
    return r.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_wildcard_infix_topk"] = bm25_wildcard_infix_topk

ORACLE_SQL["bm25_wildcard_infix_topk"] = _BASE_CTES + """,
expansion AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
    FROM dfreq WHERE term LIKE '%par%') WHERE rk <= 8
),
q AS (SELECT 'merge' AS term UNION SELECT term FROM expansion),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20"""

ORACLE_SQL["bm25_wildcard_suffix_topk"] = _BASE_CTES + """,
exp1 AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
    FROM dfreq WHERE term LIKE '%er') WHERE rk <= 8
),
exp2 AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
    FROM dfreq WHERE term LIKE '%a%t') WHERE rk <= 8
),
q AS (SELECT 'merge' AS term
      UNION SELECT term FROM exp1 UNION SELECT term FROM exp2),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20"""

ORACLE_SQL["bm25_wildcard_mid_topk"] = _BASE_CTES + """,
expansion AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
    FROM dfreq WHERE term LIKE 's%t') WHERE rk <= 8
),
q AS (SELECT 'merge' AS term UNION SELECT term FROM expansion),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, round(s, 6)::DOUBLE AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20"""


def index_verify_docs(spark, sf_dir):
    """Index↔source integrity audit (operators/maintenance.index_verify):
    the north-rule's per-row content-sha256 invariant as a first-class
    operator — the index docs table's STORED sha (carried through the
    DOCSHA sentinel partials at build time) full-outer-joined against an
    in-scan sha2 of the current source. The source is perturbed
    deterministically so all four statuses appear: doc_id % 13 == 3
    rewritten (stale), doc_id % 17 == 5 dropped (orphaned — indexed but
    gone), and rows shifted to doc_id + 2*10^6 added (missing — present
    but never indexed). Oracle: DuckDB rebuilds both sides — the index
    side is sha256(text) of every documents row, exactly what the build
    stored — and replays the presence/CASE logic."""
    idx = entry_index(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents") \
        .select("doc_id", F.col("text").alias("content"))
    perturbed = (src.filter(F.col("doc_id") % 17 != 5)
                 .select("doc_id",
                         F.when(F.col("doc_id") % 13 == 3,
                                F.concat(F.lit("EDIT:"), F.col("content")))
                         .otherwise(F.col("content")).alias("content"))
                 .unionByName(src.select(
                     (F.col("doc_id") + 2000000).alias("doc_id"),
                     F.col("content")).filter(F.col("doc_id") % 3 == 0)))
    from .operators.maintenance import index_verify
    return index_verify(idx["docs"], perturbed)


QUERIES["index_verify_docs"] = index_verify_docs

ORACLE_SQL["index_verify_docs"] = """
WITH idx AS (
  SELECT doc_id, sha256(text) AS sha FROM documents
),
src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 3 THEN sha256('EDIT:' || text)
              ELSE sha256(text) END AS sha
  FROM documents WHERE doc_id % 17 <> 5
  UNION ALL
  SELECT doc_id + 2000000, sha256(text) FROM documents
  WHERE (doc_id + 2000000) % 3 = 0
),
j AS (
  SELECT coalesce(i.doc_id, s.doc_id) AS doc_id,
         i.sha AS si, s.sha AS ss,
         i.doc_id IS NOT NULL AS in_idx, s.doc_id IS NOT NULL AS in_src
  FROM idx i FULL OUTER JOIN src s USING (doc_id)
)
SELECT doc_id,
       CASE WHEN NOT in_idx THEN 'missing'
            WHEN NOT in_src THEN 'orphaned'
            -- IS NOT DISTINCT FROM, not =: the operator compares shas
            -- with eqNullSafe (NULL content on both sides is 'ok');
            -- plain equality would send NULL=NULL to 'stale'
            WHEN si IS NOT DISTINCT FROM ss THEN 'ok'
            ELSE 'stale' END AS status
FROM j"""


def did_you_mean_docs(spark, sf_dir):
    """"Did you mean:" per-token suggestion report
    (operators/fuzzy.did_you_mean): best in-distance-1 dictionary term
    per query token from the materialized SymSpell deletion index —
    exact hits suggest themselves at dist 0, uncorrectable tokens keep a
    NULL row. Same engineered token set as fuzzy_term_lookup (multi-
    candidate typos, one exact hit, one miss). Oracle: brute-force
    levenshtein rank-1 over the full vocabulary LEFT-joined back onto
    the token list — equality proves both the neighborhood completeness
    AND the miss-row visibility."""
    from .operators.fuzzy import (did_you_mean, load_deletion_index,
                                  write_deletion_index)
    idx = entry_index(spark, sf_dir)
    out = entry_index_dir(sf_dir) + "_fuzzy"
    if not os.path.exists(os.path.join(out, "meta.json")):
        write_deletion_index(idx["terms"], out, max_del=1, n_buckets=16)
    fz = load_deletion_index(spark, out)
    toks = ["hast", "sart", "spart", "ag", "merg", "scan", "zzz"]
    return did_you_mean(fz["variants"], toks, n_buckets=fz["n_buckets"],
                        index_max_del=fz["max_del"], max_d=1)


QUERIES["did_you_mean_docs"] = did_you_mean_docs

ORACLE_SQL["did_you_mean_docs"] = _BASE_CTES + """,
fq(q) AS (VALUES ('hast'), ('sart'), ('spart'), ('ag'), ('merg'),
                 ('scan'), ('zzz')),
best AS (
  SELECT q, term AS suggestion, dist, df FROM (
    SELECT fq.q, dfreq.term,
           levenshtein(fq.q, dfreq.term)::INT AS dist, dfreq.df,
           row_number() OVER (
             PARTITION BY fq.q
             ORDER BY levenshtein(fq.q, dfreq.term) ASC, dfreq.df DESC,
                      dfreq.term ASC) AS rk
    FROM fq CROSS JOIN dfreq
    WHERE levenshtein(fq.q, dfreq.term) <= 1
  ) WHERE rk = 1
)
SELECT fq.q, best.suggestion, best.dist, best.df
FROM fq LEFT JOIN best USING (q)"""


def federated_bm25_topk(spark, sf_dir):
    """Federated (sharded) search (operators/federate.py): the documents
    corpus is split into two DISJOINT shards by doc_id parity, each
    built as an independent index with its OWN bucket layout (4 vs 8
    buckets — federation must not assume a shared one), then queried
    with GLOBAL statistics (N, avgdl, df summed across shards; idf from
    the build's formula over the global df). The invariant this entry
    proves: federation is invisible in the scores — the oracle is the
    UNMODIFIED monolithic BM25 SQL over the whole corpus
    (ORACLE_SQL['bm25_topk_fixed']), so a pass means the sharded answer
    is byte-identical to the single-index answer. Sharding has no
    reference analog (the reference scores against one MySQL database,
    QueryResultsFetcher.java:239-268); it is the 10^12-file
    generalization of the reference's single-index semantics."""
    from .operators.federate import federated_bm25_topk_tokens
    shards = _fed_shards(spark, sf_dir)
    out = federated_bm25_topk_tokens(spark, shards, QT, k=20,
                                     verify_disjoint=True)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"))


def _fed_shards(spark, sf_dir):
    """Build (once per sf_dir) and load the two parity shard indexes the
    federated entries query — deliberately different bucket counts."""
    corpus = documents_as_corpus(spark, sf_dir)
    shards = []
    for tag, mod, nb in (("a", 0, 4), ("b", 1, 8)):
        out = entry_index_dir(sf_dir) + f"_fed_{tag}"
        if not os.path.exists(os.path.join(out, "stats")):
            B.build_index(spark, corpus.filter(F.col("doc_id") % 2 == mod),
                          out, profile="simple", seg_bits=8, n_buckets=nb)
        shards.append(B.load_index(spark, out))
    return shards


QUERIES["federated_bm25_topk"] = federated_bm25_topk
ORACLE_SQL["federated_bm25_topk"] = ORACLE_SQL["bm25_topk_fixed"]


def federated_bm25_batch_topk(spark, sf_dir):
    """Federated twin of bm25_batch_topk (operators/federate.py): the
    same three query bags scored across the two parity shards in ONE
    pass per shard — union-term probes with each shard's own bucket
    pruning, GLOBAL idf×multiplicity weights broadcast once, one
    (query_id, doc_id) aggregation, per-query window rank. Oracle: the
    UNMODIFIED monolithic batch SQL (ORACLE_SQL['bm25_batch_topk']) —
    federation must be invisible in the eval workload too."""
    from .operators.federate import federated_bm25_topk_batch_tokens
    shards = _fed_shards(spark, sf_dir)
    out = federated_bm25_topk_batch_tokens(spark, shards, _BATCH_BAGS,
                                           k=10)
    return out.select("query_id", "doc_id", _r(F.col("score"))
                      .alias("score_r"), F.col("rank").cast("int")
                      .alias("rank"))


QUERIES["federated_bm25_batch_topk"] = federated_bm25_batch_topk
ORACLE_SQL["federated_bm25_batch_topk"] = ORACLE_SQL["bm25_batch_topk"]


def bm25_explain_topk(spark, sf_dir):
    """Score explanation (search.bm25_explain_topk — the Lucene
    `explain` analog): one row per (top-20 doc, contributing term) with
    the idf×multiplicity weight, tf, dl, and the term's BM25 partial;
    partials per doc sum to the ranker's score EXACTLY because the
    explanation is derived from the ranker's own decoded rows and the
    same literal-map expression. Oracle: DuckDB replays the per-(doc,
    term) partials, ranks docs, and emits the identical breakdown."""
    idx = entry_index(spark, sf_dir)
    out = S.bm25_explain_topk(spark, idx, QT, k=20)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"),
                      F.col("rank").cast("int").alias("rank"), "term",
                      _r(F.col("w")).alias("w_r"),
                      F.col("tf").cast("long").alias("tf"),
                      _r(F.col("tf_eff")).alias("tf_eff_r"),
                      F.col("dl").cast("long").alias("dl"),
                      _r(F.col("partial")).alias("partial_r"))


QUERIES["bm25_explain_topk"] = bm25_explain_topk

ORACLE_SQL["bm25_explain_topk"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
parts AS (
  SELECT tfc.doc_id, tfc.term,
         ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) AS w,
         tfc.tf, dl.dl,
         ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tfc.tf * 2.2
           / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
           AS partial
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
),
scores AS (
  SELECT doc_id, sum(partial) AS s FROM parts GROUP BY doc_id
),
topk AS (
  SELECT doc_id, s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20
)
SELECT p.doc_id, CAST(round(t.s, 6) AS DOUBLE) AS score_r,
       t.rank::INT AS rank, p.term,
       CAST(round(p.w, 6) AS DOUBLE) AS w_r,
       p.tf::BIGINT AS tf,
       CAST(round(p.tf, 6) AS DOUBLE) AS tf_eff_r,
       p.dl::BIGINT AS dl,
       CAST(round(p.partial, 6) AS DOUBLE) AS partial_r
FROM parts p JOIN topk t USING (doc_id)"""


def bm25_search_after(spark, sf_dir):
    """Stateless deep pagination (search.bm25_topk_tokens with `after`
    — the Elasticsearch search_after pattern): page 2 of the fixed query
    = the top-20 rows strictly after page 1's last (score, doc_id) cursor
    in (score DESC, doc_id ASC) order; every page costs one pruned probe
    + one top-k regardless of depth, unlike the reference's LIMIT/OFFSET
    (QueryResultsFetcher.java) whose cost grows linearly with the page
    number. The cursor is derived the way a client would: from the last
    row of page 1 (after=None — the CLI's `--after start`). The
    after-filter recomputes scores and compares the cursor float with
    exact equality; that is sound because every route folds the same
    partials in term order, so the recompute is bitwise the served
    score. Oracle: DuckDB ranks ALL scored docs once and emits rows
    21-40 — the offset formulation it must equal."""
    idx = entry_index(spark, sf_dir)
    p1 = S.bm25_topk_tokens(spark, idx, QT, k=20).collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    out = S.bm25_topk_tokens(spark, idx, QT, k=20, after=cur)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_search_after"] = bm25_search_after

ORACLE_SQL["bm25_search_after"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) )
           AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT doc_id, CAST(round(s, 6) AS DOUBLE) AS score_r
FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20 OFFSET 20"""


def federated_bm25_after_topk(spark, sf_dir):
    """Federated search_after (operators/federate.py
    federated_bm25_topk_tokens with `after`): page 2 of the fixed query
    ACROSS the two parity shards — page 1 served by the federated path,
    its (score, doc_id) cursor feeding the page-2 probe. The term-ordered
    fold makes the cursor recompute bitwise, so the oracle is the
    UNMODIFIED monolithic OFFSET SQL (ORACLE_SQL['bm25_search_after']): a
    pass proves sharded deep pagination returns exactly the single-index
    pages."""
    from .operators.federate import federated_bm25_topk_tokens
    shards = _fed_shards(spark, sf_dir)
    p1 = federated_bm25_topk_tokens(spark, shards, QT, k=20).collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    out = federated_bm25_topk_tokens(spark, shards, QT, k=20, after=cur)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["federated_bm25_after_topk"] = federated_bm25_after_topk
ORACLE_SQL["federated_bm25_after_topk"] = ORACLE_SQL["bm25_search_after"]


def bm25_proximity_topk(spark, sf_dir):
    """Proximity-boosted BM25 (search.bm25_proximity_topk): score =
    BM25 + w/(1 + min_dist), min_dist = the closest co-occurrence of two
    DISTINCT query terms in the doc, computed by the streaming positional
    kernel over ONE pruned positions decode (the phrase path's cost
    shape); docs without a cross-term pair keep their plain score.
    Oracle: DuckDB recomputes min_dist as the pairwise min over the occ
    positions self-join (quadratic — fine at sf0.01, exactly what the
    O(P log P) merge kernel avoids at scale) and replays the boosted
    formula + top-20."""
    idx = entry_index(spark, sf_dir)
    out = S.bm25_proximity_topk(spark, idx, QT, k=20, prox_weight=0.5)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"),
                      F.col("min_dist").cast("long").alias("min_dist"))


QUERIES["bm25_proximity_topk"] = bm25_proximity_topk

ORACLE_SQL["bm25_proximity_topk"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) )
           AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
),
md AS (
  SELECT a.doc_id, min(abs(a.pos - b.pos))::BIGINT AS min_dist
  FROM occ a JOIN occ b ON a.doc_id = b.doc_id AND a.term < b.term
  WHERE a.term IN (SELECT term FROM q)
    AND b.term IN (SELECT term FROM q)
  GROUP BY a.doc_id
)
SELECT s.doc_id,
       CAST(round(s.s + CASE WHEN m.min_dist IS NOT NULL
                             THEN 0.5 / (1 + m.min_dist)
                             ELSE 0 END, 6) AS DOUBLE) AS score_r,
       m.min_dist AS min_dist
FROM scores s LEFT JOIN md m USING (doc_id)
ORDER BY s.s + CASE WHEN m.min_dist IS NOT NULL
                    THEN 0.5 / (1 + m.min_dist) ELSE 0 END DESC,
         s.doc_id ASC
LIMIT 20"""


def bm25_filtered_topk(spark, sf_dir):
    """Filtered search (operators/search.bm25_filtered_topk): the facets
    drill-down — BM25 over the fixed terms restricted to lang='es'
    documents, filter applied as a LEFT SEMI join of the df-bounded
    candidates against the predicate-pushed docs scan BEFORE the top-k
    so the page fills with true survivors. Oracle: DuckDB replays the
    scoring CTE with the metadata predicate joined in."""
    idx = entry_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    out = S.bm25_filtered_topk(spark, idx, d, QT, {"lang": "es"}, k=20)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_filtered_topk"] = bm25_filtered_topk

ORACLE_SQL["bm25_filtered_topk"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
)
SELECT s.doc_id, CAST(round(s.s, 6) AS DOUBLE) AS score_r
FROM scores s JOIN documents d USING (doc_id)
WHERE d.lang = 'es'
ORDER BY s.s DESC, s.doc_id ASC
LIMIT 20"""


def bm25_collapse_topk(spark, sf_dir):
    """Field collapsing (operators/search.bm25_collapse_topk): the best-
    scoring document per `source` plus its group size — one window pass
    over the df-bounded candidates, never the corpus. Oracle: DuckDB
    replays the scoring CTE + row_number/count windows."""
    idx = entry_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    out = S.bm25_collapse_topk(spark, idx, d, QT, "source", k=10)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"),
                      "source",
                      F.col("group_size").cast("long").alias("group_size"))


QUERIES["bm25_collapse_topk"] = bm25_collapse_topk

ORACLE_SQL["bm25_collapse_topk"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
),
grouped AS (
  SELECT s.doc_id, s.s, d.source,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY s.s DESC, s.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY d.source) AS gs
  FROM scores s JOIN documents d USING (doc_id)
)
SELECT doc_id, CAST(round(s, 6) AS DOUBLE) AS score_r, source,
       gs::BIGINT AS group_size
FROM grouped WHERE rn = 1
ORDER BY s DESC, doc_id ASC
LIMIT 10"""


# synonym thesaurus for the fixed query: merge/sort blend as one
# pseudo-term (two ranking verbs), fast/scan as another; data stays alone
_SYN_GROUPS = [["merge", "sort"], ["data"], ["fast", "scan"]]
_SYN_GMAP_SQL = ",".join(
    f"('{t}',{gid})" for gid, g in enumerate(_SYN_GROUPS) for t in g)


def bm25_synonym_topk(spark, sf_dir):
    """Synonym-group BM25 (operators/search.bm25_synonym_topk — Lucene
    SynonymQuery semantics): each group scores as ONE pseudo-term, per-
    doc tf summed over members, idf of the max-df member (= min idf).
    Oracle: DuckDB replays the blend — gmap → per-(doc, gid) tf sum →
    min-idf group weights → one BM25 saturation per group."""
    idx = entry_index(spark, sf_dir)
    out = S.bm25_synonym_topk(spark, idx, _SYN_GROUPS, k=20)
    return out.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["bm25_synonym_topk"] = bm25_synonym_topk

ORACLE_SQL["bm25_synonym_topk"] = _BASE_CTES + f""",
gmap(term, gid) AS (VALUES {_SYN_GMAP_SQL}),
gw AS (
  SELECT gid,
         min(ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)) AS w
  FROM gmap JOIN dfreq USING (term) CROSS JOIN st
  GROUP BY gid
),
gtf AS (
  SELECT tfc.doc_id, gmap.gid, sum(tfc.tf)::DOUBLE AS tf,
         max(dl.dl) AS dl
  FROM tfc JOIN gmap USING (term) JOIN dl USING (doc_id)
  GROUP BY 1, 2
),
scores AS (
  SELECT gtf.doc_id,
         sum( gw.w * gtf.tf * 2.2
              / (gtf.tf + 1.2 * (1 - 0.75 + 0.75 * gtf.dl / st.avgdl)) )
           AS s
  FROM gtf JOIN gw USING (gid) CROSS JOIN st
  GROUP BY gtf.doc_id
)
SELECT doc_id, CAST(round(s, 6) AS DOUBLE) AS score_r
FROM scores
ORDER BY s DESC, doc_id ASC
LIMIT 20"""


def bm25_batch_colocated_topk(spark, sf_dir):
    """Segment-colocated batch BM25 (operators/search.
    bm25_scores_batch_colocated — the round-5 batch plan): the union
    terms' COMPRESSED segment rows repartition once on `segment`
    (doc-range co-location, bytes-only shuffle), an Arrow kernel decodes
    and accumulates every query's per-doc partials in numpy (term-ordered
    fold), and only n_segments × |Q| × k candidate rows reach the global
    per-query window. Same _BATCH_BAGS and the same oracle as
    bm25_batch_topk — the two plans must be row-identical; this entry
    pins the kernel against DuckDB independently of the row-join plan."""
    idx = entry_index(spark, sf_dir)
    cand = S.bm25_scores_batch_colocated(idx, _BATCH_BAGS, k=10)
    wnd = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                 F.asc("doc_id"))
    return (cand.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= 10)
            .select("query_id", "doc_id", _r(F.col("score"))
                    .alias("score_r"), F.col("rank").cast("int")
                    .alias("rank")))


QUERIES["bm25_batch_colocated_topk"] = bm25_batch_colocated_topk
ORACLE_SQL["bm25_batch_colocated_topk"] = ORACLE_SQL["bm25_batch_topk"]


def bm25_impact_topk(spark, sf_dir):
    """The key the impact-ordered ranker served, kept with its oracle
    (bm25_topk_fixed's SQL): the block-max segment kernel answers it now,
    here through the batch face with a one-query bag — per-segment
    candidates reduced to the global top-k."""
    idx = entry_index(spark, sf_dir)
    cand = S.bm25_scores_batch_colocated(idx, {"q": QT}, k=20)
    return (cand.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
            .select("doc_id", _r(F.col("score")).alias("score_r")))


QUERIES["bm25_impact_topk"] = bm25_impact_topk
ORACLE_SQL["bm25_impact_topk"] = ORACLE_SQL["bm25_topk_fixed"]


# --- round-5 analytics wave: significant terms / histogram facets / term
# vectors (operators/aggregations.py) ---------------------------------------

def significant_terms_docs(spark, sf_dir):
    """SIG significant-terms aggregation (operators/aggregations.
    significant_terms — the ES JLH heuristic): terms overrepresented in
    the fixed query's BM25 top-20 versus the corpus. Foreground = the
    engine's own ranked page (same tie-break as bm25_topk_fixed), fg_df
    from the k fetched docs under the index analyzer, background df from
    the dictionary's pushdown/warm lookup. Oracle: DuckDB replays the
    BM25 top-20, the per-term foreground doc counts, and the JLH
    arithmetic term-for-term."""
    idx = entry_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    from .operators.aggregations import significant_terms
    return significant_terms(spark, idx, d, QT, k_docs=20, top_terms=10,
                             id_col="doc_id", text_col="text")


QUERIES["significant_terms_docs"] = significant_terms_docs

ORACLE_SQL["significant_terms_docs"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
),
fg AS (
  SELECT doc_id FROM scores ORDER BY s DESC, doc_id ASC LIMIT 20
),
nfg AS (SELECT count(*)::BIGINT AS n_fg FROM fg),
fgt AS (
  SELECT term, count(DISTINCT tfc.doc_id)::BIGINT AS fg_df
  FROM tfc JOIN fg USING (doc_id)
  WHERE term NOT IN (VALUES {_QT_SQL})
  GROUP BY term
),
sig AS (
  SELECT fgt.term, fgt.fg_df, dfreq.df,
         ((fgt.fg_df::DOUBLE / nfg.n_fg) - (dfreq.df::DOUBLE / st.n))
         * ((fgt.fg_df::DOUBLE / nfg.n_fg) / (dfreq.df::DOUBLE / st.n))
           AS s
  FROM fgt JOIN dfreq USING (term) CROSS JOIN nfg CROSS JOIN st
  WHERE (fgt.fg_df::DOUBLE / nfg.n_fg) > (dfreq.df::DOUBLE / st.n)
)
SELECT term, fg_df, df, CAST(round(s, 6) AS DOUBLE) AS score_r
FROM sig ORDER BY s DESC, term ASC LIMIT 10"""


def facet_histogram_docs(spark, sf_dir):
    """HIST histogram facet (operators/aggregations.facet_histogram —
    the ES histogram aggregation): the fixed query's OR-match set
    bucketed by n_chars in width-100 bins. Integer bin arithmetic on
    both sides; empty bins absent (min_doc_count=1 semantics). Oracle:
    DuckDB recomputes the match set and the integer-division binning."""
    idx = entry_index(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    from .operators.aggregations import facet_histogram
    fh = facet_histogram(idx, d, QT, "n_chars", 100, mode="any")
    return fh.select(F.col("bin_lo").cast("long").alias("bin_lo"),
                     F.col("n_docs").cast("long").alias("n_docs"))


QUERIES["facet_histogram_docs"] = facet_histogram_docs

ORACLE_SQL["facet_histogram_docs"] = _BASE_CTES + f""",
matches AS (
  SELECT DISTINCT doc_id FROM tfc WHERE term IN (VALUES {_QT_SQL})
)
SELECT ((d.n_chars // 100) * 100)::BIGINT AS bin_lo,
       count(*)::BIGINT AS n_docs
FROM matches JOIN documents d USING (doc_id)
GROUP BY 1"""


def term_vector_doc(spark, sf_dir):
    """TVEC on-the-fly term vector (operators/aggregations.term_vector —
    the Lucene TermVectors API shape): doc 7's (term, tf, first_pos)
    under the simple profile, from ONE doc_id-pushdown point lookup (the
    postings table is term-partitioned — a by-doc probe there would scan
    every bucket). Oracle: DuckDB's positional token stream for the same
    doc."""
    d = load_table(spark, sf_dir, "documents")
    from .operators.aggregations import term_vector
    return term_vector(spark, d, 7, profile="simple",
                       id_col="doc_id", text_col="text")


QUERIES["term_vector_doc"] = term_vector_doc

ORACLE_SQL["term_vector_doc"] = _BASE_CTES + """
SELECT term, count(*)::BIGINT AS tf, min(pos)::BIGINT AS first_pos
FROM occ WHERE doc_id = 7 GROUP BY term"""


def reshard_bm25_topk(spark, sf_dir):
    """RESHARD re-layout without rebuild (operators/reshard.py — the ES
    split/shrink analog): the entry index resharded into 2 shards (mod
    assignment, consolidated bucket count), queried federated with
    global statistics. Oracle: the UNMODIFIED monolithic BM25 SQL —
    resharding must be invisible, exactly like federation."""
    from .operators.build import load_index
    from .operators.federate import federated_bm25_topk_tokens
    from .operators.reshard import reshard_index
    idx = entry_index(spark, sf_dir)
    out = entry_index_dir(sf_dir) + "_resharded"
    if not os.path.exists(os.path.join(out, "shard_1", "stats")):
        reshard_index(spark, [entry_index_dir(sf_dir)], out, 2)
    shards = [load_index(spark, os.path.join(out, f"shard_{k}"))
              for k in range(2)]
    got = federated_bm25_topk_tokens(spark, shards, QT, k=20)
    return got.select("doc_id", _r(F.col("score")).alias("score_r"))


QUERIES["reshard_bm25_topk"] = reshard_bm25_topk
ORACLE_SQL["reshard_bm25_topk"] = ORACLE_SQL["bm25_topk_fixed"]


# --- round-5 alerting + eval wave: percolation / ranking quality ----------

_PERC_QUERIES = [("p_ms", ["merge", "sort"], "all"),
                 ("p_or", ["merge", "scan"], "any"),
                 ("p_dup", ["fast", "fast"], "all")]


def percolate_docs(spark, sf_dir):
    """PERC reverse search (operators/percolate.py — the ES percolator):
    which stored queries match each document; `all` = distinct-term
    conjunction (duplicates fold), `any` = OR. Oracle: DuckDB replays
    the distinct-hit counting over the token stream."""
    from .operators.percolate import percolate
    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(_PERC_QUERIES,
                              "query_id string, terms array<string>, "
                              "mode string")
    return percolate(d, q, profile="simple", text_col="text")


QUERIES["percolate_docs"] = percolate_docs

_PERC_ROWS_SQL = ",".join(
    f"('{qid}','{t}','{mode}',{len(set(ts))})"
    for qid, ts, mode in _PERC_QUERIES for t in sorted(set(ts)))

ORACLE_SQL["percolate_docs"] = _BASE_CTES + f""",
pq(query_id, term, mode, n_req) AS (VALUES {_PERC_ROWS_SQL}),
dterm AS (SELECT DISTINCT doc_id, term FROM tfc),
hits AS (
  SELECT d.doc_id, pq.query_id, pq.mode, pq.n_req,
         count(DISTINCT d.term) AS n_hit
  FROM dterm d JOIN pq USING (term)
  GROUP BY 1, 2, 3, 4
)
SELECT doc_id, query_id FROM hits
WHERE mode = 'any' OR n_hit = n_req"""


def rank_eval_docs(spark, sf_dir):
    """REVAL ranking-quality evaluation (operators/rankeval.py — the ES
    _rank_eval shape): the engine's own BM25 top-10 for the fixed query
    scored as nDCG@10 / MRR@10 / P@10 against a derived judgment table
    (grade 2 = doc contains both 'merge' and 'sort'; grade 1 = contains
    'merge' only). Oracle: DuckDB replays the page, the judgments, and
    the metric arithmetic."""
    from .functions.analysis import spark_udfs
    from .operators.rankeval import ranking_eval
    idx = entry_index(spark, sf_dir)
    rows = S.query_term_postings(idx["postings"], QT,
                                 int(idx["stats"]["n_buckets"]))
    scores = S.bm25_scores(rows, idx, QT)
    results = (scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
               .withColumn("query_id", F.lit("q1"))
               .withColumn("rank", F.row_number().over(
                   Window.orderBy(F.desc("score"), F.asc("doc_id"))))
               .select("query_id", "doc_id", "rank"))
    tok = spark_udfs()["simple"]
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.array_distinct(tok("text")).alias("t"))
    judgments = (terms.select(
        "doc_id",
        (F.when(F.array_contains("t", "merge")
                & F.array_contains("t", "sort"), 2)
         .when(F.array_contains("t", "merge"), 1)).alias("grade"))
        .filter(F.col("grade").isNotNull())
        .withColumn("query_id", F.lit("q1"))
        .select("query_id", "doc_id", "grade"))
    out = ranking_eval(results, judgments, k=10)
    return out.select("query_id", _r(F.col("ndcg")).alias("ndcg_r"),
                      _r(F.col("mrr")).alias("mrr_r"),
                      _r(F.col("precision")).alias("precision_r"))


QUERIES["rank_eval_docs"] = rank_eval_docs

ORACLE_SQL["rank_eval_docs"] = _BASE_CTES + f""",
q(term) AS (VALUES {_QT_SQL}),
scores AS (
  SELECT tfc.doc_id,
         sum( ln((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
              * tfc.tf * 2.2
              / (tfc.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) ) AS s
  FROM tfc JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfc.doc_id
),
page AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM scores ORDER BY s DESC, doc_id ASC LIMIT 10
),
dterm AS (SELECT DISTINCT doc_id, term FROM tfc),
jd AS (
  SELECT doc_id,
         CASE WHEN bool_or(term = 'merge') AND bool_or(term = 'sort')
              THEN 2.0
              WHEN bool_or(term = 'merge') THEN 1.0 END AS grade
  FROM dterm GROUP BY doc_id
),
j AS (SELECT doc_id, grade FROM jd WHERE grade IS NOT NULL),
served AS (
  SELECT page.rank, coalesce(j.grade, 0.0) AS grade
  FROM page LEFT JOIN j USING (doc_id)
),
dcg AS (
  SELECT sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)) AS dcg,
         min(CASE WHEN grade > 0 THEN rank END) AS first_rel,
         sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS n_rel
  FROM served
),
ideal AS (
  SELECT sum((pow(2.0, grade) - 1.0) / log2(irank + 1.0)) AS idcg
  FROM (SELECT grade,
               row_number() OVER (ORDER BY grade DESC, doc_id ASC)
                 AS irank
        FROM j) x
  WHERE irank <= 10
)
SELECT 'q1' AS query_id,
       CAST(round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)
            AS DOUBLE) AS ndcg_r,
       CAST(round(CASE WHEN first_rel IS NOT NULL
                       THEN 1.0 / first_rel ELSE 0.0 END, 6)
            AS DOUBLE) AS mrr_r,
       CAST(round(n_rel / 10.0, 6) AS DOUBLE) AS precision_r
FROM dcg CROSS JOIN ideal"""
