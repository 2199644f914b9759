"""Inverted-index build (SURVEY.md §2.3 A1–A7, §3.2).

Pipeline (all DataFrame ops + Arrow-batched pandas functions, no per-row
Python UDFs):

1. ``assign_doc_ids`` — dense contiguous doc_ids (the reference assumes
   contiguity, PageRanker.java:10) via range-partitioned sort +
   ``zipWithIndex`` (one linear pass, no single-task bottleneck).
2. doc stats — N, avgdl (needed for block-max BM25 bounds at encode time).
3. ``mapInPandas`` partial build — per Arrow batch: tokenize (A1 tf, A2
   positions ordinals in the filtered stream, A3 important flag = stemmed
   token ∈ stemmed path/title token set, Indexer.java:385-415) and emit one
   compressed partial posting row per (term, segment).
4. hierarchical merge (A7) — one shuffle keyed (bucket, salted term) +
   local sort, then a streaming ``mapInPandas`` merging consecutive equal
   (term, segment) keys and re-encoding with block-max metadata (see
   merge_partials for why not groupBy.applyInPandas).

**Skew strategy (SURVEY.md §4 custom #1):** postings are segmented by
doc-id range (``segment = doc_id >> seg_bits``). A hot term (``import``,
``return`` — stopwords are intentionally kept in the index, Indexer.java:442)
therefore materializes as MANY (term, segment) rows instead of one giant
reducer value: the merge key space is salted *structurally* and
deterministically by doc range, each reduce group is bounded by the number
of Arrow batches overlapping one segment, and no executor ever holds a full
hot-term posting list. Query-side the segments of a term are independent
score partitions, so no re-merge is needed. df/cf statistics reduce via
plain associative sums, which Spark partial-aggregates map-side.

Posting segment binary layout (LEB128 varints, see functions/compress.py):

    n_docs, doc_gaps[n], tf_packed[n] (tf<<1 | important), dl[n],
    pos_gaps[sum(tf)]   # per-doc blocks of tf[i] entries, gap-coded

Storing dl inside the posting costs ~1 byte/posting and removes the
query-time join against a 10^12-row doc-length table — the scale-decisive
trade.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

from ..functions.analysis import PROFILES, tokenize_title
from ..functions.compress import (decode_varints, delta_decode, delta_encode,
                                  encode_varints,
                                  encode_varints_with_lengths)

K1 = 1.2
B = 0.75
# docs one merge task takes when the caller knows the input's doc count
# (merge_partials(n_docs=...)): below it, the per-task Python-worker round
# trip, not the merge, dominates a small append. Partials + merge + write
# on local[4] (4 vCPU), medians of 5: 2048 docs 1.64/1.62/1.64 s at 1/2/4
# tasks; 4096 docs 2.48/2.35/2.33 s; 256 docs at the 32-task default 3.6 s
# vs 1.0 s in one task
DOCS_PER_MERGE_TASK = 2048
BLOCK_SIZE = 128  # docs per block-max block inside a segment

PARTIAL_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("segment", LongType()),
    StructField("n_docs", IntegerType()),
    StructField("cf", LongType()),
    StructField("bin", BinaryType()),
])

POSTING_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("segment", LongType()),
    StructField("n_docs", IntegerType()),
    StructField("cf", LongType()),
    StructField("bin", BinaryType()),
    StructField("block_first_doc", ArrayType(LongType())),
    StructField("block_last_doc", ArrayType(LongType())),
    # avgdl-independent block-max metadata: the BM25 impact upper bound
    # max tf/(tf+k1(1-b+b·dl/avgdl)) is reconstructed at QUERY time from
    # (max_tf, min_dl) — f is increasing in tf and decreasing in dl, so
    # f(max_tf, min_dl) ≥ max f(tf_i, dl_i). Storing tf/dl instead of a
    # baked impact keeps the build single-pass (no global-avgdl barrier
    # before the merge) and keeps bounds valid under incremental appends
    # that drift avgdl.
    StructField("block_max_tf", ArrayType(LongType())),
    StructField("block_min_dl", ArrayType(LongType())),
])


def assign_doc_ids(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Dense deterministic doc_id ordered by (repo, path), fully JVM-side.

    zipWithIndex-style two-pass without the RDD→Python round-trip (pickling
    every content row through Python is the classic scale killer):
    range-partition + local sort gives the total order; pass 1 collects only
    per-partition row counts (32 longs); pass 2 adds the broadcast partition
    offset to a within-partition row_number. No global single-task sort."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = (df.repartitionByRange(n, "repo", "path")
               .sortWithinPartitions("repo", "path")
               .withColumn("_pid", F.spark_partition_id()))
    ordered = ordered.localCheckpoint()  # pin partitioning across both passes
    counts = {r["_pid"]: r["cnt"] for r in
              ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    odf = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long")
    # monotonically_increasing_id = (partition << 33) | local row seq; rows
    # are already locally sorted (pre-checkpoint), so subtracting the
    # partition base yields the in-partition ordinal — a NARROW op, no
    # second shuffle over the content bytes.
    out = (ordered.withColumn("_mid", F.monotonically_increasing_id())
           .join(F.broadcast(odf), "_pid")
           .withColumn("doc_id",
                       F.col("_off") + F.col("_mid")
                       - F.shiftleft(F.col("_pid").cast("long"), 33))
           .drop("_pid", "_off", "_mid"))
    return out.select("doc_id", *df.columns)


def prepare_docs(corpus: DataFrame) -> DataFrame:
    """Doc-store projection: sha256 invariant + doc_id if missing."""
    df = corpus
    if "doc_id" not in df.columns:
        df = assign_doc_ids(df)
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def doc_stats(docs_tok: DataFrame) -> dict:
    row = docs_tok.agg(
        F.count("*").alias("n_docs"),
        F.avg("n_tokens").alias("avgdl"),
        F.sum("n_tokens").alias("total_tokens"),
    ).collect()[0]
    return {"n_docs": int(row["n_docs"]),
            "avgdl": float(row["avgdl"] or 0.0),
            "total_tokens": int(row["total_tokens"] or 0)}


def _encode_partial(doc_ids: np.ndarray, tf_packed: np.ndarray,
                    dls: np.ndarray, pos_flat: np.ndarray) -> bytes:
    return b"".join([
        encode_varints(np.array([doc_ids.size], dtype=np.uint64)),
        encode_varints(delta_encode(doc_ids)),
        encode_varints(tf_packed.astype(np.uint64)),
        encode_varints(dls.astype(np.uint64)),
        encode_varints(pos_flat.astype(np.uint64)),
    ])


def _decode_partial(buf: bytes):
    hdr, off = decode_varints(buf, 0, 1)
    n = int(hdr[0])
    gaps, off = decode_varints(buf, off, n)
    doc_ids = delta_decode(gaps)
    tf_packed, off = decode_varints(buf, off, n)
    dls, off = decode_varints(buf, off, n)
    total_pos = int((tf_packed >> np.uint64(1)).sum())
    pos_gaps, off = decode_varints(buf, off, total_pos)
    return doc_ids, tf_packed.astype(np.int64), dls.astype(np.int64), pos_gaps


def decode_segment(buf: bytes):
    """Public decoder for query side → (doc_ids, tfs, important, dls, pos_gaps)."""
    doc_ids, tf_packed, dls, pos_gaps = _decode_partial(buf)
    return (doc_ids, tf_packed >> 1, (tf_packed & 1).astype(bool), dls, pos_gaps)


def decode_segment_nopos(buf: bytes):
    """Decoder for scoring paths that never touch positions (BM25/parity
    word scores): stops after the dl section, leaving the position-gap
    bytes — the LARGEST section (Σtf ≥ n entries vs n per other section) —
    unscanned. → (doc_ids, tfs, important, dls)."""
    hdr, off = decode_varints(buf, 0, 1)
    n = int(hdr[0])
    gaps, off = decode_varints(buf, off, n)
    doc_ids = delta_decode(gaps)
    tf_packed, off = decode_varints(buf, off, n)
    dls, _ = decode_varints(buf, off, n)
    tf_packed = tf_packed.astype(np.int64)
    return (doc_ids, tf_packed >> 1, (tf_packed & 1).astype(bool),
            dls.astype(np.int64))


def positions_of(tfs: np.ndarray, pos_gaps: np.ndarray) -> list[np.ndarray]:
    """Expand the flat gap stream into per-doc absolute position arrays."""
    out, start = [], 0
    for tf in tfs:
        out.append(delta_decode(pos_gaps[start:start + tf]))
        start += int(tf)
    return out


# sentinel pseudo-terms carrying per-doc metadata inside the partials
# stream ("\x00" is outside every token charset, so no collision with real
# terms). DOCLEN rows reuse the partial layout (dl in the dl section);
# DOCSHA rows carry [n][doc gaps][32n raw sha256 digest bytes] so the docs
# table publish never has to re-read + re-hash the corpus content.
DOCLEN_TERM = "\x00doclen"
DOCSHA_TERM = "\x00docsha"
SENTINEL_PREFIX = "\x00"


def is_sentinel(term_col):
    return term_col.startswith(SENTINEL_PREFIX)


def _encode_sha_block(doc_ids: np.ndarray, digests: bytes) -> bytes:
    return b"".join([
        encode_varints(np.array([doc_ids.size], dtype=np.uint64)),
        encode_varints(delta_encode(doc_ids)),
        digests,
    ])


def _decode_sha_block(buf: bytes):
    hdr, off = decode_varints(buf, 0, 1)
    n = int(hdr[0])
    gaps, off = decode_varints(buf, off, n)
    doc_ids = delta_decode(gaps)
    payload = buf[off:]
    if len(payload) != 32 * n:
        raise ValueError("docsha payload length mismatch")
    return doc_ids, payload


# per-worker-process token-id encoders (python workers are reused across
# tasks, so vocab/memo survive and the memo hit rate → 1)
_ENCODERS: dict[str, "object"] = {}


def _encoder_for(profile: str):
    from ..functions.analysis import TokenIdEncoder
    enc = _ENCODERS.get(profile)
    if enc is None:
        enc = _ENCODERS[profile] = TokenIdEncoder(profile)
    return enc


def _partials_from_batch(pdf: pd.DataFrame, enc, seg_bits: int) -> list:
    """Vectorized partial-posting kernel for one Arrow batch.

    Per-token python is ONE memo-dict hit inside enc.encode(); everything
    after runs as numpy: a single stable argsort of (term_id, doc) keys
    yields tf (run lengths), positions (already gap-codable in place),
    per-run doc/dl arrays, and (term, segment) row boundaries — the
    allocation-heavy per-token dict/list churn of the naive build is what
    capped multi-worker scaling (DRAM pressure), not arithmetic."""
    doc_ids_in = pdf["doc_id"].to_numpy()
    if doc_ids_in.size == 0:
        return []
    if doc_ids_in.size >= (1 << 21):
        # the packed (term_id << 21 | doc_ordinal) sort keys below assume
        # < 2^21 rows per Arrow batch; the batch size is user-configurable
        # (spark.sql.execution.arrow.maxRecordsPerBatch, 0 = unlimited), so
        # a misconfigured session must fail loudly, not corrupt keys
        raise ValueError(
            f"Arrow batch of {doc_ids_in.size} rows exceeds the 2^21-row "
            "limit of the packed sort keys; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch (default 10000)")
    order_docs = np.argsort(doc_ids_in, kind="stable")
    contents = pdf["content"].to_numpy()
    paths = pdf["path"].to_numpy()

    import hashlib

    tok_arrays = []
    dls = np.empty(doc_ids_in.size, dtype=np.int64)
    title_keys = []
    shas = []
    doc_ids = doc_ids_in[order_docs].astype(np.int64)
    for i, j in enumerate(order_docs):
        c = contents[j]
        ids = enc.encode(c)
        tok_arrays.append(ids)
        dls[i] = ids.size
        # sha256 over utf-8 bytes ≡ F.sha2(content, 256); missing content
        # hashes as the empty string (the corpus contract is non-null)
        shas.append(hashlib.sha256(
            c.encode() if isinstance(c, str) else b"").digest())
        p = paths[j]
        if isinstance(p, str) and p:
            tids = enc.encode_terms(tokenize_title(p))
            if tids.size:
                title_keys.append((np.unique(tids) << np.int64(21))
                                  | np.int64(i))
    rows: list = []

    # --- doclen + docsha sentinel rows: one each per doc-id segment -------
    segs_doc = doc_ids >> seg_bits
    seg_bounds = np.flatnonzero(np.r_[True, segs_doc[1:] != segs_doc[:-1]])
    seg_ends = np.r_[seg_bounds[1:], segs_doc.size]
    for s, e in zip(seg_bounds, seg_ends):
        n = e - s
        buf = _encode_partial(doc_ids[s:e],
                              np.full(n, 2, dtype=np.int64),  # tf=1, imp=0
                              dls[s:e], np.zeros(n, dtype=np.uint64))
        rows.append((DOCLEN_TERM, int(segs_doc[s]), int(n), int(n), buf))
        sha_buf = _encode_sha_block(doc_ids[s:e], b"".join(shas[s:e]))
        rows.append((DOCSHA_TERM, int(segs_doc[s]), int(n), 0, sha_buf))

    n_tok = int(dls.sum())
    if n_tok == 0:
        return rows

    T = np.concatenate(tok_arrays)
    # positions = ordinals within each doc's filtered stream
    starts = np.zeros(dls.size, dtype=np.int64)
    np.cumsum(dls[:-1], out=starts[1:])
    P = np.arange(n_tok, dtype=np.int64) - np.repeat(starts, dls)
    D = np.repeat(np.arange(dls.size, dtype=np.int64), dls)

    key = (T << np.int64(21)) | D          # doc index fits 21 bits per batch
    order = np.argsort(key, kind="stable")  # position order kept within runs
    sK = key[order]
    sP = P[order]

    run_start = np.flatnonzero(np.r_[True, sK[1:] != sK[:-1]])
    run_end = np.r_[run_start[1:], sK.size]
    tf = run_end - run_start
    run_tid = sK[run_start] >> np.int64(21)
    run_d = sK[run_start] & np.int64((1 << 21) - 1)
    run_doc = doc_ids[run_d]
    run_dl = dls[run_d]

    # in-place gap coding: first position absolute, then deltas (the exact
    # layout _encode_partial expects per posting)
    pg = sP.copy()
    pg[1:] -= sP[:-1]
    pg[run_start] = sP[run_start]

    # important flag: (tid, doc) membership in the title-token key set
    if title_keys:
        tkeys = np.sort(np.concatenate(title_keys))
        pos = np.searchsorted(tkeys, sK[run_start])
        pos_c = np.minimum(pos, tkeys.size - 1)
        imp = (pos < tkeys.size) & (tkeys[pos_c] == sK[run_start])
        imp = imp.astype(np.int64)
    else:
        imp = np.zeros(run_tid.size, dtype=np.int64)
    tf_packed = (tf << 1) | imp

    # (term, segment) partial-row boundaries over the run stream
    run_seg = run_doc >> seg_bits
    row_start = np.flatnonzero(
        np.r_[True, (run_tid[1:] != run_tid[:-1])
              | (run_seg[1:] != run_seg[:-1])])
    row_end = np.r_[row_start[1:], run_tid.size]
    row_n = row_end - row_start

    # each section is varint-encoded ONCE for the whole batch; per-row
    # binaries are byte-slices of the five section streams (the per-row
    # encode_varints dispatch was ~40% of kernel time)
    doc_gaps = run_doc.copy()
    doc_gaps[1:] -= run_doc[:-1]
    doc_gaps[row_start] = run_doc[row_start]  # first doc absolute per row

    def _section(vals, bounds_idx):
        buf, lens = encode_varints_with_lengths(vals.astype(np.uint64))
        cum = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(lens, out=cum[1:])
        return buf, cum[bounds_idx]

    row_tok_start = run_start[row_start]
    row_tok_end = run_end[row_end - 1]
    bufH, offH = _section(row_n, np.arange(row_n.size + 1, dtype=np.int64))
    bufG, cumG = _section(doc_gaps, np.r_[row_start, run_tid.size])
    bufT, cumT = _section(tf_packed, np.r_[row_start, run_tid.size])
    bufD, cumD = _section(run_dl, np.r_[row_start, run_tid.size])
    bufP, lensP = encode_varints_with_lengths(pg.astype(np.uint64))
    cumP_full = np.zeros(lensP.size + 1, dtype=np.int64)
    np.cumsum(lensP, out=cumP_full[1:])

    term_of = enc.term_of
    cf_rows = row_tok_end - row_tok_start
    for r in range(row_n.size):
        rs = row_start[r]
        buf = b"".join((
            bufH[offH[r]:offH[r + 1]],
            bufG[cumG[r]:cumG[r + 1]],
            bufT[cumT[r]:cumT[r + 1]],
            bufD[cumD[r]:cumD[r + 1]],
            bufP[cumP_full[row_tok_start[r]]:cumP_full[row_tok_end[r]]],
        ))
        rows.append((term_of(int(run_tid[rs])), int(run_seg[rs]),
                     int(row_n[r]), int(cf_rows[r]), buf))
    return rows


def build_partials(docs: DataFrame, profile: str = "code",
                   seg_bits: int = 16) -> DataFrame:
    """Partial postings via ONE mapInPandas pass (the only pass that touches
    `content`). Tokenization + tf + positions + important flag + doc length
    happen in a single Arrow batch traversal (the reference's 10-thread
    per-doc loop, Indexer.java:291, becomes one vectorized argsort kernel
    per batch — see _partials_from_batch). Per-doc lengths ride along as
    postings of the DOCLEN_TERM sentinel (tf=1, dl=doc length) so no second
    tokenization pass is needed for the stats table."""
    cols = [f.name for f in PARTIAL_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = _encoder_for(profile)
        for pdf in batches:
            yield pd.DataFrame(
                _partials_from_batch(pdf, enc, seg_bits), columns=cols)

    return docs.select("doc_id", "content", "path").mapInPandas(
        gen, schema=PARTIAL_SCHEMA)


def doc_shas(partials: DataFrame) -> DataFrame:
    """(doc_id, content_sha256 hex) decoded from DOCSHA sentinel rows —
    the per-row invariant column without a second pass over content."""
    sent = partials.filter(F.col("term") == DOCSHA_TERM)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hexes = [], []
            for buf in pdf["bin"]:
                doc_ids, payload = _decode_sha_block(bytes(buf))
                ids.append(doc_ids)
                hexes.extend(payload[i * 32:(i + 1) * 32].hex()
                             for i in range(doc_ids.size))
            yield pd.DataFrame({
                "doc_id": (np.concatenate(ids) if ids
                           else np.array([], np.int64)),
                "content_sha256": hexes,
            })

    return sent.select("bin").mapInPandas(
        decode, "doc_id long, content_sha256 string")


def doc_lengths(partials: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) decoded from the DOCLEN_TERM sentinel partials."""
    sent = partials.filter(F.col("term") == DOCLEN_TERM)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, lens = [], []
            for buf in pdf["bin"]:
                doc_ids, _tfp, dls, _pg = _decode_partial(bytes(buf))
                ids.append(doc_ids)
                lens.append(dls)
            yield pd.DataFrame({
                "doc_id": np.concatenate(ids) if ids else np.array([], np.int64),
                "n_tokens": np.concatenate(lens) if lens else np.array([], np.int64),
            })

    return sent.select("bin").mapInPandas(decode, "doc_id long, n_tokens long")


def _block_meta(doc_ids: np.ndarray, tf_packed: np.ndarray,
                dls: np.ndarray):
    tfs = (tf_packed >> 1).astype(np.int64)
    nblocks = (doc_ids.size + BLOCK_SIZE - 1) // BLOCK_SIZE
    bfirst, blast, bmaxtf, bmindl = [], [], [], []
    for i in range(nblocks):
        sl = slice(i * BLOCK_SIZE, (i + 1) * BLOCK_SIZE)
        bfirst.append(int(doc_ids[sl][0]))
        blast.append(int(doc_ids[sl][-1]))
        bmaxtf.append(int(tfs[sl].max()))
        bmindl.append(int(dls[sl].min()))
    return bfirst, blast, bmaxtf, bmindl, int(tfs.sum())


def _merge_group(term: str, seg: int, bins: list) -> tuple:
    """Merge the partials of ONE (term, segment) group → output row tuple
    matching POSTING_SCHEMA (sans bucket).

    Fast path (the normal case — a doc-range-partitioned corpus makes
    partials cover disjoint contiguous doc ranges): the position-gap
    section, which is the bulk of every partial's bytes, is merged by RAW
    BYTE-SLICE CONCATENATION, never decoded — per-doc position blocks are
    order-independent, so sorting parts by first doc and re-encoding only
    the three n-sized sections (gaps/tf/dl, needed anyway for block-max
    metadata) yields byte-identical output to a full decode/re-encode.
    Interleaved doc ranges (hash-partitioned input) fall back to the full
    decode + stable-argsort path. DOCSHA sentinel rows use their own fixed
    32-byte-payload layout and merge by row permutation."""
    if term == DOCSHA_TERM:
        sparts = [_decode_sha_block(bytes(b)) for b in bins]
        sparts.sort(key=lambda p: int(p[0][0]) if p[0].size else -1)
        doc_ids = np.concatenate([p[0] for p in sparts])
        payload = b"".join(p[1] for p in sparts)
        if doc_ids.size > 1 and (np.diff(doc_ids) <= 0).any():
            order = np.argsort(doc_ids, kind="stable")
            mat = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 32)
            payload = mat[order].tobytes()
            doc_ids = doc_ids[order]
        buf = _encode_sha_block(doc_ids, payload)
        return (term, int(seg), int(doc_ids.size), 0, buf, [], [], [], [])
    parts = []
    for b in bins:
        b = bytes(b)
        hdr, off = decode_varints(b, 0, 1)
        n = int(hdr[0])
        gaps, off = decode_varints(b, off, n)
        doc_ids_p = delta_decode(gaps)
        tf_packed_p, off = decode_varints(b, off, n)
        dls_p, off = decode_varints(b, off, n)
        parts.append((doc_ids_p, tf_packed_p, dls_p, b, off))
    parts.sort(key=lambda p: int(p[0][0]) if p[0].size else -1)
    doc_ids = np.concatenate([p[0] for p in parts])
    tf_packed = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    if doc_ids.size > 1 and (np.diff(doc_ids) <= 0).any():
        # interleaved ranges: decode the position streams and permute
        if np.unique(doc_ids).size != doc_ids.size:
            raise ValueError(
                f"duplicate doc_id in partials for term={term!r} seg={seg}")
        order = np.argsort(doc_ids, kind="stable")
        tfs_all = (tf_packed >> np.uint64(1)).astype(np.int64)
        starts = np.zeros(doc_ids.size, dtype=np.int64)
        np.cumsum(tfs_all[:-1], out=starts[1:])
        pos_gaps_cat = np.concatenate([
            decode_varints(p[3], p[4],
                           int((p[1] >> np.uint64(1)).sum()))[0]
            for p in parts])
        pos_gaps = np.concatenate(
            [pos_gaps_cat[starts[i]:starts[i] + tfs_all[i]] for i in order]
        ) if tfs_all.sum() else np.zeros(0, np.uint64)
        doc_ids, tf_packed, dls = doc_ids[order], tf_packed[order], dls[order]
        buf = _encode_partial(doc_ids, tf_packed, dls,
                              pos_gaps.astype(np.uint64))
    else:
        buf = b"".join(
            [encode_varints(np.array([doc_ids.size], dtype=np.uint64)),
             encode_varints(delta_encode(doc_ids)),
             encode_varints(tf_packed.astype(np.uint64)),
             encode_varints(dls.astype(np.uint64))]
            + [p[3][p[4]:] for p in parts])  # raw position bytes, in order
    dls_i = dls.astype(np.int64)
    bfirst, blast, bmaxtf, bmindl, cf = _block_meta(doc_ids, tf_packed, dls_i)
    return (term, int(seg), int(doc_ids.size), cf, buf,
            bfirst, blast, bmaxtf, bmindl)


def merge_partials(partials: DataFrame, n_buckets: int = 64,
                   salt_factor: int = 8,
                   doclen_bucket: int | None = None,
                   n_docs: int | None = None) -> DataFrame:
    """A7 hierarchical merge: disjoint doc-range partials → one compressed
    row per (term, segment) with avgdl-independent block-max metadata.

    Physical shape: ONE shuffle keyed (bucket, salt(term, segment)) + local
    sort by (term, segment), then a streaming mapInPandas that merges
    consecutive equal keys — NOT groupBy.applyInPandas, whose per-group
    pandas-DataFrame overhead dominates wall time when the group count is
    large (hundreds of thousands of tiny (term,segment) groups is the
    normal case). Salting over (term, SEGMENT) — not term alone — spreads a
    hot term's segments across `salt_factor` reducers (a per-term salt
    would put every segment of `import` on one reducer), while each
    (term, segment) group still lands whole on exactly one reducer. The
    final write stays partitionBy(bucket)-shuffle-free and files are
    term-sorted → parquet row-group min/max skipping on query-term filters.

    ``n_docs`` (the input's doc count, when the caller already knows it)
    sizes the exchange from the input — merge_partition_count — so a small
    micro-batch merges in one task instead of ``n_buckets × salt_factor``
    near-empty ones. Left None, the exchange keeps that full width.

    If ``doclen_bucket`` is set, DOCLEN_TERM sentinel rows flow through the
    same merge and are assigned that bucket (one partition dir holding the
    doc-length table; query-side bucket pruning never reads it).

    The reduce side is the whole-batch numpy merge kernel
    (operators/merge_vec.py — one varint decode pass per Arrow batch,
    reduceat block metadata, batch-level section encode), byte-identical
    to ``_merge_group`` applied per (term, segment) group by test."""
    out_cols = [f.name for f in POSTING_SCHEMA.fields]

    def merge_stream_vec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .merge_vec import merge_stream_vectorized
        yield from merge_stream_vectorized(batches, out_cols, _merge_group)

    bucket_expr = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    if doclen_bucket is not None:
        bucket_expr = F.when(F.col("term").startswith(SENTINEL_PREFIX),
                             F.lit(int(doclen_bucket))).otherwise(bucket_expr)
    with_bucket = partials.withColumn("bucket", bucket_expr).withColumn(
        "_salt", F.pmod(F.xxhash64("term", "segment"), F.lit(salt_factor)))
    # HASH partition on (bucket, salt) with an EXPLICIT partition count:
    # - explicit count → core-count-independent decomposition and no AQE
    #   byte-based coalescing (which would collapse merge parallelism);
    # - hash (not range) → no sampling pass over the input, which matters
    #   because in the fused build the input lineage is the full tokenize —
    #   a range-exchange sample would re-tokenize the corpus.
    shuffled = (with_bucket
                .repartition(merge_partition_count(n_buckets, salt_factor,
                                                   n_docs),
                             "bucket", "_salt")
                .sortWithinPartitions("term", "segment"))
    merged = shuffled.select("term", "segment", "bin", "bucket").mapInPandas(
        merge_stream_vec, schema=POSTING_SCHEMA)
    # bucket is re-derived (deterministic per term) so the partitionBy
    # write needs no further shuffle; a reduce task holding several buckets
    # simply writes one file per bucket dir
    return merged.withColumn("bucket", bucket_expr)


def merge_partition_count(n_buckets: int, salt_factor: int,
                          n_docs: int | None = None) -> int:
    """Partition count of merge_partials' exchange:
    ``ceil(n_docs / DOCS_PER_MERGE_TASK)`` clamped to
    ``[1, n_buckets × salt_factor]``, or the full width when n_docs is
    unknown."""
    width = int(n_buckets) * int(salt_factor)
    if n_docs is None:
        return width
    return max(1, min(width, -(-int(n_docs) // DOCS_PER_MERGE_TASK)))


def term_stats(postings: DataFrame) -> DataFrame:
    """Dictionary (term, df, cf) (A4/A5): plain associative sums over
    segments — no get-or-create lock, no surrogate ids (SURVEY.md §4).
    No idf is stored: it is a query-time function of df and N
    (search.bm25_idf / search.ref_idf), as in the reference's dictionary,
    which keeps only pages_count."""
    return (postings.groupBy("term")
            .agg(F.sum("n_docs").alias("df"), F.sum("cf").alias("cf")))


def build_index(spark: SparkSession, corpus: DataFrame, out_dir: str,
                profile: str = "code", seg_bits: int = 16,
                n_buckets: int = 64, salt_factor: int = 8) -> dict:
    """Full build → {docs,postings,terms,stats} parquet dirs under out_dir.

    SINGLE-LINEAGE shape: tokenize → shuffle → merge → write is ONE job —
    no persist of the intermediate partials, no stats barrier before the
    merge (block metadata is avgdl-independent), and the content bytes are
    read exactly once. Doc lengths ride through the same shuffle as
    DOCLEN_TERM sentinel rows landing in their own bucket partition
    (bucket=n_buckets); stats/terms/docs publish by reading back the
    compressed postings (two orders of magnitude smaller than the corpus),
    with docs and terms written from concurrent driver threads.

    Returns the global stats dict. Postings are written partitioned by
    `bucket` so a k-term query scans k/n_buckets of the files (partition
    pruning stands in for the reference's MySQL hash index,
    create_database.sql:47); query-side bucket sets never include the
    sentinel bucket."""
    import threading

    docs = prepare_docs(corpus)
    partials = build_partials(docs, profile=profile, seg_bits=seg_bits)
    postings = merge_partials(partials, n_buckets=n_buckets,
                              salt_factor=salt_factor,
                              doclen_bucket=n_buckets)
    postings_dir = os.path.join(out_dir, "postings")
    (postings.write.mode("overwrite").partitionBy("bucket")
     .parquet(postings_dir))

    postings_w = spark.read.option("basePath", postings_dir) \
        .parquet(postings_dir)
    sentinels = postings_w.filter(F.col("bucket") == n_buckets)
    doclens = doc_lengths(sentinels)
    stats = doc_stats(doclens)

    def _docs_job():
        # content is NEVER re-read here: doc_id/meta columns prune to a
        # content-free corpus scan, n_tokens and the sha256 invariant both
        # arrive decoded from the sentinel partitions
        (docs.select("doc_id", "repo", "path", "commit", "lang")
         .join(doclens, "doc_id")
         .join(doc_shas(sentinels), "doc_id")
         .select("doc_id", "repo", "path", "commit", "lang",
                 "content_sha256", "n_tokens")
         .write.mode("overwrite").parquet(os.path.join(out_dir, "docs")))

    def _terms_job():
        terms = term_stats(postings_w.filter(F.col("bucket") != n_buckets))
        terms.write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))

    errors: list[BaseException] = []

    def _run(fn):
        try:
            fn()
        except BaseException as e:  # re-raised on the caller thread below
            errors.append(e)

    threads = [threading.Thread(target=_run, args=(fn,), daemon=True)
               for fn in (_docs_job, _terms_job)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    stats_row = dict(stats, avgdl=float(stats["avgdl"]), profile=profile,
                     seg_bits=seg_bits, n_buckets=n_buckets, k1=K1, b=B)
    write_stats_json(spark, out_dir, stats_row)
    # wildcard dictionary projections (prefix / reversed-term / n-gram)
    # from a PREVIOUS build of this dir are stale against the fresh
    # terms and load_index would silently attach them — refresh in place
    # (vocabulary-bounded writes; creation stays the CLI's / caller's
    # choice)
    from .wildcard import refresh_aux_terms
    refresh_aux_terms(spark, out_dir)
    return stats_row


def write_stats_json(spark: SparkSession, out_dir: str, stats_row: dict) -> None:
    """Publish the one-row stats table. Driver-side file write for plain
    paths (a Spark 1-row json write measures ~5s of fixed overhead per
    build); remote URIs (hdfs://, s3://...) go through the Spark writer.
    Layout is spark.read.json-readable either way."""
    stats_dir = os.path.join(out_dir, "stats")
    if "://" in out_dir:
        spark.createDataFrame([stats_row]).coalesce(1) \
            .write.mode("overwrite").json(stats_dir)
    else:
        import json as _json
        import shutil as _shutil
        if os.path.isdir(stats_dir):
            _shutil.rmtree(stats_dir)
        os.makedirs(stats_dir, exist_ok=True)
        with open(os.path.join(stats_dir, "part-00000.json"), "w") as f:
            f.write(_json.dumps(stats_row) + "\n")


def load_index(spark: SparkSession, out_dir: str) -> dict:
    stats = spark.read.json(os.path.join(out_dir, "stats")).collect()[0].asDict()
    postings = spark.read.parquet(os.path.join(out_dir, "postings"))
    if "n_buckets" in stats:
        # bucket == n_buckets is the DOCLEN sentinel partition (doc-length
        # table); partition-prune it out of the query-facing postings view
        postings = postings.filter(F.col("bucket") < int(stats["n_buckets"]))
    idx = {
        "docs": spark.read.parquet(os.path.join(out_dir, "docs")),
        "postings": postings,
        "terms": spark.read.parquet(os.path.join(out_dir, "terms")),
        "stats": stats,
    }
    # optional materialized aux tables (present when the build wrote them)
    from .wildcard import load_prefix_terms, load_suffix_terms
    pt = load_prefix_terms(spark, out_dir)
    if pt is not None:
        idx["prefix_terms"] = pt
    st = load_suffix_terms(spark, out_dir)
    if st is not None:
        idx["suffix_terms"] = st
    from .wildcard import load_ngram_terms
    ng = load_ngram_terms(spark, out_dir)
    if ng is not None:
        idx["ngram_terms"], idx["ngram_n"] = ng
    return idx
