"""Capture `.explain("formatted")` evidence for the headline query plans →
PLANS.md. Run after building the entry index (scripts/check_entry.py or any
bench run): shows partition pruning (PartitionFilters on `bucket`), parquet
predicate pushdown (PushedFilters on `term`), column pruning (ReadSchema),
and WholeStageCodegen spans — the physical properties SURVEY.md §4 claims.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def capture(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from spidey_search_engine_spark import entry_queries as EQ
    from spidey_search_engine_spark.operators import search as S
    from spidey_search_engine_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app="plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    idx = EQ.entry_index(spark, sf_dir)
    sections: list[tuple[str, str, str]] = []

    rows = S.query_term_postings(idx["postings"], EQ.QT,
                                 int(idx["stats"]["n_buckets"]))
    scores = S.bm25_scores(rows, idx, EQ.QT)
    topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    sections.append((
        "BM25 top-10 (Q1 dictionary pruning → decode → score → top-k)",
        "Look for: PartitionFilters on `bucket` (the MySQL-hash-index "
        "analog), PushedFilters `term IN (...)` reaching the parquet scan, "
        "ReadSchema carrying only term+bin, TakeOrderedAndProject as the "
        "top-k operator, and WholeStageCodegen around the scoring "
        "expressions.",
        capture(topk)))

    sections.append((
        "TPC-H Q1-style aggregate over lineitem",
        "Look for: ReadSchema pruned to the 5 needed columns, partial "
        "(map-side) HashAggregate before the exchange, WholeStageCodegen.",
        capture(EQ.tpch_q1(spark, sf_dir))))

    sections.append((
        "Two-stage top-k (Q8): candidate LIMIT before doc-dim join",
        "Look for: the 20-row candidate side BROADCAST into the doc-dim "
        "join (broadcasting the doc table itself would ship the whole "
        "corpus at scale).",
        capture(EQ.two_stage_topk(spark, sf_dir))))

    # phrase two-pass decode: the positional (pass-2) scan must show the
    # broadcast semi-join on `segment` pruning segments that contain no
    # doc-set-intersection doc; the doc-level mask happens inside the
    # decode kernel (driver-bounded literals)
    rows_ph = S.phrase_posting_rows(idx, EQ.PHRASE)
    sections.append((
        "Phrase two-pass positional decode (gap-first intersection)",
        "Look for: the bucket/term-pruned postings scan joined LeftSemi on "
        "`segment` against the intersection-derived segment literals "
        "(BroadcastExchange of a tiny LocalTableScan), THEN the "
        "MapInPandas positional decode — segments without any "
        "all-phrase-words doc never reach the decode kernel, and inside "
        "surviving segments the kernel masks to intersection docs before "
        "materializing position arrays.",
        capture(rows_ph)))

    # ANN probe over the MATERIALIZED bucket-partitioned signature table
    # (round-2 verdict #1): the probe must reach the data through partition
    # pruning, never re-hash the embedding table per query
    from spidey_search_engine_spark.operators.similarity import ann_topk_lsh
    e = EQ.load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    sig = EQ._ann_lsh_index(spark, sf_dir, dim=len(qv))
    ann = ann_topk_lsh(None, qv, dim=len(qv), k=20, n_bits=6,
                       probe_hamming=2, signatures=sig)
    sections.append((
        "ANN probe over the materialized bucket-partitioned LSH index",
        "Look for: PartitionFilters `bucket IN (...)` on the signature-"
        "table scan (only the multiprobe buckets are read — per-query cost "
        "is the probe partitions' bytes, independent of table size), the "
        "exact-cosine rescore inside the same stage, and "
        "TakeOrderedAndProject for top-k. No scan of the base embeddings "
        "table appears anywhere in the plan.",
        capture(ann)))

    # batch ANN: many queries, ONE partition-pruned scan of the union of
    # probe buckets; per-bucket query routing happens inside the kernel
    from spidey_search_engine_spark.operators.similarity import (
        ann_topk_lsh_batch)
    qrows3 = (e.filter(F.col("vec_id").isin(0, 1, 2))
              .select("vec_id", "embedding").collect())
    q3 = {f"v{r['vec_id']}": [float(x) for x in r["embedding"]]
          for r in qrows3}
    annb = ann_topk_lsh_batch(sig, q3, dim=len(qv), k=10, n_bits=6,
                              probe_hamming=2)
    sections.append((
        "Batch ANN probe: 3 queries, one partition-pruned union scan",
        "Look for: a SINGLE FileScan with PartitionFilters `bucket IN "
        "(...)` covering the UNION of all queries' multiprobe buckets — "
        "the signature table is read once for the whole batch, not per "
        "query — followed by one MapInPandas (per-bucket query routing + "
        "local top-k inside the Arrow kernel) and one window rank "
        "partitioned by query_id. Q queries cost one pruned scan, and "
        "per-row scoring work is bounded by the queries probing that "
        "row's bucket.",
        capture(annb)))

    # deterministic sampling: the fraction filter must be scan-local (no
    # shuffle, no window) — the 100-TB sampling path
    from spidey_search_engine_spark.operators.sampling import (
        hash_fraction_sample)
    docs_t = EQ.load_table(spark, sf_dir, "documents")
    samp = hash_fraction_sample(docs_t, 0.1).select("doc_id", "lang")
    sections.append((
        "Hash-fraction sample: shuffle-free scan-local filter",
        "Look for: a single WholeStageCodegen span containing Scan "
        "parquet -> Filter (the salted-hash threshold predicate; the "
        "projection collapses into the scan's ReadSchema), and NO "
        "Exchange anywhere — sampling a 100-TB corpus "
        "costs exactly one map-only pass, and the deterministic "
        "hash(id, seed) predicate means re-runs and corpus growth never "
        "reshuffle previously-sampled rows.",
        capture(samp)))

    # PQ ADC scan: the approximate-distance scoring over the codes table
    # must stay in whole-stage codegen — element_at into the LUT literal,
    # never a Python eval in the scan
    from spidey_search_engine_spark.operators.similarity import (
        pq_adc_topk, pq_codebooks_sampled, pq_encode)
    cbq = pq_codebooks_sampled(e.filter(F.col("vec_id") >= 1), m=4, ksub=16)
    codes = pq_encode(e.filter(F.col("vec_id") != 0), cbq)
    adc = pq_adc_topk(codes, cbq, qv, k=20)
    sections.append((
        "PQ ADC top-k scan (codes table, JVM-side lookup-table scoring)",
        "Look for: exactly ONE ArrowEvalPython (the pq_encode of this "
        "inline demo — at serving time codes are a MATERIALIZED table and "
        "even that disappears), then the ADC score as pure element_at "
        "projections inside WholeStageCodegen feeding "
        "TakeOrderedAndProject. The scan reads only (id, code) — m ints "
        "per vector, ~dim*4/m x smaller than the embeddings — and no "
        "Python appears between the codes and the top-k.",
        capture(adc)))

    # compacted chunked index (plans/snapshot.compact_postings): the same
    # Q1 probe over the post-compaction snapshot — one term-sorted file set
    # per bucket instead of per-chunk-per-bucket small files
    from spidey_search_engine_spark.plans.snapshot import (
        load_snapshot, parquet_file_count, read_manifest)
    cdir = EQ.entry_index_dir(sf_dir) + "_chunked"
    # compacted_from guards against a half-staged dir (init_snapshots ran
    # but compact_postings didn't): then LATEST would still point at the
    # chunked v1 and this section would "document" evidence the captured
    # plan itself contradicts.
    if (os.path.exists(os.path.join(cdir, "snapshots"))
            and read_manifest(cdir).get("compacted_from") is not None):
        m = read_manifest(cdir)
        n_chunked = parquet_file_count(os.path.join(cdir, "postings"))
        n_compact = parquet_file_count(os.path.join(cdir, m["postings"]))
        sidx = load_snapshot(spark, cdir)
        rows_c = S.query_term_postings(sidx["postings"], EQ.QT,
                                       int(sidx["stats"]["n_buckets"]))
        sections.append((
            "Query-term probe AFTER postings compaction (chunked appends "
            "re-laid-out)",
            f"Measured at capture time: the chunked tree holds {n_chunked} "
            f"parquet files (postings/chunk=*/bucket=*); the compacted "
            f"snapshot ({m['postings']}) holds {n_compact}. Look for: the "
            "FileScan reading the v-dir (no chunk= partition column "
            "anywhere in the plan), PartitionFilters on `bucket`, "
            "PushedFilters `term IN (...)` — with the range re-layout each "
            "file carries a contiguous term range, so the footer min/max "
            "skips whole files, not just row groups.",
            capture(rows_c)))

    # substring-span dedup: the whole operator (window explode → global
    # hash counts → keep-first filter → gaps-and-islands merge → fold
    # excision) must be JVM-only — no Python node anywhere in the plan
    from spidey_search_engine_spark.operators.dedup import substring_dedup
    ssd = substring_dedup(EQ._blockdup_docs(spark, sf_dir),
                          k=40, stride=20, min_count=5)
    sections.append((
        "Exact substring-span dedup (strided windows, keep-first policy)",
        "Look for: Generate (the sequence/explode of window offsets) "
        "feeding sha2 window hashes; ONE hash-partitioned Exchange for "
        "the global window counts with partial (map-side) "
        "count+min(struct) before it; the keep-first exemption as a join "
        "condition (NOT first.id/off), not a second shuffle; two Window "
        "nodes (running max-end, island sum) over the duplicate spans "
        "only; and the final span excision as an `aggregate(...)` fold "
        "inside a Project — NO ArrowEvalPython/MapInPandas anywhere. The "
        "join strategies here are AQE picks at demo scale (broadcast); "
        "at corpus scale the same plan degrades gracefully to "
        "sort-merge because nothing in the code forces a broadcast. The "
        "window lineage is evaluated twice (stats + probe side) — both "
        "are map-only extraction passes; the one O(#windows) shuffle is "
        "the price of exact global counts, and `stride` is the knob "
        "that scales it.",
        capture(ssd)))

    # hashed linear quality classifier: inference must be a broadcast
    # join against the weight table, never a literal LUT in codegen and
    # never a Python eval
    from spidey_search_engine_spark.functions.quality_model import (
        deterministic_weights, linear_quality_scores)
    qm_docs = (docs_t.select("doc_id", F.col("text").alias("content")))
    qm = linear_quality_scores(qm_docs, deterministic_weights(spark, 1024),
                               1024)
    sections.append((
        "Hashed linear quality classifier (broadcast weight join)",
        "Look for: Generate (token explode) → pmod bucket projection → "
        "BroadcastHashJoin against the 1024-row weight table "
        "(BroadcastExchange of the Range-derived weights — a trained "
        "table broadcasts the same way) → two-phase HashAggregate "
        "(partial avg+count map-side, final after one Exchange on "
        "doc_id) with the sigmoid folded into the final projection. "
        "Zero Python nodes; per-doc cost is the token explode the index "
        "build already pays.",
        capture(qm)))

    # incremental cross-corpus dedup: the probe must read ONLY its
    # bucket partitions of the materialized MinHash band index
    from spidey_search_engine_spark.functions.hashing import poly_hash
    from spidey_search_engine_spark.operators.dedup import (
        incremental_lsh_pairs)
    mh_idx, mh_base = EQ._planted_minhash_index(spark, sf_dir)
    # a 1-doc batch: its <=4 band buckets make the pruning visible (the
    # full planted batch touches all 16 partitions and proves nothing)
    mh_inc = (EQ._planted_incoming(spark, sf_dir)
              .withColumnRenamed("text", "content").limit(1)
              .localCheckpoint())
    mh_pairs = incremental_lsh_pairs(
        mh_inc, mh_base, mh_idx, num_hashes=8, bands=4, threshold=0.2,
        seed=7, n_buckets=16, hash_expr=poly_hash,
        band_hash_expr=poly_hash)
    sections.append((
        "Incremental cross-corpus dedup: partition-pruned MinHash index "
        "probe",
        "`operators/dedup.write_minhash_index` materializes the base "
        "corpus's band table partitionBy(\"bucket\") (bucket = "
        "pmod(band_hash, n_buckets)), full signature riding on each band "
        "row; each incoming batch minhashes only ITSELF and probes the "
        "index through its distinct probe buckets (bounded by n_buckets, "
        "collected as literals — the same Q1 dictionary trick). Look "
        "for: the index FileScan with PartitionFilters `bucket IN (...)` "
        "— a strict subset of the 16 partitions; the batch band table as "
        "an InMemoryTableScan (persisted, batch-sized) appearing once "
        "per consumer instead of replaying the minhash lineage; the "
        "verify staying candidate-first (base shingles recomputed only "
        "behind a broadcast left-semi prune on candidate ids). The base "
        "corpus is never re-minhashed — the ingest-side answer to the "
        "round-2 'ANN re-hashes the whole table per query' verdict. "
        "verify='minhash' drops the base scan entirely (signature "
        "agreement on the joined rows; see BENCH_DEDUP "
        "incremental_mh_verify_sec). At 100 TB the knobs are n_buckets "
        "(partition a few GB each) and batch cadence; probe cost is "
        "O(batch * bands) + the pruned partitions, independent of corpus "
        "size.",
        capture(mh_pairs)))
    for h in getattr(mh_pairs, "_persisted", []):
        h.unpersist()

    # SemDeDup: assignment UDF runs once (persisted scored table), the
    # pairwise verify is a cluster-keyed join, the centroid table
    # broadcasts, and the loser set anti-joins back batch-style
    import numpy as np

    from spidey_search_engine_spark.operators.similarity import (
        semdedup_survivors)
    emb_t = EQ.load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    head = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in emb_t.filter(F.col("vec_id").between(1, 32)).collect()}
    cent = np.array([head[i] for i in range(1, 33)], dtype=np.float64)
    sd = semdedup_survivors(emb_t, cent, threshold=0.99)
    sections.append((
        "SemDeDup survivors (cluster assignment -> per-cluster pairwise "
        "verify -> far-from-centroid keep)",
        "Look for: exactly ONE ArrowEvalPython (the vectorized "
        "nearest-centroid assignment) in the whole tree, feeding an "
        "InMemoryTableScan — the persisted scored table is the input of "
        "all three consumers (both self-join branches and the final "
        "anti-join), so the assignment pass runs once (measured 3x "
        "without it, 74s -> 34s at 100k vectors). The k-row centroid "
        "table arrives via BroadcastExchange; the pairwise verify joins "
        "on `cluster` (per-cluster quadratic, bounded by k-means cluster "
        "size); the loser set is pair-scale, so the final LeftAnti is a "
        "BroadcastHashJoin INTO the scored scan, never the reverse.",
        capture(sd)))
    for h in getattr(sd, "_persisted", []):
        h.unpersist()

    # sequence packing: ONE shuffle on the uniform shard key, the python
    # kernel sees only ids + token counts
    from spidey_search_engine_spark.operators.chunking import (
        chunk_documents, pack_sequences)
    pk = pack_sequences(
        chunk_documents(docs_t, chunk_tokens=16, overlap=4),
        budget=64, n_shards=8, hash_expr=poly_hash)
    sections.append((
        "Training-sequence packing (next-fit per hash shard)",
        "Look for: the chunk derivation as pure Project/Generate over the "
        "documents scan with `chunk_text` PRUNED away (the packing input "
        "projects only ids + n_tokens, so the concat_ws(slice(...)) "
        "expression never evaluates); exactly ONE Exchange, "
        "hashpartitioning(shard), feeding FlatMapGroupsInPandas — the "
        "next-fit kernel is the only Python node and its rows are 5 "
        "scalar columns (no text ever crosses Arrow); no sort or window "
        "after the kernel (seq/pos are computed inside it).",
        capture(pk)))

    # P37 fuzzy probe: the delete-neighborhood index is probed like the
    # postings store — partition pruning on the variant bucket, then an
    # equi-join against the handful of query-token variants
    from spidey_search_engine_spark.operators.fuzzy import (
        fuzzy_lookup, load_deletion_index, write_deletion_index)
    fz_dir = EQ.entry_index_dir(sf_dir) + "_fuzzy"
    if not os.path.exists(os.path.join(fz_dir, "meta.json")):
        write_deletion_index(idx["terms"], fz_dir, max_del=1, n_buckets=16)
    fz = load_deletion_index(spark, fz_dir)
    fl = fuzzy_lookup(fz["variants"], ["merg"], n_buckets=fz["n_buckets"],
                      index_max_del=fz["max_del"], k=5)
    sections.append((
        "SymSpell fuzzy probe (P37): partition-pruned variant lookup",
        "Look for: PartitionFilters `vbucket IN (...)` (only the buckets "
        "the query token's <=5 deletion variants hash to are read) plus "
        "PushedFilters `variant IN (...)` on the index scan, a "
        "BroadcastHashJoin against the tiny LocalTableScan of query "
        "variants, the levenshtein verify as a plain JVM Filter, and the "
        "per-token top-k as a WindowGroupLimit-capped window — no "
        "full-vocabulary scan anywhere in the tree.",
        capture(fl)))

    # P40 decontamination probe: corpus n-grams must be generated and
    # filtered map-side against the broadcast benchmark grams — the
    # corpus side never shuffles its exploded grams
    from spidey_search_engine_spark.operators.decontaminate import (
        contamination_hits)
    ddocs = EQ.load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content")
    dbench = ddocs.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(F.split(F.col("content"), " "), 3, 7), " ")
        .alias("text"))
    dh = contamination_hits(ddocs, dbench, n=3)
    sections.append((
        "Benchmark decontamination probe (P40): map-side gram filter",
        "Look for: ONE scan of the documents table feeding the Arrow "
        "gram kernel (MapInPandas) then Generate(explode) of the "
        "per-doc distinct gram array, a BroadcastHashJoin against the "
        "(tiny) benchmark gram set IN THE SAME stage — the only "
        "CORPUS-SIZED Exchange in the tree is the final "
        "hashpartitioning(doc_id) of the surviving hits into the count "
        "aggregate (the bench side's distinct-gram Exchange and the "
        "BroadcastExchange are benchmark-sized by construction). "
        "Corpus grams are created and discarded within a "
        "task; nothing corpus-sized ever crosses the wire.",
        capture(dh)))

    # P41 DSIR selection: the corpus must never shuffle on the bucket
    # key, and selection must be a per-partition top-k, not a sort
    from spidey_search_engine_spark.operators.dsir import (
        dsir_logratios, dsir_select, gram_bucket_counts)
    ddsir = EQ.load_table(spark, sf_dir, "documents") \
        .withColumnRenamed("text", "content").select("doc_id", "content")
    dtarget = ddsir.filter(F.col("doc_id") % 7 == 3)
    dlr = dsir_logratios(gram_bucket_counts(dtarget, n_buckets=512),
                         gram_bucket_counts(ddsir, n_buckets=512),
                         n_buckets=512)
    dsel = dsir_select(ddsir, dlr, k=50, n_buckets=512, seed=7)
    sections.append((
        "DSIR importance selection (P41): broadcast ratios, "
        "TakeOrderedAndProject top-k",
        "Look for: the log-ratio table (bounded by n_buckets) entering "
        "the scoring join through a BroadcastExchange / "
        "BroadcastHashJoin — the corpus-side exploded gram stream never "
        "shuffles on `bucket`; the per-doc weight aggregate is the only "
        "corpus-scale Exchange (hashpartitioning(doc_id), "
        "partial-aggregated map-side); and the final k=50 selection is "
        "TakeOrderedAndProject (per-partition top-k + driver merge), "
        "NOT a global Sort+Exchange of the scored corpus.",
        capture(dsel)))

    # P45 keyword extraction: per-doc top-k must plan as WindowGroupLimit
    from spidey_search_engine_spark.operators.report import doc_keywords
    dkw = doc_keywords(ddsir, idx["terms"],
                       int(idx["stats"]["n_docs"]), k=3)
    sections.append((
        "Per-document keywords (P45): WindowGroupLimit, no global sort",
        "Look for: WindowGroupLimit nodes on BOTH sides of the window "
        "Exchange (partial mode before the shuffle, final after) — each "
        "partition forwards at most k rows per doc, so the rank<=k "
        "filter never materializes or sorts the full (doc, term) "
        "space; the dictionary join arrives via BroadcastHashJoin at "
        "this scale (AQE decides; at 10^9-term scale it degrades to a "
        "uniform-key shuffle join, never a skew hazard).",
        capture(dkw)))

    # P50 must-not exclusion: both postings scans partition-pruned, the
    # exclusion applied as an ANTI join before the top-k
    from spidey_search_engine_spark.operators.search import (
        bm25_topk_excluding)
    dex = bm25_topk_excluding(spark, idx, EQ.QT, ["table"], k=20)
    sections.append((
        "Boolean must-not (P50): anti-join exclusion before top-k",
        "Look for: TWO bucket/term-pruned postings scans (the query "
        "terms' full decode and the excluded terms' gap-only decode), "
        "joined LeftAnti on doc_id BEFORE TakeOrderedAndProject — the "
        "excluded set is df(excluded)-bounded, broadcast at this scale, "
        "and the limit therefore returns k survivors whenever k exist.",
        capture(dex)))

    # P50 wildcard expansion, scale path: the prefix-partitioned
    # dictionary projection (operators/wildcard.py) must show a
    # PartitionFilter on p1 — one first-char directory read — plus the
    # pushed StartsWith for row-group skipping inside it
    from spidey_search_engine_spark.operators.wildcard import (
        load_ngram_terms, load_prefix_terms, load_suffix_terms)
    idx_dir = EQ.entry_index_dir(sf_dir)
    # entry_index (above) already self-heals all three projections via
    # loader probes; a None here means that heal broke — fail loudly
    # rather than capture a scan-fallback plan labeled as the pruned path
    pt = load_prefix_terms(spark, idx_dir)
    if pt is None:
        raise RuntimeError(f"prefix terms projection missing/stale under "
                           f"{idx_dir} after entry_index heal")
    dwp = (pt.filter((F.col("p1") == F.ascii(F.lit("s")))
                     & F.col("term").startswith("so"))
           .select("term", "df")
           .orderBy(F.col("df").desc(), "term").limit(8))
    sections.append((
        "Wildcard term expansion (P50), prefix-partitioned path: "
        "PartitionFilters on p1",
        "Look for: PartitionFilters [isnotnull(p1), (p1 = 115)] (p1 is the first-char codepoint) on the "
        "prefix-terms scan — every other first-char partition directory "
        "is pruned unread — plus PushedFilters "
        "[.., StringStartsWith(term,so)] skipping row groups inside the "
        "term-sorted partition, ReadSchema struct<term,df> only, and "
        "TakeOrderedAndProject for the df-ranked max_terms cap. At a "
        "10^9-term vocabulary the bytes read are prefix-bounded, never "
        "|V|-bounded (the r3 dictionary-scan fallback below remains the "
        "no-index behavior).",
        capture(dwp)))

    # Leading wildcards: the reversed-term (suffix) projection must show
    # the same PartitionFilter shape keyed on the term's LAST character
    st = load_suffix_terms(spark, idx_dir)
    if st is None:
        raise RuntimeError(f"suffix terms projection missing/stale under "
                           f"{idx_dir} after entry_index heal")
    dws = (st.filter((F.col("p1") == F.ascii(F.lit("e")))
                     & F.col("term_rev").startswith("el"))
           .select("term", "df")
           .orderBy(F.col("df").desc(), "term").limit(8))
    sections.append((
        "Leading-wildcard expansion (`*le`), reversed-term path: "
        "PartitionFilters on p1 (the term's LAST character)",
        "Look for: PartitionFilters [isnotnull(p1), (p1 = 101)] (codepoint of the last char) on the "
        "suffix-terms scan — `*le` reverses to the prefix probe `el*` "
        "against term_rev, so only the last-char partition directory is "
        "read — plus PushedFilters [.., StringStartsWith(term_rev,el)] "
        "skipping row groups inside the term_rev-sorted partition, and "
        "TakeOrderedAndProject for the df-ranked cap. Reversal is a "
        "bijection between the two match problems (the Lucene "
        "ReversedWildcardFilter trick), so `*term` costs the same "
        "pattern-bounded bytes as `term*` — never a |V| scan.",
        capture(dws)))

    # Infix wildcards: the n-gram projection must show a PartitionFilter
    # on the gram's first character plus a pushed gram equality
    loaded = load_ngram_terms(spark, idx_dir)
    if loaded is None:
        raise RuntimeError(f"ngram terms projection missing/stale under "
                           f"{idx_dir} after entry_index heal")
    ng, _n = loaded
    dwn = (ng.filter((F.col("g1") == F.ascii(F.lit("p")))
           & (F.col("gram") == "par"))
           .select("term", "df")
           .orderBy(F.col("df").desc(), "term").limit(8))
    sections.append((
        "Infix-wildcard expansion (`*par*`), n-gram path: "
        "PartitionFilters on g1 + pushed gram equality",
        "Look for: PartitionFilters [isnotnull(g1), (g1 = 112)] (gram first-char codepoint) on the "
        "ngram-terms scan — only the probe gram's first-char directory "
        "is read — plus PushedFilters [.., EqualTo(gram,par)] skipping "
        "row groups inside the gram-sorted partition, and "
        "TakeOrderedAndProject for the df-ranked cap. The probe gram is "
        "the longest literal run's first n characters; candidates then "
        "verify against the full anchored regex. The table is "
        "|V|·(len−n+1) rows — vocabulary-bounded, never "
        "corpus-bounded — and OPT-IN at build time; without it infix "
        "queries fail fast instead of paying a |V| scan.",
        capture(dwn)))

    # P50 wildcard expansion, no-index fallback: the dictionary scan
    # shows the StartsWith predicate pushed to the parquet reader and a
    # ReadSchema of only (term, df)
    dw = (idx["terms"].filter(F.col("term").startswith("so"))
          .select("term", "df")
          .orderBy(F.col("df").desc(), "term").limit(8))
    sections.append((
        "Wildcard term expansion (P50), fallback: StartsWith pushdown "
        "on the dictionary scan",
        "Look for: PushedFilters [.., StringStartsWith(term,so)] on the "
        "terms scan with ReadSchema struct<term,df> only, and "
        "TakeOrderedAndProject for the df-ranked cap — the honest "
        "dictionary-scan cost of a wildcard rewrite without the prefix "
        "projection, bounded by max_terms before it ever reaches "
        "scoring.",
        capture(dw)))

    # Federated (sharded) search: each shard's postings scan keeps its
    # OWN bucket PartitionFilters + term PushedFilters; the shard rows
    # union plan-level (no shuffle) into ONE aggregation and ONE top-k
    dfed = EQ.federated_bm25_topk(spark, sf_dir)
    sections.append((
        "Federated BM25 top-k across two shard indexes "
        "(operators/federate.py): per-shard pruned scans union into one "
        "aggregation",
        "Look for: TWO postings scans (one per shard directory, "
        "..._fed_a and ..._fed_b), EACH with its own PartitionFilters "
        "[bucket IN (..)] against its own bucket layout (4 vs 8 "
        "buckets) and PushedFilters [In(term, [..])]; a Union above "
        "them (plan-level concatenation — no exchange of its own); the "
        "global idf×multiplicity weights as ONE literal map (no "
        "broadcast exchange, same as the single-index plan); exactly "
        "ONE ObjectHashAggregate pair on doc_id (the term-ordered "
        "fold); TakeOrderedAndProject for "
        "the top-k. Query cost = Σ per-shard probe bytes — identical "
        "bytes to a single index over the union corpus, which is also "
        "the correctness oracle (federated_bm25_topk replays the "
        "UNMODIFIED monolithic BM25 SQL).",
        capture(dfed)))

    # Federated search_after: the same two-shard union plan with the
    # cursor filter under the top-k — page depth appears nowhere
    from spidey_search_engine_spark.operators.federate import \
        federated_bm25_topk_tokens
    dfeda = federated_bm25_topk_tokens(
        spark, EQ._fed_shards(spark, sf_dir), EQ.QT, k=10,
        after=(0.25, 1000))
    sections.append((
        "Federated search_after (federated_bm25_topk_tokens with "
        "after=): per-shard pruned scans + term-ordered fold + cursor "
        "filter under the top-k",
        "Look for: the SAME two per-shard pruned scans, plan-level "
        "Union and ObjectHashAggregate (collect_list of (term, partial) "
        "structs — the term-ordered fold that makes the recomputed "
        "score bitwise equal to the cursor) as the federated top-k; "
        "ONE Filter ((score < c) OR "
        "(score = c AND doc_id > d)) directly beneath "
        "TakeOrderedAndProject. Page depth never appears in the plan: "
        "page 1000 reads Σ per-shard probe bytes and sorts k rows, "
        "same as page 1.",
        capture(dfeda)))

    # Proximity-boosted BM25: one positional decode feeds both the
    # scoring aggregation and the streaming distance kernel
    dprox = S.bm25_proximity_topk(spark, idx, EQ.QT, k=10,
                                  prox_weight=0.5)
    sections.append((
        "Proximity-boosted BM25 (bm25_proximity_topk): positional "
        "decode → scoring agg + streaming min-distance kernel → boosted "
        "top-k",
        "Look for: the postings scans with PartitionFilters [bucket IN "
        "(..)] + PushedFilters [In(term, ..)] (the same pruned probe, "
        "decoded WITH positions); one ObjectHashAggregate pair (the "
        "term-ordered fold) for the BM25 side; the MapInPandas distance "
        "kernel fed by a doc_id "
        "round-robin Exchange + per-partition sort (the phrase path's "
        "shape — state is one open doc's arrays, never a groupBy "
        "materialization); a left SortMergeJoin/broadcast joining the "
        "df-bounded min_dist rows back; TakeOrderedAndProject on the "
        "boosted score. Both inputs are the SAME df-bounded decoded "
        "rows — corpus size never enters.",
        capture(dprox)))

    # search_after pagination: the cursor filter sits UNDER the top-k
    dafter = S.bm25_topk_tokens(spark, idx, EQ.QT, k=10,
                                after=(0.25, 1000))
    sections.append((
        "search_after deep pagination (bm25_topk_tokens with after=): "
        "cursor filter below TakeOrderedAndProject",
        "Look for: the same pruned probe + scoring plan as plain BM25 "
        "with ONE extra Filter ((score < c) OR (score = c AND doc_id > "
        "d)) directly beneath TakeOrderedAndProject — page depth never "
        "appears in the plan, so page 1000 reads the same bytes and "
        "sorts the same k rows as page 1; contrast with LIMIT/OFFSET, "
        "whose sort must retain offset+k rows.",
        capture(dafter)))

    # Filtered search: the metadata predicate reaches the docs parquet
    # scan; the candidates semi-join it, postings cost unchanged
    docs_tbl = EQ.load_table(spark, sf_dir, "documents")
    dfilt = S.bm25_filtered_topk(spark, idx, docs_tbl, EQ.QT,
                                 {"lang": "es"}, k=10)
    sections.append((
        "Filtered search (bm25_filtered_topk): facets drill-down as a "
        "semi-join of df-bounded candidates against a predicate-pushed "
        "docs scan",
        "Look for: the docs-side scan with PushedFilters "
        "[IsNotNull(lang), EqualTo(lang,es)] and a two-column "
        "ReadSchema (doc_id + lang — content never read); the postings "
        "probe identical to plain BM25 (PartitionFilters bucket IN, "
        "PushedFilters term IN); and the join DIRECTION: the scored "
        "candidates sit under a BroadcastExchange while the docs scan "
        "STREAMS (BroadcastHashJoin Inner BuildRight, join applied "
        "before TakeOrderedAndProject so the page fills with "
        "survivors). The predicate side is corpus-bounded (lang='en' "
        "can match half of 10^12 docs) — broadcasting the df-bounded "
        "candidates into it means the corpus side never shuffles; the "
        "Σdf dictionary bound picks this plan driver-side, falling "
        "back to a left-semi join past the 2M-candidate budget.",
        capture(dfilt)))

    # Field collapsing: one window pass over candidates, not corpus
    dcoll = S.bm25_collapse_topk(spark, idx, docs_tbl, EQ.QT,
                                 "source", k=10)
    sections.append((
        "Field collapsing (bm25_collapse_topk): best-per-group window "
        "over the df-bounded candidates",
        "Look for: the scored candidates joining a two-column docs scan "
        "(doc_id + source) for the collapse key, ONE Exchange "
        "hashpartitioning(source) feeding BOTH window functions "
        "(row_number for the representative, count for group_size — "
        "same partition spec, one shuffle), then "
        "TakeOrderedAndProject. Window input is the candidate set; "
        "corpus size appears nowhere past the docs column scan.",
        capture(dcoll)))

    # Synonym-group BM25: term→group literal map, two df-bounded aggs
    dsyn = S.bm25_synonym_topk(spark, idx,
                               [["merge", "sort"], ["data"],
                                ["fast", "scan"]], k=10)
    sections.append((
        "Synonym-group BM25 (bm25_synonym_topk): SynonymQuery blend as "
        "a literal group map + two aggregates",
        "Look for: ONE pruned probe of the UNION of group members "
        "(PartitionFilters bucket IN, PushedFilters term IN — shared "
        "members decode once); the term→gid and gid→weight literal "
        "maps inside the project (no join, no broadcast exchange); "
        "HashAggregate on (doc_id, gid) blending member tfs, then "
        "ObjectHashAggregate on doc_id folding group partials in gid "
        "order; "
        "TakeOrderedAndProject. Cost is the plain ranker's plus one "
        "df-bounded agg — group count never multiplies the decode.",
        capture(dsyn)))

    # Segment-colocated batch BM25: bytes-only shuffle + kernel scoring
    dbatch = S.bm25_scores_batch_colocated(
        idx, {"b1": ["merge", "sort"], "b2": ["data", "fast"]}, k=10)
    sections.append((
        "Segment-colocated batch BM25 (bm25_scores_batch_colocated): "
        "one bytes-only exchange, per-doc aggregation inside the kernel",
        "Look for: the pruned segment scan (PartitionFilters bucket IN, "
        "PushedFilters term IN) feeding ONE Exchange "
        "hashpartitioning(segment) whose rows are (term, segment, bin, "
        "max_tf, min_dl) — the COMPRESSED binaries plus each segment's "
        "block-max bound inputs, never decoded posting rows; a local "
        "Sort (segment, term, band-free) so the kernel's fold order is "
        "deterministic; then a single MapInPandas producing the "
        "per-segment top-k candidates. No (query_id, doc_id) hash "
        "aggregate and no per-query window appear below the kernel — "
        "the two full-row exchanges the round-3 batch plan paid are "
        "gone; the caller's window sees n_segments × |Q| × k rows.",
        capture(dbatch)))

    from spidey_search_engine_spark.operators.build import merge_partials
    pdirs = os.path.join(EQ.entry_index_dir(sf_dir), "postings")
    full = (spark.read.option("basePath", pdirs).parquet(pdirs)
            .select("term", "segment", "bin"))
    nbk = int(idx["stats"]["n_buckets"])
    resharded = (merge_partials(full, n_buckets=nbk, doclen_bucket=nbk)
                 .withColumn("shard",
                             F.pmod(F.col("segment"), F.lit(2))
                             .cast("int")))
    sections.append((
        "Reshard single-pass re-layout (reshard.reshard_index): every "
        "output shard from ONE merge exchange of compressed binaries",
        "Look for: ReadSchema carrying only term+segment+bin (the "
        "position bytes ride inside `bin`, never decoded), ONE Exchange "
        "hashpartitioning(bucket, _salt) — the build's own merge "
        "shuffle, moving compressed bytes only — the MapInPandas merge "
        "kernel (consolidates duplicate (term, segment) rows from "
        "boundary segments of multiple inputs byte-identically), and "
        "the segment->shard projection that feeds the "
        "partitionBy(shard, bucket) write. No corpus scan, no "
        "tokenization, no per-shard pass.",
        capture(resharded)))

    out = ["# PLANS — physical-plan evidence (generated by "
           "scripts/capture_plans.py)", ""]
    for title, what, plan in sections:
        out += [f"## {title}", "", what, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({sum(len(p) for _, _, p in sections)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
