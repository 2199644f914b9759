"""spark-submit entry points (north_rule: launched via
``spark-submit --py-files`` on multi-executor clusters).

Package once:  zip -r spidey.zip spidey_search_engine_spark
Then e.g.:

  spark-submit --py-files spidey.zip -m spidey_search_engine_spark.cli \
      build --input /data/corpus --output /data/index --profile code
  spark-submit ... query --index /data/index --q 'merge sort' --k 10
  spark-submit ... query --index /data/index --q '"hash map" lookup' --parity
  spark-submit ... query --index /data/index --q 'merge' --facets repo,lang
  spark-submit ... query --index /data/index --more-like 42 --corpus /data/corpus
  spark-submit ... bench --sf-dir /root/testdata/sf0.1
  spark-submit ... report --input /data/corpus --group-by lang --index /data/index
  spark-submit ... forks --input /data/corpus --output /data/forks --threshold 0.6
  spark-submit ... diff --old /data/v1 --new /data/v2 --output /data/delta
  spark-submit ... clean --input /data/corpus --output /data/cleaned \
      --substring-min-count 2 --redact-pii --quality-threshold 0.5 \
      --exact-dedup
  spark-submit ... prepare --input /data/dumps --output /data/train \
      --jsonl --chunk-tokens 2048 --budget 8192 --bpe-merges 32000

In the sandbox the same commands run with ``python -m`` on local[N]
(master comes from SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS or the
spark-submit conf — get_spark only sets a master when none is configured).
"""

from __future__ import annotations

import argparse
import json
import math
import sys


def _read_batch_queries(path: str, p: argparse.ArgumentParser) \
        -> dict[str, str]:
    """Parse a --batch query file: one query per line, optional
    'id<TAB>query' form, blank/# lines skipped. Fails fast (parser
    error) on unreadable files, empty/duplicate ids, operator tokens
    (+term / wildcards — the batch scorer runs the plain term path), or
    a file with no queries at all — silently ranking nothing is worse
    than refusing."""
    try:
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
    except OSError as e:
        p.error(f"--batch: cannot read {path}: {e}")
    out: dict[str, str] = {}
    for i, raw in enumerate(lines, 1):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        if "\t" in line:
            qid, qtext = (s.strip() for s in line.split("\t", 1))
        else:
            qid, qtext = f"q{i}", line
        if not qid or not qtext:
            p.error(f"--batch: line {i}: empty id or query")
        if qid in out:
            p.error(f"--batch: duplicate query id {qid!r} (line {i})")
        for t in qtext.split():
            if "*" in t or (t.startswith("+") and len(t) > 1):
                p.error(f"--batch: line {i}: operator tokens (+term, "
                        f"wildcards) are not supported in batch mode — "
                        f"run {t!r} as a single query")
        out[qid] = qtext
    if not out:
        p.error(f"--batch: no queries in {path}")
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spidey-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True, help="corpus parquet/iceberg dir")
    b.add_argument("--output", required=True)
    b.add_argument("--profile", default="code")
    b.add_argument("--seg-bits", type=int, default=16)
    b.add_argument("--n-buckets", type=int, default=1024)
    b.add_argument("--resumable", action="store_true")
    b.add_argument("--chunk-segments", type=int, default=16)
    b.add_argument("--fuzzy-index", action="store_true",
                   help="also materialize the SymSpell delete-neighborhood "
                        "index under <output>/fuzzy for `query --fuzzy`")
    b.add_argument("--fuzzy-buckets", type=int, default=64)
    b.add_argument("--impact-index", action="store_true",
                   help="also materialize the impact-ordered posting "
                        "bands under <output>/impact for `query "
                        "--impact` (early-terminated exact BM25)")
    b.add_argument("--no-wildcard-index", action="store_true",
                   help="skip the prefix-/reversed-term dictionary "
                        "projections (<output>/prefix, <output>/suffix) "
                        "that turn `term*` / `*term` expansion into "
                        "one-partition probes (also removes an existing "
                        "n-gram projection)")
    b.add_argument("--ngram-index", action="store_true",
                   help="also materialize the n-gram term projection "
                        "(<output>/ngram) that serves infix wildcards "
                        "(`*x*`) as a one-partition probe; without it "
                        "infix queries fail fast")
    b.add_argument("--ngram-size", type=int, default=3,
                   help="gram width for --ngram-index (literal runs "
                        "shorter than this cannot be probed)")
    b.add_argument("--shards", type=int, default=1,
                   help="build N disjoint shard indexes under "
                        "<output>/shard_<i> (doc_ids assigned once, "
                        "sliced by pmod(doc_id, N)) — query them "
                        "together with repeatable --index; scores are "
                        "byte-identical to one index over the corpus")

    q = sub.add_parser("query", help="top-k search")
    q.add_argument("--index", required=True, action="append",
                   help="index dir (repeatable: several --index dirs "
                        "FEDERATE — BM25 with global N/avgdl/df across "
                        "the shards, scores identical to one index over "
                        "the union corpus; shards must be disjoint on "
                        "doc_id. Default BM25 term path only)")
    q.add_argument("--verify-disjoint", action="store_true",
                   help="federated queries: fail if any (term, doc_id) "
                        "decodes from more than one shard (overlap "
                        "would double-count scores); costs one extra "
                        "query-bounded aggregation")
    q.add_argument("--q", default=None,
                   help="query string (required except with --more-like)")
    q.add_argument("--k", type=int, default=None,
                   help="top-k (default 10; parity mode defaults to the "
                        "reference's 20-result page)")
    q.add_argument("--parity", action="store_true",
                   help="reference-parity ranker instead of BM25")
    q.add_argument("--pruned", action="store_true",
                   help="block-max pruned BM25 path")
    q.add_argument("--impact", action="store_true",
                   help="impact-ordered early-terminated BM25 path "
                        "(needs build --impact-index; identical top-k, "
                        "wins on tf-skewed hot-term queries where the "
                        "block-max fraction fallback punts)")
    q.add_argument("--fuzzy", action="store_true",
                   help="correct out-of-dictionary query terms via the "
                        "SymSpell index (<index>/fuzzy if materialized, "
                        "else derived inline) before BM25 scoring")
    q.add_argument("--slop", type=int, default=0,
                   help="parity mode: quoted phrases match with each "
                        "consecutive gap <= slop+1 (0 = exact adjacency)")
    q.add_argument("--facets", default=None, metavar="COL[,COL...]",
                   help="instead of ranked results, print per-facet "
                        "match counts over the index docs table columns "
                        "(repo/path/lang) for the match set")
    q.add_argument("--facets-mode", choices=["any", "all"], default="any",
                   help="facet match semantics: any = OR (default), "
                        "all = docs containing every query term")
    q.add_argument("--more-like", type=int, default=None, metavar="DOC_ID",
                   help="related-documents query: ignore --q and rank by "
                        "the given doc's top keywords (needs --corpus "
                        "for the source text)")
    q.add_argument("--corpus", default=None,
                   help="corpus parquet dir with (doc_id, content) — "
                        "required by --more-like")
    q.add_argument("--not", dest="exclude", action="append", default=[],
                   metavar="TERM",
                   help="boolean must-not: drop docs containing TERM "
                        "(repeatable; analyzed with the query chain; "
                        "default BM25 path only). Wildcard patterns "
                        "(term*, *term, *x*) expand against the STORED "
                        "dictionary and exclude every match — failing "
                        "fast past 64 matches rather than silently "
                        "truncating the exclusion. +TERM inside --q is "
                        "the conjunctive dual: the doc must contain it "
                        "(and it scores, Lucene MUST semantics)")
    q.add_argument("--suggest", action="store_true",
                   help="'Did you mean:' report instead of a search — "
                        "one JSON line per analyzed query token with its "
                        "best in-distance-1 dictionary suggestion (exact "
                        "hits suggest themselves at dist 0, tokens with "
                        "no candidate print null); uses the SymSpell "
                        "index like --fuzzy but does not run the query")
    q.add_argument("--explain", action="store_true",
                   help="score explanation instead of plain results: one "
                        "JSON line per (top-k doc, contributing term) "
                        "with the idf*multiplicity weight, tf, dl, and "
                        "that term's BM25 partial — partials sum to the "
                        "doc's score exactly (default BM25 term path; "
                        "composes with --boost-important)")
    q.add_argument("--batch", default=None, metavar="FILE",
                   help="eval-workload mode: read queries from FILE (one "
                        "per line; 'id<TAB>query' lines keep their id, "
                        "bare lines get q<lineno>; blank lines and "
                        "#comments skipped) and rank ALL of them in one "
                        "pass — a single union-term pruned probe instead "
                        "of one job per query; prints one JSON line per "
                        "(query_id, doc_id, score, rank); works "
                        "single-index and federated (multiple --index); "
                        "plain terms/phrases only (no +term/wildcards)")
    q.add_argument("--after", default=None, metavar="SCORE:DOC_ID",
                   help="stateless deep pagination (search_after): "
                        "return the top-k strictly after the given "
                        "cursor — the (score, doc_id) of the previous "
                        "--after page's last row — in ranking order; "
                        "every page costs one probe regardless of "
                        "depth, unlike OFFSET. Start with '--after "
                        "start' (page 1) or take the cursor from any "
                        "page of the same index: every route scores "
                        "bit-identically, so the exact-equality cursor "
                        "compare neither re-serves nor skips the "
                        "boundary row. Plain-term default path; "
                        "composes with --snippets")
    q.add_argument("--proximity", type=float, default=None, metavar="W",
                   help="proximity-boosted ranking: score = BM25 + "
                        "W/(1+min_dist) where min_dist is the closest "
                        "co-occurrence of two distinct query terms in "
                        "the doc (adjacent 'binary search' outranks the "
                        "same words far apart); plain-term default path "
                        "only, composes with --snippets")
    q.add_argument("--snippets", action="store_true",
                   help="attach the reference's F11 snippet to each "
                        "result: the first 5 query-term match windows "
                        "(±8 raw tokens, '... '-joined) cut from the "
                        "source text of just the k result docs — needs "
                        "--corpus; default BM25 path incl. federated "
                        "and boolean/wildcard (other modes fail fast)")
    q.add_argument("--boost-important", type=float, default=None,
                   metavar="W",
                   help="BM25F-lite: weight important (title/path-token) "
                        "postings tf' = tf*W in the BM25 formula "
                        "(default BM25 path only; W=1 is the plain "
                        "ranker)")
    q.add_argument("--filter", action="append", default=[],
                   metavar="COL=VALUE",
                   help="facets drill-down: restrict results to docs "
                        "whose metadata column equals VALUE (repeatable "
                        "= AND; columns come from the index docs table: "
                        "repo/path/commit/lang); applies BEFORE the "
                        "top-k so the page fills with survivors "
                        "(default BM25 term path only)")
    q.add_argument("--collapse", default=None, metavar="COL",
                   help="field collapsing: one best-scoring result per "
                        "COL value (e.g. repo) plus its group_size — "
                        "composes with --filter (default BM25 term "
                        "path only)")
    q.add_argument("--syn", action="append", default=[],
                   metavar="TERM=ALT[,ALT...]",
                   help="synonym group (repeatable): query tokens "
                        "matching TERM score blended with the ALTs as "
                        "ONE pseudo-term (tf summed, max-df idf — "
                        "Lucene SynonymQuery), never as inflated "
                        "independent terms (default BM25 term path "
                        "only; plain terms, no wildcards/+term)")
    q.add_argument("--sig-terms", type=int, default=None, metavar="N",
                   help="significant-terms analytics: the N terms most "
                        "overrepresented (ES JLH) in the query's top "
                        "page versus the corpus background (needs "
                        "--corpus — document text lives there, not in "
                        "the index; replaces the ranked output)")
    q.add_argument("--histogram", default=None, metavar="COL:WIDTH",
                   help="histogram facet: match-set doc counts bucketed "
                        "by integer-width bins over a numeric column "
                        "(e.g. n_chars:100) of the --corpus table, or "
                        "of the index docs table when --corpus is "
                        "omitted (replaces the ranked output)")
    q.add_argument("--term-vector", type=int, default=None,
                   metavar="DOC_ID",
                   help="per-doc (term, tf, first_pos) under the "
                        "index's analyzer — the Lucene TermVectors "
                        "shape, recomputed from the source doc (needs "
                        "--corpus; replaces ranking, no --q)")

    s = sub.add_parser("bench", help="run bench.py suite")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.1")

    vf = sub.add_parser(
        "verify", help="index↔source audit: per-row content-sha256 "
        "equality of the index docs table against the source corpus "
        "(ok / stale / missing / orphaned); prints one JSON summary "
        "line; exit 0 only when every row is ok — the CI face of the "
        "engine's per-row invariant")
    vf.add_argument("--index", required=True)
    vf.add_argument("--corpus", required=True,
                    help="source corpus parquet dir (doc_id derived "
                         "build-identically when absent)")
    vf.add_argument("--text-col", default="content")
    vf.add_argument("--dump", default=None, metavar="DIR",
                    help="also write the non-ok (doc_id, status) rows "
                         "as parquet — stale∪missing is reindex_docs' "
                         "repair input, orphaned is "
                         "delete_docs_postings'")

    r = sub.add_parser(
        "report", help="corpus statistics: per-group doc/char/token "
        "totals + token quantiles, repetition-signal summary, and "
        "(with --index) the tokenizer-sizing vocabulary coverage curve; "
        "prints one JSON line")
    r.add_argument("--input", required=True, help="corpus parquet dir "
                   "with a content/text column")
    r.add_argument("--text-col", default="content")
    r.add_argument("--group-by", default=None, metavar="COL[,COL...]",
                   help="per-group breakdown columns (default: whole "
                        "corpus as one group)")
    r.add_argument("--quantiles", default="0.5,0.9",
                   help="token-count quantiles, comma-separated fractions")
    r.add_argument("--index", default=None,
                   help="index dir: adds token mass covered by the top-r "
                        "dictionary terms at --vocab-sizes")
    r.add_argument("--vocab-sizes", default="1000,10000,50000")

    fk = sub.add_parser(
        "forks", help="repo-level fork detection over a (repo, content) "
        "corpus: MinHash/LSH file-set similarity -> verified Jaccard "
        "pairs + fork families with one canonical repo each")
    fk.add_argument("--input", required=True,
                    help="corpus parquet dir with repo + content columns")
    fk.add_argument("--repo-col", default="repo")
    fk.add_argument("--output", required=True,
                    help="writes <output>/pairs and <output>/clusters")
    fk.add_argument("--threshold", type=float, default=0.5)
    fk.add_argument("--exact", action="store_true",
                    help="full inverted self-join instead of LSH "
                         "(small repo universes)")

    dd = sub.add_parser(
        "diff", help="corpus version diff: per-doc "
        "added/removed/changed/unchanged between two snapshots; prints "
        "a summary JSON line, optionally writes the per-doc statuses")
    dd.add_argument("--old", required=True, help="old snapshot parquet")
    dd.add_argument("--new", required=True, help="new snapshot parquet")
    dd.add_argument("--output", default=None,
                    help="also write (doc_id, status) parquet here")
    dd.add_argument("--sha-col", default=None,
                    help="precomputed sha256 column present on BOTH "
                         "sides (skips in-scan hashing)")

    pc = sub.add_parser(
        "percolate", help="reverse search (the ES percolator): evaluate "
        "stored queries against every document — the alerting shape; "
        "prints (doc_id, query_id) matches or writes them as parquet")
    pc.add_argument("--corpus", required=True,
                    help="documents parquet dir (doc_id optional; "
                         "content or text column)")
    pc.add_argument("--queries", required=True,
                    help="stored queries: JSONL file with "
                         "{query_id, terms: [...], mode: any|all} rows, "
                         "or a parquet dir of the same shape")
    pc.add_argument("--profile", default="simple",
                    help="analyzer for the documents (store query terms "
                         "pre-analyzed with the same profile)")
    pc.add_argument("--output", default=None,
                    help="write matches parquet here instead of "
                         "printing")

    re_ = sub.add_parser(
        "rank-eval", help="ranking-quality evaluation (the ES "
        "_rank_eval shape): nDCG@k / MRR@k / P@k per query from a "
        "results table (query_id, doc_id, rank) and a graded judgments "
        "table (query_id, doc_id, grade)")
    re_.add_argument("--results", required=True,
                     help="parquet dir with (query_id, doc_id, rank)")
    re_.add_argument("--judgments", required=True,
                     help="parquet dir with (query_id, doc_id, grade)")
    re_.add_argument("--k", type=int, default=10)

    cmp_ = sub.add_parser(
        "compare", help="semantic index-equivalence check (the "
        "validation counterpart of reshard/compaction/NRT "
        "consolidation): stats + dictionary + per-(term, segment) "
        "posting-byte hashes; prints one JSON line, exits non-zero on "
        "any difference")
    cmp_.add_argument("--a", required=True, help="built index dir")
    cmp_.add_argument("--b", required=True, help="built index dir")

    ix = sub.add_parser(
        "stats", help="index introspection (the _cat/indices ops "
        "surface): stored build stats, dictionary size, postings "
        "row/byte totals and per-bucket balance, segment span, which "
        "aux projections are materialized — one JSON line per index")
    ix.add_argument("--index", required=True, action="append",
                    help="built index dir (repeatable)")
    ix.add_argument("--buckets", action="store_true",
                    help="also emit per-bucket postings rows/bytes "
                         "(hot-bucket skew check)")

    rs = sub.add_parser(
        "reshard", help="re-layout built index(es) across N shards "
        "WITHOUT rebuild (the ES split/shrink analog): postings route by "
        "segment as compressed bytes through the build's own merge, "
        "boundary segments consolidate byte-identically, per-shard "
        "dictionaries/stats recompute; federated scores over the new "
        "topology are byte-identical to the old (that is the test)")
    rs.add_argument("--input", required=True, action="append",
                    help="built index dir (repeat to consolidate many)")
    rs.add_argument("--output", required=True,
                    help="writes <output>/shard_<k> (the build --shards "
                         "layout; query with repeatable --index)")
    rs.add_argument("--shards", type=int, required=True,
                    help="output shard count (1 = consolidate)")
    rs.add_argument("--n-buckets", type=int, default=None,
                    help="dictionary buckets per output shard "
                         "(default: max over inputs)")
    rs.add_argument("--assign", choices=["mod", "range"], default="mod",
                    help="segment->shard policy: mod balances hot doc "
                         "ranges round-robin; range keeps contiguous "
                         "doc-id stripes together")
    rs.add_argument("--no-wildcard-index", action="store_true",
                    help="skip the per-shard prefix/reversed-term "
                         "dictionary projections (created by default, "
                         "same as build)")
    rs.add_argument("--ngram-index", action="store_true",
                    help="also write each shard's n-gram projection "
                         "(serves infix wildcards)")
    rs.add_argument("--ngram-size", type=int, default=3)
    rs.add_argument("--fuzzy-index", action="store_true",
                    help="also write each shard's SymSpell deletion "
                         "index")
    rs.add_argument("--fuzzy-buckets", type=int, default=64)
    rs.add_argument("--impact-index", action="store_true",
                    help="also write each shard's impact-ordered bands")

    c = sub.add_parser(
        "clean", help="training-corpus cleaning pipeline: unicode "
        "normalize -> substring-span dedup -> line dedup -> PII redaction "
        "-> Gopher repetition gate -> model quality gate -> LM perplexity "
        "gate -> exact dedup -> benchmark decontamination -> DSIR "
        "target-corpus selection (each stage optional); "
        "reads (doc_id, content), writes (doc_id, content)")
    c.add_argument("--input", required=True, help="corpus parquet dir")
    c.add_argument("--output", required=True)
    c.add_argument("--audit", default=None, metavar="DIR",
                   help="also write a (doc_id, stage) rejection trail: "
                        "for every dropped document, the FIRST stage that "
                        "rejected it (doc-dropping stages only — "
                        "text-rewriting stages keep every doc)")
    c.add_argument("--normalize", default=None,
                   choices=["NFC", "NFD", "NFKC", "NFKD"],
                   help="unicode-normalize content (and strip C0/DEL "
                        "control chars) BEFORE all other stages, so "
                        "NFC/NFD variants of the same text dedupe "
                        "together (stage off when unset)")
    c.add_argument("--substring-min-count", type=int, default=0,
                   help="excise runs occurring >= N times corpus-wide "
                        "(0 = stage off)")
    c.add_argument("--substring-k", type=int, default=100)
    c.add_argument("--substring-stride", type=int, default=50)
    c.add_argument("--line-max-docs", type=int, default=0,
                   help="drop lines present in > N docs (0 = stage off)")
    c.add_argument("--redact-pii", action="store_true")
    c.add_argument("--quality-threshold", type=float, default=None,
                   help="keep docs with model score >= T (stage off when "
                        "unset)")
    c.add_argument("--quality-dim", type=int, default=65536)
    c.add_argument("--weights", default=None,
                   help="parquet (bucket int, w double) trained table; "
                        "default: deterministic formula weights")
    c.add_argument("--strip-comments", nargs="?", const="", default=None,
                   metavar="LANG",
                   help="strip source-code comments; treat the whole "
                        "corpus as LANG (java/py/sql/...), or omit LANG "
                        "and pass --lang-col for per-row dispatch")
    c.add_argument("--strip-license", action="store_true",
                   help="remove a LEADING license-marked comment header "
                        "(language from --strip-comments LANG or "
                        "--lang-col)")
    c.add_argument("--lang-col", default=None,
                   help="per-row language column for --strip-comments/"
                        "--strip-license dispatch")
    c.add_argument("--max-dup-line-frac", type=float, default=None,
                   help="Gopher repetition gate: drop docs whose fraction "
                        "of duplicate lines exceeds F (stage off when all "
                        "four repetition bounds are unset)")
    c.add_argument("--max-dup-line-char-frac", type=float, default=None)
    c.add_argument("--max-top-ngram", action="append", default=[],
                   metavar="N:F",
                   help="drop docs whose most frequent token N-gram "
                        "covers > F of the char mass (repeatable)")
    c.add_argument("--max-dup-ngram", action="append", default=[],
                   metavar="N:F",
                   help="drop docs whose duplicated token N-grams cover "
                        "> F of the char mass (repeatable)")
    c.add_argument("--exact-dedup", action="store_true")
    c.add_argument("--decontam-bench", default=None, metavar="DIR",
                   help="benchmark parquet dir (any table with a 'text' "
                        "column); docs sharing a token n-gram with it are "
                        "dropped after every filter stage (only DSIR "
                        "selection runs later)")
    c.add_argument("--decontam-n", type=int, default=13,
                   help="n-gram size for --decontam-bench (13 = the "
                        "GPT-3/PaLM convention)")
    c.add_argument("--dsir-target", default=None, metavar="DIR",
                   help="DSIR importance resampling toward this target "
                        "corpus (parquet with a 'content' column): keep "
                        "the --dsir-k docs drawn Gumbel-top-k by hashed-"
                        "n-gram importance weight; runs after every "
                        "filter stage")
    c.add_argument("--dsir-k", type=int, default=None,
                   help="number of docs DSIR keeps (required with "
                        "--dsir-target)")
    c.add_argument("--dsir-buckets", type=int, default=8192)
    c.add_argument("--dsir-seed", type=int, default=0)
    c.add_argument("--dsir-temperature", type=float, default=1.0,
                   help="softmax temperature; near 0 = deterministic "
                        "top-k by weight, 1 = DSIR's sampled selection")
    c.add_argument("--max-ppl", type=float, default=None,
                   help="keep docs with unigram-LM perplexity <= T under "
                        "the --ppl-ref corpus (stage off when unset)")
    c.add_argument("--ppl-ref", default=None,
                   help="parquet dir of reference (doc_id, content) docs "
                        "the LM trains on; default: the corpus AS CLEANED "
                        "by the preceding stages (self-referential)")
    c.add_argument("--ppl-vocab", type=int, default=1 << 20)

    t = sub.add_parser(
        "prepare", help="training-data preparation: [ingest JSONL ->] "
        "tokenize (trained BPE or whitespace) -> chunk -> pack -> "
        "hash-sharded sequence table; reads (doc_id, content) parquet or "
        "--jsonl dumps, writes chunk rows laid out by (shard, seq, pos)")
    t.add_argument("--input", required=True,
                   help="corpus parquet dir, or JSONL dir with --jsonl")
    t.add_argument("--output", required=True)
    t.add_argument("--jsonl", action="store_true",
                   help="input is a JSONL dump; corrupt/null rows land in "
                        "<output>/_quarantine")
    t.add_argument("--chunk-tokens", type=int, default=2048)
    t.add_argument("--overlap", type=int, default=0)
    t.add_argument("--budget", type=int, default=8192,
                   help="max tokens per packed sequence")
    t.add_argument("--n-shards", type=int, default=1024)
    t.add_argument("--bpe-merges", type=int, default=0,
                   help="train a BPE table with N merges and budget the "
                        "pack by real subword counts (0 = whitespace "
                        "tokens)")
    t.add_argument("--bpe-max-words", type=int, default=1_000_000)

    args = p.parse_args(argv)
    if args.cmd in ("build", "reshard"):
        if args.ngram_size < 2:
            p.error(f"--ngram-size must be >= 2 (got {args.ngram_size})")
        if args.ngram_index and args.no_wildcard_index:
            p.error("--ngram-index conflicts with --no-wildcard-index")
    if args.cmd == "build":
        if args.shards < 1:
            p.error(f"--shards must be >= 1 (got {args.shards})")
        if args.shards > 1 and args.resumable:
            p.error("--shards with --resumable is not supported (resume "
                    "each shard individually: build --resumable "
                    "--output <dir>/shard_<i> over the pre-sliced "
                    "corpus)")
    if args.cmd == "query":
        # explicit --k 0 (or negative) is a user error, not "use default" —
        # resolve None-vs-given explicitly so 0 can't silently become 10/20
        if args.k is not None and args.k <= 0:
            p.error(f"--k must be a positive integer (got {args.k})")
        args.k = args.k if args.k is not None else (20 if args.parity else 10)
        if args.fuzzy and (args.parity or args.pruned):
            p.error("--fuzzy is supported on the default BM25 path only")
        if args.impact and (args.parity or args.pruned or args.fuzzy
                            or args.facets or args.suggest or args.explain
                            or args.batch or args.exclude
                            or args.more_like is not None
                            or args.boost_important is not None):
            p.error("--impact is a ranking mode for the default BM25 "
                    "term path; drop the other mode flags")
        if args.slop and not args.parity:
            p.error("--slop applies to quoted phrases in --parity mode")
        if args.slop < 0:
            p.error(f"--slop must be >= 0 (got {args.slop})")
        if args.more_like is not None and not args.corpus:
            p.error("--more-like needs --corpus (source text lives "
                    "there, not in the index)")
        n_analytics = sum([args.sig_terms is not None,
                           args.histogram is not None,
                           args.term_vector is not None])
        if n_analytics > 1:
            p.error("--sig-terms / --histogram / --term-vector are "
                    "different analytics queries; pick one")
        if n_analytics:
            if (args.parity or args.pruned or args.impact or args.fuzzy
                    or args.facets or args.suggest or args.explain
                    or args.batch or args.exclude
                    or args.more_like is not None
                    or args.after is not None
                    or args.proximity is not None
                    or args.collapse or args.filter or args.syn
                    or args.snippets or args.boost_important is not None
                    or len(args.index) > 1):
                p.error("--sig-terms/--histogram/--term-vector are "
                        "single-index analytics on the default term "
                        "path; drop the other mode flags")
        if args.sig_terms is not None:
            if args.sig_terms <= 0:
                p.error(f"--sig-terms must be positive "
                        f"(got {args.sig_terms})")
            if not args.corpus:
                p.error("--sig-terms needs --corpus (document text "
                        "lives there, not in the index)")
        if args.term_vector is not None:
            if not args.corpus:
                p.error("--term-vector needs --corpus (document text "
                        "lives there, not in the index)")
            if args.q is not None:
                p.error("--term-vector is a per-document lookup; "
                        "drop --q")
        if args.histogram is not None:
            raw_h = args.histogram
            parts = raw_h.rsplit(":", 1)
            try:
                args.histogram = (parts[0], int(parts[1]))
            except (IndexError, ValueError):
                p.error(f"--histogram takes COL:WIDTH (integer width), "
                        f"got {raw_h!r}")
            if not args.histogram[0] or args.histogram[1] <= 0:
                p.error(f"--histogram takes COL:WIDTH with a non-empty "
                        f"column and positive integer width, got "
                        f"{raw_h!r}")
        if (args.corpus and args.more_like is None and not args.snippets
                and args.sig_terms is None and args.histogram is None
                and args.term_vector is None):
            p.error("--corpus only applies to --more-like / --snippets "
                    "/ --sig-terms / --histogram / --term-vector")
        if args.facets and args.more_like is not None:
            p.error("--facets and --more-like are different queries; "
                    "pick one")
        if ((args.facets or args.more_like is not None)
                and (args.parity or args.pruned or args.fuzzy)):
            p.error("--facets/--more-like replace the ranking mode; "
                    "drop --parity/--pruned/--fuzzy")
        if args.batch:
            if args.q is not None:
                p.error("--batch reads its queries from FILE; drop --q")
            if (args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                    or args.suggest or args.explain or args.exclude
                    or args.more_like is not None
                    or args.boost_important is not None):
                p.error("--batch runs the default BM25 term path only "
                        "— drop the mode flags / operators")
        if (args.more_like is None and args.q is None
                and args.batch is None and args.term_vector is None):
            p.error("--q is required (except with --more-like / --batch "
                    "/ --term-vector)")
        if args.after is not None:
            if args.after != "start":
                parts = args.after.split(":")
                if len(parts) != 2:
                    p.error("--after takes SCORE:DOC_ID (the last row "
                            "of the previous --after page) or 'start' "
                            "for page 1")
                try:
                    args.after = (float(parts[0]), int(parts[1]))
                except ValueError:
                    p.error(f"--after: cannot parse {args.after!r} as "
                            "SCORE:DOC_ID")
                if not math.isfinite(args.after[0]):
                    # nan compares false to everything (silently empty
                    # pages); inf re-serves page 1 forever — fail fast
                    # like every other cursor-contract violation
                    p.error(f"--after: score must be finite, got "
                            f"{parts[0]!r}")
            if (args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                    or args.suggest or args.explain or args.batch
                    or args.exclude or args.more_like is not None
                    or args.proximity is not None):
                p.error("--after paginates the default BM25 term path "
                        "only (single-index or federated) — drop the "
                        "mode flags")
            if args.q and any(("*" in t or t.startswith("+")) and
                              len(t) > 1 for t in args.q.split()):
                p.error("--after takes plain terms (no +term / "
                        "wildcards)")
        if args.proximity is not None:
            if args.proximity <= 0:
                p.error(f"--proximity must be > 0 (got {args.proximity};"
                        " W=0 is the plain ranker — drop the flag)")
            if (args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                    or args.suggest or args.explain or args.batch
                    or args.exclude or args.more_like is not None
                    or args.boost_important is not None
                    or len(args.index) > 1):
                p.error("--proximity runs the single-index default BM25 "
                        "term path only — drop the mode flags / shards")
            if args.q and any(("*" in t or t.startswith("+")) and
                              len(t) > 1 for t in args.q.split()):
                p.error("--proximity takes plain terms (no +term / "
                        "wildcards)")
        if args.filter or args.collapse or args.syn:
            if (args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                    or args.suggest or args.explain or args.batch
                    or args.exclude or args.more_like is not None
                    or args.after is not None
                    or args.proximity is not None or args.snippets):
                p.error("--filter/--collapse/--syn run on the "
                        "default BM25 term path only — drop the "
                        "mode flags")
            if (args.collapse or args.syn) and len(args.index) > 1:
                p.error("--collapse/--syn are single-index — --filter "
                        "is the only drill-down that federates")
            flt = {}
            for spec in args.filter:
                col, eq, val = spec.partition("=")
                if not eq or not col or not val:
                    p.error(f"--filter takes COL=VALUE, got {spec!r}")
                if col in flt and flt[col] != val:
                    p.error(f"--filter {col} given twice with different "
                            "values — an AND of two values on one "
                            "column matches nothing")
                flt[col] = val
            args.filter = flt
            syn = {}
            for spec in args.syn:
                term, eq, alts = spec.partition("=")
                if not eq or not term or not alts.strip(","):
                    p.error(f"--syn takes TERM=ALT[,ALT...], got "
                            f"{spec!r}")
                if any("*" in x or x.startswith("+")
                       for x in [term] + alts.split(",")):
                    p.error("--syn takes plain terms (no +term / "
                            "wildcards)")
                syn[term] = [a for a in alts.split(",") if a]
            args.syn = syn
            if args.syn and (args.filter or args.collapse):
                p.error("--syn does not compose with --filter/"
                        "--collapse yet — run them separately")
            if args.syn and args.boost_important is not None:
                p.error("--syn scores blended pseudo-terms — "
                        "--boost-important does not apply")
            if args.q and any(("*" in t or t.startswith("+")) and
                              len(t) > 1 for t in args.q.split()):
                p.error("--filter/--collapse/--syn take plain terms "
                        "(no +term / wildcards)")
        if args.snippets:
            if args.corpus is None:
                p.error("--snippets needs --corpus (the source text to "
                        "cut windows from)")
            if (args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                    or args.suggest or args.explain or args.batch
                    or args.more_like is not None):
                p.error("--snippets decorates the default BM25 result "
                        "page only — drop the mode flags")
        if args.q and any("*" in t and '"' in t
                          for t in args.q.split()):
            p.error("wildcards inside quoted phrases are not supported")
        if any('"' in e for e in args.exclude):
            p.error("--not takes single terms, not quoted phrases")
        if any(e.strip("*") == "" for e in args.exclude):
            p.error("bare wildcard in --not matches everything — give "
                    "at least one literal character")
        if args.q:
            for t in args.q.split():
                if "*" in t:
                    if t.strip("*") == "":
                        p.error(f"bare wildcard {t!r} matches everything"
                                " — give at least one literal character")
                if not t.startswith("+"):
                    continue
                if len(t) == 1:
                    p.error("bare '+' in --q (write +term)")
                if '"' in t:
                    p.error("+ applies to single terms, not quoted "
                            "phrases")
                if "*" in t:
                    p.error("+term* (must + wildcard in one token) is "
                            "not supported; use +term term* instead")
        has_wild = bool(args.q) and any(
            "*" in t and len(t) > 1 for t in args.q.split())
        has_must = bool(args.q) and any(
            t.startswith("+") and len(t) > 1 for t in args.q.split())
        if ((args.exclude or has_wild or has_must)
                and (args.parity or args.pruned or args.fuzzy
                     or args.facets or args.more_like is not None)):
            p.error("--not / +term / wildcard terms are supported on "
                    "the default BM25 path only")
        if len(args.index) > 1 and (
                args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                or args.suggest or args.explain
                or args.more_like is not None
                or args.exclude or has_wild or has_must):
            p.error("federated query (multiple --index) runs the "
                    "default BM25 term path only — drop the mode flags "
                    "/ operators, or query one shard")
        if args.explain and (
                args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                or args.suggest or args.more_like is not None
                or args.exclude or has_wild or has_must):
            p.error("--explain explains the default BM25 term path "
                    "only — drop the mode flags / operators")
        if args.verify_disjoint and len(args.index) < 2:
            p.error("--verify-disjoint only applies to a federated "
                    "query (multiple --index)")
        if args.suggest:
            if (args.parity or args.pruned or args.impact or args.fuzzy or args.facets
                    or args.more_like is not None):
                p.error("--suggest replaces the search; drop the "
                        "ranking/mode flags")
            if args.exclude or has_wild or has_must:
                p.error("--suggest takes plain terms only (no --not / "
                        "+term / wildcards — there is nothing to "
                        "suggest for an operator)")
            if args.q is None:
                p.error("--suggest needs --q")
        if args.boost_important is not None:
            if args.boost_important <= 0:
                p.error(f"--boost-important must be > 0 "
                        f"(got {args.boost_important})")
            if (args.parity or args.pruned or args.facets or args.suggest
                    or args.more_like is not None):
                p.error("--boost-important is supported on the default "
                        "BM25 path only")

    from pyspark.sql import SparkSession

    from .session import get_spark

    # only stop a session this invocation created: embedding callers
    # (tests, notebooks) pass through getOrCreate and must keep theirs
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app=f"spidey-{args.cmd}")
    rc = 0  # non-zero set by audit commands (verify) on findings

    if args.cmd == "build":
        import os
        import shutil

        def _build_one(corpus, out):
            # aux projections from a PREVIOUS build of this output dir
            # that this invocation is going to delete or rewrite anyway
            # come out BEFORE the build — otherwise build_index's
            # refresh-in-place rewrites them from the fresh terms only
            # for this code to delete or re-rewrite the result
            stale_wildcard_removed = False
            if "://" not in out:
                from .operators.wildcard import (ngram_terms_dir,
                                                 prefix_terms_dir,
                                                 suffix_terms_dir)
                doomed = ()
                if args.no_wildcard_index:
                    doomed = (prefix_terms_dir(out),
                              suffix_terms_dir(out),
                              ngram_terms_dir(out))
                elif args.ngram_index:
                    # will be rewritten below with args.ngram_size
                    doomed = (ngram_terms_dir(out),)
                for adir in doomed:
                    pdir = os.path.dirname(adir)
                    if os.path.isdir(pdir):
                        shutil.rmtree(pdir)
                        if args.no_wildcard_index:
                            stale_wildcard_removed = True
            if args.resumable:
                from .plans.lineage import build_index_resumable
                stats = build_index_resumable(
                    spark, corpus, out, profile=args.profile,
                    seg_bits=args.seg_bits,
                    chunk_segments=args.chunk_segments,
                    n_buckets=args.n_buckets)
            else:
                from .operators.build import build_index
                stats = build_index(spark, corpus, out,
                                    profile=args.profile,
                                    seg_bits=args.seg_bits,
                                    n_buckets=args.n_buckets)
            if not args.no_wildcard_index:
                # vocabulary-bounded (one short row per term each):
                # negligible, corpus-independent tail that makes every
                # later `term*` / `*term` query a one-partition probe
                # instead of a dictionary scan. Pre-existing projections
                # were already refreshed in place by the build — only
                # MISSING ones are created here. The n-gram projection
                # (|V|·(len−n+1) rows, serves infix `*x*`) is opt-in
                # like the fuzzy index.
                from .operators.wildcard import (ngram_terms_dir,
                                                 prefix_terms_dir,
                                                 suffix_terms_dir,
                                                 write_ngram_terms,
                                                 write_prefix_terms,
                                                 write_suffix_terms)
                terms = spark.read.parquet(os.path.join(out, "terms"))
                if not os.path.isdir(prefix_terms_dir(out)):
                    write_prefix_terms(terms, out)
                if not os.path.isdir(suffix_terms_dir(out)):
                    write_suffix_terms(terms, out)
                if args.ngram_index:
                    write_ngram_terms(terms, out, n=args.ngram_size)
                    stats["ngram_size"] = args.ngram_size
            elif stale_wildcard_removed:
                stats["stale_wildcard_index_removed"] = True
            fuzzy_dir = os.path.join(out, "fuzzy")
            if args.fuzzy_index:
                from .operators.build import load_index
                from .operators.fuzzy import write_deletion_index
                write_deletion_index(load_index(spark, out)["terms"],
                                     fuzzy_dir,
                                     n_buckets=args.fuzzy_buckets)
                stats["fuzzy_buckets"] = args.fuzzy_buckets
            elif os.path.exists(os.path.join(fuzzy_dir, "meta.json")):
                # a fuzzy index from a PREVIOUS build of this output dir
                # is stale against the fresh dictionary — query --fuzzy
                # would silently correct typos toward the old
                # vocabulary. Remove it (re-run with --fuzzy-index to
                # rebuild it).
                shutil.rmtree(fuzzy_dir)
                stats["stale_fuzzy_index_removed"] = True
            impact_dir = os.path.join(out, "impact")
            if args.impact_index:
                from .operators.build import load_index
                from .operators.impact import write_impact_index
                write_impact_index(spark, load_index(spark, out),
                                   impact_dir)
                stats["impact_index"] = True
            elif os.path.exists(os.path.join(impact_dir, "meta.json")):
                # same staleness discipline as the fuzzy index: bands
                # from a previous build would silently bound the WRONG
                # postings (bm25_impact_topk_tokens guards per query, but
                # a stale dir also wastes every probe's metadata read)
                shutil.rmtree(impact_dir)
                stats["stale_impact_index_removed"] = True
            return stats

        corpus = spark.read.parquet(args.input)
        if args.shards > 1:
            # sharded build: doc_ids assigned ONCE (the federation
            # disjointness contract — per-shard builds would each assign
            # their own colliding 0..N ids), then one full build per
            # pmod(doc_id, N) slice under <output>/shard_<i>. Query them
            # together with repeatable --index (operators/federate.py:
            # scores are byte-identical to one index over the corpus).
            from pyspark.sql import functions as F

            from .operators.build import assign_doc_ids
            if "doc_id" not in corpus.columns:
                # assign_doc_ids localCheckpoints its ordering pass, so
                # the N filtered builds reuse one id assignment
                corpus = assign_doc_ids(corpus)
            per_shard = []
            for i in range(args.shards):
                out = os.path.join(args.output, f"shard_{i}")
                s = _build_one(
                    corpus.filter(F.pmod(F.col("doc_id"),
                                         args.shards) == i), out)
                s["shard"] = i
                per_shard.append(s)
            print(json.dumps({
                "shards": args.shards,
                "n_docs": sum(s["n_docs"] for s in per_shard),
                "total_tokens": sum(s["total_tokens"]
                                    for s in per_shard),
                "per_shard": per_shard,
                "query_with": [os.path.join(args.output, f"shard_{i}")
                               for i in range(args.shards)]}))
        else:
            print(json.dumps(_build_one(corpus, args.output)))
    elif args.cmd == "query":
        from .operators.build import load_index

        def _attach_snippets(df, q_terms, profile):
            # F11 snippet windows from the raw token stream of the k
            # result docs (with_snippets left-semi-joins the source scan
            # down to the candidate set before tokenizing); the join
            # drops ordering, so re-sort by the ranking keys
            from pyspark.sql import functions as F

            from .functions.analysis import PROFILES
            from .operators.build import assign_doc_ids
            from .operators.snippets import with_snippets
            docs = spark.read.parquet(args.corpus)
            if "doc_id" not in docs.columns:
                docs = assign_doc_ids(docs)
            raw = f"{profile}_raw"  # unstemmed twin when one exists
            if raw not in PROFILES:
                raw = profile
            return with_snippets(df, docs.select("doc_id", "content"),
                                 q_terms, profile=raw) \
                .orderBy(F.desc("score"), F.asc("doc_id"))

        if args.batch:
            # eval-workload surface: every query in ONE pass (single
            # union-term pruned probe; shared hot terms decode once) —
            # the CLI face of bm25_topk_batch / federated_..._batch
            queries = _read_batch_queries(args.batch, p)
            try:
                if len(args.index) > 1:
                    from .operators.federate import \
                        federated_bm25_topk_batch
                    shards = [load_index(spark, d) for d in args.index]
                    out = federated_bm25_topk_batch(
                        spark, shards, queries, k=args.k,
                        verify_disjoint=args.verify_disjoint)
                else:
                    from .operators.search import bm25_topk_batch
                    out = bm25_topk_batch(
                        spark, load_index(spark, args.index[0]),
                        queries, k=args.k)
                rows = out.orderBy("query_id", "rank").collect()
            except ValueError as err:
                p.error(str(err))
        elif len(args.index) > 1:
            # federated path (operators/federate.py): global-stats BM25
            # over disjoint shards. Term bag only — every other mode is
            # single-index (rejected in the arg-contract block above).
            from .operators.federate import federated_bm25_topk_tokens
            from .operators.search import query_bag
            shards = [load_index(spark, d) for d in args.index]
            q_terms = query_bag(args.q)
            w_imp = (args.boost_important
                     if args.boost_important is not None else 1.0)
            if args.filter:
                dcols = shards[0]["docs"].columns
                for c in args.filter:
                    if c not in dcols:
                        p.error(f"column {c!r} is not in the index "
                                f"docs table (have: {', '.join(dcols)})")
            try:
                out = federated_bm25_topk_tokens(
                    spark, shards, q_terms, k=args.k,
                    important_weight=w_imp,
                    verify_disjoint=args.verify_disjoint,
                    filters=args.filter or None,
                    after=(None if args.after in (None, "start")
                           else args.after))
                if args.snippets:
                    out = _attach_snippets(
                        out, q_terms,
                        str(shards[0]["stats"].get("profile", "code")))
                rows = out.collect()
            except ValueError as err:
                # --verify-disjoint overlap (or an empty shard list) is a
                # usage/data-contract violation, not a crash — same
                # ValueError→p.error discipline as the wildcard path
                p.error(str(err))
        else:
            index = load_index(spark, args.index[0])

            def _fuzzy_idx():
                """The materialized SymSpell index dict, or None — a
                missing index routes to the brute dictionary scan
                (fuzzy_lookup_brute), which strictly beats probing an
                UNMATERIALIZED (unpruned) inline deletion frame at any
                vocabulary size. `build --fuzzy-index` is the scale path."""
                import os

                from .operators.fuzzy import load_deletion_index
                fuzzy_dir = os.path.join(args.index[0], "fuzzy")
                if os.path.exists(os.path.join(fuzzy_dir, "meta.json")):
                    return load_deletion_index(spark, fuzzy_dir)
                print("fuzzy index not materialized; using the brute "
                      "dictionary scan (run build --fuzzy-index)",
                      file=sys.stderr)
                return None

            if args.suggest:
                from .functions.analysis import analyze_query
                from .operators.fuzzy import did_you_mean
                q_terms, phrases = analyze_query(args.q)
                for ph in phrases:
                    q_terms.extend(ph)
                fz = _fuzzy_idx()
                rows = did_you_mean(
                    fz["variants"] if fz else None, q_terms,
                    n_buckets=fz["n_buckets"] if fz else 0,
                    index_max_del=fz["max_del"] if fz else 1,
                    terms_df=index["terms"],
                    n_terms=(fz or {}).get("n_terms")) \
                    .orderBy("q").collect()
            elif args.explain:
                from .functions.analysis import analyze_query
                from .operators.search import bm25_explain_topk
                q_terms, phrases = analyze_query(args.q)
                for ph in phrases:
                    q_terms.extend(ph)
                w_imp = (args.boost_important
                         if args.boost_important is not None else 1.0)
                rows = bm25_explain_topk(spark, index, q_terms, k=args.k,
                                         important_weight=w_imp).collect()
            elif args.facets:
                from .operators.search import facet_counts
                from .functions.analysis import analyze_query
                q_terms, phrases = analyze_query(args.q)
                for ph in phrases:
                    q_terms.extend(ph)
                cols = [c.strip() for c in args.facets.split(",") if c.strip()]
                rows = facet_counts(index, index["docs"], q_terms, cols,
                                    mode=args.facets_mode) \
                    .orderBy("facet", "value").collect()
            elif args.sig_terms is not None:
                from .functions.analysis import analyze_query
                from .operators.aggregations import significant_terms
                from .operators.build import assign_doc_ids
                q_terms, phrases = analyze_query(args.q)
                for ph in phrases:
                    q_terms.extend(ph)
                docs = spark.read.parquet(args.corpus)
                if "doc_id" not in docs.columns:
                    docs = assign_doc_ids(docs)
                rows = significant_terms(spark, index, docs, q_terms,
                                         k_docs=args.k,
                                         top_terms=args.sig_terms) \
                    .collect()
            elif args.histogram is not None:
                from .functions.analysis import analyze_query
                from .operators.aggregations import facet_histogram
                from .operators.build import assign_doc_ids
                q_terms, phrases = analyze_query(args.q)
                for ph in phrases:
                    q_terms.extend(ph)
                hcol, width = args.histogram
                if args.corpus:
                    docs = spark.read.parquet(args.corpus)
                    if "doc_id" not in docs.columns:
                        docs = assign_doc_ids(docs)
                else:
                    docs = index["docs"]
                if (hcol == "length" and hcol not in docs.columns
                        and "content" in docs.columns):
                    # raw code corpora carry no numeric column — derive
                    # the one histogram every results page wants (doc
                    # size in chars) instead of failing
                    from pyspark.sql import functions as F
                    docs = docs.withColumn("length",
                                           F.length("content"))
                if hcol not in docs.columns:
                    p.error(f"--histogram column {hcol!r} is not in the "
                            f"{'corpus' if args.corpus else 'index docs'}"
                            f" table (have: {', '.join(docs.columns)}; "
                            f"'length' derives from content)")
                rows = facet_histogram(index, docs, q_terms, hcol,
                                       width, mode=args.facets_mode) \
                    .orderBy("bin_lo").collect()
            elif args.term_vector is not None:
                from .operators.aggregations import term_vector
                from .operators.build import assign_doc_ids
                docs = spark.read.parquet(args.corpus)
                if "doc_id" not in docs.columns:
                    docs = assign_doc_ids(docs)
                rows = term_vector(
                    spark, docs, args.term_vector,
                    profile=str(index["stats"].get("profile",
                                                   "simple"))).collect()
            elif args.more_like is not None:
                from .operators.search import more_like_this
                docs = spark.read.parquet(args.corpus)
                if "doc_id" not in docs.columns:
                    # raw (repo,path,...,content) corpus: derive the same
                    # dense (repo,path)-ordered ids the build assigned, so
                    # --more-like N names the same document the index knows
                    from .operators.build import assign_doc_ids
                    docs = assign_doc_ids(docs)
                rows = more_like_this(spark, index, docs, args.more_like,
                                      k=args.k).collect()
            elif args.parity:
                from .operators.search import parity_search
                rows = parity_search(spark, index, args.q,
                                     page_size=args.k,
                                     slop=args.slop).collect()
            elif args.pruned:
                from .operators.wand import bm25_topk_pruned
                rows = bm25_topk_pruned(spark, index, args.q,
                                        k=args.k).collect()
            elif args.impact:
                import os

                from .operators.impact import (bm25_impact_topk,
                                               load_impact_index)
                impact_dir = os.path.join(args.index[0], "impact")
                if os.path.exists(os.path.join(impact_dir, "meta.json")):
                    imp = load_impact_index(spark, impact_dir)
                    rows = bm25_impact_topk(spark, index, imp, args.q,
                                            k=args.k).collect()
                else:
                    # identical result either way — the bands are an
                    # accelerator, not a semantic switch
                    print("impact index not materialized; answering "
                          "exhaustively (run build --impact-index)",
                          file=sys.stderr)
                    from .operators.search import bm25_topk
                    rows = bm25_topk(spark, index, args.q,
                                     k=args.k).collect()
            elif args.fuzzy:
                from pyspark.sql import functions as F

                from .operators.fuzzy import correct_tokens
                from .operators.search import bm25_topk_tokens, query_bag
                fz = _fuzzy_idx()
                q_terms = query_bag(args.q)
                known = {r["term"] for r in index["terms"].filter(
                    F.col("term").isin(list(set(q_terms))))
                    .select("term").collect()} if q_terms else set()
                fixes = correct_tokens(
                    fz["variants"] if fz else None, q_terms, known,
                    n_buckets=fz["n_buckets"] if fz else 0,
                    index_max_del=fz["max_del"] if fz else 1,
                    terms_df=index["terms"],
                    n_terms=(fz or {}).get("n_terms"))
                if fixes:
                    print(json.dumps({"corrected": fixes}))
                q_terms = [fixes.get(t, t) for t in q_terms]
                w_imp = (args.boost_important
                         if args.boost_important is not None else 1.0)
                rows = bm25_topk_tokens(spark, index, q_terms, k=args.k,
                                        important_weight=w_imp).collect()
            else:
                from .functions.analysis import analyze_query
                from .operators.search import (bm25_topk_boolean,
                                               bm25_topk_tokens,
                                               expand_wildcard)
                raw = args.q.split()
                # a lone trailing star is a pure prefix (historical form,
                # star stripped); any other star placement is a glob passed
                # verbatim (expand_wildcard prunes on the literal head and
                # regex-verifies the tail)
                wilds = [(w[:-1] if w.endswith("*") and "*" not in w[:-1]
                          else w).lower()
                         for w in raw if "*" in w and len(w) > 1]
                # +term: strip the operator so the term still SCORES
                # (Lucene MUST semantics), and analyze it separately for
                # the filter list
                q_terms, phrases = analyze_query(
                    " ".join(w.lstrip("+") for w in raw
                             if "*" not in w))
                for ph in phrases:
                    q_terms.extend(ph)
                must_terms = [t for w in raw
                              if w.startswith("+") and len(w) > 1
                              for t in analyze_query(w[1:])[0]]
                # exclusion wildcards EXPAND (previously the analyzer
                # silently dropped the star, so `--not test*` excluded only
                # 'test' — less than the user asked). Unlike scoring
                # wildcards, a capped exclusion would silently NOT exclude
                # the dropped tail — so an over-wide pattern fails fast
                # instead of truncating.
                EXCLUDE_CAP = 64
                ex_terms = []
                try:
                    for e in args.exclude:
                        if "*" not in e:
                            ex_terms.extend(analyze_query(e)[0])
                            continue
                        pat = (e[:-1] if e.endswith("*") and "*" not in e[:-1]
                               else e).lower()
                        hits = expand_wildcard(index, pat, EXCLUDE_CAP + 1)
                        if len(hits) > EXCLUDE_CAP:
                            p.error(f"--not {e!r} matches more than "
                                    f"{EXCLUDE_CAP} dictionary terms; a "
                                    f"truncated exclusion would silently "
                                    f"keep docs you asked to drop — refine "
                                    f"the pattern")
                        ex_terms.extend(hits)
                except ValueError as err:
                    p.error(str(err))
                # expansions dedupe against the bag; base terms keep
                # multiplicity (same contract as bm25_topk_wildcard).
                # Unservable patterns (infix without the n-gram index, or a
                # literal run shorter than its gram size) surface as clean
                # usage errors, not tracebacks
                seen = set(q_terms)
                try:
                    for w in wilds:
                        for t in expand_wildcard(index, w):
                            if t not in seen:
                                q_terms.append(t)
                                seen.add(t)
                except ValueError as e:
                    p.error(str(e))
                w_imp = (args.boost_important
                         if args.boost_important is not None else 1.0)
                if args.after is not None:
                    out = bm25_topk_tokens(
                        spark, index, q_terms, k=args.k,
                        after=(None if args.after == "start"
                               else args.after),
                        important_weight=w_imp)
                elif args.proximity is not None:
                    from .operators.search import bm25_proximity_topk
                    out = bm25_proximity_topk(
                        spark, index, q_terms, k=args.k,
                        prox_weight=args.proximity)
                elif args.syn:
                    from .operators.search import bm25_synonym_topk
                    # thesaurus entries analyze through the SAME
                    # pipeline as the query (stemming included) so
                    # 'sorting=merging' blends the stored stems
                    syn_map: dict[str, list[str]] = {}
                    for term, alts in args.syn.items():
                        key = analyze_query(term)[0]
                        if len(key) != 1:
                            p.error(f"--syn {term!r} must analyze to "
                                    "exactly one index term")
                        syn_map[key[0]] = [t for a in alts
                                           for t in analyze_query(a)[0]]
                    groups, claimed = [], set()
                    for t in q_terms:
                        if t in claimed:
                            continue
                        g = [x for x in
                             dict.fromkeys([t] + syn_map.get(t, []))
                             if x not in claimed]
                        claimed.update(g)
                        groups.append(g)
                    out = bm25_synonym_topk(spark, index, groups,
                                            k=args.k)
                elif args.filter or args.collapse:
                    from .operators.search import (bm25_collapse_topk,
                                                   bm25_filtered_topk)
                    dcols = index["docs"].columns
                    for c in (list(args.filter)
                              + ([args.collapse] if args.collapse
                                 else [])):
                        if c not in dcols:
                            p.error(f"column {c!r} is not in the index "
                                    "docs table (have: "
                                    f"{', '.join(dcols)})")
                    if args.collapse:
                        out = bm25_collapse_topk(
                            spark, index, index["docs"], q_terms,
                            args.collapse, k=args.k,
                            important_weight=w_imp,
                            filters=args.filter or None)
                    else:
                        out = bm25_filtered_topk(
                            spark, index, index["docs"], q_terms,
                            args.filter, k=args.k,
                            important_weight=w_imp)
                elif must_terms or ex_terms:
                    out = bm25_topk_boolean(
                        spark, index, q_terms, must=must_terms,
                        exclude=ex_terms, k=args.k,
                        important_weight=w_imp)
                else:
                    # plain solo query: same metadata route as the warm
                    # Searcher — the colocated kernel also wins COLD
                    # (measured at 2.4M: 0.7-1.0 s vs 1.3-4.7 s), both
                    # routes bit-identical
                    from .operators.search import (
                        bm25_topk_colocated_tokens, route_solo)
                    if route_solo(index["stats"]) == "colocated":
                        out = bm25_topk_colocated_tokens(
                            spark, index, q_terms, k=args.k,
                            important_weight=w_imp)
                    else:
                        out = bm25_topk_tokens(
                            spark, index, q_terms, k=args.k,
                            important_weight=w_imp)
                if args.snippets:
                    out = _attach_snippets(
                        out, q_terms,
                        str(index["stats"].get("profile", "code")))
                rows = out.collect()
        for r in rows:
            print(json.dumps(r.asDict()))
    elif args.cmd == "bench":
        import os
        os.environ["SPARK_GRAFT_SF_DIR"] = args.sf_dir
        import bench
        bench.main()
    elif args.cmd == "verify":
        from pyspark.sql import functions as F

        from .operators.build import assign_doc_ids, load_index
        from .operators.maintenance import (index_verify,
                                            index_verify_summary)
        index = load_index(spark, args.index)
        src = spark.read.parquet(args.corpus)
        if "doc_id" not in src.columns:
            # raw (repo,path,...,content) corpus: derive the same dense
            # (repo,path)-ordered ids the build assigned (--more-like
            # discipline) so the audit joins on the index's own id space
            src = assign_doc_ids(src)
        if args.dump:
            # one audit pass serves both outputs: persist the per-row
            # result, derive the counts from it, and ALWAYS overwrite
            # the dump (a clean run must not leave a previous run's
            # findings for a repair job to re-apply) — the corpus scan +
            # sha256 + full-outer join is the dominant cost and runs once
            iv = index_verify(index["docs"], src,
                              text_col=args.text_col).persist()
            counts = {r["status"]: int(r["n_docs"]) for r in
                      iv.groupBy("status")
                      .agg(F.count("*").alias("n_docs")).collect()}
            (iv.filter(F.col("status") != "ok")
             .write.mode("overwrite").parquet(args.dump))
            iv.unpersist()
        else:
            counts = {r["status"]: int(r["n_docs"]) for r in
                      index_verify_summary(index["docs"], src,
                                           text_col=args.text_col)
                      .collect()}
        summary = {s: counts.get(s, 0)
                   for s in ("ok", "stale", "missing", "orphaned")}
        bad = sum(v for s, v in summary.items() if s != "ok")
        if args.dump:
            summary["dump"] = args.dump
        print(json.dumps(summary))
        rc = 0 if bad == 0 else 1
    elif args.cmd == "forks":
        import os

        from pyspark.sql import functions as F

        from .operators.forks import (fork_clusters, fork_pairs,
                                      repo_file_shas)
        files = spark.read.parquet(args.input)
        sh = repo_file_shas(files, args.repo_col).persist()
        pairs = fork_pairs(files, args.repo_col,
                           threshold=args.threshold, exact=args.exact)
        pairs.write.mode("overwrite") \
            .parquet(os.path.join(args.output, "pairs"))
        pairs = spark.read.parquet(os.path.join(args.output, "pairs"))
        clusters = fork_clusters(files, pairs, args.repo_col, sh=sh)
        clusters.write.mode("overwrite") \
            .parquet(os.path.join(args.output, "clusters"))
        sh.unpersist()
        cl = spark.read.parquet(os.path.join(args.output, "clusters"))
        n_repos, n_canon = cl.select(
            F.count("*"),
            F.coalesce(F.sum("canon"), F.lit(0))).collect()[0]
        print(json.dumps({
            "repos": int(n_repos), "fork_pairs": pairs.count(),
            "canonical_repos": int(n_canon),
            "forks_dropped": int(n_repos - n_canon),
            "threshold": args.threshold,
            "mode": "exact" if args.exact else "lsh"}))
    elif args.cmd == "percolate":
        import os

        from pyspark.sql import functions as F

        from .operators.percolate import percolate, validate_stored_queries
        docs = spark.read.parquet(args.corpus)
        text_col = "content" if "content" in docs.columns else "text"
        if text_col not in docs.columns:
            p.error(f"--corpus has neither a content nor a text column "
                    f"(have: {', '.join(docs.columns)})")
        if "doc_id" not in docs.columns:
            from .operators.build import assign_doc_ids
            docs = assign_doc_ids(docs)
        if os.path.isdir(args.queries):
            q = spark.read.parquet(args.queries)
        else:
            q = spark.read.schema(
                "query_id string, terms array<string>, mode string") \
                .json(args.queries)
        missing = {"query_id", "terms", "mode"} - set(q.columns)
        if missing:
            p.error(f"--queries is missing column(s) "
                    f"{', '.join(sorted(missing))}")
        try:
            validate_stored_queries(q)
        except ValueError as e:
            p.error(str(e))
        out = percolate(docs, q, profile=args.profile, text_col=text_col)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(json.dumps({"matches": n, "output": args.output}))
        else:
            for r in out.orderBy("doc_id", "query_id").collect():
                print(json.dumps(r.asDict()))
    elif args.cmd == "rank-eval":
        from pyspark.sql import functions as F

        from .operators.rankeval import ranking_eval
        try:
            out = ranking_eval(spark.read.parquet(args.results),
                               spark.read.parquet(args.judgments),
                               k=args.k)
        except ValueError as e:
            p.error(str(e))
        rows = out.orderBy("query_id").collect()
        for r in rows:
            d = r.asDict()
            print(json.dumps({k: (round(v, 6) if isinstance(v, float)
                                  else v) for k, v in d.items()}))
        if rows:
            print(json.dumps({
                "queries": len(rows),
                "mean_ndcg": round(sum(r["ndcg"] for r in rows)
                                   / len(rows), 6),
                "mean_mrr": round(sum(r["mrr"] for r in rows)
                                  / len(rows), 6),
                "mean_precision": round(sum(r["precision"] for r in rows)
                                        / len(rows), 6)}))
    elif args.cmd == "compare":
        from .operators.build import load_index
        from .operators.diffing import index_diff
        res = index_diff(load_index(spark, args.a),
                         load_index(spark, args.b))
        print(json.dumps(res))
        rc = 0 if res["equal"] else 1
    elif args.cmd == "stats":
        import os

        from pyspark.sql import functions as F

        from .operators.build import load_index
        for d in args.index:
            idx = load_index(spark, d)
            st = dict(idx["stats"])
            nb = int(st.get("n_buckets", 0))
            # one metadata-cheap aggregation over the postings tree:
            # rows/bytes/segment span (bin length is a column read, the
            # positions bytes are never decoded)
            agg = idx["postings"].agg(
                F.count("*").alias("rows"),
                F.sum(F.length("bin")).alias("bin_bytes"),
                F.min("segment").alias("seg_min"),
                F.max("segment").alias("seg_max")).collect()[0]
            out = {
                "index": d,
                **{k: st[k] for k in ("n_docs", "avgdl", "total_tokens",
                                      "profile", "seg_bits", "n_buckets")
                   if k in st},
                "n_terms": idx["terms"].count(),
                "posting_rows": int(agg["rows"] or 0),
                "posting_bin_bytes": int(agg["bin_bytes"] or 0),
                "segments": ([int(agg["seg_min"]), int(agg["seg_max"])]
                             if agg["seg_min"] is not None else None),
                "aux": sorted(
                    name for name, probe in (
                        ("prefix_terms", "prefix_terms" in idx),
                        ("suffix_terms", "suffix_terms" in idx),
                        ("ngram_terms", "ngram_terms" in idx),
                        ("fuzzy", os.path.exists(
                            os.path.join(d, "fuzzy", "meta.json"))),
                        ("impact", os.path.exists(
                            os.path.join(d, "impact", "meta.json"))),
                    ) if probe),
            }
            if args.buckets and nb:
                rows = (idx["postings"].groupBy("bucket")
                        .agg(F.count("*").alias("rows"),
                             F.sum(F.length("bin")).alias("bytes"))
                        .orderBy("bucket").collect())
                out["buckets"] = {int(r["bucket"]): [int(r["rows"]),
                                                     int(r["bytes"])]
                                  for r in rows}
            print(json.dumps(out))
    elif args.cmd == "reshard":
        import os

        from .operators.reshard import reshard_index
        try:
            stats = reshard_index(spark, args.input, args.output,
                                  args.shards, n_buckets=args.n_buckets,
                                  assign=args.assign)
        except ValueError as e:
            p.error(str(e))
        # aux-index parity with `build`: wildcard projections by default,
        # ngram/fuzzy/impact opt-in — the resharded shards serve the same
        # query surface the inputs did (output dirs are fresh; no
        # staleness dance needed)
        for k, s in enumerate(stats):
            sdir = os.path.join(args.output, f"shard_{k}")
            if not args.no_wildcard_index:
                from .operators.wildcard import (write_ngram_terms,
                                                 write_prefix_terms,
                                                 write_suffix_terms)
                terms = spark.read.parquet(os.path.join(sdir, "terms"))
                write_prefix_terms(terms, sdir)
                write_suffix_terms(terms, sdir)
                if args.ngram_index:
                    write_ngram_terms(terms, sdir, n=args.ngram_size)
                    s["ngram_size"] = args.ngram_size
            if args.fuzzy_index:
                from .operators.build import load_index
                from .operators.fuzzy import write_deletion_index
                write_deletion_index(load_index(spark, sdir)["terms"],
                                     os.path.join(sdir, "fuzzy"),
                                     n_buckets=args.fuzzy_buckets)
                s["fuzzy_buckets"] = args.fuzzy_buckets
            if args.impact_index:
                from .operators.build import load_index
                from .operators.impact import write_impact_index
                write_impact_index(spark, load_index(spark, sdir),
                                   os.path.join(sdir, "impact"))
                s["impact_index"] = True
        for k, s in enumerate(stats):
            print(json.dumps(dict(s, shard=k)))
    elif args.cmd == "diff":
        from pyspark.sql import functions as F

        from .operators.diffing import corpus_diff
        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        d = corpus_diff(old, new, sha_col=args.sha_col)
        if args.output:
            d.write.mode("overwrite").parquet(args.output)
            d = spark.read.parquet(args.output)
        counts = {r["status"]: r["n"] for r in
                  d.groupBy("status").agg(F.count("*").alias("n"))
                  .collect()}
        print(json.dumps({s: counts.get(s, 0) for s in
                          ("added", "removed", "changed", "unchanged")}))
    elif args.cmd == "report":
        from pyspark.sql import functions as F

        from .functions.textstats import with_repetition_features
        from .operators.report import corpus_report, vocab_coverage
        df = spark.read.parquet(args.input)
        groups = ([c.strip() for c in args.group_by.split(",") if c.strip()]
                  if args.group_by else None)
        try:
            qs = [float(x) for x in args.quantiles.split(",") if x.strip()]
        except ValueError:
            raise SystemExit(f"--quantiles expects fractions, got "
                             f"{args.quantiles!r}")
        sizes = None
        if args.index:
            try:
                sizes = [int(x) for x in args.vocab_sizes.split(",") if x]
            except ValueError:
                raise SystemExit(f"--vocab-sizes expects integers, got "
                                 f"{args.vocab_sizes!r}")
            if any(x < 1 for x in sizes) or len(set(sizes)) != len(sizes):
                raise SystemExit("--vocab-sizes must be distinct "
                                 "positive integers")
        base = df if groups else df.withColumn("_all", F.lit("corpus"))
        rep_rows = [r.asDict() for r in corpus_report(
            base, groups or ["_all"], text_col=args.text_col,
            quantiles=qs).collect()]
        if not groups:
            for row in rep_rows:
                row.pop("_all", None)
        feats = ["dup_line_frac", "dup_line_char_frac",
                 "top_2gram_char_frac", "dup_5gram_char_frac"]
        rep = with_repetition_features(df, args.text_col, top_ns=(2,),
                                       dup_ns=(5,))
        agg = rep.agg(*[f(c).alias(f"{n}_{c}")
                        for c in feats
                        for n, f in (("mean", F.mean), ("max", F.max))]
                      ).collect()[0].asDict()
        out = {"groups": rep_rows,
               "repetition": {k: (None if v is None else round(v, 6))
                              for k, v in agg.items()}}
        if args.index:
            from .operators.build import load_index
            idx = load_index(spark, args.index)
            out["vocab_coverage"] = {
                str(r["vocab_size"]): round(r["coverage"], 6)
                for r in vocab_coverage(idx["terms"], sizes,
                                        count_col="cf").collect()}
        print(json.dumps(out, default=float))
    elif args.cmd == "clean":
        from pyspark.sql import functions as F

        # --lang-col dispatch needs its column alongside the contract pair
        keep_cols = (["doc_id", "content", args.lang_col]
                     if args.lang_col else ["doc_id", "content"])
        df = spark.read.parquet(args.input).select(*keep_cols)
        n_in, c_in = df.select(
            F.count("*"), F.coalesce(F.sum(F.length("content")),
                                     F.lit(0))).collect()[0]
        # --audit bookkeeping: pin the input of every doc-dropping stage so
        # the drop_log anti-join and the final write never replay upstream
        # stages; all pins released after the writes.
        audit_logs, pinned = [], []

        def _pin_for_audit(cur):
            if args.audit:
                cur = cur.persist()
                pinned.append(cur)
            return cur

        def _log_drops(prev, cur, stage):
            if args.audit:
                from .operators.audit import drop_log
                audit_logs.append(drop_log(prev, cur, stage))

        if args.normalize:
            from .functions.normalize import normalize_text
            df = normalize_text(df, "content", form=args.normalize)
        if args.strip_license or args.strip_comments is not None:
            lang = args.strip_comments or None
            lang_col = args.lang_col
            if (lang is None) == (lang_col is None):
                raise SystemExit("--strip-comments/--strip-license need "
                                 "exactly one of LANG or --lang-col")
            from .functions.codeclean import (
                LANG_FAMILIES, with_comments_stripped,
                with_license_header_stripped)
            if lang is not None and lang.lower() not in LANG_FAMILIES:
                raise SystemExit(
                    f"--strip-comments: unknown language {lang!r} "
                    f"(known: {', '.join(sorted(LANG_FAMILIES))})")
            if args.strip_license:
                df = with_license_header_stripped(df, "content",
                                                  lang_col=lang_col,
                                                  lang=lang)
            if args.strip_comments is not None:
                df = with_comments_stripped(df, "content",
                                            lang_col=lang_col, lang=lang)
            # the lang column's job is done; later stages project or
            # rebuild (doc_id, content) and would drop it inconsistently
            df = df.select("doc_id", "content")
        if args.substring_min_count > 0:
            from .operators.dedup import substring_dedup
            df = substring_dedup(df, k=args.substring_k,
                                 stride=args.substring_stride,
                                 min_count=args.substring_min_count)
        if args.line_max_docs > 0:
            from .operators.dedup import line_dedup
            prev = df = _pin_for_audit(df)
            df = line_dedup(df, max_docs=args.line_max_docs)
            _log_drops(prev, df, "line_dedup")
        if args.redact_pii:
            from .functions.redact import redact_pii
            df = df.select("doc_id", redact_pii("content").alias("content"))
        def _nf_pairs(specs, flag):
            out = {}
            for spec in specs:
                try:
                    n, frac = spec.split(":", 1)
                    n, frac = int(n), float(frac)
                except ValueError:
                    raise SystemExit(
                        f"{flag} expects N:F (e.g. 2:0.20), got {spec!r}")
                if n < 1:
                    raise SystemExit(f"{flag}: N must be >= 1, got {n}")
                if n in out:
                    raise SystemExit(f"{flag}: duplicate N={n} "
                                     f"({out[n]} vs {frac})")
                out[n] = frac
            return out

        top_bounds = _nf_pairs(args.max_top_ngram, "--max-top-ngram")
        dup_bounds = _nf_pairs(args.max_dup_ngram, "--max-dup-ngram")
        if (args.max_dup_line_frac is not None
                or args.max_dup_line_char_frac is not None
                or top_bounds or dup_bounds):
            from .functions.textstats import repetition_filter
            prev = df = _pin_for_audit(df)
            df = repetition_filter(
                df, max_dup_line_frac=args.max_dup_line_frac,
                max_dup_line_char_frac=args.max_dup_line_char_frac,
                max_top_ngram=top_bounds, max_dup_ngram=dup_bounds)
            _log_drops(prev, df, "repetition")
        if args.quality_threshold is not None:
            from .functions.quality_model import (deterministic_weights,
                                                  quality_filter)
            w = (spark.read.parquet(args.weights) if args.weights
                 else deterministic_weights(spark, args.quality_dim))
            prev = df = _pin_for_audit(df)
            df = quality_filter(df, w, args.quality_dim,
                                threshold=args.quality_threshold)
            _log_drops(prev, df, "quality")
        if args.max_ppl is not None:
            from .functions.lm import perplexity_filter, train_unigram_lm
            # pin the (possibly expensive) upstream cleaning lineage:
            # the self-referential LM training, the keep-side semi-join
            # and the final write would each replay it otherwise
            prev = df = df.persist()
            pinned.append(df)
            ref = (spark.read.parquet(args.ppl_ref).select("content")
                   if args.ppl_ref else df.select("content"))
            vocab, oov = train_unigram_lm(ref, text_col="content",
                                          max_vocab=args.ppl_vocab)
            df = perplexity_filter(df, vocab, oov, args.max_ppl,
                                   text_col="content")
            _log_drops(prev, df, "perplexity")
        if args.exact_dedup:
            from .operators.dedup import exact_dedup
            prev = df = _pin_for_audit(df)
            keep = (exact_dedup(df).filter(F.col("keep"))
                    .select(F.col("id").alias("doc_id")))
            df = df.join(keep, "doc_id", "left_semi")
            _log_drops(prev, df, "exact_dedup")
        if args.decontam_bench:
            from .operators.decontaminate import decontaminate
            bench = spark.read.parquet(args.decontam_bench).select("text")
            # decontaminate self-joins df (hits branch + anti-join side):
            # pin unconditionally, like the DSIR stage, or the whole
            # upstream chain recomputes twice even without --audit
            prev = df = df.persist()
            pinned.append(df)
            df = decontaminate(df, bench, n=args.decontam_n)
            _log_drops(prev, df, "decontam")
        if args.dsir_target:
            if args.dsir_k is None or args.dsir_k <= 0:
                raise SystemExit(
                    "--dsir-target requires --dsir-k >= 1")
            from .operators.dsir import (dsir_logratios, dsir_select,
                                         gram_bucket_counts)
            # three traversals of the cleaning lineage (raw counts,
            # scoring, write) — pin it like the perplexity stage does
            prev = df = df.persist()
            pinned.append(df)
            tgt = spark.read.parquet(args.dsir_target).select("content")
            B = args.dsir_buckets
            lr = dsir_logratios(gram_bucket_counts(tgt, n_buckets=B),
                                gram_bucket_counts(df, n_buckets=B),
                                n_buckets=B)
            df = dsir_select(df, lr, k=args.dsir_k, n_buckets=B,
                             seed=args.dsir_seed,
                             temperature=args.dsir_temperature
                             ).select(*prev.columns)
            _log_drops(prev, df, "dsir")
        df.write.mode("overwrite").parquet(args.output)
        dropped = {}
        if args.audit:
            from .operators.audit import union_logs
            log = union_logs(audit_logs)
            if log is None:
                from .operators.search import empty_frame
                log = empty_frame(spark, "doc_id long, stage string")
            log.write.mode("overwrite").parquet(args.audit)
            dropped = {r["stage"]: r["n"] for r in
                       spark.read.parquet(args.audit).groupBy("stage")
                       .agg(F.count("*").alias("n")).collect()}
        for p_df in pinned:
            p_df.unpersist()   # embedded callers share the session
        out_df = spark.read.parquet(args.output)
        n_out, c_out = out_df.select(
            F.count("*"), F.coalesce(F.sum(F.length("content")),
                                     F.lit(0))).collect()[0]
        stats = {"docs_in": n_in, "docs_out": n_out,
                 "chars_in": int(c_in), "chars_out": int(c_out)}
        if args.audit:
            stats["dropped"] = dropped
        print(json.dumps(stats))
    elif args.cmd == "prepare":
        import os

        from pyspark.sql import functions as F

        quarantined = 0
        if args.jsonl:
            from .sources.ingest import read_jsonl_docs
            df, quar = read_jsonl_docs(
                spark, args.input, "doc_id long, content string",
                required=("doc_id", "content"))
            quar.write.mode("overwrite").parquet(
                os.path.join(args.output, "_quarantine"))
            quarantined = spark.read.parquet(
                os.path.join(args.output, "_quarantine")).count()
        else:
            df = spark.read.parquet(args.input).select("doc_id", "content")
        n_docs = df.count()

        from .operators.chunking import chunk_documents, pack_sequences
        chunks = chunk_documents(df, text_col="content",
                                 chunk_tokens=args.chunk_tokens,
                                 overlap=args.overlap)
        counts = chunks.select("doc_id", "chunk_id", "n_tokens")
        n_merges = 0
        if args.bpe_merges > 0:
            from .functions.bpe import apply_bpe, train_bpe
            merges = train_bpe(df, args.bpe_merges, text_col="content",
                               max_words=args.bpe_max_words)
            n_merges = len(merges)
            # budget the pack by REAL subword counts of each chunk —
            # only the counts lineage pays the BPE pass; the text side
            # below joins from the pre-BPE chunks (mapInPandas can't be
            # column-pruned, so routing text through it would tokenize
            # the corpus twice)
            counts = (apply_bpe(
                chunks.select("doc_id", "chunk_id", "chunk_text"),
                merges, text_col="chunk_text")
                .select("doc_id", "chunk_id",
                        F.col("bpe_tokens_n").alias("n_tokens")))
        # the pack kernel sees only ids+counts; chunk_text joins back after
        packed = pack_sequences(counts, budget=args.budget,
                                n_shards=args.n_shards)
        # sort includes the partition column: partitionBy requires an
        # ordering on it, and without 'shard' leading, Spark inserts its
        # own (unstable) sort that can break the per-shard (seq, pos)
        # file order under spill (same pattern as write_training_shards)
        laid = (chunks.select("doc_id", "chunk_id", "chunk_text")
                .join(packed, ["doc_id", "chunk_id"])
                .repartition(args.n_shards, "shard")
                .sortWithinPartitions("shard", "seq", "pos"))
        (laid.write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(args.output, "sequences")))
        seqs = spark.read.parquet(os.path.join(args.output, "sequences"))
        n_chunks, n_seqs = seqs.select(
            F.count("*"),
            F.countDistinct("shard", "seq")).collect()[0]
        print(json.dumps({
            "docs_in": n_docs, "quarantined": quarantined,
            "chunks": n_chunks, "sequences": n_seqs,
            "n_shards": args.n_shards, "budget": args.budget,
            "bpe_merges": n_merges}))
    if owns_session:
        spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
