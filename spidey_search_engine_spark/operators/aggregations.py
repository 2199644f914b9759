"""Results-page analytics beyond counts: significant terms, numeric
histogram facets, and on-the-fly term vectors.

The reference serves a bare results page (QueryResultsFetcher.java returns
ranked rows; its Angular UI derives any per-page stats client-side over ONE
page). A search engine at corpus scale answers these questions server-side
over the FULL match set, so this module adds the standard Lucene/ES
analytics surface re-expressed Spark-first:

* ``significant_terms`` — the ES significant_terms aggregation (JLH
  heuristic): terms statistically overrepresented in the top results
  versus the whole corpus ("what is this result set ABOUT").
* ``facet_histogram`` — the ES histogram aggregation over a numeric doc
  column, restricted to the query's match set (the results-page size/date
  distribution sidebar).
* ``term_vector`` — the Lucene TermVectors API shape, computed on the fly
  from the source document with the INDEX'S OWN analyzer (the reference
  keeps no per-doc term storage either; its txt_docs/<id>.txt token stream
  is the same idea, Indexer.java:426-435).

Scale discipline (same rules as operators/search.py): every path is
query-shaped, never corpus-shaped — foreground sets are top-k-bounded,
match sets are query-df-bounded, dictionary lookups ride the pushdown /
warm-cache path (query_df), and nothing unbounded lands on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import PROFILES
from .search import (_pruned_postings, binary_postings,
                     bm25_topk_colocated_tokens, bm25_topk_tokens,
                     empty_frame, query_df, route_solo)


def _match_doc_ids(index: dict, terms: list[str], mode: str) -> DataFrame:
    """Query match set from the gap-section-only decode (tf/dl/position
    bytes untouched) of the partition-pruned q-term postings — the exact
    facet_counts discipline, factored for reuse."""
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    uniq = list(dict.fromkeys(terms))
    hits = binary_postings(
        _pruned_postings(index["postings"], uniq,
                         int(index["stats"]["n_buckets"])))
    if mode == "all":
        return (hits.groupBy("doc_id")
                .agg(F.count_distinct("term").alias("nt"))
                .filter(F.col("nt") == len(uniq)).select("doc_id"))
    return hits.select("doc_id").distinct()


def facet_histogram(index: dict, docs: DataFrame, terms: list[str],
                    col: str, bin_width: int,
                    mode: str = "any") -> DataFrame:
    """Histogram facet: match-set documents bucketed by
    ``floor(col / bin_width) * bin_width`` (the ES histogram aggregation
    over a numeric field, restricted to the query's matches).

    Returns (bin_lo long, n_docs long) — empty bins are absent, exactly
    as ES reports them with min_doc_count=1. Integer bin arithmetic, so
    Spark and any SQL oracle agree bit-for-bit.

    Scale shape: the match set is query-df-bounded (gap-section-only
    decode, see _match_doc_ids); the docs side reads only (doc_id, col)
    (column pruning reaches the scan); one join + one hash aggregate.
    Never corpus-bounded."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    matches = _match_doc_ids(index, terms, mode)
    j = matches.join(docs.select("doc_id", col), "doc_id")
    bin_lo = (F.floor(F.col(col) / F.lit(int(bin_width)))
              * F.lit(int(bin_width))).cast("long")
    return (j.groupBy(bin_lo.alias("bin_lo"))
            .agg(F.count("*").alias("n_docs")))


def significant_terms(spark: SparkSession, index: dict, docs: DataFrame,
                      q_terms: list[str], k_docs: int = 20,
                      top_terms: int = 10, min_fg_df: int = 1,
                      exclude_query_terms: bool = True,
                      id_col: str = "doc_id",
                      text_col: str = "content") -> DataFrame:
    """Significant-terms aggregation (ES JLH heuristic): which terms are
    statistically overrepresented in the query's top-``k_docs`` results
    versus the background corpus.

    Foreground = the engine's OWN BM25 top-k (bm25_topk_tokens — same
    pruning/tie-break as `query`); those k docs are fetched by doc_id
    pushdown, tokenized with the index's analyzer (stats.profile — a
    code-profile index stems/splits identifiers, so any other tokenizer
    would miss the dictionary), and reduced to per-term foreground doc
    frequencies. Background df comes from the dictionary via query_df's
    pushdown/warm-cache lookup over the foreground vocabulary (bounded by
    k docs' analyzer-truncated token streams — the more_like_this
    discipline, never a dictionary stream).

    JLH score (ES SignificantTermsHeuristic): with fg_pct = fg_df/n_fg
    and bg_pct = df/N, score = (fg_pct − bg_pct) · (fg_pct / bg_pct);
    only terms with fg_pct > bg_pct qualify (ES's subset>superset gate).
    Query terms themselves are excluded by default — they trivially
    dominate their own result set. Ties break (score DESC, term ASC).

    Returns (term string, fg_df long, df long, score_r double) — the
    top-``top_terms`` rows, score rounded to 6 decimals."""
    uniq_q = set(dict.fromkeys(q_terms))
    # foreground ranking rides the engine's own metadata route (the
    # colocated kernel wins at every measured size, rank-identical)
    fg_fn = (bm25_topk_colocated_tokens
             if route_solo(index["stats"]) == "colocated"
             else bm25_topk_tokens)
    fg_rows = fg_fn(spark, index, list(q_terms), int(k_docs)).collect()
    out_schema = "term string, fg_df long, df long, score_r double"
    if not fg_rows:
        return empty_frame(spark, out_schema)
    fg_ids = [int(r["doc_id"]) for r in fg_rows]
    n_fg = len(fg_ids)
    profile = str(index["stats"].get("profile", "simple"))
    tok = PROFILES[profile]
    # k point lookups (doc_id pushdown); one doc's content on the driver
    # is bounded by the analyzer's field-truncation profiles, and k is the
    # page size — this is the more_like_this fetch, k times
    src = (docs.filter(F.col(id_col).isin(fg_ids))
           .select(id_col, text_col).collect())
    fg_df_counts: dict[str, int] = {}
    for row in src:
        text = row[1]
        if text is None:
            continue
        for t in set(tok(text)):
            fg_df_counts[t] = fg_df_counts.get(t, 0) + 1
    if exclude_query_terms:
        for t in uniq_q:
            fg_df_counts.pop(t, None)
    fg_df_counts = {t: c for t, c in fg_df_counts.items()
                    if c >= int(min_fg_df)}
    if not fg_df_counts:
        return empty_frame(spark, out_schema)
    bg_df = query_df(index["terms"], list(fg_df_counts),
                     index.get("idf_cache"))
    n_docs = float(index["stats"]["n_docs"])
    scored = []
    for t, fg in fg_df_counts.items():
        df = bg_df.get(t)
        if df is None or df <= 0:
            continue  # not in the dictionary → no background model
        fg_pct = float(fg) / float(n_fg)
        bg_pct = float(df) / n_docs
        if fg_pct <= bg_pct:
            continue
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
        scored.append((t, int(fg), int(df), score))
    if not scored:
        return empty_frame(spark, out_schema)
    scored.sort(key=lambda r: (-r[3], r[0]))
    top = [(t, fg, df, round(s, 6))
           for t, fg, df, s in scored[:int(top_terms)]]
    return spark.createDataFrame(top, out_schema)


def term_vector(spark: SparkSession, docs: DataFrame, doc_id: int,
                profile: str = "simple", id_col: str = "doc_id",
                text_col: str = "content") -> DataFrame:
    """On-the-fly term vector (the Lucene TermVectors API shape): one
    document's (term, tf, first_pos) under the given analyzer profile.

    The postings table is term-partitioned — a by-doc probe there would
    scan every bucket — so the right per-doc source is the document
    itself: ONE doc_id-pushdown point lookup + driver-side tokenization
    with the index's analyzer (bounded by the analyzer's truncation
    profiles, the more_like_this discipline). A missing doc returns
    empty. first_pos is the 0-based position of the term's first
    occurrence in the analyzed stream (the snippet seed the reference's
    txt_docs token files serve, Indexer.java:426-435)."""
    src = (docs.filter(F.col(id_col) == int(doc_id))
           .select(text_col).limit(1).collect())
    out_schema = "term string, tf long, first_pos long"
    if not src or src[0][0] is None:
        return empty_frame(spark, out_schema)
    toks = PROFILES[profile](src[0][0])
    tf: dict[str, int] = {}
    first: dict[str, int] = {}
    for pos, t in enumerate(toks):
        tf[t] = tf.get(t, 0) + 1
        if t not in first:
            first[t] = pos
    rows = sorted((t, tf[t], first[t]) for t in tf)
    if not rows:
        return empty_frame(spark, out_schema)
    return spark.createDataFrame(rows, out_schema)
