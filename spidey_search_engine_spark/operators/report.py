"""Corpus statistics report (P36) — pipeline observability in one pass.

Before and after every cleaning/dedup/mixing stage, a training-data
pipeline needs the same dashboard: how many documents, characters, and
tokens does each (source, lang) slice hold, and how are document lengths
distributed? This operator computes that as ONE hash aggregation over the
corpus scan — no joins, no window, map-side partial aggregation all the
way — so it can be appended to any stage's lineage for the cost of a
reduce over |groups| rows.

Quantiles: ``exact=True`` (default, oracle-paired) uses Spark's exact
``percentile`` — its per-group state is a value→count map, bounded by the
number of DISTINCT token counts (document lengths), not row count, so it
holds even at 10^12 docs unless lengths are unbounded. For a truly
unbounded domain, ``exact=False`` switches to ``percentile_approx``
(t-digest sketch, constant memory), the standard trade at 100 TB.

The reference has a one-row analog (Indexer.java keeps global doc-count /
avg-length stats for BM25); this generalizes it to the grouped report the
training-data family needs (SURVEY.md §2.8).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import with_token_count


def corpus_report(df: DataFrame, group_cols: Sequence[str] = ("source",),
                  text_col: str = "text",
                  quantiles: Sequence[float] = (0.5, 0.9),
                  exact: bool = True) -> DataFrame:
    """(group_cols..., n_docs, total_chars, total_tokens, avg_tokens,
    q<NN>_tokens...) — one row per group, one aggregation job.

    ``avg_tokens`` and the quantiles are doubles; quantile columns are
    named ``q50_tokens``-style from the requested fractions.
    """
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    names = []
    for q in quantiles:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
        # %g keeps sub-percent precision (0.999 -> q99_9, not q100 = max)
        names.append(f"q{q * 100:g}_tokens".replace(".", "_"))
    if len(set(names)) != len(names):
        raise ValueError(f"quantiles {tuple(quantiles)} produce duplicate "
                         f"column names {names}")
    toks = with_token_count(df, text_col, out="_n_tokens")
    # One percentile aggregate over an array of fractions shares a single
    # per-group value->count map (or one t-digest) across all requested
    # quantiles, instead of N independent states.
    q_arr = F.array(*[F.lit(float(q)) for q in quantiles])
    q_agg = (F.percentile("_n_tokens", q_arr) if exact
             else F.percentile_approx("_n_tokens", q_arr))
    rep = toks.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.length(text_col)), F.lit(0)).alias("total_chars"),
        F.coalesce(F.sum("_n_tokens"), F.lit(0)).alias("total_tokens"),
        F.avg("_n_tokens").alias("avg_tokens"),
        q_agg.alias("_qs"),
    )
    q_cols = [F.col("_qs")[i].cast("double").alias(name)
              for i, name in enumerate(names)]
    return rep.select(*group_cols, "n_docs", "total_chars", "total_tokens",
                      "avg_tokens", *q_cols)


def vocab_coverage(term_counts: DataFrame, sizes: Sequence[int],
                   count_col: str = "cf") -> DataFrame:
    """P38 vocabulary coverage curve: for each requested vocabulary size r,
    the token mass covered by the r most frequent terms — the number a
    tokenizer-sizing decision (BPE vocab, head-vocab LM filters, OOV
    budgets) actually needs.

    Scale design: NEVER rank the vocabulary term-by-term (a 10^8-row
    global sort whose window runs in one task). Instead aggregate terms
    into frequency CLASSES — groupBy(count) → (n_terms, tokens) — whose
    cardinality is bounded by the number of DISTINCT counts (Zipf: tiny
    versus |V|), run the cumulative window over classes, and interpolate
    rank r inside its class: covered(r) = cum_tokens_before + (r -
    cum_terms_before) * count. Terms inside a class are interchangeable
    (identical count), so the result is EXACT and independent of tie
    order — the same bounded-state trick corpus_report uses for exact
    percentiles. Sizes beyond |V| clamp to full coverage.

    Input is any (term, count) table — the index dictionary's `cf` column
    drops straight in. Output: (vocab_size, covered_tokens, total_tokens,
    coverage) per requested size.
    """
    sizes = [int(s) for s in sizes]
    if not sizes or any(s < 1 for s in sizes):
        raise ValueError(f"sizes must be positive integers, got {sizes}")
    if len(set(sizes)) != len(sizes):
        raise ValueError(f"duplicate sizes {sizes}")
    # group on the EXACT count value — casting to long here would silently
    # truncate fractional counts (smoothed/weighted frequencies), merging
    # classes that should rank apart and undercounting mass. Integer
    # columns keep integer arithmetic end-to-end (the index `cf` path).
    classes = (term_counts
               .groupBy(F.col(count_col).alias("c"))
               .agg(F.count("*").alias("n_terms"))
               .withColumn("tokens", F.col("c") * F.col("n_terms")))
    w = (Window.orderBy(F.desc("c"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (classes
           .withColumn("cum_terms", F.sum("n_terms").over(w))
           .withColumn("cum_tokens", F.sum("tokens").over(w))
           .withColumn("total_terms",
                       F.sum("n_terms").over(Window.partitionBy()))
           .withColumn("total_tokens",
                       F.sum("tokens").over(Window.partitionBy())))
    req = (term_counts.sparkSession
           .createDataFrame([(s,) for s in sizes], "vocab_size long"))
    r_eff = F.least(F.col("vocab_size"), F.col("total_terms"))
    out = (cum.join(F.broadcast(req),
                    (r_eff > F.col("cum_terms") - F.col("n_terms"))
                    & (r_eff <= F.col("cum_terms")))
           .withColumn("covered_tokens",
                       F.col("cum_tokens") - F.col("tokens")
                       + (r_eff - (F.col("cum_terms") - F.col("n_terms")))
                       * F.col("c")))
    return (out.select(
        "vocab_size", "covered_tokens", "total_tokens",
        F.try_divide(F.col("covered_tokens").cast("double"),
                     F.col("total_tokens").cast("double"))
        .alias("coverage"))
        .orderBy("vocab_size"))


def doc_keywords(df, terms, n_docs: int, k: int = 5,
                 id_col: str = "doc_id", text_col: str = "content",
                 tokens=None):
    """(id, term, tf, score, rank) — the k most salient terms per
    document by tf·idf against the INDEX dictionary: score =
    tf · ln(1 + N/df), the reference ranker's idf (search.ref_idf, here
    as a Spark column because every doc's terms rank in one
    aggregation) without the length normalization — keyword salience
    should not penalize long documents the way retrieval scoring must.

    Reference analog: none — the reference ranks documents for a query
    (Ranker.java); this is the transpose (rank TERMS for a document),
    the tagging/faceting/related-searches primitive built from the same
    two tables.

    Scale shape: one corpus scan (tokenize → explode → per-(doc, term)
    count, partial-aggregated map-side before the shuffle), one join
    against the dictionary on term (AQE broadcasts when the dictionary
    is small; at 10^9-term scale it's a plain shuffle join on uniform
    keys), then per-doc top-k via row_number ≤ k — Spark plans that as
    WindowGroupLimit: each partition keeps k rows per doc BEFORE the
    window shuffle, so nothing resembling a global sort of the
    (doc, term) space ever runs.

    `tokens` overrides the token-array column (e.g. the code-profile
    Arrow tokenizer); the default is the simple profile's JVM split,
    which matches the entry index's analyzer exactly. Terms absent from
    the dictionary (keyword extraction over a NEW corpus against an
    OLD index) drop out via the inner join — by design: a term the
    index never saw has no defensible df."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if tokens is not None:
        exploded = df.select(F.col(id_col).alias("id"),
                             F.explode(tokens).alias("term"))
    else:
        # simple-profile tokens via the Arrow kernel (pinned equal to
        # the _tokens expression form; the expression's HOF filter runs
        # interpreted per element — see textstats kernel-block comment)
        from ..functions.textstats import with_token_grams
        exploded = (with_token_grams(df.select(id_col, text_col),
                                     text_col, "_toks", ns=(1,))
                    .select(F.col(id_col).alias("id"),
                            F.explode("_toks").alias("term")))
    tf = exploded.groupBy("id", "term").agg(F.count("*").alias("tf"))
    scored = (tf.join(terms.select("term", "df"), "term")
              .withColumn("score",
                          F.col("tf") * F.log(F.lit(1.0)
                                              + F.lit(float(n_docs))
                                              / F.col("df"))))
    w = Window.partitionBy("id").orderBy(F.col("score").desc(),
                                         F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("id").alias(id_col), "term", "tf", "score",
                    "rank"))
