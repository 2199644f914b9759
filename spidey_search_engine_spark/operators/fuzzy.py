"""SymSpell-style fuzzy term lookup over the index dictionary (P37).

The reference engine has NO typo tolerance: suggestions are prefix-LIKE
over past queries (`query_processor/.../QueryRepository.java:14-15`) and
the ranker joins query words against the dictionary exactly
(`src/ranker/QueryResultsFetcher.java:175-205`), so one misspelled
character scores nothing. This operator closes that gap Spark-first with
the public SymSpell algorithm (Garbe 2012): a materialized
delete-neighborhood index probed with partition pruning — the same
bucket trick the postings store uses for Q1.

Semantics
---------
`fuzzy_lookup(index, tokens, ...)` returns, per query token, the top-k
dictionary terms with ``levenshtein(q, term) <= max_d``, ranked by
(distance ASC, document frequency DESC, term ASC). SymSpell's guarantee:
a term is within Levenshtein distance d of the query iff the two share a
variant obtainable by deleting <= d characters from each side — so the
candidate set is ONE equi-join on the variant string, never a fuzzy /
theta join, and the true distance is verified JVM-side afterwards
(`F.levenshtein`) to drop neighborhood false positives.

Scale
-----
- Index: |V| * (avg_len + 1) short string rows at max_del=1 (~10^9 rows
  for a 10^8-term web vocabulary), written ``partitionBy("vbucket")`` —
  a query's probe reads only the <= n_tokens*(len+1) buckets its variants
  hash to (PartitionFilters), everything else is pruned unread.
- Query: variant generation for the handful of query tokens is bounded
  driver-side metadata (len+1 strings per token), shipped as a broadcast
  join — never a full-vocabulary scan, which is what per-query
  brute-force levenshtein would be.
- Hot variants (deletes of very short terms) fan out to at most the
  vocabulary sharing them — bounded by |V|, independent of corpus size,
  and the verify filter runs before the per-token top-k window, whose
  groups are candidate-sized (thousands), not vocab-sized.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .search import empty_frame


def _deletes(c: Column) -> Column:
    """array of every string obtained by deleting ONE character of `c`.

    Empty-string guard: Spark's `sequence(1, 0)` counts DOWN ([1, 0]),
    it is not empty — an empty term must short-circuit to [].
    """
    one_del = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.concat(c.substr(F.lit(1), i - F.lit(1)),
                           c.substr(i + F.lit(1), F.length(c))))
    return F.when(F.length(c) > 0, one_del).otherwise(
        F.array().cast("array<string>"))


def deletion_variants(c: Column, max_del: int = 1) -> Column:
    """All distinct strings reachable from `c` by <= max_del single-char
    deletions, INCLUDING `c` itself (distance 0). One nested JVM
    expression — no shuffle, no UDF."""
    if max_del < 0:
        raise ValueError("max_del must be >= 0")
    level = F.array(c)
    out = level
    for _ in range(max_del):
        level = F.array_distinct(F.flatten(F.transform(level, _deletes)))
        out = F.concat(out, level)
    return F.array_distinct(out)


def py_deletion_variants(s: str, max_del: int = 1) -> list[str]:
    """Driver-side mirror of `deletion_variants` for the bounded query
    tokens (kept in lockstep by tests/test_fuzzy.py)."""
    seen = {s}
    level = [s]
    for _ in range(max_del):
        nxt = []
        for w in level:
            for i in range(len(w)):
                v = w[:i] + w[i + 1:]
                if v not in seen:
                    seen.add(v)
                    nxt.append(v)
        level = nxt
    return sorted(seen)


def build_deletion_index(terms_df: DataFrame, term_col: str = "term",
                         df_col: str = "df", max_del: int = 1,
                         n_buckets: int = 64) -> DataFrame:
    """(variant, term, df, vbucket) — one exploded row per (term, delete
    variant). `vbucket = pmod(xxhash64(variant), n_buckets)` matches the
    probe side's `_buckets_of` hashing exactly."""
    return (terms_df
            .select(F.col(term_col).alias("term"),
                    F.col(df_col).cast("long").alias("df"),
                    F.explode(deletion_variants(F.col(term_col), max_del))
                    .alias("variant"))
            .withColumn("vbucket",
                        F.pmod(F.xxhash64("variant"),
                               F.lit(n_buckets)).cast("int")))


def write_deletion_index(terms_df: DataFrame, out_dir: str,
                         term_col: str = "term", df_col: str = "df",
                         max_del: int = 1, n_buckets: int = 64) -> None:
    """Materialize the delete-neighborhood index partitioned by variant
    bucket (repartition first — without it every input partition writes a
    file per bucket dir, the measured 64x small-file explosion)."""
    idx = build_deletion_index(terms_df, term_col, df_col, max_del,
                               n_buckets)
    # sortWithinPartitions leads with the partition column (required — the
    # writer re-sorts by it anyway) THEN variant, so each parquet file is
    # variant-ordered and the probe's `variant IN (...)` pushdown skips on
    # min/max stats (round-4 layout ablation; kept). The design claim
    # that matters is probe ≈ flat in |V| vs brute-force levenshtein
    # linear in |V|: round-5 re-measure (one-job probe + thresholded
    # brute) 2.4M→38.4M synth vocabulary has the probe at 0.29→0.48s
    # while brute goes 0.20→0.63s — crossover ~16M terms, probe ahead by
    # the widening gap past it (scripts/bench_fuzzy.py, BENCH_FUZZY.json)
    (idx.repartition("vbucket")
     .sortWithinPartitions("vbucket", "variant")
     .write.mode("overwrite").partitionBy("vbucket")
     .parquet(os.path.join(out_dir, "variants")))
    # n_terms feeds probe-vs-brute routing (route_fuzzy) without a count
    # job at query time; the count here reads the dictionary the caller
    # already has in hand (vocabulary-bounded, build-time only)
    meta = {"max_del": int(max_del), "n_buckets": int(n_buckets),
            "n_terms": terms_df.count()}
    with open(os.path.join(out_dir, "meta.json"), "w",
              encoding="utf-8") as fh:
        json.dump(meta, fh)


def load_deletion_index(spark: SparkSession, out_dir: str) -> dict:
    with open(os.path.join(out_dir, "meta.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    return {"variants": spark.read.parquet(
        os.path.join(out_dir, "variants")), **meta}


_FUZZY_SCHEMA = "q string, term string, dist int, df long, rk int"


def _topk_per_token(cand: DataFrame, k: int) -> DataFrame:
    """The shared (q, term, dist, df) → top-k tail: dedup + rank + slice
    in ONE aggregation. Ranking (dist ASC, df DESC, term ASC) is encoded
    as lexicographic struct order (dist, -df, term); `array_distinct`
    drops the duplicate (q, term) rows the probe produces when a query
    and a term share several deletion variants (identical structs). One
    exchange on q, candidate-bounded groups — replaces the round-4
    distinct-shuffle + window-shuffle pair whose per-stage fixed cost was
    the measured probe floor (BENCH_FUZZY layout ablation)."""
    top = cand.groupBy("q").agg(
        F.slice(F.array_sort(F.array_distinct(F.collect_list(
            F.struct(F.col("dist"), (-F.col("df")).alias("ndf"),
                     F.col("term"), F.col("df"))))),
                1, k).alias("top"))
    return (top.select("q", F.posexplode("top").alias("pos", "s"))
            .select("q", F.col("s.term").alias("term"),
                    F.col("s.dist").cast("int").alias("dist"),
                    F.col("s.df").alias("df"),
                    (F.col("pos") + 1).cast("int").alias("rk")))


def fuzzy_lookup(del_index: DataFrame, tokens: list[str], *,
                 n_buckets: int, index_max_del: int = 1, max_d: int = 1,
                 k: int = 5) -> DataFrame:
    """Top-k fuzzy dictionary matches per query token.

    (q, term, dist, df, rk) with rk = rank per q over
    (dist ASC, df DESC, term ASC). ``max_d`` must be <= the max_del the
    index was built with — SymSpell's completeness guarantee needs
    deletes up to d on BOTH sides.

    ONE job, two stages: the pruned scan tags each candidate row with its
    query token(s) through a LITERAL variant→tokens map folded into the
    projection (query tokens are driver-bounded metadata — no
    createDataFrame, no broadcast join, no distinct shuffle), verifies
    the true distance JVM-side, and the single `_topk_per_token`
    aggregation dedups and ranks. Round 4 measured the previous
    4-stage shape's fixed overhead at ~0.55-0.86 s regardless of |V|;
    this is the "fold the probe's fixed overhead" fix.
    """
    if max_d > index_max_del:
        raise ValueError(f"max_d={max_d} exceeds the index's "
                         f"max_del={index_max_del}; matches beyond "
                         f"{index_max_del} would be silently incomplete")
    spark = SparkSession.getActiveSession()
    var_to_qs: dict[str, list[str]] = {}
    for q in sorted(set(tokens)):
        for v in py_deletion_variants(q, max_d):
            var_to_qs.setdefault(v, []).append(q)
    if not var_to_qs:
        return empty_frame(spark, _FUZZY_SCHEMA)
    from .search import _buckets_of  # JVM xxhash64, cached per string
    vset = sorted(var_to_qs)
    buckets = sorted(set(_buckets_of(vset, n_buckets).values()))
    pairs: list[Column] = []
    for v in vset:
        pairs.append(F.lit(v))
        pairs.append(F.array(*[F.lit(q) for q in var_to_qs[v]]))
    vmap = F.create_map(*pairs)
    cand = (del_index
            .filter(F.col("vbucket").isin(buckets)
                    & F.col("variant").isin(vset))
            .select(F.explode(F.element_at(vmap, F.col("variant")))
                    .alias("q"), "term", "df")
            .withColumn("dist", F.levenshtein("q", "term"))
            .filter(F.col("dist") <= max_d))
    return _topk_per_token(cand, k)


def fuzzy_lookup_brute(terms_df: DataFrame, tokens: list[str], *,
                       max_d: int = 1, k: int = 5) -> DataFrame:
    """Full-vocabulary levenshtein scan — same output contract as
    `fuzzy_lookup`, no deletion index required.

    Linear in |V| where the probe is ~flat, but with near-zero fixed
    overhead — so it WINS below the measured crossover (BENCH_FUZZY).
    Shape matters: explode the (tiny) token list FIRST and keep the
    distance a plain column expression — the thresholded levenshtein
    (early-exits the DP past max_d, returns -1) inside whole-stage
    codegen. A higher-order-function array-filter formulation measured
    ~2× slower at 2.4M terms (interpreted lambda per row)."""
    spark = terms_df.sparkSession
    toks = sorted(set(tokens))
    if not toks:
        return empty_frame(spark, _FUZZY_SCHEMA)
    cand = (terms_df
            .select("term", "df",
                    F.explode(F.array(*[F.lit(q) for q in toks]))
                    .alias("q"))
            .withColumn("dist", F.levenshtein(F.col("q"), F.col("term"),
                                              max_d))
            .filter(F.col("dist") >= 0)
            .select("q", "term", "dist", "df"))
    return _topk_per_token(cand, k)


# Routing: the probe's latency is ~flat in |V| (bucket-pruned, fixed
# job floor: 0.29 s @2.4M → 0.48 s @38.4M terms) while the brute scan is
# linear with near-zero floor (0.17 → 0.63 s over the same range, the
# thresholded-levenshtein DP early-exit keeping the constant small);
# BENCH_FUZZY.json brackets the crossover between 9.6M (brute 1.33×
# faster) and 38.4M terms (probe 1.31× faster) on this host. Same
# fallback discipline as wand.py's surviving-fraction and
# wildcard.route_glob: decide from ONE cached metadata number, never a
# measurement job. At the 10^8-term web-vocabulary target the probe wins
# by the widening flat-vs-linear gap.
DEFAULT_ROUTE_MIN_TERMS = 16_000_000
_ROUTE_ENV = "SPARK_GRAFT_FUZZY_ROUTE_MIN_TERMS"


def route_fuzzy(n_terms: int, min_terms: int | None = None) -> str:
    """'probe' when the vocabulary is large enough that the materialized
    delete-neighborhood index beats a linear dictionary scan, else
    'brute'. `min_terms` overrides the default crossover (env
    SPARK_GRAFT_FUZZY_ROUTE_MIN_TERMS, default 16M — the midpoint of
    the measured bracket)."""
    if min_terms is None:
        min_terms = int(os.environ.get(_ROUTE_ENV, DEFAULT_ROUTE_MIN_TERMS))
    return "probe" if int(n_terms) >= min_terms else "brute"


def fuzzy_lookup_auto(fz: dict | None, terms_df: DataFrame,
                      tokens: list[str], *, max_d: int = 1,
                      k: int = 5) -> DataFrame:
    """Route between the SymSpell probe and the brute scan by vocabulary
    size. `fz` is the `load_deletion_index` dict (or None when no index
    is materialized — forces brute); `terms_df` is the dictionary. The
    term count comes from the index's meta.json (recorded at build time);
    a pre-n_terms index counts the dictionary ONCE and memoizes it on the
    dict. Candidate sets are identical on both paths (SymSpell
    completeness, pinned by test)."""
    n_terms = (fz or {}).get("n_terms")
    if n_terms is None:
        n_terms = terms_df.count()
        if fz is not None:
            fz["n_terms"] = n_terms
    if fz is None or route_fuzzy(n_terms) == "brute":
        return fuzzy_lookup_brute(terms_df, tokens, max_d=max_d, k=k)
    return fuzzy_lookup(fz["variants"], tokens,
                        n_buckets=fz["n_buckets"],
                        index_max_del=fz["max_del"], max_d=max_d, k=k)


def _lookup_routed(del_index: DataFrame | None, tokens: list[str], *,
                   n_buckets: int, index_max_del: int, max_d: int, k: int,
                   terms_df: DataFrame | None,
                   n_terms: int | None) -> DataFrame:
    """fuzzy_lookup with the probe-vs-brute route applied when the caller
    supplies the dictionary (`terms_df`); without it, probe-only (the
    pre-routing behavior). `del_index=None` + terms_df forces brute."""
    if terms_df is not None:
        if n_terms is None:
            n_terms = terms_df.count()
        if del_index is None or route_fuzzy(n_terms) == "brute":
            return fuzzy_lookup_brute(terms_df, tokens, max_d=max_d, k=k)
    if del_index is None:
        raise ValueError("no deletion index and no terms_df — nothing "
                         "to look fuzzy matches up in")
    return fuzzy_lookup(del_index, tokens, n_buckets=n_buckets,
                        index_max_del=index_max_del, max_d=max_d, k=k)


def correct_tokens(del_index: DataFrame | None, tokens: list[str],
                   known: set[str] | None = None, *, n_buckets: int,
                   index_max_del: int = 1, max_d: int = 1,
                   terms_df: DataFrame | None = None,
                   n_terms: int | None = None) -> dict[str, str]:
    """token -> best correction for tokens NOT in `known` (the exact
    dictionary hits stay untouched); tokens with no in-distance candidate
    are absent from the result. `known` defaults to {} so every token is
    checked; pass the dictionary-hit set to skip exact matches.
    `terms_df`/`n_terms` opt into vocabulary-size routing (route_fuzzy):
    below the crossover the brute dictionary scan answers instead of the
    probe — same candidates, cheaper job."""
    known = known or set()
    oov = [t for t in set(tokens) if t not in known]
    if not oov:
        return {}
    best = _lookup_routed(del_index, oov, n_buckets=n_buckets,
                          index_max_del=index_max_del, max_d=max_d,
                          k=1, terms_df=terms_df, n_terms=n_terms).collect()
    return {r["q"]: r["term"] for r in best if r["term"] != r["q"]}


def did_you_mean(del_index: DataFrame | None, tokens: list[str], *,
                 n_buckets: int, index_max_del: int = 1,
                 max_d: int = 1, terms_df: DataFrame | None = None,
                 n_terms: int | None = None) -> DataFrame:
    """The "Did you mean:" report — one row PER DISTINCT query token:

        (q, suggestion, dist, df)

    ``suggestion`` is the best in-distance dictionary term under the
    fuzzy ranking (dist ASC, df DESC, term ASC); a token already in the
    dictionary suggests itself at dist 0 (deletion variants include the
    term, so the exact hit always outranks any correction); a token with
    NO in-distance candidate keeps a row with NULL suggestion/dist/df —
    visible, not silently dropped (the caller's UX decides whether an
    uncorrectable token means "no results" or "search as typed").

    This is the report twin of ``correct_tokens`` (which returns only the
    applied fixes, for the query-rewrite path): same index, same probe —
    one partition-pruned equi-join on the delete variants, never a
    vocabulary distance scan — plus a broadcast left join back onto the
    token list so misses survive. Cost is bounded by the query's token
    count, independent of |V| and of corpus size."""
    spark = SparkSession.getActiveSession()
    toks = sorted(set(tokens))
    if not toks:
        return spark.createDataFrame(
            [], "q string, suggestion string, dist int, df long")
    tok_df = spark.createDataFrame([(t,) for t in toks], "q string")
    best = _lookup_routed(del_index, toks, n_buckets=n_buckets,
                          index_max_del=index_max_del, max_d=max_d, k=1,
                          terms_df=terms_df, n_terms=n_terms) \
        .select("q", F.col("term").alias("suggestion"), "dist", "df")
    # both sides are query-token-bounded; broadcast the suggestions so
    # the miss-preserving left join never shuffles (the docstring's
    # contract, made explicit rather than left to the planner)
    return tok_df.join(F.broadcast(best), "q", "left")
