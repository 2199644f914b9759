"""End-to-end composed scenario (round-4 verdict #7): sharded build with
aux projections, a STREAMED NRT delta, index↔source verify, then one
scripted query session exercising the whole algebra — federated ops
rank-identity-asserted against a monolithic rebuild over corpus+delta.

Steps:
  1. generate corpus (ids 0..N-1) and a delta (ids N..N+M-1);
  2. CLI `build --shards 2 --ngram-index --fuzzy-index` over the corpus;
  3. stream the delta into a fresh index via Structured Streaming
     (append_index_stream, publish_every=1 → terms/stats published);
  4. CLI `verify` the delta index and the monolithic rebuild (exit 0);
  5. CLI `build` the monolithic index over corpus ∪ delta
     (--ngram-index --fuzzy-index);
  6. scripted session: plain / boolean(+must,--not) / filtered /
     search_after page-1+2 / batch run FEDERATED over
     [shard_0, shard_1, delta] and MONOLITHIC — outputs must be
     row-identical (scores at 9 decimals); wildcard / fuzzy / suggest /
     collapse / synonyms / facets / explain run monolithic
     (single-index surfaces) and are sanity-asserted; "pruned" checks
     that the default path (the block-max kernel) prints the unpruned
     ranker's rows.

Run standalone (`python scripts/scenario_smoke.py`, env
SPIDEY_SCENARIO_DOCS / SPIDEY_SCENARIO_DELTA, defaults 100k/2k at
local[16]) or from pytest at a small scale (tests/test_scenario.py).
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _cli(argv: list[str]) -> list[dict]:
    """Run the CLI in-process (shares the warm Spark session), return
    parsed JSON output lines."""
    from spidey_search_engine_spark.cli import main
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise SystemExit(f"CLI {argv} -> rc {rc}\n{buf.getvalue()}")
    out = []
    for ln in buf.getvalue().strip().splitlines():
        ln = ln.strip()
        if ln.startswith("{"):
            out.append(json.loads(ln))
    return out


def _ranks(rows: list[dict]) -> list[tuple]:
    return [(r["doc_id"], round(r["score"], 9)) for r in rows
            if "doc_id" in r]


def run(spark, workdir: str, n_docs: int, n_delta: int) -> dict:
    from pyspark.sql import functions as F

    from spidey_search_engine_spark.operators.build import load_index
    from spidey_search_engine_spark.operators.search import bm25_topk
    from spidey_search_engine_spark.sources.corpus import generate_corpus_df
    from spidey_search_engine_spark.streaming.incremental import (
        append_index_stream)

    t_start = time.monotonic()
    base_src = os.path.join(workdir, "corpus")
    delta_src = os.path.join(workdir, "delta")
    union_src = os.path.join(workdir, "union")
    fed_dir = os.path.join(workdir, "fed")
    delta_idx = os.path.join(workdir, "delta_idx")
    mono_dir = os.path.join(workdir, "mono")

    # 1. corpus + delta (delta ids follow the corpus ids — the streaming
    # producer contract: monotone disjoint ranges)
    generate_corpus_df(spark, n_docs, seed=7, partitions=8,
                       with_doc_id=True) \
        .write.mode("overwrite").parquet(base_src)
    (generate_corpus_df(spark, n_delta, seed=99, partitions=2,
                        with_doc_id=True)
     .withColumn("doc_id", F.col("doc_id") + n_docs)
     .write.mode("overwrite").parquet(delta_src))
    spark.read.parquet(base_src).unionByName(
        spark.read.parquet(delta_src)) \
        .write.mode("overwrite").parquet(union_src)

    # 2. sharded build with aux projections
    _cli(["build", "--input", base_src, "--output", fed_dir,
          "--shards", "2", "--seg-bits", "10", "--n-buckets", "16",
          "--ngram-index", "--fuzzy-index"])

    # 3. stream the delta (one micro-batch, publish on the spot)
    schema = spark.read.parquet(delta_src).schema
    stream = spark.readStream.schema(schema).parquet(delta_src)
    q = append_index_stream(
        spark, stream, delta_idx, profile="code", seg_bits=10,
        n_buckets=16, publish_every=1,
        checkpoint=os.path.join(workdir, "ckpt"))
    q.awaitTermination()

    # 4. monolithic rebuild over corpus ∪ delta, with every projection
    _cli(["build", "--input", union_src, "--output", mono_dir,
          "--seg-bits", "10", "--n-buckets", "16",
          "--ngram-index", "--fuzzy-index"])

    # 5. verify: per-row sha audit must be clean on both
    _cli(["verify", "--index", delta_idx, "--corpus", delta_src])
    _cli(["verify", "--index", mono_dir, "--corpus", union_src])

    fed = ["--index", os.path.join(fed_dir, "shard_0"),
           "--index", os.path.join(fed_dir, "shard_1"),
           "--index", delta_idx]
    mono = ["--index", mono_dir]
    checks: dict[str, bool] = {}

    def both(name: str, extra: list[str]):
        f = _ranks(_cli(["query", *fed, *extra]))
        m = _ranks(_cli(["query", *mono, *extra]))
        assert f == m and f, (name, f[:3], m[:3])
        checks[name] = True
        return m

    # 6a. federated == monolithic across the federated surface
    # (boolean/wildcard/collapse/synonym are single-index by design —
    # the CLI fails fast on shards; they run monolithic in 6b)
    both("plain", ["--q", "merge sort", "--k", "10"])
    both("filtered", ["--q", "merge sort", "--filter", "lang=py",
                      "--k", "10"])
    page1 = both("after_page1",
                 ["--q", "merge sort", "--after", "start", "--k", "5"])
    # the cursor must come from the pagination path's own page 1, at
    # FULL float precision (repr round-trips doubles exactly)
    mono_rows = _cli(["query", *mono, "--q", "merge sort",
                      "--after", "start", "--k", "5"])
    cur = f"{mono_rows[-1]['score']!r}:{mono_rows[-1]['doc_id']}"
    page2 = both("after_page2",
                 ["--q", "merge sort", "--after", cur, "--k", "5"])
    assert not (set(d for d, _ in page1) & set(d for d, _ in page2))
    batch_file = os.path.join(workdir, "batch.txt")
    with open(batch_file, "w") as fh:
        fh.write("qa\tmerge sort\nqb\tfast scan file\nqc\tmerge merge\n")
    fb = _cli(["query", *fed, "--batch", batch_file, "--k", "5"])
    mb = _cli(["query", *mono, "--batch", batch_file, "--k", "5"])
    assert sorted(((r["query_id"], r["doc_id"], round(r["score"], 9),
                    r["rank"]) for r in fb)) == \
        sorted(((r["query_id"], r["doc_id"], round(r["score"], 9),
                 r["rank"]) for r in mb)) and fb
    checks["batch"] = True

    # 6b. single-index surfaces on the monolithic rebuild
    plain = _ranks(_cli(["query", *mono, "--q", "merge sort",
                         "--k", "10"]))
    bl = _ranks(_cli(["query", *mono, "--q", "merge sort +file",
                      "--not", "heap", "--k", "10"]))
    assert bl, "boolean"
    checks["boolean_must_not"] = True
    assert _ranks(_cli(["query", *mono, "--q", "mer* sort", "--k", "10"]))
    checks["wildcard"] = True
    unpruned = [(r["doc_id"], round(r["score"], 9)) for r in
                bm25_topk(spark, load_index(spark, mono_dir), "merge sort",
                          k=10).collect()]
    assert plain == unpruned and plain, (plain[:3], unpruned[:3])
    checks["pruned"] = True
    fz = _ranks(_cli(["query", *mono, "--q", "merj sort", "--k", "10",
                      "--fuzzy"]))
    assert fz == plain, ("fuzzy", fz[:3], plain[:3])
    checks["fuzzy"] = True
    sg = _cli(["query", *mono, "--q", "merje", "--suggest"])
    assert sg and sg[0].get("suggestion"), sg
    checks["suggest"] = True
    cl = _cli(["query", *mono, "--q", "merge sort", "--collapse", "lang",
               "--k", "5"])
    assert cl and len({r.get("lang") for r in cl}) == len(cl), cl
    checks["collapse"] = True
    sy = _cli(["query", *mono, "--q", "merge", "--syn", "merge=sort",
               "--k", "5"])
    assert sy, sy
    checks["synonym"] = True
    fc = _cli(["query", *mono, "--q", "merge sort", "--facets", "lang"])
    assert fc and all("count" in r or "n" in r or len(r) >= 2
                      for r in fc), fc
    checks["facets"] = True
    ex = _cli(["query", *mono, "--q", "merge sort", "--explain",
               "--k", "5"])
    assert ex, ex
    checks["explain"] = True

    # 6c. ops + analytics: reshard the monolithic rebuild (CLI) — must
    # be invisible to ranking; then the analytics faces over the same
    # corpus (significant terms + length histogram)
    rs_dir = os.path.join(workdir, "resharded")
    _cli(["reshard", "--input", mono_dir, "--output", rs_dir,
          "--shards", "3"])
    rs = [x for k in range(3)
          for x in ("--index", os.path.join(rs_dir, f"shard_{k}"))]
    rr = _ranks(_cli(["query", *rs, "--q", "merge sort", "--k", "10"]))
    assert rr == plain, ("reshard", rr[:3], plain[:3])
    checks["reshard"] = True
    st = _cli(["query", *mono, "--q", "merge sort", "--sig-terms", "5",
               "--corpus", union_src])
    assert st and all("term" in r and "score_r" in r for r in st), st
    checks["sig_terms"] = True
    hg = _cli(["query", *mono, "--q", "merge sort",
               "--histogram", "length:200", "--corpus", union_src])
    assert hg and sum(r["n_docs"] for r in hg) > 0, hg
    checks["histogram"] = True

    return {"n_docs": n_docs, "n_delta": n_delta,
            "wall_sec": round(time.monotonic() - t_start, 1),
            "checks": checks, "all_green": all(checks.values())}


def main() -> None:
    from spidey_search_engine_spark.session import get_spark

    n_docs = int(os.environ.get("SPIDEY_SCENARIO_DOCS", "100000"))
    n_delta = int(os.environ.get("SPIDEY_SCENARIO_DELTA", "2000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    workdir = f"/tmp/spidey_scenario_{n_docs}"
    os.environ.setdefault("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    spark = get_spark(app="scenario", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out = run(spark, workdir, n_docs, n_delta)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
