"""Benchmark runner — prints ONE JSON line for the driver (BENCH_r{N}.json).

Runs the headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and reports per-query
wall seconds plus PageRank throughput detail (edges-processed/sec per
superstep, iterations-to-convergence — the BASELINE.json primary metric).

Protocol (VERDICT r2 #4): every headline op runs $SPARK_GRAFT_BENCH_TRIALS
(default 3) INTERLEAVED trials — the trial loop is outer, so slow
machine-level drift (this sandbox's vCPU-steal epochs swing single runs
±50%) hits all ops alike — and the reported per-query number is the
MEDIAN, with {median,min,max,n} spread in extra.per_query_stats so
round-over-round deltas are attributable. edge_build participates in the
trial loop like every other op (VERDICT r3 #2 — its r3 n=1 left a 2×
swing unattributable): each trial rebuilds the edge table from the
parquet scan and counts it, unpersisted; the persisted copy the other
ops share is built once up front and is NOT what the trials time.

Scaling-efficiency evidence (N vs 4N cores) is produced by
BENCH/run_scaling.py, which shells out to fresh processes per parallelism
level; this file is the single-level per-round probe.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pargraph_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    shuffle = max(8, 2 * cpus)
    spark = get_spark("pargraph-bench", cores=cpus, shuffle_partitions=shuffle,
                      extra_conf={"spark.ui.enabled": "false"})
    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or sf_dir

    import __spark_entry__ as entrymod
    from pargraph_spark.operators.components import connected_components
    from pargraph_spark.operators.dedup import minhash_dedup_pairs
    from pargraph_spark.operators.labelprop import label_propagation
    from pargraph_spark.operators.pagerank import pagerank
    from pargraph_spark.operators.reach import kmv_reach
    from pargraph_spark.operators.betweenness import betweenness
    from pargraph_spark.operators.scc import strongly_connected_components
    from pargraph_spark.operators.similarity import (
        cosine_near_dup_bucketed,
        cosine_topk,
        lsh_ann_topk,
    )
    from pargraph_spark.operators.triangles import triangles_global

    samples: dict[str, list[float]] = defaultdict(list)
    extra: dict[str, object] = {}
    pr_eps_samples: list[float] = []

    # ---- one-shot build phase (outputs persisted, reused by all trials;
    # NOT timed — edge_build is timed per-trial below like every other op).
    # The persisted plan carries a redundant Filter node so its canonical
    # form differs from the raw _co_edges plan: otherwise the CacheManager
    # substitutes the cache into every per-trial build and edge_build
    # times a cache read (observed 0.6s vs the real ~7s).
    edges = entrymod._co_edges(spark, sf_dir).where(F.col("src").isNotNull()).persist()
    n_edges = edges.count()
    extra["n_edges"] = n_edges

    di_edges = entrymod._di_edges(spark, sf_dir).persist()
    di_edges.count()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb.count()
    near_dup_corpus = entrymod._near_dup_corpus(spark, sf_dir)

    # ---- per-trial ops (name -> thunk); trial loop is OUTER (interleaved)
    def run_pagerank():
        pr = pagerank(spark, edges, tol=1e-6, max_iter=60, num_partitions=shuffle)
        pr.ranks.count()
        pr_eps_samples.extend(
            m.edges_per_sec for m in pr.metrics.supersteps[2:] if m.wall_ms > 0
        )
        extra["pagerank"] = {
            "iterations": pr.iterations,
            "converged": pr.converged,
        }

    def run_cc():
        cc = connected_components(spark, edges, num_partitions=shuffle)
        cc.components.count()
        extra["cc_rounds"] = cc.rounds

    def run_edge_build():
        # fresh unpersisted build each trial: times scan + self-join +
        # distinct end-to-end (the persisted copy above is untouched).
        # Guard (ADVICE r4): the cache-dodge above relies on canonical-plan
        # mismatch; if an optimizer change ever re-matches the plans, the
        # trial would silently time an InMemoryTableScan read — fail loudly
        # instead of recording a fake 0.6s edge_build.
        df = entrymod._co_edges(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "InMemoryTableScan" in plan:  # not assert: -O strips asserts
            raise RuntimeError(
                "edge_build trial plan substituted the persisted cache; "
                "the redundant-Filter dodge no longer de-duplicates plans"
            )
        df.count()

    ops = [
        ("edge_build", run_edge_build),
        ("pagerank", run_pagerank),
        ("connected_components", run_cc),
        ("label_propagation",
         lambda: label_propagation(spark, edges, max_iter=5,
                                   num_partitions=shuffle).labels.count()),
        ("triangle_count", lambda: triangles_global(edges).first()),
        # shingle_size=2: the synthetic corpus shares a ~40-word vocab, so
        # 1-gram LSH marks nearly every pair a candidate; bigram shingles
        # give a realistic candidate density.
        ("minhash_dedup",
         lambda: minhash_dedup_pairs(docs, "doc_id", "text", shingle_size=2,
                                     threshold=0.5).count()),
        ("cosine_topk",
         lambda: cosine_topk(emb, emb.where(F.col("vec_id") < 50), k=10).count()),
        ("ann_lsh",
         lambda: lsh_ann_topk(emb, emb.where(F.col("vec_id") < 50), k=10, dim=64,
                              num_tables=8, planes_per_table=6,
                              multiprobe_bits=1).count()),
        ("embedding_near_dup_bucketed",
         lambda: cosine_near_dup_bucketed(near_dup_corpus, threshold=0.9, dim=64,
                                          num_tables=8, planes_per_table=8).count()),
        # round-4 flagship: KMV neighborhood sketches (2 propagation hops)
        ("kmv_reach", lambda: kmv_reach(spark, edges, hops=2, k=8,
                                        num_partitions=shuffle).count()),
        # round-5 flagship: SCC over the deterministically re-oriented
        # directed fixture (trim + delta-frontier coloring/backward sweep)
        ("scc", lambda: strongly_connected_components(
            spark, di_edges, num_partitions=shuffle).components.count()),
        # round-5 flagship: sampled-source bounded-distance Brandes
        # betweenness (grid-exact deltas); ~1/997 of vertices as sources
        ("betweenness", lambda: betweenness(
            spark, di_edges,
            sources=di_edges.select(F.col("src").alias("id")).where(
                F.col("id") % 997 == 0).distinct(),
            max_depth=3, num_partitions=shuffle).scores.count()),
    ]

    for _trial in range(trials):
        for name, fn in ops:
            t0 = time.monotonic()
            fn()
            samples[name].append(round(time.monotonic() - t0, 3))

    extra["pagerank"]["edges_per_sec_median"] = round(
        statistics.median(pr_eps_samples), 1) if pr_eps_samples else None

    queries = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    extra["per_query_stats"] = {
        n: {"median": round(statistics.median(s), 3),
            "min": round(min(s), 3), "max": round(max(s), 3), "n": len(s)}
        for n, s in samples.items()
    }
    extra["trials"] = trials

    spark.stop()
    print(json.dumps({
        "metric": "headline operator wall seconds — median of interleaved "
                  "trials (pagerank/cc/lpa/triangles/dedup/ann) + pagerank "
                  "edges-per-sec per superstep",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_label,
        "extra": extra,
    }))


if __name__ == "__main__":
    main()
