"""Measurement harness for the optimization rounds (guide §1) — NOT the
driver bench. bench.py stays frozen; this file exists to

- capture ``explain("formatted")`` for every headline op (direct result
  plans here; superstep-internal plans via the env-gated dump_plan hooks
  inside the iterative operators) into $SPARK_GRAFT_PLAN_DUMP, and
- print single-trial per-op wall seconds plus per-superstep detail
  (pagerank wall_ms per iteration, scc outer-round walls) so a change
  can be attributed to the phase it touched.

Usage:
  SPARK_GRAFT_PLAN_DUMP=plans/r06/dump python bench_extra.py [op ...]

Ops default to the full bench.py list. Numbers printed here are for
attribution while iterating; before/after evidence in
OPTIMIZATION_r06.md cites full bench.py runs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pargraph_spark.plans.debug import dump_plan  # noqa: E402
from pargraph_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
    shuffle = max(8, 2 * cpus)
    spark = get_spark("pargraph-bench-extra", cores=cpus, shuffle_partitions=shuffle,
                      extra_conf={"spark.ui.enabled": "false"})

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

    edges = entrymod._co_edges(spark, sf_dir).where(F.col("src").isNotNull()).persist()
    edges.count()
    di_edges = entrymod._di_edges(spark, sf_dir).persist()
    di_edges.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb.count()
    near_dup_corpus = entrymod._near_dup_corpus(spark, sf_dir)

    detail: dict[str, object] = {}

    def run_pagerank():
        pr = pagerank(spark, edges, tol=1e-6, max_iter=60, num_partitions=shuffle)
        pr.ranks.count()
        detail["pagerank"] = {
            "iterations": pr.iterations,
            "superstep_wall_ms": [round(m.wall_ms, 1) for m in pr.metrics.supersteps],
        }

    def run_scc():
        r = strongly_connected_components(spark, di_edges, num_partitions=shuffle)
        r.components.count()
        detail["scc"] = {
            "outer_rounds": r.outer_rounds,
            "outer_wall_ms": [round(m.wall_ms, 1) for m in r.metrics.supersteps],
        }

    def run_edge_build():
        df = entrymod._co_edges(spark, sf_dir)
        dump_plan(df, "edge_build")
        df.count()

    def run_minhash():
        df = minhash_dedup_pairs(docs, "doc_id", "text", shingle_size=2,
                                 threshold=0.5)
        dump_plan(df, "minhash_dedup")
        df.count()

    def run_cosine_topk():
        df = cosine_topk(emb, emb.where(F.col("vec_id") < 50), k=10)
        dump_plan(df, "cosine_topk")
        df.count()

    def run_ann_lsh():
        df = lsh_ann_topk(emb, emb.where(F.col("vec_id") < 50), k=10, dim=64,
                          num_tables=8, planes_per_table=6, multiprobe_bits=1)
        dump_plan(df, "ann_lsh")
        df.count()

    def run_near_dup():
        df = cosine_near_dup_bucketed(near_dup_corpus, threshold=0.9, dim=64,
                                      num_tables=8, planes_per_table=8)
        dump_plan(df, "embedding_near_dup_bucketed")
        df.count()

    def run_triangles():
        df = triangles_global(edges)
        dump_plan(df, "triangle_count")
        df.first()

    ops = [
        ("edge_build", run_edge_build),
        ("pagerank", run_pagerank),
        ("connected_components",
         lambda: connected_components(spark, edges,
                                      num_partitions=shuffle).components.count()),
        ("label_propagation",
         lambda: label_propagation(spark, edges, max_iter=5,
                                   num_partitions=shuffle).labels.count()),
        ("triangle_count", run_triangles),
        ("minhash_dedup", run_minhash),
        ("cosine_topk", run_cosine_topk),
        ("ann_lsh", run_ann_lsh),
        ("embedding_near_dup_bucketed", run_near_dup),
        ("kmv_reach", lambda: kmv_reach(spark, edges, hops=2, k=8,
                                        num_partitions=shuffle).count()),
        ("scc", run_scc),
        ("betweenness", lambda: betweenness(
            spark, di_edges,
            sources=di_edges.select(F.col("src").alias("id")).where(
                F.col("id") % 997 == 0).distinct(),
            max_depth=3, num_partitions=shuffle).scores.count()),
    ]
    wanted = set(sys.argv[1:])
    if wanted:
        ops = [(n, f) for n, f in ops if n in wanted]

    times: dict[str, float] = {}
    for name, fn in ops:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        t0 = time.monotonic()
        fn()
        times[name] = round(time.monotonic() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        print(f"## {name}: {times[name]}s", flush=True)

    spark.stop()
    print(json.dumps({"times": times, "detail": detail}))


if __name__ == "__main__":
    main()
