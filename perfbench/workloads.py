"""The benchmark workloads.

Each workload has four parts:

- ``setup(ctx, d)``: generate the seeded inputs into directory ``d`` and
  compute the oracle answers (run several times; the last one is kept);
- ``reset(ctx)``: untimed, before every job, so each job starts from the
  same state;
- ``job(ctx, rec, warmup)``: the timed work. With a ``SpanRecorder`` it
  calls each layer's public functions separately, each inside a span, and
  forces each layer's output at its boundary; with a ``NullRecorder`` it
  runs the composition a user would call;
- ``check(ctx, out)``: untimed; compares the job's outputs with the oracles
  and returns ``(attempted, mismatched, raised)`` operation counts.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs, oracles
from perfbench.spans import SPARK_COUNTERS, SpanRecorder

PR_ATOL = 1e-6


@dataclass
class Ctx:
    seed: int
    cores: int
    work: str              # this run's scratch directory
    spark: object = None   # SparkSession, or None for workloads without Spark
    state: dict = field(default_factory=dict)  # inputs and oracle answers


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, round(q / 100 * len(v) + 0.5) - 1))] if v else 0.0


def spark_totals(rec: SpanRecorder) -> dict:
    return {f"spark.{k}": sum(s.get(k, 0) for s in rec.spans) for k in SPARK_COUNTERS}


def ranks_mismatch(ranks_df, expected: dict[int, float]) -> bool:
    got = {int(r["id"]): float(r["rank"]) for r in ranks_df.collect()}
    return got.keys() != expected.keys() or any(
        abs(got[v] - expected[v]) > PR_ATOL for v in expected)


def labels_mismatch(df, col: str, expected: dict[int, int]) -> bool:
    return {int(r["id"]): int(r[col]) for r in df.collect()} != expected


class Workload:
    name = ""
    uses_spark = True

    def setup(self, ctx: Ctx, d: str) -> None:
        raise NotImplementedError

    def reset(self, ctx: Ctx) -> None:
        if ctx.spark is not None:
            ctx.spark.catalog.clearCache()

    def job(self, ctx: Ctx, rec, warmup: bool = False) -> dict:
        """``warmup=True``: the same calls with iteration caps, run once,
        untimed and unchecked, before the timed jobs."""
        raise NotImplementedError

    def check(self, ctx: Ctx, out: dict) -> tuple[int, int, int]:
        raise NotImplementedError

    def throughput(self, outs: list[dict]) -> float:
        """Work items per second over the given jobs."""
        raise NotImplementedError

    def layer_metrics(self, ctx: Ctx, rec: SpanRecorder, outs: list[dict]) -> dict:
        """Per-layer metrics of the traced job ``outs`` and its spans."""
        raise NotImplementedError


# ---------------------------------------------------------------------------


def traced_ingest(ctx: Ctx, rec: SpanRecorder, pages_path: str):
    """build_linkgraph's layers one span at a time (same calls, same
    persists). Returns the (edges, vertices) DataFrames."""
    from pargraph_spark.operators.edges import (
        assert_no_id_collisions, build_edges, build_vertices, edge_urls)
    from pargraph_spark.operators.extract_links import extract_links
    from pargraph_spark.sources.pages import latest_pages, read_pages

    spark = ctx.spark
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with rec.span("sources.read_dedupe") as s:
        pages = read_pages(spark, pages_path)
        latest = latest_pages(pages).persist()
        s["pages_out"] = latest.count()
    s["pages_in"] = pages.count()
    with rec.span("extract_links") as s:
        extracted = extract_links(latest).persist()
        s["pages"] = extracted.count()
    with rec.span("edges.build") as s:
        edges = build_edges(extracted, num_partitions=P).persist()
        vertices = build_vertices(extracted).persist()
        s["distinct_edges"] = edges.count()
        s["vertices"] = vertices.count()
    s["raw_links"] = edge_urls(extracted).count()
    with rec.span("edges.collision_check"):
        assert_no_id_collisions(vertices)
    return edges, vertices


def ingest_layer_metrics(rec: SpanRecorder) -> dict:
    src = [s for s in rec.spans if s["name"] == "sources.read_dedupe"]
    ext = [s for s in rec.spans if s["name"] == "extract_links"]
    eb = [s for s in rec.spans if s["name"] == "edges.build"]
    raw = sum(s["raw_links"] for s in eb)
    distinct = sum(s["distinct_edges"] for s in eb)
    ext_s = rec.total("extract_links")
    return {
        "sources.read_dedupe_s": rec.total("sources.read_dedupe"),
        "sources.pages_in": sum(s["pages_in"] for s in src),
        "sources.pages_out": sum(s["pages_out"] for s in src),
        "extract_links.s": ext_s,
        "extract_links.pages_per_s": sum(s["pages"] for s in ext) / ext_s if ext_s else 0.0,
        "edges.build_s": rec.total("edges.build"),
        "edges.raw_links": raw,
        "edges.distinct_edges": distinct,
        "edges.dedup_ratio": distinct / raw if raw else 0.0,
        "edges.vertices": sum(s["vertices"] for s in eb),
        "edges.collision_check_s": rec.total("edges.collision_check"),
    }


def pagerank_layer_metrics(rec: SpanRecorder, pr_spans: list[dict]) -> dict:
    walls = [ms for s in pr_spans for ms in s["superstep_ms"]]
    steps = len(walls)
    return {
        "pagerank.s": rec.total("pagerank"),
        "pagerank.supersteps": steps,
        "pagerank.superstep_ms_p50": statistics.median(walls) if walls else 0.0,
        "pagerank.superstep_ms_p95": percentile(walls, 95),
        "pagerank.jobs_per_superstep": sum(s["jobs"] for s in pr_spans) / steps if steps else 0.0,
        "pagerank.shuffle_bytes_per_superstep":
            sum(s["shuffle_write_bytes"] for s in pr_spans) / steps if steps else 0.0,
        "pagerank.edges_per_s": edges_per_s(pr_spans),
    }


def edges_per_s(pr_results) -> float:
    """Edges of a superstep over the median superstep wall time, from the
    public PageRankResult.metrics (given as dicts with ``superstep_ms`` and
    ``superstep_edges``). The median keeps a slow first superstep or a
    stalled one from moving the figure."""
    ms = statistics.median(w for r in pr_results for w in r["superstep_ms"])
    return statistics.median(e for r in pr_results for e in r["superstep_edges"]) / (ms / 1000.0)


def pr_record(target: dict, pr) -> None:
    target["iterations"] = pr.iterations
    target["superstep_ms"] = [m.wall_ms for m in pr.metrics.supersteps]
    target["superstep_edges"] = [m.edges for m in pr.metrics.supersteps]


# ---------------------------------------------------------------------------


class RecrawlUpdate(Workload):
    """A base link graph sits in a bucketed edge store, with its converged
    ranks and components. A 5% recrawl delta is extracted and appended,
    then every analysis is refreshed on the union graph: warm-started
    PageRank with checkpoints, incremental CC, label propagation and
    triangles."""

    name = "recrawl-update"
    n_pages = 2400
    late_frac = 0.05
    # The crawl universe is fixed; the workload seed picks which pages
    # arrive late. Between synth seeds the union graph's fixpoints take
    # 8-20 LPA iterations and 13-16 PageRank supersteps, which would
    # dominate the run-to-run spread of job_s.
    universe_seed = 0
    table = "bench_edges"

    def setup(self, ctx, d):
        from pargraph_spark.sources.edgestore import write_bucketed_edges

        spark = ctx.spark
        n = self.n_pages
        late = set(random.Random(ctx.seed).sample(range(n), int(n * self.late_frac)))
        gb = inputs.extract_graph(inputs.page_rows(
            n, self.universe_seed, (i for i in range(n) if i not in late)))
        delta_rows = inputs.page_rows(n, self.universe_seed, sorted(late))
        gd = inputs.extract_graph(delta_rows)
        inputs.write_pages(delta_rows, os.path.join(d, "delta_pages"), ctx.cores)
        base_edges, base_vertices = gb.id_edges(), gb.id_vertices()
        inputs.write_edges(base_edges, os.path.join(d, "base_edges"), ctx.cores)
        base_pr = oracles.pagerank(base_edges, base_vertices)
        base_cc = oracles.components(base_edges, base_vertices)
        inputs.write_table({"id": list(base_pr), "rank": list(base_pr.values())},
                           os.path.join(d, "base_ranks"))
        inputs.write_table({"id": list(base_cc), "component": list(base_cc.values())},
                           os.path.join(d, "base_components"))
        inputs.write_table({"id": base_vertices}, os.path.join(d, "base_vertices"))
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        write_bucketed_edges(spark.read.parquet(os.path.join(d, "base_edges")),
                             f"golden_{os.path.basename(d)}", buckets,
                             path=os.path.join(d, "golden_store"))
        delta_edges = gd.id_edges()
        edges = sorted(set(base_edges) | set(delta_edges))
        vertices = sorted(set(base_vertices) | set(gd.id_vertices()))
        # incremental CC covers the old ids and the appended edges' endpoints
        cc_vertices = sorted(set(base_vertices) | {v for e in delta_edges for v in e})
        t0 = time.monotonic()
        pr = oracles.pagerank(edges, vertices)
        numpy_s = time.monotonic() - t0
        ctx.state.update(
            d=d, buckets=buckets, delta_pages=os.path.join(d, "delta_pages"),
            pr=pr, numpy_pagerank_s=numpy_s, cc=oracles.components(edges, cc_vertices),
            lpa=oracles.label_propagation(edges, vertices), tri=oracles.triangles(edges))

    def reset(self, ctx):
        super().reset(ctx)
        spark, st = ctx.spark, ctx.state
        store = os.path.join(ctx.work, "store")
        spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        shutil.rmtree(store, ignore_errors=True)
        shutil.copytree(os.path.join(st["d"], "golden_store"), store)
        spark.sql(f"CREATE TABLE {self.table} (src BIGINT, dst BIGINT) USING parquet "
                  f"CLUSTERED BY (src) SORTED BY (src, dst) INTO {st['buckets']} BUCKETS "
                  f"LOCATION '{store}'")
        shutil.rmtree(os.path.join(ctx.work, "ckpt"), ignore_errors=True)
        st["store_bytes"] = dir_bytes(store)

    # enough iterations to compile every plan and write one checkpoint
    warmup_caps = {"pagerank": {"max_iter": 6}, "components": {"max_rounds": 1},
                   "labelprop": {"max_iter": 2}}

    def job(self, ctx, rec, warmup=False):
        from pargraph_spark.operators.components import connected_components_incremental
        from pargraph_spark.operators.labelprop import label_propagation
        from pargraph_spark.operators.pagerank import pagerank
        from pargraph_spark.operators.triangles import triangle_count
        from pargraph_spark.plans.linkgraph import build_linkgraph
        from pargraph_spark.sources.edgestore import (
            append_bucketed_edges, read_bucketed_edges)

        spark, st = ctx.spark, ctx.state
        d = st["d"]
        ckpt = os.path.join(ctx.work, "ckpt")
        base_ranks = spark.read.parquet(os.path.join(d, "base_ranks"))
        base_cc = spark.read.parquet(os.path.join(d, "base_components"))
        base_ids = spark.read.parquet(os.path.join(d, "base_vertices"))
        out: dict = {"ckpt": ckpt}
        if not rec.traced:
            caps = self.warmup_caps if warmup else {}
            delta = build_linkgraph(spark, st["delta_pages"])
            d_edges, d_vertices = delta.edges, delta.vertices
            append_bucketed_edges(d_edges, self.table, st["buckets"])
            edges = read_bucketed_edges(spark, self.table, dedupe=True)
            ids = base_ids.unionByName(d_vertices.select("id")).distinct()
            pr = pagerank(spark, edges, ids, warm_start=base_ranks, checkpoint_dir=ckpt,
                          **caps.get("pagerank", {}))
            pr.ranks.count()
            cc = connected_components_incremental(spark, base_cc, d_edges,
                                                  **caps.get("components", {}))
            cc.components.count()
            lp = label_propagation(spark, edges, ids, **caps.get("labelprop", {}))
            lp.labels.count()
            tc = triangle_count(spark, edges)
        else:
            d_edges, d_vertices = traced_ingest(ctx, rec, st["delta_pages"])
            with rec.span("edgestore.append") as s:
                append_bucketed_edges(d_edges, self.table, st["buckets"])
            s["bytes_written"] = dir_bytes(os.path.join(ctx.work, "store")) - st["store_bytes"]
            with rec.span("edgestore.read_dedupe"):
                edges = read_bucketed_edges(spark, self.table, dedupe=True).persist()
                edges.count()
            ids = base_ids.unionByName(d_vertices.select("id")).distinct()
            with rec.span("pagerank") as s:
                pr = pagerank(spark, edges, ids, warm_start=base_ranks, checkpoint_dir=ckpt)
                pr.ranks.count()
            pr_record(s, pr)
            s["checkpoint_ms"] = checkpoint_save_ms(ckpt)
            with rec.span("components") as s:
                cc = connected_components_incremental(spark, base_cc, d_edges)
                cc.components.count()
            s["rounds"] = cc.rounds
            with rec.span("labelprop") as s:
                lp = label_propagation(spark, edges, ids)
                lp.labels.count()
            s["iterations"] = lp.iterations
            with rec.span("triangles") as s:
                tc = triangle_count(spark, edges)
            s["count"] = tc.total
        pr_record(out, pr)
        out.update(pr=pr, cc=cc, lp=lp, tc=tc)
        return out

    def throughput(self, outs):
        return edges_per_s(outs)

    def check(self, ctx, out):
        st = ctx.state
        bad = [ranks_mismatch(out["pr"].ranks, st["pr"]),
               labels_mismatch(out["cc"].components, "component", st["cc"]),
               labels_mismatch(out["lp"].labels, "label", st["lpa"]),
               out["tc"].total != st["tri"]]
        return len(bad), sum(bad), 0

    def layer_metrics(self, ctx, rec, outs):
        pr_spans = [s for s in rec.spans if s["name"] == "pagerank"]
        m = ingest_layer_metrics(rec)
        m.update(pagerank_layer_metrics(rec, pr_spans))
        ck_walls, other = [], []
        for s in pr_spans:
            saves = s["checkpoint_ms"]
            for step, ms in enumerate(s["superstep_ms"], start=1):
                if step in saves:
                    ck_walls.append(ms + saves[step])
                else:
                    other.append(ms)

        def per_job(name: str, key: str) -> float:
            return statistics.median(s[key] for s in rec.spans if s["name"] == name)

        m.update({
            "components.s": rec.total("components"),
            "components.rounds": per_job("components", "rounds"),
            "labelprop.s": rec.total("labelprop"),
            "labelprop.iterations": per_job("labelprop", "iterations"),
            "triangles.s": rec.total("triangles"),
            "triangles.count": per_job("triangles", "count"),
            "edgestore.append_s": rec.total("edgestore.append"),
            "edgestore.bytes_written": sum(s.get("bytes_written", 0) for s in rec.spans),
            "edgestore.read_dedupe_s": rec.total("edgestore.read_dedupe"),
            "checkpoint.bytes_written": dir_bytes(outs[-1]["ckpt"]),
            "checkpoint.manifests": sum(len(s["checkpoint_ms"]) for s in pr_spans),
            "checkpoint.superstep_extra_ms":
                statistics.median(ck_walls) - statistics.median(other)
                if ck_walls and other else 0.0,
            "baseline.numpy_pagerank_s": ctx.state["numpy_pagerank_s"],
        })
        return m


def checkpoint_save_ms(ckpt_root: str) -> dict[int, float]:
    """superstep -> wall ms of its checkpoint save, from the manifests."""
    import json

    d = os.path.join(ckpt_root, "pagerank")
    saves = {}
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else ():
        if name.startswith("manifest_") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                m = json.load(f)
            saves[int(m["superstep"])] = float(m["wallclock_ms"])
    return saves


# ---------------------------------------------------------------------------


class TaskgraphDask(Workload):
    """Dask dict graphs of trivial pure-Python tasks through graphapi.get;
    the scheduler is the whole cost, so no Spark session is started."""

    name = "taskgraph-dask"
    uses_spark = False
    dag_tasks, dag_width = 100_000, 1000
    tree_leaves = 4096
    chain_depth = 1000  # deeper than graphapi.get's recursive key walk can go

    def setup(self, ctx, d):
        rng = random.Random(ctx.seed)
        graphs = {
            "layered_dag": inputs.layered_dag(rng, self.dag_tasks, self.dag_width),
            "tree_reduce": inputs.tree_reduce(rng, self.tree_leaves),
            "chain": inputs.chain(rng, self.chain_depth),
        }
        expect = {name: oracles.evaluate(dsk, keys) for name, (dsk, keys) in graphs.items()}
        ctx.state.update(graphs=graphs, expect=expect)

    def job(self, ctx, rec, warmup=False):
        from pargraph_spark.graphapi import get

        out = {"items": 0, "get_s": {}, "results": {}, "errors": {}}
        for name, (dsk, keys) in ctx.state["graphs"].items():
            t0 = time.monotonic()
            with rec.span(f"graphapi.get.{name}"):
                try:
                    out["results"][name] = get(dsk, keys, max_workers=ctx.cores)
                except Exception as e:  # a failed operation is counted, not fatal
                    out["errors"][name] = f"{type(e).__name__}: {e}"[:200]
            out["get_s"][name] = time.monotonic() - t0
            if name not in out["errors"]:
                out["items"] += len(dsk)
        return out

    def throughput(self, outs):
        return (sum(o["items"] for o in outs)
                / sum(s for o in outs for s in o["get_s"].values()))

    def check(self, ctx, out):
        expect = ctx.state["expect"]
        mismatched = sum(out["results"][n] != expect[n] for n in out["results"])
        return len(expect), mismatched, len(out["errors"])

    def layer_metrics(self, ctx, rec, outs):
        m = {}
        for name in ctx.state["graphs"]:
            m[f"graphapi.get_s.{name}"] = statistics.median(o["get_s"][name] for o in outs)
        tasks = sum(o["items"] for o in outs)
        ok_s = sum(o["get_s"][n] for o in outs for n in o["results"])
        m["graphapi.task_overhead_us"] = ok_s / tasks * 1e6 if tasks else 0.0
        m["graphapi.tasks_per_s"] = self.throughput(outs)
        return m


WORKLOADS = {w.name: w for w in (RecrawlUpdate, TaskgraphDask)}
