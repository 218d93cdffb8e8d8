"""O6 — iterative PageRank with dangling-mass redistribution (SURVEY.md §2.3).

One physical plan: each superstep is the pure-Catalyst ranks ⋈ edges on
src, then groupBy(dst).sum — the distributed re-expression of the
reference's GraphBLAS semiring SpMV frontier kernel
(graphlib_graphblas.py:156-167). Whole-stage-codegen JVM end to end; the
persisted edge table is hash(src)-partitioned once, so only the V-scale
rank projection and the combined messages cross the network per
superstep, and partial (map-side) aggregation absorbs hub-dst skew in
the sum.

Semantics (shared with tests/oracles.py::pagerank_oracle):
    r_0(v)     = 1/N
    r_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} r_t(u)/outdeg(u) + dang_t/N )
    dang_t     = Σ_{outdeg(u)=0} r_t(u)
    stop when L∞(r_{t+1}-r_t) < tol   (scores allclose 1e-6 vs oracle)

Driver-side loop notes (the Spark analogue of the reference's scheduling
loop, engine.py:42-129, which Catalyst replaces per-superstep):
- localCheckpoint(eager) each superstep truncates lineage — without it plans
  deepen unboundedly (the analogue of pargraph's ref-count release,
  engine.py:63-76).
- exactly 2 jobs per superstep: materialize new ranks, then one combined
  aggregate producing (delta of this step, dangling mass for the next).
- checkpoint_every supersteps → parquet + manifest (plans/checkpoint.py);
  resume picks up from the newest committed manifest.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.session import no_aqe, size_based_partitions
from pargraph_spark.plans.debug import dump_plan
from pargraph_spark.plans.checkpoint import CheckpointManager
from pargraph_spark.plans.metrics import JobMetrics, SuperstepMetric


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id: long, rank: double)
    iterations: int
    converged: bool
    metrics: JobMetrics
    deltas: list[float] = field(default_factory=list)


def _vertex_base(
    edges: DataFrame, vertices: DataFrame | None, weighted: bool = False
) -> DataFrame:
    """(id, outdeg) for every vertex; outdeg=0 for dangling. Weighted
    graphs use total out-WEIGHT as outdeg (the message denominator)."""
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        vertices = vertices.select("id")
    agg = F.sum("w") if weighted else F.count("*")
    od = edges.groupBy(F.col("src").alias("id")).agg(agg.alias("outdeg"))
    return vertices.join(od, "id", "left").select(
        "id", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
    )


def load_latest_ranks(
    spark: SparkSession, checkpoint_dir: str, job: str = "pagerank"
) -> DataFrame | None:
    """(id, rank) from the newest committed checkpoint of a previous run,
    or None if none exists — the warm_start feed for incremental PageRank
    over edge-store appends (half-written checkpoints are invisible by the
    manifest commit protocol, so this never reads torn state)."""
    ckpt = CheckpointManager(checkpoint_dir, job)
    m = ckpt.latest()
    if m is None:
        return None
    return ckpt.load(spark, int(m["superstep"])).select("id", "rank")


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 100,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    check_every: int = 1,
    teleport: DataFrame | None = None,
    weight_col: str | None = None,
    warm_start: DataFrame | None = None,
) -> PageRankResult:
    """check_every: convergence-delta cadence. 1 (default) checks every
    superstep (2 Spark jobs/superstep); k>1 amortizes the delta aggregate
    (1 job/superstep otherwise) — iteration math is unchanged, only the
    stop check happens on multiples of k, so a run may overshoot the
    fixpoint by at most k-1 (deterministic for a given k).

    teleport: optional (id, w) seed distribution → PERSONALIZED PageRank:
        r_0(v)     = T(v)
        r_{t+1}(v) = (1-d)·T(v) + d·(Σ_{u→v} r_t(u)/outdeg(u) + dang_t·T(v))
    where T is `w` normalized over the vertices present (vertices absent
    from `teleport` get T=0 and accrue rank only via incoming links;
    dangling mass re-enters through T, the standard PPR formulation).
    teleport=None is classic PageRank (T = 1/N everywhere).

    weight_col: optional edge-weight column → WEIGHTED PageRank: a source
    splits its rank proportionally to edge weight, r(u)·w(u,v)/W(u) with
    W(u) = Σ_out w (duplicate (src,dst) rows combine by summing weights).

    warm_start: optional (id, rank) prior — e.g. the converged ranks of a
    previous run loaded via load_latest_ranks — for INCREMENTAL PageRank
    after an edge/vertex drop lands (append_bucketed_edges): r_0(v) =
    prior rank if present, else _tw for vertices new to the graph. The
    fixpoint is unique and the iteration renormalizes total mass
    geometrically (Σr_{t+1} = (1-d) + d·Σr_t), so a warm run converges to
    the SAME ranks as a cold run on the union graph — just in fewer
    supersteps when the drop is small relative to the graph. Ignored when
    `resume` finds a committed checkpoint of THIS run (mid-run state beats
    a cross-run prior)."""
    P = num_partitions or spark.conf.get("spark.sql.shuffle.partitions")
    # scale-adaptive: treat the caller's count as a cap and size the
    # edge/state partitioning from the input's estimated bytes (guide
    # §2.2 — fewer, larger partitions; the loops below run under no_aqe,
    # so AQE cannot coalesce for us)
    P = size_based_partitions(edges, int(P))

    # setup in ONE E-scale exchange (r6, the scc idiom): repartition on
    # the probe key first — hash(src) co-locates every (src, dst) pair,
    # so the dedup/weight-combine aggregation runs in place instead of
    # adding its own exchange before the repartition. Materialized under
    # no_aqe: the cached plan's reported partitioning must be the static
    # hash(src, P) — an AQE-wrapped aggregate-on-top plan reports Unknown
    # and every superstep would re-exchange the E-scale cache.
    edges = edges.where(F.col("src") != F.col("dst"))
    if weight_col is None:
        edges = edges.repartition(P, "src").dropDuplicates(["src", "dst"])
    else:
        edges = (
            edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
            .repartition(P, "src")
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    edges = edges.persist()
    with no_aqe(spark, P):
        n_edges = edges.count()

        base = _vertex_base(
            edges, vertices, weighted=weight_col is not None
        ).repartition(P, "id").persist()
        n = base.count()

    def _with_teleport(df: DataFrame) -> DataFrame:
        """Attach the teleport weight column _tw (pure function of the
        teleport arg — identical on fresh runs and resumes). With
        teleport=None the weight is the CONSTANT 1/N — carried as the
        `tw` literal expression instead of a materialized column, so the
        classic-PageRank iteration state is one double narrower through
        every exchange and checkpoint (guide §2.3, narrower shuffle rows;
        r6). The produced ranks are bit-identical: the same 1/N double
        participates in the same expressions."""
        if teleport is None:
            return df
        t = teleport.select(F.col("id"), F.col("w").cast("double").alias("_w"))
        # Normalize over teleport ids PRESENT IN THE GRAPH only: weights on
        # unknown ids would otherwise shrink ΣT below 1 and leak rank mass
        # every iteration (ADVICE r2). `base` holds the full vertex set.
        t = t.join(base.select("id"), "id", "left_semi")
        total = float(t.agg(F.sum("_w")).first()[0] or 0.0)
        if total <= 0:
            raise ValueError("teleport weights must sum to a positive value")
        return (
            df.join(F.broadcast(t), "id", "left")
            .withColumn("_tw", F.coalesce(F.col("_w") / F.lit(total), F.lit(0.0)))
            .drop("_w")
        )

    if n == 0:
        edges.unpersist()
        base.unpersist()
        empty = spark.createDataFrame([], "id long, rank double")
        return PageRankResult(empty, 0, True, JobMetrics("pagerank"))

    # teleport weight as an expression: a literal for classic PageRank
    # (state stays narrow), the materialized _tw column for personalized
    tw = F.lit(1.0 / n) if teleport is None else F.col("_tw")
    state_cols = ["id", "outdeg"] + (["_tw"] if teleport is not None else [])

    ckpt = CheckpointManager(checkpoint_dir, "pagerank") if checkpoint_dir else None
    start_iter = 0
    ranks = None
    if ckpt and resume:
        m = ckpt.latest()
        if m is not None:
            ranks = ckpt.load(spark, m["superstep"]).repartition(P, "id")
            start_iter = int(m["superstep"])
    if ranks is None:
        init = _with_teleport(base)
        if warm_start is not None:
            # prior ranks where known; teleport init for new vertices — then
            # RENORMALIZE to total mass exactly 1: injected/lost mass would
            # otherwise decay only at d^t per superstep (the slowest mode of
            # the iteration, Σr_{t+1} = (1-d) + d·Σr_t), which can be far
            # slower than the graph's own mixing and defeat the warm start.
            ws = warm_start.select("id", F.col("rank").cast("double").alias("_ws"))
            init = (
                init.join(ws, "id", "left")
                .withColumn("_r0", F.coalesce(F.col("_ws"), tw))
                .drop("_ws")
            )
            tot = init.agg(F.sum("_r0").alias("_tot"))
            init = (
                init.crossJoin(F.broadcast(tot))
                .withColumn("rank", F.col("_r0") / F.col("_tot"))
                .drop("_r0", "_tot")
            )
        else:
            init = init.withColumn("rank", tw)
        ranks = init.withColumn("_prev", F.lit(float("nan")))
    if teleport is not None and "_tw" not in ranks.columns:
        # resumed from a pre-teleport checkpoint
        ranks = _with_teleport(ranks)
    if "_prev" not in ranks.columns:
        ranks = ranks.withColumn("_prev", F.lit(float("nan")))
    # a resumed/old checkpoint may carry extra columns (e.g. _tw on a
    # classic run) — normalize to the declared state schema
    ranks = ranks.select(*state_cols, "rank", "_prev")
    # r6: the whole iteration runs with AQE disabled (see session.no_aqe)
    # so every per-superstep localCheckpoint RECORDS its hash(id, P)
    # partitioning — the next superstep's joins then probe the state in
    # place and the measured plan drops from 3 Exchanges per superstep
    # (ranks re-exchanged twice, V-scale each) to 1 (the message
    # aggregation — the only shuffle PageRank fundamentally needs,
    # guide §2.4).

    metrics = JobMetrics("pagerank")
    deltas: list[float] = []
    converged = False
    it = start_iter

    def _delta_dang(df: DataFrame) -> tuple[float, float]:
        """ONE V-scan producing (L∞ delta of this superstep, dangling mass
        for the next) — the combined aggregate the module docstring
        promises. r6: the dangling mass used to enter each superstep as a
        broadcast 1-row subquery (its own job + broadcast exchange) and
        the delta as a second scan job; fusing them halves the per-
        superstep scan jobs. The scalar crosses the driver (the
        documented scalar-aggregate exception) and re-enters the next
        plan as a literal — the identical IEEE-64 value the broadcast
        column carried, so ranks are bit-identical."""
        row = df.agg(
            F.max(F.abs(F.col("rank") - F.col("_prev"))).alias("_delta"),
            F.coalesce(
                F.sum(F.when(F.col("outdeg") == 0, F.col("rank"))), F.lit(0.0)
            ).alias("_dang"),
        ).first()
        d = row["_delta"]
        return (float("nan") if d is None else float(d)), float(row["_dang"])

    with no_aqe(spark, P):
        # initial state materialization under no-AQE records hash(id, P);
        # lazy checkpoint (r6): the _delta_dang full scan right below
        # materializes the blocks in the same job
        ranks = ranks.repartition(P, "id").localCheckpoint(eager=False)

        _, dang = _delta_dang(ranks)

        while it < max_iter:
            it += 1
            t0 = time.monotonic()
            contrib = (
                F.col("_rw") * edges["w"] if weight_col is not None else F.col("_rw")
            )
            # shuffle_hash: the build side is the V-scale rank projection
            # (V/P rows per task — bounded like any hash-agg state); SMJ
            # would re-SORT the persisted E-scale edge table every
            # superstep (guide §3.1: pick the strategy deliberately)
            msgs = (
                edges.join(
                    ranks.where(F.col("outdeg") > 0).select(
                        F.col("id"), (F.col("rank") / F.col("outdeg")).alias("_rw")
                    ).hint("shuffle_hash"),
                    edges["src"] == F.col("id"),
                )
                .groupBy("dst")
                .agg(F.sum(contrib).alias("msg"))
            )
            new_ranks = (
                ranks.join(msgs.hint("shuffle_hash"),
                           ranks["id"] == msgs["dst"], "left")
                .select(
                    *[ranks[c] for c in state_cols],
                    (
                        F.lit(1.0 - damping) * tw
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("msg"), F.lit(0.0))
                            + F.lit(dang) * tw
                        )
                    ).alias("rank"),
                    ranks["rank"].alias("_prev"),
                )
            )
            dump_plan(new_ranks, "pagerank_superstep")
            # lazy checkpoint (r6): the combined delta/dangling aggregate
            # below is a full V-scan — it materializes the checkpoint
            # blocks in the SAME job, so a superstep is ONE job, not two
            # (partitioning recorded at the localCheckpoint call as
            # before; the persist-chain variant of one-job supersteps was
            # tried and reverted — lazy checkpoints keep lineage flat).
            # The superseded state is released only AFTER the aggregate
            # runs (its blocks feed the materialization), and wall_ms now
            # covers the whole fused job so edges/s stays honest.
            new_ranks = new_ranks.localCheckpoint(eager=False)
            old = ranks
            ranks = new_ranks

            step_delta, dang = _delta_dang(ranks)
            old.unpersist()
            wall_ms = (time.monotonic() - t0) * 1000.0
            delta = float("nan")
            if it % check_every == 0 or it >= max_iter:
                delta = step_delta
                deltas.append(delta)
            metrics.add(SuperstepMetric(it, wall_ms, n_edges, delta))
            if ckpt and (it % checkpoint_every == 0):
                # unmeasured deltas (check_every > 1) are NaN — json.dump would
                # emit non-standard `NaN` that strict parsers reject (ADVICE r2)
                ckpt.save(ranks, it, {"delta": None if delta != delta else delta,
                                      "damping": damping,
                                      "n_vertices": n, "n_edges": n_edges})
            if delta == delta and delta < tol:  # NaN-safe
                converged = True
                break

    # Skip the converged save when this superstep was already committed by
    # the periodic save above (attempt-versioned saves are safe either way,
    # but rewriting identical state is wasted I/O).
    if ckpt and converged and (it % checkpoint_every != 0):
        ckpt.save(ranks, it, {"delta": deltas[-1] if deltas else 0.0,
                              "damping": damping, "n_vertices": n, "n_edges": n_edges,
                              "converged": True})
    result = ranks.select("id", "rank")
    # ranks is localCheckpoint-materialized (independent of these lineages):
    # release the iteration working set — the analogue of the reference's
    # ref-count release of dead intermediates (engine.py:63-76).
    edges.unpersist()
    base.unpersist()
    return PageRankResult(result, it, converged, metrics, deltas)
